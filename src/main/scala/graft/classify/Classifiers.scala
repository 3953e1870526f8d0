package graft.classify

import graft.core.Block

/** The binarization family transplanted to block classification
  * (SURVEY.md §2.3): each algorithm turns local window statistics of the
  * block sequence into a content/boilerplate decision, exactly as the
  * reference turns local pixel statistics into fg/bg.
  *
  * Signal: x_i = non-link chars of block i (nChars - nLinkChars) — the
  * "intensity" axis. Content blocks are bright (hundreds of chars),
  * boilerplate is dark (near zero: nav/footer text is link text).
  *
  * Shared ensemble masks (in-family: binarizeByLocalVariances ANDs several
  * independent masks, binarizeByLocalVariances.cpp:136-139):
  *  - threshold mask: x_i > max(t_i, absMin)  — absMin is the absolute floor
  *    analogue of that algorithm's `minVariance` (binarizeByLocalVariances.h:8-12)
  *  - link mask: linkDensity_i <= maxLinkDensity — blocks that are mostly
  *    anchor text are never content
  *
  * Shared post-pass: morphological label smoothing (the dilate/erode
  * post-pass of binarizeSauvola.cpp:125-134) — see [[Smoothing]].
  */
object Classifiers {

  /** Config ADT; `kind` selects the threshold rule (one pipeline, many
    * interchangeable strategies — the reference's design).
    */
  final case class Config(
      kind: String = "sauvola",
      window: Int = 63,
      k: Double = 0.2,
      r: Double = 128.0, // Sauvola dynamic range (binarizeSauvola.cpp:61)
      c: Double = 10.0, // MEAN_C offset (binarizeAT/PureAdaptive families)
      absMin: Double = 64.0, // min non-link chars for content (floor mask)
      maxLinkDensity: Double = 0.66,
      morphIters: Int = 2,
      smoothing: String = "median", // "median" | "openclose"
      maskedStats: Boolean = true, // backgroundNormalization transplant
      // CLAHE pre-stage (EnhanceLocalContrastByCLAHE, imageLibCommon.cpp:
      // 327-395): opt-in tile-wise clipped equalization of the signal so a
      // long document's late dim-but-consistent content is not drowned by
      // bright content elsewhere; see claheEqualize for the transplant notes.
      clahe: Boolean = false
  )

  val Default: Config = Config()

  private val Sigma = 10.0 // gaussian window sigma (gaussadaptive, agt)
  // Feng's exponent (binarizeFeng.h:48-53), also the gamma branch of
  // variances (binarizeByLocalVariances.cpp:119)
  private val Gamma = 2.0
  private val StrongLevel = 200.0 // confidence band: see classify()
  private val ClaheClip = 40.0 // cv::createCLAHE's default clip limit
  private val ClaheTile = 32 // blocks per CLAHE tile

  /** Reference-faithful per-kind defaults where the reference's own default
    * differs in SIGN or STRUCTURE from the family-wide Config default (the
    * generic k = 0.2 is this domain's positive-k magnitude; the reference
    * family uses |k| = 0.01 at 8-bit pixel scale). Only NICK differs today:
    * its reference default is NEGATIVE (binarizeNICK.h:46, -0.01) — the
    * signature that keeps the threshold slightly below the mean, scaled to
    * this domain's k magnitude as -0.1 (the nickdim ground-truth corpus
    * pins the behavior). Every other kind's reference default has the same
    * sign/shape as the generic Config.
    */
  def kindConfig(kind: String): Config = kind match {
    case "nick" => Config(kind = "nick", k = -0.1)
    case k => Config(kind = k)
  }

  /** Signal extraction: per-block intensity, SATURATED at 255 — the block
    * sequence is mapped into the reference's own 8-bit intensity domain
    * (CV_8UC1, formatConvert.cpp 8bpp paths; ScaleToRange
    * imageLibCommon.cpp:782-820). Saturation is what makes Sauvola's R=128
    * dynamic-range anchor meaningful here: content blocks (hundreds of
    * non-link chars) all sit at 255 like paper-white, boilerplate sits near
    * 0 like ink, and uniform-content windows behave exactly like
    * uniform-background image windows (t = m(1-k) < m ⇒ all kept).
    */
  def signal(blocks: Array[Block]): Array[Double] = {
    val x = new Array[Double](blocks.length)
    var i = 0
    while (i < blocks.length) {
      x(i) = math.min(255.0, (blocks(i).nChars - blocks(i).nLinkChars).toDouble)
      i += 1
    }
    x
  }

  def linkDensity(b: Block): Double =
    if (b.nChars == 0) 0.0 else b.nLinkChars.toDouble / b.nChars

  /** Per-block threshold t_i under the selected rule. `paths` (block
    * tagPaths) is required by the region-based kinds (fbcitb, cococlust);
    * scalar kinds ignore it.
    */
  def thresholds(x: Array[Double], cfg: Config, paths: Array[String] = null): Array[Double] = {
    val n = x.length
    val t = new Array[Double](n)
    if (n == 0) return t
    val ws = new WindowStats(x)
    // background-masked local stats (backgroundNormalization.cpp:36-61):
    // zero-signal blocks are known background and excluded from window stats
    def m_(i: Int, w: Int): Double =
      if (cfg.maskedStats) ws.maskedMean(i, w) else ws.mean(i, w)
    def s_(i: Int, w: Int): Double =
      if (cfg.maskedStats) ws.maskedStd(i, w) else ws.std(i, w)
    // auto window: binarizeNativeAdaptive derives blockSize from image
    // diagonal (binarizeNativeAdaptive.cpp:89-96: diag/333 + 7 forced odd);
    // we derive from block count: w = n/8*2+7 capped to cfg.window.
    val w =
      if (cfg.kind == "nativeadaptive") math.min(cfg.window, (n / 8) * 2 + 7)
      else cfg.window
    cfg.kind match {
      case "sauvola" | "nativeadaptive" =>
        // t = m * (1 + k*(s/R - 1))   (binarizeSauvola.cpp:115-118, R=128 :61)
        var i = 0
        while (i < n) {
          val m = m_(i, w); val s = s_(i, w)
          t(i) = m * (1.0 + cfg.k * (s / cfg.r - 1.0))
          i += 1
        }
      case "niblack" =>
        // t = m + k*s   (binarizeNiblack.cpp:107-112)
        var i = 0
        while (i < n) { t(i) = m_(i, w) + cfg.k * s_(i, w); i += 1 }
      case "nick" =>
        // t = m + k*sqrt(m^2 + s^2)   (binarizeNICK.cpp:114-131)
        var i = 0
        while (i < n) {
          val m = m_(i, w); val s = s_(i, w)
          t(i) = m + cfg.k * math.sqrt(m * m + s * s)
          i += 1
        }
      case "wolfjolion" =>
        // t = m + k*(s/sMax - 1)*(m - min)  with row-global sMax, min
        // (binarizeWolfJolion.cpp:114-130). sMax comes from the SAME
        // (masked) std map as s — see WindowStats.maskedGlobalMaxStd.
        val sMax = math.max(
          if (cfg.maskedStats) ws.maskedGlobalMaxStd(w) else ws.globalMaxStd(w), 1e-9)
        val mn = ws.globalMin
        var i = 0
        while (i < n) {
          val m = m_(i, w); val s = s_(i, w)
          t(i) = m + cfg.k * (s / sMax - 1.0) * (m - mn)
          i += 1
        }
      case "feng" =>
        // t = (1-a1)*m + a2*(s/Rs)*(m-min) + a3*min;
        // a2 = k1*(s/Rs)^gamma, a3 = k2*(s/Rs)^gamma; Rs = window-local max std
        // (binarizeFeng.cpp:110-142; Rs from the secondary larger window is
        // simplified to the row-global max std — masked like s itself)
        val rs = math.max(
          if (cfg.maskedStats) ws.maskedGlobalMaxStd(w) else ws.globalMaxStd(w), 1e-9)
        val mn = ws.globalMin
        val alpha1 = 0.75; val k1 = 0.2; val k2 = 0.03 // binarizeFeng.h:48-53
        var i = 0
        while (i < n) {
          val m = m_(i, w); val s = s_(i, w)
          val sr = s / rs
          val a2 = k1 * math.pow(sr, Gamma)
          val a3 = k2 * math.pow(sr, Gamma)
          t(i) = (1.0 - alpha1) * m + a2 * sr * (m - mn) + a3 * mn
          i += 1
        }
      case "meanadaptive" =>
        // adaptiveThreshold MEAN_C: t = windowMean - C
        // (binarizePureAdaptive.cpp:33-62)
        var i = 0
        while (i < n) { t(i) = m_(i, w) - cfg.c; i += 1 }
      case "gaussadaptive" =>
        // GAUSSIAN_C (binarizePureAdaptiveGaussian.cpp:32-75)
        var i = 0
        while (i < n) { t(i) = ws.gaussMean(i, w, Sigma) - cfg.c; i += 1 }
      case "agt" =>
        // binarizeAGT (binarizeAGT.cpp:33-60): median-smooth the signal,
        // then GAUSSIAN_C threshold
        val sm = new Array[Double](n)
        var i = 0
        while (i < n) { sm(i) = ws.median(i, 5); i += 1 }
        val ws2 = new WindowStats(sm)
        i = 0
        while (i < n) { t(i) = ws2.gaussMean(i, w, Sigma) - cfg.c; i += 1 }
      case "variances" =>
        // binarizeByLocalVariances (binarizeByLocalVariances.cpp:13-141):
        // ensemble of masks ANDed — mask1: local variance > minVar (:53-57);
        // mask2: x > coeff*(max-min)/2 with row-global range (:85-96);
        // mask3 (:101-132, the noise model — r2 VERDICT item 4), transplanted
        // to the domain's intensity axis: gamma branch G = normalize
        // log-intensity to [0,1] (:110-116), pow gamma (:119),
        // convertScaleAbs ×255 (:121), MEAN_C window 15 offset 0 → {0,127}
        // (:123-125; ≥ instead of > so a SATURATED plateau — which has no
        // image analogue, glyph strokes are thinner than the window — is not
        // erased by its own uniformity); noise branch N = 127·exp(−(lg −
        // noiseMean)²/2) (:128-134), the gaussian noise model with the
        // noise population made EXPLICIT: the reference centers the model on
        // the global mean because background dominates the pixel count —
        // block sequences are often content-majority, so the mean is taken
        // over the known-background TEXTURE mass (0 < x ≤ absMin) instead,
        // same model without the population assumption. Zero-signal blocks
        // are excluded: they are pure link chrome, not texture (and the
        // reference's own cv::log leaves v=0 as a sentinel, :104). mask3 = G − N >
        // minResultVariance (:137): locally bright in gamma-log scale AND
        // not explainable by the page's own background process — a block
        // that "looks like this page's chrome" is dropped even when it
        // clears the global level. Encoded as a threshold: +inf where
        // mask1 or mask3 fails.
        val minVar = 25.0 // h:8-12 default (minResultVariance slot of mask1)
        val minResultVariance = 25.0 // h:8-10 default
        val coeff = 0.125
        val gmax = ws.globalMax; val gmin = ws.globalMin
        val level = coeff * (gmax - gmin) / 2.0 + gmin
        val lg = new Array[Double](n)
        var i = 0
        while (i < n) { lg(i) = math.log1p(x(i)); i += 1 }
        var mnL = lg(0); var mxL = lg(0)
        var noiseSum = 0.0; var noiseCnt = 0
        i = 0
        while (i < n) {
          if (lg(i) < mnL) mnL = lg(i); if (lg(i) > mxL) mxL = lg(i)
          if (x(i) > 0 && x(i) <= cfg.absMin) { noiseSum += lg(i); noiseCnt += 1 }
          i += 1
        }
        // no background mass at all → no noise evidence → N ≡ 0
        val noiseMean = if (noiseCnt == 0) Double.NegativeInfinity else noiseSum / noiseCnt
        val gma = new Array[Double](n)
        i = 0
        while (i < n) {
          val u = if (mxL - mnL < 1e-12) 0.0 else (lg(i) - mnL) / (mxL - mnL)
          gma(i) = math.min(255.0, math.round(math.pow(u, Gamma) * 255.0).toDouble)
          i += 1
        }
        val wsG = new WindowStats(gma)
        i = 0
        while (i < n) {
          val bigG = if (gma(i) >= wsG.mean(i, 15)) 127.0 else 0.0
          val noise =
            if (noiseCnt == 0) 0.0
            else {
              val d = lg(i) - noiseMean
              math.min(255.0, math.round(math.exp(-d * d * 0.5) * 127.0).toDouble)
            }
          val mask3 = bigG - noise > minResultVariance
          val s = s_(i, w)
          t(i) = if (s * s > minVar && mask3) level else Double.MaxValue
          i += 1
        }
      case "kuwahara" =>
        // FULL 1-D anisotropic Kuwahara (kuwaharaFilter.cpp:34-125,174-234
        // via graft.classify.Kuwahara, r4): coherence-shrunk multi-scale
        // radially-weighted sectors, min-variance sector's weighted mean,
        // then MEAN_C threshold on the edge-preserving smooth. Robust where
        // the two-sector pick is not: a bright outlier inside the uniform
        // side no longer forces the contaminated far statistics on the
        // whole side (KuwaharaAnisoSpec pins the discriminating fixture).
        val sm = Kuwahara.filter(x, w / 2, cfg.maskedStats)
        var i = 0
        while (i < n) { t(i) = sm(i) - cfg.c; i += 1 }
      case "kuwahara2" =>
        // legacy two-sector pick (kuwaharaFilter.cpp:138-172's isotropic
        // sectoring reduced to left/right halves) — kept as the r3 baseline
        // the anisotropic version is measured against
        val half = w / 2
        val sm = new Array[Double](n)
        var i = 0
        while (i < n) {
          val lm = ws.rangeMean(i - half, i); val ls = ws.rangeStd(i - half, i)
          val rm = ws.rangeMean(i, i + half); val rs2 = ws.rangeStd(i, i + half)
          sm(i) = if (ls <= rs2) lm else rm
          i += 1
        }
        i = 0
        while (i < n) { t(i) = sm(i) - cfg.c; i += 1 }
      case "medianmean" =>
        // binarizeAT: median-smooth the signal, then MEAN_C threshold
        // (binarizeAT.cpp:33-68)
        val sm = new Array[Double](n)
        var i = 0
        while (i < n) { sm(i) = ws.median(i, 5); i += 1 }
        val ws2 = new WindowStats(sm)
        i = 0
        while (i < n) { t(i) = ws2.mean(i, w) - cfg.c; i += 1 }
      case "mokji" =>
        // global threshold from the (neighborhood-max, value) co-occurrence
        // histogram (binarizeMokji.cpp:55-93): weighted mean of values on
        // "edges" (pairs whose magnitude |max - x| >= minEdgeMagnitude).
        val minEdgeMag = 20.0
        var num = 0.0; var den = 0.0
        var i = 0
        while (i < n) {
          val l = math.max(0, i - 1); val h = math.min(n - 1, i + 1)
          var mx = x(l); var j = l + 1
          while (j <= h) { if (x(j) > mx) mx = x(j); j += 1 }
          val mag = mx - x(i)
          if (mag >= minEdgeMag) { num += mx + x(i); den += 2.0 }
          i += 1
        }
        // fallback mirrors binarizeMokji.cpp:87-90 (mid of range)
        val thr = if (den > 0) num / den else (ws.globalMin + ws.globalMax) / 2.0
        i = 0
        while (i < n) { t(i) = thr; i += 1 }
      case "otsu" =>
        // per-row global Otsu over the signal histogram (plain THRESH_OTSU as
        // used inside CannyEdgeDetection's threshold derivation; the
        // document-scope variant of the per-region "localotsu" below;
        // histogram-mode machinery ≈ GetHistExtremums imageLibCommon.cpp:140-214)
        // uniform signal: OpenCV's THRESH_OTSU marks a constant patch all
        // one (foreground) class; Otsu.threshold returns min, which would
        // drop everything — mirror OpenCV (the ensemble masks still decide)
        val thr =
          if (ws.globalMax - ws.globalMin < 1e-9) ws.globalMin - 1.0
          else Otsu.threshold(x, bins = 64)
        var i = 0
        while (i < n) { t(i) = thr; i += 1 }
      case "localotsu" =>
        // binarizeLocalOtsu (binarizeLocalOtsu.cpp:100-161): contours from
        // Canny edges, per-contour-bbox THRESH_OTSU stitched into the output.
        // 1-D: signal-edge regions (Regions.edgeRegions = the Canny →
        // findContours path :86-112), per-region Otsu threshold. A region
        // with no internal contrast takes the document-scope Otsu threshold —
        // in the reference such uniform background never lies inside a
        // contour bbox and stays at the global default, while a uniform
        // content region binarizes to foreground (cv::threshold(THRESH_OTSU)
        // on a constant patch marks it all one class, :154-159); the
        // document-scope threshold reproduces both outcomes.
        val docThr =
          if (ws.globalMax - ws.globalMin < 1e-9) ws.globalMin - 1.0
          else Otsu.threshold(x, bins = 64)
        Regions.edgeRegions(x).foreach { r =>
          var mn = x(r.lo); var mx = x(r.lo)
          var j = r.lo + 1
          while (j <= r.hi) { if (x(j) < mn) mn = x(j); if (x(j) > mx) mx = x(j); j += 1 }
          val thr =
            if (mx - mn < 1e-9) docThr
            else Otsu.threshold(java.util.Arrays.copyOfRange(x, r.lo, r.hi + 1), bins = 64)
          j = r.lo
          while (j <= r.hi) { t(j) = thr; j += 1 }
        }
      case "fbcitb" =>
        // binarizeFBCITB (binarizeFBCITB.cpp:73-404): contour regions with
        // per-region fg/bg stats and a polarity decision. Regions come from
        // the DOM tree (tagPathRegions = RETR_TREE + RemoveChildrenContours
        // + the bounding-rect max-area filter, :196-252). Per region:
        // F = mean signal of the region's own blocks (the contour-point mean
        // F_EB, :269-277); B = median of the just-outside neighbor signals
        // (the bbox-corner medians B_EB, :279-356). F > B ⇒ the region is
        // foreground-polarity: its blocks threshold at the F/B midpoint.
        // F <= B ⇒ the region is background relative to its surroundings and
        // contributes no content (the reference binarizes such regions toward
        // background, :371-381; in the text domain content is always the
        // high-signal side, so the inverse ink polarity has no analogue —
        // documented divergence). The midpoint replaces the reference's
        // threshold-at-F (:375-379): F is a mean over a region that includes
        // sub-threshold blocks, so thresholding AT F would drop half of a
        // uniform content region; (F+B)/2 separates region from surroundings
        // exactly as the per-channel comparison does for ink vs paper.
        if (paths == null)
          throw new IllegalArgumentException("fbcitb needs block tagPaths")
        var k = 0
        while (k < n) { t(k) = Double.MaxValue; k += 1 } // default background
        Regions.tagPathRegions(paths).foreach { r =>
          var sum = 0.0
          var j = r.lo
          while (j <= r.hi) { sum += x(j); j += 1 }
          val f = sum / r.size
          // fallback 0: a region with no outside (whole-doc) compares to the
          // domain's true background level — zero signal, the scanner-bed
          // analogue — not to its own minimum
          val b = Regions.outsideMedian(x, r.lo, r.hi, reach = 3, fallback = 0.0)
          if (f > b) {
            val thr = (f + b) / 2.0
            j = r.lo
            while (j <= r.hi) { t(j) = thr; j += 1 }
          }
        }
      case "cococlust" =>
        // binarizeCOCOCLUST (binarizeCOCOCLUST.cpp:41-447): contours from
        // Canny edges; per contour FG = mean intensity along the contour
        // (:359-375), BG = median of samples along the outward normals
        // (nVectorLength = 5, :262-401); polarity from FG vs BG (:414-437);
        // binarize inside the bbox. 1-D: edge-bounded regions, inside mean
        // vs outside median (reach 5 = the normal-vector length), keep the
        // bright side at the FG/BG midpoint for foreground-polarity regions
        // (midpoint for the same reason as fbcitb above).
        var k2 = 0
        while (k2 < n) { t(k2) = Double.MaxValue; k2 += 1 }
        Regions.edgeRegions(x).foreach { r =>
          var sum = 0.0
          var j = r.lo
          while (j <= r.hi) { sum += x(j); j += 1 }
          val fg = sum / r.size
          val bg = Regions.outsideMedian(x, r.lo, r.hi, reach = 5, fallback = 0.0)
          if (fg > bg) {
            val thr = (fg + bg) / 2.0
            j = r.lo
            while (j <= r.hi) { t(j) = thr; j += 1 }
          }
        }
      case other =>
        throw new IllegalArgumentException(s"unknown classifier kind: $other")
    }
    t
  }

  /** 1-D CLAHE over the block-signal axis (EnhanceLocalContrastByCLAHE_1,
    * imageLibCommon.cpp:327-345: createCLAHE + setClipLimit + apply) — the
    * tile grid becomes chunks of `tile` consecutive blocks, the clip limit
    * keeps its cv semantics (cl = clip·m/nBins), and each block's mapped
    * value linearly interpolates the LUTs of the two nearest tile centers
    * (the bilinear step, collapsed to 1-D).
    *
    * Domain divergences, both deliberate:
    *  - zero-signal blocks (pure link chrome) stay at zero and are excluded
    *    from tile histograms — the maskedStats rule; an image has no
    *    semantic zero, a block sequence does.
    *  - nBins = 32, not 256, and tiles with < 4 nonzero blocks map
    *    identically: tile populations here are tens of blocks, not
    *    thousands of pixels — 256 mostly-empty bins would let the uniform
    *    redistribution term dominate every LUT, and equalizing a 2-3-block
    *    population amplifies crumbs into content.
    * Clip excess is redistributed uniformly as a real-valued baseline
    * (hist' = min(hist,cl) + E/nBins), so a heavy clip degrades toward the
    * identity ramp rather than toward a flattening — the contract CLAHE's
    * clip exists for (limit contrast amplification).
    */
  def claheEqualize(x: Array[Double], tile: Int = ClaheTile, clip: Double = ClaheClip): Array[Double] = {
    val n = x.length
    if (n == 0) return x
    val T = math.max(4, tile)
    val nBins = 32
    val binW = 256.0 / nBins
    val nTiles = (n + T - 1) / T
    val luts = new Array[Array[Double]](nTiles) // null = identity tile
    var t = 0
    while (t < nTiles) {
      val lo = t * T
      val hi = math.min(n, lo + T)
      val hist = new Array[Double](nBins)
      var m = 0
      var i = lo
      while (i < hi) {
        if (x(i) > 0) {
          var b = (math.min(255.0, x(i)) / binW).toInt
          if (b >= nBins) b = nBins - 1
          hist(b) += 1
          m += 1
        }
        i += 1
      }
      if (m >= 4) {
        val cl = math.max(1.0, clip * m / nBins)
        var excess = 0.0
        var b = 0
        while (b < nBins) {
          if (hist(b) > cl) { excess += hist(b) - cl; hist(b) = cl }
          b += 1
        }
        val add = excess / nBins
        val lut = new Array[Double](nBins)
        var cum = 0.0
        b = 0
        while (b < nBins) { cum += hist(b) + add; lut(b) = cum * 255.0 / m; b += 1 }
        luts(t) = lut
      }
      t += 1
    }
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x(i) <= 0) out(i) = 0.0
      else {
        var b = (math.min(255.0, x(i)) / binW).toInt
        if (b >= nBins) b = nBins - 1
        def at(tt: Int): Double =
          if (luts(tt) == null) math.min(255.0, x(i)) else luts(tt)(b)
        val pos = (i - T / 2).toDouble / T
        val t0 = math.max(0, math.min(nTiles - 1, math.floor(pos).toInt))
        val t1 = math.min(nTiles - 1, t0 + 1)
        val w = math.max(0.0, math.min(1.0, pos - t0))
        out(i) = math.round((1.0 - w) * at(t0) + w * at(t1)).toDouble
      }
      i += 1
    }
    out
  }

  /** Full classification: threshold mask AND link mask, then CONFIDENCE-
    * BANDED label smoothing. Smoothing may only override the decision of
    * AMBIGUOUS blocks (absMin < x < StrongLevel, link-admissible) — blocks
    * with saturated signal are content with certainty and are never smoothed
    * away; blocks below the floor or over the link limit are boilerplate
    * with certainty and are never smoothed in. The banding is the ensemble-
    * of-absolute-masks idea of binarizeByLocalVariances
    * (binarizeByLocalVariances.cpp:53-57 `var > 10` absolute mask ANDed with
    * relative masks :136-139) applied to the post-pass.
    */
  def classify(blocks: Array[Block], cfg: Config = Default): Array[Boolean] = {
    val n = blocks.length
    if (n == 0) return Array.empty
    val x0 = signal(blocks)
    val x = if (cfg.clahe) claheEqualize(x0, ClaheTile, ClaheClip) else x0
    val paths =
      if (cfg.kind == "fbcitb") blocks.map(_.tagPath) else null
    val t = thresholds(x, cfg, paths)
    // threshold mask alone (before the ensemble masks) — needed separately
    // for the nativeadaptive polarity check below
    var tk = new Array[Boolean](n)
    var i = 0
    while (i < n) { tk(i) = x(i) > t(i); i += 1 }
    // binarizeNativeAdaptive auto-invert (binarizeNativeAdaptive.cpp:108-111:
    // per channel, `if mean(binary) < 128 → invert`): a mask that claims a
    // MAJORITY of the page as foreground has the polarity upside-down. In the
    // text domain a legitimate all-content page also keeps a majority, so the
    // literal rule is guarded by link evidence: invert only when the kept
    // side is MORE link-dense than the dropped side (content is never the
    // linky side) — documented divergence, same intent (polarity sanity).
    if (cfg.kind == "nativeadaptive") {
      var keptCnt = 0
      var keptChars = 0L; var keptLink = 0L
      var dropChars = 0L; var dropLink = 0L
      i = 0
      while (i < n) {
        if (tk(i)) { keptCnt += 1; keptChars += blocks(i).nChars; keptLink += blocks(i).nLinkChars }
        else { dropChars += blocks(i).nChars; dropLink += blocks(i).nLinkChars }
        i += 1
      }
      val keptLd = if (keptChars == 0) 0.0 else keptLink.toDouble / keptChars
      val dropLd = if (dropChars == 0) 1.0 else dropLink.toDouble / dropChars
      if (keptCnt * 2 > n && keptLd > dropLd) {
        val inv = new Array[Boolean](n)
        i = 0
        while (i < n) { inv(i) = !tk(i); i += 1 }
        tk = inv
      }
    }
    val keep = new Array[Boolean](n)
    i = 0
    while (i < n) {
      keep(i) = tk(i) && x(i) > cfg.absMin &&
        linkDensity(blocks(i)) <= cfg.maxLinkDensity
      i += 1
    }
    val smoothed =
      if (cfg.smoothing == "openclose") Smoothing(keep, cfg.morphIters)
      else Smoothing.median(keep, cfg.morphIters)
    val out = new Array[Boolean](n)
    i = 0
    while (i < n) {
      val ambiguous = x(i) > cfg.absMin && x(i) < StrongLevel &&
        linkDensity(blocks(i)) <= cfg.maxLinkDensity
      out(i) = if (ambiguous) smoothed(i) else keep(i)
      i += 1
    }
    out
  }
}

/** Otsu threshold over a 1-D signal histogram: maximize between-class
  * variance (binarizeLocalOtsu.cpp per-bbox THRESH_OTSU :137-161).
  */
object Otsu {
  def threshold(x: Array[Double], bins: Int): Double = {
    if (x.isEmpty) return 0.0
    var mn = x(0); var mx = x(0)
    var i = 1
    while (i < x.length) { if (x(i) < mn) mn = x(i); if (x(i) > mx) mx = x(i); i += 1 }
    if (mx <= mn) return mn
    val hist = new Array[Long](bins)
    val scale = bins / (mx - mn)
    i = 0
    while (i < x.length) {
      var b = ((x(i) - mn) * scale).toInt
      if (b >= bins) b = bins - 1
      hist(b) += 1
      i += 1
    }
    val total = x.length.toLong
    var sumAll = 0.0
    i = 0
    while (i < bins) { sumAll += i * hist(i).toDouble; i += 1 }
    var wB = 0L; var sumB = 0.0; var best = -1.0; var bestBin = 0
    i = 0
    while (i < bins) {
      wB += hist(i)
      if (wB != 0L && wB != total) {
        sumB += i * hist(i).toDouble
        val wF = total - wB
        val mB = sumB / wB
        val mF = (sumAll - sumB) / wF
        val between = wB.toDouble * wF.toDouble * (mB - mF) * (mB - mF)
        if (between > best) { best = between; bestBin = i }
      } else if (wB != 0L) sumB += i * hist(i).toDouble
      i += 1
    }
    mn + (bestBin + 0.5) / scale
  }
}

/** Morphological label smoothing — the dilate+erode post-pass shared by the
  * local-stats binarizers (binarizeSauvola.cpp:125-134 and identically in
  * Niblack/NICK/WolfJolion/Feng). 1-D open-then-close on the keep labels:
  * open kills content islands of length <= 2*iters (misclassified boilerplate
  * bursts), close fills boilerplate gaps of length <= 2*iters inside content
  * runs. Border handling = replicate (clamped neighbor), matching the
  * reference's BORDER_REPLICATE padding.
  *
  * Iterations auto-scale down for short docs (nativeadaptive-style,
  * binarizeNativeAdaptive.cpp:89-96): effIters = min(iters, (n-1)/8) so a
  * 1-block document is never erased by its own smoothing.
  */
object Smoothing {

  /** Default post-pass: iterated median-of-3 on the label sequence — the
    * label-domain medianBlur (denoiseSaltPepper.cpp:29-36). Kills isolated
    * single-block misclassifications and fills single-block gaps while
    * preserving 2+-block runs; at block granularity this is the right
    * strength (a 2-block erosion — the image default — would erase short
    * legitimate articles; documented divergence from the reference's
    * dilate+erode default, same family).
    */
  def median(labels: Array[Boolean], times: Int): Array[Boolean] = {
    var cur = labels
    var t = 0
    while (t < times) {
      val n = cur.length
      if (n == 0) return cur
      val out = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        val a = cur(math.max(0, i - 1)); val b = cur(i); val c = cur(math.min(n - 1, i + 1))
        out(i) = (a && b) || (b && c) || (a && c)
        i += 1
      }
      cur = out
      t += 1
    }
    cur
  }

  def apply(labels: Array[Boolean], iters: Int): Array[Boolean] = {
    val n = labels.length
    val eff = math.min(iters, math.max(0, (n - 1) / 8))
    if (eff <= 0 || n == 0) return labels
    var cur = labels
    // open: erode x eff, dilate x eff
    var it = 0
    while (it < eff) { cur = erode(cur); it += 1 }
    it = 0
    while (it < eff) { cur = dilate(cur); it += 1 }
    // close: dilate x eff, erode x eff
    it = 0
    while (it < eff) { cur = dilate(cur); it += 1 }
    it = 0
    while (it < eff) { cur = erode(cur); it += 1 }
    cur
  }

  private def dilate(l: Array[Boolean]): Array[Boolean] = {
    val n = l.length
    val out = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      out(i) = l(i) || l(math.max(0, i - 1)) || l(math.min(n - 1, i + 1))
      i += 1
    }
    out
  }

  private def erode(l: Array[Boolean]): Array[Boolean] = {
    val n = l.length
    val out = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      out(i) = l(i) && l(math.max(0, i - 1)) && l(math.min(n - 1, i + 1))
      i += 1
    }
    out
  }
}
