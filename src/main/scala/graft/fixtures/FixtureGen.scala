package graft.fixtures

import graft.core.PageRow
import java.nio.charset.{Charset, StandardCharsets}
import java.sql.Timestamp
import java.util.Random

/** Deterministic synthetic page corpus + ground truth (FIXTURES.md).
  *
  * Mirrors the reference's curated per-operator inputs in `test_data/`
  * (binarize/ 78 scans, auto_crop/ 16 photos, ...): each corpus class
  * exercises one pipeline stage family. Every page is generated from a
  * per-url RNG `seed XOR url.hashCode` (java.util.Random — algorithm is
  * JDK-specified, stable across platforms), so generation is independent of
  * partitioning and order (SURVEY.md §7 hard parts: determinism).
  *
  * Ground truth: the generator records the canonical text of every CONTENT
  * block as it assembles the page; `expected` = those texts joined with \n.
  * Content/chrome separation is engineered with hard margins so the default
  * Sauvola classifier is provably on the right side of the threshold:
  * content paragraphs have >= 300 non-link chars (saturating the 8-bit
  * signal at 255), chrome blocks have <= 120.
  */
object FixtureGen {

  final case class Fixture(page: PageRow, expected: String, corpus: String)

  private val words = Array(
    "lorem", "ipsum", "dolor", "amet", "consectetur", "adipiscing", "elit",
    "vestibulum", "ante", "primis", "faucibus", "orci", "luctus", "ultrices",
    "posuere", "cubilia", "curae", "mauris", "viverra", "tortor", "gravida",
    "sodales", "quisque", "aliquam", "dapibus", "semper", "natoque",
    "penatibus", "magnis", "montes", "nascetur", "ridiculus", "integer",
    "feugiat", "scelerisque", "varius", "molestie", "pharetra", "blandit",
    "tincidunt", "volutpat", "maecenas", "pulvinar", "lobortis", "egestas",
    "fringilla", "phasellus", "vulputate", "sagittis", "rhoncus", "suspendisse",
    "potenti", "fusce", "dignissim", "cursus", "euismod", "laoreet", "iaculis",
    "placerat", "habitasse", "platea", "dictumst", "morbi", "tristique",
    "senectus", "netus", "malesuada", "fames", "turpis", "ultricies",
    "hendrerit", "imperdiet", "venenatis", "condimentum", "dictum", "sapien",
    "sollicitudin", "commodo", "pretium", "bibendum")

  private val navWords = Array(
    "Home", "About", "Contact", "News", "Products", "Services", "Blog",
    "Careers", "Support", "Privacy", "Terms", "Sitemap", "Login", "Register",
    "Archive", "Categories", "Tags", "Search", "Help", "FAQ")

  private val accented = Array("café", "naïve", "über", "señor", "déjà", "œuvre", "groß")

  private def word(rng: Random): String = words(rng.nextInt(words.length))
  private def navWord(rng: Random): String = navWords(rng.nextInt(navWords.length))

  /** A sentence of k words, capitalized, period-terminated. */
  private def sentence(rng: Random, k: Int, extraVocab: Array[String] = null): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < k) {
      val w =
        if (extraVocab != null && rng.nextInt(8) == 0)
          extraVocab(rng.nextInt(extraVocab.length))
        else word(rng)
      if (i == 0) sb.append(w.substring(0, 1).toUpperCase(java.util.Locale.ROOT)).append(w.substring(1))
      else sb.append(w)
      if (i < k - 1) sb.append(' ')
      i += 1
    }
    sb.append('.')
    sb.toString
  }

  /** A content paragraph: plain canonical text with >= minChars chars.
    * Returns the CANONICAL text (single spaces, trimmed) — this is the
    * ground truth unit.
    */
  private def paragraph(rng: Random, minChars: Int, extraVocab: Array[String] = null): String = {
    val sb = new StringBuilder
    while (sb.length < minChars) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(sentence(rng, 8 + rng.nextInt(10), extraVocab))
    }
    sb.toString
  }

  /** Wrap canonical paragraph text in messy-but-equivalent html: random
    * extra whitespace (collapsed by Canon), occasional inline markup and
    * entity-encoded ampersands. The canonical form is preserved by
    * construction.
    */
  private def messyHtml(rng: Random, canonical: String): String = {
    val toks = canonical.split(' ')
    val sb = new StringBuilder
    var i = 0
    while (i < toks.length) {
      if (i > 0) {
        rng.nextInt(6) match {
          case 0 => sb.append("  ")
          case 1 => sb.append("\n  ")
          case 2 => sb.append("\t")
          case _ => sb.append(' ')
        }
      }
      rng.nextInt(12) match {
        case 0 => sb.append("<b>").append(toks(i)).append("</b>")
        case 1 => sb.append("<em>").append(toks(i)).append("</em>")
        case _ => sb.append(toks(i))
      }
      i += 1
    }
    sb.toString
  }

  private def navList(rng: Random, k: Int): String = {
    val sb = new StringBuilder("<ul>")
    var i = 0
    while (i < k) {
      sb.append("<li><a href=\"/").append(navWord(rng).toLowerCase(java.util.Locale.ROOT))
        .append("\">").append(navWord(rng))
      if (rng.nextInt(3) == 0) sb.append(' ').append(navWord(rng))
      sb.append("</a></li>")
      i += 1
    }
    sb.append("</ul>")
    sb.toString
  }

  private def chromeTop(rng: Random): String = {
    val sb = new StringBuilder
    sb.append("<header><nav>").append(navList(rng, 5 + rng.nextInt(5))).append("</nav></header>")
    if (rng.nextInt(2) == 0)
      sb.append("<div class=\"cookie\">This site uses cookies to improve your experience. ")
        .append("<a href=\"/privacy\">Learn more</a> <a href=\"#\">Accept</a></div>")
    sb.toString
  }

  private def chromeBottom(rng: Random): String = {
    val sb = new StringBuilder
    if (rng.nextInt(2) == 0) {
      // the teaser is ~100 non-link chars: ABOVE the absMin floor, so it
      // exercises the adaptive threshold + median smoothing + boundary crop
      // rather than the floor (autoCrop-style outside-the-quad clutter)
      sb.append("<aside><h3>Related</h3><div class=\"teaser\">")
        .append(sentence(rng, 14).take(110))
        .append("</div>").append(navList(rng, 4 + rng.nextInt(4))).append("</aside>")
    }
    sb.append("<footer>").append(navList(rng, 4 + rng.nextInt(5)))
      .append("<p>© 2024 Example Corp. All rights reserved.</p></footer>")
    sb.toString
  }

  private def headline(rng: Random): String = {
    // <= 60 chars: stays below any plausible threshold (chrome-class)
    sentence(rng, 4 + rng.nextInt(3)).take(60)
  }

  // ---------------------------------------------------------------- corpora

  /** clean: well-formed HTML5, UTF-8. */
  private def genClean(rng: Random): (String, List[String]) = {
    val nParas = 4 + rng.nextInt(12)
    val paras = List.fill(nParas)(paragraph(rng, 300 + rng.nextInt(250)))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>Page</title>")
    sb.append("<style>body{margin:0}</style><script>var x=1;</script></head><body>")
    sb.append(chromeTop(rng))
    sb.append("<main><article><h1>").append(headline(rng)).append("</h1>")
    paras.foreach(p => sb.append("<p>").append(messyHtml(rng, p)).append("</p>"))
    sb.append("</article></main>")
    sb.append(chromeBottom(rng))
    sb.append("</body></html>")
    (sb.toString, paras)
  }

  /** malformed: unclosed/misnested tags, stray closes, truncation. */
  private def genMalformed(rng: Random): (String, List[String]) = {
    val nParas = 4 + rng.nextInt(10)
    val paras = List.fill(nParas)(paragraph(rng, 300 + rng.nextInt(200)))
    val truncateAfter = if (rng.nextInt(3) == 0) 2 + rng.nextInt(math.max(1, nParas - 2)) else nParas
    val sb = new StringBuilder
    sb.append("<html><head><meta charset=utf-8><title>Bad</title><body>") // unclosed head
    sb.append(chromeTop(rng))
    sb.append("</div></div>") // stray closes
    sb.append("<div class=main id=art>") // unquoted attrs
    var i = 0
    var emitted = 0
    while (i < paras.length && emitted < truncateAfter) {
      rng.nextInt(4) match {
        case 0 => sb.append("<p>").append(messyHtml(rng, paras(i))) // unclosed <p>
        case 1 => sb.append("<p><b>").append(messyHtml(rng, paras(i))).append("</p>") // unclosed <b>
        case 2 => sb.append("<p><b><i>").append(messyHtml(rng, paras(i))).append("</b></i></p>") // misnested
        case _ => sb.append("<p>").append(messyHtml(rng, paras(i))).append("</p>")
      }
      emitted += 1
      i += 1
    }
    if (truncateAfter >= paras.length) {
      sb.append("</div>").append(chromeBottom(rng)).append("</body></html>")
    } // else: document truncated right after a paragraph close — rest lost
    (sb.toString, paras.take(truncateAfter))
  }

  /** encodings: windows-1252, BOM, declared-vs-actual mismatch. The byte
    * encoding happens in [[page]]; here we pick scenario + accent-bearing
    * content and compute expected text per scenario.
    */
  private def genEncodings(rng: Random): (String, List[String], String) = {
    val scenario = rng.nextInt(4) match {
      case 0 => "utf8-bom"
      case 1 => "cp1252-declared"
      case 2 => "cp1252-undeclared"
      case _ => "mismatch" // declares utf-8, bytes are cp1252
    }
    val nParas = 3 + rng.nextInt(8)
    val paras = List.fill(nParas)(paragraph(rng, 300 + rng.nextInt(200), accented))
    val declared = scenario match {
      case "cp1252-declared" => "<meta charset=\"windows-1252\">"
      case "mismatch" => "<meta charset=\"utf-8\">"
      case "cp1252-undeclared" => ""
      case _ => "<meta charset=\"utf-8\">"
    }
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head>").append(declared).append("<title>Enc</title></head><body>")
    sb.append(chromeTop(rng))
    sb.append("<article><h1>").append(headline(rng)).append("</h1>")
    // NOTE: no messyHtml inline markup here — keeps the byte-level expected
    // computation exact; whitespace messiness is still exercised
    paras.foreach(p => sb.append("<p>  ").append(p).append("\n</p>"))
    sb.append("</article>").append(chromeBottom(rng)).append("</body></html>")
    // expected per scenario: mismatch turns every non-ASCII char into one
    // U+FFFD (each cp1252 high byte is a malformed UTF-8 unit of length 1)
    val expParas =
      if (scenario == "mismatch") paras.map(_.map(c => if (c < 128) c else '�'))
      else paras
    (sb.toString, expParas, scenario)
  }

  /** pdfish: absolute-positioned divs / layout tables, no semantic tags. */
  private def genPdfish(rng: Random): (String, List[String]) = {
    val nParas = 3 + rng.nextInt(10)
    val paras = List.fill(nParas)(paragraph(rng, 320 + rng.nextInt(200)))
    val sb = new StringBuilder
    sb.append("<html><body>")
    if (rng.nextInt(2) == 0) {
      // absolute-position soup
      var top = 10
      paras.foreach { p =>
        sb.append(s"""<div style="position:absolute;top:${top}px;left:40px">""")
          .append(p).append("</div>")
        top += 90 + rng.nextInt(40)
      }
    } else {
      // layout table
      sb.append("<table><tr><td>")
      paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
      sb.append("</td></tr></table>")
    }
    sb.append("</body></html>")
    (sb.toString, paras)
  }

  /** linkfarm: boilerplate-dominated (nav >> content), inverted polarity. */
  private def genLinkfarm(rng: Random): (String, List[String]) = {
    val nParas = 2 + rng.nextInt(4)
    val paras = List.fill(nParas)(paragraph(rng, 320 + rng.nextInt(150)))
    val sb = new StringBuilder
    sb.append("<html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<nav>").append(navList(rng, 20 + rng.nextInt(20))).append("</nav>")
    sb.append(navList(rng, 15 + rng.nextInt(15)))
    sb.append("<div>Sponsored</div>")
    sb.append("<article>")
    paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append(navList(rng, 15 + rng.nextInt(20)))
    sb.append("<footer>").append(navList(rng, 10 + rng.nextInt(10))).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, paras)
  }

  /** artifacts: hr runs, separators, tracker imgs, empty anchors, share
    * widgets at margins.
    */
  private def genArtifacts(rng: Random): (String, List[String]) = {
    val nParas = 4 + rng.nextInt(8)
    val paras = List.fill(nParas)(paragraph(rng, 300 + rng.nextInt(200)))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<div class=\"share\"><a href=\"#\">Share</a> <a href=\"#\">Tweet</a> <a href=\"#\">Pin</a></div>")
    sb.append(chromeTop(rng))
    sb.append("<img src=\"/tracker.gif\" width=\"1\" height=\"1\"><a href=\"/x\"></a>")
    sb.append("<article>")
    var i = 0
    paras.foreach { p =>
      sb.append("<p>").append(messyHtml(rng, p)).append("</p>")
      if (i % 2 == 1) {
        sb.append("<hr>")
        sb.append("<div>----------------</div>")
        if (rng.nextInt(2) == 0) sb.append("<div>· · · · ·</div>")
      }
      i += 1
    }
    sb.append("</article>")
    sb.append("<div class=\"share\"><a href=\"#\">Share</a> <a href=\"#\">Tweet</a></div>")
    sb.append(chromeBottom(rng))
    sb.append("</body></html>")
    (sb.toString, paras)
  }

  /** edge: empty html, binary junk, 1-block docs, oversize docs. */
  private def genEdge(rng: Random): (Array[Byte], List[String], String) = {
    rng.nextInt(4) match {
      case 0 => // empty
        (Array.emptyByteArray, Nil, "empty")
      case 1 => // binary junk: control-heavy bytes → garbage-gate quarantine
        val junk = new Array[Byte](512 + rng.nextInt(1024))
        var i = 0
        while (i < junk.length) { junk(i) = (rng.nextInt(64)).toByte; i += 1 }
        (junk, Nil, "junk")
      case 2 => // 1-block doc
        val p = paragraph(rng, 350)
        val html = s"<html><body><p>$p</p></body></html>"
        (html.getBytes(StandardCharsets.UTF_8), List(p), "oneblock")
      case _ => // oversize: more paragraphs than the golden caps allow is
        // impractical to assemble here; instead: very long single doc that
        // stays under caps but stresses window clamping
        val paras = List.fill(60)(paragraph(rng, 300))
        val sb = new StringBuilder("<html><body><article>")
        paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
        sb.append("</article></body></html>")
        (sb.toString.getBytes(StandardCharsets.UTF_8), paras, "long")
    }
  }

  // ---------------------------------------------------------------- driver

  private val corpusNames = Array(
    "clean", "clean", "clean", "clean", // 40%
    "malformed", "malformed", // 20%
    "encodings", // 10%
    "pdfish", // 10%
    "linkfarm", // 10%
    "artifacts", // 10%
  )

  /** Zipf-skewed host id (a few hosts dominate → exercises salting). */
  def hostOf(docId: Long): Int = {
    val h = scramble(docId)
    // p(host k) ∝ 1/(k+1): inverse-CDF over 50 hosts via harmonic buckets
    val u = (h >>> 11).toDouble / (1L << 53).toDouble // [0,1)
    val hN = 4.4992053383294235 // H_50
    var acc = 0.0
    var k = 0
    while (k < 50) {
      acc += 1.0 / ((k + 1) * hN)
      if (u < acc) return k
      k += 1
    }
    49
  }

  private def scramble(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def urlOf(docId: Long): String =
    s"https://host-${hostOf(docId)}.example/p/$docId"

  /** Generate one fixture page. `seed` is the corpus seed (42 by default);
    * per-page RNG = seed XOR url hash (per-row determinism).
    */
  def fixture(docId: Long, seed: Long = 42L): Fixture = {
    val url = urlOf(docId)
    val rng = new Random(seed ^ url.hashCode.toLong ^ scramble(docId))
    val corpus =
      if (docId % 50 == 0) "edge" // 2%
      else corpusNames(rng.nextInt(corpusNames.length))
    val ts = new Timestamp(1700000000000L + (docId % 86400000L))
    val cp1252: Charset = Charset.forName("windows-1252")

    val (bytes, expectedParas) = corpus match {
      case "clean" =>
        val (html, paras) = genClean(rng)
        (html.getBytes(StandardCharsets.UTF_8), paras)
      case "malformed" =>
        val (html, paras) = genMalformed(rng)
        (html.getBytes(StandardCharsets.UTF_8), paras)
      case "encodings" =>
        val (html, expParas, scenario) = genEncodings(rng)
        val b = scenario match {
          case "utf8-bom" =>
            val body = html.getBytes(StandardCharsets.UTF_8)
            val out = new Array[Byte](body.length + 3)
            out(0) = 0xef.toByte; out(1) = 0xbb.toByte; out(2) = 0xbf.toByte
            System.arraycopy(body, 0, out, 3, body.length)
            out
          case "cp1252-declared" | "cp1252-undeclared" | "mismatch" =>
            html.getBytes(cp1252)
          case _ => html.getBytes(StandardCharsets.UTF_8)
        }
        (b, expParas)
      case "pdfish" =>
        val (html, paras) = genPdfish(rng)
        (html.getBytes(StandardCharsets.UTF_8), paras)
      case "linkfarm" =>
        val (html, paras) = genLinkfarm(rng)
        (html.getBytes(StandardCharsets.UTF_8), paras)
      case "artifacts" =>
        val (html, paras) = genArtifacts(rng)
        (html.getBytes(StandardCharsets.UTF_8), paras)
      case "edge" =>
        val (b, paras, _) = genEdge(rng)
        (b, paras)
    }
    val langs = Array("en", "en", "en", "de", "fr", "es")
    val lang = langs(rng.nextInt(langs.length))
    val sidecar = expectedParas.headOption.getOrElse("")
    Fixture(
      PageRow(url, ts, bytes, sidecar, lang),
      expectedParas.mkString("\n"),
      corpus)
  }

  def fixtures(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(fixture(_, seed))

  // ------------------------------------------------------- adversarial set
  //
  // Threshold-band and inverted-polarity corpora (VERDICT r1 item 4): pages
  // engineered NEAR the decision boundary, where the naive threshold alone
  // misclassifies and only the ensemble (confidence-banded smoothing, link
  // mask, polarity auto-invert) or a different classifier kind gets the
  // right answer. Separate url namespace — the standard `fixtures` stream
  // and its frozen goldens are untouched.

  /** "band": article with saturated paragraphs plus ISOLATED mid-band
    * paragraphs (125–190 non-link chars — above the absMin floor, below the
    * StrongLevel confidence band) and an ambiguous nav teaser (85–115
    * chars). The naive window threshold drops the mid-band paragraphs and
    * is indifferent on the teaser; banded smoothing rescues the former
    * (strong kept neighbors) and kills the latter (dropped nav neighbors).
    */
  private def genBand(rng: Random): (String, List[String]) = {
    val k = 8 + rng.nextInt(7)
    // choose isolated interior mid-band positions (gap >= 2, not first/last)
    val midCount = 1 + rng.nextInt(3)
    val positions = scala.collection.mutable.Set.empty[Int]
    var attempts = 0
    while (positions.size < midCount && attempts < 40) {
      val p = 1 + rng.nextInt(math.max(1, k - 2))
      // gap >= 3: two ambiguous blocks at distance 2 oscillate under the
      // iterated median post-pass (kept-dropped-kept alternation)
      if ((p - 2 to p + 2).forall(q => !positions.contains(q))) positions += p
      attempts += 1
    }
    val paras = (0 until k).map { i =>
      if (positions.contains(i)) {
        // mid-band: clamp the paragraph into [125, 190] chars by truncating
        // to the last sentence end under 190
        val p = paragraph(rng, 125)
        if (p.length <= 190) p
        else {
          val cut = p.lastIndexOf('.', 189)
          if (cut >= 124) p.substring(0, cut + 1) else p.substring(0, 190).trim + "."
        }
      } else paragraph(rng, 300 + rng.nextInt(150))
    }.toList
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 6 + rng.nextInt(4)))
    // ambiguous teaser: 85-115 link-free chars inside the nav region
    sb.append("<div class=\"promo\">").append(sentence(rng, 13).take(85 + rng.nextInt(30)))
      .append("</div>")
    sb.append("</nav></header>")
    sb.append("<article>")
    paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 5 + rng.nextInt(4))).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, paras)
  }

  /** "inverted": boilerplate-dominant page whose boilerplate is BRIGHT
    * (600+ chars, ~50% link text — under the 0.66 link mask) and whose true
    * content is a short dim run (140–170 link-free chars). The default
    * threshold keeps the bright linky majority; only a polarity-aware kind
    * (nativeadaptive auto-invert) extracts the content — the webtext
    * analogue of an inverted scan (binarizeNativeAdaptive.cpp:108-111).
    */
  private def genInverted(rng: Random): (String, List[String]) = {
    val nBoiler = 9 + rng.nextInt(5)
    val nContent = 2 + rng.nextInt(2)
    val paras = List.fill(nContent) {
      val p = paragraph(rng, 140)
      if (p.length <= 170) p
      else {
        val cut = p.lastIndexOf('.', 169)
        if (cut >= 139) p.substring(0, cut + 1) else p.substring(0, 170).trim + "."
      }
    }
    def boilerBlock(): String = {
      // ~50% of chars inside links: alternate linked and plain sentences
      val sb = new StringBuilder("<div class=\"sponsored\">")
      var linked = 0
      var plain = 0
      while (linked + plain < 600) {
        val s = sentence(rng, 6 + rng.nextInt(6))
        if (linked <= plain) {
          sb.append("<a href=\"/o/").append(rng.nextInt(999)).append("\">").append(s).append("</a> ")
          linked += s.length
        } else {
          sb.append(s).append(' ')
          plain += s.length
        }
      }
      sb.append("</div>")
      sb.toString
    }
    val sb = new StringBuilder
    sb.append("<html><head><meta charset=\"utf-8\"></head><body>")
    val before = nBoiler / 2 + (nBoiler % 2)
    (0 until before).foreach(_ => sb.append(boilerBlock()))
    sb.append("<article>")
    paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    (before until nBoiler).foreach(_ => sb.append(boilerBlock()))
    sb.append("</body></html>")
    (sb.toString, paras)
  }

  /** One adversarial fixture; ids map 7:3 onto band:inverted. */
  def adversarialFixture(id: Long, seed: Long = 42L): Fixture = {
    val corpus = if (id % 10 < 7) "band" else "inverted"
    val url = s"https://adv-$corpus.example/a/$id"
    val rng = new Random(seed ^ url.hashCode.toLong ^ scramble(id))
    val (html, paras) = if (corpus == "band") genBand(rng) else genInverted(rng)
    val ts = new Timestamp(1700000000000L + (id % 86400000L))
    Fixture(
      PageRow(url, ts, html.getBytes(StandardCharsets.UTF_8), paras.headOption.getOrElse(""), "en"),
      paras.mkString("\n"),
      corpus)
  }

  def adversarial(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(adversarialFixture(_, seed))

  // ------------------------------------------- region-classifier set (r3)
  //
  // Per-kind ground-truth corpora for the REGION classifiers (VERDICT r2
  // item 3): pages whose expected text under fbcitb / cococlust is derived
  // by the GENERATOR (double-entry), engineered with hard margins so the
  // region decision is provably on the right side:
  //  - "fbsect": an <aside> of mid-band paragraphs sits BETWEEN two runs of
  //    >= 3 saturated article paragraphs, so the aside tagPath-region's
  //    outside median is 255 on both sides. F(~125-190) <= B(255) ⇒ fbcitb
  //    drops the WHOLE aside by region polarity even though every aside
  //    block clears the absMin floor — the per-region fg/bg decision of
  //    binarizeFBCITB.cpp:269-381. Expected = article paragraphs only.
  //  - "cocoedge": a dim section (150-180 char paragraphs, signal ~165)
  //    surrounded by zero-signal nav on both sides forms its own Canny
  //    edge region with fg(~165) > bg(0) ⇒ cococlust KEEPS it (threshold =
  //    midpoint ~82), while window kinds see a document-scale mean pulled
  //    to ~225 by the saturated article and drop it — the local-contrast
  //    recovery that is the point of per-region binarization
  //    (binarizeCOCOCLUST.cpp:414-437). Expected = article + dim paragraphs.

  private def clampPara(rng: Random, minChars: Int, maxChars: Int): String = {
    val p = paragraph(rng, minChars)
    if (p.length <= maxChars) p
    else {
      val cut = p.lastIndexOf('.', maxChars - 1)
      if (cut >= minChars - 1) p.substring(0, cut + 1)
      else p.substring(0, maxChars).trim + "."
    }
  }

  private def genFbsect(rng: Random): (String, List[String]) = {
    val k1 = 4 + rng.nextInt(3)
    val k2 = 4 + rng.nextInt(3)
    val m = 2 + rng.nextInt(2) // >= 2: an isolated single mid-band block
    // would be smoothed back IN by the median post-pass
    val a1 = List.fill(k1)(paragraph(rng, 300 + rng.nextInt(120)))
    val mid = List.fill(m)(clampPara(rng, 125, 190))
    val a2 = List.fill(k2)(paragraph(rng, 300 + rng.nextInt(120)))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 4 + rng.nextInt(3))).append("</nav></header>")
    sb.append("<article>")
    a1.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<aside class=\"pullquotes\">")
    mid.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</aside>")
    sb.append("<article>")
    a2.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 4 + rng.nextInt(3))).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, a1 ++ a2)
  }

  private def genCocoedge(rng: Random): (String, List[String]) = {
    val k = 5 + rng.nextInt(3)
    // m >= 4 and a 4-5-block mid-nav gap: the contour boundary's gap
    // penalty is 0.25 x mean(kept signal) per dropped block (~95 worst
    // case), so the dim section's sum (>= 4 x 160) must beat gap x penalty
    // (<= 5 x 99) with margin — otherwise Kadane crops the dim section even
    // though the classifier kept it
    val m = 4 + rng.nextInt(2)
    val art = List.fill(k)(paragraph(rng, 300 + rng.nextInt(120)))
    // 160-190 chars: tight range keeps in-region gradients (<= ~32) far
    // below the Canny hysteresis thresholds set by the ~175-sized section
    // boundaries, so the dim section stays ONE region
    val dim = List.fill(m)(clampPara(rng, 160, 190))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 5 + rng.nextInt(3))).append("</nav></header>")
    sb.append("<article>")
    art.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<nav class=\"mid\">").append(navList(rng, 4 + rng.nextInt(2))).append("</nav>")
    sb.append("<div class=\"archive\">")
    dim.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</div>")
    sb.append("<footer>").append(navList(rng, 5 + rng.nextInt(3))).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, art ++ dim)
  }

  /** "overwrap" corpus (findAngle/deskew ground truth, deskew.cpp:139-206):
    * the fbsect page shape — aside of mid-band paragraphs between saturated
    * article runs, expected = article only — but every SECTION is wrapped
    * in a variable-depth run of redundant `<div>`s (the template-generator
    * skew findAngle measures). article1 and the aside share a wrap depth
    * >= 2, so WITHOUT deskew the tagPath region tree merges them into one
    * depth-3 'div' run: fbcitb's region polarity then drops article1 with
    * the aside (or keeps the aside with article1) — extraction fails. WITH
    * deskew the wrapper runs collapse, the regions recover the real section
    * boundaries and the page behaves exactly like fbsect.
    */
  private def genOverwrap(rng: Random): (String, List[String]) = {
    val k1 = 4 + rng.nextInt(3)
    val k2 = 4 + rng.nextInt(3)
    val m = 2 + rng.nextInt(2)
    val a1 = List.fill(k1)(paragraph(rng, 300 + rng.nextInt(120)))
    val mid = List.fill(m)(clampPara(rng, 125, 190))
    val a2 = List.fill(k2)(paragraph(rng, 300 + rng.nextInt(120)))
    // wrap depths: article1 and aside SHARE a depth >= 2 (the merge trap);
    // the others vary so the skew is systematic but not uniform
    val shared = 2 + rng.nextInt(2) // 2..3
    val wHead = 1 + rng.nextInt(3)
    val wA2 = 1 + rng.nextInt(2)
    val wFoot = 1 + rng.nextInt(3)
    def open(k: Int) = "<div>" * k
    def close(k: Int) = "</div>" * k
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append(open(wHead)).append("<header><nav>")
      .append(navList(rng, 4 + rng.nextInt(3))).append("</nav></header>").append(close(wHead))
    sb.append(open(shared)).append("<article>")
    a1.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>").append(close(shared))
    sb.append(open(shared)).append("<aside class=\"pullquotes\">")
    mid.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</aside>").append(close(shared))
    sb.append(open(wA2)).append("<article>")
    a2.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>").append(close(wA2))
    sb.append(open(wFoot)).append("<footer>")
      .append(navList(rng, 4 + rng.nextInt(3))).append("</footer>").append(close(wFoot))
    sb.append("</body></html>")
    (sb.toString, a1 ++ a2)
  }

  def overwrapFixture(id: Long, seed: Long = 42L): Fixture = {
    val url = s"https://reg-overwrap.example/r/$id"
    val rng = new Random(seed ^ url.hashCode.toLong ^ scramble(id))
    val (html, paras) = genOverwrap(rng)
    val ts = new Timestamp(1700000000000L + (id % 86400000L))
    Fixture(PageRow(url, ts, html.getBytes(StandardCharsets.UTF_8),
      paras.headOption.getOrElse(""), "en"), paras.mkString("\n"), "overwrap")
  }

  def overwrap(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(overwrapFixture(_, seed))

  def fbsectFixture(id: Long, seed: Long = 42L): Fixture = {
    val url = s"https://reg-fbsect.example/r/$id"
    val rng = new Random(seed ^ url.hashCode.toLong ^ scramble(id))
    val (html, paras) = genFbsect(rng)
    val ts = new Timestamp(1700000000000L + (id % 86400000L))
    Fixture(PageRow(url, ts, html.getBytes(StandardCharsets.UTF_8),
      paras.headOption.getOrElse(""), "en"), paras.mkString("\n"), "fbsect")
  }

  def cocoedgeFixture(id: Long, seed: Long = 42L): Fixture = {
    val url = s"https://reg-cocoedge.example/r/$id"
    val rng = new Random(seed ^ url.hashCode.toLong ^ scramble(id))
    val (html, paras) = genCocoedge(rng)
    val ts = new Timestamp(1700000000000L + (id % 86400000L))
    Fixture(PageRow(url, ts, html.getBytes(StandardCharsets.UTF_8),
      paras.headOption.getOrElse(""), "en"), paras.mkString("\n"), "cocoedge")
  }

  def fbsect(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(fbsectFixture(_, seed))

  def cocoedge(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(cocoedgeFixture(_, seed))

  // --------------------------------- threshold-rule ground-truth set (r4)
  //
  // Per-kind corpora for the SCALAR threshold rules (VERDICT r3 item 3 — the
  // fbsect/cocoedge pattern extended to niblack/nick/wolfjolion/feng/
  // kuwahara): every page is built from EXACT-length paragraphs so the
  // masked window statistics are exact rationals, and the kept/dropped
  // decision under the target rule is provable from the published formula
  // with a hard margin — while at least one named rival rule provably makes
  // the OPPOSITE call on the probe blocks. Expected text is derived by the
  // generator from construction (double-entry; GroundTruthVariantsSpec +
  // GoldenParquet's refuse-gate hold both sides).
  //
  // Shared shape: nav(3 links, signal 0, excluded from masked stats) /
  // content runs / a 3-block probe run / footer nav(3). Total blocks <= 32,
  // so every width-63 window clamps to the WHOLE page: all blocks share one
  // masked population and the analysis below is position-free.

  /** A paragraph with EXACTLY `len` canonical characters (single-spaced
    * ASCII, so Block.nChars == len and the signal value is exact).
    */
  private def exactPara(rng: Random, len: Int): String = {
    val p = paragraph(rng, len + 20)
    val s = p.substring(0, len - 1)
    if (s.charAt(s.length - 1) == ' ') s.substring(0, s.length - 1) + "x."
    else s + "."
  }

  /** One page of the shared probe shape: articles saturate at 255; the probe
    * run takes exact value `probe`; `content` != 0 replaces the saturated
    * articles with exact-value runs (the low-contrast regime).
    */
  private def genProbePage(rng: Random, probe: Int, content: Int,
      keepProbe: Boolean): (String, List[String]) = {
    val a1 = List.fill(4)(
      if (content == 0) paragraph(rng, 300 + rng.nextInt(120))
      else exactPara(rng, content))
    val mid = List.fill(3)(exactPara(rng, probe))
    val a2 = List.fill(4)(
      if (content == 0) paragraph(rng, 300 + rng.nextInt(120))
      else exactPara(rng, content))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    a1.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<aside class=\"teasers\">")
    mid.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</aside>")
    sb.append("<article>")
    a2.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, if (keepProbe) a1 ++ mid ++ a2 else a1 ++ a2)
  }

  //  - "nibhi" (niblack, binarizeNiblack.cpp:107-112): 8x255 + 3x245 probes.
  //    Masked m = 2775/11 = 252.27, s = 4.454. Niblack t = m + 0.2s = 253.16:
  //    probes DROPPED (margin 8.2), articles kept (margin 1.8) — the +k*s
  //    term above the mean is the decider. Rivals: meanadaptive t = m - 10 =
  //    242.27 KEEPS the probes (margin 2.7); sauvola t = 203.6 keeps them
  //    (margin 41). Probe 245 > StrongLevel → raw (unsmoothed) labels.
  //  - "wolfglob" (binarizeWolfJolion.cpp:114-130): 8x255 + 3x248 probes.
  //    With one shared window, s == sMax exactly, so wolf's t = m +
  //    k(s/sMax - 1)(m - min) collapses to t = m = 253.09: the GLOBAL
  //    normalization anchors the threshold at the mean at the page's own
  //    maximum-contrast window — probes at 248 dropped (margin 5.1),
  //    articles kept (margin 1.9). Rivals: meanadaptive t = 243.09 keeps
  //    (margin 4.9), sauvola t = 203.7 keeps. (niblack coincides here —
  //    documented; the discriminators are the m-anchored rivals.)
  //  - "nickdim" (binarizeNICK.cpp:114-131, negative-k signature per the
  //    reference default binarizeNICK.h:46, scaled to this domain's k
  //    magnitude: k = -0.1): the LOW-CONTRAST page NICK targets — 8x90
  //    content + 3x75 probes, masked m = 85.9, s = 6.68. t_nick = m -
  //    0.1*sqrt(m^2 + s^2) = 77.28: probes dropped (margin 2.3), content
  //    kept (margin 12.7) — the sqrt(m^2+s^2) magnitude term tracks the
  //    dim page's own level. Rivals: sauvola t = 69.6 keeps the probes
  //    (margin 5.4); feng t = 0.45m = 38.7 keeps them.
  //  - "fengpoly" (binarizeFeng.cpp:110-142): 8x255 + 3x150 probes. With
  //    sr = s/Rs = 1 and min = 0 (nav zeros), feng's polynomial t =
  //    (1-a1)m + k1*sr^(g+1)(m-mn) + k2*sr^g*mn = 0.45m = 101.9: probes
  //    KEPT (margin 48) — the a1-weighted mean with polynomial sr powers
  //    sits far below every m-anchored rule. Rivals: sauvola t = 197.7
  //    drops the probes (margin 47.7); meanadaptive t = 216.4 drops;
  //    wolfjolion t = m = 226.4 drops; niblack t = 235.8 drops. Feng is
  //    the unique keeper. Expected includes the probe run.
  //  - "kuwedge" (kuwaharaFilter.cpp:138-172): 8x255 bright then 8x140 dim,
  //    NO separator — a sharp content edge. The sector rule picks the
  //    lower-variance side, so every dim block's smoothed level comes from
  //    the uniform dim side (sm <= 125 → t <= 115 < 140): ALL 16 blocks
  //    kept. Every window-mean rule blurs across the edge (masked m =
  //    197.5 mixes both halves): meanadaptive t = 187.5, sauvola t = 175.7,
  //    niblack t = 209, wolf t = m, nick(-0.1) t = 176.9 — all drop the
  //    entire dim half. Edge preservation IS the deciding property.
  private def genKuwedge(rng: Random): (String, List[String]) = {
    val bright = List.fill(8)(paragraph(rng, 300 + rng.nextInt(120)))
    val dim = List.fill(8)(exactPara(rng, 140))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    bright.foreach(p => sb.append("<p>").append(p).append("</p>"))
    dim.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, bright ++ dim)
  }

  private def ruleFixture(corpus: String, id: Long, seed: Long)(
      gen: Random => (String, List[String])): Fixture = {
    val url = s"https://reg-$corpus.example/r/$id"
    val rng = new Random(seed ^ url.hashCode.toLong ^ scramble(id))
    val (html, paras) = gen(rng)
    val ts = new Timestamp(1700000000000L + (id % 86400000L))
    Fixture(PageRow(url, ts, html.getBytes(StandardCharsets.UTF_8),
      paras.headOption.getOrElse(""), "en"), paras.mkString("\n"), corpus)
  }

  def nibhiFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("nibhi", id, seed)(genProbePage(_, 245, 0, keepProbe = false))
  def nickdimFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("nickdim", id, seed)(genProbePage(_, 75, 90, keepProbe = false))
  def wolfglobFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("wolfglob", id, seed)(genProbePage(_, 248, 0, keepProbe = false))
  def fengpolyFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("fengpoly", id, seed)(genProbePage(_, 150, 0, keepProbe = true))
  def kuwedgeFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("kuwedge", id, seed)(genKuwedge)

  // ---- second wave of threshold-rule ground truth (r4): the global-rule
  // and window-shape kinds (meanadaptive / otsu / mokji / agt+gauss).
  //
  //  - "meanc" (binarizePureAdaptive MEAN_C): a PERFECTLY UNIFORM content
  //    page — 10 exact-200 paragraphs. m = 200, s = 0 exactly, so the −c
  //    offset is the entire decision: meanadaptive keeps everything
  //    (t = 190); niblack's t = m + k·0 = 200 fails the strict x > t on its
  //    own mean and DROPS THE WHOLE PAGE. (wolfjolion survives: with s = 0
  //    everywhere sMax clamps to 1e-9 and t degrades to 0.8m.) The constant
  //    offset below the mean is the rule's reason to exist.
  //  - "otsubi" (THRESH_OTSU document scope): a BIMODAL content page —
  //    6 saturated + 6 exact-180 paragraphs + zero-signal chrome. The
  //    global histogram's dominant valley separates chrome from content
  //    (ω₀ω₁(μ₀−μ₁)²: split-at-chrome 3.4M vs split-inside-content 2.0M),
  //    so Otsu keeps BOTH content bands; every m-anchored rule puts t
  //    between the bands (masked m = 217.5: meanadaptive 207.5, sauvola
  //    186.8, niblack 225, wolf 217.5) and drops the 180 band.
  //  - "mokedge" (binarizeMokji): the threshold comes ONLY from edge pairs
  //    (|nbrMax − x| ≥ 20): nav→255 (127.5), 255→110 (182.5), 110→0 (55)
  //    ⇒ t = 730/6 = 121.67 REGARDLESS of run length. A 100-block teaser
  //    run at exact 110 is dropped globally (margin 11.7), while the
  //    window rules see all-teaser windows deep in the run (masked m =
  //    110 ⇒ meanadaptive t = 100, sauvola t = 88) and KEEP the far
  //    teasers. Global co-occurrence vs local window is the decider.
  //  - "gausstail" (binarizeAGT / PureAdaptiveGaussian): a far dim aside —
  //    24 exact-255 articles, a 16-block zero-signal nav gap, then 6
  //    exact-195 paragraphs. The σ=10 gaussian window at the aside weighs
  //    the d ≥ 19 articles at ≤ 0.17 (raw gaussian mean ≈ 73 ⇒ t ≈ 63:
  //    KEEP), while the masked-mean anchors average the same window's
  //    nonzero blocks at full weight (m = 236: meanadaptive t = 226 drops;
  //    sauvola t = 199.1 drops). Kadane margin: gap penalty 16 × 60.75 =
  //    972 < aside sum 1170, so the boundary keeps the aside region.
  //    (medianmean's RAW uniform mean ≈ 118 also keeps — listed as
  //    coinciding, not as a rival; the corpus separates gaussian/raw
  //    windows from masked-m anchors.) Verified under BOTH `agt`
  //    (q_extract_gausstail) and `gaussadaptive` (q_extract_gausstail_g).

  //  - "medspike" (binarizeAT: median → MEAN_C): 8 exact-145 paragraphs
  //    with ONE saturated spike in the middle. The median-3 pre-smooth
  //    erases the spike BEFORE the window mean, so medianmean's raw mean
  //    (zeros included) is ~77 ⇒ t ≈ 67: ALL NINE blocks kept. Without the
  //    pre-smooth the spike drags the masked mean to 157.2: meanadaptive
  //    t = 147.2 and niblack t = 164.1 drop the eight 145s and keep only
  //    the spike. The median stage is the decider.
  private def genMedspike(rng: Random): (String, List[String]) = {
    val a1 = List.fill(4)(exactPara(rng, 145))
    val spike = paragraph(rng, 300 + rng.nextInt(120))
    val a2 = List.fill(4)(exactPara(rng, 145))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    a1.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("<p>").append(spike).append("</p>")
    a2.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, a1 ++ List(spike) ++ a2)
  }

  def medspikeFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("medspike", id, seed)(genMedspike)

  def medspike(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(medspikeFixture(_, seed))

  private def genMeanc(rng: Random): (String, List[String]) = {
    val paras = List.fill(10)(exactPara(rng, 200))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    paras.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, paras)
  }

  private def genOtsubi(rng: Random): (String, List[String]) = {
    val bright = List.fill(6)(paragraph(rng, 300 + rng.nextInt(120)))
    val dim = List.fill(6)(exactPara(rng, 180))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    bright.foreach(p => sb.append("<p>").append(p).append("</p>"))
    dim.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, bright ++ dim)
  }

  private def genMokedge(rng: Random): (String, List[String]) = {
    val art = List.fill(4)(paragraph(rng, 300 + rng.nextInt(120)))
    val teasers = List.fill(100)(exactPara(rng, 110))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    art.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<div class=\"archive-teasers\">")
    teasers.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</div>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, art)
  }

  private def genGausstail(rng: Random): (String, List[String]) = {
    val bright = List.fill(24)(exactPara(rng, 255))
    val aside = List.fill(6)(exactPara(rng, 195))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    bright.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<nav class=\"mid\">").append(navList(rng, 16)).append("</nav>")
    sb.append("<aside class=\"related\">")
    aside.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</aside>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, bright ++ aside)
  }

  def meancFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("meanc", id, seed)(genMeanc)
  def otsubiFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("otsubi", id, seed)(genOtsubi)
  def mokedgeFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("mokedge", id, seed)(genMokedge)
  def gausstailFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("gausstail", id, seed)(genGausstail)

  def meanc(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(meancFixture(_, seed))
  def otsubi(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(otsubiFixture(_, seed))
  def mokedge(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(mokedgeFixture(_, seed))
  def gausstail(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(gausstailFixture(_, seed))

  /** "colflow" corpus (rotate ground truth, rotate.cpp:35-72 via
    * graft.boundary.Rotate, r4): the page's midsection is a
    * tables-for-layout grid — 3 columns × 3-4 rows of full content
    * paragraphs — whose CONTENT FLOWS DOWN THE COLUMNS, but the DOM emits
    * it row-major (tr→td). Reading order = the 90° transpose of the block
    * grid, so expected text = articles + columns in column-major order.
    * WITHOUT Extract.Config(rotate=90, rotateCols=3) the extraction emits
    * the interleaved row-major order and is wrong on every page; WITH it
    * the linearization recovers ground truth (the q_extract_overwrap
    * discrimination pattern). ~1 page in 3 has a RAGGED last row (the last
    * column one cell short), exercising Rotate's skip-never-pad path.
    */
  private def genColflow(rng: Random): (String, List[String]) = {
    val k1 = 3 + rng.nextInt(2)
    val k2 = 3 + rng.nextInt(2)
    val a1 = List.fill(k1)(paragraph(rng, 300 + rng.nextInt(120)))
    val a2 = List.fill(k2)(paragraph(rng, 300 + rng.nextInt(120)))
    val cols = 3
    val rows = 3 + rng.nextInt(2)
    val ragged = rng.nextInt(3) == 0 // last row one cell short
    // column-major ground truth: column c holds consecutive reading order
    val colLen = Array.tabulate(cols)(c =>
      if (ragged && c == cols - 1) rows - 1 else rows)
    val columns = colLen.map(len =>
      Array.fill(len)(paragraph(rng, 300 + rng.nextInt(120))))
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"></head><body>")
    sb.append("<header><nav>").append(navList(rng, 3)).append("</nav></header>")
    sb.append("<article>")
    a1.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    // DOM order is row-major: cell(r, c) = columns(c)(r)
    sb.append("<table class=\"layout\">")
    var r = 0
    while (r < rows) {
      sb.append("<tr>")
      var c = 0
      while (c < cols) {
        if (r < colLen(c)) sb.append("<td>").append(columns(c)(r)).append("</td>")
        c += 1
      }
      sb.append("</tr>")
      r += 1
    }
    sb.append("</table>")
    sb.append("<article>")
    a2.foreach(p => sb.append("<p>").append(p).append("</p>"))
    sb.append("</article>")
    sb.append("<footer>").append(navList(rng, 3)).append("</footer>")
    sb.append("</body></html>")
    (sb.toString, a1 ++ columns.flatten.toList ++ a2)
  }

  def colflowFixture(id: Long, seed: Long = 42L): Fixture =
    ruleFixture("colflow", id, seed)(genColflow)

  def colflow(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(colflowFixture(_, seed))

  /** Per-id dispatch (the distributed PageSource path). */
  def ruleFixtureFor(corpus: String, id: Long, seed: Long = 42L): Fixture = corpus match {
    case "nibhi" => nibhiFixture(id, seed)
    case "nickdim" => nickdimFixture(id, seed)
    case "wolfglob" => wolfglobFixture(id, seed)
    case "fengpoly" => fengpolyFixture(id, seed)
    case "kuwedge" => kuwedgeFixture(id, seed)
    case "colflow" => colflowFixture(id, seed)
    case "meanc" => meancFixture(id, seed)
    case "otsubi" => otsubiFixture(id, seed)
    case "mokedge" => mokedgeFixture(id, seed)
    case "gausstail" => gausstailFixture(id, seed)
    case "medspike" => medspikeFixture(id, seed)
    case other => sys.error(s"unknown rule corpus: $other")
  }

  def nibhi(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(nibhiFixture(_, seed))
  def nickdim(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(nickdimFixture(_, seed))
  def wolfglob(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(wolfglobFixture(_, seed))
  def fengpoly(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(fengpolyFixture(_, seed))
  def kuwedge(n: Int, seed: Long = 42L): IndexedSeq[Fixture] =
    (0L until n.toLong).map(kuwedgeFixture(_, seed))

  /** The per-kind extraction config each rule corpus is verified under
    * (single source of truth for queries, GoldenParquet's refuse-gate, and
    * GroundTruthVariantsSpec). nick runs its reference-faithful NEGATIVE k
    * (binarizeNICK.h:46's -0.01 scaled to this domain's k magnitude).
    */
  def ruleCorpora: Seq[(String, Int => IndexedSeq[Fixture], graft.classify.Classifiers.Config)] = {
    import graft.classify.Classifiers.Config
    Seq(
      ("nibhi", nibhi(_: Int), Config(kind = "niblack")),
      ("nickdim", nickdim(_: Int), graft.classify.Classifiers.kindConfig("nick")),
      ("wolfglob", wolfglob(_: Int), Config(kind = "wolfjolion")),
      ("fengpoly", fengpoly(_: Int), Config(kind = "feng")),
      ("kuwedge", kuwedge(_: Int), Config(kind = "kuwahara")),
      ("meanc", meanc(_: Int), Config(kind = "meanadaptive")),
      ("otsubi", otsubi(_: Int), Config(kind = "otsu")),
      ("mokedge", mokedge(_: Int), Config(kind = "mokji")),
      ("gausstail", gausstail(_: Int), Config(kind = "agt")),
      ("medspike", medspike(_: Int), Config(kind = "medianmean")),
    )
  }
}
