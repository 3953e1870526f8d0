package graft.pipeline

import graft.core._
import graft.html.{Decode, HtmlTokenizer}
import graft.classify.Classifiers
import graft.clean.Artifacts
import graft.boundary.Boundary
import graft.detect.Quality

/** The composed per-row extraction — the whole PRLib pipeline as one pure
  * function (SURVEY.md §0 conceptual pipeline):
  *
  *   decode (formatConvert) → quality gates (detectors) → tokenize to blocks
  *   (deskew/structural normalization) → classify (binarization family) →
  *   artifact removal (removeLines/Dots/HolePunch, denoise) → boundary crop
  *   (autoCrop/warpCrop) → assemble + fixpoint canonicalization (thinning).
  *
  * Every page takes one route: one charset decision onto UTF-8 bytes
  * (`Decode.utf8`), then one tokenizer (`ByteTokenizer`), over-cap pages
  * included.
  *
  * Stateless per document (the reference's one-Mat-in-one-Mat-out contract),
  * which is exactly what makes it embarrassingly parallel on Spark.
  */
object Extract {

  final case class Config(
      classifier: Classifiers.Config = Classifiers.Default,
      caps: HtmlTokenizer.Caps = HtmlTokenizer.DefaultCaps,
      maxGarbageRatio: Double = 0.10,
      // "contour" (documentContour/Kadane) or "separators" (the
      // findHoughLineContour alternative, which falls back to contour when
      // it reports failure — the reference's two-strategy composition,
      // houghLine.cpp:232-235)
      boundaryKind: String = "contour",
      // findOrientation doc-type gate (deskew.cpp:70-136): when on, a 4-way
      // page-profile decision selects the classifier profile. Off by
      // default — in the reference deskew is a separate opt-in stage.
      autoProfile: Boolean = false,
      // findAngle + rotate(−angle) (deskew.cpp:139-206 via Deskew): when on
      // and the document's wrapper-nesting mode is nonzero, collapse the
      // systematic duplicate-segment runs in every tagPath before
      // classification. Off by default — deskew is opt-in in the reference
      // too. The angle is ALWAYS measured and reported in stats.angle.
      deskew: Boolean = false,
      // rotate (rotate.cpp:35-72 via graft.boundary.Rotate, r4): when
      // rotate != 0 and rotateCols > 0, every maximal run of table-cell
      // blocks is treated as a row-major grid `rotateCols` wide and
      // re-ordered by the exact 90/180/270 reindexing — the
      // tables-for-layout linearization (a column-flow grid reads correctly
      // only in its 90° transpose). The caller supplies the geometry, as
      // the reference's caller supplies the angle. Off by default.
      rotate: Int = 0,
      rotateCols: Int = 0,
      blockSeparator: String = "\n"
  )

  val Default: Config = Config()

  def apply(row: PageRow, cfg: Config = Default): ExtractedDoc = {
    val htmlBytes = if (row.html == null) Array.emptyByteArray else row.html
    // 1. decode (never throws; empty → quarantine, SURVEY.md §2.1 guards)
    if (htmlBytes.isEmpty)
      return quarantine(row.url, Status.EmptyHtml, htmlBytes.length, 0, "empty", 0.0)
    // 1a. one charset route (Decode.utf8): the page as UTF-8 bytes, read in
    // place or transcoded once, with a prescan of the whole page — the
    // garbage gate and the decoded length need no decoded String, and the
    // tokenizer's UTF-16 offsets are those of the decoded text
    val page = Decode.utf8(htmlBytes)
    val ps = page.prescan
    val garbage = if (ps.utf16Len == 0) 0.0 else ps.garbage.toDouble / ps.utf16Len
    if (garbage > cfg.maxGarbageRatio)
      return quarantine(row.url, Status.Garbage, htmlBytes.length, ps.utf16Len, page.label, garbage)
    // 2. tokenize (the char cap cuts inside the tokenizer)
    val tok = page.tokenize(cfg.caps)
    if (tok.blocks.isEmpty)
      return quarantine(row.url, Status.NoBlocks, htmlBytes.length, ps.utf16Len, page.label, garbage)
    finish(row, cfg, tok, htmlBytes.length, ps.utf16Len, page.label, garbage)
  }

  /** Steps 2a–6 (rotate → deskew → classify → artifacts → boundary →
    * assemble); everything past tokenization sees only the Block array.
    */
  private[graft] def finish(row: PageRow, cfg: Config, tok: HtmlTokenizer.Result,
      htmlByteLen: Int, decodedChars: Int, charset: String,
      garbage: Double): ExtractedDoc = {
    // 2a. rotate (opt-in, caller-given geometry): linearize column-flow
    // layout tables BEFORE any order-sensitive stage — downstream windows,
    // regions and the boundary crop must see reading order
    val rotated =
      if (cfg.rotate != 0 && cfg.rotateCols > 0)
        graft.boundary.Rotate.tableRuns(tok.blocks, cfg.rotate, cfg.rotateCols)
      else tok.blocks
    // 2b. findAngle (always measured) + optional rotate(−angle): strip
    // systematic wrapper nesting so the tagPath region tree sees section
    // boundaries, not template noise (deskew.cpp:139-206 via Deskew)
    val angle = graft.detect.Deskew.findAngle(rotated)
    val blocks =
      if (cfg.deskew) graft.detect.Deskew.deskew(rotated, angle)
      else rotated
    // 3. classify + 4. artifacts + 5. boundary
    val clsCfg =
      if (cfg.autoProfile)
        graft.detect.Orientation.profileFor(
          graft.detect.Orientation.detect(blocks).docType, cfg.classifier)
      else cfg.classifier
    var labels = Classifiers.classify(blocks, clsCfg)
    labels = Artifacts.all(blocks, labels)
    val region = cfg.boundaryKind match {
      case "separators" =>
        Boundary.findSeparatorFrame(blocks, labels)
          .orElse(Boundary.find(blocks, labels))
      case _ => Boundary.find(blocks, labels)
    }
    labels = Boundary(labels, region)
    // 6. assemble + fixpoint canonicalization
    val (text, spans) = assemble(blocks, labels, cfg.blockSeparator)
    val kept = labels.count(identity)
    ExtractedDoc(
      url = row.url,
      extracted_text = text,
      spans = spans,
      status = Status.Ok,
      stats = DocStats(
        angle = angle,
        nBlocks = tok.blocks.length,
        nKept = kept,
        htmlBytes = htmlByteLen.toLong,
        decodedChars = decodedChars,
        charset = charset,
        truncated = tok.truncated,
        qualityScore = Quality.parseability(decodedChars, tok.blocks),
        garbageRatio = garbage))
  }

  /** Kept blocks → final text + spans. Span offsets are re-based ONLY in the
    * sense of selection (the warpCrop offset-remapping analogue,
    * warp.cpp:32-73): spans point into the decoded html, in document order.
    * The joined text goes through one more Canon pass and MUST be a fixpoint
    * (thinZhangSuen.cpp:90-98 loop-until-stable contract; asserted by
    * property tests, not at runtime).
    */
  def assemble(
      blocks: Array[Block],
      labels: Array[Boolean],
      sep: String): (String, Array[Span]) = {
    val sb = new java.lang.StringBuilder(1024)
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var i = 0
    while (i < blocks.length) {
      if (labels(i)) {
        if (sb.length > 0) sb.append(sep)
        sb.append(blocks(i).text)
        spans += Span(blocks(i).startOff, blocks(i).endOff)
      }
      i += 1
    }
    (sb.toString, spans.toArray)
  }

  private def quarantine(
      url: String, status: String, htmlBytes: Long, decodedChars: Int,
      charset: String, garbage: Double): ExtractedDoc =
    ExtractedDoc(url, "", Array.empty, status,
      DocStats(0, 0, htmlBytes, decodedChars, charset, truncated = false,
        qualityScore = 0.0, garbageRatio = garbage))
}
