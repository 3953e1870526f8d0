package graft.pipeline

import graft.core._
import graft.html.{ByteTokenizer, Decode, HtmlTokenizer}
import graft.classify.Classifiers
import graft.clean.Artifacts
import graft.boundary.Boundary
import graft.detect.Quality
import graft.text.Canon

/** The composed per-row extraction — the whole PRLib pipeline as one pure
  * function (SURVEY.md §0 conceptual pipeline):
  *
  *   decode (formatConvert) → quality gates (detectors) → tokenize to blocks
  *   (deskew/structural normalization) → classify (binarization family) →
  *   artifact removal (removeLines/Dots/HolePunch, denoise) → boundary crop
  *   (autoCrop/warpCrop) → assemble + fixpoint canonicalization (thinning).
  *
  * Stateless per document (the reference's one-Mat-in-one-Mat-out contract),
  * which is exactly what makes it embarrassingly parallel on Spark.
  */
object Extract {

  final case class Config(
      classifier: Classifiers.Config = Classifiers.Default,
      caps: HtmlTokenizer.Caps = HtmlTokenizer.DefaultCaps,
      maxGarbageRatio: Double = 0.10,
      boundaryCrop: Boolean = true,
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
    // 1a. Every decodable page under the char cap is tokenized on the byte
    // path (VERDICT r4 item 1): the garbage gate and the tokenizer run over
    // UTF-8 bytes, with no decoded String. A page whose charset detection
    // lands on UTF-8 and whose bytes validate is read in place; any other
    // page (windows-1252, a UTF-16 BOM, declared UTF-8 repaired with
    // REPLACE) is transcoded to UTF-8 once. The charset is decided once
    // (one meta sniff per doc), and ByteTokenizer emits UTF-16 offsets into
    // the decoded text either way, so spans are those of the decoded path.
    // Semantics are IDENTICAL to applyDecoded — ByteTokenizerSpec and
    // ByteFuzzSpec hold the differential equivalence.
    val plan = Decode.plan(htmlBytes)
    var p = plan
    if (plan.isUtf8) {
      val ps = ByteTokenizer.prescan(htmlBytes, plan.offset)
      if (ps.valid) {
        if (ps.utf16Len <= cfg.caps.maxChars)
          return onBytes(row, cfg, htmlBytes, plan.offset, htmlBytes.length, ps,
            plan.label, htmlBytes.length)
        return onText(row, cfg, Decode.decode(htmlBytes, plan), htmlBytes.length)
      }
      if (plan eq Decode.Undeclared) p = Decode.Fallback // 4. not UTF-8
    }
    // 1b. transcode: windows-1252 straight from the bytes (one UTF-16 unit
    // per byte, so the cap reads off the byte length), anything else from
    // its decoded text. The String path stays only for over-cap pages.
    if (p.cs eq Decode.Win1252) {
      val u8 =
        if (htmlBytes.length <= cfg.caps.maxChars) Decode.win1252ToUtf8(htmlBytes) else null
      if (u8 != null)
        return onBytes(row, cfg, u8.bytes, 0, u8.len,
          ByteTokenizer.prescan(u8.bytes, 0, u8.len), p.label, htmlBytes.length)
      return onText(row, cfg, Decode.decode(htmlBytes, p), htmlBytes.length)
    }
    val dec = Decode.decode(htmlBytes, p)
    if (dec.text.length > cfg.caps.maxChars) return onText(row, cfg, dec, htmlBytes.length)
    // lossless: the JDK decoders under REPLACE never emit a lone surrogate
    // (the one char getBytes could not encode)
    val u8 = dec.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    onBytes(row, cfg, u8, 0, u8.length, ByteTokenizer.prescan(u8, 0), p.label,
      htmlBytes.length)
  }

  /** Gates + byte tokenizer over valid UTF-8 `bytes[off, end)`. */
  private def onBytes(row: PageRow, cfg: Config, bytes: Array[Byte], off: Int,
      end: Int, ps: ByteTokenizer.Prescan, label: String,
      htmlByteLen: Int): ExtractedDoc = {
    val garbage = if (ps.utf16Len == 0) 0.0 else ps.garbage.toDouble / ps.utf16Len
    if (garbage > cfg.maxGarbageRatio)
      return quarantine(row.url, Status.Garbage, htmlByteLen, ps.utf16Len, label, garbage)
    val tok = ByteTokenizer.tokenize(bytes, off, end, cfg.caps)
    if (tok.blocks.isEmpty)
      return quarantine(row.url, Status.NoBlocks, htmlByteLen, ps.utf16Len, label, garbage)
    finish(row, cfg, tok, htmlByteLen, ps.utf16Len, label, garbage)
  }

  /** The decoded-String path (the only path before r5): the reference
    * semantics the byte path is differentially tested against
    * (ByteTokenizerSpec asserts apply == applyDecoded on every corpus).
    * [[apply]] itself takes it only for over-cap pages.
    */
  private[graft] def applyDecoded(row: PageRow, cfg: Config = Default): ExtractedDoc = {
    val htmlBytes = if (row.html == null) Array.emptyByteArray else row.html
    if (htmlBytes.isEmpty)
      return quarantine(row.url, Status.EmptyHtml, htmlBytes.length, 0, "empty", 0.0)
    onText(row, cfg, Decode(htmlBytes), htmlBytes.length)
  }

  /** Gates + String tokenizer over the decoded text. */
  private def onText(row: PageRow, cfg: Config, dec: Decode.Decoded,
      htmlByteLen: Int): ExtractedDoc = {
    val garbage = Quality.garbageRatio(dec.text)
    if (garbage > cfg.maxGarbageRatio)
      return quarantine(row.url, Status.Garbage, htmlByteLen, dec.text.length,
        dec.charset, garbage)
    // 2. tokenize
    val tok = HtmlTokenizer(dec.text, cfg.caps)
    if (tok.blocks.isEmpty)
      return quarantine(row.url, Status.NoBlocks, htmlByteLen, dec.text.length,
        dec.charset, garbage)
    finish(row, cfg, tok, htmlByteLen, dec.text.length, dec.charset, garbage)
  }

  /** Steps 2a–6 (rotate → deskew → classify → artifacts → boundary →
    * assemble) — shared verbatim by the byte and decoded paths; everything
    * past tokenization sees only the Block array.
    */
  private def finish(row: PageRow, cfg: Config, tok: HtmlTokenizer.Result,
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
    if (cfg.boundaryCrop) {
      val region = cfg.boundaryKind match {
        case "separators" =>
          Boundary.findSeparatorFrame(blocks, labels)
            .orElse(Boundary.find(blocks, labels))
        case _ => Boundary.find(blocks, labels)
      }
      labels = Boundary(labels, region)
    }
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

  /** Idempotence check helper for tests: extraction output re-fed as a bare
    * text page must extract to itself (modulo the html wrapper) — in
    * practice we test `Canon(extracted) == extracted`.
    */
  def isCanonicalFixpoint(text: String): Boolean = {
    // block separator \n is canonical-unstable under Canon (collapses to
    // space), so the fixpoint contract is per-line
    text.split('\n').forall(line => Canon(line) == line)
  }
}
