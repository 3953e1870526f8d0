package graft.pipeline

import graft.core._
import graft.detect.Quality
import graft.html.{Decode, StringTokenizer}

/** The decoded-String extraction: [[Extract]]'s gates and tail composed
  * over `Decode.apply` and the String reference tokenizer, the differential
  * reference for `Extract.apply` (ByteTokenizerSpec, ByteFuzzSpec). Nothing
  * in it shares the engine's charset route or tokenizer: the page is
  * decoded to a String, the garbage ratio counted on it, and the String
  * tokenized, cap included.
  */
object ExtractDecoded {

  def apply(row: PageRow, cfg: Extract.Config = Extract.Default): ExtractedDoc = {
    val htmlBytes = if (row.html == null) Array.emptyByteArray else row.html
    if (htmlBytes.isEmpty)
      return quarantine(row.url, Status.EmptyHtml, 0, 0, "empty", 0.0)
    val dec = Decode(htmlBytes)
    val garbage = Quality.garbageRatio(dec.text)
    if (garbage > cfg.maxGarbageRatio)
      return quarantine(row.url, Status.Garbage, htmlBytes.length, dec.text.length,
        dec.charset, garbage)
    val tok = StringTokenizer(dec.text, cfg.caps)
    if (tok.blocks.isEmpty)
      return quarantine(row.url, Status.NoBlocks, htmlBytes.length, dec.text.length,
        dec.charset, garbage)
    Extract.finish(row, cfg, tok, htmlBytes.length, dec.text.length, dec.charset, garbage)
  }

  private def quarantine(url: String, status: String, htmlBytes: Long,
      decodedChars: Int, charset: String, garbage: Double): ExtractedDoc =
    ExtractedDoc(url, "", Array.empty, status,
      DocStats(0, 0, htmlBytes, decodedChars, charset, truncated = false,
        qualityScore = 0.0, garbageRatio = garbage))
}
