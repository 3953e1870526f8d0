package graft

import graft.core.PageRow
import graft.html.{Decode, HtmlTokenizer, StringTokenizer}
import graft.pipeline.{Extract, ExtractDecoded}
import org.scalatest.Assertions._

/** The engine against the decoded-String reference, shared by
  * ByteTokenizerSpec and ByteFuzzSpec. The engine side is the production
  * route (`Decode.utf8`, `ByteTokenizer`, `Extract.apply`); the reference
  * side is `Decode.apply`'s String through the test-only
  * [[StringTokenizer]] and [[ExtractDecoded]], never main's
  * `HtmlTokenizer.apply` (which is the byte path itself).
  */
object Differential {

  /** Charset route, prescan and tokenizer level under `caps`; returns the
    * engine's tokenization.
    */
  def assertBlocksEqual(url: String, bytes: Array[Byte],
      caps: HtmlTokenizer.Caps = HtmlTokenizer.DefaultCaps): HtmlTokenizer.Result = {
    val dec = Decode(bytes)
    val page = Decode.utf8(bytes)
    // the view is the decoded text as UTF-8, under the same label
    assert(page.label == dec.charset, s"$url: label")
    assert(new String(page.bytes, page.off, page.end - page.off,
      java.nio.charset.StandardCharsets.UTF_8) == dec.text, s"$url: UTF-8 view")
    val ps = page.prescan
    assert(ps.valid, s"$url: prescan valid")
    assert(ps.utf16Len == dec.text.length, s"$url: utf16Len")
    val expBad = dec.text.count(c => c == '\ufffd' || graft.text.Canon.isControl(c))
    assert(ps.garbage == expBad, s"$url: garbage count")
    val bt = page.tokenize(caps)
    val ct = StringTokenizer(dec.text, caps)
    assert(bt.truncated == ct.truncated, s"$url: truncated")
    assert(bt.blocks.length == ct.blocks.length,
      s"$url: block count ${bt.blocks.length} vs ${ct.blocks.length}")
    var i = 0
    while (i < ct.blocks.length) {
      assert(bt.blocks(i) == ct.blocks(i),
        s"$url block $i:\n byte: ${bt.blocks(i)}\n char: ${ct.blocks(i)}")
      i += 1
    }
    bt
  }

  /** Pipeline level: status, text, spans and stats (charset label
    * included); returns the engine's document.
    */
  def assertExtractEqual(page: PageRow,
      cfg: Extract.Config = Extract.Default): graft.core.ExtractedDoc = {
    val a = Extract(page, cfg)
    val b = ExtractDecoded(page, cfg)
    assert(a.status == b.status, s"${page.url}: status ${a.status} vs ${b.status}")
    assert(a.extracted_text == b.extracted_text, s"${page.url}: text")
    assert(a.spans.toSeq == b.spans.toSeq, s"${page.url}: spans")
    assert(a.stats == b.stats, s"${page.url}: stats\n ${a.stats}\n ${b.stats}")
    a
  }

  def row(url: String, bytes: Array[Byte]): PageRow =
    PageRow(url, new java.sql.Timestamp(0L), bytes, "", "en")
}
