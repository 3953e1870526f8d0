package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.{ByteTokenizer, Decode, HtmlTokenizer}
import graft.pipeline.Extract
import scala.util.Random

/** Raw BYTE-level differential fuzzing of the engine's route — the
  * structured adversarial suite (ByteTokenizerSpec) composes well-formed
  * fragments; this one emits byte soup with no grammar at all, so
  * tag/entity/UTF-8 seams land at arbitrary positions (mid-word-lane,
  * mid-entity, mid-sequence) that a fragment composer cannot reach
  * (graft.Differential):
  *
  *   - tokenizer level: `Decode.utf8` onto `ByteTokenizer` must equal
  *     `StringTokenizer(Decode(bytes).text)` block-for-block (truncated flag
  *     included), over the bytes in place when they are valid UTF-8 and
  *     over the transcoded view otherwise — at the default caps and under
  *     one small char cap per document, whose cut lands anywhere;
  *   - pipeline level: for EVERY doc — valid or invalid UTF-8, in place or
  *     transcoded — `Extract.apply == ExtractDecoded` and neither throws.
  *
  * The generator intentionally produces invalid UTF-8 some of the time; those
  * docs exercise the prescan-reject → transcode seam, which is as much a
  * part of the contract as the fast path itself. Latin letters next to
  * combining marks (raw and as entities) pin the split between the fused
  * Latin flush and the raw/NFC flush.
  */
class ByteFuzzSpec extends AnyFunSuite {
  import Differential.{assertBlocksEqual, assertExtractEqual, row}

  /** The small char cap of soup document `k` (varied without drawing from
    * the generator's random stream).
    */
  private def smallCap(k: Int): HtmlTokenizer.Caps = HtmlTokenizer.Caps(maxChars = 16 + (k * 37) % 256)

  // (indexing an inline Array(...) literal would feed the index to
  // Array.apply's implicit ClassTag list — hence the helper)
  private def pick[T](rng: Random, xs: Array[T]): T = xs(rng.nextInt(xs.length))

  /** One random byte-soup document. Tokens are emitted at BYTE granularity:
    * ASCII words, whitespace of every kind, bare and structural '<'/'&'/'>',
    * quote characters, truncated tags and entities, valid multi-byte UTF-8
    * (2/3/4-byte incl. NEL/nbsp/line-sep/astral), C0/C1 controls, and — with
    * small probability — raw continuation/lead bytes that break UTF-8.
    */
  private def soup(rng: Random, allowInvalid: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(2048)
    def s(str: String): Unit = out.write(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val tags = Array("p", "div", "a", "b", "span", "li", "ul", "script",
      "style", "textarea", "title", "head", "body", "html", "table", "td",
      "tr", "br", "img", "svg", "noscript", "h1", "blockquote", "custom-x")
    val ents = Array("&amp;", "&lt;", "&gt;", "&nbsp;", "&#233;", "&#x20AC;",
      "&#x1F600;", "&quot;", "&apos;", "&shy;", "&#8203;", "&mdash;",
      "&eacute;", "&#x301;")
    val n = 20 + rng.nextInt(300)
    var k = 0
    while (k < n) {
      rng.nextInt(26) match {
        case 0 | 1 | 2 | 3 | 4 | 5 | 6 | 7 =>
          // ASCII word of random length (crosses 8-byte lanes arbitrarily)
          val len = 1 + rng.nextInt(20)
          var j = 0
          while (j < len) { out.write('a' + rng.nextInt(26)); j += 1 }
        case 8 | 9 | 10 =>
          // whitespace run, mixed kinds
          val len = 1 + rng.nextInt(4)
          val ws = Array(' ', '\t', '\n', '\u000b', '\f', '\r')
          var j = 0
          while (j < len) { out.write(ws(rng.nextInt(6))); j += 1 }
        case 11 =>
          s("<" + tags(rng.nextInt(tags.length)) +
            (if (rng.nextBoolean()) "" else " x=\"" + rng.nextInt(100) + "\"") +
            (if (rng.nextInt(8) == 0) "/>" else ">"))
        case 12 =>
          s("</" + tags(rng.nextInt(tags.length)) + ">")
        case 13 => s(ents(rng.nextInt(ents.length)))
        case 14 =>
          // broken entity / bare ampersand
          s(pick(rng, Array("&", "&#", "&#x", "&amp", "&bogus;",
            "&#99999999;", "&#xD800;", "& ")))
        case 15 =>
          // bare structural bytes where no tag can start
          s(pick(rng, Array("<", ">", "< ", "<1", "</ ", "<!", "\"", "'")))
        case 16 =>
          // truncated tag opener (often unterminated to EOF if last)
          s("<" + tags(rng.nextInt(tags.length)) + " attr='")
        case 17 =>
          // comment / doctype / PI, sometimes unterminated
          s(pick(rng, Array("<!-- c <p>x</p> -->", "<!-- open",
            "<!DOCTYPE html>", "<?pi x?>", "<![CDATA[y]]>")))
        case 18 =>
          // 2-byte UTF-8: latin letters up to the last char below U+0300,
          // combining marks from U+0300 (after a letter: raw/NFC flush), NEL,
          // C1-ish, Greek
          s(pick(rng, Array("\u00e9", "\u00fc", "\u0085", "\u00a0",
            "\u00ad", "\u0391", "\u0153", "\u017f", "\u02ff", "\u0300",
            "\u0301", "\u0340")))
        case 19 =>
          // 3-byte UTF-8: CJK, line/para sep, zero-width, FFFD, bidi
          s(pick(rng, Array("\u4e16", "\u2028", "\u2029", "\u200b",
            "\ufffd", "\u2014", "\u3000", "\u200f")))
        case 20 =>
          // 4-byte UTF-8 (astral)
          s(pick(rng, Array("\ud83d\ude00", "\ud83c\udf55",
            new String(Character.toChars(0x10348)))))
        case 21 =>
          // C0 controls + DEL (garbage-counted; stripped by Canon)
          out.write(pick(rng, Array(0x00, 0x01, 0x07, 0x1b, 0x7f)))
        case 22 =>
          s(pick(rng, Array("<script>a && b < c; \"</scr\"</script>",
            "<style>p{}</style>", "<textarea>&amp; raw</textarea>",
            "<title>t</title>", "<noscript>&x <y</noscript>")))
        case 23 if allowInvalid && rng.nextInt(3) == 0 =>
          // invalid UTF-8: lone continuation, truncated lead, overlong, F5+
          out.write(pick(rng, Array(
            Array(0x80), Array(0xc3), Array(0xc0, 0xaf), Array(0xe0, 0x80, 0x80),
            Array(0xed, 0xa0, 0x80), Array(0xf5, 0x90, 0x80, 0x80),
            Array(0xf0, 0x28))).map(_.toByte))
        case _ =>
          out.write(' ')
      }
      k += 1
    }
    out.toByteArray
  }

  test("tokenizer equivalence on 600 byte-soup documents (valid UTF-8)") {
    val rng = new Random(0x5eed0517L)
    var k = 0
    var compared = 0
    while (k < 600) {
      val bytes = soup(rng, allowInvalid = false)
      val plan = Decode.utf8Plan(bytes)
      if (plan != null && ByteTokenizer.prescan(bytes, plan.offset).valid) compared += 1
      assertBlocksEqual(s"soup-$k", bytes)
      assertBlocksEqual(s"soup-$k-cap", bytes, smallCap(k))
      k += 1
    }
    // the generator must actually exercise the byte path, not vacuously skip
    assert(compared >= 500, s"only $compared/600 soup docs were byte-path eligible")
  }

  test("Extract equivalence + never-throw on 600 byte-soup documents (invalid UTF-8 included)") {
    val rng = new Random(0xf00dfeedL)
    def check(url: String, bytes: Array[Byte], caps: HtmlTokenizer.Caps): Unit = {
      assertBlocksEqual(url, bytes)
      assertExtractEqual(row(url, bytes))
      assertBlocksEqual(s"$url-cap", bytes, caps)
      assertExtractEqual(row(s"$url-cap", bytes), Extract.Config(caps = caps))
    }
    var k = 0
    var fellBack = 0
    var utf16 = 0
    while (k < 600) {
      val bytes = soup(rng, allowInvalid = true)
      val plan = Decode.utf8Plan(bytes)
      if (plan == null || !ByteTokenizer.prescan(bytes, plan.offset).valid) fellBack += 1
      check(s"soup-x-$k", bytes, smallCap(k))
      // every tenth soup once more, as UTF-16 behind a BOM (an extra input:
      // the raw soup above is checked either way)
      if (k % 10 == 9) {
        val le = k % 20 == 9
        val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        val u16 = (if (le) Array(0xff, 0xfe) else Array(0xfe, 0xff)).map(_.toByte) ++
          text.getBytes(if (le) java.nio.charset.StandardCharsets.UTF_16LE
            else java.nio.charset.StandardCharsets.UTF_16BE)
        assert(Decode.utf8Plan(u16) == null, s"soup-x-$k-utf16: plan")
        check(s"soup-x-$k-utf16", u16, smallCap(k))
        utf16 += 1
      }
      k += 1
    }
    // the invalid-UTF-8 fallback seam must actually fire in this corpus
    assert(fellBack >= 50, s"only $fellBack/600 docs hit the fallback seam")
    assert(utf16 == 60)
  }

  test("lane-boundary torture: specials at every offset mod 8") {
    // place each special byte at every position within an 8-byte word so the
    // SWAR mask extraction (trailing-zeros >>> 3 arithmetic) is pinned at
    // every lane; padding is visible ASCII
    val specials = Array("<p>", "</p>", "&amp;", "&", "<", "\t", "\u00a0",
      "\u200b", "\ud83d\ude00", "\u0007")
    for (sp <- specials; off <- 0 until 8) {
      val doc = "<html><body><p>" + ("x" * off) + sp + "yz " + ("w" * (8 - off)) +
        "</p></body></html>"
      assertBlocksEqual(s"lane-$off-${sp.hashCode}",
        doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}
