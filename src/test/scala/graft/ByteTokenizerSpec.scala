package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.FixtureGen
import graft.core.Status
import graft.html.{ByteTokenizer, Decode, HtmlTokenizer}
import graft.pipeline.{Extract, ExtractDecoded}
import java.nio.charset.StandardCharsets
import scala.util.Random

/** Differential equivalence of the engine's one route — `Decode.utf8`
  * onto `ByteTokenizer` — against the decoded-String reference semantics
  * (graft.Differential):
  *
  *   1. tokenizer level — the byte path == `StringTokenizer(Decode(bytes)
  *      .text)` block-for-block on every fixture corpus and on randomized
  *      adversarial documents (entities, non-ASCII, malformed markup,
  *      raw-text traps, astral chars), in every charset the route handles
  *      (UTF-8 in place; cp1252, UTF-16 BOM and REPLACE-repaired UTF-8
  *      transcoded) and at every char-cap cut;
  *   2. charset/prescan level — the UTF-8 view decodes to the decoded
  *      string under the same label, and its utf16 length and garbage count
  *      match the string's `length` / `Quality.garbageRatio` numerator;
  *   3. pipeline level — `Extract.apply == ExtractDecoded` on every corpus
  *      (status, text, spans, stats including charset label).
  *
  * Any future tokenizer change must keep this suite green — it is the
  * structural guard that the engine cannot drift from the reference.
  */
class ByteTokenizerSpec extends AnyFunSuite {
  import Differential.{assertBlocksEqual, assertExtractEqual, row}

  test("tokenizer + prescan equivalence across all fixture corpora") {
    val all =
      FixtureGen.fixtures(500) ++ FixtureGen.adversarial(150) ++
        FixtureGen.fbsect(60) ++ FixtureGen.cocoedge(60) ++
        FixtureGen.overwrap(60) ++ FixtureGen.colflow(60) ++
        FixtureGen.ruleCorpora.flatMap { case (_, gen, _) => gen(40) }
    all.foreach(f => assertBlocksEqual(f.page.url, f.page.html))
  }

  test("Extract byte path == decoded path across all fixture corpora") {
    val all =
      FixtureGen.fixtures(500) ++ FixtureGen.adversarial(150) ++
        FixtureGen.colflow(60) ++
        FixtureGen.ruleCorpora.flatMap { case (_, gen, _) => gen(40) }
    all.foreach(f => assertExtractEqual(f.page))
  }

  /** Random adversarial documents aimed at the byte/char seams: multi-byte
    * UTF-8 of every length, zero-width and NBSP whitespace, C1 controls,
    * entities valid and broken, raw-text close-tag traps, nested anchors,
    * unterminated tags.
    */
  private def randomDoc(rng: Random): String = {
    val frags = Array(
      "<p>plain text</p>",
      "<div>  spaced   out\t\n</div>",
      "caf\u00e9 d\u00e9j\u00e0 vu",
      "\u00a0\u00a0nbsp lead",
      "zero\u200bwidth\u200djoin\u00ad",
      "\u4f60\u597d\u4e16\u754c",
      "emoji \ud83d\ude00 pair",
      "ctrl\u0007bell\u009cC1\u0085NEL",
      "&amp; &lt;tag&gt; &quot;q&quot;",
      "&#233; &#x20AC; &#0; &#xD800; &unknown; &brokennosemi",
      "<a href=\"/x\">link text</a>",
      "<a href=http://ex.com/>unquoted</a>",
      "<ul><li><a href='/a'>A</a></li><li><a href='/b'>B C</a></li></ul>",
      "<script>var s = \"</scri\" + \"pt>\";</script>",
      "<style>p { color: red }</style>",
      "<textarea>raw <b>not bold</b></textarea>",
      "<title>t\u00edtulo</title>",
      "<!-- comment <p>not a block</p> -->",
      "<!DOCTYPE html>",
      "<?php echo 1; ?>",
      "<table><tr><td>c1</td><td>c2</td></tr></table>",
      "<svg><circle r=\"1\"/><text>hidden</text></svg>",
      "<math><mi>x</mi></math>",
      "<br><hr><img src=x>",
      "<b><i>misnested</b></i>",
      "</div></span>stray closes",
      "<div class=unquoted id=x>attr soup</div>",
      "<p title=\"quote > inside\">quoted gt</p>",
      "< notatag",
      "lone & ampersand",
      "\ufffd literal replacement",
      "<h2>Header \u2014 dash \u2026</h2>",
      "<blockquote cite='\u00fcml'>bq</blockquote>",
      "<noscript>suppressed text</noscript>",
      "<noscript>if (a &amp;&amp; b) x &lt; y; &unknown &#233;</noscript>",
      "<noscript>amp at close&</noscript>after",
      "<custom-elem>custom</custom-elem>",
      "<p>\u2028line sep\u2029para sep</p>",
      "<head><meta charset=\"utf-8\"><title>T</title></head>",
      "tail text no tag"
    )
    val sb = new StringBuilder("<html><body>")
    val n = 3 + rng.nextInt(20)
    var i = 0
    while (i < n) {
      sb.append(frags(rng.nextInt(frags.length)))
      if (rng.nextInt(3) == 0) sb.append('\n')
      i += 1
    }
    if (rng.nextInt(4) != 0) sb.append("</body></html>")
    if (rng.nextInt(8) == 0) sb.append("<p>unterminated <b")
    sb.toString
  }

  test("tokenizer equivalence on 400 randomized adversarial documents") {
    val rng = new Random(20260817L)
    var k = 0
    while (k < 400) {
      val doc = randomDoc(rng)
      assertBlocksEqual(s"random-$k", doc.getBytes(StandardCharsets.UTF_8))
      k += 1
    }
  }

  test("transcoded path: cp1252, UTF-16 BOM and REPLACE pages tokenize like their decoded text") {
    // the randomized documents in every encoding the pipeline transcodes:
    // a page's bytes differ per encoding, its decoded text (and so the
    // reference tokenization, offsets included) only where the encoding
    // cannot represent a char
    val rng = new Random(20261017L)
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val labels = scala.collection.mutable.Set.empty[String]
    var k = 0
    while (k < 200) {
      val doc = randomDoc(rng)
      val variants = Seq(
        doc.getBytes(cp1252), // undeclared: windows-1252 fallback
        ("<meta charset=\"windows-1252\">" + doc).getBytes(cp1252),
        ("<meta charset=\"utf-8\">" + doc).getBytes(cp1252), // REPLACE
        Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ // BOM UTF-8 with a bad byte
          (doc + "\u00e9").getBytes(StandardCharsets.UTF_8).dropRight(1),
        Array(0xff, 0xfe).map(_.toByte) ++ doc.getBytes(StandardCharsets.UTF_16LE),
        Array(0xfe, 0xff).map(_.toByte) ++ doc.getBytes(StandardCharsets.UTF_16BE))
      variants.zipWithIndex.foreach { case (b, v) =>
        labels += Decode(b).charset
        assertBlocksEqual(s"transcoded-$k-$v", b)
        assertExtractEqual(row(s"transcoded-$k-$v", b))
      }
      k += 1
    }
    assert(Set("windows-1252-fallback", "meta:windows-1252", "meta:utf-8",
      "utf-8-bom", "utf-16le-bom", "utf-16be-bom").subsetOf(labels), labels)
  }

  test("over-cap sweep: every char-cap cut, four encodings, byte path == reference") {
    // each page is cut at every maxChars from 0 past its end: through tags,
    // comments, entities, raw-text end tags and 2-, 3- and 4-byte chars
    // (a cut inside a surrogate pair leaves the pair out whole)
    val pages = Seq(
      "<html><body><p>caf\u00e9 cr\u00e8me " + ("word " * 60) +
        "</p><p>tail</p></body></html>",
      "<html><head><title>t\u00edtulo</title></head><body><p>a &amp; b &#x1F600; " +
        "&eacute;\u00a0x</p><!-- c\u00f6mment <p>no</p> --><script>s = \"</scr\" + " +
        "\"ipt>\";</script><p>\u4e16\u754c \ud83d\ude00\ud83c\udf55</p><p>cafe\u0301 \u00f1</p>" +
        "<ul><li><a href='/x'>l\u00ednk \u2014 \ud83d\ude00</a> after</li></ul>" +
        "<style>p{}</style><textarea>r&amp;w</textarea><p>&lt;end&gt; &#233</p></body></html>")
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    var okTruncated = 0
    pages.zipWithIndex.foreach { case (doc, d) =>
      Seq(doc.getBytes(StandardCharsets.UTF_8), // in place
        doc.getBytes(cp1252), // windows-1252 fallback
        ("<meta charset=\"utf-8\">" + doc).getBytes(cp1252), // REPLACE
        Array(0xff, 0xfe).map(_.toByte) ++ doc.getBytes(StandardCharsets.UTF_16LE))
        .zipWithIndex.foreach { case (b, v) =>
          val len = Decode(b).text.length
          (0 to len + 1).foreach { cap =>
            val url = s"cap-$d-$v-$cap"
            val caps = HtmlTokenizer.Caps(maxChars = cap)
            val tok = assertBlocksEqual(url, b, caps)
            assert(tok.truncated == (cap < len), url)
            val a = assertExtractEqual(row(url, b), Extract.Config(caps = caps))
            if (a.status == Status.Ok) {
              assert(a.stats.truncated == (cap < len), url)
              if (cap < len) okTruncated += 1
            }
          }
        }
    }
    assert(okTruncated > 1000, s"only $okTruncated truncated pages extracted")
  }

  test("re-encode past the sizing limit keeps a prefix and reports the whole page") {
    // the route a page takes when 3 bytes a unit would overflow an array,
    // with the limit lowered to a few units: the bytes keep a code-point
    // prefix, the prescan counts the whole text, and tokenizing it is
    // truncated even under a cap it does not reach
    val text = "<p>a\ud83d\ude00b\u0007c\ufffd</p><p>tail</p>"
    val cut = Decode.encode(text, "utf-16le-bom", limit = 5)
    assert(new String(cut.bytes, cut.off, cut.end - cut.off, StandardCharsets.UTF_8) == "<p>a")
    assert(cut.label == "utf-16le-bom")
    assert(cut.prescan.utf16Len == text.length && cut.prescan.garbage == 2)
    val r = cut.tokenize()
    assert(r.truncated && r.blocks.map(_.text).toSeq == Seq("a"))
    val whole = Decode.encode(text, "utf-16le-bom", limit = text.length)
    assert(whole.prescan.utf16Len == text.length && whole.prescan.garbage == 2)
    val w = whole.tokenize()
    assert(!w.truncated && w.blocks.map(_.text).toSeq == Seq("a\ud83d\ude00bc\ufffd", "tail"))
  }

  test("windows-1252 transcodes straight to the JDK decoder's chars, all 256 bytes") {
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    (0 until 256).foreach { v =>
      val b = Array(v.toByte)
      val u8 = Decode.win1252ToUtf8(b)
      assert(new String(u8.bytes, 0, u8.len, StandardCharsets.UTF_8) ==
        new String(b, cp1252), f"byte 0x$v%02x")
    }
    // every byte value between and inside ASCII runs of every length around
    // the 8-byte word scan
    val sb = new java.io.ByteArrayOutputStream()
    (0 until 256).foreach { v =>
      (0 until v % 19).foreach(i => sb.write('a' + i % 26))
      sb.write(v)
    }
    val mixed = sb.toByteArray
    val u8 = Decode.win1252ToUtf8(mixed)
    assert(java.util.Arrays.equals(java.util.Arrays.copyOf(u8.bytes, u8.len),
      new String(mixed, cp1252).getBytes(StandardCharsets.UTF_8)))
  }

  test("UTF-16 pages with unpaired surrogates decode to U+FFFD, never a lone surrogate") {
    // the premise that lets the pipeline re-encode decoded text with
    // getBytes (which would turn a lone surrogate into '?'): the JDK
    // decoders REPLACE an unpaired surrogate
    def u16le(units: Int*): Array[Byte] =
      Array(0xff, 0xfe).map(_.toByte) ++ units.flatMap(u => Seq(u.toByte, (u >> 8).toByte))
    def u16be(units: Int*): Array[Byte] =
      Array(0xfe, 0xff).map(_.toByte) ++ units.flatMap(u => Seq((u >> 8).toByte, u.toByte))
    val units = "<p>a".map(_.toInt) ++ Seq(0xd800, 'b'.toInt, 0xdc00, 0xd83d, 0xde00,
      'c'.toInt, 0xdbff) ++ "</p>".map(_.toInt) ++ Seq(0xd800)
    Seq(u16le(units: _*), u16be(units: _*), u16le(units: _*) :+ 'x'.toByte)
      .zipWithIndex.foreach { case (b, v) =>
        val t = Decode(b).text
        assert(!t.indices.exists { i =>
          val c = t.charAt(i)
          (Character.isHighSurrogate(c) &&
            (i + 1 >= t.length || !Character.isLowSurrogate(t.charAt(i + 1)))) ||
          (Character.isLowSurrogate(c) &&
            (i == 0 || !Character.isHighSurrogate(t.charAt(i - 1))))
        }, s"lone-$v: $t")
        assert(t.contains("\ufffd") && t.contains("\ud83d\ude00"), s"lone-$v: $t")
        assertBlocksEqual(s"lone-$v", b)
        assertExtractEqual(row(s"lone-$v", b))
      }
  }

  test("whitespace-torture equivalence (hole-patched bulk copy paths)") {
    // targets the r5 fused-flush bulk path that patches ISOLATED \t..\r
    // bytes to ' ' inside the word copy: isolated vs adjacent ws of every
    // ASCII kind, ws at word-lane boundaries, leading/trailing ws, ws
    // inside links (link-counter retraction), and a >128-hole block that
    // forces the patch-buffer-full retreat branch
    val wsChars = Array(' ', '\t', '\n', '\u000b', '\f', '\r')
    val rng = new Random(20260818L)
    var k = 0
    while (k < 300) {
      val sb = new StringBuilder("<html><body>")
      val inLink = rng.nextInt(3) == 0
      if (inLink) sb.append("<p><a href=\"/x\">") else sb.append("<p>")
      val words = 1 + rng.nextInt(30)
      var w = 0
      while (w < words) {
        if (rng.nextInt(5) == 0) sb.append(wsChars(rng.nextInt(6))) // leading/extra ws
        sb.append("w").append(('a' + rng.nextInt(26)).toChar.toString * (1 + rng.nextInt(12)))
        val run = 1 + (if (rng.nextInt(4) == 0) rng.nextInt(4) else 0)
        var r = 0
        while (r < run) { sb.append(wsChars(rng.nextInt(6))); r += 1 }
        w += 1
      }
      if (inLink) sb.append("</a> tail</p>") else sb.append("</p>")
      sb.append("</body></html>")
      assertBlocksEqual(s"ws-$k", sb.toString.getBytes(StandardCharsets.UTF_8))
      k += 1
    }
    // 400 isolated newlines in ONE block: the per-run patch budget (the
    // fast path stops admitting words at length-8 = 120 recorded holes)
    // forces the bulk run to SPLIT several times mid-block; every split
    // seam must hand the trailing patched space to the next run's
    // carry/retract machinery exactly
    val big = new StringBuilder("<html><body><p>")
    var i = 0
    while (i < 400) { big.append("word").append(i % 10).append('\n'); i += 1 }
    big.append("</p></body></html>")
    assertBlocksEqual("ws-overflow", big.toString.getBytes(StandardCharsets.UTF_8))
    // same but tab-separated and with a trailing-space edge per 8-byte lane
    val lanes = new StringBuilder("<html><body><p>")
    i = 0
    while (i < 64) { lanes.append("abcdefg".substring(0, 1 + i % 7)).append('\t'); i += 1 }
    lanes.append("end</p></body></html>")
    assertBlocksEqual("ws-lanes", lanes.toString.getBytes(StandardCharsets.UTF_8))
  }

  test("byte path engages on the clean corpus (not vacuous)") {
    // the differential tests are meaningless if utf8Plan never fires;
    // assert the fast path actually covers the bulk of the bench corpus
    val fx = FixtureGen.fixtures(200)
    val eligible = fx.count { f =>
      val plan = Decode.utf8Plan(f.page.html)
      plan != null && f.page.html.nonEmpty &&
        ByteTokenizer.prescan(f.page.html, plan.offset).valid
    }
    assert(eligible >= 150, s"only $eligible/200 fixtures took the byte path")
  }

  test("prescan rejects invalid UTF-8 and over-long docs fall back") {
    val bad = Array[Byte]('a', 0xc3.toByte, 'x') // truncated 2-byte seq
    assert(!ByteTokenizer.prescan(bad, 0).valid)
    // cp1252 bytes under a utf-8 meta label: plan fires, prescan rejects,
    // Extract must fall back to REPLACE semantics identical to the
    // decoded-String reference
    val html = "<html><head><meta charset=\"utf-8\"></head><body><p>" +
      "caf\u00e9 and more content here to pass the garbage gate, plus " +
      "enough words that the block is a real paragraph of text." +
      "</p></body></html>"
    val cp = html.getBytes(java.nio.charset.Charset.forName("windows-1252"))
    assert(Decode.utf8Plan(cp) != null)
    assert(!ByteTokenizer.prescan(cp, 0).valid)
    val a = Extract(row("u", cp))
    val b = ExtractDecoded(row("u", cp))
    assert(a.extracted_text == b.extracted_text && a.stats == b.stats)
    assert(a.extracted_text.contains("caf\ufffd"))
  }
}
