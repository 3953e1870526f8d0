package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import graft.html.{ByteTokenizer, Decode, Entities, HtmlTokenizer}
import graft.text.Canon
import graft.classify.{Classifiers, Otsu, Smoothing, WindowStats}
import graft.clean.Artifacts
import graft.boundary.Boundary
import graft.core.Block

class DecodeSpec extends AnyFunSuite {
  test("utf-8 BOM detected and stripped") {
    val bytes = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "héllo".getBytes(StandardCharsets.UTF_8)
    val d = Decode(bytes)
    assert(d.charset == "utf-8-bom" && d.text == "héllo")
  }
  test("meta charset wins over content sniffing") {
    val html = "<html><head><meta charset=\"windows-1252\"></head><body>café</body></html>"
    val bytes = html.getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val d = Decode(bytes)
    assert(d.charset == "meta:windows-1252" && d.text.contains("café"))
  }
  test("meta http-equiv content charset") {
    val b = "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=windows-1252\">xé"
      .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    assert(Decode(b).charset == "meta:windows-1252")
  }
  test("valid utf-8 without declaration decodes as utf-8") {
    val d = Decode("grüße €".getBytes(StandardCharsets.UTF_8))
    assert(d.charset == "utf-8" && d.text == "grüße €")
  }
  test("invalid utf-8 falls back to windows-1252") {
    val d = Decode(Array[Byte]('a', 0xe9.toByte, 'b')) // é in cp1252, bad utf-8
    assert(d.charset == "windows-1252-fallback" && d.text == "aéb")
  }
  test("declared utf-8 with cp1252 bytes yields one U+FFFD per bad byte") {
    val html = "<meta charset=\"utf-8\">caféx"
    val d = Decode(html.getBytes(java.nio.charset.Charset.forName("windows-1252")))
    assert(d.text.endsWith("caf�x"))
  }
  test("empty input") { assert(Decode(Array.emptyByteArray).charset == "empty") }
  test("utf-8 validator rejects overlongs and surrogates") {
    def valid(b: Array[Byte]) = ByteTokenizer.prescan(b, 0).valid
    assert(!valid(Array(0xc0.toByte, 0xaf.toByte))) // overlong /
    assert(!valid(Array(0xed.toByte, 0xa0.toByte, 0x80.toByte))) // surrogate
    assert(valid("é€😀".getBytes(StandardCharsets.UTF_8)))
  }
}

class CanonSpec extends AnyFunSuite {
  test("whitespace collapse + trim") {
    assert(Canon("  a\t\tb\n\nc  ") == "a b c")
    assert(Canon("a b") == "a b") // nbsp is whitespace
  }
  test("zero-width and soft hyphen stripped") {
    assert(Canon("a​b­c﻿d") == "abcd")
  }
  test("NFC normalization") {
    assert(Canon("é") == "é") // e + combining acute → é
  }
  test("every pair of code points below U+0300 is already NFC") {
    // the premise of ByteTokenizer's fused Latin flush, which skips the NFC
    // pass for blocks whose visible chars are all below U+0300
    val pair = new Array[Char](2)
    var a = 0
    while (a < 0x300) {
      pair(0) = a.toChar
      var b = 0
      while (b < 0x300) {
        pair(1) = b.toChar
        val s = new String(pair)
        assert(java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC),
          f"U+$a%04X U+$b%04X")
        b += 1
      }
      a += 1
    }
    // and U+0300 is the first code point that breaks it after a letter
    assert(!java.text.Normalizer.isNormalized("e\u0300", java.text.Normalizer.Form.NFC))
  }
  test("control chars removed") { assert(Canon("abc") == "abc") }
  test("token count") {
    assert(Canon.tokenCount("") == 0)
    assert(Canon.tokenCount("one") == 1)
    assert(Canon.tokenCount("a b c") == 3)
  }
}

class EntitiesSpec extends AnyFunSuite {
  private def dec(s: String, at: Int) = Option(Entities.tryDecode(s, at))
  test("named entities") {
    assert(dec("&amp;", 0).contains(("&", 5)))
    assert(dec("&nbsp;", 0).contains((" ", 6)))
    assert(dec("&eacute;", 0).contains(("é", 8)))
  }
  test("numeric decimal and hex") {
    assert(dec("&#65;", 0).contains(("A", 5)))
    assert(dec("&#x20AC;", 0).contains(("€", 8)))
  }
  test("C1 numeric remap per WHATWG") {
    assert(dec("&#150;", 0).contains(("–", 6))) // 0x96 → en dash
  }
  test("invalid refs left literal") {
    assert(dec("&unknown;", 0).isEmpty)
    assert(dec("&amp", 0).isEmpty) // no semicolon
    assert(dec("&#xD800;", 0).contains(("�", 8))) // surrogate
  }
}

class TokenizerSpec extends AnyFunSuite {
  private def blocks(html: String) = HtmlTokenizer(html).blocks

  test("block segmentation at block tags") {
    val b = blocks("<html><body><p>one two</p><p>three</p></body></html>")
    assert(b.map(_.text).toSeq == Seq("one two", "three"))
    assert(b(0).idx == 0 && b(1).idx == 1)
  }
  test("inline tags do not split blocks") {
    val b = blocks("<p>a <b>bold</b> and <em>em</em> text</p>")
    assert(b.map(_.text).toSeq == Seq("a bold and em text"))
  }
  test("script/style/title content discarded") {
    val b = blocks("<head><title>T</title><style>p{}</style></head><body><script>if(1<2){}</script><p>x y z</p></body>")
    assert(b.map(_.text).toSeq == Seq("x y z"))
  }
  test("raw-text end tag requires >, /, or whitespace after the name") {
    // "</scripty" and a JS string holding "</scriptFoo>" must NOT end the
    // raw-text region (WHATWG raw-text end-tag rule; ADVICE r1)
    val b = blocks("<body><script>var a = '</scripty' + '</scriptFoo>';</script><p>kept text</p></body>")
    assert(b.map(_.text).toSeq == Seq("kept text"))
    // but "</script >" and "</script/>" do end it
    val b2 = blocks("<body><script>x=1;</script ><p>one</p><script>y=2;</script/><p>two</p></body>")
    assert(b2.map(_.text).toSeq == Seq("one", "two"))
  }
  test("link chars tracked") {
    val b = blocks("<p>intro <a href='/x'>link text</a> outro</p>")
    assert(b.length == 1)
    assert(b(0).nLinkChars == "link text".length)
    assert(b(0).nChars == "intro link text outro".length)
  }
  test("nested and unclosed anchors bounded by parent close") {
    val b = blocks("<div><a href='/'>all link</div><p>free text here</p>")
    assert(b(0).nLinkChars == b(0).nChars) // whole first block is link
    assert(b(1).nLinkChars == 0) // </div> closed the leaked <a>
  }
  test("entities decoded in text") {
    val b = blocks("<p>fish &amp; chips &#64; home</p>")
    assert(b(0).text == "fish & chips @ home")
  }
  test("comments and doctype skipped, literal < kept") {
    val b = blocks("<!DOCTYPE html><!-- c --><p>1 < 2 &lt; 3</p>")
    assert(b(0).text == "1 < 2 < 3")
  }
  test("stray close tags and misnesting tolerated") {
    val b = blocks("</div><p><b><i>t1</b></i></p><p>t2")
    assert(b.map(_.text).toSeq == Seq("t1", "t2"))
  }
  test("offsets point into decoded html") {
    val html = "<p>  hello</p>"
    val b = blocks(html)
    assert(html.substring(b(0).startOff, b(0).endOff) == "hello")
  }
  test("tagPath and depth") {
    val b = blocks("<html><body><div><p>x</p></div></body></html>")
    assert(b(0).tagPath == "html/body/div/p" && b(0).depth == 4)
  }
  test("body auto-closes head") {
    val b = blocks("<html><head><meta charset=utf-8><body><p>visible</p>")
    assert(b.map(_.text).toSeq == Seq("visible"))
  }
  test("caps: maxBlocks truncates cleanly") {
    val html = (1 to 100).map(i => s"<p>block $i</p>").mkString
    val r = HtmlTokenizer(html, HtmlTokenizer.Caps(maxBlocks = 10))
    assert(r.blocks.length == 10 && r.truncated)
  }
  test("caps: the char cap never splits a surrogate pair") {
    val html = "<p>ab\ud83d\ude00cd</p>"
    val r = HtmlTokenizer(html, HtmlTokenizer.Caps(maxChars = 6)) // cuts between the pair
    assert(r.truncated)
    assert(r.blocks.toSeq.map(b => (b.text, b.startOff, b.endOff)) == Seq(("ab", 3, 5)))
    assert(HtmlTokenizer(html, HtmlTokenizer.Caps(maxChars = 7)).blocks.map(_.text).toSeq ==
      Seq("ab\ud83d\ude00"))
  }
  test("empty and junk inputs never throw") {
    assert(HtmlTokenizer("").blocks.isEmpty)
    val junk = HtmlTokenizer("<<<>>>&&&")
    assert(!junk.truncated)
    assert(junk.blocks.toSeq.map(b => (b.text, b.startOff, b.endOff)) == Seq(("<<<>>>&&&", 0, 9)))
  }
}

class WindowStatsSpec extends AnyFunSuite {
  private val x = Array(1.0, 2.0, 3.0, 4.0, 5.0)
  private val ws = new WindowStats(x)
  test("window mean matches naive") {
    assert(ws.mean(2, 3) == 3.0) // (2+3+4)/3
    assert(ws.mean(0, 3) == 1.5) // clamped: (1+2)/2
    assert(ws.mean(4, 5) == 4.0) // clamped: (3+4+5)/3
  }
  test("window std matches closed form") {
    // window at 2, w=3: values 2,3,4 → var = 2/3
    assert(math.abs(ws.std(2, 3) - math.sqrt(2.0 / 3.0)) < 1e-12)
  }
  test("masked stats ignore zeros") {
    val m = new WindowStats(Array(0.0, 10.0, 0.0, 20.0, 0.0))
    assert(m.maskedMean(2, 5) == 15.0)
    assert(m.mean(2, 5) == 6.0)
  }
  test("median and minMax") {
    assert(ws.median(2, 3) == 3.0)
    assert(ws.minMax(2, 5) == ((1.0, 5.0)))
  }
  test("global aggregates") {
    assert(ws.globalMin == 1.0 && ws.globalMax == 5.0)
  }
}

class ClassifierSpec extends AnyFunSuite {
  private def mkBlocks(xs: Seq[Int]): Array[Block] =
    xs.zipWithIndex.map { case (c, i) =>
      Block("p", "t" * c, 0, c, c, math.max(1, c / 5), 0, 0, 1, i)
    }.toArray

  test("sauvola formula exact (unmasked, hand computed)") {
    // x = [100, 100, 100], w=3 ⇒ m=100, s=0 ⇒ t = 100*(1+k*(0/128-1)) = 100*(1-k)
    val cfg = Classifiers.Config(window = 3, k = 0.2, maskedStats = false)
    val t = Classifiers.thresholds(Array(100.0, 100.0, 100.0), cfg)
    assert(math.abs(t(1) - 80.0) < 1e-12)
  }
  test("niblack formula exact") {
    // values 0,100 window 3 at i=1 (clamped) ⇒ m=50, s=50 ⇒ t = 50 + 0.2*50 = 60
    val cfg = Classifiers.Config(kind = "niblack", window = 3, k = 0.2, maskedStats = false)
    val t = Classifiers.thresholds(Array(0.0, 100.0), cfg)
    assert(math.abs(t(0) - 60.0) < 1e-12)
  }
  test("nick formula exact") {
    val cfg = Classifiers.Config(kind = "nick", window = 3, k = -0.1, maskedStats = false)
    val t = Classifiers.thresholds(Array(100.0, 100.0), cfg)
    // m=100, s=0 ⇒ t = 100 - 0.1*sqrt(10000) = 90
    assert(math.abs(t(0) - 90.0) < 1e-12)
  }
  test("wolfjolion anchors to global min") {
    val cfg = Classifiers.Config(kind = "wolfjolion", window = 3, k = 0.5, maskedStats = false)
    // uniform signal: s=0 everywhere, min == m ⇒ t = m - k*(m - min) = m
    val t = Classifiers.thresholds(Array(50.0, 50.0, 50.0), cfg)
    assert(math.abs(t(1) - 50.0) < 1e-9)
    // bimodal: at a pure-high window the threshold drops below m by
    // k*(1 - s/sMax)*(m - globalMin)
    val x = Array(0.0, 0.0, 0.0, 200.0, 200.0, 200.0)
    val t2 = Classifiers.thresholds(x, cfg)
    assert(t2(4) < 200.0 && t2(4) > 0.0)
  }
  test("saturated content always kept under sauvola") {
    // any block with x=255 must be kept: t <= 255*(1+k*(smax/128-1)) < 255 for s<=127.5
    val blocks = mkBlocks(Seq(300, 5, 400, 5, 500, 5, 350, 300, 400))
    val keep = Classifiers.classify(blocks, Classifiers.Config())
    blocks.zipWithIndex.foreach { case (b, i) =>
      if (b.nChars >= 300) assert(keep(i), s"content block $i dropped")
      if (b.nChars <= 5) assert(!keep(i), s"tiny block $i kept")
    }
  }
  test("link-dense blocks never content") {
    val b = Array(
      Block("p", "x" * 300, 0, 0, 300, 60, 0, 0, 1, 0),
      Block("li", "y" * 300, 0, 0, 300, 60, 290, 58, 1, 1))
    val keep = Classifiers.classify(b)
    assert(keep(0) && !keep(1))
  }
  test("otsu separates bimodal") {
    val x = Array.fill(50)(10.0) ++ Array.fill(50)(200.0)
    val t = Otsu.threshold(x, 64)
    assert(t > 10 && t < 200)
  }
  test("median smoothing kills isolated islands, fills single gaps") {
    val l = Array(false, true, false, false, true, true, true, false, true, true)
    val s = Smoothing.median(l, 1)
    assert(!s(1)) // isolated island killed
    assert(s(4) && s(5) && s(6)) // run preserved
    assert(s(7)) // single gap between runs filled
  }
  test("open/close smoothing available") {
    val l = Array(false, true, false, false, true, true, true, true, true, false,
      true, true, true, true, true, false, false, false)
    val s = Smoothing(l, 2)
    assert(s.length == l.length)
  }
}

class ArtifactsSpec extends AnyFunSuite {
  private def blk(text: String, link: Int = 0, idx: Int = 0) =
    Block("p", text, 0, 0, text.length, Canon.tokenCount(text), link,
      0, 1, idx)

  test("separator blocks dropped") {
    val b = Array(blk("real content here"), blk("----------------"), blk("· · · · ·"))
    val l = Artifacts.dropSeparators(b, Array(true, true, true))
    assert(l.toSeq == Seq(true, false, false))
  }
  test("repeat runs killed") {
    val b = (0 until 200).map(i => if (i >= 50 && i < 60) blk("same", idx = i) else blk(s"unique $i", idx = i)).toArray
    val l = Artifacts.killRepeatRuns(b, Array.fill(200)(true))
    assert(!(50 until 60).exists(l(_)))
    assert(l(0) && l(199))
  }
  test("margin widgets dropped only in margins") {
    val n = 30
    val b = (0 until n).map { i =>
      if (i == 1 || i == n - 2) blk("Share Tweet", link = 8, idx = i)
      else blk("long enough content block " * 3, idx = i)
    }.toArray
    val l = Artifacts.dropMarginWidgets(b, Array.fill(n)(true))
    assert(!l(1) && !l(n - 2) && l(5))
  }
  test("near-dup collapse keeps first") {
    val b = Array(blk("repeat me"), blk("other"), blk("repeat me"))
    val l = Artifacts.collapseNearDups(b, Array(true, true, true))
    assert(l.toSeq == Seq(true, true, false))
  }
  test("tiny isolated specks dropped") {
    val b = Array(blk("xy"), blk("big block of real text"), blk("ab"))
    val l = Artifacts.dropTinyIsolated(b, Array(true, false, true))
    assert(l.toSeq == Seq(false, false, false))
  }
}

class BoundarySpec extends AnyFunSuite {
  private def blk(c: Int, i: Int) = Block("p", "x" * c, 0, 0, c, c / 5, 0, 0, 1, i)
  test("kadane finds the content region and crops strays") {
    val blocks = (0 until 20).map { i =>
      if (i >= 5 && i <= 12) blk(300, i) // main content
      else if (i == 18) blk(100, i) // stray teaser at the end
      else blk(10, i)
    }.toArray
    val labels = blocks.map(b => b.nChars >= 100)
    val r = Boundary.find(blocks, labels)
    assert(r.contains(Boundary.Region(5, 12)))
    val cropped = Boundary(labels, r)
    assert(!cropped(18) && cropped(5) && cropped(12))
  }
  test("no kept blocks → None; crop passthrough") {
    val blocks = (0 until 3).map(blk(10, _)).toArray
    assert(Boundary.find(blocks, Array(false, false, false)).isEmpty)
  }
}
