package graft.html

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

/** Charset sniffing, and the one charset route of the engine: [[utf8]]
  * turns any page into the UTF-8 bytes [[ByteTokenizer]] reads — a UTF-8
  * page in place, a windows-1252 page transcoded straight from its bytes,
  * any other page decoded and re-encoded. [[apply]] decodes to a UTF-16
  * String, the text whose char offsets the engine reports.
  *
  * Transplant of the reference's lossless representation converters
  * (formatConvert.cpp:38-109 opencv→leptonica and :111-219 back): a
  * deterministic, fully-specified change of representation at the pipeline
  * edge. Detection order is FIXED (byte-identity depends on it):
  *
  *   1. BOM: UTF-8 / UTF-16LE / UTF-16BE
  *   2. `<meta charset=...>` / `<meta http-equiv content="...charset=...">`
  *      within the first 1024 bytes (ASCII-superset scan)
  *   3. strict whole-input UTF-8 validation
  *   4. windows-1252 fallback (every byte decodes; WHATWG-style)
  *
  * Malformed sequences under a declared charset decode to U+FFFD (REPLACE) —
  * never throw per-row (reference throws on bad input, binarizeSauvola.cpp:38-41;
  * at 10^12 rows we quarantine instead, SURVEY.md §2.1).
  */
object Decode {

  final case class Decoded(text: String, charset: String)

  private val Win1252 = Charset.forName("windows-1252")

  /** Charset label normalization (subset of the WHATWG encoding registry that
    * our fixtures + common crawl pages realistically use). ISO-8859-1 is
    * treated as windows-1252 per WHATWG.
    */
  private def resolveLabel(label: String): Option[Charset] = {
    val l = label.trim.toLowerCase(java.util.Locale.ROOT)
    l match {
      case "utf-8" | "utf8" | "unicode-1-1-utf-8" => Some(StandardCharsets.UTF_8)
      case "iso-8859-1" | "latin1" | "latin-1" | "l1" | "iso8859-1" |
          "iso_8859-1" | "windows-1252" | "cp1252" | "x-cp1252" | "ascii" |
          "us-ascii" | "ansi_x3.4-1968" =>
        Some(Win1252)
      case "utf-16" | "utf-16le" => Some(StandardCharsets.UTF_16LE)
      case "utf-16be" => Some(StandardCharsets.UTF_16BE)
      case _ => None
    }
  }

  /** Scan the ASCII-visible prefix for a meta-declared charset — the WHATWG
    * encoding-sniffing prescan shape: comments are skipped, only real
    * `<meta` tags (not `<metadata`) are inspected, attributes are parsed
    * quote-aware, and a charset is taken from the `charset` attribute or —
    * only for `http-equiv=content-type` — from `charset=` inside the
    * `content` value. A bare `charset=` inside unrelated attribute text
    * (e.g. a description) is NOT a declaration. Deterministic: first match
    * wins, scan window = first 1024 bytes.
    */
  private[html] def sniffMeta(bytes: Array[Byte]): Option[String] = {
    // one char per byte (an ASCII-superset view), copied in one intrinsic
    val prefix = new String(bytes, 0, math.min(bytes.length, 1024),
      StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
    val len = prefix.length

    var i = 0
    while (i < len) {
      val lt = prefix.indexOf('<', i)
      if (lt < 0) return None
      if (prefix.startsWith("<!--", lt)) {
        val end = prefix.indexOf("-->", lt + 4)
        i = if (end < 0) len else end + 3
      } else if (prefix.startsWith("<meta", lt) && lt + 5 < len &&
        (isWsChar(prefix.charAt(lt + 5)) || prefix.charAt(lt + 5) == '/')) {
        // parse attributes quote-aware up to '>'
        var j = lt + 5
        var charsetAttr: String = null
        var httpEquiv: String = null
        var contentAttr: String = null
        var done = false
        while (j < len && !done) {
          val c = prefix.charAt(j)
          if (c == '>') done = true
          else if (isWsChar(c) || c == '/') j += 1
          else {
            // attribute name
            val ns = j
            while (j < len && !isWsChar(prefix.charAt(j)) &&
              prefix.charAt(j) != '=' && prefix.charAt(j) != '>' &&
              prefix.charAt(j) != '/') j += 1
            val name = prefix.substring(ns, j)
            while (j < len && isWsChar(prefix.charAt(j))) j += 1
            var value = ""
            if (j < len && prefix.charAt(j) == '=') {
              j += 1
              while (j < len && isWsChar(prefix.charAt(j))) j += 1
              if (j < len && (prefix.charAt(j) == '"' || prefix.charAt(j) == '\'')) {
                val q = prefix.charAt(j)
                val vs = j + 1
                val ve = prefix.indexOf(q, vs)
                if (ve < 0) { value = prefix.substring(vs); j = len }
                else { value = prefix.substring(vs, ve); j = ve + 1 }
              } else {
                val vs = j
                while (j < len && !isWsChar(prefix.charAt(j)) && prefix.charAt(j) != '>') j += 1
                value = prefix.substring(vs, j)
              }
            }
            name match {
              case "charset" => if (charsetAttr == null) charsetAttr = value
              case "http-equiv" => if (httpEquiv == null) httpEquiv = value
              case "content" => if (contentAttr == null) contentAttr = value
              case _ => ()
            }
          }
        }
        if (!done) return None // meta tag truncated by the 1024-byte window
        val label =
          if (charsetAttr != null && charsetAttr.nonEmpty) charsetAttr.trim
          else if (httpEquiv == "content-type" && contentAttr != null) {
            val at = contentAttr.indexOf("charset=")
            if (at < 0) null
            else {
              var s = at + "charset=".length
              if (s < contentAttr.length &&
                (contentAttr.charAt(s) == '"' || contentAttr.charAt(s) == '\'')) s += 1
              var e = s
              while (e < contentAttr.length && isLabelChar(contentAttr.charAt(e))) e += 1
              if (e > s) contentAttr.substring(s, e) else null
            }
          } else null
        if (label != null && label.nonEmpty) return Some(label)
        i = j + 1
      } else i = lt + 1
    }
    None
  }

  @inline private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  private def isLabelChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      c == '-' || c == '_' || c == '.' || c == ':'

  private def decodeWith(bytes: Array[Byte], offset: Int, cs: Charset): String =
    // the String constructor REPLACEs malformed input and unmappable chars
    // exactly like the previous explicit CharsetDecoder (JLS-specified), but
    // goes through the JDK's intrinsified decode loops — measurably faster
    // than CharsetDecoder + CharBuffer.toString, with one copy fewer
    new String(bytes, offset, bytes.length - offset, cs)

  /** The fixed detection order's decision for one document, made once (the
    * meta sniff copies and lowercases up to 1024 chars, so it must not run
    * twice per doc): the charset to decode with, the content offset (BOM
    * skip) and the label [[apply]] reports. [[Undeclared]] is conditional —
    * it holds only when the bytes validate as UTF-8, otherwise the document
    * is windows-1252 ([[Fallback]]). Every other plan is final: malformed
    * input under it decodes to U+FFFD (REPLACE).
    */
  private final class Plan(val cs: Charset, val offset: Int, val label: String) {
    def isUtf8: Boolean = cs eq StandardCharsets.UTF_8
  }

  private val Undeclared = new Plan(StandardCharsets.UTF_8, 0, "utf-8")
  private val Fallback = new Plan(Win1252, 0, "windows-1252-fallback")
  private val Utf8Bom = new Plan(StandardCharsets.UTF_8, 3, "utf-8-bom")
  private val Utf16LeBom = new Plan(StandardCharsets.UTF_16LE, 2, "utf-16le-bom")
  private val Utf16BeBom = new Plan(StandardCharsets.UTF_16BE, 2, "utf-16be-bom")
  private val MetaUtf8 = new Plan(StandardCharsets.UTF_8, 0, "meta:utf-8")
  private val MetaWin1252 = new Plan(Win1252, 0, "meta:windows-1252")

  /** Steps 1–2 of the detection order; [[Undeclared]] when neither a BOM
    * nor a meta declaration decides. Non-empty input only.
    */
  private def plan(bytes: Array[Byte]): Plan = {
    // 1. BOM
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
      (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf) return Utf8Bom
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
      return Utf16LeBom
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      return Utf16BeBom
    // 2. meta-declared
    sniffMeta(bytes).flatMap(resolveLabel) match {
      // WHATWG: a meta-declared UTF-16 label is remapped to UTF-8 — the
      // prescan read the label through an ASCII-superset byte scan, which
      // proves the document is NOT UTF-16; decoding as UTF-16 would garble
      // the whole page
      case Some(cs) if cs eq Win1252 => MetaWin1252
      case Some(_) => MetaUtf8
      case None => Undeclared
    }
  }

  /** The detection order's UTF-8 decision, for code that rebuilds the
    * route of [[utf8]] step by step (the perfbench trace, StageFloor): when
    * it lands on UTF-8, the content offset (BOM skip) and the label for
    * valid input; null for another charset or empty input. The caller
    * still owes the validity check.
    */
  final class Utf8Plan(val offset: Int, val label: String)

  def utf8Plan(bytes: Array[Byte]): Utf8Plan = {
    if (bytes == null || bytes.isEmpty) return null
    val p = plan(bytes)
    if (p.isUtf8) new Utf8Plan(p.offset, p.label) else null
  }

  /** Decode page bytes; returns decoded text + the charset label chosen. */
  def apply(bytes: Array[Byte]): Decoded = {
    if (bytes == null || bytes.isEmpty) return Decoded("", "empty")
    val p = plan(bytes)
    // 3. UTF-8 validation, 4. fallback
    val q = if ((p ne Undeclared) || ByteTokenizer.prescan(bytes, 0).valid) p else Fallback
    Decoded(decodeWith(bytes, q.offset, q.cs), q.label)
  }

  /** A page as UTF-8: valid UTF-8 in `bytes[off, end)` (possibly the
    * thread's transcode buffer, valid until its next [[utf8]] call), the
    * charset label, and the prescan of the whole page — the length and
    * garbage count of [[apply]]'s text. `whole` is false only past the
    * transcode sizing limit, where the bytes hold a prefix of the page.
    */
  final class Utf8View private[Decode] (val bytes: Array[Byte], val off: Int,
      val end: Int, val label: String, val prescan: ByteTokenizer.Prescan, whole: Boolean) {
    /** The page's blocks; truncated when the bytes are a prefix. */
    def tokenize(caps: HtmlTokenizer.Caps = HtmlTokenizer.DefaultCaps): HtmlTokenizer.Result = {
      val r = ByteTokenizer.tokenize(bytes, off, end, caps)
      if (whole || r.truncated) r else r.copy(truncated = true)
    }
  }

  private def view(u8: Array[Byte], len: Int, label: String): Utf8View =
    new Utf8View(u8, 0, len, label, ByteTokenizer.prescan(u8, 0, len), true)
  private val EmptyView = view(Array.emptyByteArray, 0, "empty")

  /** The engine's charset route, decided once (one meta sniff per doc): a
    * page on UTF-8 whose bytes validate is read in place, windows-1252 is
    * transcoded from the bytes, and a UTF-16 BOM or declared UTF-8 repaired
    * with REPLACE is decoded and re-encoded. Never throws.
    */
  def utf8(bytes: Array[Byte]): Utf8View = {
    if (bytes == null || bytes.isEmpty) return EmptyView
    val p = plan(bytes)
    if (p.isUtf8) {
      val ps = ByteTokenizer.prescan(bytes, p.offset)
      if (ps.valid) return new Utf8View(bytes, p.offset, bytes.length, p.label, ps, true)
    }
    val q = if (p eq Undeclared) Fallback else p // 4. not UTF-8
    val u8 = if (q.cs eq Win1252) win1252ToUtf8(bytes) else null
    if (u8 != null) view(u8.bytes, u8.len, q.label)
    else encode(decodeWith(bytes, q.offset, q.cs), q.label)
  }

  /** Decoded text as UTF-8 — lossless: the JDK decoders under REPLACE never
    * emit a lone surrogate, the one char `getBytes` cannot encode. Past
    * `limit` units (where 3 bytes a unit could overflow an array) only a
    * prefix is encoded, backed off to a code-point boundary; the prescan
    * still counts the whole text.
    */
  private[graft] def encode(text: String, label: String, limit: Int = MaxTranscodeUnits): Utf8View = {
    if (text.length <= limit) {
      val u8 = text.getBytes(StandardCharsets.UTF_8)
      return view(u8, u8.length, label)
    }
    val k = if (Character.isHighSurrogate(text.charAt(limit - 1))) limit - 1 else limit
    val u8 = text.substring(0, k).getBytes(StandardCharsets.UTF_8)
    new Utf8View(u8, 0, u8.length, label,
      new ByteTokenizer.Prescan(true, text.length, graft.detect.Quality.garbageCount(text)), false)
  }

  // ---- windows-1252 → UTF-8: such a page is tokenized on the byte path,
  // re-encoded once into a per-thread buffer

  /** Per-thread transcode target: a call fills `bytes[0, len)`, and the next
    * call on the same thread overwrites it. Nothing that escapes extraction
    * points into it (block texts are fresh Strings).
    */
  private[graft] final class Utf8Buf {
    var bytes = new Array[Byte](1 << 16)
    var len = 0
    // capacity for `need` bytes; a buffer grown past 1 MiB by one big page
    // is dropped again at the next small one
    private[Decode] def ensure(need: Int): Array[Byte] = {
      if (bytes.length < need || bytes.length > (1 << 20) && need <= (1 << 18))
        bytes = new Array[Byte](math.max(need, 1 << 16))
      bytes
    }
  }
  // the longest input whose 3-bytes-per-unit sizing fits an array; longer
  // ones take the decode + re-encode route, which keeps a prefix
  private final val MaxTranscodeUnits = (Int.MaxValue - 16) / 3
  private val utf8TL: ThreadLocal[Utf8Buf] = ThreadLocal.withInitial(() => new Utf8Buf)

  /** UTF-8 encoding of each windows-1252 byte 0x80..0xFF, taken from the
    * JDK decoder itself (so it matches [[apply]] exactly, U+FFFD for the
    * five undefined bytes included): the bytes packed high to low in bits
    * 0..23, their count in bits 24..31.
    */
  private val Win1252Utf8: Array[Int] = Array.tabulate(128) { k =>
    val u = new String(Array((k + 0x80).toByte), Win1252).getBytes(StandardCharsets.UTF_8)
    var packed = 0
    u.foreach(b => packed = (packed << 8) | (b & 0xff))
    (u.length << 24) | packed
  }

  private final val HIGH = 0x8080808080808080L

  /** windows-1252 bytes → UTF-8, straight from the bytes (no intermediate
    * String). The result decodes to exactly `new String(src, windows-1252)`,
    * one UTF-16 unit per source byte. Null only past the sizing limit.
    */
  private[graft] def win1252ToUtf8(src: Array[Byte]): Utf8Buf = {
    val n = src.length
    if (n > MaxTranscodeUnits) return null
    val buf = utf8TL.get()
    val dst = buf.ensure(3 * n)
    val bb = ByteBuffer.wrap(src).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    var o = 0
    while (i < n) {
      if (src(i) >= 0) {
        // ASCII run: one arraycopy, extent found a word at a time
        var j = i + 1
        while (j + 8 <= n && (bb.getLong(j) & HIGH) == 0L) j += 8
        while (j < n && src(j) >= 0) j += 1
        System.arraycopy(src, i, dst, o, j - i)
        o += j - i
        i = j
      } else {
        val e = Win1252Utf8(src(i) & 0x7f)
        val len = e >>> 24
        if (len == 2) {
          dst(o) = (e >>> 8).toByte; dst(o + 1) = e.toByte
        } else {
          dst(o) = (e >>> 16).toByte; dst(o + 1) = (e >>> 8).toByte; dst(o + 2) = e.toByte
        }
        o += len
        i += 1
      }
    }
    buf.len = o
    buf
  }
}
