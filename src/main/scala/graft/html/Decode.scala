package graft.html

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

/** Charset sniffing + decode of raw page bytes to a UTF-16 String, and the
  * windows-1252 → UTF-8 transcode that puts those pages on the byte
  * tokenizer straight from their bytes.
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

  private[graft] val Win1252 = Charset.forName("windows-1252")

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

  /** Strict UTF-8 validation without decoding twice. */
  def isValidUtf8(bytes: Array[Byte]): Boolean = {
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b < 0x80) i += 1
      else if (b < 0xc2) return false // continuation or overlong lead
      else if (b < 0xe0) { // 2-byte
        if (i + 1 >= n || (bytes(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (b < 0xf0) { // 3-byte
        if (i + 2 >= n) return false
        val b1 = bytes(i + 1) & 0xff; val b2 = bytes(i + 2) & 0xff
        val lo = if (b == 0xe0) 0xa0 else 0x80
        val hi = if (b == 0xed) 0x9f else 0xbf // exclude surrogates
        if (b1 < lo || b1 > hi || (b2 & 0xc0) != 0x80) return false
        i += 3
      } else if (b < 0xf5) { // 4-byte
        if (i + 3 >= n) return false
        val b1 = bytes(i + 1) & 0xff
        val lo = if (b == 0xf0) 0x90 else 0x80
        val hi = if (b == 0xf4) 0x8f else 0xbf
        if (b1 < lo || b1 > hi) return false
        if ((bytes(i + 2) & 0xc0) != 0x80 || (bytes(i + 3) & 0xc0) != 0x80) return false
        i += 4
      } else return false
    }
    true
  }

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
  private[graft] final class Plan(val cs: Charset, val offset: Int, val label: String) {
    def isUtf8: Boolean = cs eq StandardCharsets.UTF_8
  }

  private[graft] val Undeclared = new Plan(StandardCharsets.UTF_8, 0, "utf-8")
  private[graft] val Fallback = new Plan(Win1252, 0, "windows-1252-fallback")
  private val Utf8Bom = new Plan(StandardCharsets.UTF_8, 3, "utf-8-bom")
  private val Utf16LeBom = new Plan(StandardCharsets.UTF_16LE, 2, "utf-16le-bom")
  private val Utf16BeBom = new Plan(StandardCharsets.UTF_16BE, 2, "utf-16be-bom")
  private val MetaUtf8 = new Plan(StandardCharsets.UTF_8, 0, "meta:utf-8")
  private val MetaWin1252 = new Plan(Win1252, 0, "meta:windows-1252")

  /** Steps 1–2 of the detection order; [[Undeclared]] when neither a BOM
    * nor a meta declaration decides. Non-empty input only.
    */
  private[graft] def plan(bytes: Array[Byte]): Plan = {
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

  /** Decode under a final plan (not [[Undeclared]], whose validity the
    * caller has settled).
    */
  private[graft] def decode(bytes: Array[Byte], p: Plan): Decoded =
    Decoded(decodeWith(bytes, p.offset, p.cs), p.label)

  /** Charset-decision prefix of [[apply]] exposed for the byte-level fast
    * path (ByteTokenizer): when the fixed detection order lands on UTF-8,
    * returns the content offset (BOM skip) and the label [[apply]] WOULD
    * produce for valid input — the caller still owes a validity check and
    * must fall back to [[apply]] when validation fails (REPLACE semantics)
    * or when another charset is chosen (returned null).
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
    if (p ne Undeclared) decode(bytes, p)
    // 3. UTF-8 validation, 4. fallback
    else if (isValidUtf8(bytes)) Decoded(new String(bytes, StandardCharsets.UTF_8), "utf-8")
    else decode(bytes, Fallback)
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
  // larger inputs could overflow the 3-bytes-per-unit sizing; they stay on
  // the String path
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
