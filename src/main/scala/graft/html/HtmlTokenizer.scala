package graft.html

import graft.core.Block
import graft.text.Canon

/** HTML → block sequence. The per-row analogue of the reference's pixel grid:
  * where PRLib sees a dense `cv::Mat`, we see an ordered array of DOM text
  * blocks with density features (SURVEY.md §1.2). Also the "structural
  * normalization" stage (deskew analogue, deskew.cpp:208-251): malformed HTML
  * (unclosed/misnested tags) is normalized by deterministic stack rules so
  * downstream heuristics see upright structure.
  *
  * Fully specified, zero dependencies — byte-identity of the final extraction
  * is won or lost here (SURVEY.md §7 M0.3). [[ByteTokenizer]] implements the
  * spec over UTF-8 bytes; this object holds what it needs besides: the caps,
  * the result type, the tag tables and the raw-block canonicalization.
  *
  * Parsing spec (deterministic):
  *  - `<name ...>`, `</name ...>` with name = [a-zA-Z][a-zA-Z0-9-]*; ASCII
  *    lowercased. `<!--...-->` comments, `<!...>` declarations, `<?...>`
  *    processing instructions are skipped. A `<` not starting one of these is
  *    literal text.
  *  - attributes are skipped quote-aware (a `>` inside "..." or '...' does
  *    not close the tag).
  *  - RAW-TEXT elements (content never parsed as markup, text DISCARDED):
  *    script, style, textarea, title.
  *  - SUPPRESSED subtrees (tags parsed, text discarded): head, noscript,
  *    template, svg, iframe, object, embed, applet, audio, video, canvas,
  *    select, datalist.
  *  - VOID elements (never pushed): area base br col embed hr img input link
  *    meta param source track wbr.
  *  - BLOCK-boundary tags flush the current block on open AND close; all
  *    other elements are inline (text flows through).
  *  - close tag: if its name is on the stack, pop through it (implicitly
  *    closing inner unclosed elements); otherwise ignored. Either way a block
  *    tag still flushes.
  *  - `<a>` increments link depth (tracked via the stack, so unclosed
  *    anchors end with their parent).
  *  - caps (resize.cpp:29-62 analogue — bound worst-case row cost): input
  *    chars, emitted blocks, stack depth; exceeding a cap sets `truncated`
  *    and stops cleanly. The char cap cuts at a code-point boundary: a
  *    surrogate pair it would split is left out whole. Never throws.
  */
object HtmlTokenizer {

  final case class Result(blocks: Array[Block], truncated: Boolean)

  final case class Caps(maxChars: Int = 2000000, maxBlocks: Int = 50000, maxDepth: Int = 256)
  val DefaultCaps: Caps = Caps()

  private[html] val blockTags: Set[String] = Set(
    "html", "body", "p", "div", "section", "article", "header", "footer",
    "nav", "aside", "main", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol",
    "li", "table", "thead", "tbody", "tfoot", "tr", "td", "th", "caption",
    "blockquote", "pre", "br", "hr", "form", "fieldset", "legend", "figure",
    "figcaption", "dl", "dt", "dd", "details", "summary", "address", "center",
    "dialog", "menu")

  private[html] val voidTags: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr")

  private[html] val rawTextTags: Set[String] = Set("script", "style", "textarea", "title")

  // foreign-content roots: the ONLY elements whose self-closing solidus is
  // honored (WHATWG: for HTML elements the trailing '/' is ignored and the
  // element stays open; honoring it generally mis-parses unquoted attribute
  // values ending in '/', e.g. href=http://x/ — which silently dropped the
  // <a> push and corrupted link accounting)
  private[html] val foreignRoots: Set[String] = Set("svg", "math")

  private[html] val suppressTags: Set[String] = Set(
    "head", "noscript", "template", "svg", "iframe", "object", "embed",
    "applet", "audio", "video", "canvas", "select", "datalist")

  /** Hot-path tag metadata: one lookup instead of five string-Set probes,
    * with the name already interned (no per-tag String allocation for any
    * known tag). Unknown/custom tags fall back to the string path.
    */
  private[html] final class TagInfo(val name: String, val block: Boolean,
      val void: Boolean, val rawText: Boolean, val suppress: Boolean,
      val foreign: Boolean, val anchor: Boolean)

  /** 6-bit-per-char code of a lowercase tag name (a-z, 0-9, '-'; ≤ 10 chars
    * — every HTML tag name fits). -1 when uncodable.
    */
  private def tagCode(s: String): Long = {
    if (s.length > 10) return -1L
    var code = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val v =
        if (c >= 'a' && c <= 'z') c - 'a' + 1
        else if (c >= '0' && c <= '9') c - '0' + 27
        else if (c == '-') 37
        else return -1L
      code = (code << 6) | v
      i += 1
    }
    code
  }

  private[html] val tagTable: scala.collection.mutable.LongMap[TagInfo] = {
    val m = new scala.collection.mutable.LongMap[TagInfo](256)
    val known = blockTags ++ voidTags ++ rawTextTags ++ suppressTags ++
      foreignRoots ++ Set("a", "span", "em", "strong", "b", "i", "u", "small",
        "sub", "sup", "code", "label", "time", "abbr", "cite", "q", "s",
        "mark", "tt", "font", "big", "ins", "del", "kbd", "samp", "var",
        "bdi", "bdo", "ruby", "rt", "rp", "data", "output", "picture",
        "button", "option", "optgroup", "a")
    known.foreach { t =>
      val code = tagCode(t)
      require(code >= 0, s"uncodable known tag $t")
      m(code) = new TagInfo(t, blockTags(t), voidTags(t), rawTextTags(t),
        suppressTags(t), foreignRoots(t), t == "a")
    }
    m
  }

  /** `html` tokenized on the byte path, by way of its UTF-8 encoding. For
    * text without lone surrogates (which `getBytes` turns into '?') — so for
    * all [[Decode]] output — this is the tokenization of the page the text
    * was decoded from. The engine does not call it: it stays because the
    * perfbench trace does.
    */
  def apply(html: String, caps: Caps = DefaultCaps): Result = {
    val u8 = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ByteTokenizer.tokenize(u8, 0, u8.length, caps)
  }

  /** Canonicalized view of an accumulated block string + link runs — the
    * single definition of "raw → Block fields", used by [[ByteTokenizer]]'s
    * raw flush and by the String reference tokenizer of the tests (so the
    * two cannot drift). Returns null when the canonical text is empty.
    */
  private[html] final class RawBlock(val text: String, val nTokens: Int,
      val linkChars: Int, val linkTokens: Int)

  private[html] def canonRaw(raw: java.lang.StringBuilder,
      linkRuns: scala.collection.mutable.ArrayBuffer[Long]): RawBlock = {
    val canon = Canon(raw.toString)
    if (canon.isEmpty) return null
    var linkChars = 0
    var linkTokens = 0
    var r = 0
    while (r < linkRuns.length) {
      val packed0 = linkRuns(r)
      val s = (packed0 >>> 32).toInt
      val e = (packed0 & 0xffffffffL).toInt
      if (e > s) {
        // ASCII fast path: count the canonical chars/tokens of the run
        // without materializing Canon(substring) (same rules; Canon
        // fallback for non-ASCII where NFC could apply)
        val packed = canonCountAscii(raw, s, e)
        if (packed >= 0) {
          linkChars += (packed >>> 32).toInt
          linkTokens += (packed & 0xffffffffL).toInt
        } else {
          val seg = Canon(raw.substring(s, e))
          linkChars += seg.length
          linkTokens += Canon.tokenCount(seg)
        }
      }
      r += 1
    }
    val nTok = Canon.tokenCount(canon)
    new RawBlock(canon, nTok, math.min(linkChars, canon.length),
      math.min(linkTokens, nTok))
  }

  /** Canonical (chars, tokens) of `sb[s, e)` under Canon's exact rules for
    * ASCII content, WITHOUT building the canonical string: whitespace runs
    * collapse to one space (leading/trailing dropped), other control chars
    * removed. Returns -1 when a non-ASCII char is present (NFC could apply
    * — caller falls back to Canon). Packed (chars << 32 | tokens).
    */
  private def canonCountAscii(sb: java.lang.StringBuilder, s: Int, e: Int): Long = {
    var chars = 0
    var spaces = 0
    var pendingSpace = false
    var i = s
    while (i < e) {
      val c = sb.charAt(i)
      if (c >= 0x80) return -1L
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0b) {
        pendingSpace = true
      } else if (c < ' ' || c == 0x7f) {
        () // control: removed
      } else {
        if (pendingSpace && chars > 0) { spaces += 1; chars += 1 }
        pendingSpace = false
        chars += 1
      }
      i += 1
    }
    val tokens = if (chars == 0) 0 else spaces + 1
    (chars.toLong << 32) | tokens.toLong
  }
}
