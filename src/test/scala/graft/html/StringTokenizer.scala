package graft.html

import graft.core.Block
import graft.text.Canon
import scala.collection.mutable.ArrayBuffer

/** The String tokenizer: the parsing spec of [[HtmlTokenizer]] run over
  * decoded UTF-16 text, one char at a time. It is the differential
  * reference the engine's [[ByteTokenizer]] is tested against
  * (ByteTokenizerSpec, ByteFuzzSpec): the two share the tag tables, entity
  * decoding, Canon and the raw-block canonicalization
  * (`HtmlTokenizer.canonRaw`), not the scanner, so a byte-path rule that
  * drifts from the spec shows up as a block difference. Its char cap backs
  * off to a code-point boundary like the byte path's.
  */
object StringTokenizer {
  import HtmlTokenizer._

  def apply(html: String, caps: Caps = DefaultCaps): Result =
    new Run(html, caps).run()

  /** One tokenization run with every piece of mutable state as a CLASS
    * FIELD: the previous closure form (nested defs capturing local vars)
    * compiled each captured var to a heap IntRef/ObjectRef cell, putting an
    * extra indirection on every access in the per-char hot loop. Behavior
    * is identical.
    */
  private final class Run(html: String, caps: Caps) {
    // the char cap, backed off to a code-point boundary: a surrogate pair
    // straddling it is left out whole, as the byte path leaves out its
    // 4-byte sequence
    private val n = {
      val m = math.min(html.length, caps.maxChars)
      if (m > 0 && m < html.length &&
        Character.isSurrogatePair(html.charAt(m - 1), html.charAt(m))) m - 1 else m
    }
    private val truncatedInput = html.length > caps.maxChars
    private val blocks = new ArrayBuffer[Block](64)
    private var truncated = truncatedInput

    // element stack + per-element flags (bit0 anchor, bit1 suppress) so
    // popThrough never re-probes the tag sets
    val stack = new ArrayBuffer[String](32)
    val stackFlags = new ArrayBuffer[Int](32)
    var anchorDepth = 0
    var suppressDepth = 0
    // tagPath cache: stack.mkString is per-BLOCK cost; most blocks share the
    // stack of their predecessor, so rebuild only after a stack mutation
    var cachedPath: String = ""
    var cachedPathValid = true // empty stack -> ""
    def currentPath(): String = {
      if (!cachedPathValid) {
        cachedPath = stack.mkString("/")
        cachedPathValid = true
      }
      cachedPath
    }

    // current block accumulator
    val raw = new java.lang.StringBuilder(256)
    // single-run fast path: the FIRST 1:1 text run of a link-free block is
    // held as a source range instead of being copied into `raw`; it
    // materializes only when a second run / entity / link context arrives.
    // Most blocks are exactly one run ("<p>text</p>"), so flush can
    // canonicalize straight from the source slice — one copy instead of two
    var pendingFrom = -1
    var pendingTo = -1
    // link segments contributed inside <a>, packed (startInRaw<<32 | endInRaw)
    val linkRuns = new ArrayBuffer[Long](8)
    var linkRunStart = -1 // open link run start in raw coords, -1 if none
    var firstOff = -1 // source offset of first visible char
    var lastOff = -1 // one past source offset of last visible char
    var blockDepth = 0
    var blockPath = ""
    var pathSet = false

    @inline def inLink: Boolean = anchorDepth > 0

    def materializePending(): Unit =
      if (pendingFrom >= 0) {
        raw.append(html, pendingFrom, pendingTo)
        pendingFrom = -1
        pendingTo = -1
      }

    def beginLinkRunIfNeeded(): Unit =
      if (inLink && linkRunStart < 0) {
        materializePending()
        linkRunStart = raw.length
      }
    def endLinkRunIfOpen(): Unit =
      if (linkRunStart >= 0) {
        linkRuns += ((linkRunStart.toLong << 32) | raw.length.toLong)
        linkRunStart = -1
      }

    @inline def isVisible(c: Char): Boolean =
      (c > ' ' && c < 0x7f) || // printable ASCII: the dominant branch
        !(Canon.isWs(c) || Canon.isStripped(c) || Canon.isControl(c))

    /** Record block path/offsets once visible chars [first, last] (absolute
      * source offsets) were appended.
      */
    def sawVisible(first: Int, lastPlus1: Int): Unit = {
      // tagPath/depth captured at the first VISIBLE char (not at leading
      // whitespace appended before an intervening tag changed the stack):
      // identical markup must yield identical paths regardless of
      // inter-tag whitespace
      if (!pathSet) {
        blockPath = currentPath()
        blockDepth = stack.length
        pathSet = true
      }
      if (firstOff < 0) firstOff = first
      lastOff = lastPlus1
    }

    /** Append a 1:1 source run html[from, to) to the current block —
      * substring-free (the text-run hot path).
      */
    def appendRun(from: Int, to: Int): Unit = {
      if (suppressDepth > 0 || to <= from) return
      var i = from
      var first = -1
      var last = -1
      while (i < to) {
        if (isVisible(html.charAt(i))) {
          if (first < 0) first = i
          last = i
        }
        i += 1
      }
      appendRunScanned(from, to, first, last)
    }

    /** appendRun for a run whose visibility extent was already computed in
      * the main-loop scan (fused — the run is traversed exactly once).
      */
    def appendRunScanned(from: Int, to: Int, firstV: Int, lastV: Int): Unit = {
      if (suppressDepth > 0 || to <= from) return
      if (!inLink && raw.length == 0 && pendingFrom < 0 && linkRunStart < 0) {
        // first run of a link-free block: keep as a source range
        pendingFrom = from
        pendingTo = to
      } else {
        materializePending()
        beginLinkRunIfNeeded()
        raw.append(html, from, to)
      }
      if (firstV >= 0) sawVisible(firstV, lastV + 1)
    }

    /** Append replacement text `s` standing for source [srcStart, srcEnd)
      * (entity references — not 1:1).
      */
    def appendDecoded(s: String, srcStart: Int, srcEnd: Int): Unit = {
      if (suppressDepth > 0) return
      materializePending()
      beginLinkRunIfNeeded()
      raw.append(s)
      var i = 0
      var any = false
      while (i < s.length && !any) {
        if (isVisible(s.charAt(i))) any = true
        i += 1
      }
      if (any) sawVisible(srcStart, srcEnd)
    }

    def flush(): Unit = {
      endLinkRunIfOpen()
      if (pendingFrom >= 0) {
        // single-run link-free block, never copied into `raw`: canonicalize
        // straight from the source slice (Canon's fast path usually returns
        // the substring itself). Link counts are 0 by construction.
        val canon = Canon(html.substring(pendingFrom, pendingTo))
        if (canon.nonEmpty && blocks.length < caps.maxBlocks) {
          val nTok = Canon.tokenCount(canon)
          blocks += Block(
            tagPath = blockPath,
            text = canon,
            startOff = if (firstOff >= 0) firstOff else 0,
            endOff = if (lastOff >= 0) lastOff else 0,
            nChars = canon.length,
            nTokens = nTok,
            nLinkChars = 0,
            nLinkTokens = 0,
            depth = blockDepth,
            idx = blocks.length)
        } else if (canon.nonEmpty) truncated = true
        pendingFrom = -1
        pendingTo = -1
      } else if (raw.length > 0) {
        val rb = canonRaw(raw, linkRuns)
        if (rb != null && blocks.length < caps.maxBlocks) {
          blocks += Block(
            tagPath = blockPath,
            text = rb.text,
            startOff = if (firstOff >= 0) firstOff else 0,
            endOff = if (lastOff >= 0) lastOff else 0,
            nChars = rb.text.length,
            nTokens = rb.nTokens,
            nLinkChars = rb.linkChars,
            nLinkTokens = rb.linkTokens,
            depth = blockDepth,
            idx = blocks.length)
        } else if (rb != null) truncated = true
      }
      raw.setLength(0)
      linkRuns.clear()
      linkRunStart = -1
      firstOff = -1
      lastOff = -1
      blockPath = ""
      blockDepth = 0
      pathSet = false
    }

    def pushElem(name: String, anchor: Boolean, suppress: Boolean): Unit = {
      if (stack.length < caps.maxDepth) {
        stack += name
        stackFlags += (if (anchor) 1 else 0) | (if (suppress) 2 else 0)
        cachedPathValid = false
        if (anchor) anchorDepth += 1
        if (suppress) suppressDepth += 1
      } else truncated = true
    }

    def popThrough(name: String): Unit = {
      var j = stack.length - 1
      while (j >= 0 && stack(j) != name) j -= 1
      if (j >= 0) {
        cachedPathValid = false
        var k = stack.length - 1
        while (k >= j) {
          stack.remove(k)
          val f = stackFlags.remove(k)
          if ((f & 1) != 0) anchorDepth = math.max(0, anchorDepth - 1)
          if ((f & 2) != 0) suppressDepth = math.max(0, suppressDepth - 1)
          k -= 1
        }
      }
    }

    @inline private def isNameStart(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    @inline private def isNameChar(c: Char): Boolean =
      isNameStart(c) || (c >= '0' && c <= '9') || c == '-'
    @inline private def lower(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

    def run(): Result = {
    var i = 0
    while (i < n && blocks.length < caps.maxBlocks) {
      val c = html.charAt(i)
      if (c == '<') {
        if (i + 3 < n && html.charAt(i + 1) == '!' && html.charAt(i + 2) == '-' &&
          html.charAt(i + 3) == '-') {
          // comment (bounded scan: the cost caps must bound work even when
          // the underlying string is far longer than n)
          val end = boundedIndexOfStr(html, "-->", i + 4, n)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && html.charAt(i + 1) == '!') {
          val end = boundedIndexOfChar(html, '>', i + 2, n)
          i = if (end < 0) n else end + 1
        } else if (i + 1 < n && html.charAt(i + 1) == '?') {
          val end = boundedIndexOfChar(html, '>', i + 2, n)
          i = if (end < 0) n else end + 1
        } else if (i + 1 < n &&
          (isNameStart(html.charAt(i + 1)) || html.charAt(i + 1) == '/')) {
          val closing = html.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          if (closing && (j >= n || !isNameStart(html.charAt(j)))) {
            // `</` not followed by a name: skip to '>'
            val end = boundedIndexOfChar(html, '>', j, n)
            i = if (end < 0) n else end + 1
          } else {
            // rolling 6-bit tag code (zero allocation for any known tag)
            val nameStart = j
            var code = 0L
            var nameLen = 0
            while (j < n && isNameChar(html.charAt(j))) {
              if (nameLen < 11) {
                val lc = lower(html.charAt(j))
                val v =
                  if (lc >= 'a' && lc <= 'z') lc - 'a' + 1
                  else if (lc >= '0' && lc <= '9') lc - '0' + 27
                  else 37 // '-'
                code = (code << 6) | v
              }
              nameLen += 1
              j += 1
            }
            val info =
              if (nameLen <= 10) tagTable.getOrNull(code) else null
            val name =
              if (info != null) info.name
              else {
                val nameSb = new java.lang.StringBuilder(nameLen)
                var q = nameStart
                while (q < nameStart + nameLen) { nameSb.append(lower(html.charAt(q))); q += 1 }
                nameSb.toString
              }
            val isBlock = if (info != null) info.block else blockTags.contains(name)
            val isVoid = if (info != null) info.void else voidTags.contains(name)
            val isRaw = if (info != null) info.rawText else rawTextTags.contains(name)
            val isForeign = if (info != null) info.foreign else foreignRoots.contains(name)
            val isSuppress = if (info != null) info.suppress else suppressTags.contains(name)
            val isAnchor = if (info != null) info.anchor else name == "a"
            // scan to '>' quote-aware
            var selfClose = false
            var quote: Char = 0
            var done = false
            while (j < n && !done) {
              val cc = html.charAt(j)
              if (quote != 0) { if (cc == quote) quote = 0; j += 1 }
              else if (cc == '"' || cc == '\'') { quote = cc; j += 1 }
              else if (cc == '>') {
                selfClose = j > 0 && html.charAt(j - 1) == '/'
                j += 1; done = true
              } else j += 1
            }
            if (!done) { i = n } // unterminated tag at EOF: drop
            else {
              if (isBlock) flush()
              // auto-close: <body> implicitly ends an unclosed <head>
              // (WHATWG tree-construction behavior; keeps malformed docs
              // from suppressing all body text)
              if (!closing && name == "body" && stack.contains("head"))
                popThrough("head")
              if (closing) { popThrough(name); i = j }
              else if (isRaw) {
                // raw text content: skip to matching close tag, discard.
                // WHATWG raw-text end-tag rule: the char after the tag name
                // must be '>', '/', or ASCII whitespace — otherwise it is
                // script/style content (e.g. "</scripty" or a JS string
                // holding "</scriptFoo>"), not the close tag.
                var k = indexOfIgnoreCase(html, "</" + name, j, n)
                while (k >= 0 && !isRawTextEndTag(html, k, name, n))
                  k = indexOfIgnoreCase(html, "</" + name, k + 1, n)
                if (k < 0) i = n
                else {
                  val end = boundedIndexOfChar(html, '>', k, n)
                  i = if (end < 0) n else end + 1
                }
              } else {
                if (!isVoid && !(selfClose && isForeign))
                  pushElem(name, isAnchor, isSuppress)
                i = j
              }
            }
          }
        } else {
          // literal '<'
          appendRun(i, i + 1)
          i += 1
        }
      } else if (c == '&') {
        val dec = Entities.tryDecode(html, i, n)
        if (dec != null) {
          appendDecoded(dec._1, i, i + dec._2)
          i += dec._2
        } else {
          appendRun(i, i + 1)
          i += 1
        }
      } else {
        // plain text run up to next special char — ONE fused scan finds the
        // run end and the first/last visible char (suppressed subtrees skip
        // the visibility work entirely)
        var j = i
        var firstV = -1
        var lastV = -1
        if (suppressDepth > 0) {
          while (j < n && { val cc = html.charAt(j); cc != '<' && cc != '&' }) j += 1
        } else {
          var scanning = true
          while (scanning && j < n) {
            val cc = html.charAt(j)
            if (cc == '<' || cc == '&') scanning = false
            else {
              if (isVisible(cc)) { if (firstV < 0) firstV = j; lastV = j }
              j += 1
            }
          }
        }
        appendRunScanned(i, j, firstV, lastV)
        i = j
      }
      // close the current link run when leaving link context
      if (!inLink) endLinkRunIfOpen()
    }
    if (i < html.length) truncated = true
    flush()
    Result(blocks.toArray, truncated)
    }
  }

  private def boundedIndexOfChar(s: String, ch: Char, from: Int, limit: Int): Int = {
    var i = math.max(0, from)
    while (i < limit) {
      if (s.charAt(i) == ch) return i
      i += 1
    }
    -1
  }

  private def boundedIndexOfStr(s: String, needle: String, from: Int, limit: Int): Int = {
    val nl = needle.length
    var i = math.max(0, from)
    while (i + nl <= limit) {
      var k = 0
      while (k < nl && s.charAt(i + k) == needle.charAt(k)) k += 1
      if (k == nl) return i
      i += 1
    }
    -1
  }

  /** True when the "</name" match at `k` is a real raw-text end tag: the
    * next char is '>', '/', or ASCII whitespace (or end of input — an
    * unterminated tag at EOF ends the raw-text region anyway).
    */
  private def isRawTextEndTag(s: String, k: Int, name: String, limit: Int): Boolean = {
    val after = k + 2 + name.length
    if (after >= limit) true
    else {
      val c = s.charAt(after)
      c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' ||
        c == '\r' || c == '\f'
    }
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int, limit: Int): Int = {
    val nl = needle.length
    var i = from
    while (i + nl <= limit) {
      var k = 0
      var ok = true
      while (k < nl && ok) {
        val a = s.charAt(i + k); val b = needle.charAt(k)
        val al = if (a >= 'A' && a <= 'Z') (a + 32).toChar else a
        if (al != b) ok = false
        k += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }
}
