package graft.html

import graft.core.Block
import graft.text.Canon
import scala.collection.mutable.ArrayBuffer

/** Byte-level HTML → block tokenizer — the pipeline's only tokenizer
  * (VERDICT r4 item 1: tokenize is 75% of extraction CPU and the char-path
  * costs are memory traffic — decode to UTF-16 doubles every load, and each
  * content block is copied through two StringBuilders before Canon
  * returns). Every page reaches it as UTF-8 through one charset route
  * ([[Decode.utf8]]): UTF-8 pages in place, any other page transcoded once.
  *
  * This is the integral-image discipline of the reference applied to the
  * tokenizer itself (binarizeSauvola.cpp:72-90: restate the same computation
  * so each unit of input is touched a constant small number of times): the
  * raw page BYTES are scanned once; each block is recorded as a list of
  * source byte-range segments; and an all-ASCII block — the dominant case —
  * is canonicalized straight from the source bytes into a reusable byte
  * buffer in ONE fused pass (whitespace collapse + control strip + link-run
  * char/token counts), producing exactly one String per block.
  *
  * SEMANTICS are the [[HtmlTokenizer]] spec over the decoded text: the
  * contract is `ByteTokenizer(bytes) == tokenizing Decode(bytes).text`
  * field-for-field with the String reference tokenizer kept in the tests,
  * property-tested across every fixture corpus, every char-cap cut and
  * random documents (ByteTokenizerSpec, ByteFuzzSpec). Each block is
  * flushed by one of three routes, chosen by its VISIBLE chars (invisible
  * ones — whitespace, zero-width, controls — are collapsed or stripped on
  * every route):
  *   - all ASCII: the fused byte flush above;
  *   - all below U+0300 (Latin script): a fused flush into a char buffer,
  *     the same state machine per decoded char — such text is already NFC;
  *   - anything else (combining marks, CJK, U+FFFD, astral): materialize
  *     the intermediate block string and canonicalize it with
  *     `HtmlTokenizer.canonRaw`, NFC pass included.
  *
  * Offsets: `Block.startOff`/`endOff`/spans are CHAR offsets into the
  * decoded text (the public contract, core/schema.scala:27). The scanner
  * maintains the running UTF-16 offset alongside the byte offset — each
  * non-continuation byte advances it by 1, each 4-byte lead by 2 (surrogate
  * pair). The input must be valid UTF-8 (established by [[prescan]]). The
  * char cap is a byte cut made before the scan: the end of the longest
  * prefix of at most `maxChars` UTF-16 units, so a 4-byte sequence it
  * would split is left out whole.
  */
object ByteTokenizer {

  /** Per-thread reusable buffers (r5 profile: per-document allocation and
    * ArrayBuffer bookkeeping dominated once the scan loops went SWAR).
    * Tokenizing now allocates only what escapes — each Block, its text
    * String, and the result array; stacks, segment lists, the
    * canonicalization buffer and the tagPath cache live here and are reused
    * across documents on the same executor thread. The tagPath cache
    * carries ACROSS documents, keyed per level by (parent-path instance,
    * tag-name instance) identity: page structure is highly repetitive and
    * known tag names are shared TagInfo instances, so the per-block path is
    * almost always a pointer-compare hit instead of a fresh concat.
    */
  /** Interned tagPath trie node: children keyed by the 6-bit-packed tag
    * code (exact for names ≤ 10 chars), so building a path at a level the
    * thread has EVER seen before is one LongMap probe — no concat, no
    * allocation. Bounded by [[Scratch.pathNodeBudget]] against adversarial
    * unique-tag floods (beyond the budget, nodes are created uncached).
    */
  private final class PathNode(val path: String, val parent: PathNode, val code: Long) {
    val children = new scala.collection.mutable.LongMap[PathNode](8)
  }

  private final class Scratch {
    var stackNames = new Array[String](64)
    var stackFlags = new Array[Int](64)
    var stackCodes = new Array[Long](64)
    var pathNode = new Array[PathNode](64)
    val pathRoot = new PathNode("", null, -2L)
    var pathNodeBudget = 1 << 16
    var segFrom = new Array[Int](64)
    var segTo = new Array[Int](64)
    var segLink = new Array[Int](64)
    var segStr = new Array[String](16)
    var byteBuf = new Array[Byte](4096)
    var charBuf = new Array[Char](4096)
    var blockBuf = new Array[Block](128)
    // isolated-\t..\r hole positions within one bulk copy run (fused flush);
    // a run with more holes than this simply splits into several bulk runs
    val patchBuf = new Array[Int](128)
  }
  private val scratchTL: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  // flush route of a block (the highest kind among its visible chars wins)
  private final val KAscii = 0 // fused byte flush
  private final val KLatin = 1 // fused char flush: all below U+0300
  private final val KRaw = 2 // raw string + Canon (NFC)

  /** One fused validation pass: strict UTF-8 validity (the engine's only
    * UTF-8 validator), decoded UTF-16 length, and the garbage-char count
    * (U+FFFD + non-whitespace control chars, Quality.garbageRatio's
    * numerator) — everything the pipeline needs to gate BEFORE tokenizing,
    * without materializing the decoded string.
    */
  final class Prescan(val valid: Boolean, val utf16Len: Int, val garbage: Int)

  // ---- SWAR helpers: exact, borrow-free per-byte unsigned compares over an
  // 8-byte little-endian word (Hacker's Delight §2-17 restated): for lanes
  // a ≤ 0x7f and n ≤ 0x80, (a | 0x80) - n is in [0x01, 0xFF] so the
  // subtraction NEVER borrows across lanes, and bit 7 of each lane is an
  // exact per-lane a ≥ n flag. All masks below are therefore exact (no
  // false positives), which lets them drive COUNTS (prescan garbage) and
  // run extents, not just conservative early-outs. Lanes with the high bit
  // set must be masked to w = v & ~HIGH first and handled via `v & HIGH`.
  private final val ONES = 0x0101010101010101L
  private final val HIGH = 0x8080808080808080L
  @inline private def geMask(w: Long, n: Int): Long = ((w | HIGH) - ONES * n) & HIGH
  @inline private def ltMask(w: Long, n: Int): Long = ~((w | HIGH) - ONES * n) & HIGH
  @inline private def eqMask(w: Long, c: Int): Long =
    ~(((w ^ (ONES * c)) | HIGH) - ONES) & HIGH

  def prescan(bytes: Array[Byte], off: Int): Prescan = prescan(bytes, off, bytes.length)

  /** [[prescan]] over `bytes[off, end)` (a transcode buffer's filled part). */
  private[graft] def prescan(bytes: Array[Byte], off: Int, end: Int): Prescan = {
    var i = off
    val n = end
    var len = 0
    var bad = 0
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val bulkEnd = n - 7
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b < 0x80) {
        if (i < bulkEnd) {
          // 8 bytes at once: k = ASCII prefix length (first byte is ASCII so
          // k ≥ 1), garbage lanes counted exactly via SWAR masks
          val v = bb.getLong(i)
          val high = v & HIGH
          val w = v & ~HIGH
          val ws = geMask(w, 9) & ltMask(w, 14) // \t \n \v \f \r
          val badM = (ltMask(w, 0x20) & ~ws) | eqMask(w, 0x7f)
          val k = if (high == 0L) 8 else java.lang.Long.numberOfTrailingZeros(high) >>> 3
          val m = if (k == 8) -1L else (1L << (8 * k)) - 1
          len += k
          bad += java.lang.Long.bitCount(badM & m)
          i += k
        } else {
          // tail: garbage = C0 controls that are not whitespace, plus DEL
          if ((b < 0x20 && !(b >= 9 && b <= 13)) || b == 0x7f) bad += 1
          len += 1
          i += 1
        }
      } else if (b < 0xc2) return new Prescan(false, len, bad)
      else if (b < 0xe0) { // 2-byte: U+0080..U+07FF
        if (i + 1 >= n || (bytes(i + 1) & 0xc0) != 0x80)
          return new Prescan(false, len, bad)
        val cp = ((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
        // C1 controls are garbage except U+0085 (NEL, whitespace per Canon)
        if (cp <= 0x9f && cp != 0x85) bad += 1
        len += 1
        i += 2
      } else if (b < 0xf0) { // 3-byte: U+0800..U+FFFF minus surrogates
        if (i + 2 >= n) return new Prescan(false, len, bad)
        val b1 = bytes(i + 1) & 0xff
        val b2 = bytes(i + 2) & 0xff
        val lo = if (b == 0xe0) 0xa0 else 0x80
        val hi = if (b == 0xed) 0x9f else 0xbf
        if (b1 < lo || b1 > hi || (b2 & 0xc0) != 0x80)
          return new Prescan(false, len, bad)
        if (b == 0xef && b1 == 0xbf && b2 == 0xbd) bad += 1 // U+FFFD
        len += 1
        i += 3
      } else if (b < 0xf5) { // 4-byte: astral, two UTF-16 units, never garbage
        if (i + 3 >= n) return new Prescan(false, len, bad)
        val b1 = bytes(i + 1) & 0xff
        val lo = if (b == 0xf0) 0x90 else 0x80
        val hi = if (b == 0xf4) 0x8f else 0xbf
        if (b1 < lo || b1 > hi || (bytes(i + 2) & 0xc0) != 0x80 ||
          (bytes(i + 3) & 0xc0) != 0x80) return new Prescan(false, len, bad)
        len += 2
        i += 4
      } else return new Prescan(false, len, bad)
    }
    new Prescan(true, len, bad)
  }

  /** Byte-class table for the text-run scan: one load replaces the per-char
    * branch ladder. 0 ws, 1 visible ASCII, 2 control, 3 '<', 4 '&',
    * 5/6/7 = 2/3/4-byte UTF-8 lead, 8 continuation (unreachable: input is
    * pre-validated).
    */
  private val CLS: Array[Byte] = {
    val t = new Array[Byte](256)
    var b = 0
    while (b < 256) {
      t(b) =
        if (b == '<') 3
        else if (b == '&') 4
        else if (b == 32 || (b >= 9 && b <= 13)) 0
        else if (b > 32 && b < 0x7f) 1
        else if (b < 0x80) 2 // C0 controls + DEL
        else if (b >= 0xc2 && b < 0xe0) 5
        else if (b >= 0xe0 && b < 0xf0) 6
        else if (b >= 0xf0 && b < 0xf5) 7
        else 8
      b += 1
    }
    t
  }

  /** ASCII view over the byte array for entity scanning: entity references
    * are pure ASCII, and a byte ≥ 0x80 reads as a char 0x80–0xFF which fails
    * the name/digit classes exactly like the real decoded char would.
    */
  private final class AsciiView(bytes: Array[Byte], n: Int) extends CharSequence {
    def length: Int = n
    def charAt(i: Int): Char = (bytes(i) & 0xff).toChar
    def subSequence(s: Int, e: Int): CharSequence = {
      val sb = new java.lang.StringBuilder(e - s)
      var i = s
      while (i < e) { sb.append((bytes(i) & 0xff).toChar); i += 1 }
      sb
    }
    override def toString: String = subSequence(0, n).toString
  }

  def apply(bytes: Array[Byte], off: Int, caps: HtmlTokenizer.Caps = HtmlTokenizer.DefaultCaps): HtmlTokenizer.Result =
    new ByteRun(bytes, off, bytes.length, caps).run()

  /** [[apply]] over `bytes[off, end)` (a transcode buffer's filled part). */
  private[graft] def tokenize(bytes: Array[Byte], off: Int, end: Int,
      caps: HtmlTokenizer.Caps): HtmlTokenizer.Result =
    new ByteRun(bytes, off, end, caps).run()

  private final class ByteRun(bytes: Array[Byte], off: Int, end: Int, caps: HtmlTokenizer.Caps) {
    private val nB = capEnd()
    private val view = new AsciiView(bytes, nB)
    private val scratch = scratchTL.get()
    private var blockBuf = scratch.blockBuf
    private var blockN = 0
    private var truncated = nB < end
    // little-endian word view for the SWAR scan loops (HeapByteBuffer.getLong
    // is an intrinsic); bulkEnd = last index where a full word fits
    private val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    private val bulkEnd = nB - 7
    private val patchBuf = scratch.patchBuf

    private def addBlock(b: Block): Unit = {
      if (blockN == blockBuf.length) {
        blockBuf = java.util.Arrays.copyOf(blockBuf, blockN * 2)
        scratch.blockBuf = blockBuf
      }
      blockBuf(blockN) = b
      blockN += 1
    }

    // element stack + flags — semantics identical to the String reference's
    // ArrayBuffer stack, restated as flat arrays so pops are truncation
    // (no element shifting) and the <body>-closes-<head> rule reads a
    // counter instead of an O(depth) boxed contains (both showed up in the
    // r5 JFR profile).
    private var stackNames = scratch.stackNames
    private var stackFlags = scratch.stackFlags
    private var stackN = 0
    private var anchorDepth = 0
    private var suppressDepth = 0
    private var headDepth = 0
    // pathNode(d) interns stackNames.take(d + 1).mkString("/") in the
    // thread's persistent path trie; levels [0, pathValidN) are current for
    // THIS run (pops only shrink pathValidN). A level the thread has EVER
    // built before — any document, any depth history — revalidates with one
    // LongMap probe on (parent node, tag code); the "/"-concat runs exactly
    // once per unique path per thread (r5 JFR: the per-depth-slot identity
    // cache this replaces spent ~40% of scan time re-concatenating paths
    // whenever sibling structure alternated).
    private var stackCodes = scratch.stackCodes
    private var pathNode = scratch.pathNode
    private var pathValidN = 0
    private def currentPath(): String = {
      if (stackN == 0) return ""
      if (pathValidN < stackN) {
        var d = pathValidN
        while (d < stackN) {
          val parent = if (d == 0) scratch.pathRoot else pathNode(d - 1)
          val code = stackCodes(d)
          // fast identity revalidation: the slot still holds the node for
          // this exact (parent, code) pair — common when the same structure
          // repeats at this depth (pointer-width compares, no hash probe)
          var nd = pathNode(d)
          if (nd == null || !((nd.parent eq parent) && nd.code == code) || code < 0) {
            if (code >= 0) {
              nd = parent.children.getOrNull(code)
              if (nd == null) {
                nd = new PathNode(
                  if (d == 0) stackNames(d) else parent.path + "/" + stackNames(d),
                  parent, code)
                if (scratch.pathNodeBudget > 0) {
                  scratch.pathNodeBudget -= 1
                  parent.children(code) = nd
                }
              }
            } else {
              // uncodable name (> 10 chars): uncached, concat per block
              nd = new PathNode(
                if (d == 0) stackNames(d) else parent.path + "/" + stackNames(d),
                parent, code)
            }
            pathNode(d) = nd
          }
          d += 1
        }
        pathValidN = stackN
      }
      pathNode(stackN - 1).path
    }

    // running UTF-16 offset of the NEXT byte position (relative to the
    // decoded text, i.e. excluding a BOM)
    private var cOff = 0

    // ---- per-block segment list (replaces the reference's StringBuilder).
    // A segment is either a source byte range [segFrom, segTo) or a decoded
    // entity (segFrom = -(index into segStr) - 1). segLink holds its
    // linkId, which mirrors the String reference's link-run
    // open/close protocol: one id per beginLinkRun..endLinkRun window.
    private var segFrom = scratch.segFrom
    private var segTo = scratch.segTo
    private var segLink = scratch.segLink
    private var segN = 0
    private var segStrA = scratch.segStr
    private var segStrN = 0
    // flush route of the block: the highest kind of any visible char in it
    private var blockKind = KAscii
    private var approxChars = 0 // upper bound on canonical length (buffer sizing)

    private var currentLinkId = 0
    private var nextLinkId = 0

    private var firstOff = -1
    private var lastOff = -1
    private var blockDepth = 0
    private var blockPath = ""
    private var pathSet = false

    // reusable canonicalization buffer (fused ASCII flush target). BYTES,
    // not chars: every canonical char of an all-ASCII block is < 0x80, so
    // clean stretches of source bytes can be System.arraycopy'd and the
    // final String is one Latin1 memcpy (no compact-string compression
    // pass over a char[]).
    private var byteBuf = scratch.byteBuf
    // the same for the fused Latin flush, whose chars do not fit a byte
    private var charBuf = scratch.charBuf

    @inline private def inLink: Boolean = anchorDepth > 0

    private def beginLinkRunIfNeeded(): Unit =
      if (inLink && currentLinkId == 0) { nextLinkId += 1; currentLinkId = nextLinkId }
    @inline private def endLinkRunIfOpen(): Unit = currentLinkId = 0

    private def pushSeg(from: Int, to: Int, kind: Int): Unit = {
      if (segN == segFrom.length) {
        segFrom = java.util.Arrays.copyOf(segFrom, segN * 2)
        segTo = java.util.Arrays.copyOf(segTo, segN * 2)
        segLink = java.util.Arrays.copyOf(segLink, segN * 2)
        scratch.segFrom = segFrom
        scratch.segTo = segTo
        scratch.segLink = segLink
      }
      segFrom(segN) = from
      segTo(segN) = to
      segLink(segN) = currentLinkId
      segN += 1
      if (kind > blockKind) blockKind = kind
    }

    /** Mirror of sawVisible: capture path/depth at first VISIBLE char. */
    private def sawVisible(firstC: Int, lastCEnd: Int): Unit = {
      if (!pathSet) {
        blockPath = currentPath()
        blockDepth = stackN
        pathSet = true
      }
      if (firstOff < 0) firstOff = firstC
      lastOff = lastCEnd
    }

    /** Append a source byte run [from, to) (visibility extent pre-scanned,
      * char coords). Mirrors appendRunScanned.
      */
    private def appendRun(from: Int, to: Int, firstC: Int, lastCEnd: Int, kind: Int): Unit = {
      if (suppressDepth > 0 || to <= from) return
      beginLinkRunIfNeeded()
      pushSeg(from, to, kind)
      approxChars += to - from
      if (firstC >= 0) sawVisible(firstC, lastCEnd)
    }

    /** Append a decoded entity `s` standing for source chars
      * [srcStartC, srcEndC). Mirrors appendDecoded.
      */
    private def appendDecoded(s: String, srcStartC: Int, srcEndC: Int): Unit = {
      if (suppressDepth > 0) return
      beginLinkRunIfNeeded()
      var kind = KAscii
      var any = false
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        val invisible = Canon.isWs(c) || Canon.isStripped(c) || Canon.isControl(c)
        // only a VISIBLE non-ASCII char leaves the ASCII flush (nbsp &
        // friends collapse to ASCII before NFC could matter), and only one
        // at or past U+0300 needs the raw/NFC flush
        if (c >= 0x80 && !invisible && kind != KRaw) kind = if (c < 0x300) KLatin else KRaw
        if (!any && !invisible) any = true
        i += 1
      }
      if (segStrN == segStrA.length) {
        segStrA = java.util.Arrays.copyOf(segStrA, segStrN * 2)
        scratch.segStr = segStrA
      }
      segStrA(segStrN) = s
      segStrN += 1
      pushSeg(-segStrN, 0, kind) // -(idx+1)
      approxChars += s.length
      if (any) sawVisible(srcStartC, srcEndC)
    }

    private def clearBlock(): Unit = {
      segN = 0
      segStrN = 0
      blockKind = KAscii
      approxChars = 0
      currentLinkId = 0
      firstOff = -1
      lastOff = -1
      blockPath = ""
      blockDepth = 0
      pathSet = false
    }

    private def flush(): Unit = {
      endLinkRunIfOpen()
      if (segN == 0) { clearBlock(); return }
      if (blockKind == KAscii) flushFusedAscii()
      else if (blockKind == KLatin) flushFusedLatin()
      else flushViaRaw()
      clearBlock()
    }

    /** The hot flush: canonicalize all-ASCII segments straight from the
      * source bytes in one pass — whitespace runs collapse to one space
      * (leading/trailing dropped), controls removed — while counting block
      * tokens and per-link-run canonical chars/tokens with exactly
      * canonCountAscii's state machine (HtmlTokenizer.canonCountAscii).
      */
    private def flushFusedAscii(): Unit = {
      // Verbatim fast path: a single source-range segment whose trimmed
      // interior is pure [0x20..0x7E] with no double spaces IS its own
      // canonical form — the text is a straight Latin1 byte→String copy
      // (an intrinsic memcpy) and every count falls out of the SWAR masks,
      // skipping the per-byte state machine entirely. Any violation falls
      // through to the exact state-machine flush below, so qualification
      // errs only toward slow-correct.
      if (segN == 1 && segFrom(0) >= 0) {
        val e0 = segTo(0)
        var s = segFrom(0)
        while (s < e0 && { val b = bytes(s) & 0xff; b == 32 || (b >= 9 && b <= 13) }) s += 1
        var e = e0
        while (e > s && { val b = bytes(e - 1) & 0xff; b == 32 || (b >= 9 && b <= 13) }) e -= 1
        if (s == e) return // whitespace-only block: canon drops it
        var ok = true
        var spaces = 0
        var i = s
        var prevSpace = false
        while (ok && i < e) {
          if (i + 8 <= e) {
            val v = bb.getLong(i)
            val w = v & ~HIGH
            val spaceM = eqMask(w, 0x20)
            val badM = (v & HIGH) | ltMask(w, 0x20) | eqMask(w, 0x7f) |
              (spaceM & (spaceM << 8)) |
              (if (prevSpace) spaceM & 0x80L else 0L)
            if (badM != 0L) ok = false
            else {
              spaces += java.lang.Long.bitCount(spaceM)
              prevSpace = (spaceM & (1L << 63)) != 0L
              i += 8
            }
          } else {
            val b = bytes(i) & 0xff
            if (b == 32) {
              if (prevSpace) ok = false
              spaces += 1; prevSpace = true
            } else if (b < 0x21 || b >= 0x7f) ok = false
            else prevSpace = false
            i += 1
          }
        }
        if (ok) {
          if (blockN >= caps.maxBlocks) { truncated = true; return }
          val len = e - s
          val text = new String(bytes, s, len, java.nio.charset.StandardCharsets.ISO_8859_1)
          val nTok = spaces + 1
          val linked = segLink(0) != 0
          addBlock(Block(
            tagPath = blockPath,
            text = text,
            startOff = if (firstOff >= 0) firstOff else 0,
            endOff = if (lastOff >= 0) lastOff else 0,
            nChars = len,
            nTokens = nTok,
            nLinkChars = if (linked) len else 0,
            nLinkTokens = if (linked) nTok else 0,
            depth = blockDepth,
            idx = blockN))
          return
        }
      }
      if (approxChars > byteBuf.length) {
        byteBuf = new Array[Byte](math.max(approxChars, byteBuf.length * 2))
        scratch.byteBuf = byteBuf
      }
      val buf = byteBuf
      resetFused()
      var s = 0
      while (s < segN) {
        val inL = enterSegLink(s)
        val f = segFrom(s)
        if (f >= 0) {
          // source byte range, all ASCII
          var i = f
          val e = segTo(s)
          while (i < e) {
            // SWAR bulk copy-with-holes: a stretch with no controls, no
            // non-space whitespace, no double spaces, and no leading space
            // IS its own canonical form. Scan the whole clean run first
            // (words may read past the segment end — k is clamped to e, so
            // segment tails stay on the bulk path), then ONE arraycopy.
            // Only dirty bytes (and pending-space / pending-link
            // resolution) drop to the per-byte state machine.
            if (i < bulkEnd && fLen > 0 && !fPending && !(inL && fLpending)) {
              val runStart = i
              var sp = 0
              var carry = if (buf(fLen - 1) == ' ') 0x80L else 0L
              var go = true
              val patch = patchBuf
              var patchN = 0
              while (go && i < bulkEnd) {
                val v = bb.getLong(i)
                val w = v & ~HIGH
                val spaceM = eqMask(w, 0x20)
                val wsOther = geMask(w, 9) & ltMask(w, 14) // \t \n \v \f \r
                val ctl = ltMask(w, 9) | (geMask(w, 14) & ltMask(w, 0x20)) |
                  eqMask(w, 0x7f)
                // an ISOLATED \t..\r canonicalizes to exactly one ' ' — it is
                // copied as-is and the hole patched to ' ' after the
                // arraycopy (positions recorded below). Only ADJACENT
                // whitespace (a collapsing run, over space and \t..\r alike)
                // still stops the bulk; retractTrailingSpace keeps patches at
                // a stop edge exact, same as it does for trailing spaces.
                val wsAll = spaceM | wsOther
                val dbl = wsAll & ((wsAll << 8) | carry)
                val stop = (v & HIGH) | ctl | dbl
                if (stop == 0L && i + 8 < e && patchN < patch.length - 8) {
                  var m = wsOther
                  while (m != 0L) {
                    patch(patchN) = (i - runStart) +
                      (java.lang.Long.numberOfTrailingZeros(m) >>> 3)
                    patchN += 1
                    m &= m - 1
                  }
                  sp += java.lang.Long.bitCount(wsAll)
                  carry = if ((wsAll & (1L << 63)) != 0L) 0x80L else 0L
                  i += 8
                } else {
                  var k =
                    if (stop == 0L) 8
                    else java.lang.Long.numberOfTrailingZeros(stop) >>> 3
                  if (i + k > e) k = e - i
                  val pre = if (k == 8) -1L else (1L << (8 * k)) - 1
                  // capacity invariant: the fast path above runs only while
                  // patchN < length-8, and a word can hold at most 4 isolated
                  // holes (adjacent ws trips the dbl stop), so patchN here is
                  // ≤ length-8+3 and this word's ≤4 more always fit — the
                  // buffer cannot overflow (length 128 ≥ 120+8)
                  var m = wsOther & pre
                  while (m != 0L) {
                    patch(patchN) = (i - runStart) +
                      (java.lang.Long.numberOfTrailingZeros(m) >>> 3)
                    patchN += 1
                    m &= m - 1
                  }
                  sp += java.lang.Long.bitCount(wsAll & pre)
                  i += k
                  go = false
                }
              }
              if (i > runStart) {
                val n = i - runStart
                System.arraycopy(bytes, runStart, buf, fLen, n)
                var p = 0
                while (p < patchN) { buf(fLen + patch(p)) = ' '; p += 1 }
                fSpaces += sp
                if (inL) { fLchars += n; fLspaces += sp }
                fLen += n
              }
            }
            if (i < e) {
            val b = bytes(i) & 0xff
            val cls = CLS(b)
            if (cls == 0) { // whitespace
              retractTrailingSpace()
              fusedWs()
              i += 1
              // tight ws-run skip: every further ASCII ws byte of the run
              // leaves the state machine exactly where it is (pending set,
              // nothing emitted), so don't bounce through the bulk-entry
              // checks and a no-op retract per byte
              while (i < e && CLS(bytes(i) & 0xff) == 0) i += 1
            } else if (cls == 2) { // control: removed
              i += 1
            } else if (cls >= 5) {
              // multi-byte sequence — reaches the fused flush ONLY when the
              // scan classified it invisible (ws/stripped/control; a visible
              // non-ASCII char forces the raw flush, and astral chars are
              // always visible so cls 7 cannot appear here)
              val ch = (if (cls == 5) ((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
                else ((b & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
                  (bytes(i + 2) & 0x3f)).toChar
              if (Canon.isWs(ch)) {
                retractTrailingSpace()
                fusedWs()
              } // isStripped / isControl: removed
              i += cls - 3
            } else { // visible (includes '<' '&' appended as literals)
              if (fusedVisible()) { buf(fLen) = ' '; fLen += 1 }
              buf(fLen) = b.toByte
              fLen += 1
              i += 1
            }
            }
          }
          // segment ends: a bulk-copied trailing space must revert to
          // pendingSpace so cross-segment and link-close accounting see the
          // state machine's exact deferred-space protocol
          retractTrailingSpace()
        } else {
          // decoded entity (ASCII here by blockKind)
          val str = segStrA(-f - 1)
          var i = 0
          while (i < str.length) {
            val c = str.charAt(i)
            if (Canon.isWs(c)) fusedWs()
            else if (Canon.isControl(c) || Canon.isStripped(c)) ()
            else {
              if (fusedVisible()) { buf(fLen) = ' '; fLen += 1 }
              buf(fLen) = c.toByte
              fLen += 1
            }
            i += 1
          }
        }
        s += 1
      }
      closeLinkRun()
      if (fLen > 0)
        addFusedBlock(new String(buf, 0, fLen, java.nio.charset.StandardCharsets.ISO_8859_1))
    }

    /** The fused flush for a block whose visible chars are all below U+0300
      * (Latin-script text: accented letters, œ, ß, IPA, spacing modifiers).
      * No NFC pass is needed: every pair of code points below U+0300 is
      * already NFC (CanonSpec checks all of them), U+0300 — the first
      * combining mark — being the first code point that can compose with
      * or reorder after such a char; and the block's invisible chars are
      * stripped or collapse to a space either way. So Canon reduces to
      * [[flushFusedAscii]]'s strip/collapse/trim state machine, run here
      * per decoded char into a char buffer.
      */
    private def flushFusedLatin(): Unit = {
      if (approxChars > charBuf.length) {
        charBuf = new Array[Char](math.max(approxChars, charBuf.length * 2))
        scratch.charBuf = charBuf
      }
      resetFused()
      var s = 0
      while (s < segN) {
        enterSegLink(s)
        val f = segFrom(s)
        if (f >= 0) {
          val buf = charBuf
          var i = f
          val e = segTo(s)
          while (i < e) {
            val c0 = visibleAt(i)
            if (c0 >= 0) {
              // a run of visible chars with single spaces between them: the
              // separator logic runs for its first char, the rest is a
              // straight copy (a separator inside the run always precedes a
              // visible char, so the state machine would emit it as is)
              if (fusedVisible()) { buf(fLen) = ' '; fLen += 1 }
              var o = fLen
              buf(o) = c0.toChar
              o += 1
              i += (if (c0 < 0x80) 1 else 2)
              val o1 = o
              var sp = 0
              var go = true
              while (go && i < e) {
                val c = visibleAt(i)
                if (c >= 0) {
                  buf(o) = c.toChar
                  o += 1
                  i += (if (c < 0x80) 1 else 2)
                } else if (bytes(i) == ' ' && i + 1 < e && visibleAt(i + 1) >= 0) {
                  val c2 = visibleAt(i + 1)
                  buf(o) = ' '
                  buf(o + 1) = c2.toChar
                  o += 2
                  sp += 1
                  i += (if (c2 < 0x80) 2 else 3)
                } else go = false
              }
              fSpaces += sp
              if (fInL) { fLchars += o - o1; fLspaces += sp }
              fLen = o
            } else {
              // whitespace, controls, zero-width and the like, one at a time;
              // no 4-byte sequence reaches here: astral chars are visible
              // and past U+0300
              val b = bytes(i) & 0xff
              if (b < 0x80) { latinChar(b.toChar); i += 1 }
              else if (b < 0xe0) {
                latinChar((((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f)).toChar)
                i += 2
              } else {
                latinChar((((b & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
                  (bytes(i + 2) & 0x3f)).toChar)
                i += 3
              }
            }
          }
        } else {
          val str = segStrA(-f - 1)
          var i = 0
          while (i < str.length) { latinChar(str.charAt(i)); i += 1 }
        }
        s += 1
      }
      closeLinkRun()
      if (fLen > 0) addFusedBlock(new String(charBuf, 0, fLen))
    }

    /** The char at byte `i` when it is a visible ASCII or a visible 2-byte
      * Latin char (U+00A1..U+02FF minus the soft hyphen: the only
      * invisible chars below U+0300 are ASCII whitespace/controls, C1
      * controls, NEL, nbsp and the soft hyphen), else -1.
      */
    @inline private def visibleAt(i: Int): Int = {
      val b = bytes(i) & 0xff
      if (b < 0x80) { if (b > 0x20 && b < 0x7f) b else -1 }
      else if (b < 0xcc) {
        val c = ((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
        if (c > 0xa0 && c != 0xad) c else -1
      } else -1
    }

    /** One decoded char through the fused state machine (Latin flush). */
    @inline private def latinChar(c: Char): Unit =
      if ((c > ' ' && c < 0x7f) ||
        !(Canon.isWs(c) || Canon.isControl(c) || Canon.isStripped(c))) {
        if (fusedVisible()) { charBuf(fLen) = ' '; fLen += 1 }
        charBuf(fLen) = c
        fLen += 1
      } else if (Canon.isWs(c)) fusedWs()
      // stripped / control: removed

    /** The canonical block the fused state machine accumulated. */
    private def addFusedBlock(text: String): Unit =
      if (blockN >= caps.maxBlocks) truncated = true
      else {
        val nTok = fSpaces + 1
        addBlock(Block(
          tagPath = blockPath,
          text = text,
          startOff = if (firstOff >= 0) firstOff else 0,
          endOff = if (lastOff >= 0) lastOff else 0,
          nChars = fLen,
          nTokens = nTok,
          nLinkChars = math.min(fLinkChars, fLen),
          nLinkTokens = math.min(fLinkTokens, nTok),
          depth = blockDepth,
          idx = blockN))
      }

    // ---- fused-flush state, hoisted to fields so the flush helpers are
    // plain methods (nested defs capturing local vars box them into heap
    // IntRef/BooleanRef cells — one allocation per captured var per flush,
    // plus an indirection on every access; measurable at 260k flushes/s/core)
    private var fLen = 0
    private var fSpaces = 0
    private var fPending = false
    private var fLinkChars = 0
    private var fLinkTokens = 0
    private var fCurLink = 0 // link id of the open link-run accumulation, 0 = none
    private var fLchars = 0
    private var fLspaces = 0
    private var fLpending = false
    private var fInL = false

    private def resetFused(): Unit = {
      fLen = 0
      fSpaces = 0
      fPending = false
      fLinkChars = 0
      fLinkTokens = 0
      fCurLink = 0
      fLchars = 0
      fLspaces = 0
      fLpending = false
    }

    /** Enter segment `s`'s link run, closing the previous one; returns (and
      * sets fInL) whether the segment is inside a link.
      */
    private def enterSegLink(s: Int): Boolean = {
      val linkId = segLink(s)
      if (linkId != fCurLink) {
        closeLinkRun()
        if (linkId != 0) { fCurLink = linkId; fLchars = 0; fLspaces = 0; fLpending = false }
      }
      fInL = linkId != 0
      fInL
    }

    /** A whitespace char: the separator is deferred until a visible char. */
    @inline private def fusedWs(): Unit = {
      fPending = true
      if (fInL) fLpending = true
    }

    /** Count one visible char; true when a deferred separator space must be
      * written before it (the caller writes both chars).
      */
    @inline private def fusedVisible(): Boolean = {
      val sep = fPending && fLen > 0
      if (sep) fSpaces += 1
      fPending = false
      if (fInL) {
        if (fLpending && fLchars > 0) { fLspaces += 1; fLchars += 1 }
        fLpending = false
        fLchars += 1
      }
      sep
    }

    private def closeLinkRun(): Unit = if (fCurLink != 0) {
      fLinkChars += fLchars
      fLinkTokens += (if (fLchars == 0) 0 else fLspaces + 1)
      fCurLink = 0
    }

    /** Retract an optimistically copied trailing space (bulk path): exact
      * because the ONLY way buf can end in ' ' at a retraction point is a
      * bulk copy — the per-byte path emits a space only immediately before
      * a visible char. The state machine would not have emitted that space
      * yet (pendingSpace defers it), so moving it back into
      * pendingSpace/lpending restores its exact state, including the link
      * counters the bulk credited early.
      */
    private def retractTrailingSpace(): Unit =
      if (fLen > 0 && byteBuf(fLen - 1) == ' ') {
        fLen -= 1
        fSpaces -= 1
        fPending = true
        if (fInL) { fLchars -= 1; fLspaces -= 1; fLpending = true }
      }

    /** Fallback flush for blocks with non-ASCII content: materialize the
      * block's intermediate string + link runs, then canonicalize them
      * (Canon with NFC, canonCountAscii with Canon fallback) via the shared
      * builder.
      */
    private def flushViaRaw(): Unit = {
      val raw = new java.lang.StringBuilder(approxChars)
      val linkRuns = new ArrayBuffer[Long](8)
      var curLink = 0
      var runStart = -1
      var s = 0
      while (s < segN) {
        val linkId = segLink(s)
        if (linkId != curLink) {
          if (curLink != 0)
            linkRuns += ((runStart.toLong << 32) | raw.length.toLong)
          curLink = linkId
          if (linkId != 0) runStart = raw.length
        }
        val f = segFrom(s)
        if (f >= 0) appendUtf8(raw, f, segTo(s))
        else raw.append(segStrA(-f - 1))
        s += 1
      }
      if (curLink != 0) linkRuns += ((runStart.toLong << 32) | raw.length.toLong)
      if (raw.length == 0) return
      val rb = HtmlTokenizer.canonRaw(raw, linkRuns)
      if (rb != null && blockN < caps.maxBlocks) {
        addBlock(Block(
          tagPath = blockPath,
          text = rb.text,
          startOff = if (firstOff >= 0) firstOff else 0,
          endOff = if (lastOff >= 0) lastOff else 0,
          nChars = rb.text.length,
          nTokens = rb.nTokens,
          nLinkChars = rb.linkChars,
          nLinkTokens = rb.linkTokens,
          depth = blockDepth,
          idx = blockN))
      } else if (rb != null) truncated = true
    }

    /** Decode valid UTF-8 bytes [from, to) into `sb` (same chars the String
      * decoder produces — input is pre-validated, no REPLACE cases).
      */
    private def appendUtf8(sb: java.lang.StringBuilder, from: Int, to: Int): Unit = {
      var i = from
      while (i < to) {
        val b = bytes(i) & 0xff
        if (b < 0x80) { sb.append(b.toChar); i += 1 }
        else if (b < 0xe0) {
          sb.append((((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f)).toChar)
          i += 2
        } else if (b < 0xf0) {
          sb.append((((b & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
            (bytes(i + 2) & 0x3f)).toChar)
          i += 3
        } else {
          val cp = ((b & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
            ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
          sb.append(Character.highSurrogate(cp)).append(Character.lowSurrogate(cp))
          i += 4
        }
      }
    }

    private def pushElem(name: String, code: Long, anchor: Boolean, suppress: Boolean): Unit = {
      if (stackN < caps.maxDepth) {
        if (stackN == stackNames.length) {
          stackNames = java.util.Arrays.copyOf(stackNames, stackN * 2)
          stackFlags = java.util.Arrays.copyOf(stackFlags, stackN * 2)
          stackCodes = java.util.Arrays.copyOf(stackCodes, stackN * 2)
          pathNode = java.util.Arrays.copyOf(pathNode, stackN * 2)
          scratch.stackNames = stackNames
          scratch.stackFlags = stackFlags
          scratch.stackCodes = stackCodes
          scratch.pathNode = pathNode
        }
        stackNames(stackN) = name
        stackFlags(stackN) = (if (anchor) 1 else 0) | (if (suppress) 2 else 0)
        stackCodes(stackN) = code
        stackN += 1
        if (anchor) anchorDepth += 1
        if (suppress) suppressDepth += 1
        if (name == "head") headDepth += 1
      } else truncated = true
    }

    private def popThrough(name: String): Unit = {
      var j = stackN - 1
      while (j >= 0 && stackNames(j) != name) j -= 1
      if (j >= 0) {
        var k = stackN - 1
        while (k >= j) {
          val f = stackFlags(k)
          if ((f & 1) != 0) anchorDepth = math.max(0, anchorDepth - 1)
          if ((f & 2) != 0) suppressDepth = math.max(0, suppressDepth - 1)
          if (stackNames(k) == "head") headDepth = math.max(0, headDepth - 1)
          k -= 1
        }
        stackN = j
        if (pathValidN > stackN) pathValidN = stackN
      }
    }

    @inline private def isNameStartB(b: Int): Boolean =
      (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
    @inline private def isNameCharB(b: Int): Boolean =
      isNameStartB(b) || (b >= '0' && b <= '9') || b == '-'
    @inline private def lowerB(b: Int): Int =
      if (b >= 'A' && b <= 'Z') b + 32 else b

    /** Advance cOff over one byte class (non-continuation = 1 unit, 4-byte
      * lead = 2) — the char-offset bookkeeping every skip loop shares.
      */
    @inline private def unitsOf(b: Int): Int =
      if ((b & 0xc0) == 0x80) 0 else if (b >= 0xf0 && b < 0xf5) 2 else 1

    /** The char cap's byte cut: the end of the longest prefix of at most
      * `caps.maxChars` UTF-16 units, on a code-point boundary (a unit takes
      * at least one byte, so only a page longer than the cap is walked).
      */
    private def capEnd(): Int = {
      if (end - off <= caps.maxChars) return end
      var i = off
      var units = 0L
      while (i < end && { units += unitsOf(bytes(i) & 0xff); units <= caps.maxChars }) i += 1
      i
    }

    /** Scan bytes [from, limit) for ASCII `ch`, advancing cOff; returns the
      * byte index (cOff = offset AT that index) or -1 (cOff at limit).
      */
    private def scanToChar(ch: Int, from: Int): Int = {
      var i = from
      while (i < nB) {
        if (i < bulkEnd) {
          val v = bb.getLong(i)
          val w = v & ~HIGH
          val m = (v & HIGH) | eqMask(w, ch)
          if (m == 0L) { cOff += 8; i += 8 }
          else {
            val k = java.lang.Long.numberOfTrailingZeros(m) >>> 3
            cOff += k; i += k
            val b = bytes(i) & 0xff
            if (b == ch) return i
            cOff += unitsOf(b)
            i += 1
          }
        } else {
          val b = bytes(i) & 0xff
          if (b == ch) return i
          cOff += unitsOf(b)
          i += 1
        }
      }
      -1
    }

    def run(): HtmlTokenizer.Result = {
      var i = off
      while (i < nB && blockN < caps.maxBlocks) {
        val c = bytes(i) & 0xff
        if (c == '<') {
          if (i + 3 < nB && bytes(i + 1) == '!' && bytes(i + 2) == '-' && bytes(i + 3) == '-') {
            // comment: scan for --> counting units
            cOff += 4 // "<!--"
            var j = i + 4
            var end = -1
            while (end < 0 && j < nB) {
              var bulked = false
              if (j < bulkEnd) {
                val v = bb.getLong(j)
                val w = v & ~HIGH
                val m = (v & HIGH) | eqMask(w, '-')
                if (m == 0L) { cOff += 8; j += 8; bulked = true }
                else {
                  // partial advance falls through to the per-byte check
                  val k = java.lang.Long.numberOfTrailingZeros(m) >>> 3
                  cOff += k; j += k
                }
              }
              if (!bulked) {
                if (bytes(j) == '-' && j + 2 < nB && bytes(j + 1) == '-' && bytes(j + 2) == '>')
                  end = j
                else { cOff += unitsOf(bytes(j) & 0xff); j += 1 }
              }
            }
            if (end < 0) i = nB
            else { cOff += 3; i = end + 3 }
          } else if (i + 1 < nB && bytes(i + 1) == '!') {
            cOff += 2
            val end = scanToChar('>', i + 2)
            if (end < 0) i = nB else { cOff += 1; i = end + 1 }
          } else if (i + 1 < nB && bytes(i + 1) == '?') {
            cOff += 2
            val end = scanToChar('>', i + 2)
            if (end < 0) i = nB else { cOff += 1; i = end + 1 }
          } else if (i + 1 < nB &&
            (isNameStartB(bytes(i + 1) & 0xff) || bytes(i + 1) == '/')) {
            val closing = bytes(i + 1) == '/'
            var j = i + (if (closing) 2 else 1)
            cOff += (if (closing) 2 else 1)
            if (closing && (j >= nB || !isNameStartB(bytes(j) & 0xff))) {
              // `</` not followed by a name: skip to '>'
              val end = scanToChar('>', j)
              if (end < 0) i = nB else { cOff += 1; i = end + 1 }
            } else {
              val nameStart = j
              var code = 0L
              var nameLen = 0
              while (j < nB && isNameCharB(bytes(j) & 0xff)) {
                if (nameLen < 11) {
                  val lc = lowerB(bytes(j) & 0xff)
                  val v =
                    if (lc >= 'a' && lc <= 'z') lc - 'a' + 1
                    else if (lc >= '0' && lc <= '9') lc - '0' + 27
                    else 37 // '-'
                  code = (code << 6) | v
                }
                nameLen += 1
                j += 1
              }
              cOff += nameLen // name chars are ASCII
              val info =
                if (nameLen <= 10) HtmlTokenizer.tagTable.getOrNull(code) else null
              val name =
                if (info != null) info.name
                else {
                  val nameSb = new java.lang.StringBuilder(nameLen)
                  var q = nameStart
                  while (q < nameStart + nameLen) {
                    nameSb.append(lowerB(bytes(q) & 0xff).toChar); q += 1
                  }
                  nameSb.toString
                }
              val isBlock = if (info != null) info.block else HtmlTokenizer.blockTags.contains(name)
              val isVoid = if (info != null) info.void else HtmlTokenizer.voidTags.contains(name)
              val isRaw = if (info != null) info.rawText else HtmlTokenizer.rawTextTags.contains(name)
              val isForeign = if (info != null) info.foreign else HtmlTokenizer.foreignRoots.contains(name)
              val isSuppress = if (info != null) info.suppress else HtmlTokenizer.suppressTags.contains(name)
              val isAnchor = if (info != null) info.anchor else name == "a"
              // scan to '>' quote-aware, counting units
              var selfClose = false
              var quote = 0
              var done = false
              while (j < nB && !done) {
                var bulked = false
                if (j < bulkEnd) {
                  val v = bb.getLong(j)
                  val w = v & ~HIGH
                  val m =
                    if (quote != 0) (v & HIGH) | eqMask(w, quote)
                    else (v & HIGH) | eqMask(w, '"') | eqMask(w, '\'') | eqMask(w, '>')
                  if (m == 0L) { cOff += 8; j += 8; bulked = true }
                  else {
                    // partial advance FALLS THROUGH to the per-byte dispatch
                    // for the stopping byte — a second bulk attempt there
                    // would just recompute the same masks to learn k = 0
                    val k = java.lang.Long.numberOfTrailingZeros(m) >>> 3
                    cOff += k; j += k
                  }
                }
                if (!bulked) {
                  val cc = bytes(j) & 0xff
                  if (quote != 0) {
                    if (cc == quote) quote = 0
                    cOff += unitsOf(cc); j += 1
                  } else if (cc == '"' || cc == '\'') { quote = cc; cOff += 1; j += 1 }
                  else if (cc == '>') {
                    selfClose = j > 0 && bytes(j - 1) == '/'
                    cOff += 1; j += 1; done = true
                  } else { cOff += unitsOf(cc); j += 1 }
                }
              }
              if (!done) { i = nB }
              else {
                if (isBlock) flush()
                if (!closing && name == "body" && headDepth > 0)
                  popThrough("head")
                if (closing) { popThrough(name); i = j }
                else if (isRaw) {
                  // raw text: skip to the matching close tag (WHATWG end-tag
                  // rule), counting units through the skipped region
                  var k = j
                  var found = -1
                  while (found < 0 && k < nB) {
                    var bulked = false
                    if (k < bulkEnd) {
                      val v = bb.getLong(k)
                      val w = v & ~HIGH
                      val m = (v & HIGH) | eqMask(w, '<')
                      if (m == 0L) { cOff += 8; k += 8; bulked = true }
                      else {
                        // partial advance falls through to the per-byte check
                        val kk = java.lang.Long.numberOfTrailingZeros(m) >>> 3
                        cOff += kk; k += kk
                      }
                    }
                    if (!bulked) {
                      if (bytes(k) == '<' && k + 1 < nB && bytes(k + 1) == '/' &&
                        matchesNameAt(k + 2, name) &&
                        isRawTextEnd(k + 2 + name.length)) found = k
                      else { cOff += unitsOf(bytes(k) & 0xff); k += 1 }
                    }
                  }
                  if (found < 0) i = nB
                  else {
                    val end = scanToChar('>', found) // counts from found (the '<')
                    if (end < 0) i = nB else { cOff += 1; i = end + 1 }
                  }
                } else {
                  if (!isVoid && !(selfClose && isForeign))
                    pushElem(name, if (nameLen <= 10) code else -1L, isAnchor, isSuppress)
                  i = j
                }
              }
            }
          } else {
            // literal '<' (visible ASCII)
            appendRun(i, i + 1, cOff, cOff + 1, KAscii)
            cOff += 1
            i += 1
          }
        } else if (c == '&') {
          val dec = Entities.tryDecode(view, i, nB)
          if (dec != null) {
            appendDecoded(dec._1, cOff, cOff + dec._2)
            cOff += dec._2 // entity source is pure ASCII
            i += dec._2
          } else {
            appendRun(i, i + 1, cOff, cOff + 1, KAscii)
            cOff += 1
            i += 1
          }
        } else {
          // text run up to the next special byte — one fused scan for run
          // extent, visibility extent (char coords) and ASCII-ness
          var j = i
          var firstC = -1
          var lastCEnd = -1
          var kind = KAscii
          if (suppressDepth > 0) {
            // suppressed text never emits (appendRun/appendDecoded both
            // no-op), and an entity's SOURCE bytes are pure ASCII — one
            // UTF-16 unit each, exactly what the bulk counter already adds.
            // So '&' is NOT special here (scripts are full of '&&'); the
            // scan stops only at '<' and multi-byte leads.
            var scanning = true
            while (scanning && j < nB) {
              var bulked = false
              if (j < bulkEnd) {
                val v = bb.getLong(j)
                val w = v & ~HIGH
                val m = (v & HIGH) | eqMask(w, '<')
                if (m == 0L) { cOff += 8; j += 8; bulked = true }
                else {
                  // partial advance falls through to the per-byte dispatch
                  val k = java.lang.Long.numberOfTrailingZeros(m) >>> 3
                  cOff += k; j += k
                }
              }
              if (!bulked) {
                val b = bytes(j) & 0xff
                val cls = CLS(b)
                if (cls == 3) scanning = false
                else if (cls <= 2 || cls == 4) { cOff += 1; j += 1 }
                else { cOff += (if (cls == 7) 2 else 1); j += cls - 3 } // 5→2, 6→3, 7→4 bytes
              }
            }
          } else {
            var scanning = true
            while (scanning && j < nB) {
              // SWAR bulk: a word of whitespace + visible ASCII advances in
              // one step — the visible-extent bookkeeping reads the exact
              // per-lane ≥ 0x21 mask. Only '<' '&', C0/DEL controls and
              // multi-byte leads drop to the per-byte branch.
              var bulked = false
              if (j < bulkEnd) {
                val v = bb.getLong(j)
                val w = v & ~HIGH
                val ctrlM = ltMask(w, 9) | (geMask(w, 14) & ltMask(w, 0x20)) |
                  eqMask(w, 0x7f)
                val special = (v & HIGH) | eqMask(w, '<') | eqMask(w, '&') | ctrlM
                val k =
                  if (special == 0L) 8
                  else java.lang.Long.numberOfTrailingZeros(special) >>> 3
                if (k > 0) {
                  val visM = geMask(w, 0x21) &
                    (if (k == 8) -1L else (1L << (8 * k)) - 1)
                  if (visM != 0L) {
                    if (firstC < 0)
                      firstC = cOff + (java.lang.Long.numberOfTrailingZeros(visM) >>> 3)
                    lastCEnd = cOff +
                      ((63 - java.lang.Long.numberOfLeadingZeros(visM)) >>> 3) + 1
                  }
                  cOff += k; j += k
                  // a clean word continues bulk; a partial advance falls
                  // through to the per-byte dispatch for the stopping byte
                  bulked = k == 8
                }
              }
              if (!bulked && scanning && j < nB) {
              val b = bytes(j) & 0xff
              val cls = CLS(b)
              if (cls == 1) { // visible ASCII — dominant branch
                if (firstC < 0) firstC = cOff
                lastCEnd = cOff + 1
                cOff += 1; j += 1
              } else if (cls == 0 || cls == 2) { cOff += 1; j += 1 }
              else if (cls == 3 || cls == 4) scanning = false
              else {
                val blen = cls - 3 // 2, 3 or 4 bytes
                val units = if (cls == 7) 2 else 1
                val visible =
                  if (cls == 7) true // astral: never ws/stripped/control
                  else {
                    val cp =
                      if (cls == 5) ((b & 0x1f) << 6) | (bytes(j + 1) & 0x3f)
                      else ((b & 0x0f) << 12) | ((bytes(j + 1) & 0x3f) << 6) |
                        (bytes(j + 2) & 0x3f)
                    val ch = cp.toChar
                    !(Canon.isWs(ch) || Canon.isStripped(ch) || Canon.isControl(ch))
                  }
                if (visible) {
                  // only a VISIBLE non-ASCII char leaves the fused ASCII
                  // flush; invisible ones (nbsp, zwsp, C1, line-sep — all
                  // common in real pages) are collapsed/stripped before NFC
                  // could matter, so that flush handles them inline. A
                  // visible 2-byte char below U+0300 (lead < 0xCC) keeps
                  // the block on the fused Latin flush; anything else —
                  // combining marks, CJK, U+FFFD, astral — takes the raw
                  // flush with its NFC pass
                  if (cls != 5 || b >= 0xcc) kind = KRaw
                  else if (kind == KAscii) kind = KLatin
                  if (firstC < 0) firstC = cOff
                  lastCEnd = cOff + units
                }
                cOff += units
                j += blen
              }
              }
            }
          }
          if (suppressDepth == 0) appendRun(i, j, firstC, lastCEnd, kind)
          i = j
        }
        if (!inLink) endLinkRunIfOpen()
      }
      if (i < nB) truncated = true
      flush()
      // shrink an over-grown canon buffer before parking the scratch (a
      // single huge block must not pin memory for the thread's lifetime)
      if (scratch.byteBuf.length > (1 << 20)) scratch.byteBuf = new Array[Byte](1 << 16)
      if (scratch.charBuf.length > (1 << 20)) scratch.charBuf = new Array[Char](1 << 16)
      HtmlTokenizer.Result(java.util.Arrays.copyOf(blockBuf, blockN), truncated)
    }

    /** Case-insensitive ASCII match of `name` at byte position p. */
    private def matchesNameAt(p: Int, name: String): Boolean = {
      if (p + name.length > nB) return false
      var k = 0
      while (k < name.length) {
        if (lowerB(bytes(p + k) & 0xff) != name.charAt(k)) return false
        k += 1
      }
      true
    }

    /** WHATWG raw-text end-tag rule on bytes (HtmlTokenizer.isRawTextEndTag). */
    private def isRawTextEnd(after: Int): Boolean =
      if (after >= nB) true
      else {
        val c = bytes(after) & 0xff
        c == '>' || c == '/' || c == ' ' || c == '\t' || c == '\n' ||
          c == '\r' || c == '\f'
      }
  }
}
