package graft.detect

import graft.core.Block

/** Per-document quality detectors — transplant of the blur/glare detector
  * layer (SURVEY.md §2.7). The reference's blur/glare gates are stubs that
  * always pass (blurDetection.cpp:85-89, glareDetection.cpp:27-30), so no
  * gate is built for them here; only the garbage gate (encoding damage)
  * quarantines, because a damaged decode poisons everything downstream.
  * The per-document score is [[parseability]] (`DocStats.qualityScore`);
  * q_quality_scores computes the text ratios with the native
  * `graft_quality_counts` expression.
  */
object Quality {

  /** Fraction of U+FFFD replacement chars + non-whitespace control chars in
    * the decoded text — encoding/binary damage measure (guards the decode
    * edge; binary payloads masquerading as html are control-dense).
    */
  def garbageRatio(decoded: String): Double =
    if (decoded.isEmpty) 0.0 else garbageCount(decoded).toDouble / decoded.length

  /** The numerator of [[garbageRatio]]. */
  def garbageCount(decoded: String): Int = {
    var bad = 0
    var i = 0
    while (i < decoded.length) {
      val c = decoded.charAt(i)
      // fast path: printable ASCII is never garbage
      if (!(c >= ' ' && c < 0x7f) &&
        (c == '�' || graft.text.Canon.isControl(c))) bad += 1
      i += 1
    }
    bad
  }

  /** Score #1 (LAPM analogue, blurDetection.cpp:32-47): parseability — the
    * fraction of decoded chars that survived into block text, from the
    * decoded UTF-16 length. Low values mean tag soup / binary junk.
    */
  def parseability(decodedLen: Int, blocks: Array[Block]): Double = {
    if (decodedLen == 0) return 0.0
    var textChars = 0L
    var i = 0
    while (i < blocks.length) { textChars += blocks(i).nChars; i += 1 }
    math.min(1.0, textChars.toDouble / decodedLen)
  }
}
