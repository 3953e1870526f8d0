package graft.detect

import graft.core.Block

/** Per-document quality detectors — transplant of the blur/glare detector
  * layer (SURVEY.md §2.7). Like the reference, the scores are computed and
  * recorded but the gates DEFAULT OPEN (isBlurred/isGlared are stubs that
  * always return false, blurDetection.cpp:85-89, glareDetection.cpp:27-30);
  * only the garbage gate (encoding damage) actively quarantines, because a
  * damaged decode poisons everything downstream.
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

  /** Score #2 (LAPV analogue, blurDetection.cpp:50-60): variance of block
    * lengths — a perfectly flat profile is suspicious (generated listings).
    */
  def blockLengthVariance(blocks: Array[Block]): Double = {
    val n = blocks.length
    if (n == 0) return 0.0
    var sum = 0.0; var sumSq = 0.0
    var i = 0
    while (i < n) { val v = blocks(i).nChars.toDouble; sum += v; sumSq += v * v; i += 1 }
    val m = sum / n
    math.max(0.0, sumSq / n - m * m)
  }

  /** Score #3 (TENG/Sobel-energy analogue, blurDetection.cpp:63-73): markup
    * transition energy — mean squared jump between adjacent block lengths.
    */
  def transitionEnergy(blocks: Array[Block]): Double = {
    val n = blocks.length
    if (n < 2) return 0.0
    var acc = 0.0
    var i = 1
    while (i < n) {
      val d = (blocks(i).nChars - blocks(i - 1).nChars).toDouble
      acc += d * d
      i += 1
    }
    acc / (n - 1)
  }

  /** Score #4 (GLVN analogue, blurDetection.cpp:76-83): normalized variance
    * σ²/μ of block lengths.
    */
  def normalizedVariance(blocks: Array[Block]): Double = {
    val n = blocks.length
    if (n == 0) return 0.0
    var sum = 0.0
    var i = 0
    while (i < n) { sum += blocks(i).nChars; i += 1 }
    val m = sum / n
    if (m <= 0) 0.0 else blockLengthVariance(blocks) / m
  }

  /** Gate stubs mirroring the reference: wired, threshold-configurable,
    * default-open (always false ⇒ never quarantine on these).
    */
  def isLowQuality(blocks: Array[Block], threshold: Double = 0.0): Boolean = false
  def isInterstitial(blocks: Array[Block]): Boolean = false
}
