package graft.clean

import graft.core.Block
import graft.classify.Classifiers

/** Structured-artifact removal — the reference's "DELETE WHERE" family
  * (SURVEY.md §2.5), applied to the keep-labels AFTER classification.
  * Every rule is a pure function (labels, blocks) → labels.
  */
object Artifacts {

  private val separatorChars: Set[Char] =
    Set('-', '=', '_', '*', '~', '|', '+', '#', '.', '•', '·', '—', '–', ' ')

  /** removeLines analogue (removeLines.cpp:30-76): kill decorative separator
    * blocks — canonical text of length >= 3 made only of rule characters.
    * The reference sizes its structuring element proportionally to the image
    * (cols/50); the proportional idea survives in [[killRepeatRuns]].
    */
  def dropSeparators(blocks: Array[Block], labels: Array[Boolean]): Array[Boolean] = {
    val out = labels.clone()
    var i = 0
    while (i < blocks.length) {
      val t = blocks(i).text
      if (t.length >= 3 && t.forall(separatorChars.contains)) out(i) = false
      i += 1
    }
    out
  }

  /** removeLines proportional rule, second half: runs of >= max(3, n/50)
    * consecutive blocks with IDENTICAL canonical text are structure, not
    * content — drop the whole run.
    */
  def killRepeatRuns(blocks: Array[Block], labels: Array[Boolean]): Array[Boolean] = {
    val n = blocks.length
    if (n == 0) return labels
    val out = labels.clone()
    val minRun = math.max(3, n / 50)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && blocks(j).text == blocks(i).text) j += 1
      if (j - i >= minRun) {
        var k = i
        while (k < j) { out(k) = false; k += 1 }
      }
      i = j
    }
    out
  }

  /** removeDots analogue (removeDots.cpp:33-96): tiny isolated kept blocks
    * (specks) with no kept neighbor are noise. NOTE divergence honored from
    * SURVEY.md §2.5: the reference only MARKS the dots (its fill loop is
    * commented out, removeDots.cpp:91-95); we implement the evident intent
    * and remove them. Size bound ∝ doc size mirrors maxArea ∝ image width.
    */
  def dropTinyIsolated(blocks: Array[Block], labels: Array[Boolean]): Array[Boolean] = {
    val n = blocks.length
    val out = labels.clone()
    val maxDot = 3 // canonical chars; "circularity" has no text analogue
    var i = 0
    while (i < n) {
      if (out(i) && blocks(i).nChars <= maxDot) {
        val leftKept = i > 0 && labels(i - 1)
        val rightKept = i < n - 1 && labels(i + 1)
        if (!leftKept && !rightKept) out(i) = false
      }
      i += 1
    }
    out
  }

  /** removeHolePunch analogue (removeHolePunch.cpp:34-93): positional margin
    * heuristic — blobs are removed ONLY in the outer 10% margins (:66-85).
    * Here: short, link-bearing widget blocks (share buttons, social rows)
    * within the first/last 10% of the block sequence.
    */
  def dropMarginWidgets(blocks: Array[Block], labels: Array[Boolean]): Array[Boolean] = {
    val n = blocks.length
    if (n == 0) return labels
    val out = labels.clone()
    val margin = math.max(1, n / 10)
    var i = 0
    while (i < n) {
      if (out(i) && (i < margin || i >= n - margin)) {
        val b = blocks(i)
        if (b.nTokens <= 6 && Classifiers.linkDensity(b) >= 0.5) out(i) = false
      }
      i += 1
    }
    out
  }

  /** denoiseNLM analogue (denoiseNLM.cpp:29-32): non-local means averages
    * similar patches; for blocks, short kept blocks whose canonical text is
    * an exact repeat of an earlier kept block are widget noise — keep the
    * first occurrence only. Length-bounded so legitimate repeated prose
    * (quotes) is untouched.
    */
  def collapseNearDups(blocks: Array[Block], labels: Array[Boolean]): Array[Boolean] = {
    val n = blocks.length
    val out = labels.clone()
    val seen = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i < n) {
      if (out(i) && blocks(i).nChars <= 80) {
        if (!seen.add(blocks(i).text)) out(i) = false
      }
      i += 1
    }
    out
  }

  /** basicDeblur analogue (basicDeblur.cpp:33-70, unsharp mask
    * `addWeighted(orig, 2w, blurred, 2w-2)`): sharpen the signal before
    * thresholding, x' = x + lambda*(x - windowMean(x)). Improves separation
    * of borderline blocks; opt-in (off by default).
    */
  def sharpen(x: Array[Double], window: Int, lambda: Double): Array[Double] = {
    val ws = new graft.classify.WindowStats(x)
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      out(i) = x(i) + lambda * (x(i) - ws.mean(i, window))
      i += 1
    }
    out
  }

  /** Default artifact chain used by the pipeline. */
  def all(blocks: Array[Block], labels: Array[Boolean]): Array[Boolean] = {
    var l = dropSeparators(blocks, labels)
    l = killRepeatRuns(blocks, l)
    l = dropMarginWidgets(blocks, l)
    l = collapseNearDups(blocks, l)
    l = dropTinyIsolated(blocks, l)
    l
  }
}
