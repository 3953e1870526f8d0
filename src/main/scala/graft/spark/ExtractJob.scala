package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.CollectionAccumulator
import org.apache.spark.TaskContext
import graft.core._
import graft.pipeline.Extract

/** The distributed extraction job — SURVEY.md §4.3 physical plan:
  * scan → per-partition fused pipeline (zero shuffles) → write.
  *
  * The whole PRLib pipeline is one narrow `mapPartitions`: no shuffle, no
  * aggregation, no driver round-trip. Per-partition lineage rows (doc/byte
  * counts, stage timings) are collected through an accumulator and committed
  * with the snapshot (BASELINE.json north_rule).
  *
  * Scale posture:
  *  - per-row cost caps inside Extract (resize analogue) bound task memory;
  *  - per-row purity ⇒ partition order/count never changes results;
  *  - poison rows route to quarantine status, never fail the task.
  */
object ExtractJob {

  /** Narrow transform: pages → extracted docs, lineage via accumulator.
    * The accumulator is populated on ACTION (materialize docs first, then
    * read lineage).
    */
  def extract(
      pages: Dataset[PageRow],
      cfg: Extract.Config = Extract.Default,
      runId: String = "run",
      lineageAcc: CollectionAccumulator[LineageRow] = null): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val acc = lineageAcc
    // r6 (guide §2.3/§6 "project before the opaque operation"): extraction
    // reads ONLY url + html, but a typed mapPartitions over PageRow is
    // opaque to Catalyst, so without this select the scan decodes all five
    // columns — including the `text` sidecar string the bench corpus
    // carries, which was decompressed + materialized as a java String per
    // row and thrown away. The explicit projection pushes the pruning into
    // the parquet scan (ReadSchema: url, html — verified in
    // plans/r06/extract_agg_after.txt).
    pages.select(col("url"), col("html")).as[(String, Array[Byte])]
      .mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      var docCount = 0L
      var htmlBytes = 0L
      var textBytes = 0L
      var quarantined = 0L
      val t0 = System.nanoTime()
      val out = rows.map { case (url, html) =>
        val doc = Extract(PageRow(url, null, html, null, null), cfg)
        docCount += 1
        htmlBytes += doc.stats.htmlBytes
        // UTF-8 bytes, as `octet_length` counts them (Bench): a UTF-16
        // length under-counts every accented doc
        if (acc != null) textBytes += utf8Length(doc.extracted_text)
        if (doc.status != Status.Ok) quarantined += 1
        doc
      }
      // wrap to emit lineage when the partition iterator is exhausted.
      // Accumulator updates inside a TRANSFORMATION are at-least-once under
      // task retry/speculation; the row carries the task attempt number so
      // the consumer dedupes by (run_id, partition_id) keeping the highest
      // attempt — see dedupeLineage (VERDICT r1 "what's wrong" #3).
      val attempt = Option(TaskContext.get()).map(_.attemptNumber()).getOrElse(0)
      new Iterator[ExtractedDoc] {
        private var emitted = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !emitted && acc != null) {
            emitted = true
            acc.add(LineageRow(runId, -1L, pid, attempt, docCount, htmlBytes,
              textBytes, quarantined, Map("total" -> (System.nanoTime() - t0)),
              new java.sql.Timestamp(System.currentTimeMillis())))
          }
          h
        }
        def next(): ExtractedDoc = out.next()
      }
    }
  }

  /** Byte length of `s` in UTF-8 as Spark stores it, without encoding it: a
    * surrogate pair is 4 bytes and a lone surrogate 1 (the encoder writes
    * '?' for it).
    */
  private[graft] def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) { n += 4; i += 1 }
      else if (Character.isSurrogate(c)) n += 1
      else n += 3
      i += 1
    }
    n
  }

  /** Exactly-once lineage view over at-least-once accumulator rows: one row
    * per (run_id, partition_id), highest attempt wins (a retried task
    * re-processes the WHOLE partition, so its counters supersede — they
    * never add).
    */
  def dedupeLineage(rows: Seq[LineageRow]): Seq[LineageRow] =
    rows.groupBy(l => (l.run_id, l.partition_id))
      .values.map(_.maxBy(_.attempt))
      .toSeq.sortBy(l => (l.run_id, l.partition_id))

  def newLineageAcc(spark: SparkSession, name: String): CollectionAccumulator[LineageRow] = {
    val acc = new CollectionAccumulator[LineageRow]
    spark.sparkContext.register(acc, name)
    acc
  }
}
