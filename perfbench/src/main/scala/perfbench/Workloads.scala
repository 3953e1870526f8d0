package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PageRow
import graft.spark.ExtractJob
import graft.table.SnapshotTable

/** One timed pass: what it did, how many units of work it completed and
  * whether its own output check held.
  */
final case class PassOut(label: String, units: Long, ok: Boolean)

/** One untimed correctness check. */
final case class CheckResult(name: String, ok: Boolean, detail: String)

object Workload {
  /** The workloads the command runs; both are extraction passes. */
  val names: Seq[String] = Seq("crawl_mix", "legacy_charset")
  /** Docs in the crawl_mix corpus. */
  val crawlDocs = 24000L
  /** Fixture ids scanned for legacy_charset (about a tenth are kept). */
  val legacyDocs = 12000L
  /** Docs in the resume corpus (a crawl corpus of its own). */
  val resumeDocs = 8000L
  /** The seed whose outputs are recorded in expected.properties. */
  val defaultSeed = 42L

  def apply(name: String, seed: Long): ExtractWorkload = name match {
    case "legacy_charset" => new ExtractWorkload(name, seed, legacyDocs, Corpus.legacy(seed, legacyDocs))
    case "crawl_mix" => new ExtractWorkload(name, seed, crawlDocs, Corpus.crawl(seed, crawlDocs))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Compare an observed output with the recorded one, where recorded. */
  def recorded(key: String, seed: Long, observed: String): Seq[CheckResult] =
    if (seed != defaultSeed) Nil
    else Check.expected.get(key) match {
      case Some(v) => Seq(CheckResult(s"recorded $key", v == observed, s"observed=$observed recorded=$v"))
      case None => Seq(CheckResult(s"recorded $key", ok = false, s"observed=$observed, nothing recorded"))
    }
}

/** crawl_mix / legacy_charset, a closed loop: one thread starts the next
  * pass only after the previous one returned. A pass is read parquet →
  * ExtractJob.extract → count/sum aggregate, the engine bench's own pass.
  */
final class ExtractWorkload(val name: String, seed: Long, val n: Long,
    val gen: SparkSession => Dataset[CorpusRow]) {
  var corpus: Corpus = _

  /** Materialize (or reuse) the corpus; untimed. */
  def prepare(spark: SparkSession, cache: Path): Unit =
    corpus = Corpus.materialize(spark, cache, name, seed, n, gen)
  /** Open the inputs in a fresh session (part of set-up). */
  def open(spark: SparkSession): Unit = graft.Bench.tuneSplitFor(spark, corpus.path)

  def pass(spark: SparkSession): PassOut = {
    val (_, docs, bytes) = graft.Bench.extractionRunFiles(spark, Seq(corpus.path))
    PassOut(name, docs, docs == corpus.docs && bytes == corpus.htmlBytes)
  }

  def checks(spark: SparkSession): Seq[CheckResult] = {
    val docs = Check.flat(ExtractJob.extract(Corpus.pages(spark, corpus))).persist()
    val (d, gt) =
      try (Check.digest(docs), Check.groundTruthMismatches(spark, docs, corpus.path))
      finally docs.unpersist()
    Log.info(s"$name seed=$seed digest=$d ground-truth mismatches=$gt")
    CheckResult("ground truth", gt == 0, s"$gt of ${corpus.docs} docs differ") +:
      Workload.recorded(s"$name.$n.digest", seed, d)
  }
}

/** The resume flow, measured by the traced run: ExtractMain's flow through
  * public calls. A base snapshot with about half the urls is committed once
  * per corpus; every pass anti-joins the done urls, extracts the rest with a
  * lineage accumulator, flattens and appends a snapshot. The table is reset
  * to the base snapshot after each pass, untimed.
  */
final class ResumeFlow(seed: Long) {
  val name = "resume"
  private val n = Workload.resumeDocs
  var corpus: Corpus = _
  private var baseDir: Path = _
  private var tableDir: Path = _
  var baseDocs = 0L
  private var passNo = 0
  // when the last pass's append returned, read by the traced run
  var appendReturnMs = 0L
  var lastRunId = ""

  def prepare(spark: SparkSession, cache: Path): Unit = {
    corpus = Corpus.materialize(spark, cache, "crawl_mix", seed, n, Corpus.crawl(seed, n))
    baseDir = cache.resolve(Paths.get(corpus.path).getFileName.toString + "_resume_base")
    tableDir = cache.resolve("resume_table")
    if (SnapshotTable.currentSnapshot(baseDir.toString).isEmpty) {
      Corpus.deleteTree(baseDir)
      val half = Corpus.pages(spark, corpus).filter(pmod(xxhash64(col("url")), lit(2)) === 0)
      SnapshotTable.append(flatten(ExtractJob.extract(half, runId = "base")), baseDir.toString, "base")
    }
    baseDocs = SnapshotTable.currentSnapshot(baseDir.toString).get.rows
  }

  /** ExtractMain's output shape. */
  private def flatten(docs: Dataset[graft.core.ExtractedDoc]): DataFrame =
    docs.toDF()
      .select(col("url"), col("extracted_text"),
        to_json(col("spans")).as("spans_json"), col("status"),
        col("stats.nBlocks").as("n_blocks"), col("stats.nKept").as("n_kept"),
        col("stats.htmlBytes").as("html_bytes"), col("stats.charset").as("charset"),
        col("stats.truncated").as("truncated"))
      .sortWithinPartitions("url")

  /** The table back to the base snapshot: the base manifest lists the
    * base data files by path, so copying the manifests is enough.
    */
  private def reset(): Unit = {
    Corpus.deleteTree(tableDir)
    Corpus.copyTree(baseDir.resolve("snapshots"), tableDir.resolve("snapshots"))
  }

  def open(spark: SparkSession): Unit = {
    graft.Bench.tuneSplitFor(spark, corpus.path)
    reset()
  }

  def pass(spark: SparkSession): PassOut = {
    import spark.implicits._
    passNo += 1
    lastRunId = s"pass-$passNo"
    val done = SnapshotTable.doneUrls(spark, tableDir.toString).get
    val remaining = Corpus.pages(spark, corpus).toDF()
      .join(done.withColumnRenamed("url", "done_url"), col("url") === col("done_url"), "left_anti")
      .as[PageRow]
    val lineage = ExtractJob.newLineageAcc(spark, s"lineage-$lastRunId")
    val docs = ExtractJob.extract(remaining, runId = lastRunId, lineageAcc = lineage)
    val snap = SnapshotTable.append(flatten(docs), tableDir.toString, lastRunId)
    appendReturnMs = System.currentTimeMillis()
    import scala.jdk.CollectionConverters._
    val extracted = ExtractJob.dedupeLineage(lineage.value.asScala.toSeq).map(_.doc_count).sum
    val fresh = corpus.docs - baseDocs
    PassOut(name, extracted, snap.rows == corpus.docs && extracted == fresh)
  }

  /** Undo a pass: the table back to the base snapshot. */
  def afterPass(): Unit = reset()

  /** The done-url set materialized: `doneUrls` plus a scan of every url
    * and a distinct count, the work the anti-join's build side does.
    * Returns (seconds, distinct urls).
    */
  def doneUrlSet(spark: SparkSession): (Double, Long) = {
    val t0 = System.nanoTime()
    val urls = SnapshotTable.doneUrls(spark, tableDir.toString).get
      .agg(countDistinct(col("url"))).collect()(0).getLong(0)
    ((System.nanoTime() - t0) / 1e9, urls)
  }

  /** Data written by the last pass: (bytes, files). */
  def lastRunSize: (Long, Int) =
    Corpus.sizeOfTree(tableDir.resolve("data").resolve(s"run=$lastRunId"))

  /** One pass, then the committed table: every url once, the same digest
    * as a plain extraction of the corpus, lineage docs = the new docs.
    */
  def checks(spark: SparkSession): Seq[CheckResult] = {
    val crawl = Check.digest(Check.flat(ExtractJob.extract(Corpus.pages(spark, corpus))))
    val p = pass(spark)
    val table = SnapshotTable.read(spark, tableDir.toString).get
    val urls = table.select(countDistinct(col("url"))).collect()(0).getLong(0)
    val d = Check.digest(table)
    afterPass()
    Log.info(s"$name seed=$seed table digest=$d crawl digest=$crawl urls=$urls")
    Seq(
      CheckResult("commit pass", p.ok, s"lineage docs ${p.units}, base $baseDocs"),
      CheckResult("distinct urls", urls == corpus.docs, s"$urls of ${corpus.docs}"),
      CheckResult("table digest == crawl digest", d == crawl, s"$d vs $crawl"),
      CheckResult("done urls == base", doneUrlSet(spark)._2 == baseDocs, s"base $baseDocs")) ++
      Workload.recorded(s"crawl_mix.$n.digest", seed, d)
  }
}
