package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.PageRow
import graft.fixtures.FixtureGen

/** Distributed fixture-page source: `spark.range(n)` → one PageRow per id.
  * Generation is per-row deterministic (seed ⊕ url hash, FixtureGen), so the
  * produced table is IDENTICAL regardless of partition count or execution
  * order — the property that lets the same corpus back golden tests
  * (sequential) and the bench (local[8] vs local[32]) without drift.
  *
  * At 100 TB this node is replaced by the real Iceberg scan; everything
  * downstream consumes only Dataset[PageRow].
  */
object PageSource {

  def pages(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): Dataset[PageRow] =
    generate(spark, n, partitions)(id => FixtureGen.fixture(id, seed).page)

  /** Adversarial corpus twin (threshold-band + inverted-polarity pages). */
  def adversarialPages(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): Dataset[PageRow] =
    generate(spark, n, partitions)(id => FixtureGen.adversarialFixture(id, seed).page)

  /** Region-classifier ground-truth corpora (VERDICT r2 item 3). */
  def fbsectPages(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): Dataset[PageRow] =
    generate(spark, n, partitions)(id => FixtureGen.fbsectFixture(id, seed).page)

  def cocoedgePages(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): Dataset[PageRow] =
    generate(spark, n, partitions)(id => FixtureGen.cocoedgeFixture(id, seed).page)

  /** findAngle/deskew ground-truth corpus (over-wrapped pages). */
  def overwrapPages(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0): Dataset[PageRow] =
    generate(spark, n, partitions)(id => FixtureGen.overwrapFixture(id, seed).page)

  /** Threshold-rule ground-truth corpora (r4: nibhi/nickdim/wolfglob/
    * fengpoly/kuwedge — see FixtureGen.ruleCorpora).
    */
  def rulePages(spark: SparkSession, corpus: String, n: Long, seed: Long = 42L,
      partitions: Int = 0): Dataset[PageRow] =
    generate(spark, n, partitions)(id => FixtureGen.ruleFixtureFor(corpus, id, seed).page)

  private def generate(spark: SparkSession, n: Long, partitions: Int)(
      gen: Long => PageRow): Dataset[PageRow] = {
    import spark.implicits._
    // r6: partition count scales with n instead of a flat 2×cores — the
    // fixture-corpus queries (140–400 docs) were running 64 tasks of ~6
    // docs each, pure scheduling overhead (guide §6 task-count reasoning).
    // ≥16 docs/task amortizes task setup; the 2×cores cap keeps large
    // corpora (the bench input generation) at the old parallelism. Results
    // are partitioning-invariant by construction (per-row determinism —
    // the documented property this source exists to provide).
    // Sized in Long and narrowed last: (n + 15) / 16 overflows Int from
    // n ≈ 2^35, which would collapse a huge corpus to the 4-task floor.
    val parts = if (partitions > 0) partitions
    else math.min(spark.sparkContext.defaultParallelism * 2L,
      math.max(4L, (n + 15) / 16)).toInt
    spark.range(0L, n, 1L, parts).mapPartitions(ids => ids.map(id => gen(id)))
  }
}
