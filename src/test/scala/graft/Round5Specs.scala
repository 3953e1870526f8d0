package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** README oracle-count gate (VERDICT r4 "what's wrong" 1 — count rot twice):
  * the README's claimed oracle-query count must equal `SparkEntry.queries`
  * and the CORRECTNESS artifact it cites must exist and agree, so a stale
  * doc FAILS the suite instead of shipping.
  */
class ReadmeCountSpec extends AnyFunSuite {

  test("README oracle-query count == SparkEntry.queries.size") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), StandardCharsets.UTF_8)
    val m = """\*\*(\d+) oracle-checked queries""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README.md lost its '**N oracle-checked queries' line")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README says ${m.get.group(1)} oracle-checked queries; SparkEntry.queries has ${SparkEntry.queries.size} — update README.md")
  }

  test("README's cited CORRECTNESS round exists and its query count agrees") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), StandardCharsets.UTF_8)
    val r = """CORRECTNESS_r(\d+)""".r.findFirstMatchIn(readme)
    assert(r.isDefined, "README.md no longer cites a CORRECTNESS_r{N} artifact")
    val f = Paths.get(s"CORRECTNESS_r${r.get.group(1)}.json")
    assert(Files.exists(f), s"README cites $f which does not exist")
    val parsed = graft.table.Json.parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    val n = parsed.asInstanceOf[Map[String, Any]].size
    // the cited artifact may lag the code by the queries ADDED this round,
    // but never the other way (citing an artifact with more queries than
    // the code has means the citation is stale)
    assert(n <= SparkEntry.queries.size,
      s"README cites CORRECTNESS_r${r.get.group(1)} with $n queries but SparkEntry has ${SparkEntry.queries.size}")
  }
}

/** Clean-floor quiet criterion (VERDICT r4 item 3): replaying BENCH_r04's
  * recorded pass set through the new PassRecord flags must classify the
  * 17,777-CPU-s pass as NOT quiet — external memory pressure inflates the
  * job's own jiffies while the ext-CPU and iowait probes read 0.00, so the
  * summed task CPU vs the session's clean floor is the axis that cannot be
  * fooled.
  */
class BenchQuietFloorSpec extends AnyFunSuite {

  // BENCH_r04.json extract_pass_records, verbatim
  private val r04 = Seq(
    Bench.PassRecord(671.100, 17776.594, 21.75, 25.66, 0.0, 0.0, 0.0),
    Bench.PassRecord(260.620, 6242.902, 25.66, 20.65, 0.0, 0.01, 0.0),
    Bench.PassRecord(17.496, 101.096, 20.65, 16.45, 0.0, 0.0, 0.0),
    Bench.PassRecord(8.013, 87.182, 16.45, 17.93, 0.0, 0.0, 0.0),
    Bench.PassRecord(13.067, 219.197, 17.93, 16.71, 0.0, 0.0, 0.0))

  test("BENCH_r04 pass 1 (17,777 CPU-s, probes 0.00) now reads quiet:false") {
    val floor = r04.map(_.cpuS).min
    val fin = r04.map(_.withFloor(floor, 1.5 * 32))
    assert(!fin(0).quiet && !fin(0).cpuFloorOk, "the loaded 671 s/17777 CPU-s pass must not be quiet")
    assert(!fin(1).quiet, "the 6243 CPU-s pass must not be quiet")
    assert(fin(2).quiet, "the 101 CPU-s pass is within 2x of the 87 s floor")
    assert(fin(3).quiet, "the floor pass itself is quiet")
    assert(!fin(4).quiet, "219 CPU-s is >2x the 87 s floor")
    // headline selection: best quiet wall = the true 8.013 s pass
    val headline = fin.filter(_.quiet).minBy(_.wallS)
    assert(math.abs(headline.wallS - 8.013) < 1e-9)
    // the JSON self-describes the new axes
    assert(fin(0).json.contains("\"cpu_floor_ok\":false"))
    assert(fin(3).json.contains("\"cpu_floor_ok\":true"))
  }

  test("unset floor leaves legacy semantics (no retroactive flag changes)") {
    val p = Bench.PassRecord(10.0, 100.0, 1.0, 1.0, 0.1, 0.0, 0.0)
    assert(p.cpuFloorOk && p.loadSane && p.quiet)
  }

  test("loadavg sanity bound trips on a saturated start") {
    val p = Bench.PassRecord(10.0, 100.0, 60.0, 10.0, 0.1, 0.0, 0.0)
      .withFloor(100.0, 48.0)
    assert(!p.loadSane && !p.quiet)
  }
}

/** Rotate run-splitting at table boundaries (ADVICE r4): cells under
  * DIFFERENT tagPaths (two layout tables in different wrappers) must rotate
  * as separate grids, not one concatenated grid.
  */
class RotateTableBoundarySpec extends AnyFunSuite {
  import graft.core.Block

  private def cell(path: String, txt: String, i: Int): Block =
    Block(path, txt, i * 10, i * 10 + txt.length, txt.length, 1, 0, 0, 3, i)

  test("differently-wrapped adjacent tables rotate as separate grids") {
    val t1 = (0 until 6).map(i => cell("html/body/table/tr/td", s"A$i", i))
    val t2 = (0 until 4).map(i => cell("html/body/div/table/tr/td", s"B$i", 6 + i))
    val blocks = (t1 ++ t2).toArray
    val out = graft.boundary.Rotate.tableRuns(blocks, 90, 3)
    // table 1: 2x3 row-major -> column-major A0 A3 A1 A4 A2 A5
    assert(out.take(6).map(_.text).toSeq == Seq("A0", "A3", "A1", "A4", "A2", "A5"))
    // table 2 rotates as its OWN 3-wide ragged grid: B0 B3 B1 B2
    assert(out.drop(6).map(_.text).toSeq == Seq("B0", "B3", "B1", "B2"))
    assert(out.zipWithIndex.forall { case (b, i) => b.idx == i }, "idx rewritten")
  }

  test("same-path cells remain one maximal run (sibling-table limitation documented)") {
    val t = (0 until 6).map(i => cell("html/body/table/tr/td", s"C$i", i)).toArray
    val out = graft.boundary.Rotate.tableRuns(t, 90, 3)
    assert(out.map(_.text).toSeq == Seq("C0", "C3", "C1", "C4", "C2", "C5"))
  }
}

/** Structure-tensor fidelity (VERDICT r4 item 6): pin the documented 1-D
  * collapse (Kuwahara.scala:20-25) numerically. The 1-D gradient coherence
  * A = |Σg| / Σ|g| IS the 2-D tensor anisotropy (λ1−λ2)/(λ1+λ2)
  * (tensorComputation, kuwaharaFilter.cpp:174-236) of the rank-1
  * sign-orientation embedding u_j = R(φ) · (√|g_j|·[g_j>0], √|g_j|·[g_j<0]):
  * positive and negative gradients map to ORTHOGONAL orientations, T =
  * Σ u uᵀ has eigenvalues (Σ₊|g|, Σ₋|g|) in any frame φ, and the eigen
  * ratio collapses to exactly |Σg|/Σ|g|. On a monotone window (all g one
  * sign — the coherent-edge case) λ2 vanishes — the "λ2 vanishes on a
  * line" statement — and A = 1; alternating texture drives A → 0.
  */
class TensorCoherenceSpec extends AnyFunSuite {

  private def coherence1d(g: Array[Double]): Double = {
    val ga = g.map(math.abs).sum
    if (ga <= 0) 0.0 else math.abs(g.sum) / ga
  }

  /** (λ1−λ2)/(λ1+λ2) of T = Σ u uᵀ for the sign-orientation embedding,
    * computed through the full symmetric 2×2 eigen problem in a frame
    * rotated by φ (the eigenvalues must be frame-invariant).
    */
  private def tensorAniso(g: Array[Double], phi: Double): Double = {
    var txx = 0.0; var txy = 0.0; var tyy = 0.0
    val c = math.cos(phi); val s = math.sin(phi)
    g.foreach { gj =>
      val r = math.sqrt(math.abs(gj))
      val (ex, ey) = if (gj >= 0) (1.0, 0.0) else (0.0, 1.0)
      val ux = r * (ex * c - ey * s)
      val uy = r * (ex * s + ey * c)
      txx += ux * ux; txy += ux * uy; tyy += uy * uy
    }
    val tr = txx + tyy
    if (tr <= 0) 0.0
    else {
      val disc = math.sqrt(math.max(0.0, (txx - tyy) * (txx - tyy) + 4 * txy * txy))
      val l1 = (tr + disc) / 2
      val l2 = (tr - disc) / 2
      (l1 - l2) / (l1 + l2)
    }
  }

  test("1-D coherence == 2-D tensor anisotropy of the sign-orientation embedding") {
    val rng = new scala.util.Random(77L)
    for (trial <- 0 until 200) {
      val n = 3 + rng.nextInt(30)
      val g = Array.fill(n)(rng.nextDouble() * 200 - 100)
      val a1 = coherence1d(g)
      for (phi <- Seq(0.0, 0.3, 1.1, 2.7, rng.nextDouble() * math.Pi)) {
        val a2 = tensorAniso(g, phi)
        assert(math.abs(a1 - a2) < 1e-9,
          s"trial $trial phi=$phi: 1-D $a1 vs tensor $a2 on ${g.toSeq}")
      }
    }
  }

  test("monotone window: lambda2 vanishes and A = 1 (the coherent-edge case)") {
    val rng = new scala.util.Random(78L)
    for (_ <- 0 until 50) {
      val g = Array.fill(5 + rng.nextInt(20))(rng.nextDouble() * 100).sorted // all >= 0
      if (g.sum > 0) {
        assert(math.abs(coherence1d(g) - 1.0) < 1e-12)
        assert(math.abs(tensorAniso(g, 0.4) - 1.0) < 1e-9)
      }
    }
  }

  test("alternating texture drives coherence toward 0") {
    val g = Array.tabulate(40)(i => if (i % 2 == 0) 50.0 else -50.0)
    assert(coherence1d(g) < 1e-12)
    assert(tensorAniso(g, 0.9) < 1e-9)
  }

  test("axis-aligned line embedding I(x,y)=f(x): lambda2 == 0 exactly") {
    // gradients (g_j, 0): T = [[Σg², 0], [0, 0]] — λ2 = 0 for any signal
    val rng = new scala.util.Random(79L)
    val g = Array.fill(20)(rng.nextDouble() * 100 - 50)
    var txx = 0.0
    g.foreach(gj => txx += gj * gj)
    val l1 = txx; val l2 = 0.0
    assert((l1 - l2) / (l1 + l2) == 1.0)
  }
}

/** Streaming max-by-timestamp dedup == batch (VERDICT r4 item 7; SURVEY
  * §2.9): on a corpus with recrawls AND late arrivals (older rows landing
  * in later micro-batches), `ExtractStream.extractLatest` must produce
  * byte-identical extraction output to the batch path
  * `ExtractJob.extract(Dedup.latestByUrl(rows))`.
  */
class StreamLatestDedupSpec extends AnyFunSuite {

  private lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  test("stream-with-watermark dedup == batch max-by-timestamp through extraction") {
    import spark.implicits._
    import graft.core.PageRow
    import graft.streaming.ExtractStream

    val inDir = Files.createTempDirectory("sld_in").toString
    val outDir = Files.createTempDirectory("sld_out").toString
    val ckDir = Files.createTempDirectory("sld_ck").toString

    val base = graft.spark.PageSource.pages(spark, 40L).collect().sortBy(_.url)
    // recrawls: 10 urls get a LATER snapshot with different content
    val recrawled = base.take(10).map { p =>
      val newHtml = graft.fixtures.FixtureGen.fixture(5000L + p.url.hashCode.abs % 100).page.html
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 120000L), html = newHtml)
    }
    // sentinels push the watermark past all real rows so every state drains
    def sentinel(tag: String, plusMs: Long): PageRow = {
      val ts = new java.sql.Timestamp(base.map(_.warc_ts.getTime).max + plusMs)
      PageRow(s"https://zzz-flush.example/$tag", ts,
        s"<html><body><p>flush $tag sentinel page with enough text to not be empty and carry one real paragraph of content for extraction.</p></body></html>"
          .getBytes(StandardCharsets.UTF_8), "", "en")
    }
    val s1 = sentinel("one", 3600000L)
    val s2 = sentinel("two", 7200000L)

    // LATE ARRIVAL file order: the RECRAWLS (newest ts) land first; the
    // original (older-ts) rows arrive in a later micro-batch — admissible
    // under the 10-minute watermark, and the max-ts winner must still win
    val f1 = recrawled ++ base.drop(10)
    val f2 = base.take(10) // the late originals for the recrawled urls
    spark.createDataset(f1.toSeq).coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100) // distinct mtimes: deterministic file->batch order
    spark.createDataset(f2.toSeq).coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1100)
    spark.createDataset(Seq(s1)).coalesce(1).write.mode("append").parquet(inDir)

    def runStream(): Unit = {
      val q = ExtractStream.writer(
        ExtractStream.extractLatest(
          ExtractStream.pagesStream(spark, inDir, maxFilesPerTrigger = 1)),
        outDir, ckDir).start()
      q.awaitTermination()
    }
    runStream()
    // second sentinel + second run: event-time timeouts for the last
    // in-flight groups fire once a batch executes with the advanced
    // watermark — the restart pattern any AvailableNow pipeline uses
    spark.createDataset(Seq(s2)).coalesce(1).write.mode("append").parquet(inDir)
    runStream()

    val streamed = spark.read.parquet(outDir)
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap

    val allRows = (f1 ++ f2 :+ s1 :+ s2).toSeq
    val batchWinners = graft.ops.Dedup.latestByUrl(
      spark.createDataset(allRows).toDF()).as[PageRow]
    val batch = graft.spark.ExtractJob.extract(batchWinners)
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap

    // the FINAL sentinel is by construction still in flight (nothing ever
    // advances the watermark past the newest row — the documented drain
    // contract of dedupLatest); every REAL url must match exactly, and the
    // first sentinel must have drained (proof the event-time timeouts fire)
    assert(streamed.contains(s1.url), "first sentinel never drained — timeouts did not fire")
    val real = batch.keySet.filterNot(_.startsWith("https://zzz-flush.example/"))
    assert((real -- streamed.keySet).isEmpty,
      s"urls missing from stream output: ${real -- streamed.keySet}")
    real.foreach { url =>
      assert(streamed(url) == batch(url), s"stream/batch divergence at $url")
    }
    // the max-ts row genuinely won over the first arrival for recrawled urls
    val recrawlTexts = graft.spark.ExtractJob.extract(
      spark.createDataset(recrawled.toSeq)).select($"url", $"extracted_text")
      .as[(String, String)].collect().toMap
    recrawled.foreach { p =>
      assert(streamed(p.url) == recrawlTexts(p.url),
        s"${p.url}: stream kept the first arrival, not the max-ts recrawl")
    }
  }
}

/** Scale guard: the 100 TB extraction job's physical plan must stay a
  * zero-exchange narrow map — parquet scan → mapPartitions → serialize.
  * Any future change that sneaks a shuffle into the per-doc path (a
  * repartition, a window, a join) fails here before it fails at 10^12 rows
  * (PLANS.md "the scale-critical decision").
  */
class ExtractPlanSpec extends org.scalatest.funsuite.AnyFunSuite {

  private lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

  test("ExtractJob.extract plan has no Exchange and scans parquet directly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_in").toString
    spark.createDataset(graft.spark.PageSource.pages(spark, 50L).collect().toSeq)
      .write.mode("overwrite").parquet(dir)
    val pages = spark.read.parquet(dir).as[graft.core.PageRow]
    val docs = graft.spark.ExtractJob.extract(pages)
    val plan = docs.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"extraction plan grew a shuffle:\n$plan")
    assert(plan.contains("FileScan parquet") || plan.contains("BatchScan"),
      s"extraction no longer scans parquet directly:\n$plan")
    assert(docs.count() == 50) // the plan actually executes
  }
}
