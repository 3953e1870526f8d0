package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.LineageRow
import graft.spark.ExtractJob
import graft.table.SnapshotTable
import java.nio.file.Files

/** Round-2 scale-correctness fixes: LSH degenerate-band cap, lineage
  * retry dedupe, manifest row counts, commit CAS, streaming facade
  * batch/stream identity.
  */
class ScaleFixesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("lshCandidates: degenerate band (thousands of identical docs) is capped") {
    import spark.implicits._
    // 2000 identical docs + 6 genuine near-dup docs
    val identical = (0 until 2000).map(i => (i.toLong, "the same exact boilerplate text repeated verbatim"))
    val near = (10000 until 10006).map(i => (i.toLong, s"unique document body with shared tail marker alpha beta gamma delta ${i % 2}"))
    val df = (identical ++ near).toDF("id", "text")
    val pairs = graft.ops.Dedup.lshCandidates(df, "id", "text", maxBandSize = 100)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 2000-doc cluster would alone generate ~2M pairs; the cap drops it
    assert(got.forall { case (a, b) => a >= 10000 && b >= 10000 },
      s"capped run must only pair the small cluster, got ${got.size} pairs")
    assert(got.nonEmpty, "near-dup docs sharing half their tokens must still pair")
    // audit view reports the dropped bands
    val dropped = graft.ops.Dedup.oversizedBands(df, "id", "text", maxBandSize = 100)
      .collect()
    assert(dropped.nonEmpty && dropped.forall(_.getLong(2) == 2000L))
    // exact-dedup-first composition: collapse exact dups, then LSH is tiny
    val canon = graft.ops.Dedup.exact(df, "id", "text")
      .filter(col("is_canonical")).select("id", "text")
    assert(canon.count() == 3) // 1 canonical boilerplate + 2 distinct texts
  }

  test("PageSource sizes partitions in Long: a 2^36-doc corpus keeps 2x parallelism") {
    // (n + 15) / 16 exceeds Int.MaxValue here; narrowing it first wrapped
    // to 0 and collapsed the corpus to the 4-task floor. Planning only.
    val pages = graft.spark.PageSource.pages(spark, 1L << 36)
    assert(pages.rdd.getNumPartitions == spark.sparkContext.defaultParallelism * 2)
  }

  test("lineage text_bytes counts UTF-8 bytes, as octet_length does") {
    import spark.implicits._
    val html = "<html><body><p>Un caf\u00e9 cr\u00e8me, s'il vous pla\u00eet, " +
      "avec une \u0153uvre d'art et un \ud83d\ude00 sourire.</p></body></html>"
    val pages = Seq(graft.core.PageRow("u-cafe", new java.sql.Timestamp(0L),
      html.getBytes(java.nio.charset.StandardCharsets.UTF_8), "", "fr"))
      .toDS().repartition(1)
    val acc = ExtractJob.newLineageAcc(spark, "lin-utf8")
    val text = ExtractJob.extract(pages, runId = "runU", lineageAcc = acc)
      .collect().head.extracted_text
    assert(text.contains("caf\u00e9"))
    import scala.jdk.CollectionConverters._
    val lineage = ExtractJob.dedupeLineage(acc.value.asScala.toSeq)
    val utf8 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    assert(utf8 > text.length)
    assert(lineage.map(_.text_bytes).sum == utf8)
    // the count is Spark's own octet_length of the same string
    assert(Seq(text).toDF("t").select(octet_length(col("t"))).head.getInt(0) == utf8)
    // a lone surrogate is one byte ('?') in Spark's UTF-8 form
    assert(ExtractJob.utf8Length("a\ud800b") ==
      Seq("a\ud800b").toDF("t").select(octet_length(col("t"))).head.getInt(0))
  }

  test("lineage dedupe: retried partition supersedes, never adds") {
    val t = new java.sql.Timestamp(0L)
    val rows = Seq(
      LineageRow("r1", -1, 0, 0, 100, 1000, 500, 1, Map.empty, t),
      LineageRow("r1", -1, 0, 1, 100, 1000, 500, 1, Map.empty, t), // retry of pid 0
      LineageRow("r1", -1, 1, 0, 50, 600, 300, 0, Map.empty, t),
      LineageRow("r2", -1, 0, 0, 10, 90, 40, 0, Map.empty, t))
    val deduped = ExtractJob.dedupeLineage(rows)
    assert(deduped.length == 3)
    assert(deduped.map(_.doc_count).sum == 160) // 100 + 50 + 10, NOT 260
    assert(deduped.find(l => l.run_id == "r1" && l.partition_id == 0).get.attempt == 1)
  }

  test("manifest carries exact row counts from parquet footers; no table scan needed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snaprows").toString
    val s1 = SnapshotTable.append(
      (0 until 37).map(i => (s"u$i", s"t$i")).toDF("url", "body"), dir, "runA", buckets = 4)
    assert(s1.rows == 37L)
    val s2 = SnapshotTable.append(
      (100 until 150).map(i => (s"u$i", s"t$i")).toDF("url", "body"), dir, "runB", buckets = 4)
    assert(s2.rows == 87L)
    // the persisted manifest agrees (not just the in-memory return)
    assert(SnapshotTable.currentSnapshot(dir).get.rows == 87L)
    // lineage doc_count == manifest rows under a normal run
    val pages = graft.spark.PageSource.pages(spark, 40L)
    val acc = ExtractJob.newLineageAcc(spark, "lin-test")
    val docs = ExtractJob.extract(pages, runId = "runC", lineageAcc = acc)
    val dir2 = Files.createTempDirectory("snaprows2").toString
    val s3 = SnapshotTable.append(docs.toDF().select(col("url"), col("extracted_text")), dir2, "runC", buckets = 4)
    import scala.jdk.CollectionConverters._
    val lineageDocs = ExtractJob.dedupeLineage(acc.value.asScala.toSeq).map(_.doc_count).sum
    assert(s3.rows == 40L && lineageDocs == 40L)
  }

  test("re-committing an already-committed runId is rejected") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snapcas").toString
    SnapshotTable.append((0 until 5).map(i => (s"u$i", "b")).toDF("url", "body"), dir, "dup")
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.commitRun(dir, "dup")
    }
    assert(ex.getMessage.contains("already committed"))
    // re-APPENDING the same runId must be rejected BEFORE the destructive
    // overwrite: the committed files must survive and stay readable
    val ex2 = intercept[IllegalArgumentException] {
      SnapshotTable.append((0 until 3).map(i => (s"x$i", "c")).toDF("url", "body"), dir, "dup")
    }
    assert(ex2.getMessage.contains("already committed"))
    assert(SnapshotTable.read(spark, dir).get.count() == 5)
  }

  test("crash between manifest creation and pointer swap is a completed commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snaporphan").toString
    SnapshotTable.append((0 until 4).map(i => (s"u$i", "b")).toDF("url", "body"), dir, "r1")
    // simulate the crash window: a v00002 manifest exists, pointer still at v00001
    val snapDir = java.nio.file.Paths.get(dir, "snapshots")
    val v1 = new String(Files.readAllBytes(snapDir.resolve("v00001.json")), "UTF-8")
    val v2 = v1.replace("\"snapshot_id\":1", "\"snapshot_id\":2")
      .replace("\"run_ids\":[\"r1\"]", "\"run_ids\":[\"r1\",\"ghost\"]")
    Files.write(snapDir.resolve("v00002.json"), v2.getBytes("UTF-8"))
    // discovery sees the newest manifest (the commit point), not the pointer
    val cur = SnapshotTable.currentSnapshot(dir).get
    assert(cur.id == 2L && cur.runIds == Seq("r1", "ghost"))
    // and the next commit proceeds past it instead of wedging
    val s3 = SnapshotTable.append((10 until 12).map(i => (s"u$i", "b")).toDF("url", "body"), dir, "r3")
    assert(s3.id == 3L)
  }

  test("manifest discovery handles ids beyond 5 digits and quoted runIds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snapwide").toString
    SnapshotTable.append((0 until 2).map(i => (s"u$i", "b")).toDF("url", "body"), dir, "a")
    // fabricate a 6-digit manifest id; discovery must pick it up
    val snapDir = java.nio.file.Paths.get(dir, "snapshots")
    val v1 = new String(Files.readAllBytes(snapDir.resolve("v00001.json")), "UTF-8")
    Files.write(snapDir.resolve("v100000.json"),
      v1.replace("\"snapshot_id\":1", "\"snapshot_id\":100000").getBytes("UTF-8"))
    assert(SnapshotTable.currentSnapshot(dir).get.id == 100000L)
    // a runId containing a quote must not brick the manifest
    val dir2 = Files.createTempDirectory("snapquote").toString
    val s = SnapshotTable.append((0 until 2).map(i => (s"u$i", "b")).toDF("url", "body"),
      dir2, "run\"weird\"id")
    assert(SnapshotTable.currentSnapshot(dir2).get.runIds == Seq("run\"weird\"id"))
    assert(s.rows == 2L)
  }

  test("fused quality counters match the regex formulation exactly") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val texts = Seq(
      "Hello, World! 42 is THE answer; really?",
      "one  two\tthree\nfour", "", "...", "a",
      "MiXeD CaSe with:   punct, and 123 digits!")
      .toDF("text")
    val fused = graft.ops.TextStats.qualityScores(texts, "text")
      .select("n_chars", "n_tokens", "punct_ratio", "digit_ratio",
        "upper_ratio", "ws_ratio", "mean_token_len").collect()
    val t = col("text")
    val len = greatest(length(t), lit(1)).cast("double")
    val tokCnt = size(filter(split(t, "\\s+"), x => x =!= ""))
    val regex = texts
      .select(length(t).as("n_chars"), tokCnt.as("n_tokens"),
        round(length(regexp_replace(t, "[^.,!?;:]", "")) / len, 4).as("punct_ratio"),
        round(length(regexp_replace(t, "[^0-9]", "")) / len, 4).as("digit_ratio"),
        round(length(regexp_replace(t, "[^A-Z]", "")) / len, 4).as("upper_ratio"),
        // count-spaces formulation: equals the old (len - stripped)/len on
        // non-empty strings and avoids its floored-len artifact (ws=1.0) on ""
        round(length(regexp_replace(t, "[^ ]", "")) / len, 4).as("ws_ratio"),
        round(length(regexp_replace(t, "\\s+", "")) /
          greatest(tokCnt, lit(1)).cast("double"), 4).as("mean_token_len"))
      .collect()
    fused.zip(regex).foreach { case (f, r) => assert(f == r) }
  }

  test("template chrome: per-host recurring units found and stripped, zero big-side shuffle") {
    import spark.implicits._
    val df = Seq(
      (0L, "hA", Seq("nav", "menu", "unique0", "body0")),
      (1L, "hA", Seq("nav", "menu", "body1")),
      (2L, "hA", Seq("nav", "menu", "body2", "nav")),
      (3L, "hB", Seq("other", "text")),
      (4L, "hB", Seq("different", "words"))
    ).toDF("id", "host", "units")
    val chrome = graft.ops.TemplateChrome.recurringUnits(df, "host", "id", "units")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(chrome == Set(("hA", "nav"), ("hA", "menu")))
    val stripped = graft.ops.TemplateChrome.strip(df, "host", "id", "units")
      .select("id", "units_clean").as[(Long, Seq[String])].collect().toMap
    assert(stripped(0L) == Seq("unique0", "body0"))
    assert(stripped(2L) == Seq("body2")) // multiplicity removed with the unit
    assert(stripped(3L) == Seq("other", "text")) // hB has no chrome
  }

  test("ivfTopK: anchor cells + probes return the exact in-cell top-k") {
    import spark.implicits._
    // corpus on a line: v(i) = [i, 0]; anchors (id % 2 == 0) at 0, 2, 4
    val corpus = (0 to 5).map(i => (i.toLong, Seq(i.toDouble, 0.0))).toDF("vec_id", "dv")
    val queries = Seq((100L, Seq(1.0, 0.0))).toDF("qid", "qv")
    val got = graft.ops.Similarity.ivfTopK(queries, corpus, k = 3,
      anchorEvery = 2, nProbe = 2)
      .orderBy("rn").as[(Long, Int, Long, Double)].collect().toSeq
    // probes for [1,0]: anchors 0 and 2 (tied distance, both taken);
    // their cells hold {0,1} and {2,3}; top-3 dots: id 3 (3.0), 2 (2.0), 1 (1.0)
    assert(got == Seq((100L, 1, 3L, 3.0), (100L, 2, 2L, 2.0), (100L, 3, 1L, 1.0)))
  }

  test("cosineNearDupPairs: identical vectors pair at cos 1.0, threshold holds") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(1.0, 2.0, 3.0)), // identical
      (3L, Seq(-3.0, 0.0, 1.0)), (4L, Seq(0.5, -1.0, 0.4))
    ).toDF("vec_id", "dv")
    val pairs = graft.ops.Similarity.cosineNearDupPairs(corpus, "vec_id", "dv",
      threshold = 0.9, nPlanes = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("streaming facade: AvailableNow round-trip is byte-identical to batch") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("streamin").toString
    val outDir = Files.createTempDirectory("streamout").toString + "/out"
    val ckDir = Files.createTempDirectory("streamck").toString
    val pages = graft.spark.PageSource.pages(spark, 60L)
    pages.write.mode("overwrite").parquet(inDir)

    val stream = graft.streaming.ExtractStream.extract(
      graft.streaming.ExtractStream.pagesStream(spark, inDir))
    val q = graft.streaming.ExtractStream.writer(stream, outDir, ckDir).start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(outDir)
      .select(col("url"), col("extracted_text")).as[(String, String)]
      .collect().toMap
    val batch = ExtractJob.extract(pages).toDF()
      .select(col("url"), col("extracted_text")).as[(String, String)]
      .collect().toMap
    assert(streamed.size == 60 && batch.size == 60)
    batch.foreach { case (url, text) =>
      assert(streamed(url) == text, s"stream/batch divergence at $url")
    }
  }
}
