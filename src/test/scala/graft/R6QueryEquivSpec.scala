package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** r6 optimization equivalence gates (focused tests for restructured query
  * internals, per the optimization-round contract):
  *
  *  1. q_ngram_jaccard: the r5 formulation was a two-sided self-join on
  *     (doc_id+1, source); r6 computes the partner via lead() over the
  *     (source, doc_id) window. The driver corpus makes this query emit 0
  *     rows (ids never adjacent within a source), so the full old-vs-new
  *     Verify diff only proved equality on empty output — THIS test builds a
  *     corpus where partners DO exist (adjacent ids, gaps, cross-source
  *     adjacency traps) and proves the two formulations row-identical.
  *  2. Similarity.bucketedTopK: r6 projects (qid, cid, score) before the
  *     rank exchange; proven equal to the unprojected r5 shape.
  *  3. ordered* helpers: coalesce(1)/repartition(1)+sortWithinPartitions
  *     must equal orderBy row-for-row on a multi-partition frame.
  */
class R6QueryEquivSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def mkDocsDir(): String = {
    import spark.implicits._
    // adjacency structure: s1 has a run 10,11,12 (two partners) then a gap
    // to 20 (no partner); s2 has 13 adjacent to s1's 12 — a cross-source
    // trap the join must NOT match; s2 also has 21,22 (one partner).
    // token overlap varies so jaccard values differ per pair.
    val rows = Seq(
      (10L, "s1", "a b c d", 7, "en"),
      (11L, "s1", "a b x y", 7, "en"),
      (12L, "s1", "a q r s t", 9, "en"),
      (13L, "s2", "a b c d", 7, "en"),
      (20L, "s1", "m n o", 5, "en"),
      (21L, "s2", "p q r", 5, "en"),
      (22L, "s2", "p q z", 5, "en"),
      (30L, "s3", "lone doc", 8, "en")
    )
    val dir = java.nio.file.Files.createTempDirectory("r6equiv").toString
    rows.toDF("doc_id", "source", "text", "n_chars", "lang")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The r5 formulation, verbatim (self-join on doc_id+1 ∧ source). */
  private def jaccardJoinR5(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), array_distinct(split(col("text"), " ")).as("toks"))
    val d2 = d.select(col("doc_id").as("doc_id2"), col("source").as("source2"), col("toks").as("toks2"))
    d.join(d2, d("doc_id") + 1 === d2("doc_id2") && d("source") === d2("source2"))
      .withColumn("i", size(array_intersect(col("toks"), col("toks2"))).cast("double"))
      .withColumn("u", (size(col("toks")) + size(col("toks2"))).cast("double") - col("i"))
      .select(col("doc_id"), round(col("i") / col("u"), 4).as("jaccard"))
      .orderBy("doc_id")
  }

  test("q_ngram_jaccard lead-window formulation == r5 self-join on non-empty adjacency") {
    val dir = mkDocsDir()
    val oldRows = jaccardJoinR5(spark, dir).collect().map(_.toString).toSeq
    val newRows = RelationalQueries.qNgramJaccard(spark, dir)
      .collect().map(_.toString).toSeq
    assert(oldRows.nonEmpty, "test corpus must exercise the non-vacuous path")
    assert(oldRows.size == 3, s"expected pairs (10,11),(11,12),(21,22): $oldRows")
    assert(newRows == oldRows)
  }

  /** The r5 bucketedTopK, verbatim minus the pre-window projection. */
  private def bucketedTopKR5(
      queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Similarity.{lshBucket, dot}
    val qb = queries.withColumn("bucket", lshBucket(col("qv"), nPlanes))
    val cb = corpus.withColumn("bucket", lshBucket(col("dv"), nPlanes))
    val scored = qb.join(cb, Seq("bucket")).filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(dot(col("qv"), col("dv")), 6))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("score"))
  }

  test("bucketedTopK pre-window projection preserves output") {
    import spark.implicits._
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 13 + j * 7) % 19 - 9).toDouble / 10.0).toSeq)
    }
    val corpus = vecs.toDF("vec_id", "dv")
    val queries = vecs.filter(_._1 % 10 == 0).map { case (id, v) => (id, v) }
      .toDF("qid", "qv")
    val oldRows = bucketedTopKR5(queries, corpus, k = 3, nPlanes = 2)
      .orderBy("qid", "rn").collect().map(_.toString).toSeq
    val newRows = graft.ops.Similarity.bucketedTopK(queries, corpus, k = 3, nPlanes = 2)
      .orderBy("qid", "rn").collect().map(_.toString).toSeq
    assert(oldRows.nonEmpty && oldRows == newRows)
  }

  test("native graft_minhash4 == explode + 4-way min(md5) aggregation") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // corners: duplicate tokens, double/leading/trailing spaces (empty
    // fields — Spark split keeps them), empty text, unicode tokens, a
    // single token, and long tokens past the scratch growth threshold
    val rows = Seq(
      (1L, "a b c a b"),
      (2L, "  leading and  double  spaces "),
      (3L, ""),
      (4L, "żółć 白菜 emoji nbspjoined"),
      (5L, "single"),
      (6L, "x" * 700 + " y " + "z" * 300),
      (7L, "a"), (8L, "b a"), (9L, "#0 #1 # 0 1")
    ).toDF("doc_id", "text")
    val viaAgg = rows
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy(col("doc_id"))
      .agg(
        min(md5(concat(col("w"), lit("#0")).cast("binary"))).as("m0"),
        min(md5(concat(col("w"), lit("#1")).cast("binary"))).as("m1"),
        min(md5(concat(col("w"), lit("#2")).cast("binary"))).as("m2"),
        min(md5(concat(col("w"), lit("#3")).cast("binary"))).as("m3"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val viaNative = rows
      .select(col("doc_id"), call_function("graft_minhash4", col("text")).as("_mh"))
      .select(col("doc_id"),
        element_at(col("_mh"), 1).as("m0"), element_at(col("_mh"), 2).as("m1"),
        element_at(col("_mh"), 3).as("m2"), element_at(col("_mh"), 4).as("m3"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(viaAgg.size == 9 && viaNative == viaAgg)
  }

  test("native graft_dot / graft_lsh_dot == HOF zip_with/aggregate fold, bitwise") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // irrational-ish values so accumulation order matters; varied lengths
    val rows = (0 until 200).map { i =>
      val n = 1 + i % 9
      (i.toLong,
        Array.tabulate(n)(j => math.sin(i * 31 + j) * 1e3),
        Array.tabulate(n)(j => math.cos(i * 17 + j * 3) * 1e-2))
    }
    val df = rows.toDF("id", "a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _)
    val hofPlane = aggregate(
      zip_with(col("a"), sequence(lit(0), size(col("a")) - 1),
        (v, pos) => v * ((pos * 37 + lit(17)) % 13 - 6).cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val out = df.select(
      hofDot.as("hd"), call_function("graft_dot", col("a"), col("b")).as("nd"),
      hofPlane.as("hp"), call_function("graft_lsh_dot", col("a"), lit(17)).as("np"))
      .collect()
    out.foreach { r =>
      // bitwise: the native fold must reproduce the exact IEEE sequence
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    }
    // null-element, length-mismatch and empty-vector semantics mirror
    // zip_with padding (an empty vector's index array is sequence(0, -1))
    val corner = Seq(
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](2.0, 3.0)),
      (Array[java.lang.Double](1.0), Array[java.lang.Double](2.0, 3.0)),
      (Array[java.lang.Double](), Array[java.lang.Double](2.0, 3.0))
    ).toDF("a", "b")
      .select(
        aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _).as("hd"),
        call_function("graft_dot", col("a"), col("b")).as("nd"),
        hofPlane.as("hp"), call_function("graft_lsh_dot", col("a"), lit(17)).as("np"))
      .collect()
    corner.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1)))
    corner.foreach { r =>
      assert(r.isNullAt(2) == r.isNullAt(3))
      if (!r.isNullAt(2)) assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("tbl re-infers the schema when a table is rewritten in place") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("schemacache").toString + "/t.parquet"
    Seq((1L, "a")).toDF("id", "a").write.parquet(path)
    assert(RelationalQueries.tbl(spark, path).columns.toSeq == Seq("id", "a"))
    Seq((2L, 3.0, "x")).toDF("id", "b", "c").write.mode("overwrite").parquet(path)
    val after = RelationalQueries.tbl(spark, path)
    assert(after.columns.toSeq == Seq("id", "b", "c"))
    assert(after.collect().map(_.toString).toSeq == Seq("[2,3.0,x]"))
  }

  test("fused/exchanged single-partition sort == orderBy, multi-partition input") {
    import spark.implicits._
    import RelationalQueries.OrderedOps
    val df = (0 until 5000).map(i => (i * 2654435761L, s"v$i")) // odd multiplier: injective, no sort ties
      .toDF("k", "v").repartition(7)
    val viaOrderBy = df.orderBy("k").collect().map(_.toString).toSeq
    val viaFused = df.groupBy("k").agg(first("v").as("v")) // force an exchange
    // (separate frames: fused needs the upstream exchange, exchanged does not)
    val fused = df.orderedFused("k").collect().map(_.toString).toSeq
    val exch = df.orderedExchanged("k").collect().map(_.toString).toSeq
    assert(fused == viaOrderBy)
    assert(exch == viaOrderBy)
    viaFused.count() // touch to keep the lint honest about the exchange shape
  }
}
