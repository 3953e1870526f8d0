package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Embedding similarity search over an `array<float>` column.
  *
  * LSH sign-bucketing / IVF-style coarse quantization make the join key a
  * bucket id, so AQE prunes the candidate space and exact dot-product
  * scoring runs within buckets only (never an O(Q·N) cross join).
  */
object Similarity {

  /** Sequential-fold dot product (deterministic accumulation order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"), _ * _),
      lit(0.0), _ + _)

  def l2norm(v: Column): Column =
    sqrt(aggregate(v.cast("array<double>"), lit(0.0), (acc, x) => acc + x * x))

  /** Deterministic pseudo-random hyperplane weight for dim i, plane j
    * (no RNG state: pure function of (i, j), same on every executor).
    */
  private def planeWeight(pos: Column, j: Int): Column =
    ((pos * 37 + lit(j * 17)) % 13 - 6).cast("double")

  /** LSH sign bucket id from `nPlanes` fixed hyperplanes. */
  def lshBucket(vec: Column, nPlanes: Int = 8): Column = {
    val dv = vec.cast("array<double>")
    val bits = (0 until nPlanes).map { j =>
      val d = aggregate(zip_with(dv, sequence(lit(0), size(dv) - 1),
        (x, i) => x * planeWeight(i, j)), lit(0.0), _ + _)
      when(d > 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Native codegen twins (graft.functions.ArrayDot) of [[dot]] /
    * [[lshBucket]]: bit-identical left fold (same IEEE accumulation order)
    * without interpreted HOF lambdas — Spark evaluates higher-order
    * functions interpreted, boxing every element and allocating the zipped
    * array per call, which measured as the dominant cost of the in-bucket
    * scoring task. Used by the DataFrame entry points below (they carry a
    * session to register on); the HOF forms stay as the reference
    * semantics, pinned equal by R6QueryEquivSpec and the oracle queries.
    */
  private def dotN(a: Column, b: Column): Column =
    call_function("graft_dot", a.cast("array<double>"), b.cast("array<double>"))
  private def lshBucketN(vec: Column, nPlanes: Int): Column = {
    val dv = vec.cast("array<double>")
    (0 until nPlanes).map { j =>
      when(call_function("graft_lsh_dot", dv, lit(j * 17)) > 0, lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Plane count sized to the corpus: enough sign-hyperplanes that an
    * evenly-hashed corpus lands ~`targetBucket` vectors per bucket, so
    * in-bucket pair generation stays ~N·targetBucket/2 instead of drifting
    * toward N²/4 as the corpus grows. Use as
    * `cosineNearDupPairs(c, id, v, t, nPlanesFor(c.count()))` when the
    * corpus size is not known a priori (one cheap count of the id column).
    */
  def nPlanesFor(corpusCount: Long, targetBucket: Long = 1024L): Int = {
    require(corpusCount >= 0 && targetBucket > 0)
    var p = 2
    while (p < 24 && (corpusCount >> p) > targetBucket) p += 1
    p
  }

  /** Embedding-cosine near-duplicate pairs — the embedding-space member of
    * the dedup family: pairs with cosine >= threshold, candidate space
    * limited to matching LSH sign buckets (the 100 TB shape; recall traded
    * via nPlanes exactly as in [[bucketedTopK]]). Cosine is rounded to 6
    * decimals BEFORE thresholding so any engine reproducing the arithmetic
    * lands on the same pair set.
    *
    * `nPlanes` is deliberately NOT defaulted: 2^nPlanes buckets bound the
    * candidate-pair blowup (~N²/2^nPlanes), so a fixed small default is a
    * scale foot-gun — size it with [[nPlanesFor]] or from corpus knowledge.
    */
  def cosineNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 30, s"nPlanes out of range: $nPlanes")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val b = corpus.withColumn("bucket", lshBucketN(col(vecCol), nPlanes))
    val l = b.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("_va"))
    val r = b.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("_vb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dotN(col("_va"), col("_vb")) /
        (l2norm(col("_va")) * l2norm(col("_vb"))), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Squared L2 distance (deterministic accumulation order). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
      (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** IVF-Flat-style ANN with a DETERMINISTIC anchor codebook: the coarse
    * quantizer's centroids are the corpus vectors whose id ≡ 0 (mod
    * `anchorEvery`) — no k-means RNG state, same codebook in any engine.
    * Every corpus vector is assigned to its nearest anchor (its CELL, ties
    * to the smallest anchor id); a query probes its `nProbe` nearest cells
    * and searches exactly within them. 100 TB shape: the codebook is tiny
    * and broadcast; assignment is a per-row map over a broadcast join; the
    * only shuffle is the probe-cell equi-join + per-query top-k.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      anchorEvery: Int = 37, nProbe: Int = 2,
      qId: String = "qid", qVec: String = "qv",
      cId: String = "vec_id", cVec: String = "dv"): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // The codebook is COLLECTED to the driver — deliberately: an IVF
    // codebook is index metadata (like loading a trained quantizer), tiny by
    // design, and collecting it both (a) fails loudly on the
    // empty-codebook corner (no corpus id ≡ 0 mod anchorEvery — otherwise
    // every query would silently get zero results) and (b) saves a second
    // corpus scan for the aggregate.
    val anchorRows = corpus.filter(col(cId) % anchorEvery === 0)
      .select(col(cId).cast("long").as("anchor_id"),
        col(cVec).cast("array<double>").as("anchor_v"))
      .collect()
    require(anchorRows.nonEmpty,
      s"ivfTopK: empty codebook — no corpus $cId ≡ 0 (mod $anchorEvery); " +
        "pick anchorEvery to match the id space")
    val spark = corpus.sparkSession
    import spark.implicits._
    val anchors = anchorRows.toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toDF("anchor_id", "anchor_v")
    // cell assignment: nearest anchor per corpus vector, computed as a
    // per-row HOF argmin over the broadcast codebook array — ZERO shuffle on
    // the big side (a join+window formulation would shuffle N×A rows)
    val codebook = anchors
      .agg(collect_list(struct(col("anchor_id"), col("anchor_v"))).as("_cb"))
    val nearest = aggregate(col("_cb"),
      struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("id")),
      (acc, a) => {
        val d = round(sqDist(col(cVec), a.getField("anchor_v")), 6)
        val better = d < acc.getField("d") ||
          (d === acc.getField("d") && a.getField("anchor_id") < acc.getField("id"))
        when(better, struct(d.as("d"), a.getField("anchor_id").cast("long").as("id")))
          .otherwise(acc)
      }).getField("id")
    val cells = corpus.crossJoin(broadcast(codebook))
      .withColumn("cell", nearest)
      .select(col(cId), col(cVec), col("cell"))
    // probe list: nProbe nearest anchors per query
    val qw = Window.partitionBy(qId).orderBy(asc("adist"), asc("anchor_id"))
    val probes = queries.join(broadcast(anchors))
      .withColumn("adist", round(sqDist(col(qVec), col("anchor_v")), 6))
      .withColumn("arn", row_number().over(qw))
      .filter(col("arn") <= nProbe)
      .select(col(qId), col(qVec), col("anchor_id").as("cell"))
    // exact search within probed cells
    val scored = probes.join(cells, Seq("cell")).filter(col(cId) =!= col(qId))
      .withColumn("score", round(dotN(col(qVec), col(cVec)), 6))
      // drop both vectors before the rank exchange (guide §2.3)
      .select(col(qId), col(cId), col("score"))
    val w = Window.partitionBy(qId).orderBy(desc("score"), asc(cId))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(qId), col("rn"), col(cId), col("score"))
  }

  /** Bucketed ANN: exact search within matching LSH buckets — the 100 TB
    * shape (bucket equi-join instead of cross join; candidate set shrinks
    * ~2^planes-fold; recall traded via nPlanes).
    */
  def bucketedTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int = 4,
      qId: String = "qid", qVec: String = "qv",
      cId: String = "vec_id", cVec: String = "dv"): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val qb = queries.withColumn("bucket", lshBucketN(col(qVec), nPlanes))
    val cb = corpus.withColumn("bucket", lshBucketN(col(cVec), nPlanes))
    val scored = qb.join(cb, Seq("bucket")).filter(col(cId) =!= col(qId))
      .withColumn("score", round(dotN(col(qVec), col(cVec)), 6))
      // drop both vectors before the rank exchange (guide §2.3): per
      // candidate pair only (qId, cId, score) ride the qId shuffle
      .select(col(qId), col(cId), col("score"))
    val w = Window.partitionBy(qId).orderBy(desc("score"), asc(cId))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(qId), col("rn"), col(cId), col("score"))
  }
}
