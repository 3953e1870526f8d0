package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level deduplication — the training-data-pipeline operations a
  * 100 TB corpus needs (exact, MinHash+LSH, latest recrawl per url). All
  * shapes are shuffle-conscious:
  *  - exact dedup is one hash-partitioned groupBy on a 16-byte digest
  *    (shuffles digests + ids only, never full text);
  *  - MinHash/LSH banding turns all-pairs similarity into equi-joins on
  *    band keys (each band join is hash-partitioned; candidate pairs only);
  *  - everything derives from md5 (deterministic across engines/JVMs).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical text digest.
    * Input: df with `idCol` (unique, orderable) and `textCol`.
    * Returns df columns + `is_canonical` boolean.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(col(textCol).cast("binary"))
    val keepers = df.select(h.as("h"), col(idCol).as("id"))
      .groupBy(col("h")).agg(min(col("id")).as("keeper"))
    // broadcast-or-shuffle decided by Catalyst/AQE on keeper size
    df.withColumn("h", h)
      .join(keepers, "h")
      .withColumn("is_canonical", col(idCol) === col("keeper"))
      .drop("h", "keeper")
  }

  /** MinHash signature columns (k hashes) over the distinct-token set of
    * `textCol`. min(md5(token || '#' || i)) is a valid min-hash family:
    * deterministic, no seed state, reproducible in any engine.
    */
  def minhashSignature(df: DataFrame, textCol: String, k: Int = 8): DataFrame = {
    val toks = array_distinct(split(col(textCol), "\\s+"))
    val sigs = (0 until k).map { i =>
      array_min(transform(toks, t => md5(concat(t, lit(s"#$i")).cast("binary")))).as(s"mh$i")
    }
    df.select(col("*") +: sigs: _*)
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand = k),
    * self-join on band keys — the scale path for near-dup detection: the
    * only shuffle keys are short band hashes, and AQE handles skewed bands.
    *
    * Degenerate-band cap (VERDICT r1 item 5): AQE fixes skewed PARTITIONS,
    * not quadratic pair GENERATION — a single band holding c near-identical
    * documents (empty docs, boilerplate mega-cluster) emits c² pairs before
    * any dedup. Bands larger than `maxBandSize` are dropped before the
    * self-join: such clusters are exact-dup-shaped and belong to [[exact]]
    * (compose exact-dedup FIRST, then LSH on canonical rows); use
    * [[oversizedBands]] to audit what was dropped.
    */
  def lshCandidates(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2,
      maxBandSize: Int = 10000): DataFrame = {
    val banded = bandedKeys(df, idCol, textCol, bands, rowsPerBand)
    // band-size cap as a WINDOW count over the same exchange the self-join
    // shuffles on: the l/r sides below share one canonical exchange subtree
    // (Catalyst ReuseExchange), so the minhash signatures are computed once,
    // not once per aggregate/join branch
    val bw = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("band_key"))
    val ok = banded.withColumn("_bs", count(lit(1)).over(bw))
      .filter(col("_bs") <= maxBandSize).drop("_bs")
    val l = ok.select(col("band"), col("band_key"), col("id").as("id_a"))
    val r = ok.select(col("band"), col("band_key"), col("id").as("id_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Audit companion of [[lshCandidates]]: the bands that exceed
    * `maxBandSize` (and were therefore dropped), with their sizes.
    */
  def oversizedBands(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 2,
      maxBandSize: Int = 10000): DataFrame =
    bandedKeys(df, idCol, textCol, bands, rowsPerBand)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("band_size"))
      .filter(col("band_size") > maxBandSize)

  private def bandedKeys(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val sig = minhashSignature(df, textCol, k)
      .select(col(idCol).as("id") +: (0 until k).map(i => col(s"mh$i")): _*)
    (0 until bands).map { b =>
      val key = concat((0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
      sig.select(col("id"), lit(b).as("band"), key.as("band_key"))
    }.reduce(_ union _)
  }

  /** Recrawl dedup by (url, warc_ts) — the batch max-by-timestamp contract
    * (SURVEY §2.9): per url keep the row with the greatest warc_ts; equal
    * timestamps tie-break on md5(html) descending (content-addressed, so
    * the winner is independent of row order/partitioning). The streaming
    * twin is ExtractStream.dedupLatest — same comparator, proven
    * byte-identical through extraction by StreamLatestDedupSpec.
    *
    * Scale shape: ONE hash exchange on url + a WindowGroupLimit top-1
    * (rank over the url window) — never a self-join; html bytes ride the
    * shuffle once, which is unavoidable for a winner-takes-row semantics.
    */
  def latestByUrl(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
      .orderBy(col("warc_ts").desc, md5(col("html")).desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
