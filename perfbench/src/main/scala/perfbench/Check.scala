package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ExtractedDoc

/** Output checks, all run outside the timed passes. */
object Check {

  /** The output columns a digest covers, in the committed table's shape. */
  def flat(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.toDF().select(col("url"), col("extracted_text"),
      to_json(col("spans")).as("spans_json"), col("status"))

  /** Order-independent digest over (url, extracted_text, spans_json,
    * status): the row count and the two halves of each row's md5, summed
    * modulo 2^64. Partitioning and row order cannot move it.
    */
  def digest(df: DataFrame): String = {
    import df.sparkSession.implicits._
    val parts = df.select(col("url"), col("extracted_text"), col("spans_json"), col("status"))
      .mapPartitions { rows =>
        val md = MessageDigest.getInstance("MD5")
        var n = 0L; var a = 0L; var b = 0L
        rows.foreach { r: Row =>
          var i = 0
          while (i < 4) {
            val v = r.getString(i)
            md.update((if (v == null) "\u0000null" else v).getBytes(StandardCharsets.UTF_8))
            md.update(0x1f.toByte)
            i += 1
          }
          val h = java.nio.ByteBuffer.wrap(md.digest())
          a += h.getLong(0); b += h.getLong(8); n += 1
        }
        Iterator.single((n, a, b))
      }.collect()
    val (n, a, b) = parts.foldLeft((0L, 0L, 0L)) { case ((n0, a0, b0), (n1, a1, b1)) =>
      (n0 + n1, a0 + a1, b0 + b1)
    }
    f"$n:$a%016x$b%016x"
  }

  /** Docs whose extracted text differs from the generator's ground truth. */
  def groundTruthMismatches(spark: SparkSession, docs: DataFrame, corpusPath: String): Long = {
    val truth = spark.read.parquet(corpusPath).select(col("url").as("t_url"), col("expected_md5"))
    docs.join(truth, col("url") === col("t_url"), "full_outer")
      .filter(col("url").isNull || col("t_url").isNull ||
        md5(col("extracted_text").cast("binary")) =!= col("expected_md5"))
      .count()
  }

  /** Recorded outputs for the default seed (perfbench/expected.properties). */
  lazy val expected: Map[String, String] = {
    val p = new java.util.Properties
    val in = getClass.getResourceAsStream("/perfbench/expected.properties")
    if (in != null) try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }
}
