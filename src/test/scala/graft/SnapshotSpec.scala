package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.table.{Json, SnapshotTable}
import java.nio.file.Files

/** Snapshot-commit + resume semantics (north rule: killed job resumes from
  * last committed snapshot, exactly-once output). SURVEY.md §5.2.5.
  */
class SnapshotSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def urls(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (s"https://h.example/p/$i", s"text $i")).toDF("url", "body")
  }

  test("append commits an atomic snapshot; readers see only committed files") {
    val dir = Files.createTempDirectory("snap1").toString
    assert(SnapshotTable.currentSnapshot(dir).isEmpty)
    assert(SnapshotTable.read(spark, dir).isEmpty)

    SnapshotTable.append(urls(0, 10), dir, "run1", buckets = 4)
    val s1 = SnapshotTable.currentSnapshot(dir).get
    assert(s1.id == 1L && s1.runIds == Seq("run1"))
    assert(SnapshotTable.read(spark, dir).get.count() == 10)

    // simulate a KILLED second run: data written but never committed
    urls(10, 20)
      .withColumn("bucket", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.col("url")),
        org.apache.spark.sql.functions.lit(4)))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$dir/data/run=run2_killed")
    // readers still see exactly the committed 10 rows
    assert(SnapshotTable.read(spark, dir).get.count() == 10)

    // resume: anti-join done urls, process remainder, commit
    val done = SnapshotTable.doneUrls(spark, dir).get
    val all = urls(0, 20)
    val remaining = all.join(done, Seq("url"), "left_anti")
    assert(remaining.count() == 10)
    SnapshotTable.append(remaining, dir, "run3", buckets = 4)

    val df = SnapshotTable.read(spark, dir).get
    assert(df.count() == 20)
    // exactly-once: no dupes, no gaps
    assert(df.select("url").distinct().count() == 20)
    val s3 = SnapshotTable.currentSnapshot(dir).get
    assert(s3.id == 2L && s3.runIds == Seq("run1", "run3"))
  }

  test("a torn v<max>.json cannot wedge the table (ADVICE r2)") {
    val dir = Files.createTempDirectory("snap3").toString
    SnapshotTable.append(urls(0, 5), dir, "r1", buckets = 2)
    // foreign/legacy torn manifest at the max version name: truncated JSON
    Files.write(java.nio.file.Paths.get(dir, "snapshots", "v00002.json"),
      """{"snapshot_id":2,"files":["/x""".getBytes("UTF-8"))
    // readers fall back to the newest parseable manifest
    assert(SnapshotTable.currentSnapshot(dir).get.id == 1L)
    // and the next commit allocates PAST the garbage name instead of
    // colliding on it 64 times
    val s = SnapshotTable.append(urls(5, 9), dir, "r2", buckets = 2)
    assert(s.id == 3L && s.runIds == Seq("r1", "r2"))
    assert(SnapshotTable.read(spark, dir).get.count() == 9)
    // no stray .tmp files left behind by the link-publish
    val strays = new java.io.File(s"$dir/snapshots").listFiles()
      .map(_.getName).filter(_.endsWith(".tmp"))
    assert(strays.isEmpty, s"stray tmp manifests: ${strays.mkString(",")}")
  }

  test("bucket layout spreads urls (hidden partitioning)") {
    val dir = Files.createTempDirectory("snap2").toString
    SnapshotTable.append(urls(0, 200), dir, "r1", buckets = 8)
    val buckets = new java.io.File(s"$dir/data/run=r1").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(buckets.length >= 6, s"expected most of 8 buckets used, got ${buckets.length}")
  }

  test("Json.quote round-trips through Json.parse for U+0000..U+00FF and a surrogate pair") {
    val chars = (0 to 0xff).map(_.toChar.toString) :+ "\uD83D\uDE00"
    chars.foreach { c =>
      assert(Json.parse(Json.quote(c)) == c, f"U+${c.charAt(0).toInt}%04X")
    }
    val all = chars.mkString
    assert(Json.parse(Json.quote(all)) == all)
    // escapes other writers use, which quote never emits
    assert(Json.parse("\"\\/\\b\\f\\u00e9\"") == "/\b\f\u00e9")
  }
}
