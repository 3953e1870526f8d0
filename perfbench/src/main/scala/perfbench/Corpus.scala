package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.PageRow
import graft.fixtures.FixtureGen

/** A page plus the md5 of its ground-truth extraction (FixtureGen's
  * `expected`), so outputs can be checked against the generator.
  */
final case class CorpusRow(url: String, warc_ts: Timestamp, html: Array[Byte],
    text: String, lang: String, expected_md5: String)

/** A materialized input: parquet directory plus what it holds. */
final case class Corpus(path: String, docs: Long, htmlBytes: Long)

object Corpus {

  def md5Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"$x%02x").mkString

  private def row(f: FixtureGen.Fixture): CorpusRow =
    CorpusRow(f.page.url, f.page.warc_ts, f.page.html, f.page.text, f.page.lang,
      md5Hex(f.expected.getBytes(StandardCharsets.UTF_8)))

  /** Identity of the generator's output for this seed: a generator change
    * that shows on any probe id moves the cache path.
    */
  private def fingerprint(kind: String, seed: Long, n: Long): String = {
    val md = MessageDigest.getInstance("MD5")
    (Seq(0L, 1L, 2L, 7L, 25L, 50L, 97L, 131L, 250L, 499L, 997L, 4999L)).foreach { id =>
      val f = FixtureGen.fixture(id, seed)
      md.update(f.page.url.getBytes(StandardCharsets.UTF_8))
      md.update(f.page.html)
      md.update(f.expected.getBytes(StandardCharsets.UTF_8))
    }
    md.update(s"$kind/$seed/$n".getBytes(StandardCharsets.UTF_8))
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** Generate rows for fixture ids [0, ids) of `seed`, keep those `keep`
    * accepts, as a distributed job.
    */
  def generate(spark: SparkSession, seed: Long, ids: Long,
      keep: FixtureGen.Fixture => Boolean): Dataset[CorpusRow] = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism * 4
    spark.range(0L, ids, 1L, parts).as[Long].mapPartitions { it =>
      it.map(id => FixtureGen.fixture(id, seed)).filter(keep).map(row)
    }
  }

  /** `crawl_mix`: the standard fixture mix, ids [0, n). */
  def crawl(seed: Long, n: Long): SparkSession => Dataset[CorpusRow] =
    spark => generate(spark, seed, n, _ => true)

  /** `legacy_charset`: only docs of the `encodings` corpus among ids
    * [0, 10 n) — about n docs (a tenth of the non-edge ids).
    */
  def legacy(seed: Long, n: Long): SparkSession => Dataset[CorpusRow] =
    spark => generate(spark, seed, n * 10, _.corpus == "encodings")

  /** Materialize (or reuse) a corpus under `cacheRoot`, keyed by kind, seed,
    * size and generator fingerprint.
    */
  def materialize(spark: SparkSession, cacheRoot: Path, kind: String, seed: Long,
      n: Long, gen: SparkSession => Dataset[CorpusRow]): Corpus = {
    val dir = cacheRoot.resolve(s"${kind}_s${seed}_n${n}_${fingerprint(kind, seed, n)}")
    val meta = dir.resolve("_corpus.meta")
    if (!Files.exists(meta)) {
      val tmp = cacheRoot.resolve(s".tmp_${dir.getFileName}_${System.nanoTime()}")
      val t0 = System.nanoTime()
      gen(spark).write.parquet(tmp.toString)
      val genS = (System.nanoTime() - t0) / 1e9
      val (docs, bytes) = countRows(spark, tmp.toString)
      Files.writeString(tmp.resolve("_corpus.meta"), s"$docs $bytes\n")
      deleteTree(dir)
      Files.move(tmp, dir)
      Log.info(f"generated $kind seed=$seed: $docs docs, ${bytes / 1e6}%.1f MB html in $genS%.1f s")
    }
    val f = Files.readString(meta).trim.split(" ")
    Corpus(dir.toString, f(0).toLong, f(1).toLong)
  }

  private def countRows(spark: SparkSession, path: String): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), sum(octet_length(col("html")))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def pages(spark: SparkSession, c: Corpus): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.parquet(c.path).as[PageRow]
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally walk.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  def sizeOfTree(p: Path): (Long, Int) = {
    val walk = Files.walk(p)
    try {
      val fs = walk.iterator()
      var bytes = 0L; var files = 0
      while (fs.hasNext) {
        val f = fs.next()
        if (Files.isRegularFile(f) && f.toString.endsWith(".parquet")) {
          bytes += Files.size(f); files += 1
        }
      }
      (bytes, files)
    } finally walk.close()
  }

}
