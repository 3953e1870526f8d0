package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The tables the headline queries read, generated from a fixed seed so
  * every run (and every workload seed) sees the same data. Each column
  * follows the distribution measured on the testdata star schema at sf0.1
  * (perfbench/README.md lists the statistics); row counts are sf0.1's.
  */
object QueryData {
  val dataSeed = 20240101L
  val version = "v2"

  private val vocab = Array("a", "the", "data", "spark", "query", "table", "row", "column",
    "key", "value", "join", "filter", "group", "agg", "sort", "merge", "hash", "scan",
    "window", "stream", "batch", "vector", "order", "customer", "line", "part", "big",
    "small", "fast", "slow")
  private val otherLangs = Array("zh", "es", "fr", "de")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val statuses = Array("O", "F", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("view", "click", "purchase", "signup", "error")

  private def cents(x: Double): Double = math.round(x * 100) / 100.0
  private def exponential(r: Random, mean: Double): Double = -math.log(1 - r.nextDouble()) * mean
  private def at(iso: String): Long = Instant.parse(iso).toEpochMilli

  private def write(spark: SparkSession, dir: Path, name: String, schema: StructType,
      rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)

  /** 10–99 words drawn uniformly from a 30-word vocabulary; 5% of docs
    * repeat an earlier doc with " dup" appended (so a few are exact
    * duplicates of each other); lang en 40%, zh/es/fr/de 15% each;
    * source `src<doc_id mod 20>`.
    */
  private def documents(r: Random): Seq[Row] = {
    val texts = new Array[String](5000)
    (0 until 5000).map { i =>
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
      val lang = if (r.nextDouble() < 0.4) "en" else otherLangs(r.nextInt(otherLangs.length))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** 64-d Gaussian vectors scaled to unit length; labels 0–9 uniform. */
  private def embeddings(r: Random): Seq[Row] =
    (0 until 2000).map { i =>
      val g = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }

  def materialize(spark: SparkSession, cache: Path): String = {
    val dir = cache.resolve(s"query_tables_${version}_$dataSeed")
    if (!Files.exists(dir.resolve("tables.ok"))) {
      Corpus.deleteTree(dir)
      val r = new Random(dataSeed)
      write(spark, dir, "documents", StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))), documents(r))
      write(spark, dir, "embeddings", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)),
        StructField("label", IntegerType))), embeddings(r))
      // nation 0–24, balance uniform in [-999.99, 9999.99], segment uniform
      write(spark, dir, "customer", StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
        (0 until 15000).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          cents(-999.99 + r.nextDouble() * 10999.98), segments(r.nextInt(segments.length)))))
      // customer uniform (about 10 orders each), price uniform in
      // [1000, 500000], one of the 2405 days from 1995-01-01, status and
      // priority uniform
      val day0 = at("1995-01-01T00:00:00Z")
      write(spark, dir, "orders", StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
        (0 until 150000).map(i => Row(i.toLong, r.nextInt(15000).toLong,
          statuses(r.nextInt(3)), cents(1000 + r.nextDouble() * 499000),
          new Timestamp(day0 + r.nextInt(2405) * 86400000L),
          priorities(r.nextInt(priorities.length)))))
      // a Poisson stream over 30 days (exponential gaps, mean 25.92 s,
      // microsecond times) in event_id order; user 0–1499 and type
      // uniform; value exponential with mean 50; props {"k": 0–99}
      var tMicros = at("2024-01-01T00:00:00Z") * 1000L
      write(spark, dir, "events", StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
        (0 until 100000).map { i =>
          tMicros += math.round(exponential(r, 25.92e6))
          val ts = new Timestamp(Math.floorDiv(tMicros, 1000L))
          ts.setNanos((Math.floorMod(tMicros, 1000000L) * 1000L).toInt)
          Row(i.toLong, ts, r.nextInt(1500).toLong, eventTypes(r.nextInt(eventTypes.length)),
            cents(exponential(r, 50)), s"""{"k": ${r.nextInt(100)}}""")
        })
      Files.writeString(dir.resolve("tables.ok"), "ok\n")
    }
    dir.toString
  }
}

/** The engine bench's 14 headline queries over one directory of tables,
  * in rounds whose order the seed permutes. Each execution is checked
  * against its recorded result hash.
  */
final class QuerySuite(seed: Long, dir: String) {
  private var round = 0
  private var queue: List[String] = Nil
  // the last execution's layer timings
  var planS = 0.0
  var execS = 0.0
  var exchanges = 0
  var resultRows = 0

  def warm(spark: SparkSession): Unit = QuerySuite.headline.foreach(q => run(spark, q))

  /** The next query of the current seeded round. */
  def next(spark: SparkSession): PassOut = {
    if (queue.isEmpty) {
      queue = new Random(seed * 1000003L + round).shuffle(QuerySuite.headline).toList
      round += 1
    }
    val q = queue.head
    queue = queue.tail
    run(spark, q)
  }

  private def run(spark: SparkSession, q: String): PassOut = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(q)(spark, dir)
    val plan = df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    planS = (t1 - t0) / 1e9
    execS = (t2 - t1) / 1e9
    exchanges = QuerySuite.exchanges(plan)
    resultRows = rows.length
    val h = QuerySuite.hash(rows)
    val ok = Check.expected.get(s"$q.hash").contains(h)
    if (!ok) Log.info(s"$q result hash $h, recorded ${Check.expected.getOrElse(s"$q.hash", "none")}")
    PassOut(q, 1, ok)
  }
}

object QuerySuite {
  val headline: Seq[String] = Seq(
    "q_sauvola", "q_window_stats", "q_wolfjolion", "q_otsu", "q_minhash",
    "q_ngram_jaccard", "q_dedup_exact", "q_ann_bucketed", "q_lsh_bucket",
    "q_golden_join", "q_event_windows", "q_topk", "q_quality_scores", "q_extract")

  /** md5 over the rows in result order (every headline query is globally
    * ordered by a unique key).
    */
  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.mkString("\u001f") + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Exchange operators in a physical plan, looking through adaptive
    * execution to the plan it started from.
    */
  def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    root.collect { case e: Exchange => e }.length +
      root.subqueries.map(exchanges).sum
  }
}

/** Per-query medians of the headline suite on the generated tables beside
  * other directories of tables in the same schema, in one session, rounds
  * interleaved:
  *
  *   java -cp "$(cat perfbench/target/classpath.txt)" perfbench.QueryCompare \
  *     <work dir> <rounds> [<tables dir> ...]
  *
  * It checks that the generated tables cost what the tables they stand in
  * for cost; the benchmark itself never reads outside its checkout.
  */
object QueryCompare {
  def main(args: Array[String]): Unit = {
    val rounds = args(1).toInt
    val spark = Sessions.start(Runtime.getRuntime.availableProcessors)
    val dirs = QueryData.materialize(spark, Paths.get(args(0)).resolve("cache")) +: args.drop(2).toSeq
    val suites = dirs.map(d => new QuerySuite(1L, d))
    suites.foreach(_.warm(spark))
    val walls = dirs.map(_ => ArrayBuffer.empty[(String, Double)])
    val resultRows = dirs.map(_ => scala.collection.mutable.Map.empty[String, Int])
    (1 to rounds).foreach { _ =>
      suites.indices.foreach { i =>
        QuerySuite.headline.foreach { _ =>
          val t0 = System.nanoTime()
          val q = suites(i).next(spark).label
          walls(i) += q -> (System.nanoTime() - t0) / 1e9
          resultRows(i)(q) = suites(i).resultRows
        }
      }
    }
    val med = walls.map(w => w.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2).toSeq) })
    val names = dirs.indices.map(i => if (i == 0) "generated" else s"dir$i")
    println(("query" +: (names.map(_ + "_s") ++ names.map(_ + "_rows"))).mkString("\t"))
    QuerySuite.headline.foreach { q =>
      println((q +: (med.map(m => f"${m(q)}%.4f") ++ resultRows.map(_(q).toString))).mkString("\t"))
    }
    println(("sum" +: med.map(m => f"${m.values.sum}%.4f")).mkString("\t"))
    dirs.zipWithIndex.drop(1).foreach { case (d, i) => println(s"dir$i\t$d") }
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
