package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Distributed-pass cost decomposition: runs the SAME corpus through
  * cumulative prefixes of the extraction pass and reports summed task CPU
  * for each, so the per-stage cost of the REAL Spark job (not a
  * single-threaded micro-benchmark) is attributable:
  *
  *   scan     parquet scan + snappy decompress + columnar assembly
  *            (sum(length(html)) — vectorized reader, no JVM row objects)
  *   row      + Dataset[PageRow] encoder materialization (html copy,
  *            text/lang String decode)
  *   prescan  + UTF-8 validation / garbage-count pass (Decode.utf8Plan +
  *            ByteTokenizer.prescan)
  *   tok      + full byte tokenizer (blocks materialized, Canon flush)
  *   pipe     + the whole per-row pipeline (classify/artifacts/boundary/
  *            assemble/stats), counters-only output — no Dataset encoding
  *   full     the measured bench pass: `full` − `pipe` is the ExtractedDoc
  *            encoder (SerializeFromObject) + aggregate + result plumbing
  *
  * The delta between consecutive rows is the marginal CPU of that stage at
  * the target parallelism — the number that decides where the next
  * optimization goes (VERDICT r4 item 1).
  *
  * Usage: runMain graft.tools.StageFloor <cpus> <docs> [passes]
  */
object StageFloor {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0) else "8"
    val n = if (args.length > 1) args(1).toLong else 1000000L
    val passes = if (args.length > 2) args(2).toInt else 3

    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val cpuNs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
    })
    val input = graft.Bench.ensureInput(spark, n)

    def pageRows() = spark.read.parquet(input).as[graft.core.PageRow]

    val stages: Seq[(String, () => Long)] = Seq(
      "scan" -> (() =>
        spark.read.parquet(input).agg(sum(length($"html"))).collect()(0).getLong(0)),
      "row" -> (() =>
        pageRows().mapPartitions { it =>
          var s = 0L; it.foreach(r => s += (if (r.html == null) 0 else r.html.length))
          Iterator.single(s)
        }.reduce(_ + _)),
      "prescan" -> (() =>
        pageRows().mapPartitions { it =>
          var s = 0L
          it.foreach { r =>
            val b = if (r.html == null) Array.emptyByteArray else r.html
            val plan = graft.html.Decode.utf8Plan(b)
            if (plan != null) {
              val ps = graft.html.ByteTokenizer.prescan(b, plan.offset)
              s += ps.utf16Len.toLong
            }
            s += b.length
          }
          Iterator.single(s)
        }.reduce(_ + _)),
      "tok" -> (() =>
        pageRows().mapPartitions { it =>
          var s = 0L
          it.foreach { r =>
            val b = if (r.html == null) Array.emptyByteArray else r.html
            val plan = graft.html.Decode.utf8Plan(b)
            if (plan != null) {
              val ps = graft.html.ByteTokenizer.prescan(b, plan.offset)
              if (ps.valid) {
                val tok = graft.html.ByteTokenizer(b, plan.offset)
                s += tok.blocks.length.toLong
              }
            }
            s += b.length
          }
          Iterator.single(s)
        }.reduce(_ + _)),
      "pipe" -> (() =>
        // the WHOLE per-row pipeline (classify/artifacts/boundary/assemble/
        // stats included), counters-only output: the marginal over `tok` is
        // the Scala-side finish; `full` minus `pipe` is the Dataset encoder
        // (ExtractedDoc SerializeFromObject) + aggregate + result plumbing
        pageRows().mapPartitions { it =>
          var s = 0L
          it.foreach { r =>
            val d = graft.pipeline.Extract(r)
            s += d.extracted_text.length.toLong + d.spans.length
          }
          Iterator.single(s)
        }.reduce(_ + _)),
      "full" -> (() => {
        val (_, docs, _) = graft.Bench.extractionRunFiles(spark, Seq(input))
        docs
      })
    )

    // warm everything once (JIT + page cache)
    stages.foreach { case (_, f) => f() }

    println(f"${"stage"}%-8s ${"wall_s"}%8s ${"cpu_s"}%8s  (best of $passes, $n docs, local[$cpus])")
    var prev = 0.0
    stages.foreach { case (name, f) =>
      var bestWall = Double.MaxValue
      var bestCpu = Double.MaxValue
      (1 to passes).foreach { _ =>
        val c0 = cpuNs.get()
        val t0 = System.nanoTime()
        f()
        val wall = (System.nanoTime() - t0) / 1e9
        var prevC = -1L; var curC = cpuNs.get(); var si = 0
        while (si < 20 && curC != prevC) { Thread.sleep(50); prevC = curC; curC = cpuNs.get(); si += 1 }
        val cpu = (curC - c0) / 1e9
        if (cpu < bestCpu) { bestCpu = cpu; bestWall = wall }
      }
      println(f"$name%-8s $bestWall%8.2f $bestCpu%8.2f  (+${bestCpu - prev}%.2f)")
      prev = bestCpu
    }
    spark.stop()
  }
}
