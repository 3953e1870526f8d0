package graft.tools

import org.apache.spark.sql.SparkSession

/** Extraction throughput through a REAL standalone cluster (multi-executor
  * JVMs, cross-process task dispatch and result serialization) — the
  * cluster-real companion to perfbench's local[N] passes. All JVMs share
  * this box, so the numbers measure the engine + real Spark distribution
  * machinery, not network hardware.
  *
  * Usage: ClusterBench <master> <docs> <passes> <out.jsonl>
  */
object ClusterBench {
  def main(args: Array[String]): Unit = {
    val master = args(0)
    val n = args(1).toLong
    val passes = args(2).toInt
    val out = args(3)

    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-cluster-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new graft.Bench.CpuMeter
    spark.sparkContext.addSparkListener(meter)

    val input = graft.Bench.ensureInput(spark, n)
    val split = graft.Bench.tuneSplitFor(spark, input)
    spark.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
    System.err.println(s"split_bytes=$split")

    // warmup (executor JIT)
    val warm = graft.Bench.ensureInput(spark, math.min(n, 40000L))
    graft.Bench.extractionRunFiles(spark, Seq(warm))

    val w = new java.io.PrintWriter(new java.io.FileWriter(out, true))
    (1 to passes).foreach { p =>
      meter.reset()
      val (sec, docs, bytes) = graft.Bench.extractionRunFiles(spark, Seq(input))
      val cpu = meter.settledCpuSec()
      val line = f"""{"master":"$master","pass":$p,"wall_s":$sec%.2f,"cpu_s":$cpu%.2f,"docs":$docs,"bytes":$bytes,"docs_per_sec":${docs / sec}%.0f}"""
      println(line)
      w.println(line)
      w.flush()
    }
    w.close()
    spark.stop()
  }
}
