package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path) {
  val slots: Int = Runtime.getRuntime.availableProcessors
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload '$w'")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }
}

/** A metric as printed: value and unit. */
final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

/** One timed pass: its output, wall seconds, listener window and the
  * engine's contention record.
  */
final case class Pass(out: PassOut, wallS: Double, window: Window, record: graft.Bench.PassRecord)

/** The passes of one closed loop at one slot count. */
final case class Level(slots: Int, passes: Seq[Pass], heapMb: Seq[Double]) {
  def wallS: Double = Stats.median(passes.map(_.wallS))
  def units: Double = Stats.median(passes.map(_.out.units.toDouble))
  def cpuS: Double = Stats.median(passes.map(_.window.cpuS))
  def workPerS: Double = units / wallS
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val res = Runner.run(opts)
    println(res.json)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out, so end here
    Runtime.getRuntime.halt(0)
  }
}

object Runner {
  /** Timed set-ups per run; `setup_s` is their median. */
  val setups = 7
  /** Set-ups before them that do not count: the JIT is still compiling
    * session start and pass code over the first few.
    */
  val warmSetups = 4

  def run(o: Opts): Result = {
    val cache = o.work.resolve("cache")
    Files.createDirectories(cache)
    val wl = Workload(o.workload, o.seed)
    val checks = ArrayBuffer.empty[CheckResult]

    var spark = Sessions.start(o.slots)
    wl.prepare(spark, cache)

    // set-up: session start + open inputs + one pass, repeated; the traced
    // run only needs the warm ones
    val setupS = (1 to (if (o.trace) warmSetups else warmSetups + setups)).map { _ =>
      Sessions.stop(spark)
      val t0 = System.nanoTime()
      spark = Sessions.start(o.slots)
      wl.open(spark)
      wl.pass(spark)
      (System.nanoTime() - t0) / 1e9
    }
    Log.info(s"setup_s samples ${setupS.map(s => f"$s%.3f").mkString(" ")}, the first $warmSetups not counted")

    if (o.trace) return Trace.run(o, wl, spark)

    val level = measureLevel(spark, wl, o.slots, o.seconds, checks)
    Sessions.stop(spark)
    report(o, level)

    val failedChecks = checks.filterNot(_.ok)
    failedChecks.foreach(c => Log.info(s"CHECK FAILED ${c.name}: ${c.detail}"))
    val failedPasses = level.passes.count(!_.out.ok)
    val metrics = Seq(
      Metric("docs_per_s", level.workPerS, "1/s"),
      Metric("cpu_s_per_mdoc", level.cpuS / level.units * 1e6, "s"),
      Metric("setup_s", Stats.median(setupS.drop(warmSetups)), "s"),
      Metric("heap_peak_mb", Stats.median(level.heapMb), "MB"))
    Result(level.passes.length + checks.length, failedPasses + failedChecks.length, metrics)
  }

  /** Each pass's contention evidence (the engine's PassRecord), for the
    * record only: no pass is dropped or repeated because of it.
    */
  def report(o: Opts, level: Level): Unit = {
    val dir = o.work.resolve("reports")
    Files.createDirectories(dir)
    val lines = level.passes.map(p =>
      s"""{"label":"${p.out.label}","units":${p.out.units},"ok":${p.out.ok},"slots":${level.slots},"record":${p.record.json}}""")
    Files.write(dir.resolve(s"${o.workload}_seed${o.seed}.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Closed loop at one slot count: checks first (untimed), then passes
    * until `seconds` have gone by. The first quarter of that time is JIT
    * warm-up whose passes are not reported; at least three passes are
    * timed.
    */
  def measureLevel(spark: SparkSession, wl: ExtractWorkload, slots: Int, seconds: Double,
      checks: ArrayBuffer[CheckResult]): Level = {
    checks ++= wl.checks(spark)
    val meters = new PassMeters(spark)
    val out = ArrayBuffer.empty[Pass]
    val heap = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds / 4) wl.pass(spark)
    while (out.length < 3 || elapsed < seconds) {
      HeapMeter.reset()
      out += meters.pass(wl.pass(spark))
      // a full collection after each pass (untimed) guarantees one
      // after-GC reading per pass, and each pass starts from a clean heap
      heap += HeapMeter.collectPeakMb()
    }
    Log.info(f"local[$slots]: ${out.length} passes, walls " +
      out.map(p => f"${p.wallS}%.3f").mkString(" ") + "; ext_busy_cores " +
      out.map(p => f"${p.record.extBusyCores}%.2f").mkString(" "))
    Level(slots, out.toSeq, heap.toSeq)
  }
}
