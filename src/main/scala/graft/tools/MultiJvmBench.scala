package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Multi-JVM executor-emulation scaling experiment (VERDICT r3 item 1 — the
  * one unmet north-rule gate). Launches [[MultiJvmWorker]] JVMs — each an
  * emulated EXECUTOR with its own heap, GC, and scheduler — and fires
  * extraction passes across all of them in lock-step, recording one
  * aggregate JSON line per pass.
  *
  * Configurations measured (all over the same pre-materialized corpus):
  *   - ex1_local8_full     1 × local[8]  (4g)  × full corpus   — "N executors"
  *   - ex4_local8_full     4 × local[8]  (4g)  × full corpus   — "4N executors",
  *                         weak scaling: identical per-JVM work as ex1
  *   - ex1_local8_quarter  1 × local[8]  (4g)  × quarter slice
  *   - ex4_local8_quarter  4 × local[8]  (4g)  × disjoint quarters — strong
  *                         scaling: the SAME 1M-doc job partitioned 4 ways
  *   - ex1_local32_full    1 × local[32] (16g) × full corpus   — the
  *                         single-consolidated-JVM comparison point (r3's
  *                         0.74–0.76 wall efficiency lives here)
  *
  * The heap split keeps PER-CORE memory constant (0.5 GB/core), exactly how
  * a cluster manager would carve a 32-core/16 GB node into four 8-core
  * executors.
  *
  * Scaling efficiencies derivable from the output:
  *   weak   eff = wall(ex1_local8_full)  / wall(ex4_local8_full)
  *   strong eff = wall(ex1_local8_full)  / (4 × wall(ex4_local8_quarter))
  *   multi-vs-single-JVM at 32 cores: aggregate docs/s of ex4_local8_full
  *     vs 4 × docs/s of ex1_local32_full's quarter-rate
  *
  * Every pass starts only inside a quiet window (co-tenant busy cores < 1
  * AND iowait cores < 1, probed with worker self-jiffies excluded) or after
  * the per-pass hunt budget expires — and each record carries the measured
  * contention either way (self-proving, VERDICT r2 item 1 / r3 item 2).
  *
  * Usage: runMain graft.tools.MultiJvmBench <outJsonl> [passes] [huntS] [docs]
  */
object MultiJvmBench {

  private val hz = 100.0

  private def pidJiffies(pid: Long): Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get(s"/proc/$pid/stat")), "UTF-8")
      val f = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      f(11).toDouble + f(12).toDouble
    } catch { case scala.util.control.NonFatal(_) => 0.0 }

  /** Read a worker's done-file record, retrying briefly while it is
    * empty or truncated: the coordinator's exists-poll can land between
    * the worker's file CREATE and its content write (observed once under
    * load — r5e pair 1 parsed an empty record into NaN walls). A complete
    * record is one JSON object line ending in '}'.
    */
  private[tools] def readDoneRecord(p: java.nio.file.Path): String = {
    val deadline = System.nanoTime() + 5L * 1000000000L
    var rec = ""
    while ({
      rec = new String(Files.readAllBytes(p), "UTF-8").trim
      (rec.isEmpty || !rec.endsWith("}")) && System.nanoTime() < deadline
    }) Thread.sleep(50)
    rec
  }

  final case class WorkerSpec(threads: Int, heap: String, sliceK: Int, sliceM: Int)
  final case class Config(name: String, workers: Seq[WorkerSpec])

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "paired") {
      // PAIRED N↔4N design (r4): both topologies' workers stay warm and
      // alternate passes back-to-back, so each pair samples (nearly) the
      // same machine state — robust to the slow external-memory drift that
      // makes independent sessions bracket [0.73, 0.85]. Order alternates
      // (AB, BA, AB, …) to cancel linear drift within a pair.
      // Usage: paired <outJsonl> [cleanPairs] [budgetS] [docs] [floorCpuA] [floorCpuB]
      val outFile = Paths.get(if (args.length > 1) args(1) else "BENCH/multi_jvm_paired.jsonl")
      val pairs = if (args.length > 2) args(2).toInt else 8
      val budgetS = if (args.length > 3) args(3).toDouble else 2400.0
      val docs = if (args.length > 4) args(4).toLong else 1000000L
      // clean-pair acceptance: both sides' summed task CPU within ~12% of
      // the measured clean FLOORS (args 5/6 are the floors themselves —
      // the ×1.12 margin is applied HERE, so a caller can no longer pass
      // raw floors as cutoffs by mistake, which voided the r5b afternoon
      // session). r4-engine floors on 1M docs: 167 s for 1×8, 744 s for
      // 4×8; r5 byte-pipeline floors: ~103 / ~455. Contention on sub-pass
      // timescales defeats plain pairing (first session: A-side CPU
      // 172–340 under a sustained burst), so the quiet-pass lesson of the
      // local[N] level runs applies at pair granularity: keep the pair
      // loop running and ACCEPT only pairs whose own CPU says both sides
      // ran clean — the artifact records every pair either way.
      val floorCpuA = if (args.length > 5) args(5).toDouble else 167.0
      val floorCpuB = if (args.length > 6) args(6).toDouble else 744.0
      val cleanCpuA = floorCpuA * 1.12
      val cleanCpuB = floorCpuB * 1.12
      val gen = graft.Bench.session("32")
      gen.sparkContext.setLogLevel("ERROR")
      val inputDir = graft.Bench.ensureInput(gen, docs)
      gen.stop()
      Files.createDirectories(outFile.getParent)
      runPaired(inputDir, outFile, pairs, budgetS, cleanCpuA, cleanCpuB)
      return
    }
    val outFile = Paths.get(if (args.length > 0) args(0) else "BENCH/multi_jvm.jsonl")
    val passes = if (args.length > 1) args(1).toInt else 5
    val huntS = if (args.length > 2) args(2).toDouble else 150.0
    val docs = if (args.length > 3) args(3).toLong else 1000000L

    // 1. materialize the corpus once (generation must not pollute measurement)
    val gen = graft.Bench.session("32")
    gen.sparkContext.setLogLevel("ERROR")
    val inputDir = graft.Bench.ensureInput(gen, docs)
    gen.stop()

    val configs = Seq(
      Config("ex1_local8_full", Seq(WorkerSpec(8, "4g", 0, 1))),
      Config("ex4_local8_full", (0 until 4).map(_ => WorkerSpec(8, "4g", 0, 1))),
      Config("ex1_local8_quarter", Seq(WorkerSpec(8, "4g", 0, 4))),
      Config("ex4_local8_quarter", (0 until 4).map(k => WorkerSpec(8, "4g", k, 4))),
      Config("ex1_local32_full", Seq(WorkerSpec(32, "16g", 0, 1))),
    )

    Files.createDirectories(outFile.getParent)
    configs.foreach(c => runConfig(c, inputDir, outFile, passes, huntS))
    System.err.println(s"multi-JVM bench complete -> $outFile")
  }

  /** One live worker group (its own ctrl dir + JVMs), reusable across many
    * passes — the building block of the paired design.
    */
  private final class Group(val name: String, specs: Seq[WorkerSpec], inputDir: String) {
    val ctrl: java.nio.file.Path = Files.createTempDirectory(s"graft_mj_${name}_")
    val procs: Seq[Process] = specs.zipWithIndex.map { case (w, id) =>
      launchWorker(w, id, inputDir, ctrl)
    }
    val pids: Seq[Long] = procs.map(_.pid())
    def waitReady(pass: Int): Unit = {
      val deadline = System.nanoTime() + 900L * 1000000000L
      def allReady = specs.indices.forall(id =>
        Files.exists(ctrl.resolve(s"ready_${id}_$pass")))
      while (!allReady && System.nanoTime() < deadline) {
        if (procs.exists(!_.isAlive))
          sys.error(s"[$name] worker died before pass $pass; see $ctrl/worker_*.err")
        Thread.sleep(200)
      }
      if (!allReady) sys.error(s"[$name] barrier timeout at pass $pass")
    }
    /** Fire pass and block until done; returns (wallAggS, cpuS, gcMs, docs). */
    def runPass(pass: Int): (Double, Double, Long, Long) = {
      Files.write(ctrl.resolve(s"go_$pass"), Array.emptyByteArray,
        StandardOpenOption.CREATE)
      def allDone = specs.indices.forall(id =>
        Files.exists(ctrl.resolve(s"done_${id}_$pass")))
      val deadline = System.nanoTime() + 900L * 1000000000L
      while (!allDone && System.nanoTime() < deadline) {
        if (procs.exists(!_.isAlive))
          sys.error(s"[$name] worker died mid-pass $pass; see $ctrl/worker_*.err")
        Thread.sleep(100)
      }
      if (!allDone) sys.error(s"[$name] pass $pass timeout")
      val recs = specs.indices.map(id =>
        readDoneRecord(ctrl.resolve(s"done_${id}_$pass")))
      def field(rec: String, k: String): Double =
        (s""""$k":(-?[0-9.]+)""").r.findFirstMatchIn(rec)
          .map(_.group(1).toDouble).getOrElse(Double.NaN)
      val wall = (recs.map(field(_, "t1_ms")).max - recs.map(field(_, "t0_ms")).min) / 1000.0
      (wall, recs.map(field(_, "cpu_s")).sum,
        recs.map(field(_, "gc_ms")).sum.toLong, recs.map(field(_, "docs")).sum.toLong)
    }
    def stopAll(): Unit = {
      try Files.write(ctrl.resolve("stop"), Array.emptyByteArray,
        StandardOpenOption.CREATE)
      catch { case scala.util.control.NonFatal(_) => () }
      procs.foreach { p =>
        if (!p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly()
      }
    }
  }

  def runPaired(inputDir: String, outFile: java.nio.file.Path,
      pairs: Int, budgetS: Double, cleanCpuA: Double, cleanCpuB: Double): Unit = {
    val a = new Group("p1ex", Seq(WorkerSpec(8, "4g", 0, 1)), inputDir)
    val b = new Group("p4ex", (0 until 4).map(_ => WorkerSpec(8, "4g", 0, 1)), inputDir)
    val allPids = a.pids ++ b.pids
    def probe(): (Double, Double) = {
      val tb = graft.Bench.totalBusyJiffies(); val ob = graft.Bench.ownJiffies()
      val wb = allPids.map(pidJiffies).sum; val ib = graft.Bench.iowaitJiffies()
      Thread.sleep(2000)
      val ta = graft.Bench.totalBusyJiffies(); val oa = graft.Bench.ownJiffies()
      val wa = allPids.map(pidJiffies).sum; val ia = graft.Bench.iowaitJiffies()
      val ext = if (tb < 0 || ta < 0) Double.MaxValue
        else math.max(0.0, ((ta - tb) - (oa - ob) - (wa - wb)) / hz / 2.0)
      val iow = if (ib < 0 || ia < 0) Double.MaxValue
        else math.max(0.0, (ia - ib) / hz / 2.0)
      (ext, iow)
    }
    val t0 = System.nanoTime()
    var accepted = 0
    try {
      var p = 1
      while (accepted < pairs && (System.nanoTime() - t0) / 1e9 < budgetS) {
        a.waitReady(p); b.waitReady(p)
        // pre-pair gate: don't even burn a pair in a visibly loud window
        var gate = probe()
        while ((gate._1 >= 1.0 || gate._2 >= 1.0) &&
            (System.nanoTime() - t0) / 1e9 < budgetS) {
          Thread.sleep(8000)
          gate = probe()
        }
        val aFirst = p % 2 == 1
        val first = if (aFirst) a else b
        val second = if (aFirst) b else a
        val r1 = first.runPass(p)
        val r2 = second.runPass(p)
        val (ra, rb) = if (aFirst) (r1, r2) else (r2, r1)
        val eff = ra._1 / rb._1
        // accept only pairs whose own CPU proves BOTH sides ran clean
        val clean = ra._2 <= cleanCpuA && rb._2 <= cleanCpuB
        if (clean) accepted += 1
        // occupancy = task CPU / (cores × wall): how much of the wall was
        // actual compute. A CPU-clean pair with low occupancy was
        // descheduled by co-tenants (burns no jiffies) — the one
        // contention mode the CPU-floor criterion cannot catch (the r5
        // clean-pair eff spread correlates with occ_4ex at r = 0.73), so
        // the record carries the evidence for post-hoc attribution.
        val occA = ra._2 / (8.0 * ra._1)
        val occB = rb._2 / (32.0 * rb._1)
        val line = f"""{"pair":$p,"order":"${if (aFirst) "AB" else "BA"}",""" +
          f""""wall_1ex_s":${ra._1}%.3f,"wall_4ex_s":${rb._1}%.3f,""" +
          f""""cpu_1ex_s":${ra._2}%.2f,"cpu_4ex_s":${rb._2}%.2f,""" +
          f""""occ_1ex":$occA%.3f,"occ_4ex":$occB%.3f,""" +
          f""""gc_1ex_ms":${ra._3},"gc_4ex_ms":${rb._3},""" +
          f""""docs_1ex":${ra._4},"docs_4ex":${rb._4},""" +
          f""""pair_weak_eff":$eff%.4f,"clean":$clean,""" +
          f""""gate_ext_cores":${gate._1}%.2f,"gate_iowait_cores":${gate._2}%.2f}"""
        Files.write(outFile, (line + "\n").getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        System.err.println(line)
        p += 1
      }
    } finally {
      a.stopAll(); b.stopAll()
    }
    System.err.println(s"paired bench complete -> $outFile ($accepted clean pairs)")
  }

  /** The ONE definition of a worker JVM launch (both bench modes MUST run
    * identical JVM configs or paired comparisons are void). Xms pinned to
    * Xmx and -XX:+AlwaysPreTouch: lazy heap-page commit across several
    * concurrent JVMs is a measured 6-40x CPU storm on this VM
    * (TLB-shootdown/fault pileup, BENCH r5 cluster diagnosis).
    */
  private def launchWorker(w: WorkerSpec, id: Int, inputDir: String,
      ctrl: java.nio.file.Path): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin, s"-Xmx${w.heap}", s"-Xms${w.heap}", "-XX:+UseG1GC",
      "-XX:+AlwaysPreTouch",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++
      addOpens ++
      Seq("-cp", cp, "graft.tools.MultiJvmWorker",
        w.threads.toString, w.heap, inputDir,
        w.sliceK.toString, w.sliceM.toString, ctrl.toString, id.toString))
    new ProcessBuilder(cmd: _*)
      .redirectOutput(ctrl.resolve(s"worker_$id.out").toFile)
      .redirectError(ctrl.resolve(s"worker_$id.err").toFile)
      .start()
  }

  // the same JPMS opens spark needs on JDK 17 (mirrors build.sbt)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def runConfig(cfg: Config, inputDir: String, outFile: java.nio.file.Path,
      passes: Int, huntS: Double): Unit = {
    val ctrl = Files.createTempDirectory(s"graft_mj_${cfg.name}_")
    System.err.println(s"[${cfg.name}] launching ${cfg.workers.length} worker JVM(s)")
    val procs = cfg.workers.zipWithIndex.map { case (w, id) =>
      launchWorker(w, id, inputDir, ctrl)
    }
    val pids = procs.map(_.pid())
    try {
      var pass = 1
      while (pass <= passes) {
        // barrier: all workers warmed up / finished previous pass
        val deadline = System.nanoTime() + 900L * 1000000000L
        def allReady = cfg.workers.indices.forall(id =>
          Files.exists(ctrl.resolve(s"ready_${id}_$pass")))
        while (!allReady && System.nanoTime() < deadline) {
          if (procs.exists(!_.isAlive))
            sys.error(s"[${cfg.name}] worker died during warmup/pass ${pass - 1}; " +
              s"see ${ctrl}/worker_*.err")
          Thread.sleep(200)
        }
        if (!allReady) sys.error(s"[${cfg.name}] barrier timeout at pass $pass")

        // quiet hunt: 2 s probes of co-tenant busy cores and iowait, with
        // our own + worker jiffies subtracted (idle workers contribute ~0)
        def probe(): (Double, Double) = {
          val tb = graft.Bench.totalBusyJiffies(); val ob = graft.Bench.ownJiffies()
          val wb = pids.map(pidJiffies).sum; val ib = graft.Bench.iowaitJiffies()
          Thread.sleep(2000)
          val ta = graft.Bench.totalBusyJiffies(); val oa = graft.Bench.ownJiffies()
          val wa = pids.map(pidJiffies).sum; val ia = graft.Bench.iowaitJiffies()
          val ext = if (tb < 0 || ta < 0) Double.MaxValue
            else math.max(0.0, ((ta - tb) - (oa - ob) - (wa - wb)) / hz / 2.0)
          val iow = if (ib < 0 || ia < 0) Double.MaxValue
            else math.max(0.0, (ia - ib) / hz / 2.0)
          (ext, iow)
        }
        val huntT0 = System.nanoTime()
        var gate = probe()
        while ((gate._1 >= 1.0 || gate._2 >= 1.0) &&
            (System.nanoTime() - huntT0) / 1e9 < huntS) {
          Thread.sleep(5000)
          gate = probe()
        }

        // fire: snapshot → go → wait done → snapshot
        val tb = graft.Bench.totalBusyJiffies(); val ob = graft.Bench.ownJiffies()
        val wjb = pids.map(pidJiffies).sum; val iwb = graft.Bench.iowaitJiffies()
        Files.write(ctrl.resolve(s"go_$pass"), Array.emptyByteArray,
          StandardOpenOption.CREATE)
        def allDone = cfg.workers.indices.forall(id =>
          Files.exists(ctrl.resolve(s"done_${id}_$pass")))
        val passDeadline = System.nanoTime() + 900L * 1000000000L
        while (!allDone && System.nanoTime() < passDeadline) {
          if (procs.exists(!_.isAlive))
            sys.error(s"[${cfg.name}] worker died mid-pass $pass; see ${ctrl}/worker_*.err")
          Thread.sleep(100)
        }
        if (!allDone) sys.error(s"[${cfg.name}] pass $pass timeout")
        val ta = graft.Bench.totalBusyJiffies(); val oa = graft.Bench.ownJiffies()
        val wja = pids.map(pidJiffies).sum; val iwa = graft.Bench.iowaitJiffies()
        // -1 sentinels (unreadable /proc) must not masquerade as quiet
        val probesOk = tb >= 0 && ta >= 0 && ob >= 0 && oa >= 0 &&
          iwb >= 0 && iwa >= 0

        val recs = cfg.workers.indices.map { id =>
          readDoneRecord(ctrl.resolve(s"done_${id}_$pass"))
        }
        // cross-JVM wall: earliest epoch start → latest epoch end
        def field(rec: String, k: String): Double = {
          val m = (s""""$k":(-?[0-9.]+)""").r.findFirstMatchIn(rec)
          m.map(_.group(1).toDouble).getOrElse(Double.NaN)
        }
        val t0 = recs.map(field(_, "t0_ms")).min
        val t1 = recs.map(field(_, "t1_ms")).max
        val wallAgg = (t1 - t0) / 1000.0
        val docsTot = recs.map(field(_, "docs")).sum.toLong
        val bytesTot = recs.map(field(_, "bytes")).sum.toLong
        val cpuTot = recs.map(field(_, "cpu_s")).sum
        val gcTot = recs.map(field(_, "gc_ms")).sum.toLong
        val walls = recs.map(field(_, "wall_s"))
        val ext = if (!probesOk) -1.0
          else math.max(0.0, ((ta - tb) - (oa - ob) - (wja - wjb)) / hz / wallAgg)
        val iow = if (!probesOk) -1.0
          else math.max(0.0, (iwa - iwb) / hz / wallAgg)
        val quiet = probesOk && gate._1 < 1.0 && gate._2 < 1.0 &&
          ext >= 0 && ext < 1.0 && iow >= 0 && iow < 1.0
        val line = f"""{"config":"${cfg.name}","pass":$pass,""" +
          f""""jvms":${cfg.workers.length},"threads":${cfg.workers.head.threads},""" +
          f""""heap":"${cfg.workers.head.heap}","wall_agg_s":$wallAgg%.3f,""" +
          f""""worker_walls_s":${walls.map(w => f"$w%.3f").mkString("[", ",", "]")},""" +
          f""""docs":$docsTot,"bytes":$bytesTot,"cpu_s":$cpuTot%.2f,"gc_ms":$gcTot,""" +
          f""""docs_per_sec":${docsTot / wallAgg}%.0f,""" +
          f""""gate_ext_cores":${gate._1}%.2f,"gate_iowait_cores":${gate._2}%.2f,""" +
          f""""ext_busy_cores":$ext%.2f,"iowait_cores":$iow%.2f,"quiet":$quiet}"""
        Files.write(outFile, (line + "\n").getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        System.err.println(line)
        pass += 1
      }
    } finally {
      try Files.write(ctrl.resolve("stop"), Array.emptyByteArray,
        StandardOpenOption.CREATE)
      catch { case scala.util.control.NonFatal(_) => () }
      procs.foreach { p =>
        if (!p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly()
      }
    }
  }
}
