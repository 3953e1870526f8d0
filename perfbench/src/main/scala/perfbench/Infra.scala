package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Progress lines go to stderr: stdout carries only the result line. */
object Log {
  def info(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")
}

object Stats {
  /** Median with the mean of the two middle values for even counts. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Nearest-rank quantile, q in (0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }
}

/** One finished task as the listener saw it. */
final case class TaskRec(stageId: Int, runNs: Long, cpuNs: Long, durationMs: Long,
    gcMs: Long, shuffleBytes: Long)

/** Everything the listener saw between two [[SparkMeter.reset]] calls. */
final case class Window(tasks: Seq[TaskRec], jobs: Int, lastJobEndMs: Long) {
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def runS: Double = tasks.map(_.runNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def shuffleMb: Double = tasks.map(_.shuffleBytes).sum / 1e6
  /** Scheduler/deserialization overhead: task duration not spent running. */
  def schedS: Double = math.max(0.0, tasks.map(_.durationMs).sum / 1e3 - runS)
  /** max / median task run time within the stage that ran the most tasks. */
  def taskSkew: Double = {
    if (tasks.isEmpty) return 1.0
    val big = tasks.groupBy(_.stageId).values.maxBy(_.length).map(_.runNs.toDouble)
    val med = Stats.median(big)
    if (med <= 0) 1.0 else big.max / med
  }
}

/** Task, job and shuffle accounting from the listener bus. */
final class SparkMeter extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private var jobsStarted = 0
  private var jobsEnded = 0
  private var lastJobEndMs = 0L

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      val sh = m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      tasks += TaskRec(t.stageId, m.executorRunTime * 1000000L, m.executorCpuTime,
        t.taskInfo.duration, m.jvmGCTime, sh)
    }
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobsStarted += 1 }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    lastJobEndMs = j.time
  }

  def reset(): Unit = synchronized {
    tasks.clear(); jobsStarted = 0; jobsEnded = 0; lastJobEndMs = 0L
  }

  /** Wait until every started job's end event has been delivered (task-end
    * events precede their job's end on the bus), then return the window.
    */
  def settle(): Window = {
    var waited = 0
    while (synchronized(jobsEnded < jobsStarted) && waited < 5000) {
      Thread.sleep(5); waited += 5
    }
    Thread.sleep(5)
    synchronized(Window(tasks.toVector, jobsEnded, lastJobEndMs))
  }
}

/** Peak heap in use right after a collection, from the GC notifications
  * (resident size says nothing here: the heap is committed up front).
  */
object HeapMeter {
  @volatile private var peakBytes = 0L
  @volatile private var events = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private lazy val installed: Boolean = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == "com.sun.management.gc.notification") {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
          if (after > peakBytes) peakBytes = after
          events += 1
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
    true
  }

  def reset(): Unit = { installed; peakBytes = 0L }

  /** Run a full collection and return the peak since [[reset]], once the
    * collection's own notification has arrived.
    */
  def collectPeakMb(): Double = {
    val seen = events
    System.gc()
    var waited = 0
    while (events == seen && waited < 1000) { Thread.sleep(2); waited += 2 }
    peakBytes / 1e6
  }
}

object Sessions {
  /** A fresh local session with `slots` task slots, configured exactly as
    * the engine's own bench configures it.
    */
  def start(slots: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = graft.Bench.session(slots.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Per-pass meters on one session: the engine bench's CPU meter and
  * contention record, plus the harness's own listener.
  */
final class PassMeters(spark: SparkSession) {
  private val cpu = new graft.Bench.CpuMeter
  private val listener = new SparkMeter
  spark.sparkContext.addSparkListener(cpu)
  spark.sparkContext.addSparkListener(listener)

  /** Time a workload pass. */
  def pass(body: => PassOut): Pass = {
    val (out, p) = timed(body)
    p.copy(out = out)
  }

  /** Time any body; returns its value with the pass record. */
  def timed[A](body: => A): (A, Pass) = {
    listener.reset()
    var out: Option[A] = None
    var wall = 0.0
    val rec = graft.Bench.recordPass(cpu) {
      val t0 = System.nanoTime()
      out = Some(body)
      wall = (System.nanoTime() - t0) / 1e9
    }
    (out.get, Pass(PassOut("", 0, ok = true), wall, listener.settle(), rec))
  }
}
