package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.boundary.Boundary
import graft.classify.Classifiers
import graft.clean.Artifacts
import graft.core._
import graft.detect.{Deskew, Quality}
import graft.html.{ByteTokenizer, Decode, HtmlTokenizer}
import graft.pipeline.Extract

/** Per-doc spans around the public calls `Extract.apply`'s default
  * composition makes, recorded by the harness (the engine is not changed).
  * Spans of one doc share its id; a doc's root span covers the whole
  * recomposed extraction and every stage span is its direct child.
  */
object Spans {
  val Root = 0
  val names: IndexedSeq[String] = IndexedSeq(
    "doc", "decode.utf8_plan", "html.prescan", "html.byte_tok", "html.decode",
    "detect.garbage", "html.str_tok", "detect.angle", "classify", "clean",
    "boundary.find", "boundary.apply", "pipeline.assemble", "detect.quality")
  private val ix = names.zipWithIndex.toMap
  def id(name: String): Int = ix(name)

  // per-doc header: bytes, decoded chars, blocks, flags
  val ByteTok = 1L
  val Decoded = 2L
  val Quarantined = 4L
  val Finished = 8L
}

/** Records one doc's spans into a flat buffer: header then
  * (stage, start, end) triples, times relative to the doc's start.
  */
final class DocTrace {
  private val buf = new ArrayBuffer[Long](64)
  private var t0 = 0L
  var bytes = 0L
  var chars = 0L
  var blocks = 0L
  var flags = 0L

  def begin(): Unit = { buf.clear(); bytes = 0; chars = 0; blocks = 0; flags = 0; t0 = System.nanoTime() }

  @inline def span[A](stage: Int)(body: => A): A = {
    val s = System.nanoTime()
    val r = body
    buf += stage; buf += s - t0; buf += System.nanoTime() - t0
    r
  }

  def end(): Array[Long] = {
    val e = System.nanoTime() - t0
    (Array(bytes, chars, blocks, flags, Spans.Root.toLong, 0L, e) ++ buf).toArray
  }
}

object Recompose {
  private val cfg = Extract.Default

  private def quarantine(url: String, status: String, htmlBytes: Long, decodedChars: Int,
      charset: String, garbage: Double): ExtractedDoc =
    ExtractedDoc(url, "", Array.empty, status,
      DocStats(0, 0, htmlBytes, decodedChars, charset, truncated = false,
        qualityScore = 0.0, garbageRatio = garbage))

  /** `Extract.apply(row, Extract.Default)` rebuilt from public calls, with a
    * span around each. The traced run checks it against `Extract.apply` on
    * every doc; if the engine's composition changes, this must follow.
    */
  def apply(url: String, html: Array[Byte], t: DocTrace): ExtractedDoc = {
    import Spans.id
    val bytes = if (html == null) Array.emptyByteArray else html
    t.bytes = bytes.length
    if (bytes.isEmpty) {
      t.flags |= Spans.Quarantined
      return quarantine(url, Status.EmptyHtml, 0, 0, "empty", 0.0)
    }
    val plan = t.span(id("decode.utf8_plan"))(Decode.utf8Plan(bytes))
    if (plan != null) {
      val ps = t.span(id("html.prescan"))(ByteTokenizer.prescan(bytes, plan.offset))
      if (ps.valid && ps.utf16Len <= cfg.caps.maxChars) {
        t.chars = ps.utf16Len
        val garbage = if (ps.utf16Len == 0) 0.0 else ps.garbage.toDouble / ps.utf16Len
        if (garbage > cfg.maxGarbageRatio) {
          t.flags |= Spans.Quarantined
          return quarantine(url, Status.Garbage, bytes.length, ps.utf16Len, plan.label, garbage)
        }
        t.flags |= Spans.ByteTok
        val tok = t.span(id("html.byte_tok"))(ByteTokenizer(bytes, plan.offset, cfg.caps))
        if (tok.blocks.isEmpty) {
          t.flags |= Spans.Quarantined
          return quarantine(url, Status.NoBlocks, bytes.length, ps.utf16Len, plan.label, garbage)
        }
        return finish(url, tok, bytes.length, ps.utf16Len, plan.label, garbage, t)
      }
    }
    t.flags |= Spans.Decoded
    val dec = t.span(id("html.decode"))(Decode(bytes))
    t.chars = dec.text.length
    val garbage = t.span(id("detect.garbage"))(Quality.garbageRatio(dec.text))
    if (garbage > cfg.maxGarbageRatio) {
      t.flags |= Spans.Quarantined
      return quarantine(url, Status.Garbage, bytes.length, dec.text.length, dec.charset, garbage)
    }
    val tok = t.span(id("html.str_tok"))(HtmlTokenizer(dec.text, cfg.caps))
    if (tok.blocks.isEmpty) {
      t.flags |= Spans.Quarantined
      return quarantine(url, Status.NoBlocks, bytes.length, dec.text.length, dec.charset, garbage)
    }
    finish(url, tok, bytes.length, dec.text.length, dec.charset, garbage, t)
  }

  /** The default config's tail: no rotate, no deskew, no auto profile,
    * contour boundary crop.
    */
  private def finish(url: String, tok: HtmlTokenizer.Result, htmlByteLen: Int,
      decodedChars: Int, charset: String, garbage: Double, t: DocTrace): ExtractedDoc = {
    import Spans.id
    val blocks = tok.blocks
    t.blocks = blocks.length
    t.flags |= Spans.Finished
    val angle = t.span(id("detect.angle"))(Deskew.findAngle(blocks))
    var labels = t.span(id("classify"))(Classifiers.classify(blocks, cfg.classifier))
    labels = t.span(id("clean"))(Artifacts.all(blocks, labels))
    val region = t.span(id("boundary.find"))(Boundary.find(blocks, labels))
    labels = t.span(id("boundary.apply"))(Boundary(labels, region))
    val (text, spans) =
      t.span(id("pipeline.assemble"))(Extract.assemble(blocks, labels, cfg.blockSeparator))
    val quality = t.span(id("detect.quality"))(Quality.parseability(decodedChars, blocks))
    ExtractedDoc(url, text, spans, Status.Ok,
      DocStats(angle = angle, nBlocks = blocks.length, nKept = labels.count(identity),
        htmlBytes = htmlByteLen.toLong, decodedChars = decodedChars, charset = charset,
        truncated = tok.truncated, qualityScore = quality, garbageRatio = garbage))
  }

  /** Every field of a doc, hashed: two docs hash alike iff identical. */
  def hash(d: ExtractedDoc): String = {
    val s = d.stats
    val key = Seq(d.url, d.extracted_text, d.spans.map(x => s"${x.start}-${x.end}").mkString(","),
      d.status, s.nBlocks, s.nKept, s.htmlBytes, s.decodedChars, s.charset, s.truncated,
      java.lang.Double.doubleToLongBits(s.qualityScore),
      java.lang.Double.doubleToLongBits(s.garbageRatio), s.angle).mkString("\u001f")
    MessageDigest.getInstance("MD5").digest(key.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }
}

/** The traced run: per-layer numbers for one workload. Every section
  * records its own passes; `failed` counts failed passes and docs whose
  * recomposition differs from `Extract.apply`.
  */
object Trace {

  def run(o: Opts, wl: ExtractWorkload, spark: SparkSession): Result = {
    import spark.implicits._
    val m = ArrayBuffer.empty[Metric]
    var attempted = 0
    var failed = 0
    def tally(ps: Seq[Pass]): Unit = { attempted += ps.length; failed += ps.count(!_.out.ok) }
    def check(cs: Seq[CheckResult]): Unit = {
      attempted += cs.length; failed += cs.count(!_.ok)
      cs.filterNot(_.ok).foreach(c => Log.info(s"CHECK FAILED ${c.name}: ${c.detail}"))
    }
    val cache = o.work.resolve("cache")
    val corpus = wl.corpus
    val meters = new PassMeters(spark)

    def runPasses(s: SparkSession, pm: PassMeters, k: Int) = (1 to k).map(_ => pm.pass(wl.pass(s)))

    // --- Spark layer: untraced passes of the workload itself, after the
    // warm set-up cycles
    val passes = runPasses(spark, meters, 4)
    tally(passes)
    def med(f: Pass => Double) = Stats.median(passes.map(f))
    m += Metric("spark.tasks", med(_.window.tasks.length), "count")
    m += Metric("spark.cpu_util", med(p => p.window.cpuS / (p.wallS * o.slots)), "ratio")
    m += Metric("spark.task_skew", med(_.window.taskSkew), "ratio")
    m += Metric("spark.gc_s", med(_.window.gcS), "s")
    m += Metric("spark.shuffle_mb", med(_.window.shuffleMb), "MB")
    m += Metric("spark.sched_s", med(_.window.schedS), "s")
    m += Metric("spark.jobs", med(_.window.jobs), "count")

    val scanCpuS = Stats.median((1 to 3).map { _ =>
      meters.timed(spark.read.parquet(corpus.path)
        .agg(count(col("url")), sum(octet_length(col("html")))).collect())._2.window.cpuS
    })
    m += Metric("spark.scan_cpu_s", scanCpuS, "s")

    val rows = spark.read.parquet(corpus.path).select(col("url"), col("html"))
      .as[(String, Array[Byte])]
    // the workload's own pass shape (read → per-row extraction → the
    // ExtractedDoc encoder → count/sum aggregate) with `f` as the
    // extraction; checks its doc and byte counts and returns its CPU
    def shapedPassCpuS(f: Iterator[(String, Array[Byte])] => Iterator[ExtractedDoc]): Double = {
      val (r, p) = meters.timed(rows.mapPartitions(f)
        .agg(count(lit(1)), sum(col("stats.htmlBytes")), sum(octet_length(col("extracted_text"))))
        .collect()(0))
      attempted += 1
      if (r.getLong(0) != corpus.docs || r.getLong(1) != corpus.htmlBytes) failed += 1
      p.window.cpuS
    }

    // --- residual: shaped passes that time each doc's Extract.apply in
    // thread CPU. Pass CPU minus the scan and that extraction CPU is what
    // is left: row decode, the encoder and the aggregate.
    val extractCpuNs = spark.sparkContext.longAccumulator("extract_cpu_ns")
    val residuals = (1 to 3).map { _ =>
      extractCpuNs.reset()
      val cpuS = shapedPassCpuS { it =>
        val bean = java.lang.management.ManagementFactory.getThreadMXBean
        it.map { case (url, html) =>
          val c0 = bean.getCurrentThreadCpuTime
          val d = Extract(PageRow(url, null, html, null, null))
          extractCpuNs.add(bean.getCurrentThreadCpuTime - c0)
          d
        }
      }
      Log.info(f"residual pass: task CPU $cpuS%.3f s, Extract.apply CPU " +
        f"${extractCpuNs.value / 1e9}%.3f s, scan CPU $scanCpuS%.3f s")
      cpuS - scanCpuS - extractCpuNs.value / 1e9
    }
    m += Metric("spark.residual_cpu_s", Stats.median(residuals), "s")
    // cross-check, logged only: shaped passes that look each doc's output
    // up (extracted beforehand) instead of computing it, so their CPU minus
    // the scan is row decode + encoder + aggregate with no extraction
    // subtracted
    val outputs = spark.sparkContext.broadcast(
      rows.map { case (url, html) => Extract(PageRow(url, null, html, null, null)) }
        .collect().map(d => d.url -> d).toMap)
    val replays = (1 to 3).map { _ =>
      shapedPassCpuS { it =>
        val docs = outputs.value
        it.map { case (url, _) => docs(url) }
      } - scanCpuS
    }
    outputs.destroy()
    Log.info("residual: in-pass " + residuals.map(x => f"$x%.3f").mkString(" ") +
      "; replay pass CPU - scan CPU " + replays.map(x => f"$x%.3f").mkString(" "))

    // --- direct Extract.apply, then the traced recomposition, same pass shape
    def directPass() =
      meters.timed(rows.mapPartitions { it =>
        it.map { case (url, html) =>
          val t0 = System.nanoTime()
          val d = Extract(PageRow(url, null, html, null, null))
          val ns = System.nanoTime() - t0
          (url, Recompose.hash(d), ns)
        }
      }.collect())
    def tracedPass() =
      meters.timed(rows.mapPartitions { it =>
        val t = new DocTrace
        it.map { case (url, html) =>
          t.begin()
          val d = Recompose(url, html, t)
          val spans = t.end()
          (url, Recompose.hash(d), spans)
        }
      }.collect())
    // alternate the two; the first pair is warm-up, the last pair gives the
    // spans, and CPU is the median over the measured pairs
    val pairs = (1 to 3).map(_ => (directPass(), tracedPass())).drop(1)
    val direct = pairs.last._1._1
    val traced = pairs.last._2._1
    val directCpuS = Stats.median(pairs.map(_._1._2.window.cpuS))
    val tracedCpuS = Stats.median(pairs.map(_._2._2.window.cpuS))
    val directHash = direct.map(d => d._1 -> d._2).toMap
    val matched = traced.count(t => directHash.get(t._1).contains(t._2))
    val docs = traced.length.toDouble
    attempted += traced.length
    failed += traced.length - matched
    if (matched != traced.length)
      Log.info(s"recomposition differs from Extract.apply on ${traced.length - matched} docs")

    // --- span aggregation
    val stageNs = new Array[Double](Spans.names.length)
    var bytesAll, bytesTok, bytesDec, charsDec, blocksFin = 0.0
    var docsTok, docsFin, docsQ, docsNonEmpty, blocksAll = 0.0
    traced.foreach { case (_, _, a) =>
      val (bytes, chars, blocks, flags) = (a(0).toDouble, a(1).toDouble, a(2).toDouble, a(3))
      var i = 4
      while (i < a.length) { stageNs(a(i).toInt) += a(i + 2) - a(i + 1); i += 3 }
      blocksAll += blocks
      if (bytes > 0) { docsNonEmpty += 1; bytesAll += bytes }
      if ((flags & Spans.ByteTok) != 0) { docsTok += 1; bytesTok += bytes }
      if ((flags & Spans.Decoded) != 0) { bytesDec += bytes; charsDec += chars }
      if ((flags & Spans.Finished) != 0) { docsFin += 1; blocksFin += blocks }
      if ((flags & Spans.Quarantined) != 0) docsQ += 1
    }
    def ns(names: String*) = names.map(x => stageNs(Spans.id(x))).sum
    def per(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val docNs = stageNs(Spans.Root)
    val directNs = direct.map(_._3).sum.toDouble
    m += Metric("html.byte_path_ratio", per(docsTok, docsNonEmpty), "ratio")
    m += Metric("html.decode_ns_per_byte", per(ns("html.decode"), bytesDec), "ns/B")
    m += Metric("html.str_tok_ns_per_char", per(ns("html.str_tok"), charsDec), "ns/char")
    m += Metric("html.prescan_ns_per_byte",
      per(ns("decode.utf8_plan", "html.prescan"), bytesAll), "ns/B")
    m += Metric("html.byte_tok_ns_per_byte", per(ns("html.byte_tok"), bytesTok), "ns/B")
    m += Metric("html.blocks_per_doc", per(blocksAll, docs), "count")
    m += Metric("detect.ns_per_doc",
      per(ns("detect.garbage", "detect.angle", "detect.quality"), docs), "ns")
    m += Metric("classify.ns_per_block", per(ns("classify"), blocksFin), "ns")
    m += Metric("clean.ns_per_block", per(ns("clean"), blocksFin), "ns")
    m += Metric("boundary.ns_per_block", per(ns("boundary.find", "boundary.apply"), blocksFin), "ns")
    m += Metric("pipeline.assemble_ns_per_doc", per(ns("pipeline.assemble"), docsFin), "ns")
    m += Metric("pipeline.extract_ns_per_doc", per(directNs, docs), "ns")
    m += Metric("pipeline.trace_coverage", per(docNs, directNs), "ratio")
    m += Metric("pipeline.quarantine_ratio", per(docsQ, docs), "ratio")
    m += Metric("pipeline.recompose_match", per(matched, docs), "ratio")
    m += Metric("trace.overhead_ratio", per(tracedCpuS, directCpuS), "ratio")
    writeSpans(o, traced)

    // --- table layer: the resume flow over the resume corpus, after its
    // output checks
    val resume = new ResumeFlow(o.seed)
    resume.prepare(spark, cache)
    resume.open(spark)
    check(resume.checks(spark))
    Log.info("resume flow checked")
    val commits = (1 to 2).map { _ =>
      val doneS = resume.doneUrlSet(spark)._1
      val p = meters.pass(resume.pass(spark))
      val (bytes, files) = resume.lastRunSize
      resume.afterPass()
      (p, doneS, (resume.appendReturnMs - p.window.lastJobEndMs) / 1e3,
        bytes.toDouble / p.out.units, files.toDouble)
    }
    tally(commits.map(_._1))
    m += Metric("table.done_urls_s", Stats.median(commits.map(_._2)), "s")
    m += Metric("table.commit_s", Stats.median(commits.map(_._3)), "s")
    m += Metric("table.bytes_per_doc", Stats.median(commits.map(_._4)), "B")
    m += Metric("table.files", Stats.median(commits.map(_._5)), "count")

    // --- query layer: seeded rounds of the headline queries
    val q = new QuerySuite(o.seed, QueryData.materialize(spark, cache))
    q.warm(spark)
    val execs = (1 to 2 * QuerySuite.headline.length).map { _ =>
      val p = meters.pass(q.next(spark))
      (p, q.planS, q.execS, q.exchanges)
    }
    tally(execs.map(_._1))
    val byQ = execs.groupBy(_._1.out.label).values.toSeq
    m += Metric("queries.plan_s", byQ.map(e => Stats.median(e.map(_._2))).sum, "s")
    m += Metric("queries.exec_s", byQ.map(e => Stats.median(e.map(_._3))).sum, "s")
    m += Metric("queries.exchanges", byQ.map(_.head._4).sum.toDouble, "count")
    m += Metric("queries.p90_s", Stats.quantile(execs.map(_._1.wallS), 0.9), "s")
    QuerySuite.headline.foreach { name =>
      val e = execs.filter(_._1.out.label == name)
      m += Metric(s"queries.${name}_s", Stats.median(e.map(_._1.wallS)), "s")
    }

    Log.info("query rounds done")
    // --- fixtures: generating this workload's corpus, in memory
    val g0 = System.nanoTime()
    wl.gen(spark).count()
    m += Metric("fixtures.gen_s", (System.nanoTime() - g0) / 1e9, "s")

    // --- scaling: passes at full and then half the slots, after checking
    // that the output digest does not depend on the slot count
    wl.open(spark)
    val fullPasses = runPasses(spark, meters, 3)
    tally(fullPasses)
    val fullRate = Level(o.slots, fullPasses, Nil).workPerS
    val half = math.max(1, o.slots / 2)
    val fullDigest = Check.digest(Check.flat(graft.spark.ExtractJob.extract(Corpus.pages(spark, corpus))))
    Sessions.stop(spark)
    val halfSpark = Sessions.start(half)
    val halfMeters = new PassMeters(halfSpark)
    wl.open(halfSpark)
    val halfDigest =
      Check.digest(Check.flat(graft.spark.ExtractJob.extract(Corpus.pages(halfSpark, corpus))))
    attempted += 1
    if (halfDigest != fullDigest) {
      failed += 1
      Log.info(s"digest local[${o.slots}] $fullDigest != local[$half] $halfDigest")
    }
    wl.pass(halfSpark)
    val halfPasses = runPasses(halfSpark, halfMeters, 3)
    tally(halfPasses)
    m += Metric("spark.scaling_eff",
      fullRate / (o.slots.toDouble / half * Level(half, halfPasses, Nil).workPerS), "ratio")
    Sessions.stop(halfSpark)
    Log.info("traced run done")

    Result(attempted, failed, m.toSeq)
  }

  /** All spans as TSV: doc, span, parent, stage, start_ns, end_ns. */
  private def writeSpans(o: Opts, traced: Array[(String, String, Array[Long])]): Unit = {
    val dir = o.work.resolve("traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${o.workload}_seed${o.seed}.spans.tsv")
    val w = Files.newBufferedWriter(f, StandardCharsets.UTF_8)
    try {
      w.write("doc\tspan\tparent\tstage\tstart_ns\tend_ns\n")
      traced.zipWithIndex.foreach { case ((_, _, a), doc) =>
        var i = 4; var s = 0
        while (i < a.length) {
          val parent = if (s == 0) "" else "0"
          w.write(s"$doc\t$s\t$parent\t${Spans.names(a(i).toInt)}\t${a(i + 1)}\t${a(i + 2)}\n")
          i += 3; s += 1
        }
      }
    } finally w.close()
    Log.info(s"spans written to $f")
  }
}
