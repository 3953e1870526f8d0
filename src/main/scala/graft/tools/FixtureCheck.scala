package graft.tools

import graft.fixtures.FixtureGen
import graft.pipeline.Extract
import graft.table.Json
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dev harness: run the extraction pipeline over N fixtures, diff against
  * ground truth, report per-corpus accuracy. With `write <dir>` it freezes
  * goldens as newline-delimited JSON (FIXTURES.md §3) — run ONLY when the
  * spec changes deliberately.
  *
  * Usage:  runMain graft.tools.FixtureCheck check 500
  *         runMain graft.tools.FixtureCheck write 500 src/test/resources/golden
  */
object FixtureCheck {

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "check"
    val n = if (args.length > 1) args(1).toInt else 500
    // optional: check a non-default classifier kind against ground truth
    // (e.g. `check 500 - fbcitb`); "-" keeps the default output dir slot
    val kind = if (args.length > 3) args(3) else "sauvola"
    // kind may carry suffixes: ":naive" (banded smoothing off), ":deskew"
    // (findAngle + rotate(−angle) wrapper-collapse stage on)
    var kindName = kind
    val naive = kindName.contains(":naive")
    val deskew = kindName.contains(":deskew")
    kindName = kindName.split(':').head
    require(mode != "write" || (kindName == "sauvola" && !naive && !deskew),
      "write mode freezes the DEFAULT-pipeline goldens; refusing a non-default kind")
    val kindGiven = args.length > 3
    // mode "adv" checks the adversarial corpora; "fbsect"/"cocoedge"/
    // "overwrap" the region-classifier / deskew ground-truth corpora (pass
    // the matching kind); any threshold-rule corpus name (nibhi/nickdim/
    // wolfglob/fengpoly/kuwedge/meanc/otsubi/mokedge/gausstail/medspike)
    // or "colflow" runs that corpus under its OWN verified config when no
    // explicit kind is passed (r4)
    val ruleEntry = FixtureGen.ruleCorpora.find(_._1 == mode)
    val fixtures = mode match {
      case "adv" => FixtureGen.adversarial(n)
      case "fbsect" => FixtureGen.fbsect(n)
      case "cocoedge" => FixtureGen.cocoedge(n)
      case "overwrap" => FixtureGen.overwrap(n)
      case "colflow" => FixtureGen.colflow(n)
      case _ if ruleEntry.isDefined => ruleEntry.get._2(n)
      case _ => FixtureGen.fixtures(n)
    }
    val cfg =
      if (!kindGiven && ruleEntry.isDefined)
        Extract.Config(classifier = ruleEntry.get._3)
      else if (!kindGiven && mode == "colflow")
        Extract.Config(rotate = 90, rotateCols = 3)
      else Extract.Config(
        // kind-by-name goes through kindConfig so per-kind reference
        // defaults (nick's negative k) apply on EVERY entry point, not just
        // the pipeline queries (ADVICE r4)
        classifier = graft.classify.Classifiers.kindConfig(kindName)
          .copy(morphIters = if (naive) 0 else 2),
        deskew = deskew)
    var pass = 0
    val failByCorpus = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val totalByCorpus = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val examples = scala.collection.mutable.ArrayBuffer.empty[String]
    val lines = scala.collection.mutable.ArrayBuffer.empty[(String, String)] // (corpus, jsonLine)

    fixtures.foreach { f =>
      val doc = Extract(f.page, cfg)
      totalByCorpus(f.corpus) += 1
      val ok = doc.extracted_text == f.expected
      if (ok) pass += 1
      else {
        failByCorpus(f.corpus) += 1
        if (examples.length < 6) {
          val got = doc.extracted_text
          val exp = f.expected
          // first differing line
          val gl = got.split('\n'); val el = exp.split('\n')
          var d = 0
          while (d < math.min(gl.length, el.length) && gl(d) == el(d)) d += 1
          examples += s"""URL ${f.page.url} corpus=${f.corpus} status=${doc.status}
  blocks=${doc.stats.nBlocks} kept=${doc.stats.nKept} expLines=${el.length} gotLines=${gl.length} firstDiff=$d
  EXP[$d]: ${el.lift(d).getOrElse("<none>").take(120)}
  GOT[$d]: ${gl.lift(d).getOrElse("<none>").take(120)}"""
        }
      }
      if (mode == "write") {
        val spansJson = doc.spans.map(s => s"""{"start":${s.start},"end":${s.end}}""").mkString("[", ",", "]")
        lines += ((f.corpus,
          s"""{"url":${Json.quote(f.page.url)},"extracted_text":${Json.quote(doc.extracted_text)},"spans":$spansJson,"status":"${doc.status}"}"""))
      }
    }
    println(s"PASS $pass/${fixtures.length}")
    totalByCorpus.toSeq.sortBy(_._1).foreach { case (c, t) =>
      println(f"  $c%-12s ${t - failByCorpus(c)}%4d/$t%-4d")
    }
    examples.foreach(e => println("--------\n" + e))

    if (mode == "write") {
      if (pass != fixtures.length) {
        System.err.println("REFUSING to write goldens with failures present")
        sys.exit(1)
      }
      val outDir = if (args.length > 2) args(2) else "src/test/resources/golden"
      lines.groupBy(_._1).foreach { case (corpus, ls) =>
        val dir = Paths.get(outDir, corpus)
        Files.createDirectories(dir)
        Files.write(dir.resolve("golden.jsonl"),
          ls.map(_._2).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
      println(s"wrote goldens for ${lines.groupBy(_._1).size} corpora to $outDir")
    }
  }
}
