package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.FixtureGen
import graft.pipeline.Extract
import java.nio.charset.StandardCharsets
import scala.io.Source

/** The north-rule correctness gate: byte-identical extracted text per url
  * against the frozen goldens (BASELINE.json input_hint; the
  * `prl::compareImages == 1.0` analogue, utils.cpp:37-86). Covers all seven
  * fixture corpora incl. malformed HTML, mixed encodings, PDF-like layout.
  */
class GoldenSpec extends AnyFunSuite {

  private val corpora = Seq(
    "clean", "malformed", "encodings", "pdfish", "linkfarm", "artifacts", "edge")

  // regenerate the fixture corpus and index by url (per-row deterministic)
  private lazy val byUrl: Map[String, FixtureGen.Fixture] =
    FixtureGen.fixtures(500).map(f => f.page.url -> f).toMap

  private def goldenLines(corpus: String): Seq[Map[String, Any]] = {
    val in = getClass.getResourceAsStream(s"/golden/$corpus/golden.jsonl")
    assert(in != null, s"missing golden resource for $corpus")
    val src = Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(l => graft.table.Json.parse(l).asInstanceOf[Map[String, Any]]).toVector
    finally src.close()
  }

  corpora.foreach { corpus =>
    test(s"golden byte-identity: $corpus") {
      val lines = goldenLines(corpus)
      assert(lines.nonEmpty, s"no goldens for $corpus")
      var checked = 0
      lines.foreach { g =>
        val url = g("url").asInstanceOf[String]
        val expText = g("extracted_text").asInstanceOf[String]
        val expStatus = g("status").asInstanceOf[String]
        val fixture = byUrl(url)
        val doc = Extract(fixture.page)
        // byte identity, not String equality-with-normalization
        val gotBytes = doc.extracted_text.getBytes(StandardCharsets.UTF_8)
        val expBytes = expText.getBytes(StandardCharsets.UTF_8)
        assert(java.util.Arrays.equals(gotBytes, expBytes),
          s"$url: extracted text differs from golden")
        assert(doc.status == expStatus, s"$url: status ${doc.status} != $expStatus")
        // spans must match too
        val expSpans = g("spans").asInstanceOf[Vector[Any]].map { sp =>
          val m = sp.asInstanceOf[Map[String, Any]]
          (m("start").asInstanceOf[Long].toInt, m("end").asInstanceOf[Long].toInt)
        }
        assert(doc.spans.toSeq.map(s => (s.start, s.end)) == expSpans, s"$url: spans differ")
        checked += 1
      }
      info(s"$corpus: $checked documents byte-identical")
    }
  }

  test("golden corpus also matches the generator's own ground truth") {
    // double-entry bookkeeping: goldens were frozen FROM a state where
    // pipeline == ground truth; ensure that is still true
    byUrl.values.foreach { f =>
      val doc = Extract(f.page)
      assert(doc.extracted_text == f.expected, s"${f.page.url} (${f.corpus})")
    }
  }
}
