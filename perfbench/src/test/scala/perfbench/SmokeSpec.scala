package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The smoke scale (sf0.001-sized inputs, one set-up, one pass) of every
  * workload, untraced and traced: outputs check out, and each run reports
  * exactly the metrics BENCHMARK.json declares.
  */
class SmokeSpec extends AnyFunSuite {

  private val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new File("../BENCHMARK.json"))
  private def names(section: String): Seq[String] =
    manifest.get(section).elements().asScala.map(_.get("name").asText).toSeq

  private val work = new File("target/smoke-work").getAbsolutePath

  private def smoke(workload: String, trace: Boolean): Outcome =
    Harness.run(Opts(workload, seed = 7, seconds = 0.1, trace = trace, smoke = true,
      work = work, traceOut = Some(s"target/traces/smoke-$workload.jsonl")))

  test("the manifest lists the workloads the harness runs") {
    assert(manifest.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Harness.Workloads)
  }

  for (w <- Harness.Workloads) {
    test(s"$w: untraced smoke run is correct and reports every end-to-end metric") {
      val out = smoke(w, trace = false)
      assert(out.correct, out.json)
      assert(out.metrics.map(_._1) == names("end_to_end"))
      assert(out.metrics.forall(_._2 > 0), out.json)
    }

    test(s"$w: traced smoke run reports every per-layer metric") {
      val out = smoke(w, trace = true)
      assert(out.correct, out.json)
      assert(out.metrics.map(_._1) == names("per_layer"))
      val m = out.metrics.map(x => x._1 -> x._2).toMap
      assert(m("spark.jobs") > 0 && m("scale.items_per_s_1core") > 0)
      val phases = Seq("utf8", "tokenize", "dom", "select", "pdf", "merge", "other")
        .map(p => m(s"kernel.${p}_ns")).sum
      assert(math.abs(phases - m("kernel.extract_ns")) <= 1e-6 * math.max(1.0, m("kernel.extract_ns")))
      w match {
        case "crawl_pages" =>
          assert(m("kernel.extract_ns") > 0 && m("runner.resume_jobs") > 0 && m("extract.out_files") > 0)
        case _ =>
          assert(m("dedup.planted_recall") == 1.0 && m("dedup.candidates") >= m("dedup.pairs"))
          assert(PerLayer.Queries.forall(q => m(s"query.${q}_jobs") > 0))
      }
    }
  }

  test("a wrong golden count fails the run") {
    assert(Check.wrongAgainst(Seq("u1" -> "a", "u2" -> "x", "u3" -> "c"),
      Map("u1" -> "a", "u2" -> "b", "u4" -> "d")) == 3)
  }
}
