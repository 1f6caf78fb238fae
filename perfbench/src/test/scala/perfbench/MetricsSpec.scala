package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  test("percentiles are nearest-rank and a tail needs ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.median(xs) == 50.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.tailAllowed(100, 90))
    assert(!Stats.tailAllowed(99, 90))
    assert(!Stats.tailAllowed(20, 90))
  }

  test("the job-interval union merges overlaps and keeps gaps") {
    val iv = Seq((5.0, 7.0), (0.0, 2.0), (1.0, 3.0), (7.0, 8.0), (4.0, 4.0))
    assert(Stats.union(iv) == Seq((0.0, 3.0), (5.0, 8.0)))
    assert(Stats.covered(iv) == 6.0)
    assert(Stats.coveredWithin(iv, 1.0, 6.0) == 3.0)
  }

  test("idle time is the wall time no busy interval covers") {
    // construction 0-2, a planning phase inside it, jobs 3-5 and 4-6
    val busy = Seq((0.0, 2.0), (1.0, 1.5), (3.0, 5.0), (4.0, 6.0))
    assert(Stats.idle(0.0, 10.0, busy) == 5.0)
    assert(Stats.idle(2.0, 3.0, busy) == 1.0)
  }

  /** pass 0-100 ms; a call 10-90 with a job (grouped) 20-60 holding a
    * stage 25-55 and a phase 12-18; a job from another thread 70-80.
    */
  private val data = TraceData(
    spans = List(Span(2, 1, "exec", "call", 10, 90), Span(1, 0, "bench", "pass 1", 0, 100)),
    jobs = List(JobRec(7, Some("perfbench-2"), 20, 60, Seq(3)),
      JobRec(8, Some("stream-run"), 70, 80, Seq(4))),
    stages = List(StageRec(3, 25, 55, 4, 100, 10, 1 << 20, 0, 0, 0),
      StageRec(4, 71, 79, 1, 5, 0, 0, 2 << 20, 0, 0)),
    phases = List(PhaseRec(1, "analysis", 12, 18)))

  test("the span tree hangs jobs, stages and phases under their call") {
    val root = data.tree(1)
    val Seq(call) = root.children
    assert(call.children.map(_.kind).sorted == Seq("analysis", "job", "job"))
    assert(call.children.find(_.name == "job 7").get.children.map(_.name) == Seq("stage 3"))
  }

  test("self times add up to the pass wall time and roll up per layer") {
    val m = Metrics.ofPass(data, data.tree(1))
    assert(m("trace.wall_s") == 0.1)
    assert(math.abs(m("trace.self_sum_ratio") - 1.0) < 1e-12)
    assert(m("self.bench_s") == 0.02)
    assert(m("self.catalyst_s") == 0.006)
    // call self 80 - 6 - 40 - 10 = 24, jobs 40 - 30 + 10 - 8, stages 30 + 8
    assert(math.abs(m("self.exec_s") - 0.074) < 1e-12)
    assert(m("exec.jobs") == 2.0 && m("exec.stages") == 2.0 && m("exec.tasks") == 5.0)
    assert(m("exec.job_s") == 0.05)
    assert(m("exec.input_mb") == 1.0 && m("exec.output_mb") == 2.0)
    assert(m("exec.idle_s") == 0.044)
    assert(m("catalyst.analysis_s") == 0.006 && m("catalyst.plans") == 1.0)
  }

  test("printed metric names and units agree with BENCHMARK.json") {
    val json = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String) = json.get(key).elements.asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
    assert(json.get("workloads").elements.asScala.map(_.get("name").asText)
      .forall(Main.Workloads.contains))
  }
}
