package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the harness name the same metrics with the same
  * units, in the same order. */
class MetricsSpec extends AnyFunSuite {

  private lazy val spec = new ObjectMapper().readTree(new File("BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.toSeq.map(m =>
      m.get("name").asText() -> m.get("unit").asText())

  test("end-to-end metrics match BENCHMARK.json") {
    assert(listed("end_to_end") == Metrics.endToEnd)
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(listed("per_layer") == Metrics.perLayer)
  }

  test("workloads match BENCHMARK.json") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText())
      .toSeq == Workloads.names)
  }

  test("names and units are well formed and unique") {
    val all = Metrics.endToEnd ++ Metrics.perLayer
    assert(all.map(_._1).distinct.size == all.size)
    all.foreach { case (n, u) =>
      assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n)
      assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), u)
    }
    assert(Metrics.endToEnd.contains("setup_s" -> "s"))
  }

  test("every end-to-end metric is bounded, lower-is-better unless a rate") {
    spec.get("end_to_end").elements().asScala.foreach { m =>
      val bound = m.get("bound").asDouble()
      assert(bound > 0 && bound <= 0.25, m.get("name").asText())
      val better = m.get("better").asText()
      assert(better == (if (m.get("unit").asText() == "1/s") "higher" else "lower"))
    }
  }

  test("the tail is the highest percentile with ten samples above it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val Some((p, v)) = Stats.tail((1 to 50).map(_.toDouble))
    assert(p == 80 && v == 40.0)
    val Some((p2, v2)) = Stats.tail((1 to 11).map(_.toDouble))
    assert(p2 == 9 && v2 == 1.0)
  }

  test("self time and dwell subtract the union of the covered intervals") {
    // [0,10] with children [1,3], [2,5] and [8,12]: covered 1..5 and 8..10
    assert(Tracer.unionMs(Seq((1.0, 3.0), (2.0, 5.0), (8.0, 12.0)), 0, 10) == 6.0)
    val job = JobRec(0, 2, 4, "noop at X.scala:1", 1, 1, 0, 0, 0, 0, 0, 0, 0)
    assert(Tracer.dwellMs(Seq(job, job.copy(startMs = 3, endMs = 6)), 0, 10) == 6.0)
  }

  test("net CPU scales thread plus executor CPU by the unstolen share") {
    val a = CpuMark(100, Some((10L, 1000L)))
    val b = CpuMark(400, Some((260L, 2000L)))
    assert(b.stealShareSince(a) == 0.25)
    assert(b.netCpuMsSince(a, execMs = 500) == 600.0)
    // no host counters (not Linux): no correction
    assert(CpuMark(400, None).netCpuMsSince(a, 500) == 800.0)
    val op = OpRec(0, 1, 0, 1, Nil, ok = true, traced = false, driverCpuMs = 80,
      stealShare = 0.5)
    assert(op.netCpuMs == 40.0)
  }

  test("the median interpolates between the two middle samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }
}
