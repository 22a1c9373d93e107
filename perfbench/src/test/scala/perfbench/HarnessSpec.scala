package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, JobSucceeded}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Self-tests of the harness itself. The forked test JVM runs with a
  * German default locale (build.sbt), so number rendering is exercised
  * where a locale-sensitive formatter would write decimal commas.
  */
class HarnessSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def benchmarkJson =
    mapper.readTree(new java.io.File("../BENCHMARK.json"))

  test("the result line parses as JSON under a German default locale") {
    assert(java.util.Locale.getDefault.getLanguage == "de")
    assert(String.format("%.1f", Double.box(1.5)) == "1,5",
      "a locale-sensitive format would break the JSON here")
    val values = Seq(1.5, 1234567.891, 1e-7, 0.1, 42.0, 3.0e12)
    val line = Main.resultJson(correct = true, attempted = 6, failed = 0,
      values.zipWithIndex.map { case (v, i) => Metric(s"m$i", "ms", v) })
    val tree = mapper.readTree(line)
    assert(tree.get("correct").asBoolean() && tree.get("attempted").asInt() == 6)
    values.zipWithIndex.foreach { case (v, i) =>
      val m = tree.get("metrics").get(s"m$i")
      assert(m.get("value").asDouble() == v && m.get("unit").asText() == "ms")
    }
  }

  test("a job event with null properties is counted, not dropped") {
    val l = new WorkListener
    l.onJobStart(SparkListenerJobStart(7, 1000L, Seq.empty, null))
    l.onJobEnd(SparkListenerJobEnd(7, 1500L, JobSucceeded))
    assert(l.totals.jobs == 1)
    assert(l.jobRecords.size == 1)
    val j = l.jobRecords.head
    assert(j.span == -1L && j.label == "unlabeled" && j.endMs == 1500L)
  }

  test("a job is attributed to the benchmark span and split by engine phase label") {
    val l = new WorkListener
    def props(span: Option[Long], desc: Option[String]) = {
      val p = new java.util.Properties()
      span.foreach(s => p.setProperty(WorkListener.SpanProp, s.toString))
      desc.foreach(d => p.setProperty(WorkListener.DescProp, d))
      p
    }
    l.onJobStart(SparkListenerJobStart(1, 0L, Seq.empty, props(Some(3), Some("lake:write orders"))))
    l.onJobStart(SparkListenerJobStart(2, 0L, Seq.empty, props(Some(3), Some("mv:merge-reserves"))))
    l.onJobStart(SparkListenerJobStart(3, 0L, Seq.empty, props(None, Some("count at Foo.scala:1"))))
    assert(l.jobRecords.map(j => (j.span, j.label)) == Seq(
      (3L, "lake:write"), (3L, "mv:merge-reserves"), (-1L, "unlabeled")))
    assert(l.totals.jobs == 3)
  }

  test("self time subtracts the union of child spans; driver time the union of jobs") {
    val root = Span(1, 0, 0, "delivery", 0L, 100L)
    val kids = Seq(Span(2, 0, 1, "a", 10L, 40L), Span(3, 0, 1, "b", 30L, 60L),
      Span(4, 0, 1, "c", 80L, 90L))
    assert(Trace.selfNs(root +: kids)(1) == 100L - 60L)
    val stage = Span(5, 0, 0, "s", 0L, 10000000L)
    val jobs = Seq(JobRec(1, 5, "unlabeled", 2L, 4L, Work()),
      JobRec(2, 5, "unlabeled", 3L, 6L, Work()))
    assert(Trace.driverNs(stage, jobs) == 10000000L - 4000000L)
  }

  test("the tail is the order statistic with ten samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == ((100.0, 19.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((50.0, 10.0)))
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the harness prints exactly the metrics BENCHMARK.json names, with their units") {
    def named(key: String) = benchmarkJson.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    val r = Harness.Result(Seq(1L, 2L, 3L),
      Seq(Sample(5000000L, Work(jobs = 3, cpuNs = 1000000L), Some(OpOut(10, 10, 100)), None)),
      Seq("ok" -> true), heapBytes = 1L << 20, storedBytes = 300, userBytes = 100,
      phaseNs = Nil)
    assert(Harness.endToEnd(r)._1.map(m => m.name -> m.unit) == named("end_to_end"))
    assert(Layers.All == named("per_layer"))
    assert(Layers.All.map(_._1).distinct.size == Layers.All.size)
  }

  test("each workload's generator is a function of the seed") {
    assert(LakeMaintenance.generate(5) == LakeMaintenance.generate(5))
    assert(LakeMaintenance.generate(5) != LakeMaintenance.generate(6))
    assert(CorpusCuration.generate(5) == CorpusCuration.generate(5))
    val (a, b) = (new CoinBackfill.CoinGen(5), new CoinBackfill.CoinGen(5))
    assert(a.next("2025-01-01") == b.next("2025-01-01"))
  }
}
