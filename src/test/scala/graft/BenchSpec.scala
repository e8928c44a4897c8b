package graft

import java.util.concurrent.TimeoutException

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.sql.graftshim.ListenerShim

/** The bench harness: legs are attributed their own Spark jobs and CPU,
  * a failing leg is reported as failed, and the summary line keeps its
  * JSON keys. */
class BenchSpec extends SparkSpec {

  private def jobs(n: Int): Boolean = {
    (1 to n).foreach(_ => spark.sparkContext.parallelize(1 to 100, 2).map(_ * 2).count())
    true
  }

  private def withTimer[A](fixedRuns: Option[Int],
      drain: SparkContext => Unit = ListenerShim.drain(_))(f: LegTimer => A): A = {
    val timer = new LegTimer(spark, budgetSec = 1e6, fixedRuns, () => (), drain)
    try f(timer) finally spark.sparkContext.removeSparkListener(timer.work)
  }

  test("attribution: back-to-back legs each get exactly their own jobs") {
    withTimer(Some(3)) { timer =>
      val a = timer.time("leg_a", () => jobs(2))
      val b = timer.time("leg_b", () => jobs(5))
      assert(a.runs === 3 && b.runs === 3)
      // per timed run; the ungrouped warm-up is not counted
      assert(a.jobs === 2.0)
      assert(b.jobs === 5.0)
      assert(a.cpu >= 0.0 && b.cpu >= 0.0)
      assert(timer.work.jobsOf("leg_a") === 6)
      assert(spark.sparkContext.getLocalProperty(LegWork.GroupKey) === null)
    }
  }

  test("adaptive runs: a light leg gets one timed run") {
    withTimer(None) { timer =>
      val l = timer.time("light", () => jobs(1))
      assert(l.runs === 1 && l.jobs === 1.0 && l.min <= l.median)
    }
  }

  test("a failing leg reports -1 and is counted in n_failed") {
    withTimer(Some(3)) { timer =>
      val ok = timer.time("ok", () => jobs(1))
      var calls = 0
      // warm-up and first timed run succeed, the second timed run fails
      val bad = timer.time("bad", () => { calls += 1; calls < 3 })
      assert(bad.failed && bad.median === -1.0 && bad.jobs === -1.0 && bad.cpu === -1.0)
      val (full, summary) = Bench.artifact(Seq("ok" -> ok, "bad" -> bad),
        "/data/sf", budgetSec = 100, elapsedSec = 5, tierFinal = 0, outFile = "out.json")
      val m = new ObjectMapper()
      val s = m.readTree(summary)
      assert(s.get("n_queries").asInt === 2 && s.get("n_failed").asInt === 1)
      assert(s.get("value").asDouble === math.round(ok.median * 1000) / 1000.0)
      assert(m.readTree(full).get("queries").get("bad").asDouble === -1.0)
      assert(m.readTree(full).get("queries_jobs").get("ok").asDouble === 1.0)
    }
  }

  test("a listener bus that does not drain costs the leg its work figures, not its time") {
    withTimer(Some(3), _ => throw new TimeoutException("bus behind")) { timer =>
      val l = timer.time("slow_bus", () => jobs(1))
      assert(!l.failed && l.runs === 3 && l.min <= l.median)
      assert(l.cpu === -1.0 && l.jobs === -1.0)
      val (full, summary) = Bench.artifact(Seq("slow_bus" -> l), "/data/sf",
        budgetSec = 100, elapsedSec = 5, tierFinal = 0, outFile = "out.json")
      val m = new ObjectMapper()
      assert(m.readTree(summary).get("n_failed").asInt === 0)
      assert(m.readTree(full).get("queries").get("slow_bus").asDouble >= 0.0)
    }
  }

  test("the summary line and the full artifact keep their JSON keys") {
    val legs = (1 to 7).map(i => s"q$i" -> Leg(i.toDouble, i - 0.5, i, i + 1, 1, 0.25 * i, i))
    val (full, summary) = Bench.artifact(legs, "/data/sf0.1", 1500, 20.5, 1, "B.json")
    val m = new ObjectMapper()
    val s = m.readTree(summary)
    Seq("metric", "value", "unit", "queries", "sf", "n_queries", "n_failed", "full")
      .foreach(k => assert(s.has(k), k))
    assert(s.get("metric").asText === "total" && s.get("unit").asText === "sec")
    assert(s.get("value").asDouble === 28.0)
    assert(s.get("queries").size === 5 && s.get("queries").has("q7") && !s.get("queries").has("q2"))
    val f = m.readTree(full)
    Seq("queries", "queries_min", "queries_runs", "queries_span", "queries_cpu",
      "queries_jobs", "budget_sec", "elapsed_sec", "budget_exceeded", "tier_final")
      .foreach(k => assert(f.has(k), k))
    assert(f.get("queries").size === 7)
    assert(f.get("queries_span").get("q3").get(1).asDouble === 4.0)
    assert(f.get("queries_cpu").get("q2").asDouble === 0.5)
    assert(!f.get("budget_exceeded").asBoolean && f.get("tier_final").asInt === 1)
  }
}
