package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import Main.{Check, Op, Outcome, Run}

/** The paper's stage 4 (the seven analytical reports of queries.Analytics)
  * plus the iterative graph query q_betweenness (queries.GraphOps), over
  * the seeded TPC-H-shaped tables of perfbench/gen.py.
  *
  * One client in a closed loop: a pass runs the seven reports in a
  * seed-shuffled order, then the graph query, each started when the
  * previous one has returned its rows. One warm-up pass is part of set-up;
  * then passes repeat until --seconds have been measured.
  */
object QueriesWorkload {

  val Reports = Seq("q_top_months_excl_jan", "q_top_location_months", "q_top_pairs",
    "q_habitat_rank", "q_quality_summary", "q_top_users", "q_top_monthly_unique")
  val Graph = Seq("q_betweenness")

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Reports) ++ Graph

  final case class Result(rows: Array[Row], schema: StructType) {
    def digest: String = rows.map(_.toString).sorted.mkString("\n").hashCode.toHexString
  }

  def execute(spark: SparkSession, dir: String, name: String): Result = {
    val df = SparkEntry.queries(name)(spark, dir)
    Result(df.collect(), df.schema)
  }

  def run(spark: SparkSession, run: Run, work: WorkListener, plans: PlanListener,
          tracer: Option[Tracer]): Outcome = {
    val dir = run.inputs.toString
    val names = order(run.seed)
    val digests = scala.collection.mutable.Map.empty[String, Set[String]]
    val last = scala.collection.mutable.Map.empty[String, Result]
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]

    def timed(name: String): Unit = {
      val t0 = System.nanoTime()
      val r = scala.util.Try(execute(spark, dir, name))
      ops += Op(name, (System.nanoTime() - t0) / 1e9, r.isSuccess)
      r.failed.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      r.foreach { res =>
        last(name) = res
        digests(name) = digests.getOrElse(name, Set.empty) + res.digest
      }
    }

    names.foreach(n => scala.util.Try(execute(spark, dir, n))) // warm-up pass
    val units = scala.collection.mutable.ArrayBuffer.empty[Double]
    def pass(body: => Unit): Unit = {
      val p0 = System.nanoTime()
      body
      units += (System.nanoTime() - p0) / 1e9
    }
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    tracer match {
      case None =>
        do pass(names.foreach(timed))
        while (System.nanoTime() - t0 < run.seconds * 1000000000L)
      case Some(t) =>
        pass(t.span("unit") {
          t.span("queries.analytics")(names.filter(Reports.contains).foreach(n =>
            t.span(s"queries.analytics.$n")(timed(n))))
          t.span("queries.graph")(names.filter(Graph.contains).foreach(n =>
            t.span(s"queries.graph.$n")(timed(n))))
        })
    }
    val to = System.currentTimeMillis()
    val rss = Main.peakRssMb()
    Main.drain(spark)

    // Oracle inputs for run.py: each query's last result as parquet.
    val resultDir = run.out.resolve("results")
    last.foreach { case (name, r) =>
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(resultDir.resolve(name).toString)
    }
    val oracle = names.map(n => n -> SparkEntry.oracleSql(n))
    val stateFile = run.state.resolve(s"digest-${run.seed}.txt")
    val now = names.map(n => s"$n=${digests.getOrElse(n, Set.empty).toSeq.sorted.mkString("|")}")
      .mkString("\n")
    val earlier = if (Files.exists(stateFile)) Some(Files.readString(stateFile)) else None
    if (earlier.isEmpty) {
      Files.createDirectories(run.state)
      Files.writeString(stateFile, now)
    }
    val unstable = digests.collect { case (n, d) if d.size > 1 => n }
    val checks = Seq(
      Check("all_queries_ran", names.forall(last.contains),
        s"missing: ${names.filterNot(last.contains).mkString(", ")}"),
      Check("digest_stable", unstable.isEmpty && earlier.forall(_ == now),
        if (unstable.nonEmpty) s"results differ between passes: ${unstable.mkString(", ")}"
        else if (earlier.exists(_ != now)) "results differ from an earlier run on these inputs"
        else "results identical across passes and runs on these inputs"))

    val layers = tracer.map(t => layerMetrics(t, work, plans)).getOrElse(Map.empty)
    Outcome(ops.toSeq, units.toSeq, from, to, inputRows(spark, dir), rss, checks, layers,
      oracle)
  }

  /** Rows of the tables the pass reads. */
  def inputRows(spark: SparkSession, dir: String): Long =
    Seq("customer", "supplier", "part", "orders", "lineitem", "nation")
      .map(t => graft.Tables.load(spark, dir, t).count()).sum

  def layerMetrics(t: Tracer, work: WorkListener, plans: PlanListener): Map[String, Double] = {
    def w(name: String) = { val (a, b) = t.wallMs(t.named(name)); work.window(a, b) }
    val (uFrom, uTo) = t.wallMs(t.named("unit"))
    val spans = Seq("unit", "queries.analytics", "queries.graph")
    spans.flatMap(s => Seq(s"$s.s" -> t.seconds(s), s"$s.self_s" -> t.selfSeconds(s))).toMap ++
      Reports.map(n => s"queries.analytics.$n.s" -> t.seconds(s"queries.analytics.$n")) ++
      Graph.flatMap { n =>
        val g = w(s"queries.graph.$n")
        Seq(s"queries.graph.$n.s" -> t.seconds(s"queries.graph.$n"),
          s"queries.graph.$n.jobs" -> g.jobs.toDouble,
          s"queries.graph.$n.cpu_s" -> g.cpuS,
          s"queries.graph.$n.driver_gap_s" -> g.driverGapMs / 1e3)
      } ++
      Main.workMetrics("spark", work.window(uFrom, uTo)) ++
      Map("spark.plan_s" -> plans.planMs(uFrom, uTo) / 1e3)
  }
}
