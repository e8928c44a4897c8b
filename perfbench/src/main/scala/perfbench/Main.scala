package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: start the session, run the workload's
  * measured unit (traced or not), check its outputs, and write
  * `result.json` (and `spans.jsonl` when traced) to the output directory
  * for perfbench/run.py to report.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inputs> <out> <state>
  *   inputs — the generated inputs (see perfbench/gen.py)
  *   out    — this run's output directory
  *   state  — directory kept across runs (output digests per seed)
  */
object Main {

  final case class Run(workload: String, seed: Long, seconds: Int, trace: Boolean,
                       inputs: Path, out: Path, state: Path)

  /** What a workload reports back: the measured operations, the wall time
    * of each measured unit and the measured interval, correctness checks,
    * (traced) per-layer metrics, and the oracle SQL of each query result
    * written to `results/` for run.py to compare. */
  final case class Outcome(ops: Seq[Op], units: Seq[Double], fromMs: Long, toMs: Long,
                           inputRows: Long, peakRssMb: Double,
                           checks: Seq[Check], layers: Map[String, Double],
                           oracle: Seq[(String, String)] = Nil)
  final case class Op(name: String, seconds: Double, ok: Boolean)
  final case class Check(name: String, ok: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, inputs, out, state) = args
    val run = Run(workload, seed.toLong, seconds.toInt, trace == "1",
      Paths.get(inputs), Paths.get(out), Paths.get(state))
    Files.createDirectories(run.out)
    val spark = session(run.out)
    val readyMs = System.currentTimeMillis()
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    val plans = new PlanListener
    if (run.trace) spark.listenerManager.register(plans)
    val tracer = if (run.trace) Some(new Tracer(s"${run.workload}-${run.seed}-$readyMs")) else None
    try {
      val outcome = run.workload match {
        case "etl_paper" => EtlWorkload.run(spark, run, work, plans, tracer)
        case "queries" => QueriesWorkload.run(spark, run, work, plans, tracer)
        case other => sys.error(s"unknown workload $other")
      }
      drain(spark)
      tracer.foreach(t => Files.writeString(run.out.resolve("spans.jsonl"), t.toJsonLines))
      val measured = work.window(outcome.fromMs, outcome.toMs)
      val lat = outcome.ops.map(_.seconds)
      val runS = Stats.median(outcome.units)
      val fields = Seq(
        "measure_from_ms" -> outcome.fromMs,
        "units" -> outcome.units,
        "attempted" -> outcome.ops.size,
        "metrics" -> Map(
          "run_s" -> runS,
          "rows_per_s" -> outcome.inputRows / runS,
          "query_s_p50" -> Stats.median(lat),
          "queries_per_s" -> outcome.ops.size / ((outcome.toMs - outcome.fromMs) / 1e3),
          "cpu_s" -> measured.cpuS / outcome.units.size,
          "peak_rss_mb" -> outcome.peakRssMb),
        "query_tail" -> Stats.tailPercentile(lat).map { case (p, v) => Map("p" -> p, "s" -> v) },
        "input_rows" -> outcome.inputRows,
        "ops" -> outcome.ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok)),
        "checks" -> outcome.checks.map(c =>
          Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
        "layers" -> outcome.layers,
        "oracle" -> outcome.oracle.map { case (n, sql) => Map("name" -> n, "sql" -> sql) })
      Files.writeString(run.out.resolve("result.json"), Json.obj(fields))
    } finally spark.stop()
  }

  /** The session as the program's own Bench and Verify mains build it. */
  def session(out: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)

  /** Peak resident set of this JVM so far (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Layer metrics of one listener window, under a prefix. */
  def workMetrics(prefix: String, w: WorkListener.Work): Map[String, Double] = Map(
    s"$prefix.jobs" -> w.jobs.toDouble,
    s"$prefix.stages" -> w.stages.toDouble,
    s"$prefix.tasks" -> w.tasks.toDouble,
    s"$prefix.driver_gap_s" -> w.driverGapMs / 1e3,
    s"$prefix.exec_run_s" -> w.runMs / 1e3,
    s"$prefix.exec_cpu_s" -> w.cpuS,
    s"$prefix.spill_mb" -> w.spillBytes / 1048576.0,
    s"$prefix.input_mb" -> w.inputBytes / 1048576.0,
    s"$prefix.shuffle_read_mb" -> w.shuffleReadBytes / 1048576.0,
    s"$prefix.shuffle_write_mb" -> w.shuffleWriteBytes / 1048576.0)
}

/** Minimal JSON writer for the run's result files. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}
