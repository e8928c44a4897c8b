package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Ingest, Observations, Pipeline, Validate}
import graft.olap.{Dims, Facts}
import Main.{Check, Op, Outcome, Run}

/** The paper's pipeline: EP1 (CSV → OLTP) then EP2 (OLTP → star schema and
  * the three facts) over the seeded DOPI-shaped inputs of perfbench/gen.py.
  *
  * The measured unit is one whole pipeline run in a fresh session: the
  * pipeline is a batch job, and every production run of it pays the
  * session's cold start, so no warm-up precedes it. Outputs are landed as
  * parquet, concurrently, as the program's Bench times its etl leg.
  */
object EtlWorkload {

  /** OLTP tables the EP2 builds read more than once (cached as in Bench). */
  val Hot = Seq("observations", "users", "user_institution", "user_subscription", "institutions")
  val Sinks = Seq("observations", "invalid_stg_insect_observations")

  /** runEtl1's tables by the module that produces them, in dependency
    * order: the traced run materializes them layer by layer. */
  val Layers: Seq[(String, Seq[String])] = Seq(
    "etl.validate" -> Seq("invalid_stg_institutions", "invalid_stg_users",
      "invalid_stg_insect_observations"),
    "etl.normalize" -> Seq("countries", "counties", "cities", "institutions", "users",
      "subscription_types", "plant_species", "pollinator_species", "castes",
      "pollinator_caste", "locations", "habitats", "pollination_qualities"),
    "etl.scd2" -> Seq("user_subscription", "user_institution"),
    "etl.observations" -> Seq("observations"))

  val FactFns: Seq[(String, (Map[String, DataFrame], Map[String, DataFrame]) => DataFrame)] = Seq(
    "pollination_activity" -> Facts.factPollinationActivity,
    "user_location_monthly" -> Facts.factUserLocationMonthly,
    "user_monthly_summary" -> Facts.factUserMonthlySummary)

  /** Quarantine rule names, keyed by the message Validate attaches. */
  val RuleNames: Map[String, String] =
    (Validate.obsMissingRule +: Validate.obsValidityRules).map(_.problem)
      .zip(Seq("missing_required", "bad_latlon", "bad_interactions", "bad_date",
        "bad_pollination", "bad_pollen_nectar")).toMap

  /** Tables whose surrogate id must be dense 1..N. */
  val DenseIds: Seq[(String, String)] = Seq(
    "countries" -> "country_id", "counties" -> "county_id", "cities" -> "city_id",
    "institutions" -> "institution_id", "users" -> "user_id",
    "plant_species" -> "plant_id", "pollinator_species" -> "pollinator_id",
    "castes" -> "caste_id", "pollinator_caste" -> "pollinator_caste_id",
    "locations" -> "location_id", "habitats" -> "habitat_id",
    "user_subscription" -> "user_subscription_id",
    "user_institution" -> "user_institution_id",
    "dim_plant" -> "plant_sk", "dim_pollinator" -> "pollinator_sk",
    "dim_caste" -> "caste_sk", "dim_habitat" -> "habitat_sk",
    "dim_location" -> "location_sk", "dim_user" -> "user_sk",
    "dim_subscription_type" -> "subscription_type_sk",
    "dim_institution" -> "institution_sk")

  val Grains: Map[String, Seq[String]] = Map(
    "fact_pollination_activity" ->
      Seq("pollinator_sk", "caste_sk", "plant_sk", "habitat_sk", "location_sk", "date_sk"),
    "fact_user_location_monthly" ->
      Seq("user_sk", "location_sk", "date_sk", "institution_sk", "subscription_type_sk"),
    "fact_user_monthly_summary" ->
      Seq("user_sk", "date_sk", "institution_sk", "subscription_type_sk"))

  final case class Inputs(institutions: String, users: String, observations: String,
                          manifest: JsonNode)

  def inputs(dir: Path): Inputs = Inputs(
    dir.resolve("institutions.csv").toString, dir.resolve("users.csv").toString,
    dir.resolve("observations").toString,
    new ObjectMapper().readTree(dir.resolve("manifest.json").toFile))

  def run(spark: SparkSession, run: Run, work: WorkListener, plans: PlanListener,
          tracer: Option[Tracer]): Outcome = {
    val in = inputs(run.inputs)
    val sinkDir = run.out.resolve("sinks")
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = scala.util.Try(tracer match {
      case None => unit(spark, in, sinkDir)
      case Some(t) => tracedUnit(spark, in, sinkDir, t)
    })
    val secs = (System.nanoTime() - t0) / 1e9
    val to = System.currentTimeMillis()
    val rss = Main.peakRssMb()
    result.failed.foreach(e => System.err.println(s"[perfbench] etl unit failed: $e"))
    Main.drain(spark)
    val layers = (tracer, result.toOption) match {
      case (Some(t), Some((oltp, _))) => layerMetrics(spark, in, oltp, t, work, plans)
      case _ => Map.empty[String, Double]
    }
    val checks = result.toOption
      .map { case (oltp, dims) => check(spark, in, oltp, dims, sinkDir, run, allTablesCached = run.trace) }
      .getOrElse(Seq(Check("unit", ok = false, result.failed.get.toString)))
    Pipeline.cleanup(spark)
    val ok = result.isSuccess && checks.forall(_.ok)
    Outcome(Seq(Op("etl_unit", secs, ok)), Seq(secs), from, to,
      in.manifest.get("staged_rows").asLong, rss, checks, layers)
  }

  /** One untraced unit: runEtl1, cache the hot OLTP tables, build the dims
    * and facts, and land the facts and sinks concurrently. */
  def unit(spark: SparkSession, in: Inputs, sinkDir: Path)
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val oltp = Pipeline.runEtl1(spark, in.institutions, in.users, in.observations)
    Hot.map(oltp).foreach(_.cache())
    val dims = Dims.build(oltp)
    val facts = Facts.build(oltp, dims)
    land(facts.toSeq ++ Sinks.map(n => n -> oltp(n)), sinkDir)
    (oltp, dims)
  }

  /** The same unit, one layer at a time: each layer's result is cached and
    * counted inside its span before the next layer runs. */
  def tracedUnit(spark: SparkSession, in: Inputs, sinkDir: Path, t: Tracer)
      : (Map[String, DataFrame], Map[String, DataFrame]) = t.span("unit") {
    val oltp = t.span("etl") {
      val oltp = t.span("etl.ingest") {
        Seq(Ingest.stageInstitutions(spark, in.institutions),
          Ingest.stageUsers(spark, in.users),
          Ingest.stageObservations(spark, in.observations)).foreach(_.count())
        Pipeline.runEtl1(spark, in.institutions, in.users, in.observations)
      }
      Layers.foreach { case (layer, tables) =>
        t.span(layer)(tables.foreach(n => oltp(n).cache().count()))
      }
      oltp
    }
    val dims = t.span("olap") {
      val dims = t.span("olap.dims") {
        val d = Dims.build(oltp)
        d.values.foreach(_.cache().count())
        d
      }
      FactFns.foreach { case (name, fn) =>
        t.span(s"olap.facts.$name")(land(Seq(s"fact_$name" -> fn(oltp, dims)), sinkDir))
      }
      dims
    }
    land(Sinks.map(n => n -> oltp(n)), sinkDir)
    (oltp, dims)
  }

  /** Write each frame to sinkDir/<name> as parquet, concurrently; wait for
    * all of them before surfacing the first failure. */
  def land(frames: Seq[(String, DataFrame)], sinkDir: Path): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = frames.map { case (name, df) =>
      Future(df.write.mode("overwrite").parquet(sinkDir.resolve(name).toString))
    }
    writes.flatMap(f => scala.util.Try(Await.result(f, Duration(10, "min"))).failed.toOption)
      .headOption.foreach(e => throw e)
  }

  /** Row count and order-independent digest (sum of a 64-bit hash of every
    * row) of a frame, as one row (name, rows, digest). */
  def digest(name: String, df: DataFrame): DataFrame =
    df.agg(lit(name).as("name"), count(lit(1)).as("rows"),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)"))
        .cast("string").as("digest"))

  /** The output checks, batched into a few actions (one per kind) so that
    * checking costs little next to the unit. Surrogate ids are checked on
    * the tables the unit left cached: the hot OLTP tables after an untraced
    * unit, every OLTP table and dimension after a traced one (recomputing
    * the others from lineage would cost a third of the unit). */
  def check(spark: SparkSession, in: Inputs, oltp: Map[String, DataFrame],
            dims: Map[String, DataFrame], sinkDir: Path, run: Run,
            allTablesCached: Boolean): Seq[Check] = {
    import scala.jdk.CollectionConverters._
    val m = in.manifest
    def read(name: String) = spark.read.parquet(sinkDir.resolve(name).toString)

    val planted = m.get("quarantine")
    val expectedRules = (RuleNames.values.toSeq ++ Seq("institution", "user"))
      .map(k => k -> planted.get(k).asLong).toMap
    val byRule = read("invalid_stg_insect_observations").groupBy("error_message").count()
      .unionAll(oltp("invalid_stg_institutions").agg(lit("institution"), count(lit(1))))
      .unionAll(oltp("invalid_stg_users").agg(lit("user"), count(lit(1))))
      .collect().map(r => RuleNames.getOrElse(r.getString(0), r.getString(0)) -> r.getLong(1))
      .filter(_._2 > 0).toMap
    val quarantine = Check("quarantine_per_rule", byRule == expectedRules.filter(_._2 > 0),
      s"got $byRule, planted $expectedRules")

    val dupIds = m.get("duplicate_pairs").elements().asScala
      .flatMap(_.elements().asScala.map(_.asLong)).toSeq
    val o = read("observations").agg(count(lit(1)),
      sum(when(col("observation_id").isin(dupIds: _*), 1).otherwise(0))).head()
    val expectedObs = m.get("observations").asLong
    val obsCount = Check("observation_count", o.getLong(0) == expectedObs,
      s"got ${o.getLong(0)}, expected $expectedObs")
    val dups = Check("duplicates_survive", o.getLong(1) == dupIds.size,
      s"${o.getLong(1)} of ${dupIds.size} duplicate rows present")

    val tables = oltp ++ dims
    val ids = DenseIds.filter { case (table, _) => allTablesCached || Hot.contains(table) }
    val sparse = ids.map { case (table, id) =>
      tables(table).select(lit(s"$table.$id").as("t"), col(id).cast("long").as("id"))
    }.reduce(_ unionAll _).groupBy("t")
      .agg(count(lit(1)), countDistinct(col("id")), min(col("id")), max(col("id")))
      .collect().collect {
        case r if !(r.getLong(2) == r.getLong(1) && r.getLong(3) == 1 && r.getLong(4) == r.getLong(1)) =>
          r.getString(0)
      }
    val denseCheck = Check("dense_surrogate_ids", sparse.isEmpty,
      if (sparse.isEmpty) s"${ids.size} id columns dense" else s"not dense: ${sparse.mkString(", ")}")

    val dupGrains = Grains.toSeq.map { case (fact, grain) =>
      read(fact).select(lit(fact).as("f"), to_json(struct(grain.map(col): _*)).as("key"))
    }.reduce(_ unionAll _).groupBy("f").agg(count(lit(1)), countDistinct(col("key")))
      .collect().collect {
        case r if r.getLong(1) != r.getLong(2) =>
          s"${r.getString(0)}: ${r.getLong(1)} rows, ${r.getLong(2)} grain keys"
      }
    val grainCheck = Check("fact_grain_unique", dupGrains.isEmpty, dupGrains.mkString("; "))

    val digests = (Grains.keys.toSeq ++ Sinks).sorted.map(n => digest(n, read(n)))
      .reduce(_ unionAll _).collect().map(r => s"${r.get(0)}=${r.get(1)}:${r.get(2)}")
      .sorted.mkString("\n")
    val digestFile = run.state.resolve(s"digest-${run.seed}.txt")
    val stable = if (Files.exists(digestFile)) {
      val before = Files.readString(digestFile)
      Check("digest_stable", before == digests,
        if (before == digests) "outputs identical to an earlier run on these inputs"
        else s"outputs differ from an earlier run on these inputs:\n$before\nvs\n$digests")
    } else {
      Files.createDirectories(run.state)
      Files.writeString(digestFile, digests)
      Check("digest_stable", ok = true, "first run on these inputs; digest recorded")
    }
    Seq(quarantine, obsCount, dups, denseCheck, grainCheck, stable)
  }

  /** Per-layer metrics of the traced unit: span times from the tracer,
    * work from the listeners, and row counts from the materialized
    * tables (counted after the unit, outside every span). */
  def layerMetrics(spark: SparkSession, in: Inputs, oltp: Map[String, DataFrame],
                   t: Tracer, work: WorkListener, plans: PlanListener): Map[String, Double] = {
    def w(name: String) = { val (a, b) = t.wallMs(t.named(name)); work.window(a, b) }
    def plan(name: String) = { val (a, b) = t.wallMs(t.named(name)); plans.planMs(a, b) / 1e3 }
    def n(table: String) = oltp(table).count().toDouble

    val stagedObs = in.manifest.get("staged_rows").asDouble
    val stagedUsers = Ingest.stageUsers(spark, in.users).count().toDouble
    val stagedInst = Ingest.stageInstitutions(spark, in.institutions).count().toDouble
    val quarantine = oltp("invalid_stg_insect_observations")
    val rules = quarantine.groupBy("error_message").count().collect()
      .map(r => RuleNames.getOrElse(r.getString(0), r.getString(0)) -> r.getLong(1).toDouble).toMap
    val quarantinedRows = quarantine.select("raw_data_id").distinct().count().toDouble
    val invalidUsers = n("invalid_stg_users")

    val validObs = Observations.manualCodeFixes(
      Validate.validateObservations(Ingest.stageObservations(spark, in.observations))._1)
    val withUsers = Observations.matchAuthors(
      Observations.assembleDate(Observations.dayClampFixes(validObs)), oltp("users"))
    val authorPairs = withUsers.count().toDouble
    val candidates = withUsers.join(
      oltp("user_institution").select(col("user_id").as("ui_user_id")),
      col("user_id") === col("ui_user_id")).count().toDouble
    val rowsOut = n("observations")

    val spans = Seq("unit", "etl", "etl.ingest", "etl.validate", "etl.normalize",
      "etl.scd2", "etl.observations", "olap", "olap.dims") ++
      FactFns.map(f => s"olap.facts.${f._1}")
    val times = spans.map(s => s"$s.s" -> t.seconds(s)) ++
      Seq("unit", "etl", "olap").map(s => s"$s.self_s" -> t.selfSeconds(s))
    val (uFrom, uTo) = t.wallMs(t.named("unit"))
    val factPlan = FactFns.map(f => plan(s"olap.facts.${f._1}")).sum
    times.toMap ++ Main.workMetrics("spark", work.window(uFrom, uTo)) ++ Map(
      "spark.plan_s" -> plans.planMs(uFrom, uTo) / 1e3,
      "etl.ingest.jobs" -> w("etl.ingest").jobs.toDouble,
      "etl.ingest.rows_out" -> (stagedObs + stagedUsers + stagedInst),
      "etl.validate.jobs" -> w("etl.validate").jobs.toDouble,
      "etl.validate.valid_ratio" -> (stagedObs - quarantinedRows) / stagedObs,
      "etl.validate.rule.institution" -> n("invalid_stg_institutions"),
      "etl.validate.rule.user" -> invalidUsers,
      "etl.normalize.single_task_stages" -> w("etl.normalize").singleTaskStages.toDouble,
      "etl.scd2.versions_in" -> 2 * (stagedUsers - invalidUsers),
      "etl.scd2.versions_out" -> (n("user_subscription") + n("user_institution")),
      "etl.observations.cpu_s" -> w("etl.observations").cpuS,
      "etl.observations.author_pairs" -> authorPairs,
      "etl.observations.affil_candidates" -> candidates,
      "etl.observations.rows_out" -> rowsOut,
      "etl.observations.keep_ratio" -> rowsOut / candidates,
      "olap.dims.plan_s" -> plan("olap.dims"),
      "olap.facts.plan_s" -> factPlan) ++
      RuleNames.values.map(r => s"etl.validate.rule.$r" -> rules.getOrElse(r, 0.0))
  }
}
