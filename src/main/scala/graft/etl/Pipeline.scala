package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.GraphOps

/** EP1 orchestration (SURVEY.md §3): CSV → staging → validate/quarantine →
  * normalized OLTP, re-enacting 02_ETL1_part1.sql → 04_ETL1_part3.sql over
  * the real mock CSVs (+ a DOPI-shaped CSV). Like the reference, which
  * writes every OLTP table before ETL2 reads it, each table is materialized
  * once at its boundary (A3/A12), so no later plan re-embeds its lineage.
  *
  * Preserved load-bearing semantics: duplicate-tolerant observation loads
  * (README.md:19 — no dedup on staging rows), manual corrections, SCD2
  * subs/affils, placeholder-January dates, priority affiliation resolution.
  */
object Pipeline {

  /** D8 static seeds (01_create_oltp.sql:130-150). */
  def subscriptionTypes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "Free"), (2L, "Pro"), (3L, "HiveMind"), (4L, "FieldScout"), (5L, "BeeWatch+"))
      .toDF("subscription_type_id", "type_name")
  }

  def pollinationQualities(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 1, "pollination confirmed"),
      (2L, 2, "pollination inferred"),
      (3L, 3, "pollination inferred from circumstantial evidence"),
      (4L, 4, "no pollination, the visitor is not a pollinator"))
      .toDF("pollination_quality_id", "quality_code", "description")
  }

  def seedInstitutions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, "Unaffiliated", Option.empty[Long]))
      .toDF("institution_id", "institution_name", "city_id")
  }

  /** Name prefix of the RDDs that hold [[runEtl1]]'s materialized tables. */
  private val BlockPrefix = "graft.etl1:"

  /** A10: drop all pinned staging frames (02_ETL1_part1.sql:81,
    * 04_ETL1_part3.sql:457-458) and the blocks of the tables [[runEtl1]]
    * materialized, which `clearCache` does not free — call after landing
    * the outputs. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filter(rdd => Option(rdd.name).exists(_.startsWith(BlockPrefix)))
      .foreach(_.unpersist(blocking = false))
  }

  /** The table boundary: runs `df` once through the `GraphOps.ckpt` seam and
    * names its blocks after the table, so [[cleanup]] can find them. */
  private def land(table: String, df: DataFrame): DataFrame = {
    val out = GraphOps.ckpt(df)
    out.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.setName(BlockPrefix + table)
      case _ =>
    }
    out
  }

  /** Run ETL1 end-to-end. Returns every OLTP table plus the quarantine
    * tables, keyed by reference table name.
    *
    * EAGER: every table is computed before this returns (Spark jobs run
    * here, not at the caller's first action), and each returned frame is a
    * lineage leaf over its materialized blocks. Call [[cleanup]] once the
    * outputs are landed.
    */
  def runEtl1(spark: SparkSession, institutionsCsv: String, usersCsv: String,
              observationsCsv: String): Map[String, DataFrame] = {

    // ---- part 1: institutions (02_ETL1_part1.sql) -------------------------
    val stgInst = Ingest.stageInstitutions(spark, institutionsCsv)
    val (instValid0, invalidInstitutions) =
      Validate.splitFirstMatch(stgInst, Validate.institutionRules)
    val instValid = instValid0.cache() // A3 staging materialization

    val countries1 = land("countries1", Normalize.buildDim(
      instValid.filter(col("country").isNotNull)
        .select(col("country").as("country_name")),
      "country_id", Seq("country_name")))

    val countyKey = Seq("county_name", "country_id")
    def countyRows(stg: DataFrame, countries: DataFrame): DataFrame =
      stg.join(countries, stg("country") === countries("country_name"))
        .filter(col("county").isNotNull)
        .select(col("county").as("county_name"), col("country_id"))

    val cityKey = Seq("city_name", "county_id")
    def cityRows(stg: DataFrame, counties: DataFrame): DataFrame =
      stg.join(counties, stg("county") === counties("county_name"))
        .filter(col("city").isNotNull)
        .select(col("city").as("city_name"), col("county_id"))

    // Cities are keyed (city_name, county_id) but staging rows carry only a
    // name; a name existing under two counties would fan out the join and
    // duplicate the already-deduped users/institutions. The reference's
    // DISTINCT ON collapses that fanout keeping an arbitrary city; we keep
    // the lowest city_id — same outcome whenever names are unique,
    // deterministic when they are not.
    def cityByName(cities: DataFrame): DataFrame =
      Normalize.keepFirst(cities, Seq(col("city_name")), Seq(col("city_id")))

    val counties1 = land("counties1",
      Normalize.buildDim(countyRows(instValid, countries1), "county_id", countyKey))
    val cities1 = land("cities1",
      Normalize.buildDim(cityRows(instValid, counties1), "city_id", cityKey))

    // upsertDim keys on (name, city); the reference keys on name alone:
    // keep the lowest id per name
    val institutions = land("institutions", Normalize.keepFirst(Normalize.upsertDim(
      seedInstitutions(spark),
      instValid.join(cityByName(cities1), instValid("city") === col("city_name"), "left")
        .filter(col("institution").isNotNull)
        .select(col("institution").as("institution_name"), col("city_id")),
      "institution_id", Seq("institution_name", "city_id")),
      Seq(col("institution_name")), Seq(col("institution_id"))))

    // ---- part 2: users + SCD2 (03_ETL1_part2.sql) -------------------------
    val stgUsers = Ingest.stageUsers(spark, usersCsv)
    val (usersValid0, invalidUsers) = Validate.splitFirstMatch(stgUsers, Validate.userRules)
    val usersValid = usersValid0.cache()

    // A6 idempotent countries upsert from the USERS staging too
    // (03_ETL1_part2.sql:77-84): without it the user-side geography chain
    // would depend on the institutions file having yielded valid rows
    val countries = land("countries", Normalize.upsertDim(countries1,
      usersValid.filter(col("country").isNotNull)
        .select(col("country").as("country_name")),
      "country_id", Seq("country_name")))
    val counties = land("counties",
      Normalize.upsertDim(counties1, countyRows(usersValid, countries), "county_id", countyKey))
    val cities = land("cities",
      Normalize.upsertDim(cities1, cityRows(usersValid, counties), "city_id", cityKey))

    // DISTINCT ON (username) ORDER BY username, join_date → earliest row
    // wins; email/city complete the tiebreak so two staging rows tied on
    // (join_date, full_name) cannot flip the surviving email between runs
    val users = land("users", Normalize.nameSplit(
      Normalize.keepFirst(usersValid, Seq(col("username")),
        Seq(col("join_date"), col("full_name"), col("email"), col("city"))))
      .join(cityByName(cities), usersValid("city") === col("city_name"), "left")
      .select(col("username"), col("email"), col("first_name_or_initials"),
        col("last_name"), col("city_id"),
        to_date(col("join_date"), "yyyy-MM-dd").as("join_date"))
      .withColumn("user_id",
        row_number().over(Window.orderBy(col("username"))).cast("long")))

    val subTypes = subscriptionTypes(spark)

    // SCD2 user_subscription (03_ETL1_part2.sql:136-188)
    val subVersions = Scd2.dedupVersions(
      usersValid
        .join(users.select(col("user_id"), col("username")), Seq("username"))
        .join(broadcast(subTypes), usersValid("subscription_type") === subTypes("type_name"))
        .select(col("user_id"), col("subscription_type_id"),
          to_date(col("subscription_start"), "yyyy-MM-dd").as("start_date")),
      Seq("user_id", "subscription_type_id", "start_date"))
    val userSubscription = land("user_subscription", Scd2.endDate(
      subVersions, "user_id", "start_date", Seq("subscription_type_id"))
      .withColumn("user_subscription_id",
        row_number().over(Window.orderBy(col("user_id"), col("start_date"),
          col("subscription_type_id"))).cast("long")))

    // SCD2 user_institution (03_ETL1_part2.sql:190-246)
    val affilVersions = Scd2.dedupVersions(
      usersValid
        .join(users.select(col("user_id"), col("username")), Seq("username"))
        .join(broadcast(institutions.select(col("institution_id"), col("institution_name"))),
          usersValid("institution") === col("institution_name"))
        .select(col("user_id"), col("institution_id"),
          to_date(col("affiliation_start"), "yyyy-MM-dd").as("start_date")),
      Seq("user_id", "institution_id", "start_date"))
    val userInstitution = land("user_institution", Scd2.endDate(
      affilVersions, "user_id", "start_date", Seq("institution_id"))
      .withColumn("user_institution_id",
        row_number().over(Window.orderBy(col("user_id"), col("start_date"),
          col("institution_id"))).cast("long")))

    // ---- part 3: observations (04_ETL1_part3.sql) -------------------------
    // A3: staging MATERIALIZATION, not just lineage — the quarantine split
    // fans the staging frame into one branch per rule, and every branch must
    // see the identical surrogate raw_data_id assignment (a recomputed
    // global window may tie-break differently per evaluation).
    val stgObs = Ingest.stageObservations(spark, observationsCsv).cache()
    val (obsValid0, invalidObservations) = Validate.validateObservations(stgObs)
    val obsValid = Observations.manualCodeFixes(obsValid0).cache()

    // One row per species_name, keeping the LOWEST nbn_code (nulls last)
    def speciesDedup(df: DataFrame): DataFrame =
      Normalize.keepFirst(df, Seq(col("species_name")), Seq(col("nbn_code").asc_nulls_last))

    val plantSpecies = land("plant_species", Normalize.buildDim(
      speciesDedup(obsValid.filter(col("plant_species").isNotNull)
        .select(upper(col("nbn_plant_code")).as("nbn_code"),
          Normalize.normalizedSpecies("plant_species").as("species_name"))),
      "plant_id", Seq("species_name", "nbn_code"))
      .select(col("plant_id"), col("nbn_code"), col("species_name")))

    val pollinatorSpecies = land("pollinator_species", Normalize.buildDim(
      speciesDedup(obsValid.filter(col("pollinator_species").isNotNull)
        .select(upper(col("nbn_pollinator_code")).as("nbn_code"),
          Normalize.normalizedSpecies("pollinator_species").as("species_name"))),
      "pollinator_id", Seq("species_name", "nbn_code"))
      .select(col("pollinator_id"), col("nbn_code"), col("species_name")))

    val castes = land("castes", Normalize.buildDim(
      obsValid.filter(col("caste").isNotNull)
        .select(trim(col("caste")).as("caste_name")),
      "caste_id", Seq("caste_name")))

    val pollinatorCaste = land("pollinator_caste", obsValid
      .filter(col("pollinator_species").isNotNull && col("caste").isNotNull)
      .join(pollinatorSpecies,
        lower(pollinatorSpecies("species_name")) === lower(col("pollinator_species")))
      .join(broadcast(castes), castes("caste_name") === trim(col("caste")))
      .select(col("pollinator_id"), col("caste_id")).distinct()
      .withColumn("pollinator_caste_id",
        row_number().over(Window.orderBy(col("pollinator_id"), col("caste_id"))).cast("long")))

    val locations = land("locations", Normalize.buildDim(
      obsValid.filter(col("latitude").isNotNull && col("longitude").isNotNull)
        .select(col("latitude").cast("decimal(9,6)").as("latitude"),
          col("longitude").cast("decimal(9,6)").as("longitude")),
      "location_id", Seq("latitude", "longitude")))

    val habitats = land("habitats", Normalize.buildDim(
      obsValid.filter(col("habitat").isNotNull)
        .select(initcap(trim(col("habitat"))).as("habitat_name")),
      "habitat_id", Seq("habitat_name")))

    val dated = Observations.assembleDate(Observations.dayClampFixes(obsValid))
    val withUsers = Observations.matchAuthors(dated, users)
    val resolved = Observations.resolveAffiliation(withUsers, userInstitution)
    val observations = land("observations", Observations.resolveForeignKeys(
      resolved, plantSpecies, pollinatorSpecies, castes, locations, habitats)
      .withColumn("observation_id", col("raw_data_id")))

    Map(
      "countries" -> countries,
      "counties" -> counties,
      "cities" -> cities,
      "institutions" -> institutions,
      "users" -> users,
      "subscription_types" -> subTypes,
      "user_subscription" -> userSubscription,
      "user_institution" -> userInstitution,
      "plant_species" -> plantSpecies,
      "pollinator_species" -> pollinatorSpecies,
      "castes" -> castes,
      "pollinator_caste" -> pollinatorCaste,
      "locations" -> locations,
      "habitats" -> habitats,
      "pollination_qualities" -> pollinationQualities(spark),
      "observations" -> observations,
      "invalid_stg_institutions" -> land("invalid_stg_institutions", invalidInstitutions),
      "invalid_stg_users" -> land("invalid_stg_users", invalidUsers),
      "invalid_stg_insect_observations" ->
        land("invalid_stg_insect_observations", invalidObservations))
  }
}
