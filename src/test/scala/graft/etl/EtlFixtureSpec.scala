package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bench-scale fixture (EtlFixture) through EP1+EP2 at a small size:
  * proves the generated inputs actually exercise the pipeline (valid rows,
  * every quarantine class, duplicates, SCD2 versions) so the bench's
  * etl_pipeline number measures real work, not an empty or degenerate run.
  */
class EtlFixtureSpec extends SparkSpec {

  private val nObs = 1000

  /** EP2 frames materialized once, exactly as in EtlPipelineSpec (suite
    * wall-clock, VERDICT r15 #1): the grain-uniqueness assertions below
    * fire several actions each. runEtl1 lands the OLTP tables itself. */
  private def mat(tables: Map[String, DataFrame]) =
    tables.map { case (k, df) => k -> df.localCheckpoint() }
  private lazy val oltp: Map[String, DataFrame] = {
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix"), nObs)
    Pipeline.runEtl1(spark, paths.institutions, paths.users, paths.observationsDir)
  }
  private lazy val dims = mat(graft.olap.Dims.build(oltp))
  private lazy val facts = mat(graft.olap.Facts.build(oltp, dims))

  test("staging keeps full duplicates: 1000 rows + every 100th twice") {
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix2"), nObs)
    val stg = Ingest.stageObservations(spark, paths.observationsDir)
    assert(stg.count() === nObs + nObs / 100)
    assert(stg.select("raw_data_id").distinct().count() === nObs + nObs / 100)
  }

  test("users load: one user per generated identity, none quarantined") {
    assert(oltp("users").count() === 50) // max(50, 1000/50)
    assert(oltp("invalid_stg_users").count() === 0)
    // multi-version users produce >1 SCD2 subscription interval
    val versions = oltp("user_subscription").groupBy("user_id").count()
    assert(versions.filter(col("count") > 1).count() > 0)
  }

  test("observations split: valid rows land, every quarantine class fires") {
    assert(oltp("observations").count() > 0)
    val q = oltp("invalid_stg_insect_observations")
    val messages = q.select("error_message").distinct()
      .collect().map(_.getString(0)).toSet
    assert(messages.contains("Missing required plant species, pollinator species, or author"))
    assert(messages.contains("Invalid latitude or longitude"))
    assert(messages.contains("Invalid interaction count"))
  }

  test("EP2 over the fixture: dims populated, fact grains unique") {
    assert(dims("dim_user").count() === 50)
    assert(dims("dim_date").count() > 0)
    val fpa = facts("fact_pollination_activity")
    assert(fpa.count() > 0)
    assert(fpa.count() === fpa.dropDuplicates("pollinator_sk", "caste_sk", "plant_sk",
      "habitat_sk", "location_sk", "date_sk").count())
    val fums = facts("fact_user_monthly_summary")
    assert(fums.count() > 0)
    assert(fums.count() === fums.dropDuplicates("user_sk", "date_sk",
      "institution_sk", "subscription_type_sk").count())
  }

  test("EP2 over the fixture: every surrogate key is its OLTP id") {
    assert(EtlPipelineSpec.surrogateKeyMismatches(oltp, dims).isEmpty)
  }

  // Declared LAST: cleanup releases every runEtl1 table in the session,
  // this suite's shared `oltp` included.
  test("cleanup releases every block runEtl1 materialized") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val paths = EtlFixture.write(Files.createTempDirectory("graft-etlfix3"), 200)
    val tables = Pipeline.runEtl1(spark, paths.institutions, paths.users, paths.observationsDir)
    val landed = tables.values.flatMap(_.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id
    }).toSet
    assert(landed.size === 17) // the 19 tables less the two static seeds
    assert(landed.subsetOf(sc.getPersistentRDDs.keySet))
    Pipeline.cleanup(spark)
    val after = sc.getPersistentRDDs.keySet
    assert((after intersect landed).isEmpty)
    assert((after -- before).isEmpty)
  }
}
