package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EP2 part 2 (08_ETL2_part2.sql): the three fact builds. The reference's
  * `ON CONFLICT … DO UPDATE` (A7) is a keyed upsert whose EXCLUDED values
  * are full recomputes — on Spark the equivalent is recomputing the whole
  * aggregate at its declared grain and overwriting (SURVEY.md §4), which is
  * what these functions produce. All measures use map-side partial
  * aggregation; grains shuffle once on their key columns.
  */
object Facts {

  /** fact_pollination_activity (08_ETL2_part2.sql:5-66): 6-dim grain with
    * conditional counts. Caste/habitat joins are LEFT (nullable dims, C9
    * null-guarded conditions reduce to plain equality — null keys never
    * match); date joins on the computed (year, month) key.
    */
  def factPollinationActivity(oltp: Map[String, DataFrame],
                              dims: Map[String, DataFrame]): DataFrame = {
    val ob = oltp("observations")
      .filter(col("observation_date").isNotNull && col("location_id").isNotNull)
    ob
      .join(dims("dim_pollinator"), col("pollinator_id_bk") === col("pollinator_id"))
      .join(broadcast(dims("dim_caste")), col("caste_id_bk") === col("caste_id"), "left")
      .join(dims("dim_plant"), col("plant_id_bk") === col("plant_id"))
      .join(broadcast(dims("dim_habitat")), col("habitat_id_bk") === col("habitat_id"), "left")
      .join(dims("dim_location"), col("location_id_bk") === col("location_id"))
      .join(broadcast(dims("dim_date")),
        col("year") === year(col("observation_date")) &&
          col("month") === month(col("observation_date")))
      .join(broadcast(oltp("pollination_qualities")), Seq("pollination_quality_id"), "left")
      .groupBy(col("pollinator_sk"), col("caste_sk"), col("plant_sk"),
        col("habitat_sk"), col("location_sk"), col("date_sk"))
      .agg(
        coalesce(sum(col("interaction_count")), lit(0)).as("interaction_count"),
        count(lit(1)).as("observation_count"),
        coalesce(sum(when(col("pollen_collected"), 1).otherwise(0)), lit(0)).as("pollen_collected"),
        coalesce(sum(when(col("nectar_collected"), 1).otherwise(0)), lit(0)).as("nectar_collected"),
        coalesce(sum(when(col("quality_code").isNotNull && col("quality_code") =!= 4, 1)
          .otherwise(0)), lit(0)).as("confirmed_pollination_count"))
  }

  /** Shared observation→(user, institution, subscription) resolution for the
    * two user facts (08_ETL2_part2.sql:88-109, 150-169): as-of subscription
    * lookup over SCD2 intervals with earliest (= join_date) fallback, C5/C6.
    * SCD2 guarantees non-overlapping intervals, so each left join matches at
    * most once — no fanout.
    */
  private def userResolved(oltp: Map[String, DataFrame],
                           dims: Map[String, DataFrame]): DataFrame = {
    val ob = oltp("observations")
      .filter(col("observation_date").isNotNull && col("location_id").isNotNull)
    val subActive = dims("dim_subscription_type").select(
      col("user_id_bk").as("sa_user"), col("start_date").as("sa_start"),
      col("end_date").as("sa_end"), col("subscription_type_sk").as("sa_sk"))
    // one row per (user, start): two subscription versions sharing a
    // start_date (a degenerate but loadable staging shape) would BOTH
    // match the se_start = join_date fallback and double every downstream
    // measure — keep the lowest surrogate deterministically
    val subEarliest = graft.etl.Normalize.keepFirst(
      dims("dim_subscription_type").select(
        col("user_id_bk").as("se_user"), col("start_date").as("se_start"),
        col("subscription_type_sk").as("se_sk")),
      Seq(col("se_user"), col("se_start")), Seq(col("se_sk")))
    ob
      .join(oltp("user_institution").select(col("user_institution_id"),
        col("user_id"), col("institution_id"), col("start_date").as("ui_start")),
        Seq("user_institution_id"))
      .join(oltp("users").select(col("user_id"), col("join_date")), Seq("user_id"))
      .join(dims("dim_user"), col("user_id_bk") === col("user_id"))
      // match the exact SCD2 VERSION (start_date included): a user with two
      // stints at the same institution has two dim rows on (user,
      // institution) alone, and the version-less join would fan out and
      // double-count every downstream measure
      .join(dims("dim_institution"),
        dims("dim_institution")("user_id_bk") === col("user_id") &&
          col("institution_id_bk") === col("institution_id") &&
          dims("dim_institution")("start_date") === col("ui_start"))
      .join(subActive,
        col("sa_user") === col("user_id") &&
          col("sa_start") <= col("observation_date") &&
          (col("sa_end").isNull || col("sa_end") >= col("observation_date")), "left")
      .join(subEarliest,
        col("se_user") === col("user_id") && col("se_start") === col("join_date"), "left")
      .withColumn("subscription_type_sk", coalesce(col("sa_sk"), col("se_sk")))
      .join(broadcast(dims("dim_date")),
        col("year") === year(col("observation_date")) &&
          col("month") === month(col("observation_date")))
  }

  /** fact_user_location_monthly (08_ETL2_part2.sql:71-122). */
  def factUserLocationMonthly(oltp: Map[String, DataFrame],
                              dims: Map[String, DataFrame]): DataFrame =
    userResolved(oltp, dims)
      .join(dims("dim_location"), col("location_id_bk") === col("location_id"))
      .groupBy(col("user_sk"), col("location_sk"), col("date_sk"),
        col("institution_sk"), col("subscription_type_sk"))
      .agg(
        count(lit(1)).as("observation_count"),
        coalesce(sum(col("interaction_count")), lit(0)).as("interaction_count"))

  /** fact_user_monthly_summary (08_ETL2_part2.sql:127-185): D5 — four exact
    * COUNT(DISTINCT) at the (user, month, institution, subscription) grain.
    */
  def factUserMonthlySummary(oltp: Map[String, DataFrame],
                             dims: Map[String, DataFrame]): DataFrame =
    userResolved(oltp, dims)
      .groupBy(col("user_sk"), col("date_sk"),
        col("institution_sk"), col("subscription_type_sk"))
      .agg(
        count(lit(1)).as("observation_count"),
        coalesce(sum(col("interaction_count")), lit(0)).as("interaction_count"),
        countDistinct(col("location_id")).as("distinct_locations_count"),
        countDistinct(col("habitat_id")).as("distinct_habitats_count"),
        countDistinct(col("pollinator_id")).as("distinct_pollinator_species_count"),
        countDistinct(col("plant_id")).as("distinct_plant_species_count"))

  def build(oltp: Map[String, DataFrame], dims: Map[String, DataFrame]): Map[String, DataFrame] =
    Map(
      "fact_pollination_activity" -> factPollinationActivity(oltp, dims),
      "fact_user_location_monthly" -> factUserLocationMonthly(oltp, dims),
      "fact_user_monthly_summary" -> factUserMonthlySummary(oltp, dims))
}
