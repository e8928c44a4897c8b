package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** B9/A6/D7 + §H: dimension normalization — DISTINCT + anti-join idempotent
  * inserts with deterministic surrogate ids, species-name normalization,
  * and the user name-split.
  */
object Normalize {

  /** Idempotent dim insert (ON CONFLICT DO NOTHING / NOT IN analog,
    * 02_ETL1_part1.sql:37-78, 07_ETL2_part1.sql:5-50): distinct incoming
    * keys absent from `existing` get appended with ids continuing after the
    * existing maximum — SERIAL semantics made deterministic by ordering new
    * rows on the business key.
    *
    * Scale note: the max-id lookup is a 1-row aggregate broadcast via cross
    * join, and the id window orders only NEW distinct keys — valid for
    * bounded dimension domains (countries/counties/species/…); a
    * high-cardinality dim would switch to hash surrogate keys (see
    * CoreOps.ciJoin).
    */
  def upsertDim(existing: DataFrame, incoming: DataFrame,
                idCol: String, keyCols: Seq[String]): DataFrame = {
    val newRows = incoming.select(keyCols.map(col): _*).distinct()
      .join(existing.select(keyCols.map(col): _*), keyCols, "left_anti")
    val base = existing.agg(coalesce(max(col(idCol)), lit(0L)).as("max_id"))
    val w = Window.orderBy(keyCols.map(col): _*)
    val appended = newRows
      .withColumn("rn", row_number().over(w).cast("long"))
      .crossJoin(broadcast(base))
      .withColumn(idCol, col("max_id") + col("rn"))
      .select(existing.columns.toIndexedSeq.map(col): _*)
    existing.unionAll(appended)
  }

  /** The deterministic-keep policy: one row per `partitionBy` key, the
    * first by `orderBy`. `dropDuplicates` keeps an arbitrary row, so a key
    * with conflicting rows could surface a different survivor run to run. */
  def keepFirst(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))
      .filter(col("rn") === 1).drop("rn")

  /** Fresh dim from scratch: empty-existing upsertDim convenience. */
  def buildDim(incoming: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = Window.orderBy(keyCols.map(col): _*)
    incoming.select(keyCols.map(col): _*).distinct()
      .withColumn(idCol, row_number().over(w).cast("long"))
      .select((idCol +: keyCols).map(col): _*)
  }

  /** Species normalization (04_ETL1_part3.sql:245-265, 295-315):
    * INITCAP(first word) + ' ' + lower(rest of the string). Takes the column
    * NAME so the rest-of-string substring can reference it by position.
    */
  def normalizedSpecies(colName: String): Column =
    concat(
      initcap(split(col(colName), " ").getItem(0)),
      when(instr(col(colName), " ") > 0,
        concat(lit(" "),
          lower(expr(s"substring($colName, instr($colName, ' ') + 1)"))))
        .otherwise(lit("")))

  /** Name-split CASE (03_ETL1_part2.sql:112-121): full names matching
    * '%.% %' split into (initials, last word); otherwise the whole string is
    * the last name and initials are null.
    */
  def nameSplit(df: DataFrame, fullName: String = "full_name"): DataFrame = {
    val fn = col(fullName)
    val isSplit = fn.like("%.% %")
    df
      .withColumn("first_name_or_initials",
        when(isSplit, expr(s"left($fullName, length($fullName) - instr(reverse($fullName), ' '))"))
          .otherwise(lit(null).cast("string")))
      .withColumn("last_name",
        when(isSplit, element_at(split(fn, " "), -1)).otherwise(fn))
  }
}
