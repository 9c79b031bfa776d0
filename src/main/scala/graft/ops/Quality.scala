package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.Deterministic.dsum

/** Per-batch data-quality metrics.
  *
  * The reference computes these with ~10 separate Spark jobs per batch
  * (`df.count()`, one `filter(...).count()` per rule/column,
  * `groupBy("event_type").count().collect()` —
  * `/root/reference/spark/spark_streaming_to_postgres.py:239-276`). That is
  * N full scans of the batch. Here the same numbers come out of ONE
  * aggregation pass (`sum(when(...))` conditional counts → map-side
  * combine, single job) — the scale-correct formulation.
  */
object Quality {

  /** One row: total/valid/invalid counts, per-column null counts, late
    * count, distinct users, validity rate. Input must already carry
    * `is_valid` ([[Validate.withValidation]]) and `is_late_arrival`
    * ([[Enrich.enriched]]).
    */
  def batchMetrics(df: DataFrame): DataFrame =
    df.agg(
        count("*").as("total_events"),
        count(when(col("is_valid"), 1)).as("valid_events"),
        count(when(!col("is_valid"), 1)).as("invalid_events"),
        count(when(col("user_id").isNull, 1)).as("null_user_id"),
        count(when(col("value").isNull, 1)).as("null_value"),
        count(when(col("props").isNull, 1)).as("null_props"),
        count(when(col("is_late_arrival"), 1)).as("late_events"),
        countDistinct("user_id").as("distinct_users"),
        dsum(col("value")).as("total_value"))
      .withColumn(
        "validity_rate",
        // ANSI mode makes x/0 an ERROR, so the empty-batch case (total=0)
        // must short-circuit to 0.0 rather than divide
        when(col("total_events") === 0, 0.0)
          .otherwise((col("valid_events").cast("double") /
            col("total_events").cast("double")) * 100.0))

  /** [[batchMetrics]]' row for an empty frame, from its schema alone (no
    * Spark job): every count 0, the rate 0.0, the value sum null.
    */
  def emptyMetricsRow(df: DataFrame): Row = {
    val schema = batchMetrics(df).schema
    new GenericRowWithSchema(schema.fields.map { f =>
      if (f.name == "validity_rate") 0.0
      else if (f.dataType == LongType) 0L
      else null
    }, schema)
  }

  /** The micro-batch variant: the SAME global metrics row PLUS the
    * per-validation-error counts out of ONE job — `rollup` carries both
    * grouping levels through a single shuffle (the grand-total row keeps
    * `count_distinct` exact, which per-group sums could not), and
    * `grouping()` disambiguates the total row from the valid (null-error)
    * group. Returns (metrics row, error → count).
    */
  def batchMetricsWithErrors(df: DataFrame): (Row, Map[String, Long]) = {
    val rows = df
      .rollup(col("validation_errors"))
      .agg(
        count("*").as("total_events"),
        count(when(col("is_valid"), 1)).as("valid_events"),
        count(when(!col("is_valid"), 1)).as("invalid_events"),
        count(when(col("user_id").isNull, 1)).as("null_user_id"),
        count(when(col("value").isNull, 1)).as("null_value"),
        count(when(col("props").isNull, 1)).as("null_props"),
        count(when(col("is_late_arrival"), 1)).as("late_events"),
        countDistinct("user_id").as("distinct_users"),
        dsum(col("value")).as("total_value"),
        grouping(col("validation_errors")).cast("int").as("is_total"))
      .withColumn(
        "validity_rate",
        // ANSI mode makes x/0 an ERROR, so the empty-batch case (total=0)
        // must short-circuit to 0.0 rather than divide
        when(col("total_events") === 0, 0.0)
          .otherwise((col("valid_events").cast("double") /
            col("total_events").cast("double")) * 100.0))
      .collect()
    // rollup over an EMPTY frame emits zero rows (unlike a global agg) —
    // fall back to the global agg's row for an empty frame, built without
    // running it, so callers get total_events = 0 for this one job
    val total = rows.find(_.getAs[Int]("is_total") == 1)
      .getOrElse(emptyMetricsRow(df))
    val errors = rows.iterator
      .filter(r => r.getAs[Int]("is_total") == 0 && r.getAs[String]("validation_errors") != null)
      .map(r => r.getAs[String]("validation_errors") -> r.getAs[Long]("total_events"))
      .toMap
    (total, errors)
  }
}
