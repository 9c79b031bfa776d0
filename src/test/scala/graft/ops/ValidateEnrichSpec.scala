package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden-value specs for the validation when-chain and the enrichment
  * expressions — the engine-level analog of the reference's
  * `tests/test_transformations.py` golden pairs, but run through the real
  * Column pipeline instead of re-implemented pure functions.
  */
class ValidateEnrichSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def mkEvents(rows: Seq[(java.lang.Long, Timestamp, java.lang.Long, String, java.lang.Double, String)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def errorsFor(rows: Seq[(java.lang.Long, Timestamp, java.lang.Long, String, java.lang.Double, String)]) =
    Validate.withValidation(mkEvents(rows))
      .select("validation_errors").collect().map(r => Option(r.getString(0)))

  test("valid row produces null validation_errors") {
    val r = errorsFor(Seq((1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", 5.0: java.lang.Double, "{}")))
    assert(r.head.isEmpty)
  }

  test("each validation rule fires with its tag, first-match-wins") {
    val base = ts("2024-01-10 10:00:00")
    val cases = Seq(
      (null.asInstanceOf[java.lang.Long], base, 7L: java.lang.Long, "view", 5.0: java.lang.Double, "{}") -> "null_event_id",
      (2L: java.lang.Long, base, 7L: java.lang.Long, null, 5.0: java.lang.Double, "{}") -> "null_event_type",
      (3L: java.lang.Long, base, 7L: java.lang.Long, "bogus", 5.0: java.lang.Double, "{}") -> "invalid_event_type",
      (4L: java.lang.Long, base, null.asInstanceOf[java.lang.Long], "purchase", 5.0: java.lang.Double, "{}") -> "missing_user_id",
      (5L: java.lang.Long, base, 7L: java.lang.Long, "view", null.asInstanceOf[java.lang.Double], "{}") -> "null_value",
      (6L: java.lang.Long, base, 7L: java.lang.Long, "view", -1.0: java.lang.Double, "{}") -> "negative_value",
      (7L: java.lang.Long, base, 7L: java.lang.Long, "view", 401.0: java.lang.Double, "{}") -> "extreme_value",
      (8L: java.lang.Long, base, 7L: java.lang.Long, "purchase", 0.0: java.lang.Double, "{}") -> "purchase_zero_value")
    val got = errorsFor(cases.map(_._1))
    assert(got.map(_.orNull).toSeq == cases.map(_._2))
  }

  test("null event_id wins over other violations (first-match)") {
    val r = errorsFor(Seq((null.asInstanceOf[java.lang.Long], ts("2024-01-10 10:00:00"), null.asInstanceOf[java.lang.Long], "bogus", -5.0: java.lang.Double, "{}")))
    assert(r.head.contains("null_event_id"))
  }

  test("routing splits valid and dead-letter completely") {
    val df = mkEvents(Seq(
      (1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", 5.0: java.lang.Double, "{}"),
      (2L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "bogus", 5.0: java.lang.Double, "{}")))
    assert(Validate.validRows(df).count() == 1)
    assert(Validate.deadLetter(df).count() == 1)
  }

  test("total_amount = value*quantity for purchase/click, else 0") {
    val df = mkEvents(Seq(
      (1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "purchase", 10.0: java.lang.Double, """{"k": 3}"""),
      (2L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", 10.0: java.lang.Double, """{"k": 3}"""),
      (3L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "click", 2.5: java.lang.Double, """{"k": 2}""")))
    val got = Enrich.enriched(df).select("event_id", "total_amount")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 30.0, 2L -> 0.0, 3L -> 5.0))
  }

  test("quantity defaults to 0 when props lack k (and total stays 0)") {
    val df = mkEvents(Seq((1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "purchase", 10.0: java.lang.Double, "{}")))
    val row = Enrich.enriched(df).select("quantity", "total_amount").collect()(0)
    assert(row.getInt(0) == 0 && row.getDouble(1) == 0.0)
  }

  test("time parts derive from ts") {
    val df = mkEvents(Seq((1L: java.lang.Long, ts("2024-01-15 13:45:00"), 7L: java.lang.Long, "view", 1.0: java.lang.Double, "{}")))
    val r = Enrich.enriched(df)
      .select("event_year", "event_month", "event_day", "event_hour", "event_dayofweek")
      .collect()(0)
    // 2024-01-15 is a Monday → Spark dayofweek = 2 (1=Sunday)
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) == ((2024, 1, 15, 13, 2)))
  }

  test("late-arrival boundary: strictly older than anchor-5min") {
    val df = mkEvents(Seq(
      (1L: java.lang.Long, ts("2024-01-30 23:54:59"), 7L: java.lang.Long, "view", 1.0: java.lang.Double, "{}"),
      (2L: java.lang.Long, ts("2024-01-30 23:55:00"), 7L: java.lang.Long, "view", 1.0: java.lang.Double, "{}")))
    val got = Enrich.enriched(df).select("event_id", "is_late_arrival")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false))
  }

  test("event_type is lowercased and trimmed; session buckets span 30min") {
    val df = mkEvents(Seq(
      (1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "  VIEW ", 1.0: java.lang.Double, "{}"),
      (2L: java.lang.Long, ts("2024-01-10 10:29:59"), 7L: java.lang.Long, "view", 1.0: java.lang.Double, "{}"),
      (3L: java.lang.Long, ts("2024-01-10 10:30:00"), 7L: java.lang.Long, "view", 1.0: java.lang.Double, "{}")))
    val rows = Enrich.enriched(df).select("event_id", "event_type", "session_id").collect()
    assert(rows.forall(_.getString(1) == "view"))
    val sessions = rows.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sessions(1L) == sessions(2L) && sessions(2L) != sessions(3L))
  }

  test("props_clean strips non-word characters") {
    val df = mkEvents(Seq((1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", 1.0: java.lang.Double, """{"k": 3}""")))
    assert(Enrich.enriched(df).select("props_clean").collect()(0).getString(0) == "k 3")
  }

  test("lineage adds processed_at and source_file without disturbing rows") {
    val df = mkEvents(Seq((1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", 1.0: java.lang.Double, "{}")))
    val cols = Enrich.lineage(df).columns.toSet
    assert(cols.contains("processed_at") && cols.contains("source_file"))
  }

  test("batch metrics single-pass agg matches hand counts") {
    val df = mkEvents(Seq(
      (1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", 5.0: java.lang.Double, "{}"),
      (2L: java.lang.Long, ts("2024-01-10 10:00:00"), null.asInstanceOf[java.lang.Long], "view", 5.0: java.lang.Double, "{}"),
      (3L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "bogus", 5.0: java.lang.Double, "{}")))
    val m = Quality.batchMetrics(Enrich.enriched(Validate.withValidation(df))).collect()(0)
    assert(m.getAs[Long]("total_events") == 3)
    assert(m.getAs[Long]("valid_events") == 2)
    assert(m.getAs[Long]("invalid_events") == 1)
    assert(m.getAs[Long]("null_user_id") == 1)
    assert(math.abs(m.getAs[Double]("validity_rate") - 200.0 / 3) < 1e-9)
  }

  test("rollup metrics variant: same totals + per-error counts in one pass") {
    val df = mkEvents(Seq(
      (1L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", 5.0: java.lang.Double, "{}"),
      (2L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "bogus", 5.0: java.lang.Double, "{}"),
      (3L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "bogus", 5.0: java.lang.Double, "{}"),
      (4L: java.lang.Long, ts("2024-01-10 10:00:00"), 7L: java.lang.Long, "view", -1.0: java.lang.Double, "{}")))
    val (m, errors) =
      Quality.batchMetricsWithErrors(Enrich.enriched(Validate.withValidation(df)))
    assert(m.getAs[Long]("total_events") == 4)
    assert(m.getAs[Long]("valid_events") == 1)
    assert(m.getAs[Long]("invalid_events") == 3)
    assert(errors == Map("invalid_event_type" -> 2L, "negative_value" -> 1L))
  }

  test("rollup metrics variant on an EMPTY frame returns zeros, not a crash") {
    // rollup over empty input emits zero rows; the fallback must produce
    // the global-agg zero row (the regression the code-review caught)
    val (m, errors) = Quality.batchMetricsWithErrors(
      Enrich.enriched(Validate.withValidation(mkEvents(Seq.empty))))
    assert(m.getAs[Long]("total_events") == 0)
    assert(errors.isEmpty)
  }

  test("empty-frame metrics row equals batchMetrics' row on an empty frame") {
    val empty = Enrich.enriched(Validate.withValidation(mkEvents(Seq.empty)))
    val expected = Quality.batchMetrics(empty).collect()(0)
    val zero = Quality.emptyMetricsRow(empty)
    assert(zero.schema == expected.schema)
    assert(zero == expected)
    assert(Quality.batchMetricsWithErrors(empty)._1 == expected)
  }
}
