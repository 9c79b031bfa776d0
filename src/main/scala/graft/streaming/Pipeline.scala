package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.{Enrich, Quality, Validate}
import graft.sink.{Sink, SinkColumns}
import graft.util.{BatchMetrics, CacheScope, ParJobs, PipelineMonitor}

/** The streaming pipeline: directory CSV stream → validate → enrich →
  * watermark+dedup → `foreachBatch` into a [[graft.sink.Sink]].
  *
  * Mirrors the reference end-to-end
  * (`/root/reference/spark/spark_streaming_to_postgres.py:87-94,320-332,
  * 363-441,506-513`) with one documented divergence: the reference builds a
  * watermark+dedup branch but accidentally streams the un-deduplicated one
  * (its `clean_df` is dead code — SURVEY.md §2.5). We implement the
  * *documented* semantics: the valid branch is deduplicated by `event_id`
  * within the watermark before it reaches the sink, while dead-letter rows
  * bypass dedup so rejects stay observable.
  *
  * Scale notes: validation/enrichment are per-row expression pipelines
  * (no shuffle); dedup is the only stateful op. Its state is NOT bounded by
  * the watermark: `dropDuplicates("event_id")` has no event-time key, so
  * no key is ever evicted (measured: about 25,700 state rows after 27
  * files of 1,000 events); `dedupedValid(withinWatermark = true)` is the
  * bounded variant. Each micro-batch executes its stream plan once: the quality
  * metrics rollup (ONE aggregation job, not the reference's N scans) fills
  * the batch cache that the sink appends then read.
  */
object Pipeline {

  /** CSV ingest schema — `ts` deliberately a string, parsed with
    * `to_timestamp` in [[transform]] so malformed timestamps become null
    * rows (caught by validation), not CSV parse failures
    * (reference rationale: `documentation/documentation.md:378-392`).
    */
  val csvSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", StringType, nullable = false),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  /** S1 — streaming CSV scan: explicit schema, header, ≤N files/trigger. */
  def csvStream(spark: SparkSession, inputPath: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(csvSchema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(inputPath)

  /** Validation + enrichment, parameterized on "now" (production:
    * `current_timestamp()`; tests/oracles: a literal anchor).
    */
  def transform(df: DataFrame, now: Column): DataFrame = {
    // try_to_timestamp: malformed timestamps become null rows (caught
    // downstream), not ANSI cast errors that would kill the query.
    val parsed =
      if (df.schema("ts").dataType == StringType)
        df.withColumn("ts", try_to_timestamp(col("ts")))
      else df
    Enrich.enrichedAt(Validate.withValidation(parsed), now)
  }

  /** The deduplicated valid branch (D1+D2).
    *
    * `withinWatermark = true` uses Spark 4's
    * `dropDuplicatesWithinWatermark` — state for an event_id expires once
    * the watermark passes its event time + delay, which is the right
    * semantics when duplicates arrive close together (the reference's
    * at-least-once file source re-delivery) and keeps state strictly
    * bounded. The default mirrors the reference's documented
    * `dropDuplicates` exactly: one state entry per key, kept forever —
    * the watermark column is not a dedup key, so the watermark evicts
    * nothing and late rows are only dropped, not forgotten.
    */
  def dedupedValid(
      enriched: DataFrame,
      watermarkDelay: String = "10 minutes",
      withinWatermark: Boolean = false): DataFrame = {
    val marked = enriched
      .filter(col("is_valid"))
      .withWatermark("ts", watermarkDelay)
    if (withinWatermark) marked.dropDuplicatesWithinWatermark("event_id")
    else marked.dropDuplicates("event_id")
  }

  /** One micro-batch: quality metrics in one agg pass, valid/dead-letter
    * routing, pinned-column projection, three sink appends
    * (reference `write_to_postgres`, `:363-441`).
    *
    * The metrics rollup is the batch's single execution of the stream
    * plan: it fills the cache, so the appends read cached rows and an
    * empty batch (`total_events == 0`) costs that one job. The events and
    * dead-letter appends are independent and run as concurrent jobs; the
    * metrics row is appended only after both succeed.
    */
  def processBatch(
      batchDf: DataFrame,
      batchId: Long,
      sink: Sink,
      monitor: Option[PipelineMonitor] = None): Option[BatchMetrics] = {
    val t0 = System.nanoTime()
    val cached = batchDf.cache()
    try {
      // metrics + per-error counts in ONE job (rollup — see
      // Quality.batchMetricsWithErrors); the reference ran ~10
      val (m, errorCounts) = Quality.batchMetricsWithErrors(cached)
      val total = m.getAs[Long]("total_events")
      if (total == 0) None
      else {
        val valid = cached.filter(col("is_valid"))
        val dead = cached.filter(!col("is_valid"))
        ParJobs.run(
          () => sink.append(SinkColumns.project(valid, SinkColumns.events), "ecommerce_events"),
          () => sink.append(SinkColumns.project(dead, SinkColumns.deadLetter), "dead_letter_events"))
        val metrics = BatchMetrics(
          batchId = batchId,
          totalEvents = total,
          validEvents = m.getAs[Long]("valid_events"),
          invalidEvents = m.getAs[Long]("invalid_events"),
          processingTimeSec = (System.nanoTime() - t0) / 1e9,
          errorCounts = errorCounts)
        val spark = batchDf.sparkSession
        import spark.implicits._
        sink.append(
          Seq((metrics.batchId, metrics.totalEvents, metrics.validEvents,
            metrics.invalidEvents, metrics.validityRate, metrics.processingTimeSec))
            .toDF("batch_id", "total_events", "valid_events", "invalid_events",
              "validity_rate", "processing_time_sec"),
          "data_quality_metrics")
        monitor.foreach(_.record(metrics))
        Some(metrics)
      }
    } finally CacheScope.release(cached)
  }

  /** S6 — wire the full query: stream → transform → dedup → foreachBatch,
    * checkpointed, append mode, processing-time trigger.
    */
  def start(
      spark: SparkSession,
      inputPath: String,
      checkpointDir: String,
      sink: Sink,
      monitor: Option[PipelineMonitor] = None,
      triggerMs: Long = 10000,
      watermarkDelay: String = "10 minutes",
      now: Column = current_timestamp()): StreamingQuery = {
    val enriched = transform(csvStream(spark, inputPath), now)
    // Valid rows dedup within the watermark; dead letters flow per-batch.
    // Both branches are computed from the same enriched frame inside
    // foreachBatch (the batch is already deduplicated upstream for the
    // valid branch by dropDuplicates below).
    dedupedValid(enriched, watermarkDelay)
      .unionByName(enriched.filter(!col("is_valid")))
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        processBatch(df, id, sink, monitor); ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
  }
}
