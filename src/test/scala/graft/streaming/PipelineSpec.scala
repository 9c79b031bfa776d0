package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.InMemorySink
import graft.util.PipelineMonitor

/** End-to-end streaming specs: CSV files dropped into a watched directory
  * (atomic rename like the reference generator), processed through
  * validate→enrich→dedup→foreachBatch into an in-memory sink; includes
  * duplicate-event and checkpoint-restart scenarios
  * (reference manual plan `docs/test_cases.md` cases 2/6/9).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** Write a CSV atomically: temp file + move, like the reference generator
    * (`data_generator/data_generator.py:201-219`).
    */
  private def dropCsv(dir: Path, name: String, rows: Seq[String]): Unit = {
    val header = "event_id,ts,user_id,event_type,value,props"
    val tmp = Files.createTempFile("gen", ".tmp")
    Files.write(tmp, (header +: rows).mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private val anchor = lit("2024-01-31 00:00:00").cast("timestamp")

  test("pipeline routes valid rows, dead-letters invalid, dedups by event_id") {
    val in = tmpDir("graft-in")
    val cp = tmpDir("graft-cp")
    val sink = new InMemorySink
    val monitor = new PipelineMonitor(handlers = Seq.empty)

    dropCsv(in, "b1.csv", Seq(
      """1,2024-01-10 10:00:00,7,view,5.0,{}""",
      """1,2024-01-10 10:00:00,7,view,5.0,{}""", // duplicate event_id
      """2,2024-01-10 10:01:00,8,bogus,5.0,{}""", // invalid type
      """3,2024-01-10 10:02:00,,purchase,5.0,{}""")) // missing user

    val q = Pipeline.start(spark, in.toString, cp.toString, sink,
      monitor = Some(monitor), triggerMs = 100, now = anchor)
    try q.processAllAvailable()
    finally q.stop()

    assert(sink.rowCount("ecommerce_events") == 1) // row 1, deduplicated
    assert(sink.rowCount("dead_letter_events") == 2) // rows 2 and 3
    assert(sink.rowCount("data_quality_metrics") >= 1)
    val dead = sink.tables("dead_letter_events")
      .map(r => r.getAs[String]("validation_errors")).toSet
    assert(dead == Set("invalid_event_type", "missing_user_id"))
    assert(monitor.windowSnapshot.nonEmpty)
  }

  test("checkpoint restart does not reprocess already-seen files") {
    val in = tmpDir("graft-in2")
    val cp = tmpDir("graft-cp2")
    val sink = new InMemorySink

    dropCsv(in, "b1.csv", Seq("""1,2024-01-10 10:00:00,7,view,5.0,{}"""))
    val q1 = Pipeline.start(spark, in.toString, cp.toString, sink, triggerMs = 100, now = anchor)
    try q1.processAllAvailable()
    finally q1.stop()
    assert(sink.rowCount("ecommerce_events") == 1)

    // restart from the same checkpoint; add one new file
    dropCsv(in, "b2.csv", Seq("""2,2024-01-10 10:03:00,7,view,6.0,{}"""))
    val q2 = Pipeline.start(spark, in.toString, cp.toString, sink, triggerMs = 100, now = anchor)
    try q2.processAllAvailable()
    finally q2.stop()

    // only the new row was appended — the checkpoint skipped b1.csv
    assert(sink.rowCount("ecommerce_events") == 2)
  }

  test("malformed timestamps become null-value rows, not crashes") {
    val in = tmpDir("graft-in3")
    val cp = tmpDir("graft-cp3")
    val sink = new InMemorySink

    dropCsv(in, "b1.csv", Seq("""1,not-a-timestamp,7,view,5.0,{}"""))
    val q = Pipeline.start(spark, in.toString, cp.toString, sink, triggerMs = 100, now = anchor)
    try q.processAllAvailable()
    finally q.stop()
    // ts parses to null → row still flows (valid: no ts-null rule), time
    // parts are null; the pipeline must not throw.
    assert(sink.rowCount("ecommerce_events") + sink.rowCount("dead_letter_events") == 1)
  }

  test("dropDuplicatesWithinWatermark variant dedups re-delivered events") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Pipeline.dedupedValid(
      Pipeline.transform(events, anchor), withinWatermark = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_ww_out").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-10 10:00:00")
      mem.addData((1L, t, 7L, "view", 5.0, "{}"), (1L, t, 7L, "view", 5.0, "{}"))
      out.processAllAvailable()
      assert(spark.table("dedup_ww_out").count() == 1)
    } finally out.stop()
  }

  private val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  test("a data batch evaluates its input once") {
    val rows = Seq(
      (1L, "2024-01-10 10:00:00", 7L, "view", 5.0, "{}"),
      (2L, "2024-01-10 10:01:00", 8L, "bogus", 5.0, "{}"),
      (3L, "2024-01-10 10:02:00", 9L, "purchase", 5.0, "{}"),
      (4L, "2024-01-10 10:03:00", 9L, "click", 2.0, "{}"))
    val input = Pipeline.transform(rows.toDF(eventCols: _*), anchor)
    val evaluated = spark.sparkContext.longAccumulator("pipeline-spec-input-rows")
    // an RDD-backed frame, like the one foreachBatch hands over: every
    // action re-runs the map unless it reads the batch cache
    val counted = spark.createDataFrame(
      input.rdd.map { r => evaluated.add(1); r }, input.schema)
    val sink = new InMemorySink
    val m = Pipeline.processBatch(counted, 0L, sink)
    assert(m.map(_.totalEvents).contains(rows.size.toLong))
    assert(evaluated.value == rows.size)
    assert(sink.rowCount("ecommerce_events") == 3)
    assert(sink.rowCount("dead_letter_events") == 1)
    assert(sink.rowCount("data_quality_metrics") == 1)
  }

  test("an empty batch runs exactly one job and writes nothing") {
    val schema = Pipeline.transform(
      Seq.empty[(Long, String, Long, String, Double, String)].toDF(eventCols: _*), anchor).schema
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 4), schema)
    val sink = new InMemorySink
    var out = Option.empty[graft.util.BatchMetrics]
    val jobs = jobsInGroup("pipeline-spec-empty-batch") {
      out = Pipeline.processBatch(empty, 0L, sink)
    }
    assert(out.isEmpty)
    assert(jobs.size == 1, s"jobs: $jobs")
    assert(sink.tables.isEmpty)
  }

  test("a failed events append writes no quality-metrics row") {
    val inner = new InMemorySink
    val failing = new graft.sink.Sink {
      override def append(df: org.apache.spark.sql.DataFrame, table: String): Unit =
        if (table == "ecommerce_events") throw new IllegalStateException("events append failed")
        else inner.append(df, table)
    }
    val input = Pipeline.transform(
      Seq((1L, "2024-01-10 10:00:00", 7L, "view", 5.0, "{}"),
        (2L, "2024-01-10 10:01:00", 8L, "bogus", 5.0, "{}")).toDF(eventCols: _*), anchor)
    val e = intercept[IllegalStateException](Pipeline.processBatch(input, 0L, failing))
    assert(e.getMessage == "events append failed")
    assert(inner.rowCount("data_quality_metrics") == 0)
  }

  test("empty batches are short-circuited") {
    val sink = new InMemorySink
    import spark.implicits._
    val empty = Pipeline.transform(
      Seq.empty[(Long, String, Long, String, Double, String)]
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), anchor)
    assert(Pipeline.processBatch(empty, 0L, sink).isEmpty)
    assert(sink.tables.isEmpty)
  }
}
