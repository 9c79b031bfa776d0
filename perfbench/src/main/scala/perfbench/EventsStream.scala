package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.config.DatabaseConfig
import graft.datagen.EventGenerator
import graft.sink.{JdbcUpsertSink, Sink, UpsertSql}
import graft.streaming.Pipeline

/** Times every `append` into the wrapped sink and counts the ones that
  * throw; the exception still propagates, so the stream sees the failure.
  */
final class TimedSink(inner: Sink) extends Sink {
  /** (table, start epoch ms, end epoch ms) per append, in call order. */
  val appends = mutable.ArrayBuffer.empty[(String, Double, Double)]
  var failures = 0

  override def append(df: DataFrame, table: String): Unit = {
    val t0 = System.currentTimeMillis().toDouble
    try inner.append(df, table)
    catch { case t: Throwable => synchronized(failures += 1); throw t }
    finally {
      val t1 = System.currentTimeMillis().toDouble
      synchronized(appends += ((table, t0, t1)))
    }
  }
}

/** The reference's workload: one generator thread drops 1,000-event CSV files
  * into a watched directory; `Pipeline.start` validates, enriches, dedups and
  * appends every micro-batch to embedded in-memory Derby through
  * `JdbcUpsertSink` with plain inserts.
  *
  * Set-up: Derby DDL, query start, one file committed alone (class loading,
  * codegen, Derby warm-up), then [[WarmFiles]] files moved in together and
  * drained back to back so the JIT has compiled the batch path. Then
  * `seconds / CycleMs` timed cycles on a fixed schedule, each of two parts:
  *   - open loop: cycle k's file is due at `t0 + k * CycleMs`, whatever the
  *     stream is doing; its latency runs from when it was due to the end of
  *     the micro-batch whose source offset covers it, so a cycle that
  *     overruns delays the next file's write (`gen.lag_ms`) and adds to its
  *     latency;
  *   - burst: once that batch and the no-data batch after it have ended,
  *     [[BurstFiles]] files are written to a staging directory and moved
  *     into the watched directory together; the burst's drain time runs from
  *     the first move to the end of the batch that commits the last of them.
  * Interleaving the two spreads both over the whole timed region, so a slow
  * spell of the host moves each by its share of the region, not all of one.
  */
object EventsStream {
  val EventsPerFile = 1000
  /** Backlog drained in set-up. The first ten or so data batches run up to
    * 2x slower while the JIT compiles the batch path; a backlog drains with
    * no idle time between batches, so it warms the most per second of
    * set-up. */
  val WarmFiles = 8
  /** One cycle per 5.5 s: a warm cycle (the open-loop file's data and
    * no-data batches, then the burst's) takes about 3.8 s on an idle 4-core
    * host, so every cycle's file finds the stream idle unless the host runs
    * more than 1.4x slower. */
  val CycleMs = 5500L
  val BurstFiles = 2
  val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  /** Stated tolerance for detect + planning + addBatch + WAL = trigger. */
  val ResidualTolMs = 25.0
  val ResidualTolFrac = 0.05

  private val Ddl = Seq(
    """CREATE TABLE ecommerce_events (
      |  event_id BIGINT PRIMARY KEY, ts TIMESTAMP NOT NULL, user_id BIGINT,
      |  event_type VARCHAR(20) NOT NULL
      |    CHECK (event_type IN ('view', 'click', 'purchase', 'signup', 'error')),
      |  value DOUBLE NOT NULL CHECK (value >= 0), props VARCHAR(4000),
      |  quantity INT DEFAULT 0, total_amount DECIMAL(22, 6) DEFAULT 0,
      |  event_year INT, event_month INT, event_day INT, event_hour INT,
      |  event_dayofweek INT, is_late_arrival BOOLEAN DEFAULT FALSE,
      |  session_id VARCHAR(64),
      |  CONSTRAINT chk_user_required CHECK (
      |    event_type IN ('view', 'click', 'error') OR user_id IS NOT NULL))""".stripMargin,
    "CREATE INDEX idx_ecommerce_events_ts ON ecommerce_events (ts)",
    "CREATE INDEX idx_ecommerce_events_user_id ON ecommerce_events (user_id)",
    "CREATE INDEX idx_ecommerce_events_event_type ON ecommerce_events (event_type)",
    "CREATE INDEX idx_ecommerce_events_session_id ON ecommerce_events (session_id)",
    "CREATE INDEX idx_ecommerce_events_ts_type ON ecommerce_events (ts, event_type)",
    "CREATE INDEX idx_ecommerce_events_user_ts ON ecommerce_events (user_id, ts)",
    """CREATE TABLE dead_letter_events (
      |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, event_id BIGINT,
      |  ts TIMESTAMP, user_id BIGINT, event_type VARCHAR(50), value DOUBLE,
      |  props VARCHAR(4000), validation_errors VARCHAR(4000) NOT NULL,
      |  recorded_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP,
      |  reprocessed BOOLEAN DEFAULT FALSE)""".stripMargin,
    "CREATE INDEX idx_dead_letter_errors ON dead_letter_events (validation_errors)",
    "CREATE INDEX idx_dead_letter_recorded ON dead_letter_events (recorded_at)",
    """CREATE TABLE data_quality_metrics (
      |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, batch_id BIGINT NOT NULL,
      |  total_events BIGINT NOT NULL, valid_events BIGINT NOT NULL,
      |  invalid_events BIGINT NOT NULL, validity_rate DOUBLE,
      |  processing_time_sec DOUBLE,
      |  recorded_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""".stripMargin,
    "CREATE INDEX idx_quality_recorded ON data_quality_metrics (recorded_at)")

  private final case class Batch(p: StreamingQueryProgress) {
    val startMs: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    private def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trigger: Double = d("triggerExecution")
    val endMs: Double = startMs + trigger
    val detect: Double = d("latestOffset") + d("getBatch")
    val planning: Double = d("queryPlanning")
    val addBatch: Double = d("addBatch")
    val wal: Double = d("walCommit") + d("commitOffsets")
    val residual: Double = trigger - detect - planning - addBatch - wal
    val logOffset: Long = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => "\"logOffset\":(\\d+)".r.findFirstMatchIn(o)).map(_.group(1).toLong)
      .getOrElse(-1L)
    val hasData: Boolean = p.numInputRows > 0
    val stateRows: Long = p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)
    val stateMem: Long = p.stateOperators.headOption.map(_.memoryUsedBytes).getOrElse(0L)
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int, trace: Boolean,
      res: Result, region: Region): Unit = {
    val in = Files.createDirectories(work.resolve("in"))
    val staging = Files.createDirectories(work.resolve("staging"))
    val checkpoint = work.resolve("checkpoint")
    val url = s"jdbc:derby:memory:perfbench_$seed;create=true"
    val cfg = DatabaseConfig(urlOverride = Some(url), driverOverride = Some(DerbyDriver))
    Class.forName(DerbyDriver)
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = DriverManager.getConnection(url, cfg.user, cfg.password)
      try f(c) finally c.close()
    }
    def scalar(sql: String): Long = withConn { c =>
      val rs = c.createStatement().executeQuery(sql); rs.next(); rs.getLong(1)
    }
    withConn(c => Ddl.foreach(c.createStatement().execute(_)))

    val gen = new EventGenerator(seed = seed)
    val jdbc = new JdbcUpsertSink(cfg, Seq("event_id"), DerbyDriver, UpsertSql.plainInsert)
    val timed = if (trace) Some(new TimedSink(jdbc)) else None
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val query = Pipeline.start(spark, in.toString, checkpoint.toString,
      timed.getOrElse(jdbc), triggerMs = 0)

    var nextFile = 0
    def fileName(k: Int): String = f"events-$k%06d.csv"
    def write(dir: Path, k: Int): Path =
      gen.writeCsvAtomic(dir, fileName(k), gen.batch(k, EventsPerFile))
    def committedOffset: Long =
      Option(query.lastProgress).map(Batch(_)).filter(_.logOffset >= 0).map(_.logOffset).getOrElse(-1L)
    /** Writes `n` files to the staging directory, moves them into the
      * watched one together and returns the epoch ms of the first move. */
    def backlog(n: Int): Double = {
      val staged = (0 until n).map { _ => val p = write(staging, nextFile); nextFile += 1; p }
      val start = System.currentTimeMillis().toDouble
      staged.foreach(p => Files.move(p, in.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE))
      start
    }
    /** A data batch moves the watermark, so a no-data batch follows it to
      * evict state; waits at most 2 s for that batch to end. */
    def awaitNoDataBatch(): Unit = {
      val deadline = System.currentTimeMillis() + 2000
      while (Option(query.lastProgress).forall(_.numInputRows > 0) &&
          System.currentTimeMillis() < deadline) Thread.sleep(2)
    }
    def awaitCommitted(files: Int, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (committedOffset < files - 1) {
        query.exception.foreach(e => throw e)
        require(System.currentTimeMillis() < deadline, s"stream did not commit $files files in time")
        Thread.sleep(2)
      }
    }

    try {
      // set-up: the first batch pays class loading, codegen and Derby
      // warm-up; the backlog after it warms the JIT on the batch path
      write(in, nextFile); nextFile += 1
      awaitCommitted(nextFile, 120000)
      backlog(WarmFiles)
      awaitCommitted(nextFile, 120000)
      region.start()
      val timedFromMs = System.currentTimeMillis().toDouble

      val openFirst = nextFile
      val nCycles = math.max(1, (seconds * 1000L / CycleMs).toInt)
      val due = mutable.ArrayBuffer.empty[(Int, Double, Double)] // (file, due, moved)
      val bursts = mutable.ArrayBuffer.empty[(Range, Double)] // (files, first move)
      // the last warm file's no-data batch ends before the first file is due
      val t0 = System.currentTimeMillis() + 1000.0
      (0 until nCycles).foreach { i =>
        val dueMs = t0 + i * CycleMs
        val wait = (dueMs - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        write(in, nextFile)
        due += ((nextFile, dueMs, System.currentTimeMillis().toDouble))
        nextFile += 1
        awaitCommitted(nextFile, 60000)
        awaitNoDataBatch()
        val first = nextFile
        bursts += ((first until first + BurstFiles, backlog(BurstFiles)))
        awaitCommitted(nextFile, 60000)
      }
      val storage = spark.sparkContext.getRDDStorageInfo
      region.end()
      // the engine's own progress records, complete once the batch has
      // finished (a StreamingQueryListener receives the same objects, but
      // asynchronously)
      val progress = query.recentProgress.toList
      query.stop()

      // which batch committed which file: the file source's own offset log
      val offsetOf: Map[String, Long] = sourceLog(checkpoint)
      val batches = progress.map(Batch(_))
      val endOfOffset: Map[Long, Double] =
        batches.filter(_.hasData).map(b => b.logOffset -> b.endMs).toMap
      def endOf(k: Int): Double = offsetOf.get(fileName(k)).flatMap(endOfOffset.get)
        .getOrElse(sys.error(s"no committed batch covers ${fileName(k)}"))

      val latencies = due.map { case (k, dueMs, _) => endOf(k) - dueMs }.toSeq
      // files moved together share a modification time, so the source may
      // take them in any order: a burst ends with the last one committed
      val drainS = bursts.map { case (files, start) => files.map(endOf).max - start }.sum / 1e3
      val drainEvents = bursts.map(_._1.size).sum * EventsPerFile
      res.metric("pass_s", drainS, "s")
      res.metric("latency_mean_ms", latencies.sum / latencies.size, "ms")
      res.metric("run.latency_p50_ms", Stats.median(latencies), "ms")
      val (tailPct, tail, beyond) = Stats.tail(latencies)
      res.metric("run.latency_tail_ms", tail, "ms")
      res.metric("run.latency_tail_pct", tailPct, "%")
      res.metric("run.latency_samples", latencies.size, "count")
      res.metric("run.latency_beyond_tail", beyond, "count")
      res.metric("run.drain_events_per_s", drainEvents / drainS, "1/s")
      res.metric("gen.lag_ms", due.map { case (_, d, m) => m - d }.max, "ms")
      res.note("open_loop", s"$nCycles files at one per $CycleMs ms, " +
        s"latencies ${latencies.map(_.round).mkString(" ")} ms")
      res.note("drain", s"$nCycles bursts of $BurstFiles files ($drainEvents events), " +
        s"files $openFirst..${nextFile - 1}")

      // output checks: every generated event lands in exactly one sink table
      val generated = nextFile.toLong * EventsPerFile
      val events = scalar("SELECT COUNT(*) FROM ecommerce_events")
      val dead = scalar("SELECT COUNT(*) FROM dead_letter_events")
      val metricsRows = scalar("SELECT COUNT(*) FROM data_quality_metrics")
      val totalInMetrics = scalar("SELECT COALESCE(SUM(total_events), 0) FROM data_quality_metrics")
      res.attempted = generated
      res.failed = math.max(0L, generated - events - dead)
      res.check("events+dead_letter == generated", events + dead == generated,
        s"$events + $dead vs $generated")
      res.check("sum(total_events) == generated", totalInMetrics == generated,
        s"$totalInMetrics vs $generated")

      // per-layer figures over the timed batches
      val timedBatches = batches.filter(_.startMs >= timedFromMs)
      val data = timedBatches.filter(_.hasData)
      def p50(f: Batch => Double) = Stats.median(data.map(f))
      res.metric("stream.detect_ms", p50(_.detect), "ms")
      res.metric("stream.planning_ms", p50(_.planning), "ms")
      res.metric("stream.addbatch_ms", p50(_.addBatch), "ms")
      res.metric("stream.wal_ms", p50(_.wal), "ms")
      res.metric("stream.trigger_ms", p50(_.trigger), "ms")
      res.metric("stream.batches", data.size, "count")
      res.metric("stream.nodata_batches", timedBatches.size - data.size, "count")
      res.metric("stream.state_rows_end", batches.last.stateRows, "count")
      res.metric("stream.state_mem_bytes_end", batches.last.stateMem, "bytes")
      val timedEvents = (nextFile - openFirst).toLong * EventsPerFile
      res.metric("stream.source_rows_per_event",
        timedBatches.map(_.p.numInputRows).sum.toDouble / timedEvents, "ratio")
      val overTol = data.count(b => math.abs(b.residual) > math.max(ResidualTolMs, ResidualTolFrac * b.trigger))
      res.metric("stream.residual_ms", p50(_.residual), "ms")
      res.metric("stream.residual_over_tol", overTol, "count")
      res.note("residual_tolerance", s"|trigger - (detect + planning + addBatch + wal)| <= " +
        s"max($ResidualTolMs ms, ${ResidualTolFrac * 100}% of trigger) per data batch")
      res.metric("sink.rows_written", events + dead + metricsRows, "count")
      res.metric("cache.blocks_pinned_after", storage.map(_.numCachedPartitions.toLong).sum, "count")
      res.metric("cache.bytes_pinned_after", storage.map(s => s.memSize + s.diskSize).sum, "bytes")

      timed.foreach { sink =>
        val appends = sink.synchronized(sink.appends.toList)
        def within(b: Batch) = appends.filter { case (_, s, _) => s >= b.startMs - 1 && s <= b.endMs + 1 }
        def tableP50(t: String) =
          Stats.median(data.flatMap(b => within(b).filter(_._1 == t).map { case (_, s, e) => e - s }))
        res.metric("sink.events_append_ms", tableP50("ecommerce_events"), "ms")
        res.metric("sink.dead_letter_append_ms", tableP50("dead_letter_events"), "ms")
        res.metric("sink.metrics_append_ms", tableP50("data_quality_metrics"), "ms")
        res.metric("sink.append_failures", sink.failures, "count")
        res.metric("ops.batch_self_ms",
          p50(b => b.addBatch - within(b).map { case (_, s, e) => e - s }.sum), "ms")
      }
      if (trace) {
        val spans = Main.spans
        batches.foreach { b =>
          val id = spans.record(s"batch ${b.p.batchId}", 0, spans.fromEpochMs(b.startMs), spans.fromEpochMs(b.endMs))
          timed.foreach(_.appends.filter { case (_, s, _) => s >= b.startMs - 1 && s <= b.endMs + 1 }
            .foreach { case (t, s, e) => spans.record(s"append $t", id, spans.fromEpochMs(s), spans.fromEpochMs(e)) })
        }
        due.foreach { case (k, d, m) => spans.record(s"drop ${fileName(k)}", 0, spans.fromEpochMs(d), spans.fromEpochMs(m)) }
        Files.write(work.resolve("batches.jsonl"), batches.map { b =>
          s"""{"batch":${b.p.batchId},"input_rows":${b.p.numInputRows},"log_offset":${b.logOffset},""" +
            s""""trigger_ms":${b.trigger},"detect_ms":${b.detect},"planning_ms":${b.planning},""" +
            s""""addbatch_ms":${b.addBatch},"wal_ms":${b.wal},"residual_ms":${b.residual},""" +
            s""""state_rows":${b.stateRows},"state_mem_bytes":${b.stateMem}}"""
        }.asJava)
      }
    } finally {
      if (query.isActive) query.stop()
    }
  }

  /** File name -> source log offset, from the file source's metadata log. */
  private def sourceLog(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val Entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Files.list(dir).iterator.asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => Entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }
}
