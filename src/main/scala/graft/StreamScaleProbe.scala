package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{DocIngest, Joins, SourceQuota, StateStores}

/** Streaming scale probe: drives the stateful streaming operators through a
  * ~1M-row file stream with the RocksDB state store on, and records what a
  * 100-TB review actually needs to see — rows/s AND the state-store row
  * count over time, because the scale contract of every one of these
  * operators is "state is bounded by the watermark/TTL, not by the stream
  * length". A probe that only measured throughput would miss the failure
  * mode that kills long-running streams: unbounded keyed state.
  *
  * Probes (all Trigger.AvailableNow over multi-file parquet input, so the
  * run is a deterministic sequence of micro-batches):
  *
  *  - `interval_join` — [[Joins.attribution]] (stream-stream inner interval
  *    join) over 1M events (10× sf0.1, range-partitioned by ts so file
  *    arrival approximates event-time order and the watermark advances).
  *    Both join sides hold keyed state; the watermark + time-range bound
  *    must keep max live state rows ≪ input rows.
  *  - `content_dedup` — [[graft.ops.Dedup.streamingContentDedup]]
  *    (dropDuplicatesWithinWatermark) over 1M docs: dedup state must track
  *    rate × watermark, not corpus size.
  *  - `source_quota` — [[SourceQuota.sourceQuota]] (transformWithState +
  *    TTL ValueState) over 1M docs: state is one counter per live source
  *    (bounded by distinct sources — single digits here — never by rows).
  *  - `doc_ingest` — the full [[DocIngest]] pipeline (watermarked dedup →
  *    Bloom gate → quality routing → metrics) over 1M docs: the end-to-end
  *    rows/s number for the ingest path, with the driver-side Bloom filter
  *    staying fixed-size across batches — now with a per-stage wall-clock
  *    breakdown in the artifact ([[DocIngest.StageTimings]]).
  *  - `dedup_restart` — kill the RocksDB+changelog dedup mid-stream,
  *    restart from its checkpoint, and assert the recovered run's output
  *    multiset equals an uninterrupted baseline's (recovery time and the
  *    kill point land in the artifact): the D4 recovery claim measured at
  *    probe volume instead of toy spec volume.
  *
  * Progress is accumulated via a [[ProgressTap]] listener, not a one-shot
  * `recentProgress` read (which caps at 100 entries and would undercount
  * long runs), and every complete-corpus probe asserts it actually drained
  * the generated input before recording itself as complete.
  *
  * Output: one JSON artifact (default STREAMPROBE.json in cwd, override
  * with SPARK_GRAFT_STREAMPROBE_OUT) with, per probe: input rows, output
  * rows, wall sec, rows/s, micro-batch count, and per-state-operator
  * max/final state rows + memory — committed each round so the
  * state-boundedness claim is diffable evidence, not prose.
  *
  * Run: sbt "runMain graft.StreamScaleProbe [eventMult] [docMult]"
  * (defaults 10 and 200 → 1M events and 1M docs from sf0.1).
  */
object StreamScaleProbe {

  /** Sink that only counts rows per table — the probe measures the
    * pipeline, not sink materialization (1M accepted docs as collected
    * Rows would measure driver heap instead).
    */
  final class CountingSink extends graft.sink.Sink {
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    // the count (a Spark job) runs OUTSIDE the lock — the loops submit
    // routing appends as concurrent jobs (ParJobs), and a lock held
    // across an action would serialize exactly what they parallelize
    override def append(df: DataFrame, table: String): Unit = {
      val n = df.count()
      synchronized { counts(table) += n }
    }
  }

  final case class StateOpStats(
      name: String, maxRows: Long, finalRows: Long, maxMemBytes: Long)

  final case class ProbeResult(
      name: String, inputRows: Long, outputRows: Long, sec: Double,
      batches: Int, state: Seq[StateOpStats], info: Option[String] = None)

  /** Accumulate EVERY progress update via a listener — `recentProgress`
    * alone is capped at `spark.sql.streaming.numRecentProgressUpdates`
    * (default 100) entries, so a long run would silently drop early
    * batches from the committed artifact (ADVICE r8). The listener buffers
    * all queries' events; callers filter by query id and merge with
    * `recentProgress` (belt and braces for delivery lag), deduping on
    * batchId.
    */
  private final class ProgressTap(
      spark: SparkSession) extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val buf =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(this)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      synchronized { buf += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def close(): Unit = spark.streams.removeListener(this)
    def forQuery(q: StreamingQuery): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      (synchronized(buf.toSeq).filter(_.id == q.id) ++ q.recentProgress.toSeq)
        .groupBy(_.batchId).toSeq.sortBy(_._1).map(_._2.head)
  }

  private def foldProgress(
      name: String,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      outputRows: Long, sec: Double, info: Option[String]): ProbeResult = {
    val inputRows = progress.map(_.numInputRows).sum
    // batches that processed data (AvailableNow emits a final empty tick;
    // TTL'd state can add more) — rows/s uses the wall between start and
    // drain detection, so it is conservative by up to one poll interval
    val batches = progress.count(_.numInputRows > 0)
    val opNames = progress.flatMap(_.stateOperators.map(_.operatorName)).distinct
    val state = opNames.map { op =>
      val series = progress.flatMap(_.stateOperators.filter(_.operatorName == op))
      StateOpStats(op,
        maxRows = series.map(_.numRowsTotal).max,
        finalRows = series.last.numRowsTotal,
        maxMemBytes = series.map(_.memoryUsedBytes).max)
    }
    val r = ProbeResult(name, inputRows, outputRows, sec, batches, state, info)
    println(f"[streamprobe] $name: ${r.inputRows} rows in ${r.sec}%.1fs " +
      f"(${r.inputRows / r.sec}%.0f rows/s, ${r.batches} batches, out=${r.outputRows}) " +
      r.state.map(s => s"${s.name}: max=${s.maxRows} final=${s.finalRows} rows").mkString("; ") +
      info.fold("")(" info=" + _))
    r
  }

  /** Run a streaming query to completion (AvailableNow) and fold its
    * listener-accumulated progress history into per-state-operator
    * max/final stats. `expectedInput >= 0` asserts the drain actually saw
    * the whole generated corpus — a transient two-empty-tick stall
    * mid-stream must fail the probe loudly, not commit a partial run's
    * numbers as complete (ADVICE r8).
    */
  private def runProbe(
      name: String, outputRows: () => Long, expectedInput: Long = -1L,
      info: () => Option[String] = () => None)(
      start: => StreamingQuery): ProbeResult = {
    val spark = SparkSession.active
    val tap = new ProgressTap(spark)
    try {
      val t0 = System.nanoTime()
      val q = start
      // Drain-and-stop rather than awaitTermination: a query holding TTL'd
      // state (source_quota) keeps scheduling batches under AvailableNow
      // until the TTL clock runs out — and even processAllAvailable blocks
      // on that self-triggering. The probe's scope is the real input, so
      // poll until data has been seen and the latest ticks are empty (or
      // the query terminated on its own), then stop.
      var drained = false
      val deadline = System.nanoTime() + 1800L * 1000000000L
      while (!drained && q.isActive && System.nanoTime() < deadline) {
        Thread.sleep(2000)
        val ps = tap.forQuery(q)
        val seen = ps.map(_.numInputRows).sum
        drained = ps.length >= 3 && seen > 0 &&
          ps.takeRight(2).forall(_.numInputRows == 0) &&
          (expectedInput < 0 || seen >= expectedInput)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (q.isActive) q.stop()
      q.awaitTermination()
      Thread.sleep(500) // let the listener flush the final events
      val progress = tap.forQuery(q)
      val inputRows = progress.map(_.numInputRows).sum
      if (expectedInput >= 0 && inputRows != expectedInput)
        sys.error(s"[streamprobe] $name drained $inputRows rows, expected " +
          s"$expectedInput — partial run, refusing to record it as complete")
      foldProgress(name, progress, outputRows(), sec, info())
    } finally tap.close()
  }

  def main(args: Array[String]): Unit = {
    val eventMult = args.headOption.map(_.toInt).getOrElse(10)
    val docMult = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val spark = graft.util.SessionTuning.local(defaultCpus = 32)
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    StateStores.useRocksDB(spark) // the 100-TB state-store configuration
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/graft-streamprobe"
    val Files = 40 // per-trigger 4 → 10 micro-batches

    // ---- inputs (kept across runs — delete $out to regenerate) -----------
    // events ×eventMult: same users (denser timelines), ts jittered per
    // copy; range-partitioned by ts so file listing order ≈ event-time
    // order and the watermark advances realistically between batches.
    val haveInputs = new java.io.File(s"$out/docs/_SUCCESS").exists() &&
      new java.io.File(s"$out/events/_SUCCESS").exists()
    val copies = explode(sequence(lit(0), lit(eventMult - 1))).as("k")
    if (!haveInputs) {
    graft.sources.Tables.events(spark, base)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), copies)
      .select((col("event_id") * eventMult + col("k")).as("event_id"),
        expr("ts + make_interval(0, 0, 0, 0, 0, 0, k * 7)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .repartitionByRange(Files, col("ts"))
      .write.mode("overwrite").parquet(s"$out/events")
    // docs ×docMult with a synthetic ingest_ts advancing one MINUTE per
    // copy wave: the stream spans ~docMult minutes of event time — many
    // multiples of the 10-minute dedup watermark, so eviction must actually
    // happen for the state-rows metric to stay bounded (a span shorter than
    // the watermark would hold every hash forever and prove nothing).
    // Every 20th copy reuses the previous copy's text → ~5% true
    // in-watermark (1 minute apart) duplicates for the dedup stages.
    val dcopies = explode(sequence(lit(0), lit(docMult - 1))).as("k")
    graft.sources.Tables.documents(spark, base)
      .select(col("doc_id"), col("text"), col("source"), dcopies)
      .select((col("doc_id") * docMult + col("k")).as("doc_id"),
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, k, 0)")
          .as("ingest_ts"),
        concat(col("text"), lit(" uniq"),
          when(pmod(col("k"), lit(20)) === 1, col("doc_id") * docMult + col("k") - 1)
            .otherwise(col("doc_id") * docMult + col("k"))).as("text"),
        col("source"))
      .repartitionByRange(Files, col("ingest_ts"))
      .write.mode("overwrite").parquet(s"$out/docs")
    // The file source admits files in MTIME order, and 32 parallel write
    // tasks finish in arbitrary order — without re-stamping, batch arrival
    // is random in event time and most rows land behind the watermark as
    // "late" drops. part-file NAME order IS range (= time) order, so stamp
    // mtimes along it to make arrival ≈ event-time order, the shape a real
    // time-partitioned ingest directory has.
    for (dir <- Seq(s"$out/events", s"$out/docs")) {
      val fs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - fs.length * 2000L
      fs.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 2000L) }
    }
    }

    val eventSchema = spark.read.parquet(s"$out/events").schema
    val docSchema = spark.read.parquet(s"$out/docs").schema
    // exact corpus sizes → drain assertions (a partial run must fail the
    // probe, not record itself as complete)
    val nEvents = spark.read.parquet(s"$out/events").count()
    val nDocs = spark.read.parquet(s"$out/docs").count()
    def eventStream() = spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", Files / 10).parquet(s"$out/events")
    def docStream() = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", Files / 10).parquet(s"$out/docs")
    def ckpt(tag: String): String = {
      val d = s"$out/ckpt-$tag"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)); d
    }

    val results = scala.collection.mutable.ArrayBuffer[ProbeResult]()

    // SPARK_GRAFT_PROBE_ONLY=media_ingest[,crawl_loop,...] runs a subset
    // (iteration aid — the committed STREAMPROBE.json is always a full
    // run; point SPARK_GRAFT_STREAMPROBE_OUT elsewhere when filtering)
    val onlyProbes: Set[String] = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def want(name: String): Boolean = onlyProbes.isEmpty || onlyProbes(name)

    // ---- probe 1: stream-stream interval join ----------------------------
    if (want("interval_join")) locally {
      @volatile var n = 0L
      // the self-join reads the source once per side → 2 × corpus
      results += runProbe("interval_join", () => n, expectedInput = 2 * nEvents) {
        val s = eventStream()
        Joins.attribution(s, s).writeStream
          .option("checkpointLocation", ckpt("join"))
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: DataFrame, _: Long) => n += b.count()).start()
      }
    }

    // ---- probe 2: watermarked content dedup ------------------------------
    if (want("content_dedup")) locally {
      @volatile var n = 0L
      results += runProbe("content_dedup", () => n, expectedInput = nDocs) {
        graft.ops.Dedup.streamingContentDedup(docStream())
          .writeStream
          .option("checkpointLocation", ckpt("dedup"))
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: DataFrame, _: Long) => n += b.count()).start()
      }
    }

    // ---- probe 3: per-source quota (transformWithState + TTL) ------------
    if (want("source_quota")) locally {
      @volatile var n = 0L
      results += runProbe("source_quota", () => n, expectedInput = nDocs) {
        SourceQuota.sourceQuota(docStream(), quota = 100000L)
          .writeStream
          .option("checkpointLocation", ckpt("quota"))
          .trigger(Trigger.AvailableNow())
          .foreachBatch(
            (b: org.apache.spark.sql.Dataset[SourceQuota.QuotaDecision], _: Long) =>
              n += b.count()).start()
      }
    }

    // ---- probe 4: full doc-ingest pipeline -------------------------------
    if (want("doc_ingest")) locally {
      val sink = new CountingSink
      val timings = new DocIngest.StageTimings
      // per-stage breakdown lands in the artifact: the round-8 finding was
      // 28k rows/s end-to-end vs 98k for dedup alone with nothing saying
      // where the 72% went
      def stagesJson: Option[String] = Some(timings.snapshot.map {
        case (stage, c, s) => f""""$stage": {"batches": $c, "sec": $s%.2f}"""
      }.mkString("{", ", ", "}"))
      results += runProbe("doc_ingest",
        () => sink.counts("accepted_documents") + sink.counts("rejected_documents"),
        expectedInput = nDocs, info = () => stagesJson) {
        DocIngest.startAvailableNow(spark,
          docStream().select(col("doc_id"), col("ingest_ts"), col("text")),
          ckpt("ingest"), sink, timings)
      }
    }

    // ---- probe 4c: streaming continuous-crawl dedup loop (r10 VERDICT #3)
    // CrawlDedup at probe volume: per-batch verdicts against the persisted
    // index, kept docs written BACK so later batches resolve against them,
    // periodic in-place compaction mid-stream. Recorded per batch: wall
    // seconds and the kept/dup split — the flatness claim as data. After
    // the drain, a fixed probe batch's verdicts are compared before and
    // after one more compaction (must be identical).
    if (want("crawl_loop")) locally {
      val sink = new CountingSink
      val ixPath = s"$out/crawl-index"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ixPath))
      graft.streaming.CrawlDedup.initIndex(spark, ixPath)
      // per-stage attribution (r16, VERDICT r15 #7): CrawlDedup.processBatch
      // has timed its stages since r10 — the probe just never passed a
      // collector, so the committed artifact could not say whether the
      // ~10 k rows/s plateau is intra-batch dedup, the verdict joins, the
      // write-back, or compaction
      val timings = new DocIngest.StageTimings
      val perBatch = scala.collection.mutable.ArrayBuffer[(graft.streaming.CrawlDedup.CrawlBatchMetrics, Double)]()
      var lastT = System.nanoTime()
      def crawlInfo: Option[String] = {
        val stages = timings.snapshot.map {
          case (stage, c, s) => f""""$stage": {"batches": $c, "sec": $s%.2f}"""
        }.mkString("{", ", ", "}")
        val batches = perBatch.map { case (m, s) =>
          f"""{"batch": ${m.batchId}, "n_in": ${m.nIn}, "kept": ${m.nKept}, "exact_dup": ${m.nExactDup}, "near_dup": ${m.nNearDup}, "compacted": ${m.compacted}, "sec": $s%.2f}"""
        }.mkString("[", ", ", "]")
        // verdict stability across compaction: one probe batch, before/after
        val probeDocs = spark.read.parquet(s"$out/docs")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 1000 === 0)
          .withColumn("doc_id", col("doc_id") + lit(900000000L))
        def verdictSet() = graft.ops.NearDup
          .incrementalDedupAgainstIndex(probeDocs, ixPath)
          .collect().map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
        val before = verdictSet()
        graft.ops.NearDup.compactDedupIndex(ixPath)
        val after = verdictSet()
        val ixRows = spark.read.parquet(s"$ixPath/norm").count()
        Some(s"""{"stages": $stages, "batches": $batches, """ +
          s""""index_rows": $ixRows, """ +
          s""""probe_verdicts": ${before.size}, """ +
          s""""verdicts_stable_across_compaction": ${before == after}}""")
      }
      results += runProbe("crawl_loop",
        () => sink.counts("accepted_documents") + sink.counts("duplicate_documents"),
        expectedInput = nDocs, info = () => crawlInfo) {
        graft.streaming.CrawlDedup.start(spark,
          docStream().select(col("doc_id"), col("text")),
          ckpt("crawl"), ixPath, sink, compactEvery = 4,
          trigger = Some(Trigger.AvailableNow()), timings = timings,
          metricsOut = { m =>
            val now = System.nanoTime()
            perBatch += ((m, (now - lastT) / 1e9))
            lastT = now
          })
      }
    }

    // ---- probe 4d: streaming MEDIA ingest (r12, VERDICT r11 #6) ----------
    // The image branch at probe volume: real 24×16 PNGs in duplicate
    // waves of 5 (wave head canonical, the rest exact copies) plus audio
    // passthrough and corrupt dead-letter rows, drained through the
    // declared-kind gate → decode/dHash → persisted-signature verdicts →
    // write-back loop. Per-stage timings land in the artifact; per-batch
    // seconds must stay flat (each batch = one decode pass + batch-sized
    // joins against a streaming scan of the signature index).
    if (want("media_ingest")) locally {
      import spark.implicits._
      val mediaPath = s"$out/media"
      val mediaMult = math.max(5, docMult / 5) // 40 at the default docMult
      if (!new java.io.File(s"$mediaPath/_SUCCESS").exists()) {
        graft.sources.Tables.documents(spark, base).select(col("doc_id"))
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(mediaMult - 1))).as("k"))
          .select((col("doc_id") * mediaMult + col("k")).as("media_id"),
            (col("doc_id") * mediaMult + col("k") - pmod(col("k"), lit(5)))
              .as("variant"),
            pmod(col("doc_id") * mediaMult + col("k"), lit(41)).as("cls"))
          .repartitionByRange(Files, col("media_id"))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            it.map { case (id, v, cls) =>
              if (cls == 40L) (id, "image", "not a png".getBytes) // dead-letter
              else if (cls >= 37L) (id, "text", Array[Byte](1, 2, 3)) // passthrough filler (audio is EXAMINED since r16)
              else (id, "image", graft.ops.Multimodal.MediaCodec.encodePng(
                24, 16,
                // wrap-dense gradient whose phase AND slope derive from
                // the wave variant: distinct variants hash far apart
                // (structure changes), wave members hash identical
                (x, y) => ((x + (v % 97).toInt) * (73 + ((v / 97) % 89).toInt)
                  + y * 17) % 251))
            }
          }
          .toDF("media_id", "kind", "content")
          .write.mode("overwrite").parquet(mediaPath)
        val fs = new java.io.File(mediaPath).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val t0 = System.currentTimeMillis() - fs.length * 2000L
        fs.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 2000L) }
      }
      val mediaSchema = spark.read.parquet(mediaPath).schema
      val nMedia = spark.read.parquet(mediaPath).count()
      val ixPath = s"$out/media-index"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ixPath))
      graft.streaming.MediaIngest.initIndex(spark, ixPath)
      val sink = new CountingSink
      val timings = new DocIngest.StageTimings
      val perBatch = scala.collection.mutable.ArrayBuffer[(graft.streaming.MediaIngest.MediaBatchMetrics, Double)]()
      var lastT = System.nanoTime()
      def mediaInfo: Option[String] = {
        val stages = timings.snapshot.map {
          case (stage, c, s) => f""""$stage": {"batches": $c, "sec": $s%.2f}"""
        }.mkString("{", ", ", "}")
        val batches = perBatch.map { case (m, s) =>
          f"""{"batch": ${m.batchId}, "n_in": ${m.nIn}, "images": ${m.nImages}, "videos": ${m.nVideos}, "kept": ${m.nAccepted - m.nPassthrough}, "exact_dup": ${m.nExactDup}, "near_dup": ${m.nNearDup}, "decode_err": ${m.nDecodeErr}, "sec": $s%.2f}"""
        }.mkString("[", ", ", "]")
        val ixRows = spark.read.parquet(s"$ixPath/sig").count()
        val decodes = graft.ops.Multimodal.MediaCodec.decodeCalls.get()
        Some(s"""{"stages": $stages, "batches": $batches, "index_rows": $ixRows, "decode_calls": $decodes}""")
      }
      graft.ops.Multimodal.MediaCodec.decodeCalls.set(0)
      results += runProbe("media_ingest",
        () => sink.counts("accepted_media") + sink.counts("duplicate_media") +
          sink.counts("rejected_media"),
        expectedInput = nMedia, info = () => mediaInfo) {
        graft.streaming.MediaIngest.start(spark,
          spark.readStream.schema(mediaSchema)
            .option("maxFilesPerTrigger", Files / 10).parquet(mediaPath),
          ckpt("media"), ixPath, sink,
          trigger = Some(Trigger.AvailableNow()), timings = timings,
          metricsOut = { m =>
            val now = System.nanoTime()
            perBatch += ((m, (now - lastT) / 1e9))
            lastT = now
          })
      }
    }

    // ---- probe 4a': media ingest at PRODUCTION image weight, pre-gate A/B
    // The standard media probe's 24x16 PNGs decode in ~tens of µs, so
    // the byte-level pre-gate's decode savings vanish under micro-batch
    // fixed job costs there (and r12's committed "decode-bound" split
    // proved contention-skewed: the same code + input re-measured 4x
    // faster idle). This probe sizes images like crawl reality (1600x1200
    // ≈ 2 Mpx, tens of ms of codec per image) and runs the SAME
    // duplicate-wave stream twice on the same code — payloadGate on vs
    // off — so the committed artifact carries the pre-gate's causal
    // effect instead of a cross-round host-noise ratio.
    if (want("media_ingest_heavy")) locally {
      import spark.implicits._
      val mediaPath = s"$out/media-heavy"
      val multH = 30 // 150k rows over 5k docs, waves of 5
      if (!new java.io.File(s"$mediaPath/_SUCCESS").exists()) {
        graft.sources.Tables.documents(spark, base).select(col("doc_id"))
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(multH - 1))).as("k"))
          .select((col("doc_id") * multH + col("k")).as("media_id"),
            (col("doc_id") * multH + col("k") - pmod(col("k"), lit(5)))
              .as("variant"),
            pmod(col("doc_id") * multH + col("k"), lit(41)).as("cls"))
          .repartitionByRange(Files, col("media_id"))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            it.map { case (id, v, cls) =>
              if (cls == 40L) (id, "image", "not a png".getBytes)
              else if (cls >= 37L) (id, "text", Array[Byte](1, 2, 3)) // passthrough filler (audio is EXAMINED since r16)
              else (id, "image", graft.ops.Multimodal.MediaCodec.encodePng(
                1600, 1200,
                (x, y) => ((x + (v % 97).toInt) * (73 + ((v / 97) % 89).toInt)
                  + y * 17) % 251))
            }
          }
          .toDF("media_id", "kind", "content")
          .write.mode("overwrite").parquet(mediaPath)
        val fs = new java.io.File(mediaPath).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val t0 = System.currentTimeMillis() - fs.length * 2000L
        fs.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 2000L) }
      }
      val mediaSchema = spark.read.parquet(mediaPath).schema
      val nMedia = spark.read.parquet(mediaPath).count()
      // arm order alternates with the repetition index (ADVICE r13): a
      // fixed gate-first order let monotone host-contention drift bias
      // one arm systematically across a multi-run median (the committed
      // r13 control arm's 264.7 s outlier). The A/B driver sets
      // SPARK_GRAFT_AB_REP=0,1,2,... per run; odd reps run the control
      // arm first so per-run drift cancels in the medians.
      val abRep = sys.env.getOrElse("SPARK_GRAFT_AB_REP", "0").toInt
      val armOrder = if (abRep % 2 == 0) Seq(true, false) else Seq(false, true)
      for (gate <- armOrder) {
        val ixPath = s"$out/media-heavy-index"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ixPath))
        graft.streaming.MediaIngest.initIndex(spark, ixPath)
        val sink = new CountingSink
        val timings = new DocIngest.StageTimings
        val perBatchH = scala.collection.mutable.ArrayBuffer[
          graft.streaming.MediaIngest.MediaBatchMetrics]()
        graft.ops.Multimodal.MediaCodec.decodeCalls.set(0)
        def infoH: Option[String] = {
          val stages = timings.snapshot.map {
            case (stage, c, s) => f""""$stage": {"batches": $c, "sec": $s%.2f}"""
          }.mkString("{", ", ", "}")
          val batches = perBatchH.map { m =>
            s"""{"batch": ${m.batchId}, "n_in": ${m.nIn}, """ +
              s""""kept": ${m.nAccepted - m.nPassthrough}, """ +
              s""""exact_dup": ${m.nExactDup}, "near_dup": ${m.nNearDup}, """ +
              s""""decode_err": ${m.nDecodeErr}}"""
          }.mkString("[", ", ", "]")
          val ixRows = spark.read.parquet(s"$ixPath/sig").count()
          // order-independent content digest per index relation: XOR of
          // xxhash64 over whole rows. Equal digests across the A/B arms =
          // bit-identical index contents (the r14 gate-independence
          // claim), checkable from the committed artifact alone.
          val digests = Seq("sig", "bands", "payload", "vframes",
            "asig", "abands").map { rel =>
            val d = spark.read.parquet(s"$ixPath/$rel")
              .select(xxhash64(struct(col("*"))).as("h"))
              .agg(expr("bit_xor(h)")).head()
            s""""$rel": ${if (d.isNullAt(0)) 0L else d.getLong(0)}"""
          }.mkString("{", ", ", "}")
          val decodes = graft.ops.Multimodal.MediaCodec.decodeCalls.get()
          Some(s"""{"payload_gate": $gate, "stages": $stages, """ +
            s""""batches": $batches, """ +
            s""""index_rows": $ixRows, "index_digests": $digests, """ +
            s""""decode_calls": $decodes}""")
        }
        results += runProbe(
          if (gate) "media_ingest_heavy" else "media_ingest_heavy_nogate",
          () => sink.counts("accepted_media") + sink.counts("duplicate_media") +
            sink.counts("rejected_media"),
          expectedInput = nMedia, info = () => infoH) {
          graft.streaming.MediaIngest.start(spark,
            spark.readStream.schema(mediaSchema)
              .option("maxFilesPerTrigger", Files / 5).parquet(mediaPath),
            ckpt(s"media-heavy-$gate"), ixPath, sink,
            trigger = Some(Trigger.AvailableNow()), timings = timings,
            metricsOut = { m => perBatchH += m; () },
            payloadGate = gate)
        }
      }
    }

    // ---- probe 4b: streaming VIDEO ingest (frame-hash containment) -------
    // The r13 video branch at probe volume: waves of 5 byte-identical
    // clips (the payload pre-gate path), cross-wave shared-content
    // classes whose clips are frame-PREFIXES of each other (the
    // containment path: a shorter clip of an indexed class is a
    // near_dup; a longer one has novel frames and is kept), plus audio
    // passthrough and dead-letter rows — per-stage timings in the
    // artifact beside the image row.
    if (want("media_ingest_video")) locally {
      import spark.implicits._
      val vidPath = s"$out/media-video"
      val vidMult = math.max(5, docMult / 5)
      if (!new java.io.File(s"$vidPath/_SUCCESS").exists()) {
        graft.sources.Tables.documents(spark, base).select(col("doc_id"))
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(vidMult - 1))).as("k"))
          .select((col("doc_id") * vidMult + col("k")).as("media_id"),
            ((col("doc_id") * vidMult + col("k") - pmod(col("k"), lit(5)))
              / 5).cast("long").as("wave"),
            pmod(col("doc_id") * vidMult + col("k"), lit(41)).as("cls"))
          .repartitionByRange(Files, col("media_id"))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            it.map { case (id, wv, cls) =>
              if (cls == 40L) (id, "video", "not a y4m".getBytes)
              else if (cls >= 37L) (id, "text", Array[Byte](1, 2, 3)) // passthrough filler (audio is EXAMINED since r16)
              else {
                // shared-content class + wave-independent frame count:
                // same class ⇒ same frame pixels, so shorter clips are
                // strict frame-set prefixes of longer ones
                val c = (wv % 200L).toInt
                val n = 3 + ((wv / 200L) % 4L).toInt
                (id, "video", graft.ops.Multimodal.MediaCodec.encodeY4m(
                  12, 10, n,
                  (f, x, y) => ((x + 16 * f) * (73 + c) + y * 17) % 251))
              }
            }
          }
          .toDF("media_id", "kind", "content")
          .write.mode("overwrite").parquet(vidPath)
        val fs = new java.io.File(vidPath).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val t0 = System.currentTimeMillis() - fs.length * 2000L
        fs.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 2000L) }
      }
      val vidSchema = spark.read.parquet(vidPath).schema
      val nVid = spark.read.parquet(vidPath).count()
      val ixPath = s"$out/media-video-index"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ixPath))
      graft.streaming.MediaIngest.initIndex(spark, ixPath)
      val sink = new CountingSink
      val timings = new DocIngest.StageTimings
      val perBatch = scala.collection.mutable.ArrayBuffer[(graft.streaming.MediaIngest.MediaBatchMetrics, Double)]()
      var lastT = System.nanoTime()
      def vidInfo: Option[String] = {
        val stages = timings.snapshot.map {
          case (stage, c, s) => f""""$stage": {"batches": $c, "sec": $s%.2f}"""
        }.mkString("{", ", ", "}")
        val batches = perBatch.map { case (m, s) =>
          f"""{"batch": ${m.batchId}, "n_in": ${m.nIn}, "videos": ${m.nVideos}, "kept": ${m.nAccepted - m.nPassthrough}, "exact_dup": ${m.nExactDup}, "near_dup": ${m.nNearDup}, "decode_err": ${m.nDecodeErr}, "sec": $s%.2f}"""
        }.mkString("[", ", ", "]")
        val ixClips = spark.read.parquet(s"$ixPath/vframes")
          .select("ix_id").distinct().count()
        Some(s"""{"stages": $stages, "batches": $batches, "index_clips": $ixClips}""")
      }
      results += runProbe("media_ingest_video",
        () => sink.counts("accepted_media") + sink.counts("duplicate_media") +
          sink.counts("rejected_media"),
        expectedInput = nVid, info = () => vidInfo) {
        graft.streaming.MediaIngest.start(spark,
          spark.readStream.schema(vidSchema)
            .option("maxFilesPerTrigger", Files / 10).parquet(vidPath),
          ckpt("media-video"), ixPath, sink,
          trigger = Some(Trigger.AvailableNow()), timings = timings,
          metricsOut = { m =>
            val now = System.nanoTime()
            perBatch += ((m, (now - lastT) / 1e9))
            lastT = now
          })
      }
    }

    // ---- probe 4c: streaming AUDIO ingest (band-pair fingerprints) -------
    // The r16 audio branch at probe volume (VERDICT r15 #1): waves of 5
    // byte-identical WAVs (the payload pre-gate path), cross-wave shared
    // PCM-content classes in two amplitude "masters" — the full-scale
    // original and a half-amplitude re-master whose fingerprint sits
    // within the Hamming radius (the q118 benign-transform class: a
    // same-class, different-master clip must verdict near_dup against
    // the asig/abands index) — plus text passthrough and dead-letter
    // rows. Per-stage timings land in the artifact; per-batch seconds
    // must stay flat (one decode pass + batch-sized band-pair joins
    // against a streaming scan of the fingerprint index).
    if (want("media_ingest_audio")) locally {
      import spark.implicits._
      val audPath = s"$out/media-audio"
      // rounded UP to a multiple of 5: the wave key below groups clips in
      // aligned runs of 5 byte-identical payloads, and a non-multiple
      // audMult (e.g. docMult=32 → 6) silently breaks that geometry for
      // the trailing clip of every doc (ADVICE r16)
      val audMult = ((math.max(5, docMult / 5) + 4) / 5) * 5
      if (!new java.io.File(s"$audPath/_SUCCESS").exists()) {
        graft.sources.Tables.documents(spark, base).select(col("doc_id"))
          .select(col("doc_id"),
            explode(sequence(lit(0), lit(audMult - 1))).as("k"))
          .select((col("doc_id") * audMult + col("k")).as("media_id"),
            ((col("doc_id") * audMult + col("k") - pmod(col("k"), lit(5)))
              / 5).cast("long").as("wave"),
            pmod(col("doc_id") * audMult + col("k"), lit(41)).as("cls"))
          .repartitionByRange(Files, col("media_id"))
          .as[(Long, Long, Long)]
          .mapPartitions { it =>
            it.map { case (id, wv, cls) =>
              if (cls == 40L) (id, "audio", "not a wav".getBytes) // dead-letter
              else if (cls >= 37L) (id, "text", Array[Byte](1, 2, 3))
              else {
                // shared-content class (splitmix64 noise — sawtooth
                // formulas make every same-length class fingerprint-
                // close; hashed samples put cross-class Hamming ≥ 14,
                // measured over all 200 classes) + wave-independent
                // MASTER, so every cross-batch duplicate path is
                // exercised: master 0 is a 16 kHz container re-encode
                // of master 1 (same PCM ⇒ identical fingerprint,
                // different bytes — the asig exact path); master 2 is
                // a 3-window DROPOUT re-master (zeroed span ⇒
                // fingerprint Hamming mostly 1–3 — the abands near
                // path; amplitude scaling is fp-invariant by design,
                // so a dropout is the probe's benign NEAR transform);
                // same (class, master) across waves is byte-identical
                // (the payload-index path)
                def mix(z0: Long): Long = {
                  var z = z0 + 0x9e3779b97f4a7c15L
                  z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
                  z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
                  z ^ (z >>> 31)
                }
                val c = (wv % 200L).toInt
                val m = ((wv / 200L) % 3L).toInt
                val rate = if (m == 0) 16000f else 8000f
                val n = 1500 + (c % 7) * 100
                val pcm = Array.tabulate(n)(i =>
                  ((mix(c * 100003L + i) & 0xffffL) - 32768L).toShort)
                if (m == 2) {
                  var i = 10 * n / 65
                  while (i < 13 * n / 65) { pcm(i) = 0; i += 1 }
                }
                (id, "audio",
                  graft.ops.Multimodal.MediaCodec.encodeWav(pcm, rate))
              }
            }
          }
          .toDF("media_id", "kind", "content")
          .write.mode("overwrite").parquet(audPath)
        val fs = new java.io.File(audPath).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val t0 = System.currentTimeMillis() - fs.length * 2000L
        fs.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 2000L) }
      }
      val audSchema = spark.read.parquet(audPath).schema
      val nAud = spark.read.parquet(audPath).count()
      val ixPath = s"$out/media-audio-index"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ixPath))
      graft.streaming.MediaIngest.initIndex(spark, ixPath)
      val sink = new CountingSink
      val timings = new DocIngest.StageTimings
      val perBatch = scala.collection.mutable.ArrayBuffer[(graft.streaming.MediaIngest.MediaBatchMetrics, Double)]()
      var lastT = System.nanoTime()
      def audInfo: Option[String] = {
        val stages = timings.snapshot.map {
          case (stage, c, s) => f""""$stage": {"batches": $c, "sec": $s%.2f}"""
        }.mkString("{", ", ", "}")
        val batches = perBatch.map { case (m, s) =>
          f"""{"batch": ${m.batchId}, "n_in": ${m.nIn}, "audios": ${m.nAudios}, "kept": ${m.nAccepted - m.nPassthrough}, "exact_dup": ${m.nExactDup}, "near_dup": ${m.nNearDup}, "decode_err": ${m.nDecodeErr}, "sec": $s%.2f}"""
        }.mkString("[", ", ", "]")
        val ixClips = spark.read.parquet(s"$ixPath/asig").count()
        // the A/B digest contract extended to the audio relations
        // (VERDICT r15 #1): order-independent content digests, same
        // formula as the heavy probe's
        val digests = Seq("asig", "abands", "payload").map { rel =>
          val d = spark.read.parquet(s"$ixPath/$rel")
            .select(xxhash64(struct(col("*"))).as("h"))
            .agg(expr("bit_xor(h)")).head()
          s""""$rel": ${if (d.isNullAt(0)) 0L else d.getLong(0)}"""
        }.mkString("{", ", ", "}")
        val decodes = graft.ops.Multimodal.MediaCodec.decodeCalls.get()
        Some(s"""{"stages": $stages, "batches": $batches, """ +
          s""""index_clips": $ixClips, "index_digests": $digests, """ +
          s""""decode_calls": $decodes}""")
      }
      graft.ops.Multimodal.MediaCodec.decodeCalls.set(0)
      results += runProbe("media_ingest_audio",
        () => sink.counts("accepted_media") + sink.counts("duplicate_media") +
          sink.counts("rejected_media"),
        expectedInput = nAud, info = () => audInfo) {
        graft.streaming.MediaIngest.start(spark,
          spark.readStream.schema(audSchema)
            .option("maxFilesPerTrigger", Files / 10).parquet(audPath),
          ckpt("media-audio"), ixPath, sink,
          trigger = Some(Trigger.AvailableNow()), timings = timings,
          metricsOut = { m =>
            val now = System.nanoTime()
            perBatch += ((m, (now - lastT) / 1e9))
            lastT = now
          })
      }
    }

    // ---- probe 5: checkpoint kill + restart recovery ---------------------
    // The D4 claim at probe volume: run the RocksDB+changelog watermarked
    // dedup to completion for a baseline fingerprint, then re-run against a
    // fresh checkpoint, STOP the query mid-stream, restart from the same
    // checkpoint, and drain. Output is collected per batchId (a replayed
    // batch overwrites its slot — the documented idempotent-foreachBatch
    // recipe), so the final multiset must equal the uninterrupted run's:
    // duplicates whose first-seen row landed BEFORE the kill are still
    // dropped after it only if the dedup state actually survived restart.
    if (want("dedup_restart")) locally {
      import scala.collection.concurrent.TrieMap
      // order-free multiset fingerprint: (rows, Σid, Σid²)
      def fingerprint(b: DataFrame): (Long, Long, Long) = {
        val r = b.agg(count(lit(1)), sum(col("doc_id")),
          sum(col("doc_id") * col("doc_id"))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))
      }
      def dedupQuery(ck: String, slots: TrieMap[Long, (Long, Long, Long)]) =
        graft.ops.Dedup.streamingContentDedup(docStream())
          .writeStream
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: DataFrame, id: Long) => { slots(id) = fingerprint(b); () })
          .start()
      def total(slots: TrieMap[Long, (Long, Long, Long)]): (Long, Long, Long) =
        slots.values.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
          (a + x, b + y, c + z) }

      // baseline: uninterrupted run
      val base = TrieMap[Long, (Long, Long, Long)]()
      val qb = dedupQuery(ckpt("restart-base"), base)
      qb.awaitTermination()
      val baseline = total(base)

      // interrupted run: stop after ~half the input, then restart
      val slots = TrieMap[Long, (Long, Long, Long)]()
      val ck = ckpt("restart")
      val t0 = System.nanoTime()
      val q1 = dedupQuery(ck, slots)
      while (q1.isActive && slots.values.map(_._1).sum < nDocs / 2)
        Thread.sleep(200)
      val killedAfter = slots.values.map(_._1).sum
      q1.stop(); q1.awaitTermination()
      val tKill = System.nanoTime()
      val tap2 = new ProgressTap(spark)
      try {
        val q = dedupQuery(ck, slots)
        // recovery time: restart → first batch committed
        while (q.isActive && !tap2.forQuery(q).exists(_.numInputRows > 0))
          Thread.sleep(200)
        val recoverySec = (System.nanoTime() - tKill) / 1e9
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        val got = total(slots)
        val ok = got == baseline
        if (!ok)
          System.err.println(s"[streamprobe] RESTART MISMATCH: baseline=$baseline got=$got")
        results += foldProgress("dedup_restart", tap2.forQuery(q), got._1, sec,
          Some(f"""{"baseline_rows": ${baseline._1}, "restart_rows": ${got._1}, """ +
            f""""killed_after_rows": $killedAfter, "recovery_sec": $recoverySec%.2f, """ +
            f""""output_equals_baseline": $ok}"""))
        if (!ok) sys.error("dedup restart output differs from uninterrupted run")
      } finally tap2.close()
    }

    // ---- artifact ---------------------------------------------------------
    val outFile = sys.env.getOrElse("SPARK_GRAFT_STREAMPROBE_OUT", "STREAMPROBE.json")
    val body = results.map { r =>
      val st = r.state.map(s =>
        f"""      {"operator": "${s.name}", "max_rows": ${s.maxRows}, "final_rows": ${s.finalRows}, "max_mem_bytes": ${s.maxMemBytes}}""")
        .mkString("[\n", ",\n", "\n    ]")
      val extra = r.info.fold("")(j => s""", "info": $j""")
      f"""  {"probe": "${r.name}", "input_rows": ${r.inputRows}, "output_rows": ${r.outputRows}, "sec": ${r.sec}%.2f, "rows_per_sec": ${r.inputRows / r.sec}%.0f, "batches": ${r.batches}, "state_operators": $st$extra}"""
    }.mkString(",\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"""{"event_mult": $eventMult, "doc_mult": $docMult, "state_store": "rocksdb", "probes": [\n$body\n]}\n""")
    println(s"[streamprobe] wrote $outFile")
    spark.stop()
  }
}
