package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.NearDup
import graft.sink.Sink
import graft.util.CacheScope

/** The continuous-crawl dedup LOOP as a streaming query (r10 VERDICT #3
  * — until r11 the loop's pieces existed only as batch code driven by
  * specs): each micro-batch of crawled documents gets incremental
  * verdicts against the PERSISTED dedup index
  * ([[NearDup.incrementalDedupAgainstIndex]] — exact norm-hash equi-join
  * + hub-budgeted LSH candidates + exact-Jaccard verify), kept documents
  * are appended BACK to the index ([[NearDup.appendDedupIndex]]) so the
  * next batch's verdicts see them, and every `compactEvery` batches the
  * index is compacted in place ([[NearDup.compactDedupIndex]] — checked
  * swap, auto-recovery) so LSM append drift never accumulates unbounded.
  * Kept docs land in the accepted sink; duplicates land in the rejected
  * sink with their verdict and canonical `dup_of`.
  *
  * Scale shape per batch (measured flat 0.7–0.9 s across a 200×
  * index-size range in the r10 probes, now exercised through the
  * streaming wiring by [[graft.CrawlProbe]]): one shingle pass over the
  * batch, batch-sized shuffles, one streaming scan of the index
  * relations — never an index-sized window/sort/exchange. The index
  * write-back is a batch-sized parquet append. Compaction cost tracks
  * the INDEX (one stored-signature pass + one budget window), amortized
  * over `compactEvery` batches.
  *
  * Same-batch duplicates (r12 — closing the r11 documented limitation):
  * every micro-batch first resolves WITHIN itself
  * ([[NearDup.intraBatchDedup]] — exact norm-hash canonicals, then
  * verified minhash near-dups among the exact survivors), so only
  * in-batch canonicals face the index and same-batch copies route to the
  * duplicate sink with `dup_of` at the chain's ROOT (r13, ADVICE r12):
  * if a copy's in-batch canonical itself duplicates the index, the
  * sinked `dup_of` is resolved through the chain
  * ([[NearDup.resolveDupRootsCounted]] — pointer-jumping over the batch-sized
  * verdicts), so duplicate-sink consumers never chain-follow; `status`
  * still records the verdict that dropped the doc.
  * [[graft.ops.Dedup.streamingContentDedup]]
  * upstream remains useful to shed exact within-watermark repeats before
  * they cost shingling at all.
  */
object CrawlDedup {

  final case class CrawlBatchMetrics(
      batchId: Long,
      nIn: Long,
      nKept: Long,
      nExactDup: Long,
      nNearDup: Long,
      compacted: Boolean)

  /** Create an EMPTY persisted index at `path` — the bootstrap for a
    * crawl starting from nothing (equivalent to
    * [[NearDup.writeDedupIndex]] over zero documents, so batch 1's
    * verdicts are all `kept` and seed the index).
    */
  def initIndex(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    NearDup.writeDedupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), path)
  }

  /** Process one micro-batch (directly unit-testable): verdicts against
    * the index, route to sinks, append kept docs back, compact when the
    * batch count says so. Returns the batch metrics.
    */
  def processBatch(
      batchDf: DataFrame,
      batchId: Long,
      indexPath: String,
      sink: Sink,
      compactEvery: Int = 0,
      timings: DocIngest.StageTimings = new DocIngest.StageTimings): CrawlBatchMetrics = {
    // 0. within-batch resolution first (r12): only in-batch canonicals
    //    face the index; same-batch copies resolve immediately with
    //    dup_of at their in-batch canonical. intraBatchDedup returns an
    //    eagerly-pinned frame — the rows feed both the verdict union and
    //    the routing joins below; released in the finally.
    val intra = timings.time("intra_batch")(
      NearDup.intraBatchDedup(batchDf))
    // one verdict pass, pinned with an EAGER localCheckpoint (not a
    // cache): the loop is a read-modify-write against the index, and a
    // plain cache would be invalidated by Spark's recacheByPath the
    // moment the write-back appends land — the rejected/accepted appends
    // would then re-evaluate verdicts against the already-updated index
    // and route every kept doc as a duplicate of itself. Truncating the
    // lineage makes the batch's verdicts immutable for the whole body.
    val canon = batchDf.join(
      intra.filter(col("status") === "kept").select("doc_id"), "doc_id")
    // dup_of resolved to the ROOT canonical before anything downstream
    // sees it (ADVICE r12): intraBatchDedup's one-hop pointers would
    // otherwise surface chains (C→B with B itself a duplicate) in the
    // duplicate sink. Resolution re-points dup_of only — doc_id/status
    // partitions are unchanged, so counts and routing joins read the
    // same resolved frame.
    // the resolve loop's convergence aggregation doubles as the
    // status-count job (resolveDupRootsCounted) — no separate count
    val (verdicts, counts) = timings.time("verdicts") {
      val unresolved = NearDup.incrementalDedupAgainstIndex(canon, indexPath)
        .unionByName(intra.filter(col("status") =!= "kept"))
        .localCheckpoint(true)
      try NearDup.resolveDupRootsCounted(unresolved)
      finally CacheScope.release(unresolved)
    }
    try {
      val nKept = counts.getOrElse("kept", 0L)
      val nExact = counts.getOrElse("exact_dup", 0L)
      val nNear = counts.getOrElse("near_dup", 0L)
      val kept = batchDf.join(
        verdicts.filter(col("status") === "kept").select("doc_id"), "doc_id")
      if (nKept > 0) {
        // write-back FIRST: if the sink append fails and the batch
        // replays, re-appending the same doc_ids is idempotent for
        // verdicts (duplicate index rows can only strengthen matching;
        // min(ix_id) is unchanged) AND for routing — the verdict joins
        // exclude self-matches (ix_id == doc_id, only possible on replay
        // since doc_ids are unique), so a replayed kept doc re-verdicts
        // kept instead of reading its own just-appended index rows as an
        // exact_dup of itself (ADVICE r11; spec-pinned by the
        // replay-routing test)
        timings.time("index_append")(
          NearDup.appendDedupIndex(kept.select("doc_id", "text"), indexPath))
      }
      // routing: the two sinks are independent appends of pinned inputs
      // (kept joins the pinned verdicts; both land AFTER the index
      // write-back above) — one concurrent job group
      timings.time("route_append") {
        val jobs = Seq.newBuilder[() => Unit]
        if (nKept > 0)
          jobs += (() => sink.append(kept, "accepted_documents"))
        if (nExact + nNear > 0)
          jobs += (() => sink.append(verdicts.filter(col("status") =!= "kept"),
            "duplicate_documents"))
        graft.util.ParJobs.run(jobs.result(): _*)
      }
      val compact = compactEvery > 0 && batchId % compactEvery == (compactEvery - 1)
      if (compact)
        timings.time("index_compact")(NearDup.compactDedupIndex(indexPath))
      // nIn = the verdict partition sums (every batch doc gets exactly one
      // verdict row) — no extra batch scan for the metric
      CrawlBatchMetrics(batchId, nKept + nExact + nNear, nKept, nExact, nNear, compact)
    } finally {
      CacheScope.release(verdicts)
      CacheScope.release(intra)
    }
  }

  /** Wire the full streaming query: foreachBatch(verdicts → route →
    * write-back → periodic compact), checkpointed. The index at
    * `indexPath` must exist ([[initIndex]] or a prior
    * [[NearDup.writeDedupIndex]] snapshot).
    */
  def start(
      spark: SparkSession,
      docs: DataFrame,
      checkpointDir: String,
      indexPath: String,
      sink: Sink,
      compactEvery: Int = 0,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      timings: DocIngest.StageTimings = new DocIngest.StageTimings,
      metricsOut: CrawlBatchMetrics => Unit = _ => ()): StreamingQuery = {
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // Pin the micro-batch with ONE eager localCheckpoint before anything
        // touches it: processBatch walks the batch several times (verdict
        // derivation, the kept-join write-back, the sink appends), and every
        // walk of the raw foreachBatch frame re-executes the file-source
        // scan — 3× the files read per batch, and numInputRows inflated 3×
        // in the progress metrics. One scan in; everything downstream reads
        // the pinned copy.
        val pinned = batch.localCheckpoint(true)
        try {
          if (!pinned.isEmpty)
            metricsOut(processBatch(pinned, id, indexPath, sink, compactEvery, timings))
        } finally CacheScope.release(pinned)
      }
    trigger.fold(writer)(writer.trigger).start()
  }
}
