package graft.streaming

import graft.SparkSpec
import graft.ops.NearDup
import graft.sink.InMemorySink
import org.apache.spark.sql.functions._

/** The streaming continuous-crawl dedup loop: verdicts against the
  * persisted index, kept-doc write-back, duplicate routing, mid-stream
  * compaction — and equality with the batch-driven incremental path.
  */
class CrawlDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private val base = (1 to 30).map(i => s"tok$i").mkString(" ")
  private val nearBase = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
  private val other = (100 to 130).map(i => s"w$i").mkString(" ")

  test("crawl loop end-to-end: batch-1 keeps seed the index, batch-2 " +
    "exact AND near copies resolve against them; compaction mid-stream " +
    "leaves verdicts identical") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft-crawlix").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crawlck").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    val metrics = scala.collection.mutable.ArrayBuffer[CrawlDedup.CrawlBatchMetrics]()
    val mem = MemoryStream[(Long, String)]
    // compactEvery = 2: batch ids 1, 3, ... compact — one mid-stream
    val q = CrawlDedup.start(spark, mem.toDF().toDF("doc_id", "text"),
      ckpt, dir, sink, compactEvery = 2, metricsOut = metrics += _)
    try {
      mem.addData((1L, base), (2L, other))
      q.processAllAvailable()
      assert(metrics.last.nKept == 2 && metrics.last.nIn == 2)
      // batch 2 (id 1 → compacts): exact copy, near copy, novel doc
      mem.addData((10L, base.toUpperCase), (11L, nearBase), (12L, "zz yy xx"))
      q.processAllAvailable()
      assert(metrics.last.nExactDup == 1 && metrics.last.nNearDup == 1 &&
        metrics.last.nKept == 1 && metrics.last.compacted)
      // batch 3 AFTER compaction: verdicts must still see everything —
      // including batch-2's kept doc — exactly as before the compact
      mem.addData((20L, nearBase), (21L, "zz yy xx"))
      q.processAllAvailable()
      val dup = sink.tables("duplicate_documents")
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(dup(10L) == (("exact_dup", 1L)), dup)
      // r12: 10 and 11 arrived in the SAME batch and are near-dups of
      // each other, so 11 resolves in-batch against 10; r13 (ADVICE):
      // the sinked dup_of is the ROOT of the chain 11→10→1, not the
      // one-hop pointer — consumers never chain-follow
      assert(dup(11L) == (("near_dup", 1L)), dup)
      assert(dup(20L) == (("near_dup", 1L)), dup)  // still matches post-compact
      assert(dup(21L) == (("exact_dup", 12L)), dup) // matches batch-2's kept
      assert(sink.rowCount("accepted_documents") == 3) // 1, 2, 12
      // the index holds exactly the kept docs
      val ix = spark.read.parquet(s"$dir/norm").select("ix_id")
        .collect().map(_.getLong(0)).toSet
      assert(ix == Set(1L, 2L, 12L), ix)
    } finally q.stop()
  }

  test("per-batch pinned blocks are freed once the batch lands: no " +
    "persistent RDD storage or CacheManager entry accumulates across " +
    "micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft-crawlpins").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crawlpinsck").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    spark.catalog.clearCache()
    // no GC first: a free that only the ContextCleaner would complete
    // must show up here as a leak
    val before = pinnedRdds()
    val metrics = scala.collection.mutable.ArrayBuffer[CrawlDedup.CrawlBatchMetrics]()
    val mem = MemoryStream[(Long, String)]
    // through start, so the foreachBatch pin is covered too; compactEvery
    // = 2 runs one compaction among the batches
    val q = CrawlDedup.start(spark, mem.toDF().toDF("doc_id", "text"),
      ckpt, dir, sink, compactEvery = 2, metricsOut = metrics += _)
    try {
      // kept docs, then exact / near / in-batch copies against them
      mem.addData((1L, base), (2L, other))
      q.processAllAvailable()
      mem.addData((10L, base.toUpperCase), (11L, nearBase), (12L, "zz yy xx"))
      q.processAllAvailable()
      mem.addData((20L, nearBase), (21L, "zz yy xx"), (22L, "zz yy xx"),
        (23L, "brand new words here"))
      q.processAllAvailable()
    } finally q.stop()
    assert(metrics.size == 3, metrics)
    assertNothingPinnedSince(before)
  }

  test("hostile payloads through the crawl loop (VERDICT r17 #5): null " +
    "texts are KEPT and never collapse with each other or the index, " +
    "empty-string duplicates resolve exact in-batch and cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft-crawlhx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crawlhck").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    val metrics = scala.collection.mutable.ArrayBuffer[CrawlDedup.CrawlBatchMetrics]()
    val mem = MemoryStream[(Long, String)]
    val q = CrawlDedup.start(spark, mem.toDF().toDF("doc_id", "text"),
      ckpt, dir, sink, metricsOut = metrics += _)
    try {
      // null text = failed extraction: no content to judge duplication
      // by, so BOTH null docs verdict kept (a null norm-hash must never
      // group-collapse); both empty strings ARE identical content →
      // in-batch exact collapse to the smaller id
      mem.addData((1L, base), (2L, null.asInstanceOf[String]),
        (3L, null.asInstanceOf[String]), (4L, ""), (5L, ""))
      q.processAllAvailable()
      assert(metrics.last.nIn == 5, metrics.last)
      assert(metrics.last.nKept == 4 && metrics.last.nExactDup == 1,
        metrics.last)
      val dup1 = sink.tables("duplicate_documents")
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(dup1(5L) == (("exact_dup", 4L)), dup1)
      // batch 2: a re-crawled null is kept AGAIN (null never matches the
      // index — the defensible semantics for content-free rows); the
      // empty string and the case-variant real doc exact-dup against the
      // index's batch-1 canonicals
      mem.addData((10L, null.asInstanceOf[String]), (11L, ""),
        (12L, base.toUpperCase))
      q.processAllAvailable()
      val dup = sink.tables("duplicate_documents")
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(dup(11L) == (("exact_dup", 4L)), dup)
      assert(dup(12L) == (("exact_dup", 1L)), dup)
      assert(sink.tables("accepted_documents").map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 4L, 10L))
    } finally q.stop()
  }

  test("streaming loop verdicts equal the batch incremental path over " +
    "the same index state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawleq").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    // drive processBatch directly (the foreachBatch body) — two batches
    CrawlDedup.processBatch(docs((1L, base), (2L, other)), 0L, dir, sink)
    val probe = docs((10L, base.toUpperCase), (11L, nearBase))
    val viaLoop = CrawlDedup.processBatch(probe, 1L, dir, sink)
    // the equivalent one-shot: a fresh index of the kept docs, then the
    // same probe batch through the batch API
    val fresh = java.nio.file.Files.createTempDirectory("graft-crawlfr").toString
    NearDup.writeDedupIndex(docs((1L, base), (2L, other)), fresh)
    val viaBatch = NearDup.incrementalDedupAgainstIndex(probe, fresh)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaBatch == Set((10L, "exact_dup"), (11L, "near_dup")))
    assert(viaLoop.nExactDup == 1 && viaLoop.nNearDup == 1 && viaLoop.nKept == 0)
  }

  test("replayed batch is idempotent for verdicts: re-appending the same " +
    "kept docs does not change later outcomes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawlrp").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    val b1 = docs((1L, base))
    CrawlDedup.processBatch(b1, 0L, dir, sink)
    // replay: index-append happens again (crash-after-append scenario)
    NearDup.appendDedupIndex(b1, dir)
    val v = NearDup.incrementalDedupAgainstIndex(docs((5L, base)), dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(v == Set((5L, "exact_dup", 1L)), v)
    // and compaction collapses the doubled rows without changing verdicts
    NearDup.compactDedupIndex(dir)
    val v2 = NearDup.incrementalDedupAgainstIndex(docs((5L, base)), dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v2 == Set((5L, "exact_dup")), v2)
  }

  test("same-batch duplicates resolve WITHIN the micro-batch: one " +
    "survivor, dup_of at the in-batch canonical (r12, closing the r11 " +
    "documented limitation)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawlib").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    // one batch: 10 novel, 11 exact copy of 10 (case/whitespace), 12 near
    // copy of 10, 20 novel — all arriving TOGETHER
    val m = CrawlDedup.processBatch(
      docs((10L, base), (11L, "  " + base.toUpperCase + "  "),
        (12L, nearBase), (20L, other)),
      0L, dir, sink)
    assert(m.nKept == 2 && m.nExactDup == 1 && m.nNearDup == 1, m)
    val dup = sink.tables("duplicate_documents")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(dup(11L) == (("exact_dup", 10L)), dup)
    assert(dup(12L) == (("near_dup", 10L)), dup)
    // only the canonicals entered the index
    val ix = spark.read.parquet(s"$dir/norm").select("ix_id")
      .collect().map(_.getLong(0)).toSet
    assert(ix == Set(10L, 20L), ix)
    // and a later batch's copy resolves against the index canonical
    val m2 = CrawlDedup.processBatch(docs((30L, base)), 1L, dir, sink)
    assert(m2.nExactDup == 1 && m2.nKept == 0, m2)
  }

  test("in-batch dependents resolve dup_of to the ROOT canonical even " +
    "when their in-batch canonical itself duplicates the index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawlch").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    CrawlDedup.processBatch(docs((1L, base)), 0L, dir, sink)
    // batch 1: 10 duplicates index doc 1; 11 is an exact copy of 10
    val m = CrawlDedup.processBatch(
      docs((10L, base + " tailA"), (11L, base + " tailA")), 1L, dir, sink)
    assert(m.nKept == 0 && m.nExactDup == 1 && m.nNearDup == 1, m)
    val dup = sink.tables("duplicate_documents")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // 10 (in-batch canonical) is a near-dup of index doc 1; 11 resolved
    // in-batch against 10, and the SINKED dup_of is the chain's root
    // (11 → 10 → 1 ⇒ 1) while status still records WHY 11 was dropped
    // (exact copy of its in-batch canonical)
    assert(dup(10L) == (("near_dup", 1L)), dup)
    assert(dup(11L) == (("exact_dup", 1L)), dup)
    // nothing entered the index
    assert(spark.read.parquet(s"$dir/norm").count() == 1)
  }

  test("replayed batch is idempotent for ROUTING: a crash between " +
    "index_append and accepted_append re-runs the batch against an index " +
    "already holding its own rows — kept docs must re-verdict kept, not " +
    "exact_dup of themselves (ADVICE r11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crawlrr").toString
    CrawlDedup.initIndex(spark, dir)
    val sink = new InMemorySink
    CrawlDedup.processBatch(docs((1L, base)), 0L, dir, sink)
    // batch 1: one novel doc + one near-dup of batch 0's keep; first run
    // appends keeps to the index, then "crashes" before we look — the
    // replay is simply running the same foreachBatch body again
    val b1 = docs((10L, other), (11L, nearBase))
    val first = CrawlDedup.processBatch(b1, 1L, dir, sink)
    assert(first.nKept == 1 && first.nNearDup == 1)
    val replay = CrawlDedup.processBatch(b1, 1L, dir, sink)
    // self-matches excluded: doc 10 re-verdicts kept (NOT exact_dup of
    // itself), doc 11 still near_dup of the original canonical
    assert(replay.nKept == 1 && replay.nNearDup == 1 && replay.nExactDup == 0,
      replay)
    val acc = sink.tables("accepted_documents")
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.size).toMap
    // at-least-once: the replayed append lands doc 10 twice, never zero
    assert(acc(10L) == 2 && acc(1L) == 1, acc)
    val dup = sink.tables("duplicate_documents")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toSet
    assert(dup == Set(11L -> (("near_dup", 1L))), dup)
  }
}
