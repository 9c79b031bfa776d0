package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.sink.InMemorySink
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end spec for the document-ingest pipeline: in-stream dedup,
  * cross-batch Bloom gate, quality routing, per-batch metrics.
  */
class DocIngestSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // quality ≈ 0.97 (long, diverse, stopword-sane — see CurationOpsSpec)
  private val good =
    (1 to 100).map(i => if (i % 10 == 0) "the" else s"word$i").mkString(" ")
  private val good2 =
    (1 to 100).map(i => if (i % 10 == 0) "a" else s"tok$i").mkString(" ")

  test("doc ingest: dedup in-stream and across batches, quality-gate, metrics") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Timestamp, String)]
    val sink = new InMemorySink
    val ckpt = java.nio.file.Files.createTempDirectory("graft-docingest").toString
    val q = DocIngest.start(spark,
      mem.toDF().toDF("doc_id", "ingest_ts", "text"), ckpt, sink)
    try {
      // batch 1: in-batch duplicate (2 == 1), a low-quality doc, a good doc
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), good),
        (2L, ts("2024-01-01 10:00:30"), good),   // in-stream dup of 1
        (3L, ts("2024-01-01 10:01:00"), "x x"),  // low quality
        (4L, ts("2024-01-01 10:02:00"), good2))
      q.processAllAvailable()
      // the watermarked dedup drops doc 2 BEFORE foreachBatch: 3 rows in
      assert(sink.rowCount("accepted_documents") == 2) // 1 (or 2) and 4
      assert(sink.rowCount("rejected_documents") == 1) // 3: low_quality

      // batch 2: new content far in the future — advances the watermark
      // past batch 1's dedup-state horizon (10:00 + 10min ≪ 12:00 − 10min)
      mem.addData((6L, ts("2024-01-01 12:00:00"), good2.replace("tok7", "fresh7")))
      q.processAllAvailable()
      assert(sink.rowCount("accepted_documents") == 3) // + doc 6

      // batch 3: re-crawl of batch-1 content AFTER the watermark evicted
      // the in-stream dedup state — only the cross-batch Bloom gate can
      // catch it now (the layering the pipeline exists for)
      mem.addData((5L, ts("2024-01-01 12:01:00"), good))
      q.processAllAvailable()
      assert(sink.rowCount("accepted_documents") == 3) // unchanged
      val rejected = sink.tables("rejected_documents")
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rejected(3L) == "low_quality")
      assert(rejected(5L) == "duplicate_content")
      assert(sink.rowCount("doc_quality_metrics") == 3)
    } finally q.stop()
  }

  test("hostile payloads through streaming doc ingest (VERDICT r17 #5): " +
    "null/empty/whitespace/huge-repeat docs route exactly, null-text rows " +
    "are never deduped away, same-timestamp duplicate ties keep one row") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Timestamp, String)]
    val sink = new InMemorySink
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hostile").toString
    val q = DocIngest.start(spark,
      mem.toDF().toDF("doc_id", "ingest_ts", "text"), ckpt, sink)
    try {
      val huge = "x" * 5000 // one 5000-char token
      mem.addData(
        (11L, ts("2024-01-01 10:00:00"), null.asInstanceOf[String]),
        (12L, ts("2024-01-01 10:00:10"), null.asInstanceOf[String]),
        (13L, ts("2024-01-01 10:00:20"), ""),
        (14L, ts("2024-01-01 10:00:30"), ""),        // in-stream dup of 13
        (15L, ts("2024-01-01 10:00:40"), "\t\n  "),
        (16L, ts("2024-01-01 10:00:50"), huge),
        (17L, ts("2024-01-01 10:01:00"), good),
        (18L, ts("2024-01-01 10:01:00"), good))      // same-ts content tie
      q.processAllAvailable()
      // in-stream dedup drops 14 ("" twin) and 18 (same-ts twin) BEFORE
      // the batch body; BOTH null-text rows must survive it (md5(null)
      // keys would otherwise silently collapse every extraction failure
      // after the first into a "duplicate")
      val rejected = sink.tables("rejected_documents")
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rejected(11L) == "no_text" && rejected(12L) == "no_text", rejected)
      // empty and whitespace-only docs score 0.3 (zero length score, no
      // stopword band) — below the 0.4 gate
      assert(rejected(13L) == "low_quality" && rejected(15L) == "low_quality",
        rejected)
      // the huge single token PASSES the gate (length 1.0·0.4 + diversity
      // 1.0·0.3 = 0.7): pins the measured q21 gate semantics — length and
      // diversity carry it; a repeat-token filter is a separate op (q23)
      val acc = sink.tables("accepted_documents").map(_.getLong(0)).toSet
      assert(acc == Set(16L, 17L), acc)
      assert(rejected.size == 4, rejected)
      // batch 2: fresh far-future content advances the watermark past
      // batch 1's dedup-state horizon (so batch 3's re-crawl is a
      // CROSS-BATCH case, not in-stream state)
      mem.addData((19L, ts("2024-01-01 12:00:00"), good2))
      q.processAllAvailable()
      // batch 3, past the horizon: the huge token re-crawled → only the
      // cross-batch Bloom gate can catch it; another null text still
      // routes no_text (never duplicate_content — null probes null)
      mem.addData(
        (20L, ts("2024-01-01 12:30:00"), huge),
        (21L, ts("2024-01-01 12:30:10"), null.asInstanceOf[String]))
      q.processAllAvailable()
      val rej2 = sink.tables("rejected_documents")
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej2(20L) == "duplicate_content" && rej2(21L) == "no_text", rej2)
      assert(sink.tables("accepted_documents").map(_.getLong(0)).toSet ==
        Set(16L, 17L, 19L))
    } finally q.stop()
  }
}
