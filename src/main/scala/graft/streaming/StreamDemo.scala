package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sink.ParquetSink
import graft.util.{ConsoleAlertHandler, PipelineMonitor, SessionTuning}

/** Runnable end-to-end smoke of the streaming pipeline: generates CSV
  * micro-batches into a temp watched directory (atomic rename, like the
  * reference generator), runs validate→enrich→dedup→foreachBatch into a
  * parquet sink, prints per-table row counts.
  *
  * Usage: runMain graft.streaming.StreamDemo [nBatches] [rowsPerBatch]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(3)
    val rows = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = SessionTuning.local(defaultCpus = 4)

    val in = Files.createTempDirectory("graft-stream-in")
    val cp = Files.createTempDirectory("graft-stream-cp")
    val out = Files.createTempDirectory("graft-stream-out")
    val sink = new ParquetSink(out.toString)
    val monitor = new PipelineMonitor(handlers = Seq(new ConsoleAlertHandler))

    val gen = new graft.datagen.EventGenerator(seed = 42L, anomalyRate = 0.1)
    def drop(batch: Int): Unit = {
      val events = gen.batch(batch, rows)
      // ~10% duplicate ids to exercise the dedup stage
      val withDups = events.zipWithIndex.map { case (e, i) =>
        if (i % 10 == 0 && i > 0) e.copy(eventId = events(i - 1).eventId) else e
      }
      gen.writeCsvAtomic(in, f"batch_$batch%03d.csv", withDups)
    }

    val query = Pipeline.start(spark, in.toString, cp.toString, sink,
      monitor = Some(monitor), triggerMs = 200,
      now = lit("2024-01-31 00:00:00").cast("timestamp"))
    (0 until nBatches).foreach { b => drop(b); query.processAllAvailable() }
    query.stop()

    Seq("ecommerce_events", "dead_letter_events", "data_quality_metrics").foreach { t =>
      val n =
        try spark.read.parquet(s"$out/$t").count()
        catch { case _: Throwable => 0L }
      println(s"[stream-demo] $t: $n rows")
    }
    println(s"[stream-demo] health: ${monitor.health}")
    spark.stop()
  }
}
