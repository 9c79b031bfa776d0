package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The closed-loop corpus workload: one pass over [[Corpus]], one query at a
  * time in name order, each timed from its build (`SparkEntry.queries`
  * returns a lazy or partly eager DataFrame) through its `count()`. Caches
  * are cleared after every query, as the program's own Bench does, once the
  * storage each query left pinned has been read.
  */
object QueryPasses {
  /** Brute-force, adaptive-IVF, trained-IVF and derived-subbucket top-k
    * (QuantizedDot, `row_number` rank filters, the Similarity and KMeans
    * memos), capped n-gram Jaccard and semantic dedup (CacheScope and
    * checkpoint frees), PQ ADC top-k and PQ refine recall (the PQ memos).
    */
  val Corpus: Seq[Int] = Seq(27, 36, 38, 69, 86, 92, 107, 121, 128)

  /** The tables whose scans key the program's plan-keyed memos. */
  val CorpusTables: Seq[String] = Seq("documents.parquet", "embeddings.parquet")

  final case class Timing(name: String, seconds: Double, rows: Long,
      blocks: Long, bytes: Long, error: Option[String])

  private def queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val byNumber = SparkEntry.queries.toSeq.map { case (name, fn) =>
      name.takeWhile(_ != '_').drop(1).toInt -> (name, fn)
    }.toMap
    Corpus.map(n => byNumber.getOrElse(n, sys.error(f"no query q$n%02d in SparkEntry.queries")))
      .sortBy(_._1)
  }

  /** One pass; with `spans`, records a span per query with build and count
    * children. Failed queries report their error and no time.
    */
  private def pass(spark: SparkSession, dir: String, spans: Option[Spans]): Seq[Timing] = {
    def timed[A](name: String, parent: Int)(f: Int => A): A =
      spans.fold(f(0))(_.span(name, parent)(f))
    timed(s"pass $dir", 0) { passId =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val outcome = try {
          timed(name, passId) { qid =>
            val df = timed("build", qid)(_ => fn(spark, dir))
            Right(timed("count", qid)(_ => df.count()))
          }
        } catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.next().take(300))
        }
        val seconds = (System.nanoTime() - t0) / 1e9
        val storage = spark.sparkContext.getRDDStorageInfo
        val blocks = storage.map(_.numCachedPartitions.toLong).sum
        val bytes = storage.map(s => s.memSize + s.diskSize).sum
        try spark.catalog.clearCache() catch { case _: Throwable => () }
        Timing(name, seconds, outcome.getOrElse(-1L), blocks, bytes, outcome.left.toOption)
      }
    }
  }

  /** The memo-isolation check: no SQL execution submitted in this JVM before
    * the timed pass scanned the timed dataset's corpus tables, so no
    * plan-keyed memo entry for them can exist when the pass starts. Reads
    * Spark's own SQL status store, which records every execution's physical
    * plan whether or not the benchmark's listeners are on. It runs after the
    * pass, so the status listener has long seen every earlier execution.
    * Returns (earlier executions that scanned the tables, executions of the
    * pass that did), or fails if the store no longer holds the JVM's first
    * execution.
    */
  def memoIsolation(spark: SparkSession, dir: String, passStartMs: Long): (Seq[Long], Int) = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    require(store.execution(0L).isDefined,
      "the SQL status store dropped early executions; memo isolation cannot be checked")
    val scans = store.executionsList().filter { e =>
      CorpusTables.exists(t => e.physicalPlanDescription.contains(s"$dir/$t"))
    }
    val (before, during) = scans.partition(_.submissionTime < passStartMs)
    (before.map(_.executionId), during.size)
  }

  def run(spark: SparkSession, dir: String, trace: Boolean, res: Result, region: Region): Unit = {
    // engine warm-up outside the timed pass, as the program's Bench does:
    // first job, first shuffle and the parquet reader, on no query's plan
    spark.range(1 << 18).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_name").count().collect()
    val passStartMs = System.currentTimeMillis()
    region.start()
    val timings = pass(spark, dir, if (trace) Some(Main.spans) else None)
    region.end()
    val (earlier, during) = memoIsolation(spark, dir, passStartMs)
    res.check("timed pass is the first over the corpus in its JVM", earlier.isEmpty && during > 0,
      s"${earlier.size} earlier executions scanned $dir corpus tables" +
        s"${if (earlier.isEmpty) "" else earlier.mkString(" (ids ", ", ", ")")}; $during in the pass")
    val ok = timings.filter(_.error.isEmpty)
    res.attempted = timings.size
    res.failed = timings.size - ok.size
    timings.foreach(t => t.error.foreach(e => res.check(s"${t.name} runs", ok = false, e)))
    timings.foreach(t => res.rows(t.name) = t.rows)
    res.metric("pass_s", ok.map(_.seconds).sum, "s")
    res.metric("latency_mean_ms", ok.map(_.seconds * 1e3).sum / ok.size, "ms")
    res.metric("run.latency_p50_ms", Stats.median(ok.map(_.seconds * 1e3)), "ms")
    val (tailPct, tail, beyond) = Stats.tail(ok.map(_.seconds * 1e3))
    res.metric("run.latency_tail_ms", tail, "ms")
    res.metric("run.latency_tail_pct", tailPct, "%")
    res.metric("run.latency_samples", ok.size, "count")
    res.metric("run.latency_beyond_tail", beyond, "count")
    timings.foreach(t => res.metric(s"query.${t.name.takeWhile(_ != '_')}_s",
      if (t.error.isEmpty) t.seconds else Double.NaN, "s"))
    res.metric("cache.blocks_pinned_after", timings.map(_.blocks).sum, "count")
    res.metric("cache.bytes_pinned_after", timings.map(_.bytes).sum, "bytes")
  }
}
