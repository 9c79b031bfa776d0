package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Queries run in sorted name order after a small
  * warmup (JVM/codegen/parquet-reader initialization), so per-query times
  * are comparable across rounds rather than the first slot absorbing
  * session startup.
  */
object Bench {
  /** JVM, codegen, parquet-reader and shuffle warmup before the first
    * timed query.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1 << 18).selectExpr("sum(id)").collect()
      graft.sources.Tables.lineitem(spark, sfDir).limit(1000)
        .groupBy("l_returnflag").count().collect()
    } catch { case _: Throwable => () }

  /** The timed region: one `count()` of the query's result, then the
    * session cache cleared outside the timing so every query starts cold.
    * Returns the row count (or what the query threw) and the seconds.
    */
  def timed(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Either[Throwable, Long], Double) = {
    val t0 = System.nanoTime()
    val n = try Right(fn(spark, sfDir).count()) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    (n, dt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.SessionTuning.local(defaultCpus = 4)
    // the session's shuffle partition count is its core count
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    warmup(spark, sfDir)
    // SPARK_GRAFT_BENCH_REPS full passes (default 3), report the
    // per-query MEDIAN with the raw runs kept beside it (VERDICT r16 #5:
    // single-run rows proved ±20% on this host and the old min-of-2 both
    // hides slow modes and reports a best-case no median reproduces —
    // the repo's evidence convention is medians everywhere). Caches are
    // cleared between queries so each timing is independent.
    // A failed query must be LOUD: its slot reports -1 (never a plausible
    // runtime) and its message lands in an "errors" object — an
    // elapsed-to-fail recorded as a runtime is how a broken query once
    // masqueraded as the suite's fastest entry.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val errors = scala.collection.mutable.Map[String, String]()
    def onePass(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val (n, dt) = timed(spark, sfDir, fn)
        n.left.foreach { e =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.next().take(200)
        }
        name -> (if (n.isRight) dt else -1.0)
      }
    val passes: Seq[Map[String, Double]] =
      (0 until math.max(1, reps)).map(_ => onePass().toMap)
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val runsOf: Map[String, Seq[Double]] =
      names.map(n => n -> passes.map(_.getOrElse(n, -1.0))).toMap
    val results = names.map { n =>
      val rs = runsOf(n)
      // median over reps; any failed rep poisons the slot
      n -> (if (rs.exists(_ < 0)) -1.0 else med(rs))
    }
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Verify.jsonString(k)}:${Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    def line(keyOf: String => String, fmt: Double => String,
        withRuns: Boolean): String = {
      val qs = results.map { case (k, v) => s"\"" + keyOf(k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val runsJson =
        if (!withRuns) ""
        else names.map(n => "\"" + n + "\":" +
            runsOf(n).map(v => f"$v%.3f").mkString("[", ",", "]"))
          .mkString(""","runs":{""", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"cpus":$cpus,"queries":$qs$runsJson,"errors":$errJson,"failed":${errors.size},"sf":"$sfDir"}"""
    }
    // stdout gets the COMPACT form — keys abbreviated to the qNN prefix,
    // values to milliseconds, no runs array — because the round harness
    // keeps only a ~2000-char tail of stdout, and the full-name 108-query
    // line is ~3 KB (round 10's BENCH_r10.json lost the whole per-query
    // map to that window). Full names + full precision + the per-query
    // raw runs go to the BENCH.json file.
    println(line(k => k.takeWhile(_ != '_'), v => f"$v%.3f", withRuns = false))
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile),
      line(identity, _.toString, withRuns = true) + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
  }
}
