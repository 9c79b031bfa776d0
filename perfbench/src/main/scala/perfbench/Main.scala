package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The timed region of a run. [[start]] fixes `setup_s` (JVM start to the
  * first timed operation) and arms the meters; [[end]] reads them and drains
  * the engine listener.
  */
final class Region(spark: SparkSession, engine: Option[EngineListener]) {
  private val meter = new ProcessMeter
  var setupS, cpuS, heapMb = Double.NaN
  def start(): Unit = {
    setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    engine.foreach(_.begin(spark.sparkContext))
    meter.start()
  }
  def end(): Unit = {
    val (cpu, heap) = meter.stop()
    cpuS = cpu
    heapMb = heap
    engine.foreach(_.seal(spark.sparkContext))
  }
}

/** One benchmark process: builds the session the way the program's Bench
  * does (`local[4]`, 4 shuffle partitions, `SessionTuning.tuned`), runs one
  * workload, and writes a [[Result]] as JSON.
  *
  *     Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --work <dir> --out <file> [--data <dir>]
  *
  * `setup_s` runs from JVM start to the first timed operation. `cpu_s` and
  * `heap_peak_mb` cover the timed region only. With `--trace 1` the engine
  * listener and the timing sink are registered and spans are written to
  * `<work>/spans.jsonl`; without it neither is.
  */
object Main {
  val Cpus = 4
  val spans = new Spans

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = Files.createDirectories(Paths.get(args("work")))

    val spark = graft.util.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val res = new Result
    val engine = if (trace) Some(new EngineListener) else None
    engine.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val region = new Region(spark, engine)

    val outcome = scala.util.Try {
      workload match {
        case "events_stream" =>
          EventsStream.run(spark, work, seed, seconds, trace, res, region)
        case "corpus_topk" =>
          QueryPasses.run(spark, args("data"), trace, res, region)
        case other => sys.error(s"unknown workload $other")
      }
      res.metric("setup_s", region.setupS, "s")
      res.metric("cpu_s", region.cpuS, "s")
      res.metric("heap_peak_mb", region.heapMb, "MB")
      engine.foreach(_.metrics.foreach { case (n, v, u) => res.metric(n, v, u) })
      if (trace) {
        spans.writeJsonl(work.resolve("spans.jsonl"))
        res.metric("run.spans", spans.size, "count")
      }
    }
    outcome.failed.foreach { e =>
      res.check("workload completes", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }
    Files.writeString(Paths.get(args("out")), res.toJson + "\n")
    try spark.stop() catch { case _: Throwable => () }
    System.exit(if (outcome.isSuccess) 0 else 1)
  }
}
