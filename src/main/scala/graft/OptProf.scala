package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.util.ListenerFence

/** Per-query profiler: the formatted physical plan, then a JOB breakdown.
  *
  * For each named query, prints `df.explain("formatted")`, then runs
  * Bench's timed region ([[Bench.timed]]: `fn(spark, sfDir).count()`, then
  * `clearCache()`) after Bench's warmup, and prints every Spark job the
  * timed run launched — wall time, stage count, task count, input and
  * shuffle read/write bytes — so optimization work targets where the time
  * measurably goes instead of the widest-looking operator. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.OptProf /root/testdata/sf0.1 q36_ann_ivf_topk ..."
  */
object OptProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q36_ann_ivf_topk")
    val spark = graft.util.SessionTuning.local(defaultCpus = 32)
    val sc = spark.sparkContext
    def drainListenerBus(): Unit =
      if (!ListenerFence.await(sc)) System.err.println("[optprof] listener bus did not drain")
    Bench.warmup(spark, sfDir)

    case class JobRec(id: Int, desc: String, var started: Long = 0L,
        var ended: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
        var shufRead: Long = 0L, var shufWrite: Long = 0L, var inputB: Long = 0L)
    val jobs = scala.collection.concurrent.TrieMap[Int, JobRec]()
    val stageToJob = scala.collection.concurrent.TrieMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (!ListenerFence.isFence(e)) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val r = JobRec(e.jobId, desc, e.time)
        r.stages = e.stageIds.size
        jobs.put(e.jobId, r)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.ended = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { r =>
          r.tasks += si.numTasks
          r.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          r.inputB += si.taskMetrics.inputMetrics.bytesRead
        }
      }
    }
    sc.addSparkListener(listener)

    // SPARK_GRAFT_PROF_REPS > 1: run each query REPS times and report the
    // MEDIAN wall beside the LAST rep's job table — single-shot numbers are
    // codegen-cold and overstate by 1.5-2x vs the bench's 3-rep medians.
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "1").toInt
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: unknown query ==")
        case Some(fn) =>
          println(s"\n========== $name ==========")
          fn(spark, sfDir).explain("formatted")
          // building the plan may run eager phases; start the timing cold
          spark.catalog.clearCache()
          var n = 0L
          val walls = (0 until math.max(1, reps)).map { _ =>
            drainListenerBus()
            jobs.clear(); stageToJob.clear()
            val (rows, w) = Bench.timed(spark, sfDir, fn)
            n = rows.fold(e => throw e, identity)
            w
          }
          val dt = walls.sorted.apply(walls.length / 2)
          drainListenerBus()
          println(f"== $name: $n rows, median $dt%.2f s of ${walls.map(w => f"$w%.2f").mkString("/")}, ${jobs.size} jobs ==")
          val recs = jobs.values.toSeq.sortBy(_.id)
          recs.foreach { r =>
            val w = (r.ended - r.started) / 1e3
            println(f"  job ${r.id}%3d ${w}%7.2fs stages=${r.stages}%2d tasks=${r.tasks}%4d " +
              f"in=${r.inputB / 1024}%6dK sr=${r.shufRead / 1024}%6dK sw=${r.shufWrite / 1024}%6dK " +
              s"${r.desc.take(80)}")
          }
          val gap = dt - recs.map(r => (r.ended - r.started) / 1e3).sum
          println(f"  [job wall sum=${recs.map(r => (r.ended - r.started) / 1e3).sum}%.2fs; " +
            f"non-job (planning/driver) ~= $gap%.2fs of $dt%.2fs]")
      }
    }
    spark.stop()
  }
}
