package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all engine specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session is shared across suites

  /** Persistent RDDs that still hold a storage level, by id → name: what a
    * cache or local checkpoint leaves pinned until something frees it.
    */
  def pinnedRdds(): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, r) if r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        id -> s"$id:${r.name}"
    }.toMap

  /** Once the listener bus has delivered every scoped free: no RDD pinned
    * since `before` ([[pinnedRdds]]) and no CacheManager entry remains.
    */
  def assertNothingPinnedSince(before: Map[Int, String]): Unit = {
    assert(graft.util.ListenerFence.await(spark.sparkContext))
    val left = pinnedRdds() -- before.keySet
    assert(left.isEmpty, s"pinned RDDs left: ${left.values.mkString(", ")}")
    assert(spark.sharedState.cacheManager.isEmpty, "CacheManager entries left")
  }

  /** Job ids Spark started under job group `group` while `f` ran. */
  def jobsInGroup(group: String)(f: => Unit): Seq[Int] =
    jobStartsInGroup(group)(f).map(_._1)

  /** The description of each job Spark started under job group `group`
    * while `f` ran: a phase's `JobDesc` label, else the group name.
    */
  def jobLabelsInGroup(group: String)(f: => Unit): Seq[String] =
    jobStartsInGroup(group)(f).map(_._2)

  /** (job id, description) per job started under `group` while `f` ran,
    * read once the listener bus has delivered every earlier event.
    */
  private def jobStartsInGroup(group: String)(f: => Unit): Seq[(Int, String)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.map(_.getProperty("spark.jobGroup.id")).orNull == group)
          jobs.add((e.jobId, props.map(_.getProperty("spark.job.description")).orNull))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      assert(graft.util.ListenerFence.await(sc))
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}

object SparkSpec {
  /** The mains' session conf ([[graft.util.SessionTuning.localConf]]) on 4
    * cores, so specs pin the plans and partitionings the mains run.
    */
  lazy val session: SparkSession = graft.util.SessionTuning.localConf(4)
    .foldLeft(SparkSession.builder().appName("graft-test")) {
      case (b, (k, v)) => b.config(k, v)
    }
    .getOrCreate()
}
