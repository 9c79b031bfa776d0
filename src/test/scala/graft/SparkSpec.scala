package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all engine specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session is shared across suites

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
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
