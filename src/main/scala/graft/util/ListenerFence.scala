package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Waits until the listener bus has delivered every event posted before
  * the call, so a listener's view includes jobs and stages that ended just
  * before. The fence is a one-task sentinel job in group [[Group]]: its end
  * event is delivered after every event posted before it started.
  */
object ListenerFence {
  val Group = "graft-listener-fence"

  def isFence(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Group)

  /** True once the sentinel's end event arrived; false after 60 s. */
  def await(sc: SparkContext): Boolean = {
    val ended = new CountDownLatch(1)
    @volatile var sentinel = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isFence(e)) sentinel = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) ended.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(Group, Group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      ended.await(60, TimeUnit.SECONDS)
    } finally sc.removeSparkListener(listener)
  }
}
