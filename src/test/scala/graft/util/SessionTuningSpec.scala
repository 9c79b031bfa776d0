package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The local session every main builds, checked on its conf: building a
  * second session in the shared test JVM would return the first one.
  */
class SessionTuningSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS must be a bare integer; unset takes the main's default") {
    assert(SessionTuning.cpus(Some("4"), default = 32) == 4)
    assert(SessionTuning.cpus(Some(" 16 "), default = 4) == 16)
    assert(SessionTuning.cpus(None, default = 32) == 32)
    for (bad <- Seq("*", " 4x", "")) {
      val e = intercept[RuntimeException](SessionTuning.cpus(Some(bad), default = 4))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("the local session is tuned: UTC, no UI, one shuffle partition per core, fork-free file:") {
    val conf = SessionTuning.localConf(cpus = 6)
    assert(conf("spark.master") == "local[6]")
    assert(conf("spark.sql.shuffle.partitions") == "6")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.ui.enabled") == "false")
    assert(conf("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "128k")
    assert(conf("spark.hadoop.fs.AbstractFileSystem.file.impl") == classOf[ForkFreeLocalFs].getName)
    assert(conf("spark.hadoop.fs.file.impl") == classOf[ForkFreeLocalFileSystem].getName)
  }
}
