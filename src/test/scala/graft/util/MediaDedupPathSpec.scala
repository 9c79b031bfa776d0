package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Image and audio signatures share one dedup path in `ops.Multimodal`:
  * the media index is read through its one reader (`readIndex`), the hub
  * budget comes from `NearDup.budgetedHubs` rather than a window of its
  * own, and `streaming.MediaIngest` reads the index only through that
  * reader. A second index read or hub window is a twin to keep in step.
  */
class MediaDedupPathSpec extends AnyFunSuite {
  private def lines(file: String)(bad: String => Boolean): Seq[String] =
    ReleasePathSpec.mainLines(_.getName == file)(bad)

  test("Multimodal holds one read.parquet( and no Scala-API row_number window") {
    val reads = lines("Multimodal.scala")(_.contains("read.parquet("))
    assert(reads.sizeIs <= 1, reads.mkString("\n"))
    val windows = lines("Multimodal.scala")(_.contains("row_number().over("))
    assert(windows.isEmpty, windows.mkString("\n"))
  }

  test("MediaIngest holds no read.parquet(") {
    val reads = lines("MediaIngest.scala")(_.contains("read.parquet("))
    assert(reads.isEmpty, reads.mkString("\n"))
  }
}
