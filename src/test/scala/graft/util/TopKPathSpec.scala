package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-query top-k searches — exact truth, the adaptive-IVF tune
  * grid, PQ ADC, its refine shortlist and calibration ranks, IVF-PQ — run
  * through `ops.Similarity.queryTopK`, whose per-partition bounded top-k
  * and merge replace a rank window over every candidate pair. The only
  * rank windows left in the two files are the in-cell search's cross-cell
  * re-rank (`cellTopK`) and the centroid rank (`ivfCellsRanked`); the
  * oracle SQL strings keep their own.
  */
class TopKPathSpec extends AnyFunSuite {
  private val allowed = Set("cellTopK", "ivfCellsRanked")

  test("no Window.partitionBy in PQ.scala, and in Similarity.scala only " +
    "inside cellTopK and ivfCellsRanked") {
    val defName = "\\bdef (\\w+)".r
    val offending = for {
      name <- Seq("PQ.scala", "Similarity.scala")
      f = new java.io.File(ReleasePathSpec.root, s"graft/ops/$name")
      lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
      (line, i) <- lines.zipWithIndex if line.contains("Window.partitionBy")
      owner = lines.take(i + 1).reverseIterator
        .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1))).nextOption()
      if name == "PQ.scala" || !owner.exists(allowed)
    } yield s"${f.getPath}:${i + 1} (in ${owner.getOrElse("?")}): ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
