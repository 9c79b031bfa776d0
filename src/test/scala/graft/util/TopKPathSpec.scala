package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-query top-k searches — exact truth, the adaptive-IVF tune
  * grid, PQ ADC, its refine shortlist and calibration ranks, IVF-PQ — run
  * through `ops.Similarity.queryTopK`, whose per-partition bounded top-k
  * and merge replace a rank window over every candidate pair, and the
  * label router ranks centroids held on the driver in a per-row pass. The
  * only rank window left in the two files is the in-cell search's
  * cross-cell re-rank (`cellTopK`); the oracle SQL strings keep their own.
  */
class TopKPathSpec extends AnyFunSuite {
  private val allowed = Set("cellTopK")

  /** (line, 1-based number, enclosing def) of every line of `ops/<name>`. */
  private def linesOf(name: String): Seq[(String, Int, Option[String])] = {
    val defName = "\\bdef (\\w+)".r
    val f = new java.io.File(ReleasePathSpec.root, s"graft/ops/$name")
    val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
    lines.zipWithIndex.map { case (line, i) =>
      (line, i + 1, lines.take(i + 1).reverseIterator
        .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1))).nextOption())
    }
  }

  test("no Window.partitionBy in PQ.scala, and in Similarity.scala only " +
    "inside cellTopK") {
    val offending = for {
      name <- Seq("PQ.scala", "Similarity.scala")
      (line, i, owner) <- linesOf(name) if line.contains("Window.partitionBy")
      if name == "PQ.scala" || !owner.exists(allowed)
    } yield s"$name:$i (in ${owner.getOrElse("?")}): ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("Similarity.scala builds no label centroids by posexplode and ranks " +
    "no cells through a crossJoin (oracle SQL lines aside)") {
    val offending = ReleasePathSpec.mainLines(_.getName == "Similarity.scala") { l =>
      !l.trim.startsWith("|") && (l.contains("crossJoin(") || l.contains("posexplode("))
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("ivfTopKFromRanked searches the ranked rows without joining the corpus") {
    val offending = linesOf("Similarity.scala").collect {
      case (line, i, Some("ivfTopKFromRanked")) if line.contains(".join(") => s"$i: ${line.trim}"
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
