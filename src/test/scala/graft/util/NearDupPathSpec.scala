package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The df-capped n-gram machine in `ops.NearDup` has one width-n
  * shingle-set builder (`shingleSets`) and one cap rule
  * (`capFromHistogram`, on the collected distinct-df histogram). A second
  * builder, a constant-cap branch or a cap derivation written again as a
  * Spark plan is a twin to keep in step; the two cap derivations once
  * disagreed on a corpus where no df fits the budget.
  */
class NearDupPathSpec extends AnyFunSuite {
  private def lines(bad: String => Boolean): Seq[String] =
    ReleasePathSpec.mainLines(_.getName == "NearDup.scala")(bad)

  test("NearDup builds the width-n shingle set in one place") {
    val builders = lines(_.contains("ShingleSet.shingles(col(\"text\"), n)"))
    assert(builders.sizeIs == 1, builders.mkString("\n"))
  }

  test("NearDup holds no constant-cap override or its pressure diagnostic") {
    val offending = lines(l => l.contains("maxDf0") || l.contains("dfCapPressure"))
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("NearDup derives the cap only in capFromHistogram (cum_cost only in oracle SQL)") {
    val offending = lines(l => l.contains("cum_cost") && !l.trim.startsWith("|"))
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
