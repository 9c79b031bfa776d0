package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** `ops.KMeans.Centroids` is the only nearest-centroid code: a centroid
  * distance rebuilt as a Column expression over a literal centroid
  * (`dotLong(…, typedLit(…))`) or a model-size switch between two
  * assignment engines is a second copy of the rule to keep in step, as
  * is a centroid relation cross-joined against the vectors and ranked.
  */
class NearestCentroidPathSpec extends AnyFunSuite {
  test("no Column-built centroid distance or ExprAssignMaxK in src/main") {
    val offending = ReleasePathSpec.mainLines(_ => true) { line =>
      (line.contains("dotLong(") && line.contains("typedLit(")) ||
        line.contains("ExprAssignMaxK")
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("KMeans and PQ cross-join no centroid relation against the vectors") {
    val offending = ReleasePathSpec.mainLines(
      f => f.getName == "KMeans.scala" || f.getName == "PQ.scala")(_.contains("crossJoin("))
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
