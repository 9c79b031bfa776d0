package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** `ops.KMeans.Centroids` is the only nearest-centroid code: a centroid
  * distance rebuilt as a Column expression over a literal centroid
  * (`dotLong(…, typedLit(…))`) or a model-size switch between two
  * assignment engines is a second copy of the rule to keep in step.
  */
class NearestCentroidPathSpec extends AnyFunSuite {
  test("no Column-built centroid distance or ExprAssignMaxK in src/main") {
    val offending = ReleasePathSpec.mainLines(_ => true) { line =>
      (line.contains("dotLong(") && line.contains("typedLit(")) ||
        line.contains("ExprAssignMaxK")
    }
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
