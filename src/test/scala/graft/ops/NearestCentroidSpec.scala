package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The nearest-centroid kernels ([[KMeans.assignTrainedCells]],
  * [[KMeans.trainedCellsRanked]], [[PQ.pqEncode]]) against a plain-Scala
  * brute-force reference that shares no code with them: it quantizes each
  * element as `floor(x·1e6)`, computes Σ(x−c)² directly (not the kernels'
  * x·x − 2x·c + c·c) and scans every centroid, ties to the smaller id.
  */
class NearestCentroidSpec extends SparkSpec {
  import spark.implicits._

  private val dim = KMeans.Dim

  /** `n` deterministic pseudo-random float vectors in [−1, 1)^dim. */
  private def corpus(n: Int): DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
  }

  private def q(v: Float): Long = math.floor(v.toDouble * 1e6).toLong

  /** Squared distance of the quantized `x` to every centroid, by id. */
  private def dists(x: Seq[Long], model: Array[(Int, Array[Long])]): Seq[(Long, Int)] =
    model.toSeq.map { case (id, c) =>
      (x.indices.map(d => (x(d) - c(d)) * (x(d) - c(d))).sum, id)
    }

  /** (cell, |x−c|²) of the nearest centroid: strict < over ascending ids. */
  private def refNearest(x: Seq[Long], model: Array[(Int, Array[Long])]): (Int, Long) = {
    var best = (-1, Long.MaxValue)
    for ((d, id) <- dists(x, model).sortBy(_._2)) if (d < best._2) best = (id, d)
    best
  }

  private def vectors(df: DataFrame): Seq[(Long, Seq[Float])] =
    df.as[(Long, Seq[Float])].collect().toSeq

  for (k <- Seq(1, 3, 16)) {
    test(s"assignTrainedCells cell and cent_dist == reference argmin (k $k)") {
      val df = corpus(200)
      val model = KMeans.trainedModel(df, k)
      assert(model.length == k)
      val got = KMeans.assignTrainedCells(df, model, withDist = true)
        .select("vec_id", "cell", "cent_dist").as[(Long, Int, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      val want = vectors(df).map { case (id, v) => id -> refNearest(v.map(q), model) }.toMap
      assert(got == want)
    }
  }

  test("trainedCellsRanked == reference (dist, id) order") {
    val df = corpus(200)
    val model = KMeans.trainedModel(df, 16)
    def ranked(d: DataFrame, maxRank: Int) =
      KMeans.trainedCellsRanked(d, maxRank, k = 16)
        .select("vec_id", "cell", "cell_rank").as[(Long, Int, Int)].collect().toSet
    def reference(d: DataFrame, model: Array[(Int, Array[Long])], maxRank: Int) =
      vectors(d).flatMap { case (id, v) =>
        dists(v.map(q), model).sorted.take(maxRank).zipWithIndex
          .map { case ((_, cell), r) => (id, cell, r + 1) }
      }.toSet
    assert(ranked(df, 3) == reference(df, model, 3))
    assert(ranked(df, 16) == reference(df, model, 16))
    // three one-hot vectors at 0.5: with k = 3 each is its own centroid
    // (seeded in md5 order: vec 4 → cell 0, vec 3 → cell 1, vec 1 → cell
    // 2) and the other two sit at the same exact distance 2·500000²
    def axis(a: Int) = Seq.tabulate(dim)(d => if (d == a) 0.5f else 0f)
    val tie = Seq(4L -> axis(0), 3L -> axis(1), 1L -> axis(2)).toDF("vec_id", "embedding")
    val tieRanked = KMeans.trainedCellsRanked(tie, maxRank = 3, k = 3)
      .select("vec_id", "cell", "cell_rank").as[(Long, Int, Int)].collect().toSet
    assert(tieRanked == Set(
      (4L, 0, 1), (4L, 1, 2), (4L, 2, 3),
      (3L, 1, 1), (3L, 0, 2), (3L, 2, 3),
      (1L, 2, 1), (1L, 0, 2), (1L, 1, 3)))
    assert(tieRanked == reference(tie, KMeans.trainedModel(tie, 3), 3))
  }

  for ((m, codes) <- Seq((4, 8), (PQ.M, 256))) {
    test(s"pqEncode == reference argmin ($m subspaces, $codes codes)") {
      val df = corpus(300)
      val subDim = dim / m
      val mods = PQ.models(df, m, codes).sortBy(_._1).map(_._2)
      assert(mods.forall(_.length == codes))
      val got = PQ.pqEncode(df, m, codes).collect()
        .map(r => r.getLong(0) -> (1 to m).map(r.getInt)).toMap
      val want = vectors(df).map { case (id, v) =>
        id -> (0 until m).map { s =>
          refNearest(v.slice(s * subDim, (s + 1) * subDim).map(q), mods(s))._1
        }
      }.toMap
      assert(got == want)
    }
  }

  test("a vector with a null element is dropped by the trainer and kernels") {
    val v = Seq.tabulate(dim)(d => 0.01f * (d + 1))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val probe = spark.createDataFrame(
      java.util.List.of(Row(100L, v.updated(5, null))), schema)
    // in the training sample it would otherwise fail the driver trainer
    val withNull = corpus(64).union(probe)
    val model = KMeans.trainedModel(withNull, 3)
    assert(model.map(_._2.toSeq).toSeq ==
      KMeans.trainedModel(corpus(64), 3).map(_._2.toSeq).toSeq)
    assert(KMeans.assignTrainedCells(probe, model, withDist = true).count() == 0)
    assert(KMeans.trainedCellsRanked(withNull, 2, 3)
      .filter($"vec_id" === 100L).count() == 0)
    assert(PQ.streamingPqEncode(probe, corpus(64), 4, 8).count() == 0)
  }

}
