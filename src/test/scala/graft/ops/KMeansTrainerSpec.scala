package graft.ops

import java.nio.file.Files

import graft.SparkSpec

/** The k-means trainer against hand-computed models. Vectors are 2-dim
  * (the `dim` a PQ subspace trains with) with binary-fraction coordinates,
  * so every quantized value, distance and mean below is exact by hand.
  * The md5("km|" ++ vec_id) order of ids 1..6 is 4, 3, 1, 5, 2, 6, so with
  * k = 2 the seeds are vec 4 (cluster 0) and vec 3 (cluster 1).
  */
class KMeansTrainerSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  private def model(df: org.apache.spark.sql.DataFrame, k: Int, iters: Int) =
    KMeans.trainedModel(df, k, iters, dim = 2).map { case (c, cq) => (c, cq.toSeq) }.toSeq

  test("two Lloyd's iterations on a tiny corpus give the hand-computed model") {
    val df = corpus(
      4L -> Seq(0.0f, 0.0f), 3L -> Seq(0.25f, 0.0f), 1L -> Seq(0.5f, 0.0f),
      5L -> Seq(0.75f, 0.0f), 2L -> Seq(1.0f, -0.5f), 6L -> Seq(0.125f, 0.0f))
    // seeds: vec 4 and vec 3
    assert(model(df, 2, 0) == Seq(0 -> Seq(0L, 0L), 1 -> Seq(250000L, 0L)))
    // iteration 1: {4, 6} -> cluster 0 (vec 6 is equidistant, smaller id
    // wins); {3, 1, 5, 2} -> cluster 1, mean (2500000/4, -500000/4)
    assert(model(df, 2, 1) ==
      Seq(0 -> Seq(62500L, 0L), 1 -> Seq(625000L, -125000L)))
    // iteration 2: {4, 6, 3} and {1, 5, 2}; -500000/3 floors to -166667
    assert(model(df, 2, 2) ==
      Seq(0 -> Seq(125000L, 0L), 1 -> Seq(750000L, -166667L)))
  }

  test("an empty cluster keeps its previous centroid") {
    // vecs 4 and 3 coincide, so every vector ties between the two seeds
    // and goes to cluster 0: cluster 1 has no members in iteration 1
    val df = corpus(
      4L -> Seq(0.25f, 0.25f), 3L -> Seq(0.25f, 0.25f),
      1L -> Seq(1.0f, 0.25f), 5L -> Seq(0.75f, 0.25f))
    assert(model(df, 2, 1) ==
      Seq(0 -> Seq(562500L, 250000L), 1 -> Seq(250000L, 250000L)))
    // iteration 2 repopulates it: {1, 5} and {4, 3}
    assert(model(df, 2, 2) ==
      Seq(0 -> Seq(875000L, 250000L), 1 -> Seq(250000L, 250000L)))
  }

  test("an equidistant vector goes to the smaller cluster id") {
    // vec 1 sits halfway between seed 4 (cluster 0) and seed 3 (cluster 1)
    val df = corpus(
      4L -> Seq(0.0f, 0.0f), 3L -> Seq(1.0f, 0.0f), 1L -> Seq(0.5f, 0.0f))
    assert(model(df, 2, 1) ==
      Seq(0 -> Seq(250000L, 0L), 1 -> Seq(1000000L, 0L)))
    // the shared argmin, directly: ids are scanned in ascending order
    // whatever order the model lists them in
    val cents = KMeans.Centroids(Array(1 -> Array(2L), 0 -> Array(0L)), 1)
    assert(cents.ids(cents.nearest(Array(1L), 0, 1L)) == 0)
  }

  test("vectors outside the md5-first TrainCap sample move no centroid") {
    val n = KMeans.TrainCap + 4
    def hash(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"km|$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val order = (0L until n).sortBy(id => (hash(id), id))
    val seed2 = order(1)
    val outlier = order(n - 1) // last in hash order: outside the sample
    val df = (0L until n).map { id =>
      val v =
        if (id == seed2) Seq(1.0f, 0.0f)
        else if (id == outlier) Seq(100.0f, 100.0f)
        else Seq(0.0f, 0.0f)
      (id, v)
    }.toDF("vec_id", "embedding")
    // trained on the sample only: cluster 1 is seed 2 alone. Had the
    // outlier been sampled it would have joined cluster 1 and pulled it
    // to (50500000, 50000000)
    assert(model(df, 2, 2) == Seq(0 -> Seq(0L, 0L), 1 -> Seq(1000000L, 0L)))
  }

  test("training runs one labelled Spark job, and every call trains") {
    val dir = Files.createTempDirectory("kmeans-trainer-spec").resolve("emb")
    corpus(
      4L -> Seq(0.0f, 0.0f), 3L -> Seq(0.25f, 0.0f), 1L -> Seq(0.5f, 0.0f),
      5L -> Seq(0.75f, 0.0f), 2L -> Seq(1.0f, -0.5f), 6L -> Seq(0.125f, 0.0f))
      .repartition(3).write.parquet(dir.toString)
    val df = spark.read.parquet(dir.toString)
    var trained: Seq[(Int, Seq[Long])] = Nil
    val cold = jobsInGroup("kmeans-trainer-cold") { trained = model(df, 2, 2) }
    assert(cold.size == 1, s"jobs: $cold")
    assert(trained == Seq(0 -> Seq(125000L, 0L), 1 -> Seq(750000L, -166667L)))
    // no memo: a second call on the same frame trains again, the same model
    val again = jobLabelsInGroup("kmeans-trainer-again") {
      assert(model(df, 2, 2) == trained)
    }
    assert(again == Seq("k-means: train sample"), s"jobs: $again")
  }
}
