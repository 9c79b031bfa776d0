package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Trained models and derived knobs are computed once per public call and
  * never kept between calls: a parquet path rewritten in place gives the
  * new files' results, and each call runs each training job once.
  */
class DerivedPerCallSpec extends SparkSpec {
  import spark.implicits._

  private val dim = KMeans.Dim

  private def model(m: Array[(Int, Array[Long])]): Seq[(Int, Seq[Long])] =
    m.map { case (c, cq) => (c, cq.toSeq) }.toSeq

  /** `n` distinct one-hot axes: no deep near-tie families. */
  private def axes(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, Seq.tabulate(dim)(d => if (d == i % dim) 1.0f + 0.5f * (i / dim) else 0.0f))
    }.toDF("vec_id", "embedding")

  /** Two patterns × `perFamily` members that differ only in coordinate 0:
    * two families `perFamily` deep, all in one subspace.
    */
  private def families(perFamily: Int): DataFrame =
    (0 until 2 * perFamily).map { i =>
      val v = Array.tabulate(dim)(d => 0.1f * ((i % 2) + 1) * ((d % 8) + 1))
      v(0) += 0.001f * (i / 2)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")

  private def parquet(df: DataFrame, name: String): DataFrame = {
    val path = Files.createTempDirectory("derived-per-call").resolve(name).toString
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  test("a parquet path rewritten in place trains and derives from its new files") {
    val path = Files.createTempDirectory("derived-per-call").resolve("emb").toString
    axes(32).write.parquet(path)
    val readA = spark.read.parquet(path)
    val modelA = model(KMeans.trainedModel(readA, k = 2, iters = 2))
    val rA = PQ.derivedRefineFactor(readA)

    families(48).write.mode("overwrite").parquet(path)
    val readB = spark.read.parquet(path)
    val modelB = model(KMeans.trainedModel(readB, k = 2, iters = 2))
    val rB = PQ.derivedRefineFactor(readB)

    val cold = parquet(families(48), "emb-b")
    assert(modelB == model(KMeans.trainedModel(cold, k = 2, iters = 2)))
    assert(rB == PQ.derivedRefineFactor(cold))
    // the two corpora differ in both results, so a stale answer would show
    assert(modelA != modelB)
    assert(rA != rB, s"R: $rA vs $rB")
  }

  test("PQ.models runs one labelled training job, and each codebook is " +
    "KMeans.trainedModel on that subspace's sliced vectors") {
    val rows = families(24).collect().map(r => (r.getLong(0), r.getSeq[Float](1))) ++
      Seq((900L, Seq.fill(dim - 1)(0.5f)), (901L, null))
    val df = parquet(rows.toSeq.toDF("vec_id", "embedding"), "emb")
    var mods: Seq[(Int, Array[(Int, Array[Long])])] = Nil
    val labels = jobLabelsInGroup("pq-models") { mods = PQ.models(df) }
    assert(labels == Seq("pq: train sample"), s"jobs: $labels")
    assert(mods.map(_._1) == (0 until PQ.M))
    val valid = df.filter(col("embedding").isNotNull && size(col("embedding")) === dim)
    mods.foreach { case (s, codebook) =>
      val sliced = valid.select(col("vec_id"),
        slice(col("embedding"), s * PQ.SubDim + 1, PQ.SubDim).as("embedding"))
      assert(model(codebook) ==
        model(KMeans.trainedModel(sliced, PQ.Codes, PQ.Iters, PQ.SubDim)),
        s"subspace $s")
    }
  }

  test("each PQ search call trains every model once") {
    val df = parquet(families(32), "emb")
    def trainings(group: String)(f: => Unit): Map[String, Int] =
      jobLabelsInGroup(group)(f).filter(_.endsWith("train sample"))
        .groupBy(identity).map { case (l, ls) => l -> ls.size }
    val pq = Map("pq: train sample" -> 1)
    assert(trainings("pq-adc") { PQ.pqAdcTopK(df, nQueries = 4, topK = 3).collect() } == pq)
    assert(trainings("pq-adc-again") { PQ.pqAdcTopK(df, nQueries = 4, topK = 3).collect() } == pq)
    assert(trainings("pq-refine") { PQ.pqAdcRefineTopK(df, nQueries = 4, topK = 3).collect() } == pq)
    assert(trainings("pq-ivf") { PQ.ivfPqTopK(df, nQueries = 4, topK = 3).collect() } ==
      pq + ("k-means: train sample" -> 1))
  }
}
