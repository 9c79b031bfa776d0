package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The broadcast-query top-k searches against plain-Scala brute force over
  * the collected inputs: exact cosine truth, PQ ADC top-k, the
  * tie-inclusive refine shortlist and the adaptive-IVF tune grid. The
  * reference recomputes every score from the definition (fixed-point
  * `floor(x·1e6)` arithmetic, ties to the smaller id) and shares no code
  * with the kernels.
  */
class TopKReferenceSpec extends SparkSpec {
  import spark.implicits._

  private def q6(v: Float): Long = math.floor(v.toDouble * 1e6).toLong

  /** QuantizedDot: NULL elements skipped, the shorter length, NULL when
    * either array is.
    */
  private def dot(a: Seq[java.lang.Float], b: Seq[java.lang.Float]): Option[Long] =
    if (a == null || b == null) None
    else Some(a.zip(b).collect { case (x, y) if x != null && y != null =>
      q6(x) * q6(y) }.sum)

  /** (neighbor, dot) ranked by dot desc, NULL last, then id. */
  private def byDot(c: Seq[(Long, Option[Long])]): Seq[(Long, Option[Long])] =
    c.sortBy { case (id, d) => (d.isEmpty, d.map(-_).getOrElse(0L), id) }

  private def gaussian(n: Int, dim: Int, seed: Int): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)((rnd.nextGaussian() / 4).toFloat))
  }

  test("bruteForceTopK == reference with a NULL embedding, a NULL element, " +
    "exact dot ties and k larger than the corpus") {
    def f(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)
    val rows: Seq[(Long, Seq[java.lang.Float])] = Seq(
      0L -> f(1.0f, 0.5f, 0.0f),
      1L -> f(0.5f, 1.0f, 0.25f),
      2L -> null,                                   // NULL embedding
      3L -> (f(0.9f) ++ Seq(null) ++ f(0.1f)),      // NULL element
      4L -> f(0.3f, 0.3f, 0.3f),
      5L -> f(0.3f, 0.3f, 0.3f),                    // exact tie with 4
      6L -> f(-1.0f, 0.0f, 0.0f),
      7L -> f(0.3f, 0.3f))                          // shorter vector
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, e) => Row(id, e) }: _*),
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))
    val k = 20
    val got = Similarity.bruteForceTopK(df, nQueries = 4, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
        r.getInt(3))).toSeq
    val want = rows.filter(_._1 < 4).flatMap { case (q, qe) =>
      byDot(rows.filter(_._1 != q).map { case (id, e) => id -> dot(qe, e) }).take(k)
        .zipWithIndex.map { case ((id, d), i) => (q, id, d.map(_.toDouble / 1e12), i + 1) }
    }
    assert(got == want)
    assert(got.count(_._1 == 0L) == rows.size - 1, "k past the corpus keeps every other row")
  }

  /** A 64-dim PQ corpus with a clone family that shares one code tuple:
    * the clones are jittered so that their exact dots with query 0 rise
    * with the id while their ADC distances tie.
    */
  private val pqRows: Seq[(Long, Seq[Float])] = {
    val g = gaussian(60, KMeans.Dim, 11)
    val base = g.head
    g.zipWithIndex.map { case (v, i) =>
      if (i >= 20 && i < 26) i.toLong -> base.updated(1, base(1) + 1e-4f * (i - 19))
      else i.toLong -> v
    }
  }
  private val (pqM, pqCodes, pqIters) = (4, 4, 3)

  /** Plain-Scala ADC: the trained codebooks from [[PQ.pqCodebooks]],
    * each vector encoded to its nearest code per subspace (ties to the
    * smaller code), distance = Σ_s ||q_s − c_s||² in fixed point.
    */
  private def adcReference(df: org.apache.spark.sql.DataFrame): (Long, Long) => Long = {
    val sub = KMeans.Dim / pqM
    val book: Map[(Int, Int), Seq[Long]] = PQ.pqCodebooks(df, pqM, pqCodes, pqIters).collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (key, rs) => key -> rs.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq }
    val x = pqRows.map { case (id, v) => id -> v.map(q6) }.toMap
    def d2(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum
    def slice(v: Seq[Long], s: Int) = v.slice(s * sub, (s + 1) * sub)
    val codes = x.map { case (id, v) => id -> (0 until pqM).map { s =>
      book.keys.filter(_._1 == s).map(_._2).toSeq.sorted.minBy(c => d2(slice(v, s), book((s, c))))
    } }
    (q, n) => (0 until pqM).map(s => d2(slice(x(q), s), book((s, codes(n)(s))))).sum
  }

  test("pqAdcTopK and the refine shortlist == reference when the R·k " +
    "boundary falls inside an ADC tie class") {
    val df = pqRows.toDF("vec_id", "embedding")
    val adc = adcReference(df)
    val (topK, r) = (2, 2)
    val others = pqRows.map(_._1).filter(_ != 0L)
    val dists = others.map(n => n -> adc(0L, n)).sortBy { case (n, d) => (d, n) }
    // the precondition that makes the test meaningful: the (R·k)-th and
    // (R·k + 1)-th smallest distances tie, so a strict cut would split
    // the class
    assert(dists(topK * r - 1)._2 == dists(topK * r)._2, dists.take(10))

    val adcGot = PQ.pqAdcTopK(df, nQueries = 1, topK = topK * r, m = pqM, codes = pqCodes,
      iters = pqIters).collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(adcGot == dists.take(topK * r).zipWithIndex.map { case ((n, d), i) => (n, d, i + 1) })

    // tie-inclusive shortlist: rank() ≤ R·k over the distances alone
    val short = dists.filter { case (_, d) => dists.count(_._2 < d) < topK * r }.map(_._1)
    assert(short.size > topK * r)
    val e = pqRows.toMap
    val boxed = (v: Seq[Float]) => v.map(java.lang.Float.valueOf)
    val want = byDot(short.map(n => n -> dot(boxed(e(0L)), boxed(e(n))))).take(topK)
      .zipWithIndex.map { case ((n, d), i) => (n, d.get.toDouble / 1e12, i + 1) }
    val got = PQ.pqAdcRefineTopK(df, nQueries = 1, topK = topK, refineFactor = r, m = pqM,
      codes = pqCodes, iters = pqIters)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got == want)
  }

  test("nprobeTuneGrid hits == reference grid from the collected ranking, " +
    "with label cells and with sub-bucketed cells") {
    val rows = gaussian(80, 16, 5).zipWithIndex.map { case (v, i) => (i.toLong, v, i % 5) }
    val df = rows.toDF("vec_id", "embedding", "label")
    val e = rows.map { case (id, v, _) => id -> v.map(java.lang.Float.valueOf) }.toMap
    for (budget <- Seq(Similarity.CellBudget, 20L)) {
      val p = Similarity.adaptiveSubPlanes(rows.size, budget)
      val ranked = Similarity.ivfCellsRanked(df, Similarity.MaxDerivedNprobe, p).collect()
        .map(r => (r.getLong(0), r.get(1), r.getInt(2)))
      val home = ranked.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
      val want = (1 to Similarity.MaxDerivedNprobe).map { np =>
        np -> (0L until Similarity.TuneQueries).map { q =>
          val all = e.keys.filter(_ != q).toSeq.map(n => n -> dot(e(q), e(n)))
          val truth = byDot(all).take(Similarity.TuneK).map(_._1).toSet
          val probed = ranked.filter(r => r._1 == q && r._3 <= np).map(_._2).toSet
          byDot(all.filter { case (n, _) => probed(home(n)) }).take(Similarity.TuneK)
            .count { case (n, _) => truth(n) }.toLong
        }.sum
      }
      val got = Similarity.nprobeTuneGrid(df, budget).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toSeq
      assert(got == want, s"budget $budget (p = $p)")
    }
  }
}
