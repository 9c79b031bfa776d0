package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The broadcast-query top-k searches against plain-Scala brute force over
  * the collected inputs: exact cosine truth, PQ ADC top-k, the
  * tie-inclusive refine shortlist, the label-centroid cell ranking and the
  * adaptive-IVF tune grid. The reference recomputes every score from the
  * definition (fixed-point `floor(x·1e6)` arithmetic, ties to the smaller
  * id) and shares no code with the kernels.
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

  private type Vec = Seq[java.lang.Float]

  /** Plain-Scala label router over (vec_id, embedding, label) rows: per
    * label (NULL included), the position-wise sums of the non-NULL
    * quantized elements (None where a position has none) over n = the
    * label's non-NULL non-empty embeddings; a label without one has no
    * centroid. A row scores `dot / n` against a centroid, None for a NULL
    * embedding, a NULL element on either side or a length mismatch. Each
    * row (not each vec_id) gets its first `maxRank` labels by score desc,
    * None last, then label asc with NULL first, as (vec_id, embedding,
    * rank, label).
    */
  private def labelRanking(
      rows: Seq[(Long, Vec, Integer)], maxRank: Int): Seq[(Long, Vec, Int, Integer)] = {
    val cents = rows.map(_._3).distinct.flatMap { l =>
      val vs = rows.collect { case (_, v, `l`) if v != null && v.nonEmpty => v }
      Option.when(vs.nonEmpty) {
        val sums = (0 until vs.map(_.size).max).map { d =>
          val xs = vs.flatMap(_.lift(d)).filter(_ != null).map(x => q6(x))
          Option.when(xs.nonEmpty)(xs.sum)
        }
        (l, sums, vs.size)
      }
    }
    rows.flatMap { case (id, v, _) =>
      cents.map { case (l, sums, n) =>
        val s =
          if (v == null || v.contains(null) || v.size != sums.size || sums.contains(None)) None
          else Some(v.zip(sums).map { case (x, c) => q6(x) * c.get }.sum.toDouble / n)
        (l, s)
      }.sortBy { case (l, s) =>
        (s.isEmpty, -s.getOrElse(0.0), l != null, Option(l).map(_.intValue).getOrElse(0))
      }.take(maxRank).zipWithIndex.map { case ((l, _), i) => (id, v, i + 1, l) }
    }
  }

  test("ivfCellsRanked == reference label ranking: NULL embedding, NULL " +
    "element, shorter vector, NULL label, score tie, ragged label, " +
    "duplicated vec_id, maxRank past the centroid count") {
    def f(xs: Float*): Vec = xs.map(java.lang.Float.valueOf)
    val nul: Integer = null
    val rows: Seq[(Long, Vec, Integer)] = Seq(
      (0L, f(1.0f, 0.5f, 0.0f), 1),
      (1L, f(0.5f, 1.0f, 0.25f), 1),
      (2L, null, 2),                                // NULL embedding
      (3L, f(0.9f) ++ Seq(null) ++ f(0.1f), 2),     // NULL element
      (4L, f(0.3f, 0.3f), 2),                       // shorter: label 2 is ragged
      (5L, f(0.2f, -0.4f, 0.6f), nul),              // the NULL label's centroid…
      (6L, f(0.2f, -0.4f, 0.6f), 3),                // …ties label 3's exactly
      (7L, f(0.2f, -0.4f, 0.6f), 4),                // one vec_id, two rows
      (7L, f(-0.7f, 0.1f, 0.1f), 4),
      (8L, f(0.0f, 1.0f, 0.0f), 5))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, e, l) => Row(id, e, l) }: _*),
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
    // the deterministic n: label 2's rows 3 and 4 (the NULL embedding is
    // no vector), though only row 3 reaches its third position
    val model = Similarity.labelCentroids(df)
    assert(model.rows == rows.size)
    assert(model.labels.toSeq == Seq(null, 1, 2, 3, 4, 5))
    assert(model.n(model.labels.indexOf(2)) == 2L)
    def bag[T](xs: Seq[T]) = xs.groupBy(identity).map { case (x, g) => x -> g.size }
    for (maxRank <- Seq(1, 3, 10)) {
      val got = Similarity.ivfCellsRanked(df, maxRank).collect().toSeq.map { r =>
        assert(r.get(1) == r.get(3), "cell is the label at subPlanes 0")
        (r.getLong(0), Option(r.getSeq[java.lang.Float](4)).map(_.toList).orNull, r.getInt(2),
          r.getAs[Integer](3))
      }
      val want = labelRanking(rows, maxRank).map { case (id, v, i, l) =>
        (id, Option(v).map(_.toList).orNull, i, l) }
      assert(bag(got) == bag(want), s"maxRank $maxRank")
    }
    // the ragged label's n decides row 0's order: 2 puts label 1 first
    assert(labelRanking(rows, 2).filter(_._1 == 0L).map(_._4) == Seq(1, 2))
    // an exact tie goes to the NULL label, then the smaller one
    assert(labelRanking(rows, 2).filter(_._1 == 6L).map(_._4) == Seq(nul, 3))
  }

  test("labelCentroids fails on a long overflow of a centroid sum, as ANSI SUM does") {
    val big = Seq(4.0e12f)
    val df = Seq((1L, big, 0), (2L, big, 0), (3L, big, 0)).toDF("vec_id", "embedding", "label")
    val e = intercept[Exception](Similarity.labelCentroids(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
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
