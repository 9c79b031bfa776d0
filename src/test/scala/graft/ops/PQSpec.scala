package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product-quantization specs: encoding consistency, ADC ranking on a
  * planted corpus, and the compression contract (codes are small ints).
  */
class PQSpec extends SparkSpec {
  import spark.implicits._

  private val dim = KMeans.Dim

  // a deterministic corpus of `n` vectors: four distinct subspace
  // patterns repeated, plus per-vector jitter on one coordinate so
  // vectors are distinct but cluster tightly
  private def corpus(n: Int) = {
    val rows = (0 until n).map { i =>
      val base = Array.tabulate(dim) { d =>
        val pattern = (i % 4) + 1
        0.1f * pattern * ((d % 8) + 1)
      }
      base(i % dim) += 0.001f * (i % 7)
      (i.toLong, base.toSeq, i % 4)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("pqEncode: identical subspace slices get identical codes; codes " +
    "are within [0, Codes)") {
    val df = corpus(64)
    val enc = PQ.pqEncode(df).collect()
    assert(enc.length == 64)
    val codes = enc.map(r => r.getLong(0) ->
      (1 to PQ.M).map(r.getInt).toSeq).toMap
    // all codes in range
    codes.values.flatten.foreach(c => assert(c >= 0 && c < PQ.Codes))
    // vectors 0 and 4 share the same pattern with jitter on different
    // coordinates — their untouched subspaces must encode identically
    val same = (0 until PQ.M).count(s => codes(0L)(s) == codes(4L)(s))
    assert(same >= PQ.M - 2, s"patterns diverged: ${codes(0L)} vs ${codes(4L)}")
  }

  test("pqAdcTopK: a near-exact duplicate of the query ranks first") {
    // vec 63 is vec 3 with tiny jitter; both share every subspace
    // pattern, so their PQ codes coincide → ADC distance 0 → the
    // duplicate (or another same-pattern vector, all with identical
    // codes) must occupy rank 1 with the minimal ADC distance
    val df = corpus(64)
    val got = PQ.pqAdcTopK(df, nQueries = 4, topK = 3).collect()
    assert(got.nonEmpty)
    val byQuery = got.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rows) =>
      val first = rows.minBy(_.getInt(3))
      // rank-1 neighbor shares the query's pattern class (same codes)
      assert(first.getLong(2) == rows.map(_.getLong(2)).min)
      assert((first.getLong(1) - q) % 4 == 0,
        s"query $q rank-1 neighbor ${first.getLong(1)} is a different pattern")
    }
  }

  test("streaming PQ encode assigns the same codes as the batch path " +
    "(MemoryStream)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val df = corpus(64)
    // batch truth for vector 7
    val batch = PQ.pqEncode(df).filter(col("vec_id") === 7L).collect()(0)
    val expected = (1 to PQ.M).map(batch.getInt)
    val probeVec = df.filter(col("vec_id") === 7L)
      .collect()(0).getSeq[Float](1)
    val results = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = PQ.streamingPqEncode(mem.toDF().toDF("vec_id", "embedding"), df)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => results += (1 to PQ.M).map(r.getInt))
      }
      .start()
    try {
      mem.addData((700L, probeVec))
      q.processAllAvailable()
    } finally q.stop()
    assert(results.toSeq == Seq(expected))
  }

  test("IVF-PQ: every served neighbor lives in one of the query's nprobe " +
    "coarse cells, ranks dense from 1") {
    val df = corpus(64)
    val cells = KMeans.trainedCells(df)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = PQ.ivfPqTopK(df, nQueries = 4, topK = 3, nprobe = 2)
      .collect()
    assert(got.nonEmpty)
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length))
      // candidate set honors the routing: with nprobe=2 of 8 cells, at
      // most 2 distinct coarse cells appear among a query's neighbors
      val nCells = rows.map(r => cells(r.getLong(1))).distinct
      assert(nCells.length <= 2, s"query $q scored cells $nCells")
    }
  }

  test("codebooks relation is m×codes×subDim rows with populated sizes") {
    // explicit small codebook: the default 256 codes exceeds this 64-row
    // corpus (the trainer then seeds only n centroids), so the exact
    // m·codes·subDim shape is pinned at a fully-seedable size
    val df = corpus(64)
    val m = 4
    val codes = 8
    val cb = PQ.pqCodebooks(df, m = m, codes = codes).collect()
    assert(cb.length == m * codes * (dim / m))
    val bySubspace = cb.groupBy(_.getInt(0))
    assert(bySubspace.keySet == (0 until m).toSet)
    // each subspace's code populations sum to the corpus size
    bySubspace.foreach { case (_, rows) =>
      val perCode = rows.groupBy(_.getInt(1))
        .map { case (_, rs) => rs.head.getLong(4) }
      assert(perCode.sum == 64L)
    }
  }

  test("refine topk with a corpus-covering shortlist equals exact brute " +
    "force; default shortlist results are exact-ranked within it") {
    val df = corpus(64)
    // refineFactor large enough that the ADC shortlist is the whole
    // corpus: the exact re-rank must then BE bruteForceTopK, bit for bit
    val full = PQ.pqAdcRefineTopK(df, nQueries = 4, topK = 3, refineFactor = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val brute = Similarity.bruteForceTopK(df, nQueries = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(full.toSeq == brute.toSeq)
    // default (derived-R) shortlist: every served neighbor must come from
    // the TIE-INCLUSIVE top-3R ADC shortlist and ranks must be dense from
    // 1 in exact-cosine order. Recompute the tie-rank cutoff locally from
    // the full ADC relation (pqAdcTopK's strict row_number list is NOT
    // the shortlist semantics at tie boundaries).
    val r = PQ.derivedRefineFactor(df)
    // topK = 64 = |corpus|: the local tie-rank recomputation below must
    // see EVERY ADC row — a strict row_number top-63 would drop the 64th
    // and make the containment assert spuriously fail if the derived R
    // ever reaches 22 (3R >= 64 ⇒ tie-inclusive shortlist = whole corpus)
    val short = PQ.pqAdcTopK(df, nQueries = 4, topK = 64)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        val dists = rows.map(_._3).sorted
        rows.collect { case (_, n, d) if dists.count(_ < d) < 3 * r => (q, n) }
      }.toSet
    val got = PQ.pqAdcRefineTopK(df, nQueries = 4, topK = 3).collect()
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length))
      val cosines = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
    assert(got.forall(r => short((r.getLong(0), r.getLong(1)))))
  }

  test("derivedRefineFactor covers planted clone families and floors at " +
    "RefineFactor on diverse corpora") {
    // corpus(64) = 4 pattern classes × 16 near-identical members, each
    // member differing from its class base in at most ONE jittered
    // coordinate (→ at most one subspace code) — exactly the near-tie
    // shape the estimator prices: the Hamming-≤1 neighborhood of a class
    // tuple holds the whole 16-member family, so R ≥ 16 > the 10 floor
    val df = corpus(64)
    val r = PQ.derivedRefineFactor(df)
    assert(r >= 16 && r <= 64, s"derived R = $r")
    // a corpus of distinct one-hot axes (no two vectors share a tuple
    // neighborhood beyond the floor) keeps the floor
    val axes = (0 until 32).map { i =>
      (i.toLong, Seq.tabulate(dim)(d => if (d == i % dim) 1.0f + 0.5f * (i / dim) else 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    // families here are ≤ 8 deep (vectors hot in the same subspace), so
    // the floor binds exactly
    assert(PQ.derivedRefineFactor(axes) == PQ.RefineFactor)
    // derived default == explicit override at the same R: the sentinel
    // only changes where R comes from, not the search
    val viaDefault = PQ.pqAdcRefineTopK(df, nQueries = 2, topK = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(3))).toSeq
    val viaExplicit = PQ.pqAdcRefineTopK(df, nQueries = 2, topK = 3, refineFactor = r)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(3))).toSeq
    assert(viaDefault == viaExplicit)
  }

  test("pq recall: an exactly-representable corpus scores 1.0 per query") {
    // corpus = copies of 4 distinct unit axis vectors: every subvector
    // takes ≤ 4 distinct values, so the subquantizers reconstruct them
    // EXACTLY, ADC ordering equals the exact ordering (ties broken by
    // neighbor_id in both), and recall must be exactly 1.0 everywhere.
    // The interesting half of the contract lives in the ARTIFACT, not a
    // spec: on the real (jittered, unit-norm) embeddings table the r11
    // default (M=8 × 256 codes + exact re-rank) measures q107 recall
    // 0.88 at sf0.01 and 1.00 at the 10×/50× probes — vs 0.0-0.46 for
    // the r10 M=4/8-code pure-ADC default this replaced.
    val base = (0 until 4).map { c =>
      Seq.tabulate(dim)(i => if (i == c) 1.0f else 0.0f)
    }
    val rows = (0L until 40L).map(i => (i, base((i % 4).toInt), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = PQ.pqRecall(df, nQueries = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 4)
    assert(got.forall(g => g._2 == 3L && g._3 == 1.0), got.toSeq)
  }
}
