package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("dot product matches hand computation exactly") {
    val df = emb((1L, Seq(1.0f, 0.0f, 0.5f), 0), (2L, Seq(0.5f, 1.0f, 1.0f), 0))
    val a = df.filter($"vec_id" === 1L).select($"embedding".as("ea"))
    val b = df.filter($"vec_id" === 2L).select($"embedding".as("eb"))
    val got = a.crossJoin(b)
      .select(Similarity.dot($"ea", $"eb").as("d")).as[Double].collect()(0)
    assert(got == 1.0) // 1*0.5 + 0*1 + 0.5*1
  }

  test("embeddingNearDups finds only pairs over the threshold") {
    val df = emb(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0), // cosine 1 with vec 1
      (3L, Seq(0.0f, 1.0f), 0)) // orthogonal
    val pairs = Similarity.embeddingNearDups(df)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("brute-force top-k ranks by cosine desc with vec_id tie-break") {
    val df = emb(
      (0L, Seq(1.0f, 0.0f), 0), // query
      (10L, Seq(1.0f, 0.0f), 0), // cosine 1
      (11L, Seq(0.8f, 0.6f), 0), // cosine .8
      (12L, Seq(0.0f, 1.0f), 0)) // cosine 0
    val got = Similarity.bruteForceTopK(df, nQueries = 1, k = 2)
      .select("neighbor_id").as[Long].collect()
    assert(got.toSeq == Seq(10L, 11L))
  }

  test("ann recall: 1.0 when IVF search is exhaustive, counts misses when " +
    "cells split the true neighbors away") {
    // one label => one IVF cell => in-cell search IS brute force => every
    // query's recall must be exactly 1.0
    val oneCell = emb(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.8f, 0.2f), 0), (3L, Seq(0.0f, 1.0f), 0),
      (4L, Seq(0.1f, 0.9f), 0))
    val r1 = Similarity.annRecall(oneCell, nQueries = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(r1.toSeq == Seq((0L, 2L, 1.0), (1L, 2L, 1.0)), r1.toSeq)
    // split cells: query 0's TRUE top-1 (12, dot 0.8) stays routed to the
    // other cell (centroid assignment keeps it there: 12·cB = 0.77 >
    // 12·cA = 0.63), so the in-cell search can only find doc 1 (dot 0.5)
    // — the index must miss 12 and recall must say so
    val split = emb(
      (0L, Seq(1.0f, 0.0f), 0),
      (1L, Seq(0.5f, 0.1f), 0),
      (10L, Seq(0.0f, 1.0f), 1),
      (11L, Seq(0.2f, 0.9f), 1),
      (12L, Seq(0.8f, 0.6f), 1))
    // nprobe pinned to 1: this test checks MISS COUNTING; the derived
    // default would degrade to exact on a corpus this small (the tune
    // sample cannot reach the hit bar) and hide the miss
    val r2 = Similarity.annRecall(split, nQueries = 1, k = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(r2.toSeq == Seq((0L, 1L, 0.5)), r2.toSeq)
  }

  test("derived nprobe: clone-structured corpus tunes to 1, tiny or " +
    "structure-free corpora degrade to exact probe-all-cells") {
    // ten clone families, 6 clones each, one label per family, pairwise
    // ORTHOGONAL one-hot directions (dims 0..9) with the clone jitter on
    // a dim no family occupies: every query's true top-5 IS its 5
    // siblings, all in the query's own label cell, so the tune sample
    // hits 50/50 already at nprobe=1
    val cloneRows = for (f <- 0 until 10; c <- 0 until 6) yield {
      val base = Seq.tabulate(12)(d => if (d == f) 1.0f else 0.0f)
      (f * 6L + c, base.updated(11, 0.001f * c), f)
    }
    val clones = emb(cloneRows: _*)
    assert(Similarity.derivedNprobe(clones) == 1)
    val grid = Similarity.nprobeTuneGrid(clones).collect()
    assert(grid.length == Similarity.MaxDerivedNprobe)
    assert(grid.count(_.getBoolean(2)) == 1 && grid.head.getBoolean(2))
    assert(grid.forall(_.getLong(1) >= Similarity.TuneHitBar))
    // a corpus too small for the sample to ever reach the bar must report
    // degrade (-1), choose no grid row, and the degraded default must
    // EQUAL exact brute-force for every query
    val tiny = emb(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 1),
      (2L, Seq(0.8f, 0.2f), 0), (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(0.1f, 0.9f), 0))
    assert(Similarity.derivedNprobe(tiny) == -1)
    assert(Similarity.nprobeTuneGrid(tiny).collect().forall(!_.getBoolean(2)))
    val got = Similarity.ivfTopKAdaptive(tiny, k = 2)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Similarity.bruteForceTopK(tiny, nQueries = 5, k = 2)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"degraded default must be exact: $got vs $want")
  }

  test("lsh buckets are deterministic and bucketed top-k only pairs within a bucket") {
    val df = emb(
      (1L, Seq.fill(64)(0.1f), 0),
      (2L, Seq.fill(64)(0.1f), 0),
      (3L, Seq.fill(64)(-0.1f), 1))
    val buckets = Similarity.lshBuckets(df)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("bucket")).toMap
    assert(buckets(1L) == buckets(2L))
    assert(buckets(1L) != buckets(3L)) // opposite vectors flip every sign bit
    val topk = Similarity.lshBucketedTopK(df, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(topk.toSet == Set((1L, 2L), (2L, 1L)))
  }

  test("ivf assigns vectors to nearest label centroid and searches in-cell") {
    val df = emb(
      (1L, Seq(1.0f, 0.0f), 0), // cluster A
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1), // cluster B
      (4L, Seq(0.1f, 0.9f), 1),
      (5L, Seq(0.95f, 0.05f), 1)) // labeled B but nearest centroid is A
    val cells = Similarity.ivfCells(df)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(cells(1L) == 0 && cells(2L) == 0 && cells(3L) == 1 && cells(4L) == 1)
    assert(cells(5L) == 0) // routed by centroid distance, not by its label
    val topk = Similarity.ivfTopK(df, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(topk(1L) == 5L && topk(3L) == 4L) // 5 re-routed into cell 0 wins
  }

  test("block-grid exact near-dup == naive all-pairs for every block count") {
    // 25 pseudo-random unit-ish vectors; the grid decomposition must return
    // exactly the same pair set regardless of how many blocks it uses
    // (including blocks > n and blocks = 1).
    val rows = (0 until 25).map { i =>
      val v = Seq.tabulate(8)(d => (((i * 31 + d * 17) % 13) - 6) / 6.0f)
      (i.toLong, v, i % 3)
    }
    val df = emb(rows: _*)
    val naive = {
      val a = df.select($"vec_id".as("vec_a"), $"embedding".as("ea"))
      val b = df.select($"vec_id".as("vec_b"), $"embedding".as("eb"))
      a.crossJoin(b).filter($"vec_a" < $"vec_b")
        .select($"vec_a", $"vec_b", Similarity.dot($"ea", $"eb").as("cosine"))
        .filter($"cosine" >= Similarity.CosineThreshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    assert(naive.nonEmpty) // the fixture must actually exercise the threshold
    for (blocks <- Seq(1, 3, 8, 40)) {
      val got = Similarity.embeddingNearDups(df, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == naive, s"blocks=$blocks")
    }
  }

  test("multi-probe LSH near-dup = exact pairs at bucket Hamming <= maxFlips") {
    val rows = (0 until 40).map { i =>
      val v = Seq.tabulate(Similarity.Dim)(d => (((i * 7 + d * 5) % 11) - 5) / 16.0f)
      (i.toLong, v, 0)
    }
    val df = emb(rows: _*)
    val buckets = Similarity.lshBuckets(df)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("bucket")).toMap
    val exact = Similarity.embeddingNearDups(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (flips <- Seq(0, 1, 2)) {
      val expected = exact.filter { case (a, b) =>
        buckets(a).zip(buckets(b)).count { case (x, y) => x != y } <= flips
      }
      val got = Similarity.embeddingNearDupsApprox(df, maxFlips = flips)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"maxFlips=$flips")
    }
  }

  test("composite sub-bucket cells multiply the cell count; top-k stays valid") {
    val rows = (0 until 24).map { i =>
      val v = Seq.tabulate(Similarity.Dim)(d => (((i * 13 + d * 7) % 9) - 4) / 12.0f)
      (i.toLong, v, i % 2)
    }
    val df = emb(rows: _*)
    val plain = Similarity.ivfCellsRanked(df, 1)
      .select("cell").distinct().count()
    val composite = Similarity.ivfCellsRanked(df, 1, subPlanes = 2)
      .collect().map(_.getAs[String]("cell"))
    assert(composite.forall(_.matches("\\d+\\|[01]{2}")))
    assert(composite.distinct.length >= plain) // cells only split, never merge
    val topk = Similarity.ivfTopK(df, k = 2, subPlanes = 2)
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(topk.values.forall(_.length <= 2))
    // every returned neighbor shares the query's composite cell by construction
  }

  test("plane signs are ±1 and stable across invocations") {
    val p = Similarity.planeSigns
    assert(p.size == Similarity.Planes && p.forall(_.size == Similarity.Dim))
    assert(p.flatten.forall(s => s == 1 || s == -1))
    assert(p == Similarity.planeSigns)
  }

  test("plane family extends deterministically; bucket width follows planes") {
    // the corpus-scale knob: more planes → longer signatures, same prefix
    val p8 = Similarity.planeSignsFor(8)
    assert(p8.size == 8 && p8.take(4) == Similarity.planeSigns)
    val df = emb((1L, Seq.fill(64)(0.1f), 0), (2L, Seq.fill(64)(-0.1f), 1))
    val buckets = Similarity.lshBuckets(df, planes = 6)
      .collect().map(_.getAs[String]("bucket"))
    assert(buckets.forall(_.length == 6))
    // antipodal vectors flip every bit whose plane dot is nonzero (a
    // zero-sum plane maps both to '1' — the >= 0 tie rule)
    val zeroSum = Similarity.planeSignsFor(6).map(_.sum == 0)
    buckets(0).zip(buckets(1)).zip(zeroSum).foreach { case ((a, b), z) =>
      if (z) assert(a == '1' && b == '1') else assert(a != b)
    }
  }

  test("streaming bucket probe: stream-static ANN retrieval per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    // static corpus: 40 vectors in two clearly-separated directions
    val corpus = (1L to 40L).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i, (Array.fill(8)(base) ++ Array.fill(8)(0.1f * (i % 5))).toSeq)
    }.toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val q = Similarity.streamingBucketProbe(
        mem.toDF().toDF("vec_id", "embedding"), corpus, planes = 2)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // per-batch top-1, as the serving caller would
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id").orderBy(col("cosine").desc, col("neighbor_id"))
        batch.withColumn("rank", row_number().over(w)).filter(col("rank") === 1)
          .select("probe_id", "neighbor_id", "cosine").collect()
          .foreach(r => results += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
      }
      .start()
    try {
      // a probe pointing in the "+1" direction must retrieve an even
      // (positive-direction) corpus vector from its own bucket
      mem.addData((100L, Seq.fill(8)(1.0f) ++ Seq.fill(8)(0.0f)))
      q.processAllAvailable()
    } finally q.stop()
    assert(results.nonEmpty)
    val (probe, neighbor, cosine) = results.head
    assert(probe == 100L && neighbor % 2 == 0 && cosine > 0)
  }

  test("trained-cell expression assignment == batch groupBy argmin assignment") {
    // two tight clusters in Dim-space; the q76 query surface (trainedCells)
    // must reproduce the library assignment relation exactly
    val dim = KMeans.Dim
    def v(seed: Int, bump: Int) = Seq.tabulate(dim)(i =>
      (if (i % 2 == 0) seed.toFloat else -seed.toFloat) + bump * 0.01f)
    val df = (0 until 20).map(i => (i.toLong, v(if (i < 10) 1 else 5, i), 0))
      .toDF("vec_id", "embedding", "label")
    val viaExpr = KMeans.trainedCells(df, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaAgg = KMeans.kmeansAssignments(df, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaExpr == viaAgg)
    assert(viaExpr.values.toSet.size == 2) // both clusters populated
  }

  test("streaming serve routes probes through the trained quantizer (MemoryStream)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dim = KMeans.Dim
    def v(sign: Float, bump: Int) = Seq.tabulate(dim)(i =>
      sign * (if (i % 2 == 0) 1.0f else -1.0f) + bump * 0.001f)
    // corpus: even ids point "+", odd ids point "−"
    val corpus = (0 until 16).map(i =>
      (i.toLong, v(if (i % 2 == 0) 1f else -1f, i), 0)).toDF("vec_id", "embedding", "label")
    val results = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = KMeans.streamingTrainedServe(
        mem.toDF().toDF("vec_id", "embedding"), corpus, k = 2, iters = 2)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          results += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
      }
      .start()
    try {
      mem.addData((100L, v(1f, 3))) // a "+"-direction probe
      q.processAllAvailable()
    } finally q.stop()
    assert(results.nonEmpty)
    // every served neighbor comes from the probe's own trained cell — the
    // "+" cluster (even ids), all with strongly positive cosine
    assert(results.forall { case (p, n, c) => p == 100L && n % 2 == 0 && c > 0 })
    assert(results.map(_._2).toSet.size >= 2) // served the cell, not one row
  }

  test("embedding keep-list drops all but the lowest vec_id per near-dup component") {
    val df = emb(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),  // dup of 1
      (5L, Seq(0.99f, 0.01f), 0), // near-dup of 1/2 → same component
      (9L, Seq(0.0f, 1.0f), 1))  // orthogonal, survives alone
    val kept = Similarity.embeddingKeepList(df, exact = true)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(kept == Seq(1L, 9L))
  }

  test("embedding keep-list DEFAULT routes through the LSH candidate path") {
    val df = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dflt = Similarity.embeddingKeepList(df)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val approx = Similarity.embeddingKeepListApprox(df)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(dflt == approx)
  }

  // --- k-means trainer ------------------------------------------------

  /** 30 64-dim vectors in three well-separated planted groups. The
    * md5-order seeds for ids 0..29 are 29, 28, 17 (computed offline), and
    * the group map places one seed per group, so 2 Lloyd's iterations must
    * recover the planted partition exactly.
    */
  private def plantedCorpus = {
    def groupOf(id: Int) = id match {
      case 29 => 0; case 28 => 1; case 17 => 2; case i => i % 3
    }
    val rows = (0 until 30).map { id =>
      val g = groupOf(id)
      val v = Array.fill(64)(0.0f)
      v(2 * g) = 1.0f
      v(2 * g + 1) = 0.001f * (id % 10) // tiny within-group spread
      (id.toLong, v.toSeq, g)
    }
    (rows.toDF("vec_id", "embedding", "label"), rows.map(r => r._1 -> r._3).toMap)
  }

  test("k-means recovers planted clusters and is partitioning-invariant") {
    val (df, groupOf) = plantedCorpus
    val assigned = KMeans.kmeansAssignments(df, k = 3, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    // exact planted partition: same planted group ⇔ same learned cluster
    for (a <- 0L until 30L; b <- 0L until 30L)
      assert((assigned(a) == assigned(b)) == (groupOf(a) == groupOf(b)), s"($a,$b)")

    val cents = KMeans.kmeansCentroids(df, k = 3, iters = 2).collect()
    assert(cents.length == 3 * 64)
    assert(cents.map(_.getAs[Long]("cluster_size")).toSet == Set(11L, 10L, 9L))
    // identical model from a differently-partitioned input (exact integer
    // distances + algebraic aggregates ⇒ no partitioning sensitivity)
    val cents2 = KMeans.kmeansCentroids(df.repartition(7), k = 3, iters = 2).collect()
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
  }

  test("k-means centroid coordinates are the floored quantized means") {
    // two vectors in one cluster along dim 0: 1.0 and 0.5 → quantized
    // 1000000 and 500000 → centroid floor(1500000/2) = 750000
    val rows = Seq(
      (1L, (1.0f +: Array.fill(63)(0.0f).toSeq), 0),
      (2L, (0.5f +: Array.fill(63)(0.0f).toSeq), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    val cents = KMeans.kmeansCentroids(df, k = 1, iters = 1).collect()
    val dim0 = cents.find(r => r.getAs[Int]("dim") == 0).get
    assert(dim0.getAs[Long]("centroid_q") == 750000L)
    assert(dim0.getAs[Long]("cluster_size") == 2L)
  }

  test("trained IVF search only pairs vectors within a learned cell") {
    val (df, groupOf) = plantedCorpus
    val out = KMeans.ivfTopKTrained(df, topK = 3, k = 3, iters = 2).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(groupOf(r.getAs[Long]("query_id")) == groupOf(r.getAs[Long]("neighbor_id")))
    }
    // every vector has ≥ 2 same-cell neighbors available → 3 ranked rows
    // for groups of size ≥ 4
    val perQuery = out.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 3))
  }

  test("trainedCellsRanked: rank-1 equals the home-cell assignment and " +
    "ranks walk distinct cells in distance order") {
    val (df, _) = plantedCorpus
    val home = KMeans.trainedCells(df, k = 3, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val ranked = KMeans.trainedCellsRanked(df, maxRank = 3, k = 3, iters = 2)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Int]("cell_rank")))
    ranked.filter(_._3 == 1).foreach { case (v, c, _) =>
      assert(home(v) == c, s"vec $v rank-1 cell $c != home ${home(v)}")
    }
    // per vector: exactly maxRank rows, all distinct cells
    ranked.groupBy(_._1).foreach { case (v, rows) =>
      assert(rows.length == 3 && rows.map(_._2).distinct.length == 3, s"vec $v")
    }
  }

  test("probed trained-IVF at nprobe=k reproduces exact brute-force top-k") {
    val (df, _) = plantedCorpus
    val exact = Similarity.bruteForceTopK(df, nQueries = 30, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    val probed = KMeans.ivfTopKTrainedProbed(df, topK = 3, nprobe = 3, k = 3, iters = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(probed == exact)
  }

  test("semantic dedup keeps, per duplicate group, the vector farthest from its prototype") {
    val (df, groupOf) = plantedCorpus
    // tau=0 within planted groups: every same-cell pair is a "duplicate"
    // (all cosines ≥ 0 here), so exactly ONE survivor per cell — the one
    // with the max cent_dist, ties to the lowest vec_id
    val kept = KMeans.semanticDedup(df, k = 3, iters = 2, tau = 0.0).collect()
    assert(kept.length == 3)
    // survivors must come from three distinct cells and each must have the
    // maximal cent_dist in its cell (verified against the full assignment)
    val all = KMeans.assignTrainedCells(
        df.select(col("vec_id"), col("embedding")),
        KMeans.trainedModel(df, k = 3, iters = 2), withDist = true)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Long]("cent_dist")))
    val expect = all.groupBy(_._2).map { case (_, rows) =>
      rows.minBy(r => (-r._3, r._1))._1
    }.toSet
    assert(kept.map(_.getAs[Long]("vec_id")).toSet == expect)
    assert(kept.map(_.getAs[Int]("cell")).toSet.size == 3)
  }

  test("semantic dedup at an unreachable threshold keeps everything") {
    val (df, _) = plantedCorpus
    val kept = KMeans.semanticDedup(df, k = 3, iters = 2, tau = 2.0)
    assert(kept.count() == 30)
  }

  test("prototype prune keeps the perCell farthest-from-centroid vectors per cell") {
    val (df, _) = plantedCorpus
    val out = KMeans.prototypePrune(df, k = 3, iters = 2, perCell = 4).collect()
    // 3 cells × 4 kept
    assert(out.length == 12)
    val byCell = out.groupBy(_.getAs[Int]("cell"))
    assert(byCell.keySet.size == 3)
    byCell.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4))
      // ranks descend by cent_dist (ties ascending by vec_id)
      val ordered = rows.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("cent_dist"), r.getAs[Long]("vec_id"))).toSeq
      assert(ordered.sliding(2).forall {
        case Seq((d1, v1), (d2, v2)) => d1 > d2 || (d1 == d2 && v1 < v2)
        case _ => true
      })
    }
  }

  test("semantic decontamination flags corpus vectors near an eval vector, " +
    "reports the smallest eval match and the max cosine") {
    // eval = vec_id % 10 == 0. Unit vectors, so the quantized dot IS the
    // cosine. Corpus vec 1 is a verbatim leak of the eval example — the
    // canonical contamination case (same bucket, flip-0 probe finds it).
    val e1 = Seq.fill(64)(0.125f)                      // eval 10, 20 (identical)
    val far = Seq.tabulate(64)(i => if (i % 2 == 0) 0.125f else -0.125f)
    val df = emb((10L, e1, 0), (20L, e1, 0), (1L, e1, 0), (2L, far, 0))
    val got = Similarity.semanticDecontamination(df)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("contaminated_by"), r.getAs[Double]("max_cosine")))
    assert(got.map(_._1).toSeq == Seq(1L))          // far corpus vec 2 is clean
    assert(got.head._2 == 10L)                      // min of the two eval matches
    assert(got.head._3 >= 0.99)
  }

  test("semantic decontamination never flags eval or cross-corpus vectors") {
    // two identical CORPUS vectors with no eval twin: neither is flagged —
    // corpus-corpus similarity is dedup's job (q42/q78), not decon's
    val v = Seq.fill(64)(0.125f)
    val evalOnly = Seq.tabulate(64)(i => if (i < 32) 0.125f else -0.125f)
    val df = emb((1L, v, 0), (2L, v, 0), (10L, evalOnly, 0))
    assert(Similarity.semanticDecontamination(df).count() == 0)
  }
}
