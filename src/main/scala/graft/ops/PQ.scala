package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.LongArrayDot.dotLong

/** Product quantization for embedding compression + search (Jégou,
  * Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
  * Search", IEEE TPAMI — the method behind billion-scale ANN indexes):
  * split each `Dim`-dimensional vector into `M` contiguous subspaces,
  * train an independent k-means codebook of `Codes` centroids per
  * subspace (reusing [[KMeans]]'s fixed-point, engine-exact trainer on
  * sliced vectors — same sample, same seeding rule, same Lloyd's updates,
  * same empty-cluster semantics), and represent every vector by its M
  * nearest code ids. Each public call trains the codebooks once
  * ([[models]]) and passes them to every phase that needs them.
  *
  * Search is ADC (asymmetric distance computation, the paper's §IV): the
  * UNquantized query precomputes a lookup table of squared distances to
  * every (subspace, code) centroid, and a vector's approximate distance
  * is the sum of M table lookups on its code ids — no per-pair
  * vector arithmetic at all.
  *
  * Why this is THE 100-TB embedding answer: the stored index is M small
  * ints per vector (8 one-byte codes against 256 bytes of floats, a 32×
  * compression), codebooks are M·Codes·SubDim longs, and a bounded query
  * batch's lookup tables (queries × M × Codes longs) are built on the
  * driver and ship to the corpus in the [[Similarity.queryTopK]] kernel:
  * each partition encodes its rows, scores them by M lookups per query
  * and keeps a bounded top-k, so no (query, vector) row is ever shuffled.
  * Everything is fixed-point (floor(x·1e6) longs), so codebooks, code
  * assignments and ADC distances are EXACT integers, hash-identical
  * cross-engine.
  *
  * DEFAULT SIZING (r11): M=8 subspaces × 256 codes = 8 bits/subspace —
  * the standard PQ8×8 recipe (Jégou et al.; FAISS defaults use 8-bit
  * subquantizers) — and the default SEARCH is [[pqAdcRefineTopK]] (ADC
  * shortlist + exact re-rank). The r1–r10 default (M=4, 8 codes = 12
  * bits/vector) was sized for oracle convenience and measured mean
  * recall@5 of 0.0–0.46 (`PQTune`, SCALEPROBE_r10) — a library user got
  * mostly-wrong neighbors. Measured with this default (PQTune, r11):
  * pure-ADC 0.48 / refined 0.88 on the adversarial sf0.01 corpus (500
  * iid-random unit vectors — the hardest case for any quantizer), and
  * refined 1.00 at the 10× clone-structured probe corpus. The tiny
  * codebook remains reachable through the (m, codes) parameters.
  */
object PQ {
  val M = 8
  val SubDim: Int = KMeans.Dim / M
  val Codes = 256
  val Iters: Int = KMeans.Iters

  /** Per-subspace trained codebooks. Validity (null / wrong length) is
    * decided on the whole embedding, so every subspace trains on the same
    * vectors (mirrored in the oracle's `validDim`), and the md5 sample
    * order depends only on vec_id, so every subspace samples the same
    * ones: one labelled job collects that sample with each subspace's
    * slice and its x·x as columns, then [[KMeans.lloyd]] trains each
    * codebook on the driver. Each codebook equals [[KMeans.trainedModel]]
    * on that subspace's sliced vectors.
    */
  def models(
      embeddings: DataFrame, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): Seq[(Int, Array[(Int, Array[Long])])] = {
    val subDim = KMeans.Dim / m
    val rows = KMeans.trainingSample(embeddings, KMeans.Dim, "pq: train sample",
      (0 until m).flatMap { s =>
        val sub = slice(col("xq"), s * subDim + 1, subDim)
        Seq(sub, dotLong(sub, sub))
      })
    (0 until m).map { s =>
      s -> KMeans.lloyd(rows.flatMap(_.getSeq[Long](1 + 2 * s)),
        rows.map(_.getLong(2 + 2 * s)), subDim, codes, iters)
    }
  }

  /** The learned codebook relation: one row per (subspace, code, dim)
    * with the fixed-point centroid coordinate and the code's population
    * under the final assignment — the PQ twin of q68's model dump.
    */
  def pqCodebooks(
      embeddings: DataFrame, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): DataFrame = {
    val spark = embeddings.sparkSession
    val subDim = KMeans.Dim / m
    val mods = models(embeddings, m, codes, iters)
    val sizes: Map[(Int, Int), Long] = encoded(embeddings, new Codebooks(mods, m))
      .select(posexplode(array((0 until m).map(s => col(s"code_$s")): _*)).as(Seq("s", "code")))
      .groupBy("s", "code").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val rows = for {
      (s, model) <- mods
      (code, cq) <- model
      d <- 0 until subDim
    } yield (s, code, d, cq(d), sizes.getOrElse((s, code), 0L))
    spark.createDataFrame(rows)
      .toDF("subspace", "code", "dim", "centroid_q", "code_size")
      .orderBy("subspace", "code", "dim")
  }

  def pqCodebooksSql(
      m: Int = M, codes: Int = Codes, iters: Int = Iters): String = {
    val subDim = KMeans.Dim / m
    val chains = (0 until m).map { s =>
      KMeans.kmeansCtesSql(codes, iters, subDim, s"_s$s",
        s"embedding[${s * subDim + 1}:${(s + 1) * subDim}]", KMeans.Dim)
    }.mkString(",\n")
    val branches = (0 until m).map { s =>
      s"""SELECT $s AS subspace, c.cluster AS code,
         |  CAST(d.dim - 1 AS INTEGER) AS dim, c.cq[d.dim] AS centroid_q,
         |  COALESCE(sz.n, 0) AS code_size
         |FROM c${iters}_s$s c
         |CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS dim) d
         |LEFT JOIN (SELECT cluster, COUNT(*) AS n FROM afinal_s$s
         |           GROUP BY cluster) sz ON c.cluster = sz.cluster""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $chains
       |SELECT subspace, code, dim, centroid_q, CAST(code_size AS BIGINT)
       |  AS code_size
       |FROM ($branches)
       |ORDER BY subspace, code, dim""".stripMargin
  }

  /** The encoded corpus: (vec_id, code_0 … code_{M-1}) — one pass, every
    * subspace assigned to its nearest code ([[encode]]). This relation IS
    * the index a PQ deployment stores: M small ints per vector.
    */
  def pqEncode(
      embeddings: DataFrame, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): DataFrame =
    encoded(embeddings, new Codebooks(models(embeddings, m, codes, iters), m))

  /** [[pqEncode]] under already-trained codebooks. */
  private def encoded(embeddings: DataFrame, books: Codebooks): DataFrame =
    encode(
      embeddings.repartition(col("vec_id")), // spread the n·M·Codes distance pass
      books)

  /** The M subspace codebooks laid out for the per-row kernels, one
    * [[KMeans.Centroids]] each. Codes are centroid POSITIONS inside the
    * kernels and cluster ids in every relation (`subs(s).ids`).
    */
  private final class Codebooks(
      mods: Seq[(Int, Array[(Int, Array[Long])])], val m: Int) extends Serializable {
    private val subDim = KMeans.Dim / m
    val subs: Array[KMeans.Centroids] = mods.sortBy(_._1)
      .map { case (_, model) => KMeans.Centroids(model, subDim) }.toArray
    private val width = subs.map(_.k).foldLeft(0)(math.max)

    /** Per subspace, the position of the code nearest to the fixed-point
      * vector x (smallest distance, ties to the smaller code).
      */
    def encode(x: Array[Long]): Array[Int] =
      Array.tabulate(m)(s => subs(s).nearest(x, s * subDim, subs(s).norm(x, s * subDim)))

    /** The ADC lookup table of the fixed-point query x: the exact
      * ||x_s − c||² = x·x − 2x·c + c·c per (subspace, code position).
      */
    def lut(x: Array[Long]): Array[Long] = {
      val t = new Array[Long](m * width)
      for (s <- 0 until m; c <- 0 until subs(s).k)
        t(s * width + c) = subs(s).dist(x, s * subDim, subs(s).norm(x, s * subDim), c)
      t
    }

    /** The ADC distance of encoded `codes` under table t: M lookups. */
    def dist(t: Array[Long], codes: Array[Int]): Long = {
      var d = 0L
      var s = 0
      while (s < m) { d += t(s * width + codes(s)); s += 1 }
      d
    }
  }

  /** The encoder: filter well-formed vectors, then one pass per row
    * quantizes the vector once and runs all M subspace argmins
    * ([[Codebooks.encode]]), projecting (vec_id, code_0 … code_{m-1}).
    * Narrow and deterministic, so it is legal in an append-mode stream.
    */
  private def encode(vectors: DataFrame, books: Codebooks): DataFrame = {
    val filtered = vectors
      .filter(KMeans.wellFormed(col("embedding")))
      .select(col("vec_id"), col("embedding"))
    val schema = StructType(filtered.schema.fields(0) +:
      (0 until books.m).map(s => StructField(s"code_$s", IntegerType, nullable = false)))
    filtered.mapPartitions(_.map { row =>
      val codes = books.encode(Similarity.quantizedAt(row, 1))
      Row.fromSeq(row.get(0) +: codes.indices.map(s => books.subs(s).ids(codes(s))))
    })(Encoders.row(schema))
  }

  /** PQ-encode a STREAM with codebooks trained on a static corpus: the
    * [[encode]] pass has no aggregation, so the encode is legal in an
    * append-mode streaming plan. This is the ingest path of a PQ
    * deployment: vectors arrive, codes leave, the index only ever stores
    * M small ints per vector.
    */
  def streamingPqEncode(
      probes: DataFrame, corpusDf: DataFrame, m: Int = M,
      codes: Int = Codes, iters: Int = Iters): DataFrame =
    encode(probes, new Codebooks(models(corpusDf, m, codes, iters), m))

  /** The ADC kernels' query batch: the well-formed queries (vec_id <
    * nQueries), collected once, with their fixed-point vectors and
    * [[Codebooks.lut]] lookup tables.
    */
  private final case class Queries(
      ids: Array[Long], x: Array[Array[Long]], luts: Array[Array[Long]])

  private def queries(embeddings: DataFrame, books: Codebooks, nQueries: Int): Queries = {
    val rows = Similarity.queryRows(
      embeddings.filter(col("vec_id") < nQueries && KMeans.wellFormed(col("embedding"))),
      "pq: query batch")
    val x = rows.map(Similarity.quantizedAt(_, 1))
    Queries(rows.map(_.getLong(0)), x, x.map(books.lut))
  }

  /** The well-formed corpus as (vec_id BIGINT, embedding), hash-spread on
    * vec_id: the ADC passes have no exchange before them, so a corpus
    * arriving as one parquet split would encode and score on one core.
    */
  private def vectors(embeddings: DataFrame): DataFrame =
    embeddings.repartition(col("vec_id"))
      .filter(KMeans.wellFormed(col("embedding")))
      .select(col("vec_id").cast("long"), col("embedding"))

  /** The ADC kernels' [[Similarity.queryTopK]] pass over [[vectors]],
    * merged to k rows per query: each row is quantized and encoded once,
    * then `score(x, codes)` offers it to the [[Similarity.Best]] of every
    * query other than itself, as (query index, best, vec_id).
    */
  private def adcKernel(embeddings: DataFrame, books: Codebooks, qs: Queries, k: Int)(
      score: (Array[Long], Array[Int]) => (Int, Similarity.Best, Long) => Unit): DataFrame =
    Similarity.mergedTopK(Similarity.queryTopK(vectors(embeddings), qs.ids, 1, k) { (r, best) =>
      val x = Similarity.quantizedAt(r, 1)
      val offer = score(x, books.encode(x))
      val id = r.getLong(0)
      for (q <- qs.ids.indices if qs.ids(q) != id) offer(q, best(q), id)
    }, k)

  /** ADC top-k search: queries (vec_id < nQueries) score the encoded
    * corpus through their (subspace, code) → squared-distance lookup
    * tables in the [[Similarity.queryTopK]] kernel, which keeps each
    * query's topK smallest distances (ties to the smaller neighbor_id) per
    * partition and merges them. All-integer arithmetic end to end, so
    * ranks are engine-exact.
    */
  def pqAdcTopK(
      embeddings: DataFrame, nQueries: Int = 10, topK: Int = 5,
      m: Int = M, codes: Int = Codes, iters: Int = Iters): DataFrame = {
    val books = new Codebooks(models(embeddings, m, codes, iters), m)
    val qs = queries(embeddings, books, nQueries)
    adcRows(embeddings)(adcKernel(embeddings, books, qs, topK) { (_, c) =>
      (q, best, id) => best.offer(isNull = false, -books.dist(qs.luts(q), c), id)
    })
  }

  /** Merged ADC-keyed kernel rows as (query_id, neighbor_id, adc_dist,
    * rank), ids in the corpus's vec_id type.
    */
  private def adcRows(embeddings: DataFrame)(merged: DataFrame): DataFrame = {
    val idType = embeddings.schema("vec_id").dataType
    merged.select(col("query_id").cast(idType).as("query_id"),
        col("neighbor_id").cast(idType).as("neighbor_id"),
        (-col("key")).as("adc_dist"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ composed search (the FAISS-style billion-scale index layout:
    * coarse inverted lists + PQ codes; Jégou et al. 2011 §V): queries
    * route to their `nprobe` nearest TRAINED coarse cells (the q68/q69
    * quantizer, trained once per call and used for both the routing and
    * the corpus assignment), and only vectors in probed cells are
    * ADC-scored through the PQ lookup tables.
    * Non-residual variant (codes quantize the raw vectors, not the
    * coarse residuals), stated plainly: residual encoding would need a
    * second codebook family per coarse cell and buys accuracy, not
    * scale shape.
    *
    * Scale shape: candidate volume drops from n to Σ probed-cell sizes
    * (nprobe/k of the corpus on balanced cells); everything else is
    * q92's kernel, which finds each row's home cell in the same pass.
    * This is the operator a 100-TB corpus actually serves ANN from: cells
    * bound the scan, codes bound the bytes.
    */
  def ivfPqTopK(
      embeddings: DataFrame, nQueries: Int = 10, topK: Int = 5,
      nprobe: Int = 2, kCoarse: Int = KMeans.K, m: Int = M,
      codes: Int = Codes, iters: Int = Iters): DataFrame = {
    val coarse = KMeans.Centroids(KMeans.trainedModel(embeddings, kCoarse, iters), KMeans.Dim)
    val books = new Codebooks(models(embeddings, m, codes, iters), m)
    val qs = queries(embeddings, books, nQueries)
    // each query's nprobe nearest coarse cells, ties to the smaller cell
    // (KMeans.rankedCells' order)
    val probes = qs.x.map(x => coarse.nearestN(x, 0, coarse.norm(x, 0), nprobe).toSet)
    adcRows(embeddings)(adcKernel(embeddings, books, qs, topK) { (x, c) =>
      val cell = coarse.nearest(x, 0, coarse.norm(x, 0))
      (q, best, id) =>
        if (probes(q)(cell)) best.offer(isNull = false, -books.dist(qs.luts(q), c), id)
    })
  }

  def ivfPqTopKSql(
      nQueries: Int = 10, topK: Int = 5, nprobe: Int = 2,
      kCoarse: Int = KMeans.K, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): String = {
    val subDim = KMeans.Dim / m
    val coarseChain = KMeans.kmeansCtesSql(kCoarse, iters, KMeans.Dim)
    val subChains = (0 until m).map { s =>
      KMeans.kmeansCtesSql(codes, iters, subDim, s"_s$s",
        s"embedding[${s * subDim + 1}:${(s + 1) * subDim}]", KMeans.Dim)
    }.mkString(",\n")
    val encJoins = (1 until m)
      .map(s => s"JOIN afinal_s$s a$s USING (vec_id)").mkString(" ")
    val encCols = (0 until m).map(s => s"a$s.cluster AS code$s").mkString(", ")
    val luts = (0 until m).map { s =>
      // qx is the FULL quantized query — index each subspace at its offset
      s"""lut$s AS (
         |  SELECT q.query_id, c.cluster, CAST(list_sum(list_transform(
         |    generate_series(1, $subDim),
         |    i -> (q.qx[i + ${s * subDim}]-c.cq[i])*(q.qx[i + ${s * subDim}]-c.cq[i]))) AS BIGINT) AS ld
         |  FROM qv q CROSS JOIN c${iters}_s$s c)""".stripMargin
    }.mkString(",\n")
    val lutJoins = (1 until m).map(s =>
      s"JOIN lut$s l$s ON e.code$s = l$s.cluster AND l$s.query_id = c.query_id")
      .mkString("\n  ")
    val distSum = (0 until m).map(s => s"l$s.ld").mkString(" + ")
    s"""WITH $coarseChain,
       |$subChains,
       |qv AS (
       |  SELECT vec_id AS query_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qx
       |  FROM embeddings
       |  WHERE vec_id < $nQueries AND ${KMeans.wellFormedSql()}),
       |probed AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cluster AS cell,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        list_sum(list_transform(generate_series(1, ${KMeans.Dim}),
       |          i -> (q.qx[i]-c.cq[i])*(q.qx[i]-c.cq[i]))), c.cluster) AS rn
       |    FROM qv q CROSS JOIN c$iters c) WHERE rn <= $nprobe),
       |cands AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probed p JOIN afinal a ON a.cluster = p.cell
       |  WHERE a.vec_id <> p.query_id),
       |enc AS (
       |  SELECT a0.vec_id, $encCols
       |  FROM afinal_s0 a0 $encJoins),
       |$luts,
       |adc AS (
       |  SELECT c.query_id, c.vec_id AS neighbor_id,
       |    CAST($distSum AS BIGINT) AS adc_dist
       |  FROM cands c JOIN enc e USING (vec_id)
       |  JOIN lut0 l0 ON e.code0 = l0.cluster AND l0.query_id = c.query_id
       |  $lutJoins)
       |SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
       |      FROM adc)
       |WHERE rn <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** `tieRank = true` swaps the final cutoff to tie-inclusive `rank()`
    * ordered by adc_dist alone — the oracle twin of the refine
    * shortlist's boundary-class semantics (see [[RefineFactor]]).
    */
  /** The shared codebooks → enc → LUTs → `adc` CTE chain (no WITH): every
    * ADC-scanning oracle ([[pqAdcTopKSql]], [[pqFloorCalibrationSql]])
    * prefixes this, so the adc relation the calibration ranks is
    * textually THE relation serving scans.
    */
  private def adcChainSql(
      nQueries: Int, m: Int, codes: Int, iters: Int,
      dynWindow: Boolean = false): String = {
    // dynWindow (r16, VERDICT r15 #2): when the calibration CTEs follow,
    // the tune-sample width is CORPUS-SCALED (cnq — 10 queries below
    // TuneCorpusLarge, 40 above, bar at the same 48/50 ratio), so the
    // adc window must cover max(serving window, tune window). At every
    // oracle-checked volume the corpus sits below the threshold and the
    // emitted plan prunes to the r15 shape — hashes unchanged.
    val window =
      if (dynWindow) s"GREATEST($nQueries, (SELECT nq FROM cnq))"
      else nQueries.toString
    val cnqCte =
      if (dynWindow)
        s"""cnq AS (
           |  SELECT CASE WHEN (SELECT COUNT(*) FROM embeddings)
           |                >= ${Similarity.TuneCorpusLarge}
           |              THEN ${Similarity.TuneQueriesLarge}
           |              ELSE ${Similarity.TuneQueries} END AS nq,
           |         CASE WHEN (SELECT COUNT(*) FROM embeddings)
           |                >= ${Similarity.TuneCorpusLarge}
           |              THEN ${Similarity.tuneHitBarFor(
                              Similarity.TuneQueriesLarge * Similarity.TuneK)}
           |              ELSE ${Similarity.TuneHitBar} END AS bar),
           |""".stripMargin
      else ""
    val subDim = KMeans.Dim / m
    val chains = (0 until m).map { s =>
      KMeans.kmeansCtesSql(codes, iters, subDim, s"_s$s",
        s"embedding[${s * subDim + 1}:${(s + 1) * subDim}]", KMeans.Dim)
    }.mkString(",\n")
    val encJoins = (1 until m)
      .map(s => s"JOIN afinal_s$s a$s USING (vec_id)").mkString(" ")
    val encCols = (0 until m).map(s => s"a$s.cluster AS code$s").mkString(", ")
    val luts = (0 until m).map { s =>
      s"""lut$s AS (
         |  SELECT q.query_id, c.cluster, CAST(list_sum(list_transform(
         |    generate_series(1, $subDim),
         |    i -> (q.qx[i]-c.cq[i])*(q.qx[i]-c.cq[i]))) AS BIGINT) AS ld
         |  FROM (SELECT vec_id AS query_id,
         |          list_transform(embedding[${s * subDim + 1}:${(s + 1) * subDim}],
         |            x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qx
         |        FROM embeddings
         |        WHERE vec_id < $window AND ${KMeans.wellFormedSql()}) q
         |  CROSS JOIN c${iters}_s$s c)""".stripMargin
    }.mkString(",\n")
    val lutJoins = (1 until m).map(s =>
      s"JOIN lut$s l$s ON e.code$s = l$s.cluster AND l$s.query_id = l0.query_id")
      .mkString("\n  ")
    val distSum = (0 until m).map(s => s"l$s.ld").mkString(" + ")
    s"""$cnqCte$chains,
       |enc AS (
       |  SELECT a0.vec_id, $encCols
       |  FROM afinal_s0 a0 $encJoins),
       |$luts,
       |adc AS (
       |  SELECT l0.query_id, e.vec_id AS neighbor_id,
       |    CAST($distSum AS BIGINT) AS adc_dist
       |  FROM enc e
       |  JOIN lut0 l0 ON e.code0 = l0.cluster
       |  $lutJoins
       |  WHERE e.vec_id <> l0.query_id)""".stripMargin
  }

  def pqAdcTopKSql(
      nQueries: Int = 10, topK: Int = 5, m: Int = M, codes: Int = Codes,
      iters: Int = Iters, tieRank: Boolean = false,
      derivedCutoff: Boolean = false, floor: Int = RefineFactor): String = {
    // derived-cutoff mode ([[derivedRefineFactor]]'s oracle twin): the
    // shortlist keeps topK·R rows where R comes from the rfac CTE — the
    // max of the sample-calibrated floor (measured over the same adc
    // relation) and the clone-depth estimate over enc, both of which the
    // engines hash-agree on. Emitted AFTER adc: the calibration ranks it.
    val rfacCtes =
      if (derivedCutoff) ",\n" + derivedCutoffCtesSql(m, floor) else ""
    val cutoff =
      if (derivedCutoff) s"$topK * (SELECT r FROM rfac)" else s"$topK"
    // derived-cutoff plans window the adc chain dynamically (the
    // calibration sample may exceed the serving window on large corpora),
    // so the serving output re-pins its own static window
    val servingWindow =
      if (derivedCutoff) s" AND query_id < $nQueries" else ""
    s"""WITH ${adcChainSql(nQueries, m, codes, iters,
          dynWindow = derivedCutoff)}$rfacCtes
       |SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, ${
        if (tieRank) "rank() OVER (PARTITION BY query_id ORDER BY adc_dist)"
        else "row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)"
      } AS rn
       |      FROM adc)
       |WHERE rn <= $cutoff$servingWindow ORDER BY query_id, rank""".stripMargin
  }

  /** Oracle for [[pqFloorCalibration]] (q122): the adc chain, the
    * calibration CTEs, and the derived floor repeated per row.
    */
  def pqFloorCalibrationSql(
      m: Int = M, codes: Int = Codes, iters: Int = Iters): String =
    s"""WITH ${adcChainSql(Similarity.TuneQueries, m, codes, iters,
          dynWindow = true)},
       |${calibrationCtesSql(RefineFactor)}
       |SELECT query_id, neighbor_id, adc_rank, needed_r,
       |  CAST((SELECT r FROM cfl) AS BIGINT) AS floor_r
       |FROM cneed ORDER BY query_id, neighbor_id""".stripMargin

  /** Default refine shortlist factor: the ADC stage keeps
    * `RefineFactor · topK` candidates per query and the exact re-rank
    * picks the final topK from them — the standard FAISS-style
    * `refine`/RFlat recipe (Jégou et al. §VII): per-query exact work is
    * BOUNDED at R·k dot products regardless of corpus size, while recall
    * recovers most of what the lossy codes lose.
    *
    * The shortlist cutoff is RANK-WITH-TIES on adc_dist — `rank() ≤ R·k`,
    * every row whose distance is at most the query's R·k-th smallest
    * ([[shortlistBounds]]), not a row_number cut: near-identical documents quantize to identical codes and therefore
    * EXACTLY equal ADC distances, and a strict R·k cutoff would split
    * such a tie class arbitrarily by vec_id — bounding recall at
    * ~R·k/family-depth no matter how exact the re-rank (measured: the
    * 100×/200× clone probe corpora hold 100/200-deep code-tie families;
    * a row_number shortlist measured recall 0.4 there at R=10, and the R
    * needed to recover 1.0 scaled linearly with the clone depth — a
    * constant-R contract cannot cover data-dependent tie depth). With
    * tie-inclusive rank the whole boundary class gets exact scoring: on
    * real corpora tie classes are shallow so the shortlist stays ≈ R·k,
    * and on degenerate all-tied corpora the refine degrades gracefully
    * toward exact scoring of the tied class (which is the only correct
    * answer — ADC provably cannot order within it). R then only needs to
    * cover NEAR-ties (distinct codes a hair apart), for which 10 is
    * generous; recall is monotone in R (a larger shortlist is a
    * superset).
    *
    * This constant is the FLOOR, not the default: the serving default
    * DERIVES the refine factor from the corpus's code-frequency histogram
    * ([[derivedRefineFactor]]) because a constant R cannot cover
    * data-dependent NEAR-tie depth — the r11 probes measured the R=10
    * default at recall 0.40 on the 100×/200× clone corpora, where each
    * query's ~100/200-member clone family quantizes to a handful of
    * distinct-but-near code tuples: the tie classes are shallow (rank
    * ties don't trigger) yet the family outnumbers R·k, so the strict
    * part of the cutoff truncates mid-family however the ties are
    * handled. Pass an explicit `refineFactor > 0` to override.
    *
    * The constant itself is MEASUREMENT-SIZED (r13, VERDICT r12 #7 —
    * `graft.PQTune <sfDir> rfloor` sweeps it; PQTUNE_r13.json): on the
    * iid 1× corpus (n=2000) floor 10 serves recall 0.86 — below the
    * 0.9 bar the clone decades meet — while 16 measures 0.94 (12→0.88,
    * 24→0.96; the sf0.01 corpus reaches 1.0 from 12 up). 16 is the
    * smallest swept value meeting the bar at every measured size.
    *
    * Since r14 this constant is only the STATIC MINIMUM: the serving
    * floor is SAMPLE-CALIBRATED per corpus ([[calibratedRefineFloor]] —
    * the "next sizing step" the r13 note named, now implemented), because
    * a constant swept at n ≤ 2,000 cannot speak for larger iid corpora
    * where the ADC rank of true neighbors keeps growing (VERDICT r13 #8:
    * the r13 sweep showed recall still climbing at 24/32 on n = 2,000).
    */
  val RefineFactor = 16

  /** SAMPLE-CALIBRATED refine floor (r14, VERDICT r13 #8): instead of
    * asserting a constant swept at n ≤ 2,000, MEASURE — on the fixed tune
    * sample ([[Similarity.TuneQueries]] queries × [[Similarity.TuneK]]
    * exact neighbors, the window the IVF nprobe derivation already uses) —
    * the tie-inclusive ADC rank of every true neighbor, convert each to
    * the smallest refine factor that would have shortlisted it
    * (`needed_r = ⌈srank / k⌉`), and take the [[Similarity.TuneHitBar]]-th
    * smallest needed_r: the smallest R whose shortlist covers ≥ bar of the
    * sample's true neighbors (48/50 = 0.96 in-sample — the same
    * margin-over-0.9-target bar the nprobe derivation measured its
    * sampling noise for, IVFTUNE_r14 `bar_margin_measurement`).
    * [[RefineFactor]] stays as the static minimum, so corpora the r13
    * sweep already covered keep their measured defaults; larger iid
    * corpora, where true neighbors sit deeper in ADC order, RAISE the
    * floor from evidence instead of silently losing recall.
    *
    * Cost: two corpus passes ([[calibration]]) and one driver integer,
    * derived per call. Mirrored integer-for-integer in the
    * oracle ([[derivedCutoffCtesSql]]'s ctruth/cneed/cfl CTEs), so
    * q107/q110 stay hash-checked THROUGH the calibrated floor, and
    * exposed as a relation by q122 (the q120-style observability
    * contract).
    */
  def calibratedRefineFloor(
      embeddings: DataFrame, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): Int =
    floorOf(calibration(embeddings, new Codebooks(models(embeddings, m, codes, iters), m)))

  /** The bar-quantile floor of a [[calibration]]: the
    * [[Similarity.tuneHitBarFor]]-th smallest needed_r, at least
    * [[RefineFactor]].
    */
  private def floorOf(cal: (Int, Seq[(Long, Long, Long, Long)])): Int = {
    val (nq, rows) = cal
    val needed = rows.map(_._4).sorted
    if (needed.isEmpty) RefineFactor
    else {
      val pos = math.min(
        Similarity.tuneHitBarFor(nq * Similarity.TuneK), needed.length)
      math.max(RefineFactor.toLong,
        math.min(needed(pos - 1), Int.MaxValue.toLong)).toInt
    }
  }

  /** The calibration behind [[calibratedRefineFloor]]: the sample width nq
    * and one (query_id, neighbor_id, adc_rank, needed_r) row per (tune
    * query, true neighbor) pair where both sides are well-formed, in
    * (query_id, neighbor_id) order. The width is corpus-scaled (r16,
    * VERDICT r15 #2): one count picks [[Similarity.TuneQueries]] queries
    * below [[Similarity.TuneCorpusLarge]] (every oracle-checked volume)
    * and [[Similarity.TuneQueriesLarge]] above it, where PQTUNE_r15
    * measured the 50-pair quantile under-resolving the needed_r tail.
    *
    * Two passes: the sample's exact truth ([[Similarity.exactTopK]]),
    * each kept neighbor carrying its ADC distance (−1 when it has none);
    * then, per pair, the count of well-formed rows other than the query
    * with a strictly smaller distance — `rank()` is 1 plus that count.
    */
  private def calibration(
      embeddings: DataFrame, books: Codebooks): (Int, Seq[(Long, Long, Long, Long)]) = {
    val nq = Similarity.tuneQueriesFor(embeddings.count())
    val sample = Similarity.queryRows(embeddings.filter(col("vec_id") < nq), "pq: tune sample")
    val luts = sample.map(r => if (wellFormedRow(r)) books.lut(Similarity.quantizedAt(r, 1)) else null)
    val truth = Similarity.mergedLocal(
      Similarity.exactTopK(embeddings, sample, Similarity.TuneK) { (r, y) =>
        val codes = if (wellFormedRow(r)) books.encode(y) else null
        q => if (codes == null || luts(q) == null) -1L else books.dist(luts(q), codes)
      }, Similarity.TuneK, "pq: calibration truth").filter(_.getLong(5) >= 0)
    val pairQ = truth.map(r => sample.indexWhere(_.getLong(0) == r.getLong(0))).toArray
    val pairD = truth.map(_.getLong(5)).toArray
    val closer = graft.util.JobDesc.labeled(embeddings.sparkSession, "pq: calibration ranks")(
      vectors(embeddings).mapPartitions { it =>
        val n = new Array[Long](pairQ.length)
        it.foreach { r =>
          val codes = books.encode(Similarity.quantizedAt(r, 1))
          for (i <- pairQ.indices; q = pairQ(i) if sample(q).getLong(0) != r.getLong(0))
            if (books.dist(luts(q), codes) < pairD(i)) n(i) += 1
        }
        Iterator.single(Row(n.toSeq))
      }(Encoders.row(StructType.fromDDL("n ARRAY<BIGINT>"))).collect())
      .map(_.getSeq[Long](0))
    val rows = truth.indices.map { i =>
      val rank = 1 + closer.map(_(i)).sum
      (truth(i).getLong(0), truth(i).getLong(2), rank,
        math.ceil(rank.toDouble / Similarity.TuneK).toLong)
    }
    (nq, rows.sortBy(p => (p._1, p._2)))
  }

  /** [[KMeans.wellFormed]] on a collected (vec_id, embedding) row. */
  private def wellFormedRow(r: Row): Boolean =
    !r.isNullAt(1) && {
      val v = r.getSeq[Any](1)
      v.length == KMeans.Dim && !v.contains(null)
    }

  /** The calibration as a registered relation (q122): every tune-sample
    * true neighbor's ADC rank, the per-pair needed refine factor, and the
    * floor the corpus derived — the derivation users' serving default
    * came from, hash-checked cross-engine like the search it configures.
    * Driver-held: at most [[Similarity.TuneQueriesLarge]] ×
    * [[Similarity.TuneK]] rows.
    */
  def pqFloorCalibration(
      embeddings: DataFrame, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): DataFrame = {
    val cal = calibration(embeddings, new Codebooks(models(embeddings, m, codes, iters), m))
    val f = floorOf(cal).toLong
    val idType = embeddings.schema("vec_id").dataType
    embeddings.sparkSession.createDataFrame(cal._2.map { case (q, n, r, need) =>
        (q, n, r, need, f) })
      .toDF("query_id", "neighbor_id", "adc_rank", "needed_r", "floor_r")
      .withColumn("query_id", col("query_id").cast(idType))
      .withColumn("neighbor_id", col("neighbor_id").cast(idType))
      .orderBy("query_id", "neighbor_id")
  }

  /** CORPUS-DERIVED refine factor — the `derivedDfCap`/`tuneBandsRows`
    * pattern applied to PQ serving (VERDICT r11 #2): estimate the deepest
    * near-tie class from the code-frequency histogram and size the
    * shortlist to cover a whole class, with [[RefineFactor]] as floor and
    * explicit override as escape hatch.
    *
    * Estimator: near-identical vectors (clones, re-crawls, jittered
    * copies) quantize to code tuples that agree on all or all-but-one
    * subspace — a point perturbation lands in ONE subspace, and larger
    * edits leave the near-tie regime entirely. So the family depth is the
    * heaviest Hamming-≤1 neighborhood over the encoded corpus's DISTINCT
    * code tuples: with `cnt(t)` the exact-tuple count and
    * `G(s, pk) = Σ cnt` over tuples sharing the other m−1 codes,
    * `family(t) = Σ_s G(s, pk_s(t)) − (m−1)·cnt(t)` (t itself is counted
    * in all m wildcard groups). R = max(floor, max_t family(t)); recall
    * is monotone in R (larger shortlist is a superset), so over-estimating
    * only costs bounded extra exact dots, and the degenerate all-clones
    * corpus correctly degrades toward exact scoring — which is the only
    * right answer there.
    *
    * Cost shape: one aggregation over the encoded table (corpus-linear,
    * the same scan the index build already pays), then two aggregations
    * over the DISTINCT-TUPLE relation (≪ corpus — bounded by code-space
    * diversity), returning ONE driver integer.
    * Mirrored exactly in the oracle SQL (the rfac CTE), so q107/q110
    * stay hash-checked through the derived default.
    */
  def derivedRefineFactor(
      embeddings: DataFrame, m: Int = M, codes: Int = Codes,
      iters: Int = Iters, floor: Int = 0): Int =
    derivedFactor(embeddings, new Codebooks(models(embeddings, m, codes, iters), m), floor)

  /** [[derivedRefineFactor]] under already-trained codebooks. */
  private def derivedFactor(embeddings: DataFrame, books: Codebooks, floor: Int): Int = {
    val m = books.m
    // floor 0 (the default since r14) = SAMPLE-CALIBRATE the floor from
    // measured ADC ranks of the tune sample's true neighbors
    // ([[calibratedRefineFloor]]); a positive value is the explicit
    // constant override (the pre-r14 behavior at floor = RefineFactor)
    val f = if (floor > 0) floor else floorOf(calibration(embeddings, books))
    val enc = encoded(embeddings, books)
    val codeCols = (0 until m).map(s => col(s"code_$s"))
    val tup = enc.groupBy(codeCols: _*).agg(count(lit(1)).as("cnt"))
    val tk = concat_ws("|",
      (0 until m).map(s => col(s"code_$s").cast("string")): _*)
    val pks = array((0 until m).map { s =>
      concat_ws("|", (0 until m).filter(_ != s)
        .map(j => col(s"code_$j").cast("string")): _*)
    }: _*)
    val expl = tup
      .select(col("cnt"), tk.as("tk"), posexplode(pks).as(Seq("s", "pk")))
    val wc = expl.groupBy("s", "pk").agg(sum("cnt").as("g"))
    val fam = expl.join(wc, Seq("s", "pk"))
      .groupBy("tk").agg(max("cnt").as("cnt"), sum("g").as("gs"))
    val row = fam.agg(max(col("gs") - lit(m - 1) * col("cnt"))).head()
    val depth = if (row.isNullAt(0)) 0L else row.getLong(0)
    math.max(f.toLong, math.min(depth, Int.MaxValue.toLong)).toInt
  }

  /** The tune-sample calibration ([[calibratedRefineFloor]]) as oracle
    * CTEs: exact truth for the fixed sample, each true neighbor's
    * tie-inclusive ADC rank (over the SAME `adc` relation serving scans,
    * so these CTEs must be emitted AFTER it), the per-pair needed refine
    * factor, and `cfl` — the bar-quantile floor with `floorMin` as static
    * minimum. Contract: the serving query window must COVER the tune
    * window (`nQueries ≥ TuneQueries`), which every registered derived-
    * cutoff query satisfies at the shared default of 10 — the Scala side
    * always calibrates on `vec_id < TuneQueries` regardless of nQueries.
    */
  private def calibrationCtesSql(floorMin: Int): String =
    s"""ctruth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${Similarity.dotSql("q.embedding", "e.embedding")} DESC, e.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id < (SELECT nq FROM cnq))
       |  WHERE rank <= ${Similarity.TuneK}),
       |cneed AS (
       |  SELECT r.query_id, r.neighbor_id, CAST(r.srank AS BIGINT) AS adc_rank,
       |    CAST(ceil(CAST(r.srank AS DOUBLE) / ${Similarity.TuneK}) AS BIGINT) AS needed_r
       |  FROM (SELECT query_id, neighbor_id,
       |          rank() OVER (PARTITION BY query_id ORDER BY adc_dist) AS srank
       |        FROM adc WHERE query_id < (SELECT nq FROM cnq)) r
       |  JOIN ctruth t ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id),
       |cfl AS (
       |  SELECT GREATEST($floorMin,
       |    COALESCE(MAX(CASE WHEN rn = LEAST((SELECT bar FROM cnq), cnt)
       |                      THEN needed_r END), $floorMin)) AS r
       |  FROM (SELECT needed_r, row_number() OVER (ORDER BY needed_r) AS rn,
       |          COUNT(*) OVER () AS cnt FROM cneed))""".stripMargin

  /** The [[derivedRefineFactor]] estimator as oracle CTEs over the `enc`
    * and `adc` relations: the clone-depth histogram (tup/expl/wc/fam),
    * the sample calibration ([[calibrationCtesSql]]), and `rfac` — the
    * single derived R (max of calibrated floor and clone depth) the
    * shortlist cutoff multiplies by. Emit AFTER the `adc` CTE.
    */
  private def derivedCutoffCtesSql(m: Int, floor: Int): String = {
    val codeList = (0 until m).map(s => s"code$s").mkString(", ")
    val branches = (0 until m).map { s =>
      val pk = (0 until m).filter(_ != s).map(j => s"code$j").mkString(", ")
      s"SELECT $s AS s, concat_ws('|', $pk) AS pk, " +
        s"concat_ws('|', $codeList) AS tk, cnt FROM tup"
    }.mkString("\n  UNION ALL ")
    s"""tup AS (SELECT $codeList, COUNT(*) AS cnt FROM enc GROUP BY $codeList),
       |expl AS (
       |  $branches),
       |wc AS (SELECT s, pk, CAST(SUM(cnt) AS BIGINT) AS g
       |       FROM expl GROUP BY s, pk),
       |fam AS (
       |  SELECT e.tk, MAX(e.cnt) AS cnt, CAST(SUM(w.g) AS BIGINT) AS gs
       |  FROM expl e JOIN wc w ON e.s = w.s AND e.pk = w.pk
       |  GROUP BY e.tk),
       |${calibrationCtesSql(floor)},
       |rfac AS (
       |  SELECT GREATEST((SELECT r FROM cfl),
       |    COALESCE(MAX(gs - ${m - 1} * cnt), (SELECT r FROM cfl))) AS r
       |  FROM fam)""".stripMargin
  }

  /** PQ search with an exact re-rank stage — the DEFAULT serving path: the
    * all-integer ADC scan bounds a `refineFactor·topK` shortlist per
    * query, then ONLY shortlisted rows pay an exact fixed-point dot
    * against the query and the final topK ranks by true cosine (ties to
    * the smaller neighbor_id).
    *
    * Two passes of the ADC kernel: [[shortlistBounds]] finds each query's
    * R·k-th smallest ADC distance (the tie-inclusive cutoff, see
    * [[RefineFactor]]), then one [[Similarity.queryTopK]] pass scores the
    * rows within the bound exactly and keeps each query's topK. The
    * shortlist is never materialized, so a degenerate all-tied corpus —
    * whose shortlist grows toward the corpus (the documented graceful
    * degrade to exact scoring) — costs exact dots, not a corpus-sized
    * join. This is why it can be the default: the 100-TB cost profile is
    * the ADC scan's, while the returned neighbors are exact-ranked within
    * the shortlist (recall measured by [[pqRefineRecall]] — the codebook
    * only has to put true neighbors in the top R·k, not the top k; R
    * itself tracks the corpus via [[derivedRefineFactor]]).
    */
  def pqAdcRefineTopK(
      embeddings: DataFrame, nQueries: Int = 10, topK: Int = 5,
      refineFactor: Int = 0, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): DataFrame = {
    // refineFactor 0 (the default) = DERIVE R from the code-frequency
    // histogram so the shortlist covers the corpus's deepest near-tie
    // family ([[derivedRefineFactor]]); a positive value is the explicit
    // constant override.
    val books = new Codebooks(models(embeddings, m, codes, iters), m)
    val r =
      if (refineFactor > 0) refineFactor
      else derivedFactor(embeddings, books, 0)
    val qs = queries(embeddings, books, nQueries)
    val bound = shortlistBounds(embeddings, books, qs, topK.toLong * r) // long: R can be corpus-deep
    Similarity.cosineRows(adcKernel(embeddings, books, qs, topK) { (x, c) =>
      (q, best, id) =>
        if (books.dist(qs.luts(q), c) <= bound(q)) Similarity.offerDot(best, qs.x(q), x, id)
    }, embeddings.schema("vec_id").dataType).orderBy("query_id", "rank")
  }

  /** Each query's shortlist bound: the n-th smallest ADC distance over the
    * well-formed rows other than itself, or Long.MaxValue when there are
    * fewer. A row is in the tie-inclusive shortlist `rank() ≤ n` (ordered
    * by distance alone) exactly when its distance is at most this bound.
    * Each partition keeps its n smallest distances per query in a bounded
    * max-heap; the n-th smallest of their union is the bound.
    */
  private def shortlistBounds(
      embeddings: DataFrame, books: Codebooks, qs: Queries, n: Long): Array[Long] = {
    import scala.jdk.CollectionConverters._
    val kept = vectors(embeddings).mapPartitions { it =>
      val heaps = Array.fill(qs.ids.length)(new java.util.PriorityQueue[java.lang.Long](
        java.util.Collections.reverseOrder[java.lang.Long]()))
      it.foreach { r =>
        val codes = books.encode(Similarity.quantizedAt(r, 1))
        for (q <- qs.ids.indices if qs.ids(q) != r.getLong(0) && n > 0) {
          val d = books.dist(qs.luts(q), codes)
          if (heaps(q).size < n) heaps(q).add(d)
          else if (d < heaps(q).peek) { heaps(q).poll(); heaps(q).add(d) }
        }
      }
      Iterator.tabulate(heaps.length)(q => Row(q, heaps(q).asScala.map(_.longValue).toSeq))
    }(Encoders.row(StructType.fromDDL("q INT, dists ARRAY<BIGINT>")))
    val byQuery = graft.util.JobDesc.labeled(embeddings.sparkSession, "pq: shortlist bounds")(
      kept.collect()).groupBy(_.getInt(0))
    Array.tabulate(qs.ids.length) { q =>
      val all = byQuery.getOrElse(q, Array.empty[Row]).flatMap(_.getSeq[Long](1)).sorted
      if (all.length < n) Long.MaxValue else all((n - 1).toInt)
    }
  }

  def pqAdcRefineTopKSql(
      nQueries: Int = 10, topK: Int = 5, refineFactor: Int = 0,
      m: Int = M, codes: Int = Codes, iters: Int = Iters): String =
    s"""WITH short AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${
        if (refineFactor > 0)
          pqAdcTopKSql(nQueries, topK * refineFactor, m, codes, iters,
            tieRank = true)
        else
          pqAdcTopKSql(nQueries, topK, m, codes, iters,
            tieRank = true, derivedCutoff = true)
      })),
       |rr AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${Similarity.dotSql("q.embedding", "e.embedding")} AS cosine
       |  FROM short s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings e ON e.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |      FROM rr)
       |WHERE rn <= $topK ORDER BY query_id, rank""".stripMargin

  /** Recall@k of the DEFAULT (refined) PQ search against exact truth —
    * the metric the library default is sized by.
    */
  def pqRefineRecall(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      refineFactor: Int = 0, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): DataFrame =
    graft.ops.Similarity.recallVsTruth(
      graft.ops.Similarity.bruteForceTopK(embeddings, nQueries, k),
      pqAdcRefineTopK(embeddings, nQueries, k, refineFactor, m, codes, iters),
      k)

  def pqRefineRecallSql(
      nQueries: Int = 10, k: Int = 5, refineFactor: Int = 0,
      m: Int = M, codes: Int = Codes, iters: Int = Iters): String =
    graft.ops.Similarity.recallSqlFrom(
      graft.ops.Similarity.bruteForceTopKSql(nQueries, k),
      pqAdcRefineTopKSql(nQueries, k, refineFactor, m, codes, iters),
      k)

  /** Recall@k of the PQ/ADC search ([[pqAdcTopK]]) against exact
    * brute-force ground truth — the [[graft.ops.Similarity.annRecall]]
    * evaluation for the LOSSY quantizer, where recall is the whole
    * question (ADC error comes from the codebook, not from pruning).
    * Ground truth ranks by exact dot; valid because the embeddings table
    * is UNIT-NORMALIZED (min-L2 and max-cosine orderings coincide) — on
    * unnormalized data supply an L2 truth instead.
    */
  def pqRecall(
      embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      m: Int = M, codes: Int = Codes, iters: Int = Iters): DataFrame =
    graft.ops.Similarity.recallVsTruth(
      graft.ops.Similarity.bruteForceTopK(embeddings, nQueries, k),
      pqAdcTopK(embeddings, nQueries, k, m, codes, iters),
      k)

  def pqRecallSql(
      nQueries: Int = 10, k: Int = 5, m: Int = M, codes: Int = Codes,
      iters: Int = Iters): String =
    graft.ops.Similarity.recallSqlFrom(
      graft.ops.Similarity.bruteForceTopKSql(nQueries, k),
      pqAdcTopKSql(nQueries, k, m, codes, iters),
      k)
}
