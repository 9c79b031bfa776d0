package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.LongArrayDot.dotLong

/** Lloyd's k-means over the embedding corpus — the in-engine trainer for
  * the IVF coarse quantizer ([[Similarity.ivfTopK]] routes by nearest
  * centroid; this op is where those centroids come from, replacing the
  * testdata's pre-assigned `label` column with learned cells).
  *
  * Training runs on a bounded sample ([[TrainCap]] vectors): one Spark
  * job collects it, then seeding and Lloyd's iterations run on the
  * driver; only the final assignment is distributed:
  *  - Every per-vector computation is quantized to fixed point
  *    (`floor(x·1e6)` longs, the [[graft.functions.QuantizedDot]]
  *    convention) so distances are EXACT integers — no float-sum
  *    nondeterminism across partitionings or engines.
  *  - Assignment is one argmin loop ([[Centroids.nearest]]) over the k×Dim
  *    centroid table (`|x−c|² = x·x − 2x·c + c·c`, the x·x term
  *    precomputed once per vector; ties to the smallest cluster id). It
  *    is the only nearest-centroid code: the driver-side trainer, the
  *    per-partition home-cell kernel ([[assignTrainedCells]]), the ranked
  *    probe ([[trainedCellsRanked]], via [[Centroids.nearestN]]) and
  *    [[PQ]]'s encoder all run it — n·k·Dim fused integer multiply-adds
  *    with NO n×k row materialization.
  *  - Update = per-cluster, per-dimension sums and counts over the sample
  *    (`Math.addExact`, so an overflow fails loudly as ANSI `sum` does).
  *  - Centroid means divide in double (`floor(sum/count)`): both sum
  *    (≤ n·1e6 < 2^53) and quotient are exactly representable/correctly
  *    rounded IEEE, so the floor is engine-identical.
  *  - Seeding is content-deterministic: the k vectors with the smallest
  *    `md5("km|" ++ vec_id)` — the first k rows of the sample, no RNG state.
  *  - Empty clusters keep their previous centroid (documented, mirrored in
  *    the oracle) instead of vanishing.
  *
  * The oracle unrolls the same iterations in DuckDB SQL (zip-unnest for
  * per-dim sums, window argmin with the same tie-break), so the LEARNED
  * MODEL is hash-checked cross-engine, not just "some clusters exist".
  */
object KMeans {
  val Dim: Int = Similarity.Dim
  val K = 8
  val Iters = 2

  /** Training-sample cap: Lloyd's iterations run on the `TrainCap` vectors
    * with the smallest `md5("km|" ++ vec_id)` (the same deterministic
    * hash-order the seeds come from, so seeds ⊂ sample by construction),
    * and only the FINAL assignment touches the full corpus — standard
    * bounded-sample quantizer training (FAISS practice recommends
    * ~39–256 training points per centroid; 4096 is 512× k=8). One job
    * collects the sample (≤ cap·dim longs) and the iterations run on the
    * driver, so training costs one job per model and its per-iteration
    * work, cap · min(k, cap) · dim multiply-adds, is independent of
    * corpus size. At the verification volume (n ≤ cap) the sample IS the
    * corpus, so the learned model — and every oracle hash downstream — is
    * unchanged there.
    */
  val TrainCap = 4096

  /** A well-formed vector: non-null, `dim` long and without a null
    * element. The trainer, every kernel and the PQ query paths keep only
    * these; [[wellFormedSql]] is the oracle SQL's twin.
    */
  private[ops] def wellFormed(emb: Column, dim: Int = Dim): Column =
    emb.isNotNull && size(emb) === dim && !exists(emb, _.isNull)

  /** [[wellFormed]] over the `embedding` column, in the oracle's SQL. */
  private[ops] def wellFormedSql(dim: Int = Dim): String =
    s"embedding IS NOT NULL AND len(embedding) = $dim" +
      " AND len(list_filter(embedding, x -> x IS NULL)) = 0"

  /** floor(x·1e6) per element — the QuantizedDot fixed-point convention. */
  private[ops] def quantize(emb: org.apache.spark.sql.Column) =
    transform(emb, x => floor(x.cast("double") * 1e6).cast("long"))

  /** A model laid out for the argmin loop: centroids in ascending
    * cluster-id order, row-major in one flat k×dim array, with c·c
    * precomputed per centroid. Positions index [[ids]]; serializable, so
    * the per-partition kernels capture it whole.
    */
  private[ops] final class Centroids(
      val ids: Array[Int], flat: Array[Long], cc: Array[Long], dim: Int)
      extends Serializable {
    val k: Int = ids.length

    /** `|x−c|² = x·x − 2x·c + c·c` for the centroid at position `c`, with
      * the vector read from `x(off until off + dim)`.
      */
    def dist(x: Array[Long], off: Int, xx: Long, c: Int): Long = {
      var dot = 0L
      val coff = c * dim
      var d = 0
      while (d < dim) { dot += x(off + d) * flat(coff + d); d += 1 }
      xx - 2L * dot + cc(c)
    }

    /** Position of the nearest centroid. Strict < over ascending cluster
      * ids: equal distances keep the smaller id.
      */
    def nearest(x: Array[Long], off: Int, xx: Long): Int = {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        val dd = dist(x, off, xx, c)
        if (dd < bestD) { bestD = dd; best = c }
        c += 1
      }
      best
    }

    /** Positions of the `n` nearest centroids (all k when n ≥ k) in
      * (dist, id) order: equal distances keep the smaller id first, so
      * position 0 is [[nearest]]'s.
      */
    def nearestN(x: Array[Long], off: Int, xx: Long, n: Int): Array[Int] = {
      val d = Array.tabulate(k)(c => dist(x, off, xx, c))
      Array.range(0, k).sortBy(c => (d(c), c)).take(n)
    }

    /** x·x of the vector read from `x(off until off + dim)`. */
    def norm(x: Array[Long], off: Int): Long = {
      var xx = 0L
      var d = 0
      while (d < dim) { val q = x(off + d); xx += q * q; d += 1 }
      xx
    }
  }

  private[ops] object Centroids {
    def apply(model: Array[(Int, Array[Long])], dim: Int): Centroids = {
      val ordered = model.sortBy(_._1)
      new Centroids(ordered.map(_._1), ordered.flatMap(_._2),
        ordered.map { case (_, cq) => cq.map(v => v * v).sum }, dim)
    }
  }

  /** The per-partition kernels' quantizer: reads the `dim`-long float or
    * double array in column `embCol` of a row into `x` as `floor(v·1e6)`
    * longs — the same IEEE double ops as the [[quantize]] Column. Every
    * kernel passes it only [[wellFormed]] rows, so no element is null.
    */
  private[ops] def rowQuantizer(
      schema: StructType, embCol: String, dim: Int): (Row, Array[Long]) => Unit = {
    val idx = schema.fieldIndex(embCol)
    val isFloat = schema(idx).dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case t => throw new IllegalArgumentException(s"$embCol has unsupported type $t")
    }
    (row, x) => {
      val seq = row.getSeq[Any](idx)
      var d = 0
      while (d < dim) {
        val v =
          if (isFloat) seq(d).asInstanceOf[Float].toDouble
          else seq(d).asInstanceOf[Double]
        x(d) = math.floor(v * 1e6).toLong
        d += 1
      }
    }
  }

  /** One Lloyd's iteration over the driver-side sample (vectors
    * row-major in `xs`, x·x in `xx`): assign every vector, then move each
    * centroid to `floor(sum / count)` of its members; a cluster with no
    * members keeps its centroid. `cents` holds ids 0 until k in order, so
    * a centroid's position is its cluster id.
    */
  private def lloydStep(
      xs: Array[Long], xx: Array[Long], dim: Int,
      cents: Array[(Int, Array[Long])]): Array[(Int, Array[Long])] = {
    val model = Centroids(cents, dim)
    val sums = new Array[Long](cents.length * dim)
    val counts = new Array[Long](cents.length)
    var i = 0
    while (i < xx.length) {
      val c = model.nearest(xs, i * dim, xx(i))
      counts(c) += 1
      var d = 0
      while (d < dim) {
        sums(c * dim + d) = Math.addExact(sums(c * dim + d), xs(i * dim + d))
        d += 1
      }
      i += 1
    }
    cents.zipWithIndex.map { case ((id, old), c) =>
      if (counts(c) == 0) (id, old)
      else (id, Array.tabulate(dim)(d =>
        math.floor(sums(c * dim + d).toDouble / counts(c).toDouble).toLong))
    }
  }

  /** The training sample: one Spark job, labelled `label`, collects the
    * first [[TrainCap]] [[wellFormed]] vectors in seed-hash
    * order (`md5("km|" ++ vec_id)`, then vec_id). Each row is vec_id
    * followed by `cols`, evaluated over `xq`, the fixed-point vector.
    */
  private[ops] def trainingSample(
      embeddings: DataFrame, dim: Int, label: String,
      cols: Seq[Column]): Array[Row] =
    graft.util.JobDesc.labeled(embeddings.sparkSession, label)(
      embeddings
        .filter(wellFormed(col("embedding"), dim))
        .select(col("vec_id"), quantize(col("embedding")).as("xq"))
        .select(col("vec_id") +: cols: _*)
        .orderBy(md5(concat(lit("km|"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(TrainCap)
        .collect())

  /** Seeding and `iters` Lloyd's iterations on the driver over sampled
    * vectors in seed-hash order (row-major `dim`-wide in `xs`, x·x in
    * `xx`): the seeds are the first k vectors. The quantization and x·x
    * are the integers the assignment kernels compute ([[rowQuantizer]],
    * [[Centroids.norm]]), so the model is the one a distributed Lloyd's
    * over the same sample learns.
    */
  private[ops] def lloyd(
      xs: Array[Long], xx: Array[Long], dim: Int, k: Int,
      iters: Int): Array[(Int, Array[Long])] = {
    var cents = Array.tabulate(math.min(k, xx.length))(i =>
      (i, xs.slice(i * dim, (i + 1) * dim)))
    for (_ <- 0 until iters) cents = lloydStep(xs, xx, dim, cents)
    cents
  }

  /** Train and return the model relation: one row per (cluster_id, dim)
    * with the fixed-point centroid coordinate and the cluster's population
    * under the final assignment.
    */
  def kmeansCentroids(
      embeddings: DataFrame, k: Int = K, iters: Int = Iters): DataFrame = {
    val cents = trainedModel(embeddings, k, iters)
    // materialize the k-row size relation NOW (localCheckpoint is eager),
    // so the output re-reads k rows instead of re-running the assignment
    val sizes = assignTrainedCells(spread(embeddings), cents)
      .groupBy("cell").agg(count(lit(1)).as("cluster_size"))
      .withColumnRenamed("cell", "cluster_id")
      .localCheckpoint()
    val spark = embeddings.sparkSession
    val centRows = cents.toSeq.flatMap { case (c, arr) =>
      arr.toSeq.zipWithIndex.map { case (v, d) => (c, d, v) }
    }
    spark.createDataFrame(centRows)
      .toDF("cluster_id", "dim", "centroid_q")
      .join(sizes, Seq("cluster_id"), "left")
      .na.fill(0L, Seq("cluster_size"))
      .orderBy("cluster_id", "dim")
  }

  /** The final assignment relation (vec_id → trained cluster) for library
    * users wiring the trained quantizer into IVF routing.
    */
  def kmeansAssignments(
      embeddings: DataFrame, k: Int = K, iters: Int = Iters): DataFrame =
    assignments(embeddings, trainedModel(embeddings, k, iters))

  /** [[kmeansAssignments]] under an already-trained model. */
  private[ops] def assignments(
      embeddings: DataFrame, cents: Array[(Int, Array[Long])]): DataFrame = {
    // eager-materialize the final (vec_id, cluster) relation: callers
    // joining the assignment re-read checkpoint blocks, not the corpus
    assignTrainedCells(spread(embeddings), cents)
      .select(col("vec_id"), col("cell").as("cluster"))
      .localCheckpoint()
      .orderBy("vec_id")
  }

  /** (vec_id, embedding) hash-spread on vec_id: a single-split parquet
    * corpus would otherwise run the n·k distance pass in one task.
    */
  private def spread(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding")).repartition(col("vec_id"))

  /** Train and return the raw model: k fixed-point centroids, driver-side
    * (k×Dim longs — tiny by definition). The broadcastable artifact the
    * serving paths below route by. Every call trains: one labelled job
    * collects the sample ([[trainingSample]]), [[lloyd]] runs on the
    * driver. An op that needs the model twice trains once and passes it.
    */
  def trainedModel(
      embeddings: DataFrame, k: Int = K, iters: Int = Iters,
      dim: Int = Dim): Array[(Int, Array[Long])] = {
    val rows = trainingSample(embeddings, dim, "k-means: train sample",
      Seq(col("xq"), dotLong(col("xq"), col("xq"))))
    lloyd(rows.flatMap(_.getSeq[Long](1)), rows.map(_.getLong(2)), dim, k, iters)
  }

  /** Nearest-trained-centroid assignment as a narrow per-partition pass:
    * every input column is kept and `cell` appended (+ `cent_dist`, the
    * exact fixed-point `|x−c|²` the SemDeDup / prototype-pruning curation
    * ops rank by). Vectors that are not [[wellFormed]] are filtered,
    * mirroring training. Each row is quantized once ([[rowQuantizer]])
    * and routed by [[Centroids.nearest]] — smallest distance, ties to the
    * smallest cluster id. No aggregation, no shuffle: deterministic and
    * narrow, so it is legal inside an append-mode stream, which is what
    * lets the trained quantizer route streams.
    */
  def assignTrainedCells(
      vectors: DataFrame, model: Array[(Int, Array[Long])],
      embCol: String = "embedding", withDist: Boolean = false): DataFrame = {
    val filtered = vectors.filter(wellFormed(col(embCol)))
    val base = filtered.schema
    val schema =
      if (withDist)
        base.add("cell", IntegerType, nullable = false)
          .add("cent_dist", LongType, nullable = false)
      else base.add("cell", IntegerType, nullable = false)
    val quant = rowQuantizer(base, embCol, Dim)
    val cents = Centroids(model, Dim)
    filtered.mapPartitions { it =>
      val x = new Array[Long](Dim)
      it.map { row =>
        quant(row, x)
        val xx = cents.norm(x, 0)
        val c = cents.nearest(x, 0, xx)
        // Seq[Any] — plain Seq(cell, dist) would numeric-widen the Int
        // cell to Long and break the row encoder's INT field
        Row.fromSeq(row.toSeq ++
          (if (withDist) Seq[Any](cents.ids(c), cents.dist(x, 0, xx, c))
          else Seq[Any](cents.ids(c))))
      }
    }(Encoders.row(schema))
  }

  /** Per-vector trained cell as a query surface: train on the corpus, then
    * assign every vector through [[assignTrainedCells]] — the same kernel
    * streaming serving routes by, pinned against the oracle's unrolled
    * window-argmin.
    */
  def trainedCells(
      embeddings: DataFrame, k: Int = K, iters: Int = Iters): DataFrame =
    assignTrainedCells(
      embeddings.select(col("vec_id"), col("embedding")),
      trainedModel(embeddings, k, iters))
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")

  def trainedCellsSql(k: Int = K, iters: Int = Iters, dim: Int = Dim): String =
    s"""WITH ${kmeansCtesSql(k, iters, dim)}
       |SELECT vec_id, cluster AS cell FROM afinal ORDER BY vec_id""".stripMargin

  /** Ranked trained-cell assignment — (vec_id, cell, cell_rank ≤
    * maxRank, embedding): the probe order over TRAINED centroids by exact
    * fixed-point distance (ties to the smaller cell id; rank 1 is the
    * [[assignTrainedCells]] home cell by construction — same quantizer,
    * same distances, same tie-break). This is
    * [[Similarity.ivfCellsRanked]]'s contract with the learned router
    * instead of the label one, which is what lets the nprobe tune grid
    * and the probed search below run unchanged over trained cells.
    *
    * One narrow per-partition pass ([[rankedCells]]), all exact integer
    * arithmetic; no shuffle beyond the spread on vec_id.
    */
  def trainedCellsRanked(
      embeddings: DataFrame, maxRank: Int, k: Int = K,
      iters: Int = Iters): DataFrame =
    rankedCells(spread(embeddings.filter(wellFormed(col("embedding")))),
      trainedModel(embeddings, k, iters), maxRank)

  /** The `maxRank` nearest cells of `model` for every (id, embedding) row
    * of well-formed `vectors`, in order: (id, cell, cell_rank, embedding)
    * rows, rank 1 nearest, each carrying its row's embedding for the
    * in-cell search. One narrow per-partition pass: each row is quantized
    * once and [[Centroids.nearestN]] emits its cells.
    */
  private[ops] def rankedCells(
      vectors: DataFrame, model: Array[(Int, Array[Long])],
      maxRank: Int): DataFrame = {
    val cents = Centroids(model, Dim)
    val emb = vectors.schema.fieldIndex("embedding")
    val schema = StructType(Seq(vectors.schema.fields(0),
      StructField("cell", IntegerType, nullable = false),
      StructField("cell_rank", IntegerType, nullable = false),
      vectors.schema.fields(emb)))
    val quant = rowQuantizer(vectors.schema, "embedding", Dim)
    vectors.mapPartitions { it =>
      val x = new Array[Long](Dim)
      it.flatMap { row =>
        quant(row, x)
        val id = row.get(0)
        cents.nearestN(x, 0, cents.norm(x, 0), maxRank).iterator.zipWithIndex
          .map { case (c, r) => Row(id, cents.ids(c), r + 1, row.get(emb)) }
      }
    }(Encoders.row(schema))
  }

  /** nprobe-probed trained-IVF top-k: each query probes its `nprobe`
    * nearest TRAINED cells; corpus vectors live in their single home
    * cell. [[Similarity.searchRanked]] over the trained ranking —
    * the same per-cell [[Similarity.cellTopK]] kernel as the label-cell
    * IVF, with the learned router; dots ≈ nprobe·n/k per query.
    */
  def ivfTopKTrainedProbed(
      embeddings: DataFrame, topK: Int = 3, nprobe: Int = 1,
      k: Int = K, iters: Int = Iters): DataFrame = {
    Similarity.searchRanked(trainedCellsRanked(embeddings, nprobe, k, iters), topK)
  }

  /** Semantic deduplication over the trained cells — the SemDeDup recipe
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540, public literature): cluster
    * the embedding corpus with k-means, then WITHIN each cell drop every
    * vector that has a semantic duplicate (quantized cosine ≥ tau) of
    * higher keep-priority, where priority is distance-to-centroid
    * descending (the paper's diversity rule: among duplicates, keep the
    * example FARTHEST from its prototype), ties to the lowest vec_id.
    *
    * Scale shape: the similarity join is an EQUI-join on the learned cell —
    * Σ cell² compute instead of the corpus-global O(n²) (the whole point of
    * clustering first), with the model riding along as a broadcast k×Dim
    * relation. Exactness within the cell partition is what the paper
    * computes; every quantity (cell, cent_dist, cosine) is fixed-point
    * exact, so the keep-list is engine-reproducible bit-for-bit.
    */
  def semanticDedup(
      embeddings: DataFrame, k: Int = K, iters: Int = Iters,
      tau: Double = Similarity.CosineThreshold): DataFrame = {
    val model = trainedModel(embeddings, k, iters)
    // cache (id, emb, cell, dist): three consumers below (two join sides
    // + the surviving anti-join) read blocks, not the pipeline. A cache,
    // not a checkpoint: after the free below a second action recomputes
    // from lineage, which a checkpoint's truncated lineage cannot
    val cells = assignTrainedCells(
        embeddings.select(col("vec_id"), col("embedding")), model,
        withDist = true)
      .select(col("vec_id"), col("embedding"), col("cell"), col("cent_dist"))
      .cache()
    val a = cells.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("cell"), col("cent_dist").as("dist_a"))
    val b = cells.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("cell"), col("cent_dist").as("dist_b"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("id_a") =!= col("id_b") &&
        Similarity.dot(col("emb_a"), col("emb_b")) >= tau &&
        (col("dist_b") > col("dist_a") ||
          (col("dist_b") === col("dist_a") && col("id_b") < col("id_a"))))
      .select(col("id_a")).distinct()
    // cell relation cache freed after the caller's action (r19 §5)
    graft.util.CacheScope.freeAfterUse(
      cells.join(dominated, col("vec_id") === col("id_a"), "left_anti")
        .select(col("vec_id"), col("cell"), col("cent_dist"))
        .orderBy("vec_id"),
      Seq(cells))
  }

  def semanticDedupSql(
      k: Int = K, iters: Int = Iters, dim: Int = Dim,
      tau: Double = Similarity.CosineThreshold): String =
    s"""WITH ${kmeansCtesSql(k, iters, dim)},
       |ad AS (
       |  SELECT a.vec_id, a.cluster AS cell,
       |    CAST(list_sum(list_transform(generate_series(1, $dim),
       |      i -> (x.xq[i]-c.cq[i])*(x.xq[i]-c.cq[i]))) AS BIGINT) AS cent_dist
       |  FROM afinal a JOIN xq x USING (vec_id)
       |  JOIN c$iters c ON a.cluster = c.cluster)
       |SELECT d.vec_id, d.cell, d.cent_dist FROM ad d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM ad o
       |  JOIN embeddings ea ON ea.vec_id = d.vec_id
       |  JOIN embeddings eb ON eb.vec_id = o.vec_id
       |  WHERE o.cell = d.cell AND o.vec_id <> d.vec_id
       |    AND ${Similarity.dotSql("ea.embedding", "eb.embedding")} >= $tau
       |    AND (o.cent_dist > d.cent_dist OR
       |         (o.cent_dist = d.cent_dist AND o.vec_id < d.vec_id)))
       |ORDER BY vec_id""".stripMargin

  /** Prototype-distance data pruning: per trained cell, keep the
    * `perCell` vectors FARTHEST from their centroid (hard/diverse
    * examples), rank ties to the lowest vec_id. The "SSL prototypes"
    * pruning metric of Sorscher et al., "Beyond neural scaling laws"
    * (NeurIPS 2022, public literature), as a relational op.
    *
    * Plan shape: one hash-partition on cell, rank via row_number — the
    * rank ≤ perCell filter lowers to WindowGroupLimit, so each partition
    * keeps a bounded heap instead of a full sort at scale.
    */
  def prototypePrune(
      embeddings: DataFrame, k: Int = K, iters: Int = Iters,
      perCell: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = assignTrainedCells(
      embeddings.select(col("vec_id"), col("embedding")),
      trainedModel(embeddings, k, iters), withDist = true)
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("cent_dist").desc, col("vec_id"))
    cells.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCell)
      .select(col("vec_id"), col("cell"), col("cent_dist"), col("rank"))
      .orderBy("cell", "rank")
  }

  def prototypePruneSql(
      k: Int = K, iters: Int = Iters, dim: Int = Dim,
      perCell: Int = 50): String =
    s"""WITH ${kmeansCtesSql(k, iters, dim)},
       |ad AS (
       |  SELECT a.vec_id, a.cluster AS cell,
       |    CAST(list_sum(list_transform(generate_series(1, $dim),
       |      i -> (x.xq[i]-c.cq[i])*(x.xq[i]-c.cq[i]))) AS BIGINT) AS cent_dist
       |  FROM afinal a JOIN xq x USING (vec_id)
       |  JOIN c$iters c ON a.cluster = c.cluster)
       |SELECT vec_id, cell, cent_dist, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY cell ORDER BY cent_dist DESC, vec_id) AS rn
       |  FROM ad)
       |WHERE rn <= $perCell ORDER BY cell, rank""".stripMargin

  /** Streaming ANN serving routed by the TRAINED quantizer: train offline
    * on the static corpus, cell-index the corpus once, then assign each
    * incoming probe its nearest trained cell per-row and stream-static
    * equi-join on the cell — the full train → index → serve loop (q69's
    * in-cell search, with the probe side unbounded). Append-safe: the
    * only stateful op is the join against a static side.
    */
  def streamingTrainedServe(
      probes: DataFrame, corpusDf: DataFrame,
      k: Int = K, iters: Int = Iters): DataFrame = {
    val model = trainedModel(corpusDf, k, iters)
    val indexed = assignTrainedCells(
      corpusDf.select(col("vec_id").as("neighbor_id"), col("embedding").as("emb_n")),
      model, embCol = "emb_n")
    assignTrainedCells(
      probes.select(col("vec_id").as("probe_id"), col("embedding").as("emb_p")),
      model, embCol = "emb_p")
      .join(indexed, "cell")
      .select(col("probe_id"), col("neighbor_id"),
        Similarity.dot(col("emb_p"), col("emb_n")).as("cosine"))
  }

  /** The shared unrolled-Lloyd's DuckDB CTE chain (xq → xs → c0 → a1/c1 →
    * … → afinal): one chain feeds the model dump (q68), the trained-IVF
    * search (q69), the serving assignment (q76), the curation ops
    * (q86/q87) and — instantiated per subspace — the PQ oracles, so none
    * of those oracles can drift from each other. `prefix` namespaces every
    * CTE (a PQ oracle instantiates one chain per subspace in a single
    * WITH), `embExpr` is the trained vector expression (e.g. a slice
    * `embedding[17:32]` for a PQ subspace) and `validDim` the length the
    * FULL stored vector must have to participate (malformed-vector
    * filtering is decided on the whole embedding, so every subspace
    * includes exactly the same vectors). Training iterations run over the
    * `xs` md5-prefix sample (first [[TrainCap]] vectors in seed-hash
    * order, the sample the engine's trainer collects); `afinal` assigns
    * the FULL corpus through the trained centroids.
    */
  def kmeansCtesSql(
      k: Int = K, iters: Int = Iters, dim: Int = Dim,
      prefix: String = "", embExpr: String = "embedding",
      validDim: Int = -1, cap: Int = TrainCap, kExpr: String = null): String = {
    val p = prefix
    val vd = if (validDim < 0) dim else validDim
    val kSql = Option(kExpr).getOrElse(k.toString)
    def assignSql(cents: String, src: String) =
      s"""SELECT vec_id, cluster FROM (
         |  SELECT x.vec_id, c.cluster,
         |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |      list_sum(list_transform(generate_series(1, $dim),
         |        i -> (x.xq[i]-c.cq[i])*(x.xq[i]-c.cq[i]))), c.cluster) AS rn
         |  FROM $src x CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
    def updateSql(assigned: String, prev: String) =
      s"""SELECT p.cluster, COALESCE(u.cq, p.cq) AS cq FROM $prev p LEFT JOIN (
         |  SELECT cluster, list(cq ORDER BY dim) AS cq FROM (
         |    SELECT cluster, dim,
         |      CAST(floor(CAST(SUM(v) AS DOUBLE)/COUNT(*)) AS BIGINT) AS cq
         |    FROM (SELECT a.cluster, unnest(x.xq) AS v,
         |            unnest(generate_series(1, len(x.xq))) AS dim
         |          FROM $assigned a JOIN xs$p x USING (vec_id))
         |    GROUP BY cluster, dim)
         |  GROUP BY cluster) u ON p.cluster = u.cluster""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) s"c0$p" else s"c${i - 1}$p"
      s"""a$i$p AS (${assignSql(prev, s"xs$p")}),
         |c$i$p AS (${updateSql(s"a$i$p", prev)})""".stripMargin
    }.mkString(",\n")
    s"""xq$p AS (
       |  SELECT vec_id, list_transform($embExpr,
       |    x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS xq
       |  FROM embeddings WHERE ${wellFormedSql(vd)}),
       |xs$p AS (
       |  SELECT vec_id, xq FROM xq$p
       |  ORDER BY md5('km|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $cap),
       |c0$p AS (
       |  SELECT cluster, cq FROM (
       |    SELECT CAST(row_number() OVER (
       |        ORDER BY md5('km|' || CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) - 1
       |      AS cluster, xq AS cq
       |    FROM xs$p) WHERE cluster < $kSql),
       |$iterCtes,
       |afinal$p AS (${assignSql(s"c$iters$p", s"xq$p")})""".stripMargin
  }

  def kmeansCentroidsSql(k: Int = K, iters: Int = Iters, dim: Int = Dim): String =
    s"""WITH ${kmeansCtesSql(k, iters, dim)}
       |SELECT c.cluster AS cluster_id, CAST(d.dim - 1 AS INTEGER) AS dim,
       |  c.cq[d.dim] AS centroid_q, COALESCE(s.n, 0) AS cluster_size
       |FROM c$iters c
       |CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS dim) d
       |LEFT JOIN (SELECT cluster, COUNT(*) AS n FROM afinal GROUP BY cluster) s
       |  ON c.cluster = s.cluster
       |ORDER BY cluster_id, dim""".stripMargin

  /** IVF top-k search routed by the TRAINED quantizer — the full
    * train → index → search loop ([[Similarity.ivfTopK]] with learned
    * cells instead of the testdata's pre-assigned `label`): every vector
    * searches its home cell only — [[ivfTopKTrainedProbed]]'s result at
    * nprobe = 1, served without a ranked assignment to cache or join: the
    * compiled argmin ([[assignTrainedCells]]) routes each vector,
    * and the salt rule reads the corpus size and the model's cell count.
    *
    * Execution: one shuffle of the n vectors keyed on their trained cell
    * (and salt, when the cells under-fill the session), then the
    * per-cell [[Similarity.cellTopK]] kernel, which keeps each cell's
    * Σ cell² quantized dots as COMPUTE and emits only n·topK rows — with
    * one cell per query its in-cell ranks are final, so there is no rank
    * window (materializing the Σ cell² candidate relation through a join
    * and a window cost ~110 s at the 200× probe, where the arithmetic is
    * ~2 s). Exactness is bitwise: floor(x·1e6) quantization, dot/1e12
    * cosine, ties to the smaller neighbor_id — the q69 oracle hash is
    * unchanged. Memory: one cell's members as `long[]`s; the
    * [[adaptiveK]] sizing keeps a cell at ≈ √(K·n) vectors.
    */
  def ivfTopKTrained(
      embeddings: DataFrame, topK: Int = 3, k: Int = K, iters: Int = Iters): DataFrame =
    trainedSearch(embeddings, topK, k, iters, embeddings.count())

  /** [[ivfTopKTrained]] over a corpus of `n` vectors: every vector is one
    * home row of one of the model's cells, so the salt rule needs only n
    * and the cell count, not a pass over the assignment.
    */
  private def trainedSearch(
      embeddings: DataFrame, topK: Int, k: Int, iters: Int, n: Long): DataFrame = {
    val model = trainedModel(embeddings, k, iters)
    val cells = assignTrainedCells(embeddings.select(col("vec_id"), col("embedding")), model)
      .withColumn("cell_rank", lit(1))
    Similarity.cellTopK(cells, topK,
      Similarity.saltsFor(embeddings.sparkSession, n, n, model.length), 1)
  }

  /** Adaptive centroid count for corpus-scaling trained-IVF search: the
    * smallest power-of-two k with K·k² ≥ n, i.e. k ≈ √(n/K) — so the
    * in-cell search (n²/k quantized dots) and the full-corpus
    * assignment (n·k distance evaluations) BOTH grow as n^1.5, the
    * balanced coarse-quantizer sizing (FAISS guidelines recommend
    * k ∝ √n). Integer-only search (no float log/sqrt edge), mirrored
    * verbatim in [[adaptiveKCteSql]]. At the verification volume
    * (n ≤ K·K² = 512) this returns K, so the trained model — and q68/q76,
    * which stay fixed-k as pinned-model fixtures — is unchanged there.
    */
  def adaptiveK(n: Long): Int =
    (3 to 16).map(1 << _).find(kk => K.toLong * kk * kk >= n).getOrElse(1 << 16)

  /** [[adaptiveK]] as a one-row DuckDB CTE (`kk`). */
  def adaptiveKCteSql: String =
    s"""kk AS (
       |  SELECT GREATEST($K, COALESCE(MIN(CAST(1 AS BIGINT) << t.j), 65536)) AS kk
       |  FROM generate_series(3, 16) t(j), (SELECT COUNT(*) AS n FROM embeddings) nr
       |  WHERE $K * (CAST(1 AS BIGINT) << t.j) * (CAST(1 AS BIGINT) << t.j) >= nr.n)""".stripMargin

  /** The registered trained-IVF entry point: [[ivfTopKTrained]] with the
    * centroid count derived from the corpus size ([[adaptiveK]]), so the
    * search's per-cell population shrinks as the corpus grows
    * instead of the cell count being a fixed constant of the model.
    */
  def ivfTopKTrainedAdaptive(
      embeddings: DataFrame, topK: Int = 3, iters: Int = Iters): DataFrame = {
    val n = embeddings.count()
    trainedSearch(embeddings, topK, adaptiveK(n), iters, n)
  }

  def ivfTopKTrainedAdaptiveSql(
      topK: Int = 3, iters: Int = Iters, dim: Int = Dim): String =
    trainedSearchSql(
      adaptiveKCteSql + ",\n" +
        kmeansCtesSql(K, iters, dim, kExpr = "(SELECT kk FROM kk)"),
      topK)

  /** Oracle for [[ivfTopKTrainedProbed]]: the ranked assignment is a
    * row_number over the SAME exact integer distances (Σ(x−c)² ≡
    * x·x − 2x·c + c·c, ties to the smaller cluster id — the
    * [[trainedCellsRanked]] order), probe rows rn ≤ nprobe,
    * home rows rn = 1, equi-join on the cell. A (query, neighbor) pair
    * meets at most once because the neighbor has ONE home cell.
    */
  def ivfTopKTrainedProbedSql(
      topK: Int = 3, nprobe: Int = 1, k: Int = K, iters: Int = Iters,
      dim: Int = Dim): String =
    s"""WITH ${kmeansCtesSql(k, iters, dim)},
       |atop AS (
       |  SELECT vec_id, cluster, rn FROM (
       |    SELECT x.vec_id, c.cluster,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, $dim),
       |          i -> (x.xq[i]-c.cq[i])*(x.xq[i]-c.cq[i]))), c.cluster) AS rn
       |    FROM xq x CROSS JOIN c$iters c) WHERE rn <= $nprobe),
       |psearch AS (
       |  SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
       |    ${Similarity.dotSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM atop qa JOIN atop qb
       |    ON qa.cluster = qb.cluster AND qb.rn = 1 AND qa.vec_id <> qb.vec_id
       |  JOIN embeddings ea ON ea.vec_id = qa.vec_id
       |  JOIN embeddings eb ON eb.vec_id = qb.vec_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM psearch)
       |WHERE rnk <= $topK ORDER BY query_id, rank""".stripMargin

  private def trainedSearchSql(ctes: String, topK: Int): String =
    s"""WITH $ctes,
       |search AS (
       |  SELECT qa.vec_id AS query_id, qb.vec_id AS neighbor_id,
       |    ${Similarity.dotSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM afinal qa JOIN afinal qb
       |    ON qa.cluster = qb.cluster AND qa.vec_id <> qb.vec_id
       |  JOIN embeddings ea ON ea.vec_id = qa.vec_id
       |  JOIN embeddings eb ON eb.vec_id = qb.vec_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM search)
       |WHERE rn <= $topK ORDER BY query_id, rank""".stripMargin
}
