package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation utilities: deterministic train/validation/test
  * splitting and exact distribution profiling — the bookkeeping every
  * training-data pipeline runs after dedup/filtering.
  */
object Curate {

  /** Content-stable train/validation/test assignment: bucket =
    * first-20-bits-of-md5(doc_id) mod 10 → 8/1/1 split.
    *
    * Hash-based (not random, not row_number-based) on purpose: the
    * assignment is a pure function of the key, so it is reproducible
    * across engines, runs, partitionings and corpus growth — adding
    * documents never reshuffles existing ones across splits (the property
    * `randomSplit` and modulo-on-position both lack). Embarrassingly
    * parallel: per-row expression, no shuffle, no state.
    */
  /** The split-assignment expressions, shared by [[trainTestSplit]] and
    * [[curationPipeline]] (single source of truth for the bucket formula).
    */
  private[ops] def bucketCol: org.apache.spark.sql.Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 5), 16, 10)
      .cast("long") % 10
  private[ops] def splitCol: org.apache.spark.sql.Column =
    when(col("bucket") < 8, "train")
      .when(col("bucket") === 8, "validation")
      .otherwise("test")

  def trainTestSplit(documents: DataFrame): DataFrame =
    documents
      .withColumn("bucket", bucketCol)
      .withColumn("split", splitCol)
      .select("doc_id", "lang", "source", "bucket", "split")
      .orderBy("doc_id")

  def trainTestSplitSql: String =
    """SELECT doc_id, lang, source, bucket,
      |  CASE WHEN bucket < 8 THEN 'train'
      |       WHEN bucket = 8 THEN 'validation'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id, lang, source,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT % 10
      |          AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** The end-to-end curation pipeline as ONE composed dataflow — the
    * capstone proving the ops compose: near-dup keep-list (MinHash → LSH →
    * verified Jaccard → connected components) ∘ quality gate ∘
    * content-stable split. What remains is exactly what a training run
    * ingests: deduplicated, quality-filtered, split-assigned documents.
    * The oracle composes the SAME three derivations in SQL (including the
    * recursive-CTE component closure), so the composition — not just the
    * parts — is hash-checked.
    */
  def curationPipeline(documents: DataFrame, minQuality: Double = 0.5): DataFrame =
    graft.ops.NearDup.dedupKeepList(documents)
      .join(TextAnalysis.qualityScore(documents).select("doc_id", "quality_score"),
        "doc_id")
      .filter(col("quality_score") >= minQuality)
      .withColumn("bucket", bucketCol)
      .withColumn("split", splitCol)
      .select("doc_id", "lang", "source", "n_chars", "quality_score", "split")
      .orderBy("doc_id")

  def curationPipelineSql(minQuality: Double = 0.5): String =
    s"""SELECT k.doc_id, k.lang, k.source, k.n_chars, q.quality_score,
       |  CASE WHEN q.bucket < 8 THEN 'train'
       |       WHEN q.bucket = 8 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM (${graft.ops.NearDup.dedupKeepListSql.replace("ORDER BY d.doc_id", "")}) k
       |JOIN (SELECT doc_id, quality_score,
       |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT % 10
       |          AS bucket
       |      FROM (${TextAnalysis.qualityScoreSql.replace("ORDER BY doc_id", "")})) q
       |  ON k.doc_id = q.doc_id
       |WHERE q.quality_score >= $minQuality
       |ORDER BY k.doc_id""".stripMargin

  /** Quality-weighted deterministic sampling: keep a document with
    * probability equal to its quality score — the standard C4/FineWeb-style
    * downsampling that thins low-quality strata instead of hard-filtering
    * them. The "random" draw is a pure hash function of doc_id (a seeded
    * md5 slice mapped to [0,1)), so the sample is reproducible across
    * engines, runs and partitionings, and documents keep/drop decisions
    * are stable under corpus growth — same rationale as
    * [[trainTestSplit]]. Shuffle-free per-row work on top of the quality
    * score.
    *
    * `draw` is a 20-bit integer over 2^20 — exact in double — and the
    * quality score is built from exact integer ratios (q21 is hash-green
    * cross-engine), so `draw < score` is engine-deterministic.
    */
  def qualityWeightedSample(documents: DataFrame): DataFrame =
    TextAnalysis.qualityScore(documents)
      .select("doc_id", "quality_score")
      .withColumn("draw",
        conv(substring(md5(concat(lit("qs|"), col("doc_id").cast("string"))), 1, 5),
          16, 10).cast("long").cast("double") / lit(1048576.0))
      .withColumn("sampled", col("draw") < col("quality_score"))
      .orderBy("doc_id")

  def qualityWeightedSampleSql(qualityScoreSql: String): String =
    s"""SELECT doc_id, quality_score, draw, draw < quality_score AS sampled
       |FROM (
       |  SELECT doc_id, quality_score,
       |    ('0x' || substr(md5('qs|' || CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT
       |      / 1048576.0 AS draw
       |  FROM ($qualityScoreSql))
       |ORDER BY doc_id""".stripMargin

  /** Target mixture proportions for [[languageMixture]] — pinned (like the
    * pivot values): data-dependent weights would make the op's semantics
    * drift with the corpus.
    */
  val MixWeights: Seq[(String, Double)] =
    Seq("en" -> 0.30, "de" -> 0.20, "es" -> 0.20, "fr" -> 0.15, "zh" -> 0.15)

  /** Corpus mixing to target proportions (the Pile/Dolma-style mixture
    * step): given desired output shares w_l per language, the largest
    * feasible corpus keeps every document of the binding (scarcest
    * relative to its target) language and hash-downsamples the rest —
    * T = min_l(n_l / w_l), keep_prob_l = w_l·T / n_l. Languages without a
    * target weight are dropped (weight 0).
    *
    * Deterministic end to end: counts are exact integers, the probability
    * arithmetic is a FIXED sequence of IEEE ops (mirrored operation-for-
    * operation in the oracle, so both engines round identically), and the
    * draw is the q57 hash draw — reproducible across engines, runs and
    * corpus growth. Scale shape: one count aggregation (map-combined), a
    * 5-row broadcast of probabilities, then a shuffle-free filter.
    */
  def languageMixture(
      documents: DataFrame,
      weights: Seq[(String, Double)] = MixWeights): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val spark = documents.sparkSession
    val wDf = spark.createDataFrame(weights).toDF("lang", "w")
    val counts = documents.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .join(bcast(wDf), "lang")
      .withColumn("ratio", col("n_lang") / col("w"))
    val tMin = counts.agg(min("ratio").as("t"))
    val probs = counts.crossJoin(bcast(tMin))
      .withColumn("keep_prob", col("w") * col("t") / col("n_lang"))
      .select("lang", "keep_prob")
    documents
      .join(bcast(probs), "lang")
      .withColumn("draw",
        conv(substring(md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 5),
          16, 10).cast("long").cast("double") / lit(1048576.0))
      .filter(col("draw") < col("keep_prob"))
      .select("doc_id", "lang", "source", "n_chars", "keep_prob", "draw")
      .orderBy("doc_id")
  }

  def languageMixtureSql(weights: Seq[(String, Double)] = MixWeights): String = {
    // CAST to DOUBLE: a bare 0.30 literal is DECIMAL in DuckDB, and decimal
    // division rounds differently than the IEEE double math Spark does
    val values = weights.map { case (l, w) =>
      s"('$l', CAST($w AS DOUBLE))"
    }.mkString(", ")
    s"""WITH w(lang, w) AS (VALUES $values),
       |counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
       |cw AS (SELECT c.lang, c.n_lang, w.w,
       |         CAST(c.n_lang AS DOUBLE) / w.w AS ratio
       |       FROM counts c JOIN w ON c.lang = w.lang),
       |t AS (SELECT MIN(ratio) AS t FROM cw),
       |probs AS (SELECT lang, w * t.t / n_lang AS keep_prob FROM cw, t)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars, p.keep_prob,
       |  ('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 5))::BIGINT
       |    / 1048576.0 AS draw
       |FROM documents d JOIN probs p ON d.lang = p.lang
       |WHERE ('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 5))::BIGINT
       |    / 1048576.0 < p.keep_prob
       |ORDER BY doc_id""".stripMargin
  }

  /** Token-budget sequence packing: assign documents (in doc_id order) to
    * consecutive bins of `binTokens` tokens — the batching/packing step
    * that turns a curated corpus into fixed-budget training chunks. A
    * document starts in the bin its running token count falls into.
    *
    * The global running sum is the classic distributed prefix-sum problem:
    * a naive `Window.orderBy(doc_id)` (no partition key) collapses to ONE
    * task. This implementation is the scalable two-phase form —
    * (1) per-partition local running sums in parallel, plus one tiny
    * per-partition total per partition; (2) the partition totals (≤ #
    * partitions rows) become broadcast prefix offsets added back to the
    * local sums. Output is a pure function of (doc_id order, n_tokens) —
    * partitioning never affects it, which the spec proves by repartitioning.
    */
  def packSequences(documents: DataFrame, binTokens: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    val spark = documents.sparkSession
    // filtered-token count — same convention as trainingShards/q104
    val withTok = documents
      .select(col("doc_id"),
        size(filter(graft.functions.TextFunctions.tokens(col("text")),
          t => length(t) > 0)).cast("long")
          .as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val local = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // localCheckpoint, not cache: both passes (totals, final join) MUST see
    // the same physical partitioning — a cache eviction would re-run the
    // range partitioner and could re-draw boundaries between the passes
    val cummed = withTok
      .withColumn("local_cum", sum("n_tokens").over(local))
      .localCheckpoint()
    val totals = cummed.groupBy("pid")
      .agg(max("local_cum").as("part_total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) =>
      (pid, acc + tot)
    }.init.zip(totals).map { case ((_, off), (pid, _)) => (pid, off) }
    val offsetDf = spark.createDataFrame(offsets.toSeq).toDF("pid", "offset")
    cummed.join(bcast(offsetDf), "pid")
      .withColumn("global_cum", col("offset") + col("local_cum"))
      .withColumn("bin_id", expr(s"(global_cum - n_tokens) div $binTokens"))
      .select("doc_id", "n_tokens", "bin_id")
      .orderBy("doc_id")
  }

  // DuckDB SUM(BIGINT) widens to HUGEINT and `//` keeps it; cast back so the
  // driver hashes an int64 like Spark's LongType (r03: only hash-red query)
  def packSequencesSql(binTokens: Long = 4096L): String =
    s"""SELECT doc_id, n_tokens,
       |  CAST((SUM(n_tokens) OVER (ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
       |    // $binTokens AS BIGINT) AS bin_id
       |FROM (SELECT doc_id,
       |        CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) AS BIGINT)
       |          AS n_tokens
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Multi-dimensional corpus accounting: document and character counts at
    * every (lang, source) granularity plus per-lang and grand totals in ONE
    * pass — `ROLLUP`, the dataset-card table. Spark plans rollup as a
    * single expand+aggregate (rows fan out ×3 map-side, one shuffle), not
    * three scans. `grouping()` flags disambiguate the total rows from any
    * genuine NULL dimension values (and note: Spark's grouping() returns
    * BYTE — cast before comparing).
    */
  def corpusRollup(documents: DataFrame): DataFrame =
    documents
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        // grouping() is only resolvable INSIDE the rollup aggregate list
        grouping(col("source")).cast("int").as("is_lang_total"),
        grouping(col("lang")).cast("int").as("is_grand_total"))
      .orderBy(col("is_grand_total"), col("is_lang_total"), col("lang"), col("source"))

  def corpusRollupSql: String =
    """SELECT lang, source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(GROUPING(source) AS INTEGER) AS is_lang_total,
      |  CAST(GROUPING(lang) AS INTEGER) AS is_grand_total
      |FROM documents
      |GROUP BY ROLLUP (lang, source)
      |ORDER BY is_grand_total, is_lang_total, lang, source""".stripMargin

  /** The corpus language mix per source as a wide table — `pivot`, the
    * reshaping operator (one row per source, one column per language).
    * Pivot values are PINNED (`Langs`), not discovered: discovery costs an
    * extra distinct-scan job, makes the output schema data-dependent
    * (schema drift at 100 TB), and breaks oracle comparability. With
    * pinned values Spark plans a single groupBy with conditional
    * aggregates — same plan the explicit SQL writes by hand.
    */
  val Langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  def sourceLangPivot(documents: DataFrame): DataFrame =
    documents
      .groupBy("source")
      .pivot("lang", Langs)
      .agg(count(lit(1)))
      .na.fill(0L, Langs) // a source with no docs in a language = 0, not null
      .orderBy("source")

  def sourceLangPivotSql: String = {
    val cols = Langs.map(l =>
      s"COUNT(CASE WHEN lang = '$l' THEN 1 END) AS $l").mkString(",\n  ")
    s"""SELECT source,
       |  $cols
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** Exact length percentiles per language (p25/p50/p75/p90 of n_chars,
    * discrete "pick the ceil(q·n)-th order statistic" semantics — integer
    * outputs, no interpolation, so the oracle matches bit-for-bit; engine
    * `percentile`/`quantile` built-ins interpolate in floating point and
    * are NOT cross-engine stable, which is why the rank arithmetic is
    * explicit: idx = (p·n + 99) div 100 in integers).
    *
    * Scale shape: one shuffle on lang (the partition key), one window
    * sort within each language, conditional-agg picks — no collect, no
    * global sort. For heavily skewed language distributions the same
    * computation runs per (lang, salt) first via [[Skew]] if needed.
    */
  def lengthPercentiles(documents: DataFrame): DataFrame = {
    val byLen = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    val part = Window.partitionBy("lang")
    def pick(p: Int) = // `div`, not `/`: Spark's `/` is double division
      max(when(col("rn") === expr(s"($p * n + 99) div 100"), col("n_chars")))
        .as(s"p$p")
    documents
      .withColumn("rn", row_number().over(byLen).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), pick(25), pick(50), pick(75), pick(90))
      .orderBy("lang")
  }

  /** Frequency capping of over-represented sources: keep at most `cap`
    * documents per source, preferring longer documents (then lowest
    * doc_id — fully deterministic). The standard counter to domain skew
    * in crawled corpora: without it a handful of boilerplate-heavy sites
    * dominate the token budget.
    *
    * Scale shape: one shuffle on source + a bounded per-partition top-cap.
    * Catalyst rewrites `row_number ≤ cap` into a rank-limited sort
    * (WindowGroupLimit), so each partition retains `cap` rows during the
    * shuffle rather than sorting whole groups — the same mechanism that
    * makes top-k-per-key safe under 100×-skewed sources.
    */
  def sourceCap(documents: DataFrame, cap: Int = 10): DataFrame = {
    val bySize = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    documents
      .withColumn("rank_in_source", row_number().over(bySize))
      .filter(col("rank_in_source") <= cap)
      .select("doc_id", "source", "n_chars", "rank_in_source")
      .orderBy("source", "rank_in_source")
  }

  def sourceCapSql(cap: Int = 10): String =
    s"""SELECT doc_id, source, n_chars,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank_in_source
       |FROM documents
       |QUALIFY rank_in_source <= $cap
       |ORDER BY source, rank_in_source""".stripMargin

  def lengthPercentilesSql: String = {
    def pick(p: Int) =
      s"MAX(CASE WHEN rn = ($p * n + 99) // 100 THEN n_chars END) AS p$p"
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  ${pick(25)}, ${pick(50)}, ${pick(75)}, ${pick(90)}
       |FROM (
       |  SELECT lang, n_chars,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
       |      AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * featurize every document into `buckets` hashed unigram buckets,
    * estimate add-one-smoothed bucket distributions for the TARGET slice
    * (here `source = targetSource`, the stand-in for the small curated
    * corpus) and for the rest of the pool, then score each document by
    * how target-like its feature counts are.
    *
    * Two deliberate deviations from the paper, both documented:
    * the score is the LINEARIZED log-ratio — Σ_f tf(d,f)·(p_t(f) −
    * p_s(f)) instead of Σ tf·ln(p_t/p_s) — because ln is not
    * IEEE-exactness-guaranteed cross-engine (see [[TextAnalysis
    * .lmQualityScore]]; same measured 1-ulp JVM-vs-DuckDB divergence),
    * and both rank identically as p_t/p_s → 1; and selection is the
    * deterministic `importance > 0` cut (more target-like than pool-like)
    * rather than Gumbel resampling, so the oracle can replay it exactly.
    * Every arithmetic step is one exact int→double conversion, one
    * division, or an f-ordered fold — bit-reproducible by construction.
    *
    * Scale shape: the feature stream is linear in corpus tokens; both
    * distributions come from ONE map-combined aggregation over it
    * (`buckets` result rows — broadcast to the per-doc join); per-doc
    * tf is a (doc_id, f) aggregation; the fold is per-row work. The two
    * scalar totals collect one row (same as q50's corpus count). Nothing
    * shuffles more than the token stream, nothing is quadratic.
    */
  def dsirImportance(
      documents: DataFrame, buckets: Int = 256,
      targetSource: String = "src0"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val base = documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("source"),
        filter(tokens(coalesce(col("text"), lit(""))),
          t => length(t) > 0).as("toks"))
    val feats = base
      .select(col("doc_id"), col("source"), explode(col("toks")).as("w"))
      .withColumn("f",
        conv(substring(md5(col("w")), 1, 5), 16, 10).cast("long") % buckets)
    val isTarget = col("source") === targetSource
    // one pass over the feature stream yields BOTH distributions
    val counts = feats.groupBy("f").agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
      sum(when(isTarget, 0L).otherwise(1L)).as("cs")).cache()
    val Array(tTot, sTot) = counts
      .agg(sum("ct"), sum("cs")).collect()(0) match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    val tf = feats.groupBy("doc_id", "f").agg(count(lit(1)).as("tf"))
    val terms = tf.join(broadcast(counts), Seq("f"))
      .withColumn("term",
        col("tf").cast("double") *
          ((col("ct") + 1L).cast("double") / (tTot + buckets) -
           (col("cs") + 1L).cast("double") / (sTot + buckets)))
    val perDoc = terms.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("f"), col("term"))))
        .as("ts"))
      .select(col("doc_id"),
        aggregate(col("ts"), lit(0.0d),
          (acc, x) => acc + x.getField("term")).as("importance"))
    graft.util.CacheScope.freeAfterUse(
      base.select("doc_id", "source")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("importance"), lit(0.0d)).as("importance"),
          (coalesce(col("importance"), lit(0.0d)) > 0).as("selected"))
        .orderBy("doc_id"),
      Seq(counts))
  }

  def dsirImportanceSql(
      buckets: Int = 256, targetSource: String = "src0"): String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    list_filter(regexp_split_to_array(trim(lower(COALESCE(text, ''))), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(u.w), 1, 5))::BIGINT % $buckets AS f
       |  FROM t, LATERAL (SELECT unnest(toks) AS w) u),
       |c AS (
       |  SELECT f,
       |    SUM(CASE WHEN source = '$targetSource' THEN 1 ELSE 0 END) AS ct,
       |    SUM(CASE WHEN source = '$targetSource' THEN 0 ELSE 1 END) AS cs
       |  FROM w GROUP BY f),
       |tot AS (SELECT SUM(ct) AS t_tot, SUM(cs) AS s_tot FROM c),
       |tf AS (SELECT doc_id, f, COUNT(*) AS tf FROM w GROUP BY 1, 2),
       |term AS (
       |  SELECT tf.doc_id, tf.f,
       |    CAST(tf.tf AS DOUBLE) *
       |      (CAST(c.ct + 1 AS DOUBLE) / (tot.t_tot + $buckets) -
       |       CAST(c.cs + 1 AS DOUBLE) / (tot.s_tot + $buckets)) AS term
       |  FROM tf JOIN c USING (f) CROSS JOIN tot),
       |pd AS (
       |  SELECT doc_id,
       |    list_reduce(list(term ORDER BY f), (a, b) -> a + b) AS importance
       |  FROM term GROUP BY doc_id)
       |SELECT t.doc_id, t.source,
       |  COALESCE(pd.importance, 0.0) AS importance,
       |  COALESCE(pd.importance, 0.0) > 0 AS selected
       |FROM t LEFT JOIN pd USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Deterministic global shuffle + shard assignment — the LAST step of a
    * training-data pipeline: training wants the corpus in pseudo-random
    * order, split into nShards equal-ish output files. shuffle_key =
    * md5(doc_id) is the permutation (content-stable: reruns, engine swaps
    * and corpus growth never reorder existing docs relative to each
    * other); shard = first-20-bits mod nShards; shard_pos = rank of the
    * key within its shard.
    *
    * Scale shape: NO global sort and NO global row_number — the only
    * per-row state is a row_number windowed BY SHARD, and production
    * nShards is the output file count (thousands), so the window
    * parallelism matches the cluster. A writer then does
    * `.repartition(col("shard")).sortWithinPartitions("shard_pos")` —
    * one shuffle, each task streams one output file in final order.
    */
  def trainingShards(documents: DataFrame, nShards: Int = 16): DataFrame =
    trainingShardsCore(documents, nShards).orderBy("doc_id")

  /** [[trainingShards]] without the presentation sort — what composition
    * (the shard WRITER) consumes: a join or repartition right after a
    * global orderBy would pay the sort and then discard it.
    */
  private[graft] def trainingShardsCore(
      documents: DataFrame, nShards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("shuffle_key")
    // n_tokens counts NON-EMPTY tokens (ADVICE r10: the unfiltered count
    // inflated vtab-edged text and gave empty text 1 token, disagreeing
    // with the q104/winnowing convention for the same documents)
    documents
      .select(col("doc_id"),
        size(filter(graft.functions.TextFunctions.tokens(col("text")),
          t => length(t) > 0)).cast("long")
          .as("n_tokens"),
        md5(col("doc_id").cast("string")).as("shuffle_key"))
      .withColumn("shard",
        (conv(substring(col("shuffle_key"), 1, 5), 16, 10).cast("long")
          % nShards).cast("int"))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "shard_pos", "n_tokens")
  }

  def trainingShardsSql(nShards: Int = 16): String =
    s"""SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key)
       |    AS BIGINT) AS shard_pos,
       |  n_tokens
       |FROM (SELECT doc_id,
       |        md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
       |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT
       |          % $nShards AS INTEGER) AS shard,
       |        CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) AS BIGINT) AS n_tokens
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Trained quality classifier (r16, VERDICT r15 #5): the CCNet/fastText
  // "wiki-vs-crawl" gate production pipelines actually score with — a
  // supervised LINEAR classifier over hashed unigram features (the q90
  // DSIR feature stream), trained by full-batch gradient steps on the
  // squared loss against ±1 labels (target source vs rest). The sigmoid
  // is LINEARIZED away on purpose (the q89/q90 precedent: anything that
  // can't be hash-checked cross-engine gets linearized or fix-pointed):
  // least-squares descent keeps every iteration a pure integer
  // aggregation — fixed-point features (tf·1e6 // len), fixed-point
  // weights, floor-division rescales — so the LEARNED WEIGHT VECTOR is
  // bit-identical cross-engine and the oracle unrolls the same
  // iterations as CTEs (the q68 k-means recipe). sign(score) is the
  // same decision family a sigmoid-trained model thresholded at 0.5
  // produces; only the calibrated probabilities are absent, and nothing
  // downstream consumes them.
  //
  // Scale shape: training reads a deterministic hash-ordered sample
  // (QcTrainCap docs — the KMeans.TrainCap pattern: FAISS-style bounded
  // sample training; at verification volumes the sample IS the corpus,
  // so every oracle hash is scale-invariant), each iteration is two
  // batch-sized aggregations (per-doc margin, per-bucket gradient) over
  // ≤ cap docs, and the model (≤ QcBuckets longs) collects to the
  // driver exactly like the k-means centroid sync. Scoring is one
  // broadcast-join pass over the full corpus — embarrassingly parallel
  // at any scale. Fixed-point magnitudes are bounded by construction:
  // |x| ≤ 1e6 (normalized tf), |margin| ≤ B·1e6·|w|, and the gradient
  // sum ≤ cap·1e8·1e6 ≈ 4e17 < 2^63 at the 4096-doc cap.
  // ------------------------------------------------------------------

  val QcBuckets = 256
  val QcIters = 3
  val QcEta = 8L      // update = w − Eta·mean-gradient (integer multiply)
  val QcTrainCap = 4096
  val QcScale = 1000000L // the 1e6 fixed-point scale (QuantizedDot convention)
  /** Hard ceiling on the K-class labeler's class count (VERDICT r17
    * watch item: the class set is data-driven, so a pathological corpus
    * where every sampled doc carries a unique label made K = trainCap —
    * a ~16.7M-row one-vs-rest grid per iteration and a K·256-long driver
    * sync). Classes are the top-`QcMaxClasses` sample labels by
    * frequency (ties to the smaller name — deterministic); rarer labels
    * train as negatives for every kept class, the standard "other" bucket
    * of production language-ID gates. 64 covers real language mixes
    * (CommonCrawl's CCNet buckets ~60 languages) while bounding the
    * training grid at trainCap·64 rows and the sync at 64·256 longs.
    */
  val QcMaxClasses = 64

  /** Floor-division SQL fragment (both engines' `%` truncates toward
    * zero, so `(a − ((a % b) + b) % b) / b` floors identically for
    * negative numerators; the numerator is exactly divisible, so integer
    * division is exact).
    */
  private def fdivSql(a: String, b: String): String =
    s"(($a) - ((($a) % ($b)) + ($b)) % ($b)) // ($b)"

  private def fdivExpr(a: String, b: String): String =
    s"(($a) - pmod($a, $b)) div ($b)"

  /** The classifier's feature stream: (doc_id, y, f, x) — hashed unigram
    * bucket f (the q90 formula), x = tf·1e6 // n_tokens (an exact
    * integer probability), y = ±1 by target source. Empty docs yield no
    * rows (they have no features; scoring gives them 0).
    */
  private def qcFeats(
      docs: DataFrame, buckets: Int, targetSource: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val base = docs
      .select(col("doc_id"),
        when(col("source") === targetSource, 1L).otherwise(-1L).as("y"),
        filter(tokens(coalesce(col("text"), lit(""))),
          t => length(t) > 0).as("toks"))
      .withColumn("len", size(col("toks")).cast("long"))
      .filter(col("len") > 0)
    base
      .select(col("doc_id"), col("y"), col("len"), explode(col("toks")).as("tok"))
      .withColumn("f",
        conv(substring(md5(col("tok")), 1, 5), 16, 10).cast("long") % buckets)
      .groupBy("doc_id", "y", "len", "f")
      .agg(count(lit(1)).as("tf"))
      .selectExpr("doc_id", "y", "f", s"(tf * ${QcScale}L) div len AS x")
  }

  /** The deterministic hash-ordered training sample (smallest
    * md5("qc|" ++ doc_id), the KMeans seed-order pattern) with its size.
    */
  private def qcSample(documents: DataFrame, cap: Int): (DataFrame, Long) = {
    // lazy checkpoint + count: the count is the materializing action, so
    // the sample pipeline (corpus scan + hash sort + top-cap) runs ONCE
    // instead of an eager-checkpoint job followed by a count job (r19 —
    // the r18 star-loop trick applied here).
    val s = documents
      .select(col("doc_id"), col("source"), col("text"),
        md5(concat(lit("qc|"), col("doc_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(cap)
      .drop("h")
      .repartition(col("doc_id")) // the top-cap collapses to one partition
      .localCheckpoint(false)
    (s, graft.util.JobDesc.labeled(documents.sparkSession,
      "classifier: train sample")(s.count()))
  }

  /** Train the classifier; returns the final integer weight vector as
    * (f, w) rows — the oracle-checked model artifact (q124). Each
    * iteration: margin M_d = Σ_f x·w (scale 1e12), residual
    * rq_d = ⌊(M_d − y·1e12)/1e6⌋, mean gradient
    * gm_f = ⌊Σ_d rq_d·x_df / (n·1e6)⌋ (back at weight scale), update
    * w_f ← w_f − Eta·gm_f. The model collects to the driver per
    * iteration (≤ [[QcBuckets]] longs — it is the model, not data).
    */
  def qualityClassifierWeights(
      documents: DataFrame, buckets: Int = QcBuckets,
      targetSource: String = "src0", iters: Int = QcIters,
      eta: Long = QcEta, trainCap: Int = QcTrainCap): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (samp, n) = qcSample(documents, trainCap)
    val feats = qcFeats(samp, buckets, targetSource).localCheckpoint(true)
    try {
      var w = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val wDf = w.toSeq.toDF("f", "wf")
        val rq = feats
          .join(broadcast(wDf), Seq("f"), "left")
          .groupBy("doc_id", "y")
          .agg(sum(col("x") * coalesce(col("wf"), lit(0L))).as("m"))
          .selectExpr("doc_id",
            fdivExpr(s"m - y * ${QcScale}L * ${QcScale}L", s"${QcScale}L")
              + " AS rq")
        val grad = feats.join(rq, Seq("doc_id"))
          .groupBy("f").agg(sum(col("rq") * col("x")).as("g"))
          .selectExpr("f", fdivExpr("g", s"${n}L * ${QcScale}L") + " AS gm")
          .collect()
        w = grad.map { r =>
          val f = r.getLong(0)
          f -> (w.getOrElse(f, 0L) - eta * r.getLong(1))
        }.toMap
      }
      w.toSeq.sortBy(_._1).toDF("f", "w")
    } finally {
      graft.util.CacheScope.release(feats)
      graft.util.CacheScope.release(samp)
    }
  }

  /** Apply the trained model to the FULL corpus (q125): score = Σ x·w
    * (scale 1e12), predicted = score > 0 — the quality gate. Docs with
    * no tokens score 0 (not predicted target). One broadcast join, no
    * index-sized shuffle.
    */
  def qualityClassifierScore(
      documents: DataFrame, buckets: Int = QcBuckets,
      targetSource: String = "src0", iters: Int = QcIters,
      eta: Long = QcEta, trainCap: Int = QcTrainCap): DataFrame = {
    val w = qualityClassifierWeights(
      documents, buckets, targetSource, iters, eta, trainCap)
    val feats = qcFeats(
      documents.select(col("doc_id"), col("source"), col("text")),
      buckets, targetSource)
    val scores = feats
      .join(broadcast(w), Seq("f"), "left")
      .groupBy("doc_id")
      .agg(sum(col("x") * coalesce(col("w"), lit(0L))).as("score"))
    documents.select(col("doc_id"), col("source"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("score"), lit(0L)).as("score"),
        (coalesce(col("score"), lit(0L)) > 0).as("predicted"))
      .orderBy("doc_id")
  }

  /** The shared training CTE chain (sample → feats → unrolled
    * iterations w1..wT), mirrored term-for-term: same md5 bucket
    * formula, same floor divisions, same update rule.
    */
  private def qcCtesSql(
      buckets: Int, targetSource: String, iters: Int, eta: Long,
      trainCap: Int): String = {
    val S = QcScale
    val base =
      s"""samp AS (
         |  SELECT doc_id, source, COALESCE(text, '') AS text
         |  FROM documents
         |  QUALIFY row_number() OVER (
         |    ORDER BY md5('qc|' || CAST(doc_id AS VARCHAR)), doc_id)
         |    <= $trainCap),
         |nn AS (SELECT COUNT(*) AS n FROM samp),
         |qtoks AS (
         |  SELECT doc_id,
         |    CASE WHEN source = '$targetSource' THEN 1 ELSE -1 END AS y,
         |    list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
         |  FROM samp),
         |feats AS (
         |  SELECT doc_id, y, f, (tf * $S) // len AS x
         |  FROM (
         |    SELECT doc_id, y, len, ('0x' || substr(md5(u.tok), 1, 5))::BIGINT % $buckets AS f,
         |      COUNT(*) AS tf
         |    FROM (SELECT doc_id, y, toks, len(toks) AS len FROM qtoks WHERE len(toks) > 0) t,
         |      LATERAL (SELECT unnest(toks) AS tok) u
         |    GROUP BY 1, 2, 3, 4))""".stripMargin
    val iterCtes = (1 to iters).map { t =>
      val prevW = if (t == 1) "0" else s"COALESCE(w${t - 1}.w, 0)"
      val joinPrev =
        if (t == 1) "" else s" LEFT JOIN w${t - 1} USING (f)"
      // margin/residual stage (skipped textually for t=1: w0 = 0 ⇒
      // rq = ⌊−y·1e12/1e6⌋ = −y·1e6 exactly)
      val rqCte =
        if (t == 1)
          s"""rq$t AS (
             |  SELECT DISTINCT doc_id, -y * CAST($S AS BIGINT) AS rq FROM feats)"""
            .stripMargin
        else
          s"""m$t AS (
             |  SELECT t.doc_id, t.y, SUM(t.x * COALESCE(w${t - 1}.w, 0)) AS m
             |  FROM feats t LEFT JOIN w${t - 1} USING (f)
             |  GROUP BY 1, 2),
             |rq$t AS (
             |  SELECT doc_id, ${fdivSql(s"m - y * CAST($S AS BIGINT) * CAST($S AS BIGINT)", s"CAST($S AS BIGINT)")} AS rq
             |  FROM m$t)""".stripMargin
      s"""$rqCte,
         |g$t AS (
         |  SELECT f, SUM(r.rq * t.x) AS g
         |  FROM feats t JOIN rq$t r USING (doc_id)
         |  GROUP BY f),
         |w$t AS (
         |  SELECT f, $prevW - $eta * ${fdivSql("g.g", s"nn.n * CAST($S AS BIGINT)")} AS w
         |  FROM g$t g$joinPrev CROSS JOIN nn)""".stripMargin
    }
    (base +: iterCtes).mkString(",\n")
  }

  def qualityClassifierWeightsSql(
      buckets: Int = QcBuckets, targetSource: String = "src0",
      iters: Int = QcIters, eta: Long = QcEta,
      trainCap: Int = QcTrainCap): String =
    s"""WITH ${qcCtesSql(buckets, targetSource, iters, eta, trainCap)}
       |SELECT f, CAST(w AS BIGINT) AS w FROM w$iters ORDER BY f""".stripMargin

  def qualityClassifierScoreSql(
      buckets: Int = QcBuckets, targetSource: String = "src0",
      iters: Int = QcIters, eta: Long = QcEta,
      trainCap: Int = QcTrainCap): String =
    s"""WITH ${qcCtesSql(buckets, targetSource, iters, eta, trainCap)},
       |atoks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(lower(COALESCE(text, ''))), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |afeats AS (
       |  SELECT doc_id, f, (tf * ${QcScale}) // len AS x
       |  FROM (
       |    SELECT doc_id, len, ('0x' || substr(md5(u.tok), 1, 5))::BIGINT % $buckets AS f,
       |      COUNT(*) AS tf
       |    FROM (SELECT doc_id, toks, len(toks) AS len FROM atoks WHERE len(toks) > 0) t,
       |      LATERAL (SELECT unnest(toks) AS tok) u
       |    GROUP BY 1, 2, 3)),
       |sc AS (
       |  SELECT t.doc_id, SUM(t.x * COALESCE(w$iters.w, 0)) AS score
       |  FROM afeats t LEFT JOIN w$iters USING (f)
       |  GROUP BY 1)
       |SELECT d.doc_id, d.source,
       |  CAST(COALESCE(sc.score, 0) AS BIGINT) AS score,
       |  COALESCE(sc.score, 0) > 0 AS predicted
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // MULTI-CLASS language/domain labeler (r17, VERDICT r16 #4): K-class
  // one-vs-rest over the SAME hashed-unigram feature stream and the same
  // exact-fixed-point gradient machinery as q124/q125 — per production
  // pipelines' trained language-ID gates (the fastText langid shape,
  // linearized like q124 per the q89/q90 precedent). The class set is
  // DATA-DRIVEN: distinct `lang` values of the training sample, carried
  // through every stage as a `cls` COLUMN (not a per-class namespace), so
  // one DataFrame program trains all K weight vectors at once and the
  // SQL mirror works unchanged on any corpus geometry (fuzz corpora
  // included), bounded at the top-[[QcMaxClasses]] sample labels by
  // frequency (r18 — rarer labels train as all-negative "other" docs,
  // null labels are never classes). Each iteration is two sample-sized
  // aggregations over the (doc × class) grid (≤ trainCap·K rows); the
  // model sync is ≤ K·QcBuckets longs per iteration — the model, not
  // data. Labeling is
  // one broadcast join over the corpus feature stream (K rows per
  // feature, map-side-combined into per-(doc, cls) scores) and an argmax
  // as min(struct(−score, cls)) — a single combinable aggregation, no
  // per-doc window shuffle.
  // ------------------------------------------------------------------

  /** The shared raw feature stream — (doc_id, f, x) without a label
    * column: x = tf·1e6 // n_tokens on the q90 hashed-unigram buckets.
    */
  private def lcFeats(docs: DataFrame, buckets: Int): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs
      .select(col("doc_id"),
        filter(tokens(coalesce(col("text"), lit(""))),
          t => length(t) > 0).as("toks"))
      .withColumn("len", size(col("toks")).cast("long"))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("len"), explode(col("toks")).as("tok"))
      .withColumn("f",
        conv(substring(md5(col("tok")), 1, 5), 16, 10).cast("long") % buckets)
      .groupBy("doc_id", "len", "f")
      .agg(count(lit(1)).as("tf"))
      .selectExpr("doc_id", "f", s"(tf * ${QcScale}L) div len AS x")
  }

  /** Deterministic hash-ordered training sample keeping the label column
    * (salt "lc|" — independent of the q124 sample's "qc|").
    */
  private def lcSample(documents: DataFrame, cap: Int): (DataFrame, Long) = {
    // lazy checkpoint + count-as-materializer — see [[qcSample]] (r19)
    val s = documents
      .select(col("doc_id"), col("lang"), col("text"),
        md5(concat(lit("lc|"), col("doc_id").cast("string"))).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(cap)
      .drop("h")
      .repartition(col("doc_id"))
      .localCheckpoint(false)
    (s, graft.util.JobDesc.labeled(documents.sparkSession,
      "language classifier: train sample")(s.count()))
  }

  /** Train the K-class one-vs-rest labeler; returns the per-class weight
    * table (cls, f, w) — the oracle-checked model artifact (q126). Per
    * class c the math is exactly [[qualityClassifierWeights]] with
    * y = +1 iff lang = c: margins and gradients carry `cls` as a
    * grouping column, so all K vectors train in the same two
    * aggregations per iteration. The driver sync collects ≤ K·buckets
    * (cls, f, gm) rows per iteration.
    */
  def langClassifierWeights(
      documents: DataFrame, buckets: Int = QcBuckets,
      iters: Int = QcIters, eta: Long = QcEta,
      trainCap: Int = QcTrainCap): DataFrame =
    lcTrain(documents, buckets, iters, eta, trainCap)._1

  /** The sample's class set: top-[[QcMaxClasses]] non-null labels by
    * frequency (count desc, then name asc — deterministic), returned
    * name-sorted. Null labels never become classes (ADVICE r17: a fuzz
    * corpus with null `lang` NPE'd here while the SQL mirror's DISTINCT
    * carried a NULL class); docs with a null or uncapped-rare label stay
    * in the sample as all-negative examples.
    */
  private def lcClasses(samp: DataFrame): Array[String] =
    samp.filter(col("lang").isNotNull)
      .groupBy("lang").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("lang"))
      .limit(QcMaxClasses)
      .collect().map(_.getString(0)).sorted

  private def lcTrain(
      documents: DataFrame, buckets: Int, iters: Int, eta: Long,
      trainCap: Int): (DataFrame, Array[String]) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (samp, n) = lcSample(documents, trainCap)
    val feats = lcFeats(samp, buckets).localCheckpoint(true)
    try {
      val classes = lcClasses(samp)
      val ycls = samp.select(col("doc_id"), col("lang"))
        .crossJoin(broadcast(classes.toSeq.toDF("cls")))
        .select(col("doc_id"), col("cls"),
          when(col("lang") === col("cls"), 1L).otherwise(-1L).as("y"))
      var w = Map.empty[(String, Long), Long]
      for (_ <- 1 to iters if classes.nonEmpty) {
        val wDf = w.toSeq.map { case ((c, f), v) => (c, f, v) }
          .toDF("cls", "f", "wf")
        val rq = ycls
          .join(feats, Seq("doc_id"))
          .join(broadcast(wDf), Seq("cls", "f"), "left")
          .groupBy("doc_id", "cls", "y")
          .agg(sum(col("x") * coalesce(col("wf"), lit(0L))).as("m"))
          .selectExpr("doc_id", "cls",
            fdivExpr(s"m - y * ${QcScale}L * ${QcScale}L", s"${QcScale}L")
              + " AS rq")
        val grad = feats.join(rq, Seq("doc_id"))
          .groupBy("cls", "f").agg(sum(col("rq") * col("x")).as("g"))
          .selectExpr("cls", "f",
            fdivExpr("g", s"${n}L * ${QcScale}L") + " AS gm")
          .collect()
        w = grad.map { r =>
          val k = (r.getString(0), r.getLong(1))
          k -> (w.getOrElse(k, 0L) - eta * r.getLong(2))
        }.toMap
      }
      (w.toSeq.sortBy(_._1).map { case ((c, f), v) => (c, f, v) }
        .toDF("cls", "f", "w"), classes)
    } finally {
      graft.util.CacheScope.release(feats)
      graft.util.CacheScope.release(samp)
    }
  }

  /** Label the FULL corpus with the trained K-class model (q127):
    * score(d, c) = Σ_f x·w_c, pred_lang = argmax_c (ties → smallest
    * class name; a doc with no trained feature scores 0 everywhere and
    * takes the smallest class, mirrored by the oracle's COALESCE). The
    * argmax is min(struct(−score, cls)) — one map-side-combinable
    * aggregation, no window shuffle.
    */
  def langClassifierLabel(
      documents: DataFrame, buckets: Int = QcBuckets,
      iters: Int = QcIters, eta: Long = QcEta,
      trainCap: Int = QcTrainCap): DataFrame = {
    val (w, classes) = lcTrain(documents, buckets, iters, eta, trainCap)
    // fallback class from the CLASS SET, not the weight table (ADVICE
    // r17: a sample where no doc has tokens leaves the weight table
    // empty, so min-over-weights was null while the SQL mirror fell back
    // to MIN(lclasses)); classes is name-sorted, so head = min. A corpus
    // with no classes at all (every sampled lang null) labels NULL in
    // both engines.
    val minCls = w.sparkSession.sparkContext.broadcast(classes.headOption.orNull)
    val scores = lcFeats(
        documents.select(col("doc_id"), col("text")), buckets)
      .join(broadcast(w), Seq("f")) // inner: absent features add 0 to every class
      .groupBy("doc_id", "cls")
      .agg(sum(col("x") * col("w")).as("score"))
    val best = scores
      .groupBy("doc_id")
      .agg(min(struct((-col("score")).as("ns"), col("cls"))).as("b"))
      .select(col("doc_id"), col("b.cls").as("pred"),
        (-col("b.ns")).as("bscore"))
    documents.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred"), lit(minCls.value)).as("pred_lang"),
        coalesce(col("bscore"), lit(0L)).as("score"))
      .orderBy("doc_id")
  }

  /** The multi-class training CTE chain — the q124 unrolled-iteration
    * recipe with `cls` as a column: classes from the sample's distinct
    * labels, (doc × class) one-vs-rest targets, per-(cls, f) gradients.
    * Mirrored term-for-term against [[langClassifierWeights]].
    */
  private def lcCtesSql(
      buckets: Int, iters: Int, eta: Long, trainCap: Int): String = {
    val S = QcScale
    val base =
      s"""lsamp AS (
         |  SELECT doc_id, lang, COALESCE(text, '') AS text
         |  FROM documents
         |  QUALIFY row_number() OVER (
         |    ORDER BY md5('lc|' || CAST(doc_id AS VARCHAR)), doc_id)
         |    <= $trainCap),
         |lnn AS (SELECT COUNT(*) AS n FROM lsamp),
         |lclasses AS (
         |  SELECT lang AS cls FROM lsamp WHERE lang IS NOT NULL
         |  GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT $QcMaxClasses),
         |ltoks AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
         |  FROM lsamp),
         |lfeats AS (
         |  SELECT doc_id, f, (tf * $S) // len AS x
         |  FROM (
         |    SELECT doc_id, len, ('0x' || substr(md5(u.tok), 1, 5))::BIGINT % $buckets AS f,
         |      COUNT(*) AS tf
         |    FROM (SELECT doc_id, toks, len(toks) AS len FROM ltoks WHERE len(toks) > 0) t,
         |      LATERAL (SELECT unnest(toks) AS tok) u
         |    GROUP BY 1, 2, 3)),
         |lycls AS (
         |  SELECT s.doc_id, c.cls,
         |    CASE WHEN s.lang = c.cls THEN 1 ELSE -1 END AS y
         |  FROM lsamp s CROSS JOIN lclasses c)""".stripMargin
    val iterCtes = (1 to iters).map { t =>
      val rqCte =
        if (t == 1)
          // w0 = 0 ⇒ rq = ⌊−y·1e12/1e6⌋ = −y·1e6 exactly, for every
          // (doc-with-features × class) pair
          s"""lrq$t AS (
             |  SELECT y.doc_id, y.cls, -y.y * CAST($S AS BIGINT) AS rq
             |  FROM lycls y JOIN (SELECT DISTINCT doc_id FROM lfeats) d USING (doc_id))"""
            .stripMargin
        else
          s"""lm$t AS (
             |  SELECT y.doc_id, y.cls, y.y, SUM(t.x * COALESCE(w.w, 0)) AS m
             |  FROM lycls y JOIN lfeats t USING (doc_id)
             |  LEFT JOIN lw${t - 1} w ON w.cls = y.cls AND w.f = t.f
             |  GROUP BY 1, 2, 3),
             |lrq$t AS (
             |  SELECT doc_id, cls, ${fdivSql(s"m - y * CAST($S AS BIGINT) * CAST($S AS BIGINT)", s"CAST($S AS BIGINT)")} AS rq
             |  FROM lm$t)""".stripMargin
      val prevW = if (t == 1) "0" else s"COALESCE(w.w, 0)"
      val joinPrev =
        if (t == 1) ""
        else s" LEFT JOIN lw${t - 1} w ON w.cls = g.cls AND w.f = g.f"
      s"""$rqCte,
         |lg$t AS (
         |  SELECT r.cls, t.f, SUM(r.rq * t.x) AS g
         |  FROM lfeats t JOIN lrq$t r USING (doc_id)
         |  GROUP BY 1, 2),
         |lw$t AS (
         |  SELECT g.cls, g.f, $prevW - $eta * ${fdivSql("g.g", s"lnn.n * CAST($S AS BIGINT)")} AS w
         |  FROM lg$t g$joinPrev CROSS JOIN lnn)""".stripMargin
    }
    (base +: iterCtes).mkString(",\n")
  }

  def langClassifierWeightsSql(
      buckets: Int = QcBuckets, iters: Int = QcIters, eta: Long = QcEta,
      trainCap: Int = QcTrainCap): String =
    s"""WITH ${lcCtesSql(buckets, iters, eta, trainCap)}
       |SELECT cls, f, CAST(w AS BIGINT) AS w FROM lw$iters
       |ORDER BY cls, f""".stripMargin

  def langClassifierLabelSql(
      buckets: Int = QcBuckets, iters: Int = QcIters, eta: Long = QcEta,
      trainCap: Int = QcTrainCap): String =
    s"""WITH ${lcCtesSql(buckets, iters, eta, trainCap)},
       |latoks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(lower(COALESCE(text, ''))), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |lafeats AS (
       |  SELECT doc_id, f, (tf * ${QcScale}) // len AS x
       |  FROM (
       |    SELECT doc_id, len, ('0x' || substr(md5(u.tok), 1, 5))::BIGINT % $buckets AS f,
       |      COUNT(*) AS tf
       |    FROM (SELECT doc_id, toks, len(toks) AS len FROM latoks WHERE len(toks) > 0) t,
       |      LATERAL (SELECT unnest(toks) AS tok) u
       |    GROUP BY 1, 2, 3)),
       |lpsc AS (
       |  SELECT t.doc_id, w.cls, SUM(t.x * w.w) AS score
       |  FROM lafeats t JOIN lw$iters w USING (f)
       |  GROUP BY 1, 2),
       |lbest AS (
       |  SELECT doc_id, cls, score FROM lpsc
       |  QUALIFY row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, cls) = 1)
       |SELECT d.doc_id, d.lang,
       |  COALESCE(b.cls, (SELECT MIN(cls) FROM lclasses)) AS pred_lang,
       |  CAST(COALESCE(b.score, 0) AS BIGINT) AS score
       |FROM documents d LEFT JOIN lbest b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
}
