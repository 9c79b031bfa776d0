package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text analysis for a large-scale training-data pipeline: token counting,
  * quality scoring, language identification and content fingerprinting over
  * the `documents` table.
  *
  * All ops are single-pass, per-row Column expressions (no shuffle at all —
  * they scale linearly with input splits and stay in whole-stage codegen),
  * and every formula is mirrored exactly in ANSI SQL for the DuckDB oracle.
  * Ratios divide exact integer counts, so doubles are bit-identical across
  * engines.
  */
object TextAnalysis {

  /** Stopword list used for quality scoring (English function words —
    * public-knowledge list, kept tiny on purpose).
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /** Marker lexicons for the n-gram/marker-word language-ID heuristic.
    * Order matters: ties break toward the earlier entry (then 'und').
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un", "una", "es"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
  )

  /** The shared one-pass stats struct ([[graft.functions.TextStats]]) —
    * native codegen kernel; each op below projects the fields it needs.
    */
  private def statsCol(withFp: Boolean = false): Column =
    graft.functions.TextStats.stats(
      col("text"), Stopwords, LangMarkers.map(_._2), withFp)

  /** Token statistics: counts, distinct counts, average token length.
    * avg_token_len divides two exact ints — deterministic double.
    */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("_ts", statsCol())
      .select(
        col("doc_id"),
        col("n_chars"),
        col("_ts.n_tokens").as("n_tokens"),
        col("_ts.n_distinct").as("n_distinct_tokens"),
        (col("_ts.sum_len").cast("double") / col("_ts.n_tokens")).as("avg_token_len"),
        regexp_count(lower(col("text")), lit(BpeishPattern)).cast("int").as("n_subtokens"))
      .orderBy("doc_id")

  /** BPE-ish subtoken segmentation (letter runs / single digits / single
    * punctuation), the shape GPT-style pre-tokenizers use. Restricted to a
    * regex dialect Java and RE2 interpret identically — note `\s` itself is
    * NOT in that dialect (Java includes vertical tab \x0B, RE2 does not),
    * so the whitespace class is spelled out.
    */
  val BpeishPattern = "[a-z]+|[0-9]|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

  def tokenStatsSql: String =
    s"""SELECT doc_id, n_chars,
       |  len(toks) AS n_tokens,
       |  len(list_distinct(toks)) AS n_distinct_tokens,
       |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len,
       |  CAST(len(regexp_extract_all(lower(text), '$BpeishPattern')) AS INT) AS n_subtokens
       |FROM (SELECT doc_id, n_chars, text, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Heuristic quality score in [0,1]:
    * 0.4·length-score (chars/500 capped at 1) +
    * 0.3·lexical diversity (distinct/total tokens) +
    * 0.3·stopword sanity (1 if stopword ratio in [0.05,0.6] else 0).
    * Mirrors what public corpus-quality filters (C4-style) compute, with
    * deterministic arithmetic only.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val nTok = col("_ts.n_tokens")
    val stopRatio = col("_ts.n_stop").cast("double") / nTok
    val lenScore = least(col("n_chars").cast("double") / 500.0, lit(1.0))
    val diversity = col("_ts.n_distinct").cast("double") / nTok
    val stopOk = when(stopRatio >= 0.05 && stopRatio <= 0.6, 1.0).otherwise(0.0)
    documents
      .withColumn("_ts", statsCol())
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        stopRatio.as("stopword_ratio"),
        diversity.as("lexical_diversity"),
        lenScore.as("length_score"),
        (lenScore * 0.4 + diversity * 0.3 + stopOk * 0.3).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Append `quality_score` (same arithmetic as [[qualityScore]]) as one
    * ROW-WISE column over `text`/`n_chars` — the streaming/foreachBatch
    * form: no join back on doc_id, no per-batch global sort, stays inside
    * whole-stage codegen. [[qualityScore]] remains the oracle-shaped
    * projection; this is what the per-micro-batch hot path uses
    * ([[graft.streaming.DocIngest]]).
    */
  def withQualityScore(documents: DataFrame): DataFrame = {
    val nTok = col("_qts.n_tokens")
    val stopRatio = col("_qts.n_stop").cast("double") / nTok
    val lenScore = least(col("n_chars").cast("double") / 500.0, lit(1.0))
    val diversity = col("_qts.n_distinct").cast("double") / nTok
    val stopOk = when(stopRatio >= 0.05 && stopRatio <= 0.6, 1.0).otherwise(0.0)
    documents
      .withColumn("_qts", statsCol())
      .withColumn("quality_score",
        lenScore * 0.4 + diversity * 0.3 + stopOk * 0.3)
      .drop("_qts")
  }

  def qualityScoreSql: String = {
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ",", "]")
    s"""SELECT doc_id, n_tokens, stopword_ratio, lexical_diversity, length_score,
       |  (length_score * 0.4 + lexical_diversity * 0.3 + stop_ok * 0.3) AS quality_score
       |FROM (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) AS stopword_ratio,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lexical_diversity,
       |    least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS length_score,
       |    CASE WHEN (CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks)) BETWEEN 0.05 AND 0.6
       |         THEN 1.0 ELSE 0.0 END AS stop_ok
       |  FROM (SELECT doc_id, n_chars, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Marker-word language ID: count marker-lexicon hits per language over
    * the token stream; argmax wins, ties break by lexicon order, zero hits →
    * "und" (undetermined). Pure per-row expressions.
    */
  def languageId(documents: DataFrame): DataFrame = {
    val scored = documents
      .withColumn("_ts", statsCol())
      .select(col("doc_id") +: LangMarkers.zipWithIndex.map {
        case ((lang, _), i) => col("_ts.lang_scores").getItem(i).as(s"score_$lang")
      }: _*)
    val best = LangMarkers.map { case (l, _) => col(s"score_$l") }
    val maxScore = greatest(best: _*)
    val pick = LangMarkers.foldRight(lit("und")) { case ((lang, _), onElse) =>
      when(maxScore > 0 && col(s"score_$lang") === maxScore, lit(lang)).otherwise(onElse)
    }
    // foldRight builds when(en).when(de)... so earlier lexicons win ties
    scored
      .select(
        (col("doc_id") +: LangMarkers.map { case (l, _) => col(s"score_$l") }
          :+ pick.as("detected_lang")): _*)
      .orderBy("doc_id")
  }

  def languageIdSql: String = {
    val scoreExprs = LangMarkers.map { case (lang, markers) =>
      val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_filter(toks, t -> list_contains($lst, t))) AS score_$lang"
    }.mkString(",\n    ")
    val names = LangMarkers.map { case (l, _) => s"score_$l" }
    val maxExpr = s"greatest(${names.mkString(", ")})"
    val caseArms = LangMarkers.map { case (lang, _) =>
      s"WHEN $maxExpr > 0 AND score_$lang = $maxExpr THEN '$lang'"
    }.mkString("\n    ")
    s"""SELECT doc_id, ${names.mkString(", ")},
       |  CASE
       |    $caseArms
       |    ELSE 'und' END AS detected_lang
       |FROM (
       |  SELECT doc_id, $scoreExprs
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key — plus a 64-bit token-sequence fingerprint built
    * from per-token md5 nibbles folded with XOR+rotate (a rolling-hash
    * shape), all with built-in expressions.
    */
  def fingerprints(documents: DataFrame): DataFrame = {
    val norm = concat_ws(" ", tokens(col("text")))
    // rolling fp: acc = (acc * 31 + nibble16(md5(token))) mod 2^31-1 —
    // computed inside the TextStats kernel (withFp), expressible
    // identically in DuckDB.
    documents
      .withColumn("_ts", statsCol(withFp = true))
      .select(
        col("doc_id"),
        // concat_ws treats NULL as '' — null text must stay NULL, not
        // alias to the empty document's fingerprint (fuzz-harness find)
        when(col("text").isNotNull, md5(norm)).as("content_md5"),
        col("_ts.rolling_fp").as("rolling_fp"))
      .orderBy("doc_id")
  }

  def fingerprintsSql: String =
    """SELECT doc_id,
      |  md5(array_to_string(toks, ' ')) AS content_md5,
      |  CASE WHEN toks IS NULL THEN NULL ELSE
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t ->
      |      CAST((strpos('0123456789abcdef', substr(md5(t),1,1)) - 1)
      |         + (strpos('0123456789abcdef', substr(md5(t),2,1)) - 1) * 16 AS BIGINT))),
      |    (acc, h) -> ((acc * 31 + h) % 2147483647 + 2147483647) % 2147483647) END AS rolling_fp
      |FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Repetition threshold above which a document is flagged (Gopher-style
    * repetition-removal heuristic: high duplicate-n-gram fraction =
    * boilerplate / spam / generation loops).
    */
  val RepetitionThreshold = 0.2

  /** Duplicate-3-gram repetition filter: per document, the fraction of
    * word 3-grams that are repeats of an earlier 3-gram in the same
    * document. Shuffle-free per-row computation (the ShingleSet kernel
    * provides the distinct count in one pass); the ratio divides exact
    * integers so the double is engine-identical.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    // non-EMPTY tokens: boundary whitespace (tab/newline past the
    // space-only trim) yields empty split fields that the ShingleSet
    // kernel never shingles — the total must count the same token stream
    // as the distinct, or hostile texts skew the ratio (fuzz-caught class)
    val toks = filter(tokens(col("text")), t => length(t) > 0)
    val total = greatest(size(toks) - 2, lit(0)).cast("long")
    val distinctG = // null text → 0, matching the oracle's ELSE branch
      coalesce(size(graft.functions.ShingleSet.shingles(col("text"), 3)), lit(0))
        .cast("long")
    documents
      .select(col("doc_id"), total.as("n_grams"), distinctG.as("n_distinct_grams"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
          .otherwise(0.0))
      .withColumn("is_repetitive", col("rep_ratio") > RepetitionThreshold)
      .orderBy("doc_id")
  }

  def repetitionStatsSql: String =
    s"""SELECT doc_id, n_grams, n_distinct_grams,
       |  CASE WHEN n_grams > 0
       |       THEN 1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams
       |       ELSE 0.0 END AS rep_ratio,
       |  (CASE WHEN n_grams > 0
       |        THEN 1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams
       |        ELSE 0.0 END) > $RepetitionThreshold AS is_repetitive
       |FROM (
       |  SELECT doc_id,
       |    CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_grams,
       |    CAST(CASE WHEN len(toks) >= 3
       |      THEN len(list_distinct(list_transform(generate_series(1, len(toks)-2),
       |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
       |      ELSE 0 END AS BIGINT) AS n_distinct_grams
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '') AS toks
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Per-document TF-IDF top terms — the classic "what is this document
    * about" weighting, and the keyword-extraction step of a corpus
    * curation pipeline.
    *
    * Scale shape: term frequencies are one map-side-combined groupBy on
    * (doc_id, term); document frequencies derive from that SAME relation
    * (a second tiny groupBy over |vocab|-bounded keys — (doc,term) pairs
    * are already distinct, so `count(*)` IS the document frequency); the
    * df table joins back by term (broadcastable: vocab ≪ corpus). No
    * array ever shuffles and no pass re-reads the corpus.
    *
    * Scoring: the shipped weight is the INTEGER `tf * 1e6 div df` — a
    * df-penalized distinctiveness score, deliberately NOT the classical
    * `tf * ln(N/df)`. The two agree whenever the compared terms have equal
    * tf (the idf factor is monotone in 1/df) but CAN rank differently when
    * tf and df trade off (e.g. tf=10/df=100 vs tf=2/df=2: tf·idf prefers
    * the first, tf/df the second). The integer form is chosen because it
    * is exactly computable in any engine — `ln` is libm-dependent and two
    * engines may round the last ulp differently, which would poison a
    * hash-exact oracle on ranking ties. Ties break lexicographically on
    * term.
    */
  def tfidfTopTerms(
      documents: DataFrame, topK: Int = 5): DataFrame = {
    val tf = documents
      .repartition(col("doc_id")) // single-split parquet → spread the explode
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    tf.join(df, "term")
      .withColumn("score_scaled", expr("(tf * 1000000) div df_docs"))
      .withColumn("rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(col("score_scaled").desc, col("term"))))
      .filter(col("rank") <= topK)
      .select("doc_id", "term", "tf", "df_docs", "score_scaled", "rank")
      .orderBy("doc_id", "rank")
  }

  def tfidfTopTermsSql(topK: Int = 5): String =
    s"""WITH tf AS (
       |  SELECT doc_id, t AS term, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(toks, x -> x <> '')) AS t
       |    FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
       |          FROM documents))
       |  GROUP BY doc_id, t),
       |dfc AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term)
       |SELECT doc_id, term, tf, df_docs, score_scaled, rank FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, dfc.df_docs,
       |    (tf.tf * 1000000) // dfc.df_docs AS score_scaled,
       |    CAST(row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY (tf.tf * 1000000) // dfc.df_docs DESC, tf.term) AS INTEGER)
       |      AS rank
       |  FROM tf JOIN dfc USING (term))
       |WHERE rank <= $topK ORDER BY doc_id, rank""".stripMargin

  /** Top-`vocabSize` word n-grams by document frequency (ties break
    * lexicographically) — the tokenizer-vocabulary build step. `limit`
    * after `orderBy` plans as TakeOrdered: each partition keeps its local
    * top-V and a single reduce merges them, so the full df table never
    * gathers anywhere. Bigrams by default: this corpus's unigram
    * vocabulary is ~31 words (every doc would cover it), bigrams are ~900.
    */
  def ngramVocab(documents: DataFrame, n: Int = 2, vocabSize: Int = 512): DataFrame =
    vocabFrom(gramPostings(documents, n), vocabSize)

  private def vocabFrom(postings: DataFrame, vocabSize: Int): DataFrame =
    postings
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(vocabSize)

  /** (doc_id, gram) postings — distinct n-grams per document, spread off
    * the single parquet split before the kernel + explode.
    */
  private def gramPostings(documents: DataFrame, n: Int): DataFrame =
    documents
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.ShingleSet.shingles(col("text"), n)).as("gram"))

  /** Per-document out-of-vocabulary rate against [[ngramVocab]]: the
    * coverage check run before committing to a tokenizer/LM vocabulary.
    * The vocab is bounded by construction (≤ vocabSize rows), so its join
    * side is explicitly broadcast — the corpus-side postings never
    * shuffle for it; the only exchange is the per-doc count aggregation.
    * Documents too short to produce an n-gram surface with zero counts
    * (not dropped): the downstream filter decision belongs to the caller.
    */
  def vocabOov(documents: DataFrame, n: Int = 2, vocabSize: Int = 512): DataFrame = {
    // ONE shingle+explode pass feeds both the df build and the probe
    // (without the cache the kernel would run over the corpus twice)
    val postings = gramPostings(documents, n).cache()
    val vocab = vocabFrom(postings, vocabSize)
      .select(col("gram")).withColumn("in_vocab", lit(1))
    val perDoc = postings
      .join(broadcast(vocab), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
    graft.util.CacheScope.freeAfterUse(
      documents.select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"))
        .withColumn("oov_rate",
          when(col("n_grams") === 0, 0.0)
            .otherwise(col("n_oov").cast("double") / col("n_grams")))
        .orderBy("doc_id"),
      Seq(postings))
  }

  def vocabOovSql(n: Int = 2, vocabSize: Int = 512): String = {
    val gram = (0 until n).map(i => s"toks[i+$i]").mkString(" || ' ' || ")
    s"""WITH g AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) >= $n
       |      THEN list_distinct(list_transform(generate_series(1, len(toks)-${n - 1}), i -> $gram))
       |      ELSE [] END) AS gram
       |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '') AS toks FROM documents)),
       |dfc AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
       |vocab AS (SELECT gram FROM dfc ORDER BY df DESC, gram LIMIT $vocabSize),
       |per AS (
       |  SELECT g.doc_id, COUNT(*) AS n_grams,
       |    COUNT(CASE WHEN v.gram IS NULL THEN 1 END) AS n_oov
       |  FROM g LEFT JOIN vocab v ON g.gram = v.gram
       |  GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(per.n_grams, 0) AS n_grams,
       |  COALESCE(per.n_oov, 0) AS n_oov,
       |  CASE WHEN COALESCE(per.n_grams, 0) = 0 THEN 0.0
       |       ELSE CAST(per.n_oov AS DOUBLE) / per.n_grams END AS oov_rate
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    * MOSS robust fingerprint): slide a window of w consecutive k-gram
    * hashes over each document and select every window's minimum; the
    * fingerprint set is the union of those minima. Ties break to the
    * smallest position via a position-suffixed sort key, so selection is
    * fully deterministic, and the selected position is recovered FROM the
    * winning key (min is computed once per window start, not once per
    * candidate). Guarantees: ≥1 fingerprint in every w consecutive gram
    * positions (each full window selects its min), expected density 2/(w+1),
    * and any shared token run of ≥ k+w−1 tokens shares ≥1 fingerprint —
    * the candidate-generation property overlap detection builds on.
    * Trailing windows truncate (suffix minima) — harmless extras, mirrored
    * in the oracle.
    *
    * Scale shape: ONE hash shuffle on doc_id shared by the explode and
    * the window (the repartition doubles as the window partitioning);
    * per-row work is k-gram hashing; output ≈ 2/(w+1) of the gram stream.
    */
  def winnowingFingerprints(
      documents: DataFrame, k: Int = 5, w: Int = 4): DataFrame =
    // winnowedCore is already per-doc distinct (the kernel dedupes), and
    // (doc_id, pos) is a key of its output — no distinct exchange needed
    winnowedCore(documents, k, w).orderBy("doc_id", "pos")

  /** The per-document DISTINCT selected fingerprints, one row per
    * (doc_id, pos, fp). The whole winnowing pass — tokenize, positional
    * k-gram md5, sliding-window min, dedup — runs inside the native
    * [[graft.functions.WinnowKeys]] kernel, so only SELECTED fingerprints
    * (~2/(w+1) of the gram stream) ever become rows: no per-gram
    * posexplode, no sort-based window operator, no distinct exchange.
    * The kernel's (digest bytes, pos) sliding minimum is bit-for-bit the
    * declarative `min(md5hex || lpad(pos)) OVER (... ROWS BETWEEN CURRENT
    * ROW AND w-1 FOLLOWING)` the oracle SQL still runs — the equivalence
    * is oracle-checked (q82/q83/q96) and spec-pinned, including empty
    * tokens from non-space whitespace (the fuzz corpus's vtab texts:
    * the kernel's tokenizer skips them like the oracle's list_filter).
    */
  private def winnowedCore(documents: DataFrame, k: Int, w: Int): DataFrame =
    documents
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.WinnowKeys.winnowKeys(col("text"), k, w))
          .as("wmin"))
      .select(col("doc_id"),
        substring(col("wmin"), 33, 10).cast("int").as("pos"),
        substring(col("wmin"), 1, 32).as("fp"))

  def winnowingFingerprintsSql(k: Int = 5, w: Int = 4): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i.i - 1 AS INT) AS pos,
       |    md5(list_aggregate(toks[i.i:i.i+${k - 1}], 'string_agg', ' ')) AS h
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - ${k - 1})) AS i) i
       |  WHERE len(toks) >= $k),
       |m AS (
       |  SELECT doc_id,
       |    MIN(h || lpad(CAST(pos AS VARCHAR), 10, '0')) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin
       |  FROM g)
       |SELECT DISTINCT doc_id, CAST(substr(wmin, 33, 10) AS INT) AS pos,
       |  substr(wmin, 1, 32) AS fp
       |FROM m ORDER BY doc_id, pos""".stripMargin

  /** Per-language corpus profile — the tokenizer-fertility table a
    * dataset card carries (docs, token volume, chars-per-token ratio,
    * subtoken inflation, source breadth per language). All means divide
    * exact integer sums once in double, so even the float columns are
    * hash-exact cross-engine. One map-combined aggregation pass over the
    * native TextStats kernel.
    */
  def languageProfile(documents: DataFrame): DataFrame =
    documents
      .withColumn("_ts", statsCol())
      .withColumn("n_sub",
        regexp_count(lower(col("text")), lit(BpeishPattern)).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("_ts.n_tokens").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        sum("n_sub").as("total_subtokens"),
        countDistinct("source").as("n_sources"))
      .withColumn("mean_doc_tokens",
        col("total_tokens").cast("double") / col("n_docs"))
      .withColumn("chars_per_token",
        col("total_chars").cast("double") / col("total_tokens"))
      .withColumn("subtoken_fertility",
        col("total_subtokens").cast("double") / col("total_tokens"))
      .orderBy("lang")

  def languageProfileSql: String =
    s"""SELECT lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(len(regexp_extract_all(lower(text), '$BpeishPattern'))) AS BIGINT)
       |    AS total_subtokens,
       |  COUNT(DISTINCT source) AS n_sources,
       |  CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS mean_doc_tokens,
       |  CAST(SUM(n_chars) AS DOUBLE) / SUM(len(toks)) AS chars_per_token,
       |  CAST(SUM(len(regexp_extract_all(lower(text), '$BpeishPattern'))) AS DOUBLE)
       |    / SUM(len(toks)) AS subtoken_fertility
       |FROM (SELECT lang, source, n_chars, text,
       |        regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
       |      FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Overlap candidates from the winnowed index (the MOSS detection step):
    * pairs of documents ranked by how many fingerprints they share. This
    * is the q32 posting-join shape run over the ~2/(w+1)-sparsified
    * fingerprint stream — which is exactly winnowing's value at scale: the
    * index (and the Σdf² join exposure) shrinks by the window factor while
    * keeping the shared-run guarantee. A df cap on fingerprints (same
    * rationale as q38's: a fingerprint appearing in more than `maxDf` docs
    * is boilerplate, not signal) bounds the hot-key worst case.
    */
  def winnowingOverlap(
      documents: DataFrame, k: Int = 5, w: Int = 4,
      minShared: Int = 2, maxDf: Int = 100): DataFrame =
    overlapPairs(documents, k, w, minShared, maxDf)
      .orderBy("doc_a", "doc_b")

  /** Shared pair machinery for [[winnowingOverlap]] (q83, the full pair
    * relation — the verifier) and [[winnowingTopPartners]] (q96, the
    * corpus-scale default whose OUTPUT is linear).
    */
  private def overlapPairs(
      documents: DataFrame, k: Int, w: Int,
      minShared: Int, maxDf: Int): DataFrame = {
    // cache: the fingerprint pipeline (tokenize + per-gram md5 + window
    // minima) feeds the hot-df aggregate AND both sides of the posting
    // self-join — without it the expensive pass runs up to three times
    // (same reasoning as minhashNearDups' sh.cache())
    val fps = winnowedCore(documents, k, w)
      .select(col("doc_id"), col("fp")).distinct()
      .cache()
    // broadcast the HOT set, not the rare one: ≤ postings/maxDf
    // fingerprints can exceed the cap (small by construction), while the
    // rare vocabulary grows with the corpus (q38's reasoning)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("fp")
    // cache WITHOUT a pre-partition: the two renamed self-join sides would
    // otherwise EACH pay the anti-join pipeline (toDF renames defeat
    // ReuseExchange — r18). r18 also repartition(fp)'d this relation so the
    // join could read co-located blocks exchange-free, but the driver's
    // r18 bench regressed q83 −54% on that shape and the r19 7-rep A/B
    // (OPTIMIZATION_r19.md #1) confirmed it: the up-front fp exchange at
    // cache build costs more than the two AQE-coalesced post-cache
    // exchanges it replaces (q83 1.73→1.38 s, q96 1.69→1.13 s medians on
    // one host). Pipeline-once is kept; partitioning is left to the join.
    val pruned = fps.join(broadcast(hot), Seq("fp"), "left_anti").cache()
    // intra-query caches freed after the caller's action (r19 §5)
    graft.util.CacheScope.freeAfterUse(
      pruned.toDF("fp", "doc_a")
        .join(pruned.toDF("fp_b", "doc_b"),
          col("fp") === col("fp_b") && col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared_fps"))
        .filter(col("n_shared_fps") >= minShared),
      Seq(fps, pruned))
  }

  /** Per-document top-`m` overlap partners — the corpus-wide DEFAULT form
    * of winnowing overlap. On a clustered corpus the full pair relation
    * (q83) is itself quadratic in cluster size — the pairs ARE the answer
    * there, which is the right verifier but the wrong default output at
    * scale. Ranking partners per document and keeping `m` bounds the
    * output at m·n rows however clustered the corpus is.
    *
    * Plan shape: the pair aggregation is unchanged; each pair then feeds
    * BOTH endpoints' rankings (a two-way projection union, no re-join),
    * and the rank ≤ m filter lowers to WindowGroupLimit — every task keeps
    * an m-bounded heap per doc_id before the single window exchange, so
    * the full pair relation is never sorted or materialized downstream.
    */
  def winnowingTopPartners(
      documents: DataFrame, k: Int = 5, w: Int = 4, m: Int = 3,
      minShared: Int = 2, maxDf: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = overlapPairs(documents, k, w, minShared, maxDf)
    // one generate over the pair relation, not a two-branch union: the
    // union form re-ran the whole posting join + aggregation once per
    // direction (r18, measured as two full pair-stage jobs); exploding a
    // 2-struct array emits the same two directed rows from ONE pass
    val both = pairs
      .select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("partner_id"),
          col("n_shared_fps")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("partner_id"),
          col("n_shared_fps")))).as("r"))
      .select(col("r.*"))
    val rw = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_shared_fps").desc, col("partner_id"))
    both
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= m)
      .orderBy("doc_id", "rank")
  }

  def winnowingTopPartnersSql(
      k: Int = 5, w: Int = 4, m: Int = 3,
      minShared: Int = 2, maxDf: Int = 100): String =
    s"""WITH wfp AS (${winnowingFingerprintsSql(k, w).replace("ORDER BY doc_id, pos", "")}),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= $maxDf),
       |pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_fps
       |  FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minShared),
       |dirs AS (
       |  SELECT doc_a AS doc_id, doc_b AS partner_id, n_shared_fps FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a, n_shared_fps FROM pairs)
       |SELECT doc_id, partner_id, n_shared_fps, CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY n_shared_fps DESC, partner_id) AS rn FROM dirs)
       |WHERE rn <= $m ORDER BY doc_id, rank""".stripMargin

  def winnowingOverlapSql(
      k: Int = 5, w: Int = 4, minShared: Int = 2, maxDf: Int = 100): String =
    s"""WITH wfp AS (${winnowingFingerprintsSql(k, w).replace("ORDER BY doc_id, pos", "")}),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
       |rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= $maxDf),
       |pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_fps
       |FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Benchmark decontamination (the GPT-3/PaLM-report n-gram collision
    * check): flag every training document sharing at least one `n`-gram
    * with the evaluation set, with its overlap count. The eval set here is
    * the `doc_id % 10 == 0` slice of the corpus (stand-in for a benchmark
    * table); real use passes the eval corpus as the filter source.
    *
    * Scale shape: eval sets are SMALL by definition, so the distinct
    * benchmark-gram relation broadcasts and the check is a map-side probe
    * of the training posting stream — one count aggregation, no corpus
    * self-join. 8-grams (the published decontamination widths are 8–13)
    * keep the gram space discriminative; the same
    * [[graft.functions.ShingleSet]] kernel builds both sides.
    */
  def decontaminate(documents: DataFrame, n: Int = 8): DataFrame = {
    // cache: the shingle pass feeds both the bench and train branches —
    // without it each branch re-scans and re-shingles the full corpus
    val sh = documents
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ShingleSet.shingles(col("text"), n).as("grams"))
      .filter(size(col("grams")) > 0)
      .cache()
    val bench = sh.filter(col("doc_id") % 10 === 0)
      .select(explode(col("grams")).as("g")).distinct()
    val train = sh.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("g"))
    graft.util.CacheScope.freeAfterUse(
      train.join(broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_overlapping"))
        .orderBy("doc_id"),
      Seq(sh))
  }

  def decontaminateSql(n: Int = 8): String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(toks)-${n - 1}),
       |      i -> list_aggregate(toks[i:i+${n - 1}], 'string_agg', ' '))) AS grams
       |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '') AS toks FROM documents)
       |  WHERE len(toks) >= $n),
       |bench AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 10 = 0),
       |train AS (SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id % 10 <> 0)
       |SELECT t.doc_id, COUNT(*) AS n_overlapping
       |FROM train t JOIN bench b ON t.g = b.g
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Exact duplicated-substring coverage (the suffix-array dedup measure of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — re-expressed relationally): a token span is
    * duplicated when the `l`-token window starting there occurs more than
    * once corpus-wide (within- OR cross-document, as in the paper). Per
    * document: the union length of all duplicated windows (interval-merge
    * via a running-max window function), the merged span count, and the
    * covered-token fraction — the number a dedup pass reports before
    * cutting spans.
    *
    * Scale shape (vs a literal suffix array, which does not distribute):
    * the positional gram stream is linear in corpus tokens; duplicate
    * detection is ONE count aggregation on the gram hash (map-side partial
    * combine); marking is a shuffle join of the stream against its
    * duplicated subset (both sides hash-partitioned on the gram — no
    * broadcast needed, no quadratic pair enumeration anywhere); the
    * interval merge is a per-doc sort window over only the duplicated
    * starts. Every stage is linear in input plus true duplicate volume.
    */
  def duplicatedSpans(documents: DataFrame, l: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null text coalesces to '' so every document row survives to the
    // output with n_tokens = 0 (both engines agree exactly)
    val base = documents
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        filter(tokens(coalesce(col("text"), lit(""))),
          t => length(t) > 0).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("toks"))
    val grams = base.filter(col("n_tokens") >= l)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - l),
          i => md5(concat_ws(" ", slice(col("toks"), i + lit(1), lit(l))))))
          .as(Seq("pos", "h")))
    // duplicated = total occurrences > 1 (a within-doc repeat is a
    // duplicate too, exactly as in the paper's self-match definition)
    val dupGrams = grams.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1).select("h")
    val starts = grams.join(dupGrams, "h").select("doc_id", "pos")
    // interval union: each start covers [pos, pos+l); a start's fresh
    // contribution is its end minus the running max end of earlier starts
    val prevEnd = max(col("pos") + l).over(
      Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1))
    val perDoc = starts
      .withColumn("prev_end", prevEnd)
      .withColumn("fresh",
        greatest(lit(0L),
          col("pos") + l - greatest(coalesce(col("prev_end"), col("pos")),
            col("pos"))))
      .withColumn("span_start",
        (col("prev_end").isNull || col("pos") >= col("prev_end"))
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum("fresh").as("dup_tokens"), sum("span_start").as("n_spans"))
    base.select("doc_id", "n_tokens")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L))).as("dup_fraction"))
      .orderBy("doc_id")
  }

  def duplicatedSpansSql(l: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(COALESCE(text, ''))), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
       |g AS (
       |  SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos,
       |    md5(list_aggregate(toks[i.i:i.i+${l - 1}], 'string_agg', ' ')) AS h
       |  FROM b, LATERAL (SELECT unnest(generate_series(1, len(toks) - ${l - 1})) AS i) i
       |  WHERE n_tokens >= $l),
       |d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
       |s AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (h)),
       |c AS (
       |  SELECT doc_id, pos,
       |    MAX(pos + $l) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM s),
       |a AS (
       |  SELECT doc_id,
       |    SUM(GREATEST(0, pos + $l - GREATEST(COALESCE(prev_end, pos), pos))) AS dup_tokens,
       |    SUM(CASE WHEN prev_end IS NULL OR pos >= prev_end THEN 1 ELSE 0 END) AS n_spans
       |  FROM c GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_dup_spans,
       |  CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / GREATEST(b.n_tokens, 1)
       |    AS dup_fraction
       |FROM b LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Cross-document duplicated-span EXCISION — the actionable half of
    * [[duplicatedSpans]] (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": remove repeated substrings, keep one
    * occurrence): every l-gram span whose CANONICAL (smallest-doc_id)
    * occurrence lives in another document is cut from the token stream;
    * the canonical document keeps its text, so each cross-doc duplicated
    * substring survives exactly once corpus-wide. Within-doc repeats stay
    * (they are the canonical holder's own content — [[duplicatedSpans]]
    * still reports them; cutting them would be a different, destructive
    * contract). Output per document: token count, removed-token count,
    * and `clean_text` — the normalized reconstruction from kept tokens.
    *
    * Scale shape: one gram pass (corpus-linear), a vocabulary-keyed
    * min-doc aggregation, covered-position explode bounded by l·(excised
    * starts), and one per-doc reconstruction aggregation — no pair
    * relation, no quadratic term anywhere; the heaviest shuffle is the
    * (doc, position) anti-join, linear in corpus tokens.
    */
  def exciseDuplicatedSpans(documents: DataFrame, l: Int = 8): DataFrame = {
    val base = documents
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        filter(tokens(coalesce(col("text"), lit(""))),
          t => length(t) > 0).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("toks"))
      .cache()
    val grams = base.filter(col("n_tokens") >= l)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - l),
          i => md5(concat_ws(" ", slice(col("toks"), i + lit(1), lit(l))))))
          .as(Seq("pos", "h")))
    val canon = grams.groupBy("h").agg(min("doc_id").as("min_doc"))
    val excised = grams.join(canon, "h")
      .filter(col("doc_id") > col("min_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos").cast("long"),
          col("pos").cast("long") + (l - 1))).as("i"))
      .distinct()
    val toksPos = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("i"), col("tok"))
    val kept = toksPos.join(excised, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        sort_array(collect_list(struct(col("i"), col("tok")))).as("ks"))
      .select(col("doc_id"), col("kept_tokens"),
        concat_ws(" ", transform(col("ks"), s => s.getField("tok")))
          .as("clean_text"))
    graft.util.CacheScope.freeAfterUse(
      base.select("doc_id", "n_tokens")
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
            .as("removed_tokens"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id"),
      Seq(base))
  }

  def exciseDuplicatedSpansSql(l: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(COALESCE(text, ''))), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
       |g AS (
       |  SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos,
       |    md5(list_aggregate(toks[i.i:i.i+${l - 1}], 'string_agg', ' ')) AS h
       |  FROM b, LATERAL (SELECT unnest(generate_series(1, len(toks) - ${l - 1})) AS i) i
       |  WHERE n_tokens >= $l),
       |canon AS (SELECT h, MIN(doc_id) AS min_doc FROM g GROUP BY h),
       |ex AS (
       |  SELECT DISTINCT g.doc_id, CAST(u.i AS BIGINT) AS i
       |  FROM g JOIN canon USING (h),
       |    LATERAL (SELECT unnest(generate_series(g.pos, g.pos + ${l - 1})) AS i) u
       |  WHERE g.doc_id > canon.min_doc),
       |tp AS (
       |  SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS i, toks[i.i] AS tok
       |  FROM b, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) i),
       |kept AS (
       |  SELECT tp.doc_id, COUNT(*) AS kept_tokens,
       |    string_agg(tp.tok, ' ' ORDER BY tp.i) AS clean_text
       |  FROM tp LEFT JOIN ex ON tp.doc_id = ex.doc_id AND tp.i = ex.i
       |  WHERE ex.i IS NULL
       |  GROUP BY tp.doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |  CAST(b.n_tokens - COALESCE(k.kept_tokens, 0) AS BIGINT) AS removed_tokens,
       |  COALESCE(k.clean_text, '') AS clean_text
       |FROM b LEFT JOIN kept k USING (doc_id) ORDER BY b.doc_id""".stripMargin

  /** Hashed-bigram language-model quality score (the CCNet-style LM filter,
    * Wenzek et al. 2020, arXiv:1911.00359 — here the LM is trained on the
    * corpus itself in the same pass): add-one-smoothed bigram probabilities
    * P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), scored per document as the mean
    * INVERSE probability over its bigram positions. The inverse-probability
    * mean (an upper bound on perplexity, by AM ≥ GM over 1/p) is chosen
    * over mean log-prob deliberately: every term is one exact integer
    * division — (c(w1)+V)/(c(w1,w2)+1) — so the score is bit-reproducible
    * across engines, whereas ln/exp are NOT IEEE-exactness-guaranteed
    * (measured: JVM `Math.log` and DuckDB `ln` disagree by 1 ulp on ~1 in
    * 10⁴ rational inputs). The per-doc sum is an ORDERED left fold over the
    * position-sorted term array (Spark `aggregate` HOF ≡ DuckDB
    * `list_reduce`), so float addition order is pinned, not engine-chosen.
    *
    * Scale shape: unigram and bigram counts are two map-combined
    * aggregations (vocab-sized results); scoring joins the positional
    * bigram stream to the count relations by key — hash-partitioned
    * shuffle joins, linear in corpus tokens; the fold is per-row work over
    * doc-bounded arrays. Nothing is quadratic; nothing collects to the
    * driver but the scalar vocabulary size (one count, same as q50's).
    */
  def lmQualityScore(documents: DataFrame): DataFrame = {
    val toks = documents
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        filter(tokens(col("text")), t => length(t) > 0).as("toks"))
      .cache() // feeds vocab, unigram, bigram AND the scoring stream
    // cache: vocab-sized (model-sized, safe at any corpus scale) and read
    // twice — once by the V count action, once by the scoring join; without
    // it the full unigram aggregation pass runs again for the join (r18)
    val unis = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
      .cache()
    val vocabSize = unis.count() // scalar V, driver-side by design
    val bigrams = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + lit(1)).as("w1"),
            element_at(col("toks"), i + lit(2)).as("w2"))))
          .as(Seq("pos", "bg")))
      .select(col("doc_id"), col("pos"), col("bg.w1"), col("bg.w2"))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val scored = bigrams
      .join(c2, Seq("w1", "w2"))
      .join(unis.withColumnRenamed("w", "w1"), Seq("w1"))
      .withColumn("inv_p",
        (col("c1") + lit(vocabSize)).cast("double") / (col("c2") + 1L))
    graft.util.CacheScope.freeAfterUse(
      scored
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("inv_p"))))
          .as("terms"), count(lit(1)).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          (aggregate(col("terms"), lit(0.0d),
            (acc, x) => acc + x.getField("inv_p")) / col("n_bigrams"))
            .as("mean_inv_prob"))
        .orderBy("doc_id"),
      Seq(toks, unis))
  }

  def lmQualityScoreSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |v AS (SELECT COUNT(DISTINCT w.w) AS vocab
       |      FROM t, LATERAL (SELECT unnest(toks) AS w) w),
       |u AS (SELECT w.w AS w, COUNT(*) AS c1
       |      FROM t, LATERAL (SELECT unnest(toks) AS w) w GROUP BY 1),
       |bg AS (
       |  SELECT doc_id, CAST(i.i - 1 AS INT) AS pos,
       |    toks[i.i] AS w1, toks[i.i + 1] AS w2
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) i
       |  WHERE len(toks) >= 2),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
       |sc AS (
       |  SELECT bg.doc_id, bg.pos,
       |    CAST(u.c1 + v.vocab AS DOUBLE) / (c2.c2 + 1) AS inv_p
       |  FROM bg JOIN c2 USING (w1, w2) JOIN u ON bg.w1 = u.w CROSS JOIN v)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  list_reduce(list(inv_p ORDER BY pos), (a, b) -> a + b) / COUNT(*)
       |    AS mean_inv_prob
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Default k cut points for [[vocabCoverage]]. */
  val CoverageKs: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L)

  /** Vocabulary coverage curve — the dataset-card table answering "what
    * fraction of the corpus's token volume do the top-k word types
    * cover?": one row per cut point k with the covered token count and
    * coverage fraction. Words rank by occurrence count descending; a cut
    * landing INSIDE a tie class takes `(k − types_above)` of its members,
    * which is well-defined without naming them — so the result needs no
    * word-level tie-break at all.
    *
    * Scale shape: the corpus reduces to the DISTINCT-COUNT histogram
    * (one map-combined aggregation to word counts, one to the histogram —
    * histogram size ≪ vocabulary ≪ corpus), which collects to the driver
    * where the cumulative walk is trivial: no global vocabulary sort, no
    * single-partition window, ever. Same pattern as the df-cap
    * derivation.
    */
  def vocabCoverage(
      documents: DataFrame, ks: Seq[Long] = CoverageKs): DataFrame = {
    val spark = documents.sparkSession
    val hist = documents
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .groupBy("cnt").agg(count(lit(1)).as("n_types"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    val totToks = hist.map { case (c, n) => c * n }.sum
    val totTypes = hist.map(_._2).sum
    val rows = ks.sorted.map { k =>
      if (k >= totTypes) (k, totToks)
      else {
        var typesBefore = 0L
        var toksBefore = 0L
        var covered = 0L
        var found = false
        for ((cnt, nTypes) <- hist if !found) {
          if (k <= typesBefore + nTypes) {
            covered = toksBefore + (k - typesBefore) * cnt
            found = true
          } else {
            typesBefore += nTypes
            toksBefore += cnt * nTypes
          }
        }
        (k, covered)
      }
    }
    import spark.implicits._
    rows.map { case (k, cov) =>
      (k, cov, cov.toDouble / totToks)
    }.toDF("k", "covered_tokens", "coverage").orderBy("k")
  }

  def vocabCoverageSql(ks: Seq[Long] = CoverageKs): String = {
    val kList = ks.sorted.mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
       |  FROM documents),
       |wcnt AS (SELECT w.w AS w, COUNT(*) AS cnt
       |         FROM t, LATERAL (SELECT unnest(toks) AS w) w GROUP BY 1),
       |hist AS (SELECT cnt, COUNT(*) AS n_types FROM wcnt GROUP BY cnt),
       |c AS (
       |  SELECT cnt, n_types,
       |    COALESCE(SUM(n_types) OVER (ORDER BY cnt DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS types_before,
       |    COALESCE(SUM(cnt * n_types) OVER (ORDER BY cnt DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS toks_before
       |  FROM hist),
       |tot AS (SELECT SUM(cnt * n_types) AS t_toks, SUM(n_types) AS t_types FROM hist),
       |ks AS (SELECT unnest($kList) AS k)
       |SELECT CAST(k AS BIGINT) AS k,
       |  CAST(CASE WHEN k >= t_types THEN t_toks
       |       ELSE (SELECT toks_before + (k - types_before) * cnt FROM c
       |             WHERE types_before < k AND k <= types_before + n_types)
       |       END AS BIGINT) AS covered_tokens,
       |  CAST(CASE WHEN k >= t_types THEN t_toks
       |       ELSE (SELECT toks_before + (k - types_before) * cnt FROM c
       |             WHERE types_before < k AND k <= types_before + n_types)
       |       END AS DOUBLE) / t_toks AS coverage
       |FROM ks, tot ORDER BY k""".stripMargin
  }
}
