package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich, Haddow, Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * arXiv:1508.07909 — the GPT/Llama-family tokenizer recipe): start from
  * characters, repeatedly count adjacent symbol pairs over the
  * frequency-weighted word vocabulary, merge the most frequent pair
  * everywhere (greedy leftmost, non-overlapping), and record the merge.
  * The learned MERGE TABLE is the model a tokenizer ships; it is what the
  * oracle hash-checks — cross-engine-identical merges, not just "some
  * merges happened".
  *
  * Determinism: pair counts are exact integer sums; the winning pair
  * breaks ties by (pair_count DESC, p1 ASC, p2 ASC) over ASCII-only
  * symbols (binary collation agrees across engines); merge application is
  * a sequential left fold per word (Spark `aggregate` HOF ≡ DuckDB
  * `list_reduce` over wrapped symbols), which IS the greedy
  * leftmost-non-overlap scan: after a merge the new tail symbol is the
  * merged token, which can never equal the pair's left element again.
  * Words are restricted to `^[a-z0-9]+$` so character segmentation never
  * meets the UTF-16-vs-codepoint substring divergence.
  *
  * Scale shape — the industrial distributed-BPE layout: ONE pass over the
  * corpus builds the frequency-weighted word vocabulary (a hash
  * aggregation; the 100-TB token stream is never revisited), and every
  * iteration after that runs on vocab-sized relations: pair counting is a
  * map-combined aggregation over per-word symbol zips, the argmax
  * collects ONE row (the learned parameter — the same driver sync as
  * Lloyd's), and merge application is a per-row fold. Iteration cost is
  * independent of corpus size.
  */
object BPE {
  val Merges = 6

  private def wordChars(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => substring(w, i, lit(1)))

  /** Frequency-weighted word vocabulary with initial character symbols. */
  private def vocab(documents: DataFrame): DataFrame =
    documents
      .repartition(col("doc_id"))
      .select(explode(filter(
        graft.functions.TextFunctions.tokens(col("text")),
        t => t.rlike("^[a-z0-9]+$"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", wordChars(col("word")))

  private def pairCounts(v: DataFrame): DataFrame =
    // single-symbol words first: Spark's sequence(1, 0) counts DOWN
    v.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("p1"),
          element_at(col("syms"), i + 1).as("p2")))).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum("freq").as("pair_count"))

  /** Greedy leftmost non-overlapping application of one merge. */
  private def applyMerge(syms: Column, p1: String, p2: String): Column =
    aggregate(syms, typedLit(Seq.empty[String]), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === p1 && x === p2,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(p1 + p2))))
        .otherwise(concat(acc, array(x))))

  /** `exists i: syms[i] = p1 ∧ syms[i+1] = p2` — the words whose symbol
    * sequence [[applyMerge]] would change. Guarded on size ≥ 2 because
    * Spark's `sequence(1, 0)` counts DOWN (and index 0 is illegal).
    */
  private def containsPair(syms: Column, p1: String, p2: String): Column =
    size(syms) >= 2 && exists(
      sequence(lit(1), size(syms) - 1),
      i => element_at(syms, i) === p1 && element_at(syms, i + 1) === p2)

  /** The incremental BPE trainer: pair counts are MAINTAINED, not
    * recounted. Only words containing the just-merged pair adjacently
    * change under [[applyMerge]], so each iteration (the standard
    * incremental-BPE optimization):
    *  - subtracts the affected words' old pair contributions and adds
    *    their re-merged ones (exact integer deltas — the maintained
    *    relation equals a full recount bit-for-bit, which q93/q94's
    *    full-recount oracles verify);
    *  - rewrites the vocabulary as unaffected ∪ re-merged (a narrow
    *    filter + union; the explode/shuffle pair-count work touches
    *    ONLY the affected words, whose number shrinks as the
    *    vocabulary converges — late-stage merges touch a handful of
    *    words instead of the whole vocab).
    * Per-iteration retention is one vocab + one counts checkpoint; the
    * previous iteration's blocks are released explicitly.
    *
    * Returns (merge table, final vocabulary) so appliers reuse the
    * already-merged vocabulary relation instead of retraining
    * ([[bpeTokenize]]). Callers that don't consume the vocabulary must
    * [[graft.util.CacheScope.release]] it.
    */
  private[ops] def trainBpe(
      documents: DataFrame,
      merges: Int,
      trainCap: Int = 0): (Seq[(Int, String, String, Long)], DataFrame) = {
    // trainCap > 0: bounded-sample training — merge statistics come from
    // the `trainCap` most frequent word types (deterministic tie-break on
    // the word itself), the standard vocabulary cut for corpus-scale BPE:
    // pair counts are dominated by frequent words, the long tail
    // contributes noise, and the cap makes per-merge cost independent of
    // corpus size (the k-means recipe — see KMeans.TrainCap).
    // TakeOrderedAndProject bounds the cut; repartition spreads the kept
    // words before the iteration loop. Default 0 trains on the full
    // vocabulary — the oracle-mirrored q93/q94 behavior.
    val full = vocab(documents)
    val seed =
      if (trainCap > 0)
        full.orderBy(col("freq").desc, col("word")).limit(trainCap)
          .repartition(col("word"))
      else full
    var v = seed.localCheckpoint()
    // each merge below rewrites the vocab as unaffected ∪ re-merged — a
    // UNION whose partition count is the SUM of both branches', i.e. the
    // checkpointed partition count DOUBLED per iteration (r19: measured
    // 2→64 blocks over q93's 6 merges; 2^merges asymptotically — pure
    // scheduler poison at depth). Coalesce (narrow, no shuffle, no row
    // movement across the aggregation-only consumers) back to the seed's
    // width before every checkpoint.
    val vParts = math.max(1, v.rdd.getNumPartitions)
    // counts stays a LAZY checkpoint (r18): each iteration's argmax
    // (orderBy/limit/collect) is a full-evaluation action, so it is also
    // the job that materializes the maintained counts — the former eager
    // checkpoint paid one extra job per merge for the same blocks. The
    // checkpoint is declared right before that argmax, so the loop never
    // leaves a declared-but-unmaterialized checkpoint behind (release
    // cannot free one: a later action could still need it). The parents
    // a lazy counts still reads (previous v + counts blocks) are freed one
    // generation LATE (prevFree) so materialization never races a release.
    var countsPlan = pairCounts(v)
    var prevFree: Seq[DataFrame] = Nil
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val counts = countsPlan.localCheckpoint(false)
      val best = counts
        .orderBy(col("pair_count").desc, col("p1"), col("p2"))
        .limit(1).collect()
      // counts is materialized now — its parents' blocks are dead
      prevFree.foreach(graft.util.CacheScope.release)
      prevFree = Seq(counts)
      if (best.isEmpty) exhausted = true // single-symbol vocab: no pairs left
      else {
        val (p1, p2, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        learned += ((step, p1, p2, n))
        val hit = containsPair(col("syms"), p1, p2)
        val affected = v.filter(hit)
        val merged = affected.withColumn("syms", applyMerge(col("syms"), p1, p2))
        val nextV = v.filter(!hit).union(merged).coalesce(vParts)
          .localCheckpoint()
        val delta = pairCounts(merged).union(
          pairCounts(affected).select(col("p1"), col("p2"),
            (-col("pair_count")).as("pair_count")))
        countsPlan = counts.union(delta)
          .groupBy("p1", "p2").agg(sum("pair_count").as("pair_count"))
          .filter(col("pair_count") > 0)
        // BOTH old blocks are parents of the next counts (counts via the
        // union, v via delta's affected/merged subtrees), so their
        // release waits for the next argmax to materialize it
        prevFree = Seq(counts, v)
        v = nextV
      }
      step += 1
    }
    // the learned table is driver-side
    prevFree.foreach(graft.util.CacheScope.release)
    (learned.toSeq, v)
  }

  /** Train `merges` BPE merges; returns the learned merge table
    * (step, p1, p2, pair_count), one row per performed merge.
    */
  def bpeMerges(
      documents: DataFrame, merges: Int = Merges, trainCap: Int = 0): DataFrame = {
    val spark = documents.sparkSession
    val (learned, finalVocab) = trainBpe(documents, merges, trainCap)
    graft.util.CacheScope.release(finalVocab) // merge table is driver-side already
    spark.createDataFrame(learned)
      .toDF("step", "p1", "p2", "pair_count")
      .orderBy("step")
  }

  /** Driver-local trainer over the capped vocabulary — the corpus-scale
    * vocabulary-build path. One distributed pass builds the
    * frequency-weighted word vocab and takes the `trainCap` most frequent
    * types (identical seed to `bpeMerges(trainCap = n)`); the merge loop
    * then runs in driver memory, because a few thousand (word, freq, syms)
    * rows fit trivially and the distributed loop's floor is NOT data
    * volume but ~3 job schedules + fresh codegen per sequential merge
    * (measured on the 10× ScaleProbe corpus: 256 capped merges ran >15 min
    * distributed vs 13.5 s here — SURVEY §8 round 8). Semantics are pinned to the
    * distributed trainer by spec: same exact-integer pair counts (every
    * adjacent occurrence, frequency-weighted), same (count DESC, p1, p2)
    * tie-break, same greedy leftmost non-overlapping application.
    */
  def bpeMergesLocal(
      documents: DataFrame, merges: Int = Merges,
      trainCap: Int = 4096): DataFrame = {
    val spark = documents.sparkSession
    // trainCap <= 0 mirrors bpeMerges: train on the FULL vocabulary (the
    // oracle-exact regime — merge table equals the distributed trainer's on
    // any corpus). A literal limit(0) here would silently train on nothing.
    val capped = {
      val v = vocab(documents).orderBy(col("freq").desc, col("word"))
      if (trainCap > 0) v.limit(trainCap) else v
    }
    val seed: Array[(String, Long)] = capped
      .select("word", "freq")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // INCREMENTAL trainer (r13, VERDICT r12 #6 — production tokenizers
    // train 32k+ merges; the old full-recount loop re-counted every pair
    // of every word per step, O(merges · Σlen), minutes at 256 merges on
    // big vocabularies and hopeless at 32k). The classic BPE recipe:
    //   - pair → count map maintained by per-WORD deltas (only words
    //     actually containing the winning pair are touched, and a step's
    //     cost shrinks as the vocabulary converges);
    //   - pair → word-occurrence index (append-only, stale-tolerant:
    //     entries are validated against the live word at use time);
    //   - winner selection via a lazy-deletion priority heap ordered by
    //     (count DESC, p1 ASC, p2 ASC) — stale entries (count changed
    //     since push) are popped and skipped, so selection matches the
    //     naive argmin bit for bit, including tie-breaks.
    // Semantics are UNCHANGED from the full-recount form (same counts,
    // same winner order, same greedy leftmost application) — pinned by
    // the merge-for-merge spec against the distributed trainer and the
    // prefix-stability spec.
    spark.createDataFrame(localTrainCore(seed, merges))
      .toDF("step", "p1", "p2", "pair_count")
      .orderBy("step")
  }

  /** The driver-local incremental trainer core ([[bpeMergesLocal]]'s
    * merge loop, shared with [[bpeDeepMerges]]): seed = (word, freq)
    * rows; returns the learned merge table.
    */
  private def localTrainCore(
      seed: Array[(String, Long)], merges: Int): Seq[(Int, String, String, Long)] = {
    val words: Array[Array[String]] =
      seed.map { case (w, _) => w.map(_.toString).toArray }
    val freqs: Array[Long] = seed.map(_._2)
    val counts = new java.util.HashMap[(String, String), Long]()
    val occ = new java.util.HashMap[(String, String),
      scala.collection.mutable.ArrayBuffer[Int]]()
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      math.max(64, seed.length),
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1) // count DESC
          if (c != 0) c
          else {
            val a = x._2.compareTo(y._2) // then p1 ASC
            if (a != 0) a else x._3.compareTo(y._3) // then p2 ASC
          }
        }
      })
    val touched = new java.util.HashSet[(String, String)]()
    def bump(p: (String, String), delta: Long, wi: Int): Unit = {
      val nv = counts.getOrDefault(p, 0L) + delta
      if (nv == 0L) counts.remove(p) else counts.put(p, nv)
      if (delta > 0) {
        var buf = occ.get(p)
        if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty[Int]; occ.put(p, buf) }
        if (buf.isEmpty || buf.last != wi) buf += wi
      }
      touched.add(p)
      ()
    }
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        bump((syms(i), syms(i + 1)), freqs(wi), wi); i += 1
      }
      wi += 1
    }
    touched.forEach { p =>
      val c = counts.getOrDefault(p, 0L)
      if (c > 0) { heap.add((c, p._1, p._2)); () }
    }
    touched.clear()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // pop until a LIVE entry (its count still matches the map)
      var best: (Long, String, String) = null
      while (best == null && !heap.isEmpty) {
        val e = heap.poll()
        if (counts.getOrDefault((e._2, e._3), 0L) == e._1) best = e
      }
      if (best == null) exhausted = true
      else {
        val (n, p1, p2) = best
        learned += ((step, p1, p2, n))
        val affected = occ.remove((p1, p2))
        if (affected != null) {
          val seen = new java.util.HashSet[Integer]()
          affected.foreach { w =>
            if (seen.add(w)) {
              val syms = words(w)
              // greedy leftmost application, identical to the recount form
              var changed = false
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < syms.length) {
                if (out.nonEmpty && out.last == p1 && syms(i) == p2) {
                  out(out.length - 1) = p1 + p2; changed = true
                } else out += syms(i)
                i += 1
              }
              if (changed) {
                var j = 0
                while (j < syms.length - 1) {
                  bump((syms(j), syms(j + 1)), -freqs(w), -1); j += 1
                }
                val ns = out.toArray
                words(w) = ns
                j = 0
                while (j < ns.length - 1) {
                  bump((ns(j), ns(j + 1)), freqs(w), w); j += 1
                }
              }
            }
          }
        }
        touched.forEach { p =>
          val c = counts.getOrDefault(p, 0L)
          if (c > 0) { heap.add((c, p._1, p._2)); () }
        }
        touched.clear()
      }
      step += 1
    }
    learned.toSeq
  }

  /** PRODUCTION-DEPTH oracle point (r14, VERDICT r13 #6): q93/q97 verify
    * a 6-merge table, and the 32k-merge capability was probe-only on a
    * synthetic corpus outside the oracle's reach — because the testdata
    * vocabulary is 31 words and exhausts at ~130 merges. This query
    * derives a RICH vocabulary from the same documents table ON BOTH
    * ENGINES (word' = md5(word ':' doc_id mod 50) — hex words over a
    * 16-symbol alphabet, deterministic and engine-identical since both
    * md5()s emit lowercase hex), caps it to the `cap` most frequent
    * types (freq DESC, word — the bpeMergesLocal trainCap rule), and
    * trains [[DeepMerges]] merges with the incremental trainer. The
    * oracle unrolls the same merges as MATERIALIZED CTE steps (the
    * starLabelCtesSql lesson: without materialization the inlining
    * planner re-expands the chain), with the step union CHUNKED 64 ways
    * so the flat UNION ALL stays inside DuckDB's expression-depth limit.
    *
    * WHY 256 AND NOT 512 (the DuckDB limit, measured): the unrolled
    * chain costs the binder ~3 depth units per merge step (p/b/w CTE
    * hops), so DuckDB 1.0.0's default `max_expression_depth` of 1000
    * trips between 256 (binds + runs: 112 s at sf0.01/cap 1024) and 320
    * ("Max expression depth limit of 1000 exceeded", after a 150 s
    * bind — the bind cost itself is superlinear in chain length).
    * Raising the limit needs a `SET` statement the single-statement
    * cross-engine compare contract cannot assume, so 256 is the deepest
    * power-of-two oracle point DuckDB's defaults admit — a 42×
    * deepening over the previous 6-merge point. Coverage BEYOND the
    * oracle's reach is the deep-prefix spec (BPESpec): the trainer's
    * 512-merge table equals this 256-merge table on its prefix
    * (incremental BPE never revises a committed merge), so the
    * oracle-checked 256 pins the same code path deeper runs execute.
    */
  val DeepMerges = 256
  val DeepVocabCap = 1024

  /** The derived hex vocabulary both engines build identically. */
  private def deepVocab(documents: DataFrame, cap: Int): DataFrame =
    documents
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(filter(
        graft.functions.TextFunctions.tokens(col("text")),
        t => t.rlike("^[a-z0-9]+$"))).as("word"))
      .select(md5(concat_ws(":", col("word"),
        (col("doc_id") % 50).cast("string"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(cap)

  def bpeDeepMerges(
      documents: DataFrame, merges: Int = DeepMerges,
      cap: Int = DeepVocabCap): DataFrame = {
    val spark = documents.sparkSession
    val seed: Array[(String, Long)] = deepVocab(documents, cap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    spark.createDataFrame(localTrainCore(seed, merges))
      .toDF("step", "p1", "p2", "pair_count")
      .orderBy("step")
  }

  /** The shared WITH-body: w0 (char-segmented weighted vocab) through
    * w`merges` (vocab after every learned merge), with per-step pair
    * counts p`i` and winners b`i` — both the merge-table query and the
    * tokenize query compose over this chain.
    */
  private def applySql(b: String) =
    s"""list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
       |  CASE WHEN len(acc) > 0 AND acc[-1] = $b.p1 AND x[1] = $b.p2
       |       THEN list_concat(acc[1:len(acc)-1], [$b.p1 || $b.p2])
       |       ELSE list_concat(acc, x) END)""".stripMargin

  private def pairsSql(v: String) =
    s"""SELECT p.pp[1] AS p1, p.pp[2] AS p2,
       |  CAST(SUM(freq) AS BIGINT) AS pair_count
       |FROM $v, LATERAL (
       |  SELECT unnest(list_transform(generate_series(1, len(syms)-1),
       |    i -> [syms[i], syms[i+1]])) AS pp) p
       |WHERE len(syms) >= 2 GROUP BY 1, 2""".stripMargin

  def bpeCtesSql(merges: Int = Merges): String = {
    val iters = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      // LEFT JOIN keeps the vocabulary alive when no pairs remain (the
      // merge lambda sees NULL p1/p2 → always ELSE → identity), matching
      // the engine's early-exhaustion no-op
      s"""p$i AS (${pairsSql(prev)}),
         |b$i AS (SELECT p1, p2, pair_count FROM p$i
         |        ORDER BY pair_count DESC, p1, p2 LIMIT 1),
         |w$i AS (SELECT word, freq, ${applySql(s"b$i")} AS syms
         |        FROM $prev LEFT JOIN b$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT word, COUNT(*) AS freq,
       |    list_transform(generate_series(1, len(word)),
       |      i -> word[i:i]) AS syms
       |  FROM (
       |    SELECT w.w AS word
       |    FROM (SELECT list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'),
       |            t -> regexp_matches(t, '^[a-z0-9]+$$')) AS toks
       |          FROM documents) t,
       |    LATERAL (SELECT unnest(toks) AS w) w)
       |  GROUP BY word),
       |$iters""".stripMargin
  }

  def bpeMergesSql(merges: Int = Merges): String = {
    val unions = (1 to merges)
      .map(i => s"SELECT $i AS step, p1, p2, pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtesSql(merges)}
       |SELECT CAST(step AS INTEGER) AS step, p1, p2, pair_count
       |FROM ($unions) ORDER BY step""".stripMargin
  }

  /** Tokenize the corpus with the learned merges — the train → apply
    * loop a tokenizer deployment runs. Per document: eligible (ASCII)
    * word count, BPE subtoken count, and fertility (subtokens per word —
    * the dataset-card number q84 approximates with a regex, now computed
    * against a REAL learned tokenizer). Applying the tokenizer is a JOIN
    * against the final vocabulary relation (word → merged symbols): the
    * corpus token stream never re-runs the merge fold, so scoring cost is
    * one linear join however many merges were trained.
    */
  def bpeTokenize(documents: DataFrame, merges: Int = Merges): DataFrame = {
    // the trainer already materialized the fully-merged vocabulary —
    // reuse it instead of re-running every merge over a fresh vocab (its
    // checkpoint blocks back this query's plan, released by the
    // ContextCleaner when the result is dropped)
    val (_, trainedVocab) = trainBpe(documents, merges)
    val finalVocab = trainedVocab
      .select(col("word"), size(col("syms")).cast("long").as("ns"))
    val words = documents
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(filter(
        graft.functions.TextFunctions.tokens(col("text")),
        t => t.rlike("^[a-z0-9]+$"))).as("word"))
    val perDoc = words.join(finalVocab, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("ns").as("n_subtokens"))
    documents.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subtokens"), lit(0L)).as("n_subtokens"),
        (coalesce(col("n_subtokens"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_words"), lit(0L)), lit(1L)))
          .as("bpe_fertility"))
      .orderBy("doc_id")
  }

  def bpeTokenizeSql(merges: Int = Merges): String =
    s"""WITH ${bpeCtesSql(merges)},
       |d AS (
       |  SELECT doc_id, w.w AS word
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'),
       |            t -> regexp_matches(t, '^[a-z0-9]+$$')) AS toks
       |        FROM documents) t,
       |  LATERAL (SELECT unnest(toks) AS w) w),
       |pd AS (
       |  SELECT d.doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(len(v.syms)) AS BIGINT) AS n_subtokens
       |  FROM d JOIN w$merges v ON d.word = v.word
       |  GROUP BY d.doc_id)
       |SELECT doc.doc_id,
       |  CAST(COALESCE(pd.n_words, 0) AS BIGINT) AS n_words,
       |  COALESCE(pd.n_subtokens, 0) AS n_subtokens,
       |  CAST(COALESCE(pd.n_subtokens, 0) AS DOUBLE)
       |    / GREATEST(COALESCE(pd.n_words, 0), 1) AS bpe_fertility
       |FROM (SELECT doc_id FROM documents) doc
       |LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Oracle for [[bpeDeepMerges]]: the derived hex vocabulary, `merges`
    * unrolled merge steps — each step MATERIALIZED (p`i`/b`i`/w`i`
    * reference their predecessors more than once, and DuckDB's inlining
    * planner would otherwise re-expand the chain exponentially, the
    * same lesson as NearDup.starLabelCtesSql) — and the merge-table
    * union CHUNKED 64 ways so the parse tree stays inside DuckDB's
    * expression-depth limit (a flat 512-way UNION ALL exceeds it).
    */
  def bpeDeepMergesSql(
      merges: Int = DeepMerges, cap: Int = DeepVocabCap): String = {
    val iters = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (${pairsSql(prev)}),
         |b$i AS MATERIALIZED (SELECT p1, p2, pair_count FROM p$i
         |        ORDER BY pair_count DESC, p1, p2 LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, freq, ${applySql(s"b$i")} AS syms
         |        FROM $prev LEFT JOIN b$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    val w0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    list_transform(generate_series(1, len(word)), i -> word[i:i]) AS syms
         |  FROM (
         |    SELECT word, COUNT(*) AS freq FROM (
         |      SELECT md5(w.w || ':' || CAST(t.doc_id % 50 AS VARCHAR)) AS word
         |      FROM (SELECT doc_id,
         |              list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'),
         |                t -> regexp_matches(t, '^[a-z0-9]+$$')) AS toks
         |            FROM documents) t,
         |      LATERAL (SELECT unnest(toks) AS w) w)
         |    GROUP BY word ORDER BY freq DESC, word LIMIT $cap))""".stripMargin
    val chunks = (1 to merges).grouped(64).map { g =>
      val u = g.map(i => s"SELECT $i AS step, p1, p2, pair_count FROM b$i")
        .mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$u)"
    }.mkString("\nUNION ALL\n")
    s"""WITH $w0,
       |$iters
       |SELECT CAST(step AS INTEGER) AS step, p1, p2, pair_count
       |FROM ($chunks) ORDER BY step""".stripMargin
  }
}
