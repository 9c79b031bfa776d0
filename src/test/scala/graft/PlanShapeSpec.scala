package graft

/** Physical-plan regression guards for the scale properties the engine
  * claims — the ".explain and iterate until it's the plan you'd want"
  * discipline, frozen as tests. Each assertion pins a property that a
  * future refactor could silently lose while every value-level oracle
  * stays green (the round-1 lesson: q26 was value-correct with an O(n²)
  * BroadcastNestedLoopJoin in its shipped plan).
  *
  * Plans are inspected pre-execution (the AQE initial plan): explicit
  * broadcast hints, join strategies for equi-joins, scan pushdown and
  * exchange counts are all visible there and do not depend on runtime
  * statistics.
  */
class PlanShapeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q47 bloom probe joins against a BROADCAST filter (no corpus shuffle)") {
    assert(plan("q47_bloom_new_docs").contains("BroadcastHashJoin"))
  }

  test("exact embedding near-dup (q26) plans NO nested-loop/cartesian join") {
    val p = plan("q26_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("approx embedding near-dup (q42) plans NO nested-loop/cartesian join") {
    val p = plan("q42_embedding_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("star joins (q14) are all hash-based; fixed dims broadcast") {
    val p = plan("q14_revenue_by_nation")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin")) // nation/region stay hinted
  }

  test("pricing summary (q16) pushes the shipdate filter into the parquet scan") {
    val p = plan("q16_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("category performance (q08) prunes the part scan to the joined columns") {
    val p = plan("q08_category_performance")
    // the part table is wider than (p_partkey, p_type); the scan must not be
    val scanLines = p.linesIterator.filter(l => l.contains("parquet") && l.contains("part")).mkString("\n")
    assert(scanLines.contains("p_partkey") && scanLines.contains("p_type"), scanLines)
    assert(!scanLines.contains("p_name"), scanLines)
  }

  test("gap sessions (q48) need exactly ONE hash shuffle (user_id carries " +
    "window, grouping rides the same partitioning)") {
    val p = plan("q48_gap_sessions")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("as-of attribution (q49) needs exactly ONE hash shuffle") {
    val p = plan("q49_view_attribution")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("validation/enrichment (q01, q03) are shuffle-free map pipelines") {
    Seq("q01_validation", "q03_enriched").foreach { q =>
      assert(countOf(plan(q), "Exchange hashpartitioning") == 0, q)
    }
  }

  test("source cap (q53) rank-limits BEFORE the shuffle (WindowGroupLimit)") {
    // top-cap-per-key must not sort whole groups through the exchange:
    // Catalyst's WindowGroupLimit keeps `cap` rows per key map-side, which
    // is what makes the op safe under 100×-skewed sources
    assert(plan("q53_source_cap").contains("WindowGroupLimit"))
  }

  test("tfidf (q50) builds candidates through equi-joins only") {
    val p = plan("q50_tfidf_top_terms")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("abandoned sessions (q62) excludes via a hash ANTI join, not a nested loop") {
    val p = plan("q62_abandoned_sessions")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("inter-event gaps (q63): window + groupBy share ONE user_id shuffle") {
    val p = plan("q63_inter_event_gaps")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("vocab OOV (q65) probes the vocabulary with a BROADCAST join") {
    val p = plan("q65_vocab_oov")
    assert(p.contains("BroadcastHashJoin"), p)
    // the top-V vocabulary build is TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("containment (q66) intersects via the posting-level equi-join") {
    val p = plan("q66_ngram_containment")
    // candidates come from a join keyed on the exploded shingle column —
    // the posting join — not from any array-valued comparison
    assert(p.contains("Exchange hashpartitioning(shingle"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("stream attribution batch twin (q70) is equi-join shaped") {
    // equi-join on user_id with the range predicate as a filter,
    // never a nested loop over events
    val p = plan("q70_stream_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("minhash signatures (q24 family) evaluate the native kernel ONCE per row") {
    // the 12 mh_i columns extract from a single minhash_sig alias; if
    // CollapseProject ever inlined the kernel into its 12 consumers the
    // signature pass would cost 12×. Also pin: no explode-driven Generate
    // and no aggregation exchange left in the signature subtree.
    val p = graft.ops.NearDup.minhashSignatures(
      spark.read.parquet(s"$dir/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(countOf(p, "minhash_sig(") == 1, p)
    assert(!p.contains("Generate explode"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("LSH candidate hubs (q24 family) rank-limit map-side (WindowGroupLimit)") {
    // the per-bucket candidate budget must not sort whole buckets through
    // the exchange: row_number <= budget plans as WindowGroupLimit, which
    // is what makes the budget itself hot-key-safe
    val p = graft.ops.NearDup.lshCandidates(
      spark.read.parquet(s"$dir/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("broadcast-fed ANN compute (q27) exchanges BEFORE the per-row dots") {
    // the round-5 scale-probe catch: per-row heavy compute feeding a
    // broadcast join inherits scan partitioning unless explicitly
    // repartitioned — a single-split corpus would serialize on one core.
    // Pin the exchange below the broadcast join's probe side.
    val p = plan("q27_ann_bruteforce")
    assert(p.contains("Exchange hashpartitioning(vec_id"), p)
  }

  test("capped containment (q77) intersects via the posting equi-join, no cartesian") {
    val p = plan("q77_containment_capped")
    // the pair stage is keyed on the exploded shingle column — visible as
    // a shuffle exchange on shingle OR a hash join keyed on it (with the
    // r18 pre-partition gone — r19 #1 — a tiny corpus's cached posting
    // side can auto-broadcast; both physical forms are the same posting
    // equi-join, and the no-cartesian assert below is the scale property)
    assert(p.contains("Exchange hashpartitioning(shingle") ||
      p.contains("BroadcastHashJoin [shingle"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("LSH keep-list (q78) builds candidates through equi-joins only") {
    val p = plan("q78_embedding_keeplist_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("winnowing overlap (q83) joins postings on fp with a broadcast hot-prune") {
    val p = plan("q83_winnowing_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p) // the df-cap prune is an anti join
  }

  test("trained-cell assignment (q76) is aggregation- and window-free") {
    // the serving property: nearest-centroid is a narrow per-partition
    // pass — no argmin aggregate, no rank window — which is what makes
    // the same kernel legal in an append-mode stream
    val p = plan("q76_trained_cells")
    assert(!p.contains("HashAggregate") && !p.contains("Window"), p)
  }

  test("trained-IVF search (q69) groups by the learned cell — one n-row " +
    "shuffle, no pair-relation join/window") {
    // r11: the search is a per-cell top-k kernel (groupByKey(cell) →
    // flatMapGroups). The guards: the only exchange is the n-row
    // cell grouping (MapGroups present), and the Σ cell² candidate
    // relation is never materialized — no join of the corpus with
    // itself, no Window over pair rows, no nested loop
    val p = plan("q69_ann_ivf_trained")
    assert(p.contains("MapGroups"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("Window "), p)
  }

  test("label-IVF searches (q36, q121) rank cells in a narrow pass: no " +
    "nested loop, no cartesian, no join, a Window only in cellTopK's re-rank") {
    // the label centroids are a driver-held model and the ranked rows
    // carry their embeddings, so the executed plan — the cached ranking
    // printed inside its InMemoryRelation included — holds no centroid
    // cross join, no per-vector rank window and no join back to the
    // embeddings scan. Executed, not only planned, so the query's scope
    // frees the caches its derivation pinned.
    for (q <- Seq("q36_ann_ivf_topk", "q121_ann_ivf_derived_subbucket")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryRelation"), s"$q\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), s"$q\n$p")
      assert(!p.linesIterator.exists(_.contains("Join")), s"$q\n$p")
      val windows = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(windows.forall(_.contains("query_id")), s"$q\n${windows.mkString("\n")}")
    }
    assert(graft.util.ListenerFence.await(spark.sparkContext))
  }

  test("exact jaccard (q32) joins PREFIX-PRUNED postings: rank filters over " +
    "per-doc windows feed the shingle self-join") {
    val p = plan("q32_ngram_jaccard")
    // both self-join inputs must be Filter(pos <= n_sh - FLOOR(t*n_sh) + 1)
    // over Window(row_number by (df, shingle)) — the prefix relation. The
    // FLOOR bound carries q32's t=0.5 literal, so a refactor that silently
    // drops the pruning (reverting to the full Sdf^2 posting join) fails here
    assert(countOf(p, "FLOOR((0.5") >= 2, p)
    assert(countOf(p, "row_number()") >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact containment (q66) prefix-prunes via the directed rank bound") {
    val p = plan("q66_ngram_containment")
    // the t=0.9 prefix bound must be present (0 = the Sdf^2 regression);
    // string-counting can't pin "contained side only" because the cached
    // ranked relation renders its lineage under both join sides — the
    // directed soundness itself is value-pinned by the fuzz corpora
    assert(countOf(p, "FLOOR((0.9") >= 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semantic dedup (q86) bounds the similarity join to the learned cell") {
    // the SemDeDup scale property: the pairwise-cosine join is an
    // EQUI-join keyed on the trained cell (S cell^2 compute), never a
    // corpus-global nested loop; the survivor filter is a hash ANTI join
    val p = plan("q86_semantic_dedup")
    assert(Seq("SortMergeJoin [cell", "ShuffledHashJoin [cell", "BroadcastHashJoin [cell")
      .exists(p.contains), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("prototype prune (q87) rank-limits map-side (WindowGroupLimit)") {
    // rank <= perCell lowers to WindowGroupLimit: each cell keeps a
    // bounded per-partition heap instead of fully sorting its members
    val p = plan("q87_prototype_prune")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("duplicated spans (q88) marks duplicates via equi-joins only — " +
    "never a pair-enumerating join") {
    // the Lee-et-al. dedup measure must stay linear: the gram stream is
    // aggregated (map-side partial) and re-joined on the gram hash, and
    // the final doc join is keyed — any nested loop or cartesian here
    // would mean the op degenerated to pair enumeration
    val p = plan("q88_duplicated_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // map-side partial aggregation on the gram hash before its exchange
    assert(p.contains("HashAggregate"), p)
  }

  test("bigram LM score (q89) joins the count relations by key, no " +
    "nested loop; count aggs partial map-side") {
    val p = plan("q89_lm_quality")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("PQ ADC search (q92): hash spread before the kernel, no Window, no nested loop") {
    // the ADC contract: the query batch's lookup tables ship to the corpus
    // and each partition keeps a bounded top-k (Similarity.queryTopK) —
    // a Window would mean a rank over every (query, vector) distance, a
    // nested loop per-pair vector arithmetic, the thing PQ exists to avoid
    val p = plan("q92_pq_adc_topk")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Exchange hashpartitioning(vec_id"), p)
  }

  test("winnowing top partners (q96) rank-limits map-side " +
    "(WindowGroupLimit) and joins postings by key") {
    // the linear-output contract: the full pair relation must never be
    // sorted/materialized — rank ≤ m keeps an m-bounded heap per doc
    // before the single window exchange
    val p = plan("q96_winnowing_top_partners")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVF-PQ (q95): hash spread before the kernel, no Window, no nested loop") {
    // the queries' probe cells and each row's home cell come from
    // KMeans.Centroids inside the per-partition kernel, so neither a
    // corpus-sized pair relation nor a rank window is left
    val p = plan("q95_ivf_pq_topk")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Exchange hashpartitioning(vec_id"), p)
  }

  test("incremental dedup (q99) is all equi-joins on short keys") {
    val p = plan("q99_incremental_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the index-hub budget rank lowers to WindowGroupLimit (hot index
    // buckets never materialize their full ranked membership)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("semantic decontamination (q100) joins eval probes to corpus buckets by key") {
    val p = plan("q100_semantic_decontamination")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("training shards (q101) windows per shard — the only Sort besides " +
    "presentation is the shard-window's local sort") {
    val p = plan("q101_training_shards")
    // no join, no nested loop; the row_number window partitions by shard
    assert(!p.contains("Join"), p)
  }

  test("quality keep-list (q103) selects winners via WindowGroupLimit") {
    val p = plan("q103_keeplist_by_quality")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("persisted-index incremental dedup plans NO window — the hub " +
    "budget is baked in at write time (r10)") {
    // the flat-per-batch contract SCALEPROBE_r10 measures: each increment
    // is streaming scans of the parquet index + batch-sized joins. A
    // Window (or its required sort) over the index band relation in the
    // per-batch plan would silently reintroduce the index-sized
    // shuffle+sort every batch.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ixplan").toString
    import spark.implicits._
    val docs = (1L to 50L)
      .map(i => (i, s"index doc $i ${"w " * 20}", "en", "src", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.ops.NearDup.writeDedupIndex(docs, tmp)
    val batch = Seq((1001L, s"index doc 7 ${"w " * 20}", "en", "src", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val p = graft.ops.NearDup.incrementalDedupAgainstIndex(batch, tmp)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("derived-cap Jaccard (q102) takes the hot branch via the posting equi-join") {
    val p = plan("q102_jaccard_derived_cap")
    assert(p.contains("hot_flag") && p.contains("n_rare"), p)
    assert(p.contains("Exchange hashpartitioning(shingle"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("image near-dup pairs (q113) and video containment (q116) build " +
    "candidates through equi-joins only — no nested loop, no cartesian") {
    for (q <- Seq("q113_image_near_dups", "q116_video_near_dups")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q:\n$p")
    }
  }

  test("image keep-list (q114): the shipped plan is the anti-join against " +
    "the (eagerly-computed) component labels — no nested loop anywhere. " +
    "(The hub-budget WindowGroupLimit runs inside components()' eager " +
    "construction and is pinned by the hub-candidate test below.)") {
    val p = plan("q114_image_dedup_keeplist")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("image hub candidates rank-limit map-side (WindowGroupLimit), the " +
    "q24-family contract for the banded Hamming buckets") {
    // both signature kinds: image and audio share the hub selection the
    // keep-lists and the index writes apply
    for (kind <- graft.ops.Multimodal.SigKinds) {
      val sigs = sigRows(kind, 40)
      val hubs = graft.ops.Multimodal.hubBands(kind, sigs, 2)
      assert(hubs.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
        s"${kind.name}: ${hubs.queryExecution.executedPlan}")
    }
  }

  test("audio near-dup pairs (q118) build candidates through equi-joins " +
    "only, and the audio keep-list (q119) ships as the anti-join against " +
    "the component labels — the image family's pins, audio edition") {
    val pp = plan("q118_audio_near_dups")
    assert(!pp.contains("BroadcastNestedLoopJoin") && !pp.contains("CartesianProduct"),
      pp)
    val pk = plan("q119_audio_dedup_keeplist")
    assert(pk.contains("LeftAnti"), pk)
    assert(!pk.contains("BroadcastNestedLoopJoin") && !pk.contains("CartesianProduct"),
      pk)
  }

  test("media ingest index verdicts (image incremental) carry NO window " +
    "and no index-sized sort in the per-batch plan") {
    // both signature kinds: image and audio share the verdict pass
    import spark.implicits._
    for (kind <- graft.ops.Multimodal.SigKinds) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-imixplan").toString
      graft.ops.Multimodal.writeSigIndex(kind, sigRows(kind, 20), tmp)
      val batch = Seq((101L, 37L, 91L)).toDF("media_id", kind.hi, kind.lo)
      // the fused within-batch + against-index pass the media loop runs
      val pins = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
      try {
        val p = graft.ops.Multimodal.dedupVerdicts(kind, batch, tmp, onPin = pins += _)
          .queryExecution.executedPlan.toString
        assert(!p.contains("Window"), s"${kind.name}: $p")
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"${kind.name}: $p")
      } finally pins.foreach(graft.util.CacheScope.release)
    }
  }

  /** `n` synthetic (media_id, hi, lo) signature rows of `kind`. */
  private def sigRows(kind: graft.ops.Multimodal.SigKind, n: Long) = {
    import spark.implicits._
    (1L to n).map(i => (i, i * 37 % 251, i * 91 % 251))
      .toDF("media_id", kind.hi, kind.lo)
  }
}
