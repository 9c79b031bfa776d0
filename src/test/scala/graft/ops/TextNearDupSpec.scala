package graft.ops

import org.apache.spark.sql.functions.{col, current_timestamp}

import graft.SparkSpec

/** Specs for the training-data text ops: analysis, MinHash/SimHash/embedding
  * near-dup, similarity search. Uses small planted corpora with known
  * answers.
  */
class TextNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("token stats count whitespace tokens and distincts") {
    val df = docs((1L, "a b b c"), (2L, "hello"))
    val got = TextAnalysis.tokenStats(df)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_distinct_tokens")))).toMap
    assert(got(1L) == ((4, 3)) && got(2L) == ((1, 1)))
  }

  test("quality score is in [0,1] and rewards diversity + stopwords") {
    val good = "the quick brown fox jumps over a lazy dog near the riverbank today"
    val bad = "spam spam spam spam spam spam spam spam"
    val df = docs((1L, good), (2L, bad))
    val s = TextAnalysis.qualityScore(df)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(s.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(1L) > s(2L))
  }

  test("language ID picks the lexicon with most marker hits, und when none") {
    val df = docs(
      (1L, "the cat and the dog of it is in that house"),
      (2L, "der hund und die katze ist nicht zu haus"),
      (3L, "zzz qqq www"))
    val got = TextAnalysis.languageId(df)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("detected_lang")).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("fingerprints: identical normalized text → identical md5 + rolling fp") {
    val df = docs((1L, "  Hello   World "), (2L, "hello world"), (3L, "hello worlds"))
    val rows = TextAnalysis.fingerprints(df).collect()
    val md5s = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("content_md5")).toMap
    val fps = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rolling_fp")).toMap
    assert(md5s(1L) == md5s(2L) && md5s(2L) != md5s(3L))
    assert(fps(1L) == fps(2L) && fps(2L) != fps(3L))
  }

  test("minhash near-dup finds a planted near-duplicate pair and skips unrelated") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val df = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = NearDup.minhashNearDups(df)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash of identical token streams is identical; near-dups found") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = docs((1L, base), (2L, base), (3L, (200 to 240).map(i => s"q$i").mkString(" ")))
    val sh = NearDup.simhash(df)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L).length == 16)
    val pairs = NearDup.simhashNearDups(df)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming")))
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._1 == 1L && p._2 == 3L))
  }

  test("components propagate the min label across chains; keep-list drops losers") {
    val pairs = Seq((2L, 5L), (5L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
    val labels = NearDup.components(pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
    assert(labels == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 20L -> 20L, 21L -> 20L))

    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = docs((1L, base), (2L, base), (3L, (100 to 130).map(i => s"w$i").mkString(" ")))
    val kept = NearDup.dedupKeepList(df).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L)) // 2 is a dup of 1; 3 unrelated
  }

  test("shingles of short documents are empty, not an error") {
    val df = docs((1L, "one two"))
    assert(NearDup.minhashNearDups(df).count() == 0)
  }

  test("streaming content dedup: first arrival wins, duplicates dropped in-stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ingest_ts", "text")
    val out = Dedup.streamingContentDedup(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("content_dedup_out").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-10 10:00:00")
      mem.addData((1L, t, "same text"), (2L, t, "same text"), (3L, t, "other text"))
      out.processAllAvailable()
      // re-delivery of an already-seen document in a later batch
      mem.addData((4L, java.sql.Timestamp.valueOf("2024-01-10 10:01:00"), "same text"))
      out.processAllAvailable()
      val kept = spark.table("content_dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(kept.length == 2 && kept.contains(3L) && !kept.contains(4L))
    } finally out.stop()
    // batch path: plain distinct-by-hash
    val batch = docs((1L, "aaa bbb"), (2L, "aaa bbb"), (3L, "ccc ddd"))
      .withColumnRenamed("n_chars", "x").withColumn("ingest_ts", current_timestamp())
    assert(Dedup.streamingContentDedup(batch).count() == 2)
  }

  test("components == union-find reference on pseudo-random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 7, 42)) {
      // deterministic pseudo-random edge list over 40 nodes
      val rnd = new scala.util.Random(seed)
      val edges = (0 until 35).map { _ =>
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      // union-find reference
      val parent = Array.tabulate(40L.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n.toInt).toLong).toMap
      val got = NearDup.components(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // min-label propagation converges to the min node id per component;
      // union-find with min-root union does the same
      assert(got == want, s"seed=$seed")
    }
  }

  test("hot LSH bucket: candidate budget bounds pairs linearly, dedup still collapses") {
    // degenerate corpus: 300 identical documents — one LSH bucket per
    // band. Unbudgeted, the bucket self-join would emit 300·299/2 ≈ 45k
    // pairs; the hub budget caps it at ~budget·n. The keep-list must
    // still collapse all 300 into one survivor (the component connects
    // through the hubs).
    val n = 300
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = docs((1L to n.toLong).map(i => (i, base)): _*)
    val cands = NearDup.lshCandidates(df)
    val cnt = cands.count()
    assert(cnt <= NearDup.BucketBudget.toLong * n,
      s"budget leak: $cnt pairs from one hot bucket")
    assert(cnt >= n - 1, s"too few candidates to connect the bucket: $cnt")
    val kept = NearDup.dedupKeepList(df).select("doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(1L))
  }

  test("components close a 1000-link chain in O(log n) rounds, not O(n)") {
    // the adversarial corpus for label propagation: one long path, so the
    // min label is 999 hops from the far end. Large-star halves the
    // remaining distance every round — the loop must converge in
    // ~⌈log₂ 1000⌉ rounds (plus fixed-point detection), nowhere near the
    // ~1000 one-hop rounds plain propagation would take.
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // driverEdgeBudget = 0 forces the distributed star loop (the r18
    // driver union-find fast path would otherwise answer in 0 rounds)
    val (labels, rounds) = NearDup.componentsWithRounds(chain, driverEdgeBudget = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1000 && got.values.forall(_ == 0L), s"bad labels")
    assert(rounds <= 16, s"expected O(log n) rounds, took $rounds")
    assert(rounds >= 1, "budget 0 must run the distributed loop")
  }

  test("r18: driver union-find fast path == distributed star rounds") {
    // the fast path must be label-identical to the distributed loop on
    // irregular graphs (chains, merges, self-contained stars, isolates)
    for (seed <- Seq(3, 11, 99)) {
      val rnd = new scala.util.Random(seed)
      val edges = ((0 until 120).map { _ =>
        (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong)
      } ++ (200L until 260L).map(i => (i, i + 1))) // a long chain segment
        .filter { case (a, b) => a != b }
      val df = edges.toDF("doc_a", "doc_b")
      val fast = NearDup.componentsWithRounds(df)
      val dist = NearDup.componentsWithRounds(df, driverEdgeBudget = 0)
      assert(fast._2 == 0, "expected the driver fast path below the budget")
      assert(dist._2 >= 1, "expected the distributed loop at budget 0")
      val fm = fast._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dm = dist._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fm == dm, s"fast path diverged from star rounds at seed=$seed")
    }
  }

  test("hub budget recall contract: a 10k-doc degenerate bucket keeps ONE " +
    "component (keep-list = unbudgeted), while PAIR recall is traded") {
    // 10,000 IDENTICAL docs = one LSH bucket per band, 157× the budget of
    // 64 — the exact degenerate case the budget exists for. The unbudgeted
    // keep-list is known analytically (one component → min doc_id
    // survives); computing it would need 50M pairs, which is the point.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val giant = (1L to 10000L).map(i => (i, base))
    val solo = Seq((20001L, "an entirely different document about spark physical plans"),
      (20002L, "yet another unrelated text on winnowing fingerprints"))
    val kept = NearDup.dedupKeepList(docs(giant ++ solo: _*))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 20001L, 20002L),
      s"budgeted keep-list must equal the unbudgeted one: ${kept.take(10).toSeq}")

    // the trade is PAIRS: with budget 64, a pair whose SMALLER endpoint
    // ranks past the budget is dropped from the candidate set even though
    // both docs remain hub-connected (components unaffected)
    val hundred = docs((1L to 100L).map(i => (i, base)): _*)
    val sh = NearDup.shingled(hundred)
    val cands = NearDup.lshCandidatesFrom(sh)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!cands.contains((65L, 66L)), "smaller endpoint past budget must be dropped")
    assert(cands.contains((64L, 66L)), "hub endpoint pairs must survive")
    // and the budget-pressure diagnostic reports exactly that bucket with
    // the closed-form dropped-pair count: 100·99/2 − (64·100 − 64·65/2)
    val pressure = NearDup.lshBudgetPressure(hundred).collect()
    assert(pressure.length == NearDup.Bands) // one over-budget bucket per band
    assert(pressure.forall(_.getAs[Long]("bucket_size") == 100L))
    assert(pressure.forall(_.getAs[Long]("dropped_pairs") ==
      100L * 99 / 2 - (64L * 100 - 64L * 65 / 2)))
  }

  test("containment flags a doc embedded in a larger one where Jaccard stays low") {
    // doc 1 = 6 tokens → 4 3-gram shingles, ALL present inside doc 2's 30
    // tokens (28 shingles): containment(1→2) = 1.0, Jaccard = 4/28 ≈ 0.14
    val inner = "alpha beta gamma delta epsilon zeta"
    val outer = ("pre1 pre2 pre3 pre4 pre5 pre6 pre7 pre8 pre9 pre10 pre11 pre12 " +
      inner + " post1 post2 post3 post4 post5 post6 post7 post8 post9 post10 post11 post12")
    val df = docs((1L, inner), (2L, outer), (3L, "unrelated words entirely here now"))
    assert(NearDup.ngramJaccardPairs(df).count() == 0) // symmetric misses it
    val got = NearDup.ngramContainment(df).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("contained") == 1L && r.getAs[Long]("container") == 2L)
    assert(r.getAs[Double]("containment") == 1.0)
    // and the reverse direction (big doc in small doc) is NOT flagged
    assert(r.getAs[Int]("n_container") > r.getAs[Int]("n_contained"))
  }

  test("capped containment == uncapped when the cap does not bind; survives hot shingles") {
    val inner = "alpha beta gamma delta epsilon zeta"
    val outer = ("pre1 pre2 pre3 pre4 pre5 pre6 pre7 pre8 pre9 pre10 pre11 pre12 " +
      inner + " post1 post2 post3 post4 post5 post6 post7 post8 post9 post10 post11 post12")
    val df = docs((1L, inner), (2L, outer), (3L, "unrelated words entirely here now"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("contained"), r.getAs[Long]("container"), r.getAs[Double]("containment"))
    val uncapped = NearDup.ngramContainment(df).collect().map(key).toSeq
    val capped = NearDup.ngramContainmentCapped(df).collect().map(key).toSeq
    assert(capped == uncapped && capped.nonEmpty)

    // planted hot distribution: 150 docs sharing one boilerplate block (df
    // of its shingles > cap) must not hide a genuine containment that rides
    // on rare shingles — and the hot-only overlap pairs are NOT candidates
    val boiler = (1 to 20).map(i => s"hot$i").mkString(" ")
    val hotDocs = (100L until 250L).map(i => (i, s"$boiler filler${i}a filler${i}b"))
    val hot = docs((hotDocs :+ (1L -> inner) :+ (2L -> (boiler + " " + outer))): _*)
    // the derived cap is a df present in the corpus (here 2; the
    // boilerplate's df is 151), so it cannot equal a constant 100, but it
    // puts exactly the shingles over the cap that a cap of 100 would
    assert(NearDup.derivedDfCap(hot) == 2)
    def overCap(c: Int) = {
      val r = NearDup.dfCapStats(hot, maxDf = c).head()
      (r.getAs[Long]("n_hot"), r.getAs[Long]("hot_postings"))
    }
    assert(overCap(2) == overCap(100) && overCap(2)._1 > 0)
    val got = NearDup.ngramContainmentCapped(hot)
      .filter(col("contained") === 1L).collect()
    assert(got.length == 1 && got.head.getAs[Long]("container") == 2L)
    assert(got.head.getAs[Double]("containment") == 1.0)
  }

  test("winnowing == brute-force windowed-minima reference; density + overlap guarantees") {
    val rnd = new scala.util.Random(11)
    val texts = (0 until 30).map { i =>
      (i.toLong, (0 until (5 + rnd.nextInt(60))).map(_ => s"w${rnd.nextInt(40)}").mkString(" "))
    }
    // plant a shared run of k+w-1 = 8 tokens in docs 100 and 101
    val shared = (1 to 8).map(i => s"shared$i").mkString(" ")
    val df = docs((texts ++ Seq(
      (100L, s"prefix one two $shared tail tail2"),
      (101L, s"other intro words $shared different ending here"))): _*)
    val (k, w) = (5, 4)
    val got = TextAnalysis.winnowingFingerprints(df, k, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // brute-force reference
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (texts ++ Seq(
      (100L, s"prefix one two $shared tail tail2"),
      (101L, s"other intro words $shared different ending here"))).flatMap { case (id, t) =>
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length < k) Seq.empty
      else {
        val hs = (0 to toks.length - k).map(i => md5hex(toks.slice(i, i + k).mkString(" ")))
        val keys = hs.zipWithIndex.map { case (h, i) => (h + f"$i%010d", i, h) }
        // union of per-window minima, incl. truncated trailing frames
        keys.indices.map { s =>
          keys.slice(s, math.min(s + w, keys.length)).minBy(_._1)
        }.distinct.map { case (_, i, h) => (id, i, h) }
      }
    }
    assert(got.toSet == want.toSet && got.nonEmpty)
    // density: every w consecutive gram positions contain >=1 fingerprint
    val byDoc = got.groupBy(_._1)
    for ((id, t) <- texts; toks = t.trim.split("\\s+").filter(_.nonEmpty)
         if toks.length >= k + w - 1) {
      val sel = byDoc.getOrElse(id, Array.empty[(Long, Int, String)]).map(_._2).toSet
      for (start <- 0 to toks.length - k - (w - 1))
        assert((start until start + w).exists(sel), s"doc $id window at $start empty")
    }
    // shared-substring guarantee: the planted 8-token run shares >=1 fingerprint
    val fps100 = byDoc(100L).map(_._3).toSet
    val fps101 = byDoc(101L).map(_._3).toSet
    assert((fps100 & fps101).nonEmpty, "planted shared run produced no common fingerprint")
  }

  test("language profile aggregates exact token/char volumes per language") {
    val df = Seq(
      (1L, "one two three", "en", "a", 13L),
      (2L, "four five", "en", "b", 9L),
      (3L, "eins zwei", "de", "a", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.languageProfile(df).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("n_sources"), r.getAs[Double]("mean_doc_tokens")))).toMap
    assert(got("en") == ((2L, 5L, 2L, 2.5)))
    assert(got("de") == ((1L, 2L, 1L, 2.0)))
  }

  test("winnowing overlap surfaces near-dup pairs, not unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = docs(
      (1L, base),
      (2L, base + " tail1 tail2"),          // near-dup of 1 → many shared fps
      (3L, (100 to 140).map(i => s"z$i").mkString(" "))) // unrelated
    val got = TextAnalysis.winnowingOverlap(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) >= 2)
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("decontamination flags training docs sharing an 8-gram with the eval slice") {
    val phrase = (1 to 8).map(i => s"leak$i").mkString(" ")
    val df = docs(
      (10L, s"eval doc containing $phrase exactly once"), // doc_id%10==0 → eval
      (1L, s"training doc with $phrase inside it"),        // contaminated
      (2L, "clean training doc with its own words only"),
      (3L, s"another hit $phrase plus $phrase again"))     // distinct grams count once
    val got = TextAnalysis.decontaminate(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(1L) && got.contains(3L) && !got.contains(2L))
    assert(!got.contains(10L)) // the eval doc itself is not reported
    assert(got(1L) >= 1L && got(3L) >= 1L)
  }

  test("vocab build ranks by df with lexicographic ties; OOV counts the tail") {
    // grams: "a b" df=3, "b c" df=2, "c d" df=1, "x y" df=1 → V=2 vocab
    // = {"a b", "b c"}; doc 4 too short for a bigram → zero counts, kept
    val df = docs(
      (1L, "a b c d"),   // grams: a b, b c, c d
      (2L, "a b c"),     // grams: a b, b c
      (3L, "a b x y"),   // grams: a b, b x, x y
      (4L, "solo"))
    val vocab = TextAnalysis.ngramVocab(df, n = 2, vocabSize = 2)
      .collect().map(_.getAs[String]("gram")).toSeq
    assert(vocab == Seq("a b", "b c"))
    val oov = TextAnalysis.vocabOov(df, n = 2, vocabSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_oov")))).toMap
    assert(oov(1L) == ((3L, 1L))) // "c d" is OOV
    assert(oov(2L) == ((2L, 0L)))
    assert(oov(3L) == ((3L, 2L))) // "b x", "x y" OOV
    assert(oov(4L) == ((0L, 0L)))
  }

  test("capped Jaccard: values exact incl. hot shingles; hot-only pairs dropped") {
    val phrase = "alpha beta gamma delta"
    val df = docs(
      (1L, s"$phrase one two three four five"),
      (2L, s"$phrase one two three four five"), // dup of 1, shares RARE shingles
      (3L, phrase),                             // 3 and 4 share ONLY hot shingles
      (4L, phrase),
      (5L, s"$phrase six seven eight nine ten"))
    // fanoutBudget 2 derives cap 2: the phrase 3-grams (df=5) are hot,
    // doc 1/2's tail (df=2) is rare. Uncapped finds both dup pairs; capped
    // keeps (1,2) — found via rare shingles, jaccard still 1.0 because hot
    // shingles are corrected back in — and documents the designed recall
    // cut for hot-only (3,4).
    val uncapped = NearDup.ngramJaccardPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(uncapped.toSet == Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
    assert(NearDup.derivedDfCap(df, fanoutBudget = 2) == 2)
    val capped = NearDup.ngramJaccardPairsCapped(df, fanoutBudget = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSet == Set((1L, 2L, 1.0)))
  }

  test("capped Jaccard hot-correction arithmetic on a partial overlap") {
    val df = docs(
      (1L, "h1 h2 h3 h4 a b c"),
      (2L, "h1 h2 h3 h4 a b d"),
      (3L, "h1 h2 h3 h4 x y z"))
    // fanoutBudget 2 derives cap 2: "h1 h2 h3"/"h2 h3 h4" have df=3 → hot;
    // "h3 h4 a"/"h4 a b" have df=2 → rare. Pair (1,2): n_rare=2,
    // hot_common=2, sizes 5/5 → jaccard = 4/6. Must equal the uncapped
    // exact value bit-for-bit.
    val expect = NearDup.ngramJaccardPairs(df)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(NearDup.derivedDfCap(df, fanoutBudget = 2) == 2)
    val got = NearDup.ngramJaccardPairsCapped(df, fanoutBudget = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == expect((1L, 2L)))
    assert(got((1L, 2L)) == 4.0 / 6.0)
  }

  test("df-cap stats + pressure: hand-computed histogram, derived cap from " +
    "the fan-out budget, -1 when capping buys nothing") {
    // 3-token docs → exactly one 3-gram shingle each:
    //   "a b c" ×5 (df=5), "p q r" ×2 (df=2), "x y z" ×1 (df=1)
    val df = docs(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "a b c"), (5L, "a b c"),
      (6L, "p q r"), (7L, "p q r"), (8L, "x y z"))
    // constant cap 2: hot = {"a b c"}; postings 8; pairs 10+1+0 vs rare-only 1
    val stats = NearDup.dfCapStats(df, maxDf = 2, fanoutBudget = 2).head()
    assert(stats.getLong(stats.fieldIndex("n_shingles")) == 3L)
    assert(stats.getLong(stats.fieldIndex("postings")) == 8L)
    assert(stats.getLong(stats.fieldIndex("max_df")) == 5L)
    assert(stats.getLong(stats.fieldIndex("n_hot")) == 1L)
    assert(stats.getLong(stats.fieldIndex("hot_postings")) == 5L)
    assert(stats.getLong(stats.fieldIndex("pairs_uncapped")) == 11L)
    assert(stats.getLong(stats.fieldIndex("pairs_capped")) == 1L)
    // budget 2 → B = 2·8 = 16; cum cost 1 (df1) / 5 (df2) / 30 (df5):
    // largest valid present df is 2
    assert(stats.getLong(stats.fieldIndex("derived_cap")) == 2L)
    assert(NearDup.derivedDfCap(df, fanoutBudget = 2) == 2)
    // generous budget: even uncapped cost (30) ≤ 100·8 → capping buys
    // nothing → sentinel -1 / Int.MaxValue, and the capped entry point
    // must then equal the exact prefix-filtered result
    val rich = NearDup.dfCapStats(df, maxDf = 2, fanoutBudget = 100).head()
    assert(rich.getLong(rich.fieldIndex("derived_cap")) == -1L)
    assert(NearDup.derivedDfCap(df) == Int.MaxValue)
    val derived = NearDup.ngramJaccardPairsCapped(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = NearDup.ngramJaccardPairs(df, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(derived == exact)
  }

  test("no df fits the fan-out budget: derivedDfCap is the gate's cap 0, " +
    "q98 reports NULL, the capped op finds no pair") {
    // three copies of one 3-token doc: histogram {3 → 1 shingle},
    // postings 3, cost 9 > 2·3, so no df fits budget 2
    val df = docs((1L, "a b c"), (2L, "a b c"), (3L, "a b c"))
    assert(NearDup.derivedDfCap(df, fanoutBudget = 2) == 0)
    val stats = NearDup.dfCapStats(df, fanoutBudget = 2).head()
    assert(stats.isNullAt(stats.fieldIndex("derived_cap")))
    assert(stats.getLong(stats.fieldIndex("max_df")) == 3L)
    assert(NearDup.ngramJaccardPairsCapped(df, fanoutBudget = 2).count() == 0L)
  }

  test("duplicated spans: cross-doc window shared verbatim covers both docs; " +
    "overlapping windows merge; unique docs report zero") {
    // docs 1 and 2 share tokens 1..9 ("s1..s9"): with l=8, duplicated
    // window starts are positions 0 and 1 in BOTH docs (9 shared tokens →
    // two overlapping 8-windows), merging to one span covering 9 tokens.
    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val df = docs(
      (1L, s"$shared alpha beta"),
      (2L, s"$shared gamma delta"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (4L, "short text"))
    val got = TextAnalysis.duplicatedSpans(df, l = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((11L, 9L, 1L, 9.0 / 11)))
    assert(got(2L) == ((11L, 9L, 1L, 9.0 / 11)))
    assert(got(3L) == ((10L, 0L, 0L, 0.0)))
    assert(got(4L) == ((2L, 0L, 0L, 0.0))) // below l → no windows, still a row
  }

  test("duplicated spans: a WITHIN-doc repeat is a duplicate (self-match), " +
    "and disjoint repeats yield separate spans") {
    // "r1..r8" appears twice inside doc 1, separated by 8 unique tokens:
    // both occurrences' windows are duplicated → two merged spans, 16
    // covered tokens of 24.
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val mid = (1 to 8).map(i => s"m$i").mkString(" ")
    val df = docs((1L, s"$run $mid $run"), (2L, "plain unrelated filler"))
    val got = TextAnalysis.duplicatedSpans(df, l = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((24L, 16L, 2L)))
    assert(got(2L) == ((3L, 0L, 0L)))
  }

  test("bigram LM score: hand-computed add-one inverse probabilities, " +
    "position-ordered fold") {
    // corpus: doc1 = "a b a b", doc2 = "a b c", doc3 = "solo".
    // V = 4 (a, b, c, solo). unigrams: a=3, b=3, c=1, solo=1.
    // bigrams: (a,b)=3, (b,a)=1, (b,c)=1.
    // inv_p(a,b) = (3+4)/(3+1) = 1.75; inv_p(b,a) = (3+4)/(1+1) = 3.5;
    // inv_p(b,c) = (3+4)/(1+1) = 3.5.
    // doc1 terms [1.75, 3.5, 1.75] → fold 7.0, mean 7.0/3;
    // doc2 [1.75, 3.5] → 5.25, mean 2.625.
    val df = docs((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
    val got = TextAnalysis.lmQualityScore(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((3L, 7.0 / 3)))
    assert(got(2L) == ((2L, 2.625)))
    // "solo" has no bigram: no row, by contract (callers left-join)
    assert(!got.contains(3L))
  }

  test("incremental dedup: exact beats near, near needs LSH+Jaccard, " +
    "unique batch docs are kept") {
    // batch = doc_id % 5 == 0; index = everything else.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val unrelated = (100 to 130).map(i => s"w$i").mkString(" ")
    val df = docs(
      (1L, base),                 // index
      (2L, unrelated),            // index
      (5L, "  TOK1  tok2 "),      // batch: too short to shingle-match, unique
      (10L, base.toUpperCase),    // batch: exact dup of 1 after normalize
      (15L, nearDup),             // batch: near dup of 1 (J = 28/32 ≥ 0.8... verify)
      (20L, unrelated))           // batch: exact dup of 2
    val got = NearDup.incrementalDedup(df)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got(5L) == (("kept", -1L)))
    assert(got(10L) == (("exact_dup", 1L)))
    assert(got(15L) == (("near_dup", 1L)))
    assert(got(20L) == (("exact_dup", 2L)))
    assert(got.size == 4)
  }

  test("span excision: non-canonical cross-doc spans cut, canonical doc " +
    "intact, within-doc repeats kept, merged overlaps removed once") {
    val shared = (1 to 8).map(i => s"w$i").mkString(" ")
    val df = docs(
      (1L, s"$shared u1 u2"),            // canonical holder: untouched
      (2L, s"v0 $shared v1"),            // copy at offset 1: 8 tokens cut
      (3L, ((1 to 8).map(i => s"r$i") ++ (1 to 8).map(i => s"r$i")).mkString(" ")),
      (4L, "short text only"))           // < l tokens: never excised
    val got = TextAnalysis.exciseDuplicatedSpans(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((10L, 0L, s"$shared u1 u2")), got(1L))
    assert(got(2L) == ((10L, 8L, "v0 v1")), got(2L))
    // within-doc repeat: doc 3 is its own canonical — nothing removed
    assert(got(3L)._2 == 0L, got(3L))
    assert(got(4L) == ((3L, 0L, "short text only")), got(4L))
    // overlapping duplicated grams merge: doc 5 shares a 9-token run with
    // canonical doc 1... build a fresh corpus where two OVERLAPPING
    // 8-gram windows are both duplicated — covered union is 9 tokens,
    // not 16
    val nine = (1 to 9).map(i => s"o$i").mkString(" ")
    val df2 = docs((1L, s"$nine tailA"), (2L, s"$nine tailB"))
    val got2 = TextAnalysis.exciseDuplicatedSpans(df2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got2(1L) == ((0L, s"$nine taila")), got2(1L)) // normalized
    assert(got2(2L) == ((9L, "tailb")), got2(2L))
  }

  test("vocab coverage: hand-computed curve, cut landing inside a tie class") {
    // counts: a=4; b=c=2 (tie class); d=e=f=1 (tie class). total = 11.
    // k=1 → 4/11. k=2 cuts INSIDE the count-2 class → 4+2=6/11.
    // k=4 → 4+2+2+1=9/11. k=8 ≥ 6 types → 11/11.
    val df = docs((1L, "a a a a b b c c d e f"))
    val got = TextAnalysis.vocabCoverage(df, ks = Seq(1L, 2L, 4L, 8L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((4L, 4.0 / 11)))
    assert(got(2L) == ((6L, 6.0 / 11)))
    assert(got(4L) == ((9L, 9.0 / 11)))
    assert(got(8L) == ((11L, 1.0)))
  }

  test("quality keep-list keeps the BEST member of a component, not the min id") {
    // docs 1/2 are near-dups (J = 27/29); doc 2 carries a higher n_chars
    // (→ higher length_score), so it must survive even though doc 1 has
    // the smaller id. doc 3 is a singleton and passes through regardless.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val df = Seq(
      (1L, base, "en", "src", 170L),
      (2L, nearDup, "en", "src", 600L),
      (3L, "tiny", "en", "src", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = NearDup.dedupKeepListByQuality(df)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
    // and the min-id rule (q37) would have kept doc 1 instead
    val keptMin = NearDup.dedupKeepList(df)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMin == Set(1L, 3L), s"min-id kept $keptMin")
  }

  test("dup cluster histogram: component sizes plus the singleton row") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    // one 2-cluster (1,2) + two singletons (3, 4)
    val df = docs((1L, base), (2L, nearDup), (3L, other), (4L, "tiny solo"))
    val got = NearDup.dupClusterHistogram(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L), s"got $got")
  }

  test("persisted dedup index: verdicts equal the in-plan union form") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val unrelated = (100 to 130).map(i => s"w$i").mkString(" ")
    // index = non-multiples of 5, batch = multiples — the same split
    // incrementalDedup applies to the union
    val indexDocs = docs((1L, base), (2L, unrelated))
    val batchDocs = docs(
      (5L, "  TOK1  tok2 "), (10L, base.toUpperCase),
      (15L, nearDup), (20L, unrelated))
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupix").toString
    NearDup.writeDedupIndex(indexDocs, dir)
    val viaIndex = NearDup.incrementalDedupAgainstIndex(batchDocs, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val viaUnion = NearDup.incrementalDedup(indexDocs.union(batchDocs))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(viaIndex == viaUnion, s"index $viaIndex vs union $viaUnion")
    assert(viaIndex == Set((5L, "kept", -1L), (10L, "exact_dup", 1L),
      (15L, "near_dup", 1L), (20L, "exact_dup", 2L)))
  }

  test("incremental dedup: batch docs never match EACH OTHER, only the index") {
    // two identical batch docs with no index twin must BOTH be kept —
    // within-batch dedup is q17/q18's job, not the incremental gate's
    val t = (1 to 25).map(i => s"x$i").mkString(" ")
    val df = docs((5L, t), (10L, t), (1L, "completely different index text"))
    val got = NearDup.incrementalDedup(df)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(5L -> "kept", 10L -> "kept"))
  }

  test("continuous-crawl loop: verdicts -> append kept docs -> next batch " +
    "sees them (exact AND near), equal to the in-plan union form") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val nearBase = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val dir = java.nio.file.Files.createTempDirectory("graft-crawl").toString
    NearDup.writeDedupIndex(docs((1L, other)), dir)
    // batch 1: novel doc -> kept -> appended (id 11 is index-side under
    // the in-plan form's doc_id % 5 split, so the union check below holds)
    val b1 = docs((11L, base))
    val v1 = NearDup.incrementalDedupAgainstIndex(b1, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 == Map(11L -> "kept"))
    NearDup.appendDedupIndex(b1, dir)
    // batch 2: an exact copy AND a near copy of the batch-1 doc must now
    // both resolve against the APPENDED index entry, not come back kept
    val b2 = docs((20L, base.toUpperCase), (25L, nearBase))
    val v2 = NearDup.incrementalDedupAgainstIndex(b2, dir)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(v2(20L) == (("exact_dup", 11L)), s"got ${v2(20L)}")
    assert(v2(25L) == (("near_dup", 11L)), s"got ${v2(25L)}")
    // and (budget non-binding here) the loop's verdicts equal the in-plan
    // form over the union of everything indexed so far
    val viaUnion = NearDup.incrementalDedup(
        docs((1L, other), (11L, base)).union(b2))
      .filter(col("doc_id").isin(20L, 25L))
      .collect().map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(viaUnion == v2.filter(kv => Set(20L, 25L)(kv._1)),
      s"union $viaUnion vs index $v2")
  }

  test("index compaction: re-applies the hub budget ACROSS snapshots from " +
    "the stored payload; verdicts equal a fresh index of the union") {
    // budget 1 + two appends of same-bucket content: per-snapshot budgets
    // let one hub per APPEND accumulate in the bucket (3 total) — the
    // documented LSM drift compaction exists to cut back
    val t = (1 to 25).map(i => s"x$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    NearDup.writeDedupIndex(docs((1L, t)), dir, bucketBudget = 1)
    NearDup.appendDedupIndex(docs((2L, t)), dir, bucketBudget = 1)
    NearDup.appendDedupIndex(docs((3L, t)), dir, bucketBudget = 1)
    def bucketSizes(): Map[(Int, String), Long] = spark.read
      .parquet(s"$dir/bands").groupBy("band_idx", "band_key").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(bucketSizes().values.max == 3L, bucketSizes())
    NearDup.compactDedupIndex(dir, bucketBudget = 1)
    assert(bucketSizes().values.max == 1L, bucketSizes())
    // hubs must be the smallest ix_ids, exactly as a fresh write picks
    val hubIds = spark.read.parquet(s"$dir/bands")
      .select("ix_id").distinct().collect().map(_.getLong(0)).toSet
    assert(hubIds == Set(1L), hubIds)
    // and a batch's verdicts equal those against a fresh union index
    val batch = docs((100L, t), (101L, "completely different content here"))
    val fresh = java.nio.file.Files.createTempDirectory("graft-fresh").toString
    NearDup.writeDedupIndex(docs((1L, t), (2L, t), (3L, t)), fresh, bucketBudget = 1)
    def verdicts(p: String) = NearDup.incrementalDedupAgainstIndex(batch, p)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(verdicts(dir) == verdicts(fresh), s"${verdicts(dir)} vs ${verdicts(fresh)}")
    assert(verdicts(dir) == Set((100L, "exact_dup", 1L), (101L, "kept", -1L)))
  }

  test("LSH band tuner: derives the pinned (4,3) layout at the defaults, " +
    "stays in budget, and tracks the threshold") {
    // the layout every MinHash op compiles against must be the tuner's
    // pick — a drifted derivation would silently re-band every signature
    assert(NearDup.tuneBandsRows() == ((NearDup.Bands, NearDup.RowsPerBand)))
    assert((NearDup.Bands, NearDup.RowsPerBand) == ((4, 3)))
    // decision table: exactly one chosen row, and it is the constant pair
    val t = NearDup.lshBandTuning(spark).collect()
    val chosen = t.filter(_.getBoolean(6))
    assert(chosen.length == 1)
    assert((chosen(0).getInt(0), chosen(0).getInt(1)) == ((4, 3)))
    assert(chosen(0).getDouble(4) <= NearDup.LshFpBudget) // fp in budget
    assert(chosen(0).getDouble(3) >= 0.9) // recall at t stays high
    // monotonicity: a higher target threshold never tunes to a LOWER
    // S-curve midpoint (1/b)^(1/r) than a lower target does
    def midpoint(t: Double): Double = {
      val (b, r) = NearDup.tuneBandsRows(t)
      math.pow(1.0 / b, 1.0 / r)
    }
    assert(midpoint(0.9) >= midpoint(0.5))
  }

  test("half-swapped index auto-recovers: a crash that left a relation in " +
    "_compact_old heals on the next read or compaction (ADVICE r10)") {
    val t = (1 to 25).map(i => s"x$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-halfswap").toString
    NearDup.writeDedupIndex(docs((1L, t)), dir)
    // simulate a crash inside compactDedupIndex's swap window: `bands` was
    // moved to _compact_old but its replacement never landed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.mkdirs(p(s"$dir/_compact_old")))
    assert(fs.rename(p(s"$dir/bands"), p(s"$dir/_compact_old/bands")))
    assert(!fs.exists(p(s"$dir/bands")))
    // the read path heals the index and verdicts work as if never swapped
    val got = NearDup.incrementalDedupAgainstIndex(docs((100L, t)), dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((100L, "exact_dup", 1L)), got)
    assert(fs.exists(p(s"$dir/bands")))
    assert(!fs.exists(p(s"$dir/_compact_old")), "marker must clear after heal")
    // and a compaction straight after a (healed) half-swap still works
    NearDup.compactDedupIndex(dir)
    val post = NearDup.incrementalDedupAgainstIndex(docs((100L, t)), dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(post == Set((100L, "exact_dup")), post)
  }

  test("incremental dedup norm edges: NULL text never aliases empty text, " +
    "and non-space whitespace normalizes away (ADVICE r10)") {
    // index: 1 = empty text, 2 = NULL text, 3 = "foo bar"
    // batch: 5 = NULL (must be KEPT — a NULL doc is not a dup of the empty
    // doc), 10 = "\tfoo  bar \n" (exact dup of 3 — the leading tab's empty
    // token must not poison the norm), 15 = "" (exact dup of 1)
    val df = Seq(
      (1L, ""), (2L, null.asInstanceOf[String]), (3L, "foo bar"),
      (5L, null.asInstanceOf[String]), (10L, "\tfoo  bar \n"), (15L, ""))
      .map { case (id, t) => (id, t, "en", "src", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = NearDup.incrementalDedup(df)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got(5L) == (("kept", -1L)), s"NULL-text verdict: ${got(5L)}")
    assert(got(10L) == (("exact_dup", 3L)), s"whitespace verdict: ${got(10L)}")
    assert(got(15L) == (("exact_dup", 1L)), s"empty verdict: ${got(15L)}")
  }

  test("derived-cap pair stage refuses at plan time past pairBudget, with " +
    "the keep-list redirect in the message") {
    // clone-heavy corpus (the r9 200×-probe shape): 40 copies of one
    // 10-token text → every shingle df=40, histogram {40 → 8 shingles},
    // exact joined-pair count 8 · 40·39/2 = 6240
    val t = (1 to 10).map(i => s"c$i").mkString(" ")
    val clones = docs((1L to 40L).map(i => (i, t)): _*)
    val ex = intercept[IllegalArgumentException] {
      NearDup.ngramJaccardPairsCapped(clones, pairBudget = 1000L)
    }
    assert(ex.getMessage.contains("6240"), ex.getMessage)
    assert(ex.getMessage.contains("pairBudget"), ex.getMessage)
    assert(ex.getMessage.contains("dedupKeepList"), ex.getMessage)
    // same corpus under the default budget: runs, and finds the clones
    val ok = NearDup.ngramJaccardPairsCapped(clones)
    assert(ok.count() == 40L * 39 / 2)
  }

  test("resolveDupRoots re-points chains of any depth at the root; " +
    "index-side and kept targets pass through") {
    import spark.implicits._
    // 5→4→3→2→1 (depth 4: pointer-jumping needs 2 rounds), 7→6 with 6
    // kept, 9→100 where 100 is absent from the relation (an index doc —
    // already a root), statuses preserved verbatim
    val v = Seq(
      (1L, "kept", None), (2L, "near_dup", Some(1L)),
      (3L, "exact_dup", Some(2L)), (4L, "near_dup", Some(3L)),
      (5L, "exact_dup", Some(4L)), (6L, "kept", None),
      (7L, "near_dup", Some(6L)), (9L, "exact_dup", Some(100L)))
      .toDF("doc_id", "status", "dup_of")
    val r = NearDup.resolveDupRootsCounted(v.localCheckpoint(true))._1
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), if (x.isNullAt(2)) -1L else x.getLong(2)))).toMap
    assert(r(2L) == (("near_dup", 1L)) && r(3L) == (("exact_dup", 1L)) &&
      r(4L) == (("near_dup", 1L)) && r(5L) == (("exact_dup", 1L)), r)
    assert(r(7L) == (("near_dup", 6L)) && r(9L) == (("exact_dup", 100L)), r)
    assert(r(1L) == (("kept", -1L)) && r(6L) == (("kept", -1L)), r)
  }
}
