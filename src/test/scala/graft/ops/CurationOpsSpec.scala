package graft.ops

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the round-3 curation ops: Bloom incremental dedup, gap
  * sessionization, as-of view attribution, TF-IDF, split, percentiles.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // ------------------------------------------------------------------ Bloom

  test("bloom gate: repeated content is flagged, novel content is not") {
    // doc_id % 4 == 0 rows are the incoming batch; 8 repeats history text,
    // 16 is novel. The filter is deterministic (md5 slices), so this is a
    // fixed expectation, not a probabilistic one.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow"),
      (8L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (16L, "a totally novel document that history never saw")
    ).toDF("doc_id", "text")
    val out = Bloom.bloomNewDocs(docs).collect()
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId(8L) == ((4L, true)))
    assert(byId(16L)._1 < 4 && !byId(16L)._2)
  }

  test("bloom filter stays within its fixed word budget") {
    val docs = (1L to 200L).map(i => (i, s"document number $i with filler text"))
      .toDF("doc_id", "text")
    val words = Bloom.build(docs).count()
    assert(words <= Bloom.BloomBits / Bloom.BitsPerWord + 1)
    assert(words > 0)
  }

  test("bloom gate runs incrementally in foreachBatch across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)]
    var filter = Bloom.emptyFilter(spark)
    val flagged = scala.collection.mutable.Map[Long, Boolean]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Bloom.probe(batch, filter).collect()
          .foreach(r => flagged(r.getLong(0)) = r.getBoolean(2))
        filter = Bloom.update(filter, batch).localCheckpoint()
      }
      .start()
    try {
      mem.addData((1L, "first batch unique text"), (2L, "second unique text"))
      q.processAllAvailable()
      mem.addData((3L, "first batch unique text"), (4L, "never seen before"))
      q.processAllAvailable()
    } finally q.stop()
    // batch 1 probes an empty filter: nothing flagged
    assert(flagged(1L) == false && flagged(2L) == false)
    // batch 2: doc 3 repeats doc 1's content → flagged; doc 4 is novel
    assert(flagged(3L) == true && flagged(4L) == false)
  }

  test("driver-array bloom (probeHits/foldInto) is bit-identical to the frame form") {
    // the streaming fast path (BloomProbeHits codegen kernel + foldInto)
    // must produce EXACTLY the declarative probe's verdicts — same md5
    // slices, same 63-bit packing — including n_hits on near-misses and
    // null-text handling, across incremental updates
    val history1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val history2 = Seq(
      (3L, "sphinx of black quartz judge my vow"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val batch = Seq(
      (8L, "the quick brown fox jumps over the lazy dog"), // dup (batch 1)
      (9L, "sphinx of black quartz judge my vow"),         // dup (batch 2)
      (16L, "a totally novel document that history never saw"),
      (17L, null.asInstanceOf[String])).toDF("doc_id", "text")

    var frame = Bloom.emptyFilter(spark)
    var words = Bloom.emptyWords
    for (h <- Seq(history1, history2)) {
      frame = Bloom.update(frame, h).localCheckpoint()
      words = Bloom.foldInto(words, h)
    }
    assert(Bloom.collectWords(frame).toSeq == words.toSeq)
    val fromFrame = Bloom.probe(batch, frame).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val fromWords = Bloom.probeWords(batch, words).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(fromFrame == fromWords)
    assert(fromWords.exists { case (id, n, dup) => id == 8L && n == 4L && dup })
    assert(fromWords.exists { case (id, n, dup) => id == 9L && n == 4L && dup })
    assert(fromWords.exists { case (id, _, dup) => id == 16L && !dup })
    assert(!fromWords.exists(_._1 == 17L)) // null text never probes
  }

  test("deployment-sized bloom (2^24 bits): frame/array/agg parity at " +
    "width 6, fill ratio tracks inserts") {
    // the r10 sizing knob: same machinery, wider md5 slices — the three
    // representations must stay bit-identical at the non-default size,
    // and fillRatio exposes the saturation signal the default hid
    val bits = 1L << 24
    val history = (1L to 200L).map(i => (i, s"historical doc $i body"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (301L, "historical doc 7 body"), // dup
      (302L, "entirely new content never inserted")).toDF("doc_id", "text")
    val frame = Bloom.build(history, bits).localCheckpoint()
    val words = Bloom.foldInto(Bloom.emptyWords(bits), history)
    assert(Bloom.widthOfWords(words) == 6)
    assert(Bloom.collectWords(frame, bits).toSeq == words.toSeq)
    val viaAgg = graft.functions.BloomBitsAgg.decode(
      history.agg(graft.functions.BloomBitsAgg.bloomBitsAgg(col("text"), 6))
        .head().getAs[Array[Byte]](0))
    assert(viaAgg.toSeq == words.toSeq)
    val fromFrame = Bloom.probe(batch, frame, bits).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSet
    val fromWords = Bloom.probeWords(batch, words).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(fromFrame == fromWords)
    assert(fromWords == Set((301L, true), (302L, false)))
    // 200 docs × ≤4 distinct bits in 2^24: fill is tiny but non-zero, and
    // bounded by the insert count
    val fill = Bloom.fillRatio(words)
    assert(fill > 0.0 && fill <= 800.0 / (1 << 24).toDouble)
    assert(Bloom.fillRatio(Bloom.emptyWords(bits)) == 0.0)
  }

  test("BloomBitsAgg aggregate equals build()'s word table bit-for-bit") {
    // the one-job streaming update path: the aggregate's packed array must
    // be exactly the declarative build's bitmap, null texts skipped
    val docs = ((1L to 50L).map(i => (i, s"document number $i some text")) :+
      (51L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val viaAgg = graft.functions.BloomBitsAgg.decode(
      docs.agg(graft.functions.BloomBitsAgg.bloomBitsAgg(col("text")))
        .head().getAs[Array[Byte]](0))
    assert(viaAgg.length == Bloom.NumWords)
    assert(viaAgg.toSeq == Bloom.collectWords(Bloom.build(docs)).toSeq)
    assert(viaAgg.exists(_ != 0L))
  }

  // ----------------------------------------------------------- gap sessions

  test("gap sessions split on >30min inactivity, not on bucket boundaries") {
    val events = Seq(
      // user 1: 3 events within gaps, then a 31-min gap → 2 sessions
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 10:29:00")),
      (3L, 10L, ts("2024-01-01 10:58:00")), // 29min after prev: same session
      (4L, 10L, ts("2024-01-01 11:29:01")), // 31min 1s after: new session
      // user 2: single event
      (5L, 20L, ts("2024-01-01 09:00:00")),
      // null user: excluded
      (6L, -1L, ts("2024-01-01 09:00:00"))
    ).toDF("event_id", "user_id", "ts")
      .withColumn("user_id", when(col("user_id") === -1L, lit(null)).otherwise(col("user_id")))
    val out = Sessionize.gapSessions(events)
      .select("user_id", "session_seq", "n_events").as[(Long, Int, Long)].collect().toSet
    assert(out == Set((10L, 1, 3L), (10L, 2, 1L), (20L, 1, 1L)))
  }

  test("gap boundary is half-open like session_window: exactly 30min closes") {
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 1L, ts("2024-01-01 10:30:00")), // exactly start+gap → NEW session
      (3L, 1L, ts("2024-01-01 10:59:59"))  // 29:59 after prev → same session
    ).toDF("event_id", "user_id", "ts")
    val out = Sessionize.gapSessions(events)
      .select("session_seq", "n_events").as[(Int, Long)].collect().toSet
    assert(out == Set((1, 1L), (2, 2L)))
  }

  // ------------------------------------------------------- view attribution

  test("purchases attribute to the latest view at-or-before, ties pinned") {
    val events = Seq(
      (1L, 1L, "view", ts("2024-01-01 10:00:00")),
      (2L, 1L, "view", ts("2024-01-01 10:05:00")),
      (3L, 1L, "purchase", ts("2024-01-01 10:06:00")), // → view 2
      (4L, 1L, "purchase", ts("2024-01-01 10:07:00")), // still view 2
      (5L, 2L, "purchase", ts("2024-01-01 10:00:00")), // no view → null
      (6L, 3L, "view", ts("2024-01-01 12:00:00")),
      (7L, 3L, "purchase", ts("2024-01-01 12:00:00")), // same-instant view counts
      (8L, 3L, "view", ts("2024-01-01 13:00:00"))      // later view irrelevant
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = Sessionize.viewAttribution(events)
      .select("purchase_id", "attr_view_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out == Map(3L -> Some(2L), 4L -> Some(2L), 5L -> None, 7L -> Some(6L)))
  }

  test("generic asofJoin attaches the latest quote at-or-before each probe") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 110.0),
      (2L, ts("2024-01-01 09:00:00"), 90.0)
    ).toDF("sym", "qts", "price")
    val probes = Seq(
      (1L, ts("2024-01-01 10:30:00"), "a"), // between quotes → 100.0
      (1L, ts("2024-01-01 11:00:00"), "b"), // equal-time quote counts → 110.0
      (2L, ts("2024-01-01 08:00:00"), "c"), // before any quote → null
      (3L, ts("2024-01-01 12:00:00"), "d")  // key with no quotes → null
    ).toDF("sym", "pts", "tag")
    val out = Sessionize.asofJoin(probes, quotes, key = "sym",
        probeTs = "pts", quoteTs = "qts",
        payload = Seq("price" -> "asof_price"), tieBreak = "qts")
      .select("tag", "asof_price").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map("a" -> Some(100.0), "b" -> Some(110.0), "c" -> None, "d" -> None))
  }

  test("asofJoin == brute-force point-in-time reference on pseudo-random data") {
    val rnd = new scala.util.Random(23)
    val quotes = (1L to 300L).map { i =>
      (rnd.nextInt(12).toLong, ts("2024-01-01 00:00:00").getTime + rnd.nextInt(500) * 60000L, i)
    }
    val probes = (1L to 200L).map { i =>
      (rnd.nextInt(15).toLong, ts("2024-01-01 00:00:00").getTime + rnd.nextInt(500) * 60000L, i)
    }
    val qDf = quotes.map { case (k, t, id) => (k, new Timestamp(t), id) }
      .toDF("k", "qts", "quote_id")
    val pDf = probes.map { case (k, t, id) => (k, new Timestamp(t), id) }
      .toDF("k", "pts", "probe_id")
    val got = Sessionize.asofJoin(pDf, qDf, key = "k",
        probeTs = "pts", quoteTs = "qts",
        payload = Seq("quote_id" -> "asof_quote"), tieBreak = "quote_id")
      .select("probe_id", "asof_quote").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // brute force: per probe, the quote with max (time, quote_id) among t ≤ pt
    val expected = probes.map { case (k, pt, pid) =>
      val cands = quotes.filter(q => q._1 == k && q._2 <= pt)
      pid -> (if (cands.isEmpty) None
              else Some(cands.maxBy(q => (q._2, q._3))._3))
    }.toMap
    assert(got == expected)
  }

  // ------------------------------------------------------------------ tfidf

  test("language mixture: binding language keeps all docs, others downsample to target") {
    // 200 en / 20 de with targets en .30 / de .20: de is binding
    // (20/.2 = 100 < 200/.3), so T = 100 → keep_prob(de) = 1.0,
    // keep_prob(en) = .3·100/200 = 0.15
    val df = ((1L to 200L).map(i => (i, s"text $i", "en", "s", 10L)) ++
      (201L to 220L).map(i => (i, s"text $i", "de", "s", 10L)) ++
      Seq((221L, "dropped", "xx", "s", 10L))) // no target weight → dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Curate.languageMixture(df).collect()
    val byLang = got.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang.getOrElse("de", 0) == 20, s"binding lang must keep all: $byLang")
    assert(!byLang.contains("xx"))
    val enProb = got.filter(_.getAs[String]("lang") == "en")
      .map(_.getAs[Double]("keep_prob")).distinct
    assert(enProb.length == 1 && math.abs(enProb.head - 0.15) < 1e-12)
    // hash-sampling at p=0.15 over 200 docs: expect ~30, allow wide margin
    val enKept = byLang.getOrElse("en", 0)
    assert(enKept > 10 && enKept < 60, s"en kept $enKept of 200 at p=0.15")
    // reproducible: same corpus → identical sample
    assert(Curate.languageMixture(df).collect().map(_.getLong(0)).toSeq ==
      got.map(_.getLong(0)).toSeq)
  }

  test("tfidf ranks corpus-rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "alpha alpha common"),
      (2L, "beta common"),
      (3L, "gamma common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, topK = 2)
      .select("doc_id", "term", "rank").as[(Long, String, Int)].collect()
    val top = out.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    // 'common' has df=3; each doc's distinctive term has df=1 and wins
    assert(top == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
    // doc 1: alpha tf=2 df=1 → 2e6; common tf=1 df=3 → 333333
    val d1 = out.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq
    assert(d1 == Seq("alpha", "common"))
  }

  test("integer tf/df score ranks a ubiquitous high-tf term above a rare one") {
    // the documented divergence from textbook tf·ln(N/df), constructed:
    // N=3; in doc 1, 'alpha' has tf=10 but appears in every doc (df=3,
    // textbook idf = ln(1) = 0) while 'beta' has tf=3, df=1. Integer
    // tf/df: alpha 10e6 div 3 ≈ 3.33e6 > beta 3e6 → alpha wins.
    val a = Array.fill(10)("alpha").mkString(" ")
    val docs = Seq(
      (1L, a + " beta beta beta"),
      (2L, "alpha filler"),
      (3L, "alpha other")
    ).toDF("doc_id", "text")
    val integer = TextAnalysis.tfidfTopTerms(docs, topK = 1)
      .filter(col("doc_id") === 1L).select("term").as[String].head()
    assert(integer == "alpha") // 10e6 div 3 = 3.33e6 beats beta's 3e6
  }

  // ------------------------------------------------------------------ split

  test("train/test split is a stable pure function of doc_id with 8/1/1 buckets") {
    val docs = (1L to 1000L).map(i => (i, "en", "web")).toDF("doc_id", "lang", "source")
    val out = Curate.trainTestSplit(docs)
    val byShare = out.groupBy("split").count().as[(String, Long)].collect().toMap
    // hash buckets: exact counts are deterministic; sanity-check the shape
    assert(byShare.keySet == Set("train", "validation", "test"))
    assert(byShare("train") > byShare("validation") && byShare("train") > byShare("test"))
    assert(byShare.values.sum == 1000L)
    // stability: same key → same split on a different frame/partitioning
    val again = Curate.trainTestSplit(docs.repartition(7)).select("doc_id", "split")
    assert(out.select("doc_id", "split").except(again).count() == 0)
  }

  test("gapSessions partitions events exactly like Spark's native session_window") {
    // the claim "batch twin of session_window(ts, gap)" — proven, not asserted:
    // same session count, same (start, end, n_events) per user on random-ish data
    val rnd = new scala.util.Random(7)
    var t = 0L
    val events = (1L to 300L).map { i =>
      // gaps 0..50min crossing the 30min boundary often, INCLUDING exactly
      // 1800s — the half-open boundary case must agree too
      t += (if (i % 41 == 0) 1800 else rnd.nextInt(3000))
      (i, (i % 7) + 1, new Timestamp(1700000000000L + t * 1000))
    }.toDF("event_id", "user_id", "ts")
    val ours = Sessionize.gapSessions(events)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    val native = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(ours == native)
  }

  // ------------------------------------------------------------- source cap

  test("source cap keeps the longest `cap` docs per source, deterministically") {
    val docs = (1L to 30L).map(i => (i, s"src${i % 2}", 1000L - (i % 5) * 100))
      .toDF("doc_id", "source", "n_chars")
    val out = Curate.sourceCap(docs, cap = 3)
      .select("source", "doc_id", "rank_in_source").as[(String, Long, Int)].collect()
    assert(out.count(_._1 == "src0") == 3 && out.count(_._1 == "src1") == 3)
    // longest first; ties (same n_chars) break by lowest doc_id
    val src0 = out.filter(_._1 == "src0").sortBy(_._3).map(_._2).toSeq
    assert(src0 == Seq(10L, 20L, 30L)) // n_chars=1000 tie → ids ascending
  }

  // ------------------------------------------------------------- repetition

  test("repetition filter flags duplicate-3-gram boilerplate, not diverse text") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),  // 6 grams, 1 distinct
      (2L, "one two three four five six seven eight"),  // all distinct
      (3L, "ab"),                                       // < 3 tokens → 0 grams
      (4L, "x y z")                                     // exactly 1 gram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_grams", "n_distinct_grams", "is_repetitive")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 6L, 1L, true)))
    assert(out(2L) == ((2L, 6L, 6L, false)))
    assert(out(3L) == ((3L, 0L, 0L, false)))
    assert(out(4L) == ((4L, 1L, 1L, false)))
  }

  // -------------------------------------------------------------------- pii

  test("pii scrub redacts emails, phones and IPs with typed placeholders") {
    val docs = Seq(
      (1L, "contact alice.smith+x@example.org or bob@test.io today"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "server at 10.0.0.1 and 192.168.1.255"),
      (4L, "nothing sensitive here"),
      (5L, "mixed: a@b.co 111-222-3333 8.8.8.8")
    ).toDF("doc_id", "text")
    val out = Redact.piiScrub(docs)
      .select("doc_id", "n_emails", "n_phones", "n_ips", "has_pii")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((2L, 0L, 0L, true)))
    assert(out(2L) == ((0L, 2L, 0L, true)))
    assert(out(3L) == ((0L, 0L, 2L, true)))
    assert(out(4L) == ((0L, 0L, 0L, false)))
    assert(out(5L) == ((1L, 1L, 1L, true)))
    // the redacted text itself carries the placeholders
    val redactedMd5 = Redact.piiScrub(docs).filter(col("doc_id") === 5L)
      .select("clean_md5").as[String].head()
    val expected = docs.sparkSession.sql(
      "SELECT md5('mixed: <EMAIL> <PHONE> <IP>')").as[String].head()
    assert(redactedMd5 == expected)
  }

  test("quality-weighted sample keeps docs with probability = quality score") {
    // high-quality text (diverse, stopword-sane, ≥500 chars: length score
    // saturates, diversity ~0.91, stopword ratio 0.1) vs degenerate text
    val good = (1 to 100)
      .map(i => if (i % 10 == 0) "the" else s"word$i").mkString(" ")
    val docs = (1L to 400L).map { i =>
      if (i % 2 == 0) (i, good, good.length.toLong)
      else (i, "x x x x x x x x", 15L)
    }.toDF("doc_id", "text", "n_chars")
    val out = Curate.qualityWeightedSample(docs)
      .select("doc_id", "quality_score", "sampled")
      .as[(Long, Double, Boolean)].collect()
    val (goodRows, badRows) = out.partition(_._1 % 2 == 0)
    val goodRate = goodRows.count(_._3).toDouble / goodRows.length
    val badRate = badRows.count(_._3).toDouble / badRows.length
    // keep-rate tracks the score (deterministically, not statistically:
    // the draws are fixed by doc_id) — high-quality ≈ its ~0.9+ score,
    // degenerate ≈ its low score
    assert(goodRows.forall(_._2 > 0.9) && goodRate > 0.8)
    assert(badRows.forall(_._2 < 0.5) && badRate < 0.5)
    // reproducible: same doc_ids → same decisions on a reshuffled frame
    val again = Curate.qualityWeightedSample(docs.repartition(13))
      .select("doc_id", "sampled").as[(Long, Boolean)].collect().toMap
    assert(out.forall(r => again(r._1) == r._3))
  }

  test("sequence packing matches the single-pass prefix sum and ignores partitioning") {
    val rnd = new scala.util.Random(11)
    val docs = (1L to 500L)
      .map(i => (i, (("tok " * (1 + rnd.nextInt(40))).trim)))
      .toDF("doc_id", "text")
    val out = Curate.packSequences(docs, binTokens = 64)
      .as[(Long, Long, Long)].collect().toSeq
    // naive reference: global running sum on the driver
    var cum = 0L
    val expected = out.sortBy(_._1).map { case (id, n, _) =>
      val bin = cum / 64; cum += n; (id, n, bin)
    }
    assert(out.sortBy(_._1) == expected)
    // bins are dense and ordered: a doc never lands before its predecessor
    assert(out.sortBy(_._1).sliding(2).forall { case Seq(a, b) => a._3 <= b._3; case _ => true })
    // partitioning independence: same answer from a different layout
    val again = Curate.packSequences(docs.repartition(17), binTokens = 64)
      .as[(Long, Long, Long)].collect().toSeq
    assert(again.sortBy(_._1) == expected)
  }

  test("curation pipeline composes dedup, quality gate and split end-to-end") {
    val good = (1 to 100).map(i => if (i % 10 == 0) "the" else s"tok$i").mkString(" ")
    val near = good.replace("tok99", "tok99x") // near-dup of `good` (1 shingle off)
    val docs = Seq(
      (1L, good, 700L),             // survivor (lowest id of the dup pair)
      (2L, near, 700L),             // near-dup loser → dropped
      (3L, "x x x x x x", 12L),     // low quality → dropped
      (4L, good.toUpperCase, 700L)  // same text after lower() normalize → near-dup of 1
    ).map { case (id, t, n) => (id, t, "en", "web", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.curationPipeline(docs)
      .select("doc_id", "split").as[(Long, String)].collect()
    assert(out.map(_._1).toSet == Set(1L))
    assert(Set("train", "validation", "test").contains(out.head._2))
  }

  test("DatasetWriter publishes hive-partitioned parquet prunable by split/lang") {
    val dir = java.nio.file.Files.createTempDirectory("graft-publish").toString
    val docs = Seq(
      (1L, "en", "train"), (2L, "en", "test"), (3L, "de", "train")
    ).toDF("doc_id", "lang", "split")
    graft.sink.DatasetWriter.writePartitioned(docs, dir, Seq("split", "lang"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 3)
    // partition pruning: reading one split touches only its directory
    assert(new java.io.File(s"$dir/split=train/lang=en").exists())
    assert(new java.io.File(s"$dir/split=test/lang=en").exists())
    val pruned = back.filter(col("split") === "train")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 2)
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("writeShards publishes shard=N dirs whose files carry shard_pos order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val docs = (0L until 60L).map(d => (d, s"tok$d text", "en", "src", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.sink.DatasetWriter.writeShards(docs, dir, nShards = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 60)
    assert(back.columns.toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars", "shard", "shard_pos"))
    // every shard dir exists and its parquet files, read in order, are
    // shard_pos-ascending — the training-job read contract
    val expected = Curate.trainingShards(docs, nShards = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    (0 until 4).foreach { sId =>
      val d = new java.io.File(s"$dir/shard=$sId")
      assert(d.exists(), s"missing shard dir $sId")
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      val rows = files.flatMap(f =>
        spark.read.parquet(f.getAbsolutePath)
          .select("doc_id", "shard_pos").as[(Long, Long)].collect())
      assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq,
        s"shard $sId not shard_pos-ordered")
      rows.foreach { case (docId, pos) =>
        assert(expected(docId) == ((sId, pos)), s"doc $docId mismatch")
      }
    }
  }

  // ------------------------------------------------------------ percentiles

  test("length percentiles pick exact discrete order statistics per lang") {
    // en: lengths 10..100 step 10 (n=10) → p25=ceil(2.5)=3rd=30,
    // p50=5th=50, p75=8th=80, p90=9th=90
    val en = (1 to 10).map(i => (i.toLong, "en", i * 10L))
    val de = Seq((100L, "de", 7L)) // single row: every percentile = 7
    val docs = (en ++ de).toDF("doc_id", "lang", "n_chars")
    val out = Curate.lengthPercentiles(docs)
      .select("lang", "n_docs", "p25", "p50", "p75", "p90")
      .as[(String, Long, Long, Long, Long, Long)].collect().toMap2
    assert(out("en") == ((10L, 30L, 50L, 80L, 90L)))
    assert(out("de") == ((1L, 7L, 7L, 7L, 7L)))
  }

  private implicit class Tup6Seq(rows: Array[(String, Long, Long, Long, Long, Long)]) {
    def toMap2: Map[String, (Long, Long, Long, Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
  }

  test("DSIR importance: target-vocabulary docs score positive, pool-only " +
    "docs negative, empty docs zero and unselected") {
    // target (src0) speaks {tx}; the pool (srcP) speaks {py}; doc 5 mixes.
    // With disjoint vocabularies the sign of the score is decided by
    // whichever distribution a doc's tokens come from, whatever the
    // hashed-bucket assignment — only equal-frequency symmetry could tie,
    // and the corpus here is asymmetric on purpose.
    val df = Seq(
      (1L, "t1 t2 t3 t1", "en", "src0", 10L),
      (2L, "t1 t3 t2 t2", "en", "src0", 10L),
      (3L, "p1 p2 p3 p4", "en", "srcP", 10L),
      (4L, "p1 p2 p2 p5", "en", "srcP", 10L),
      (5L, "t1 t1 t1 p1", "en", "srcP", 10L),
      (6L, "", "en", "srcP", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Curate.dsirImportance(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got(1L)._1 > 0 && got(1L)._2)
    assert(got(2L)._1 > 0 && got(2L)._2)
    assert(got(3L)._1 < 0 && !got(3L)._2)
    assert(got(4L)._1 < 0 && !got(4L)._2)
    // doc 5 nets NEGATIVE despite 3 target-vocab tokens: t1 is common in
    // BOTH distributions (3/8 target vs 3/12 pool), so its smoothed
    // probabilities nearly cancel, while p1 is pool-exclusive — the score
    // is driven by distribution-exclusive features, not raw token counts
    assert(got(5L)._1 < 0 && !got(5L)._2, s"mixed doc: ${got(5L)}")
    assert(got(6L) == ((0.0, false)))
  }

  test("training shards: md5-keyed shard + per-shard rank, stable under " +
    "repartitioning and corpus growth") {
    val docs = (0L until 40L).map(d => (d, s"tok$d text", "en", "src", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.trainingShards(docs, nShards = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    // shard is the documented pure function of doc_id
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    out.foreach { case (d, (shard, _, nTok)) =>
      assert(shard == (java.lang.Long.parseLong(md5hex(d.toString).take(5), 16) % 4).toInt)
      assert(nTok == 2L)
    }
    // per-shard positions are exactly 1..k
    out.groupBy(_._2._1).values.foreach { g =>
      assert(g.map(_._2._2).toSeq.sorted == (1L to g.size).toSeq)
    }
    // physically repartitioning the input changes nothing
    val re = Curate.trainingShards(docs.repartition(7), nShards = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(re == out)
    // corpus growth never changes an existing doc's shard or its order
    // relative to other survivors (ranks shift by insertions only)
    val grown = docs.union(
      (100L until 120L).map(d => (d, s"tok$d text", "en", "src", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val g2 = Curate.trainingShards(grown, nShards = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    out.foreach { case (d, (shard, _, _)) => assert(g2(d)._1 == shard) }
    out.groupBy(_._2._1).foreach { case (shard, g) =>
      val oldOrder = g.toSeq.sortBy(_._2._2).map(_._1)
      val newOrder = g2.filter { case (d, (s, _)) => out.contains(d) && s == shard }
        .toSeq.sortBy(_._2._2).map(_._1)
      assert(newOrder == oldOrder)
    }
  }

  // ---- trained quality classifier (r16, VERDICT r15 #5) ----------------

  private def qcCorpus(overlap: Boolean): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(7)
    def doc(words: IndexedSeq[String], n: Int) =
      Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val alpha = (0 until 10).map(i => s"alpha$i")
    val beta = (0 until 10).map(i => s"beta$i")
    val common = (0 until 5).map(i => s"common$i")
    def body(vocab: IndexedSeq[String]) =
      if (overlap) doc(common, 15) + " " + doc(vocab, 15) else doc(vocab, 30)
    // imbalanced on purpose (the production shape: the target slice is
    // the minority class)
    ((0 until 20).map(i => (i.toLong, "src0", body(alpha))) ++
      (20 until 50).map(i => (i.toLong, "src1", body(beta))))
      .toDF("doc_id", "source", "text")
  }

  test("quality classifier separates a vocab-disjoint corpus: every doc " +
    "predicted to its source after 3 exact gradient iterations") {
    val scored = Curate.qualityClassifierScore(qcCorpus(overlap = false))
      .collect()
    scored.foreach { r =>
      assert(r.getBoolean(3) == (r.getString(1) == "src0"),
        s"doc ${r.getLong(0)} (${r.getString(1)}) score ${r.getLong(2)}")
    }
  }

  test("quality classifier separates an overlapping-vocab corpus (shared " +
    "stopword mass riding both classes)") {
    val scored = Curate.qualityClassifierScore(qcCorpus(overlap = true))
      .collect()
    scored.foreach { r =>
      assert(r.getBoolean(3) == (r.getString(1) == "src0"),
        s"doc ${r.getLong(0)} (${r.getString(1)}) score ${r.getLong(2)}")
    }
  }

  test("quality classifier model is partitioning-invariant (exact integer " +
    "aggregations) and scores empty docs 0/not-target") {
    val base = qcCorpus(overlap = true)
      .union(Seq((90L, "src1", ""), (91L, "src1", null.asInstanceOf[String]))
        .toDF("doc_id", "source", "text"))
    val w1 = Curate.qualityClassifierWeights(base).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w2 = Curate.qualityClassifierWeights(base.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 == w2, "weights changed under repartitioning")
    assert(w1.nonEmpty && w1.valuesIterator.exists(_ != 0L))
    val sc = Curate.qualityClassifierScore(base).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(sc(90L) == ((0L, false)) && sc(91L) == ((0L, false)), sc.get(90L))
  }

  // ---- multi-class language labeler (r17, VERDICT r16 #4) ----

  private def lcCorpus(overlap: Boolean): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(11)
    def doc(words: IndexedSeq[String], n: Int) =
      Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val vocab = Map(
      "aa" -> (0 until 10).map(i => s"avocab$i"),
      "bb" -> (0 until 10).map(i => s"bvocab$i"),
      "cc" -> (0 until 10).map(i => s"cvocab$i"))
    val common = (0 until 5).map(i => s"common$i")
    // overlap keeps a shared-stopword band but lets class vocabulary
    // carry 2/3 of each doc's mass: one-vs-rest least squares hands the
    // shared mass mostly to the majority class, so a 50/50 split buries
    // the 8-doc minority class — a real property of the model, not a bug
    def body(lang: String) =
      if (overlap) doc(common, 10) + " " + doc(vocab(lang), 20)
      else doc(vocab(lang), 30)
    // imbalanced classes on purpose (production language mixes are)
    ((0 until 20).map(i => (i.toLong, "aa", body("aa"))) ++
      (20 until 50).map(i => (i.toLong, "bb", body("bb"))) ++
      (50 until 58).map(i => (i.toLong, "cc", body("cc"))))
      .toDF("doc_id", "lang", "text")
  }

  test("lang classifier labels a 3-class vocab-disjoint corpus: every doc " +
    "argmaxes to its own language after 3 exact gradient iterations") {
    val labeled = Curate.langClassifierLabel(lcCorpus(overlap = false))
      .collect()
    assert(labeled.length == 58)
    labeled.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"doc ${r.getLong(0)} (${r.getString(1)}) labeled ${r.getString(2)} " +
          s"score ${r.getLong(3)}")
    }
  }

  test("lang classifier separates 3 classes under shared stopword mass") {
    val labeled = Curate.langClassifierLabel(lcCorpus(overlap = true))
      .collect()
    labeled.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"doc ${r.getLong(0)} (${r.getString(1)}) labeled ${r.getString(2)}")
    }
  }

  test("lang classifier weight table is rectangular (every class carries " +
    "every sample feature), partitioning-invariant, and labels empty docs " +
    "to the smallest class with score 0") {
    val base = lcCorpus(overlap = true)
      .union(Seq((90L, "bb", ""), (91L, "cc", null.asInstanceOf[String]))
        .toDF("doc_id", "lang", "text"))
    val w1 = Curate.langClassifierWeights(base).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w2 = Curate.langClassifierWeights(base.repartition(7)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(w1 == w2, "weights changed under repartitioning")
    // rectangular support: the scoring inner join relies on every class
    // having a row for every feature present in the sample
    val classes = w1.keySet.map(_._1)
    val featsPerClass = w1.keySet.groupBy(_._1).view.mapValues(_.map(_._2))
    assert(classes == Set("aa", "bb", "cc"))
    assert(featsPerClass.values.toSet.size == 1,
      "per-class feature supports differ")
    val lb = Curate.langClassifierLabel(base).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(lb(90L) == (("aa", 0L)) && lb(91L) == (("aa", 0L)), lb.get(90L))
  }

  test("lang classifier: null labels never become classes (ADVICE r17) " +
    "and null-labeled docs are still scored against the kept classes") {
    val rnd = new scala.util.Random(13)
    def adoc() = Seq.fill(20)(s"avocab${rnd.nextInt(10)}").mkString(" ")
    val base = lcCorpus(overlap = false)
      .union(Seq((95L, null.asInstanceOf[String], adoc()),
        (96L, null.asInstanceOf[String], adoc()))
        .toDF("doc_id", "lang", "text"))
    val w = Curate.langClassifierWeights(base).collect()
    assert(w.map(_.getString(0)).toSet == Set("aa", "bb", "cc"),
      "null lang leaked into the class set")
    val lb = Curate.langClassifierLabel(base).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    // null-labeled docs written in class-aa vocabulary argmax to aa
    assert(lb(95L).contains("aa") && lb(96L).contains("aa"), lb.get(95L))
  }

  test("lang classifier caps the class set at the top-QcMaxClasses " +
    "sample labels by frequency (rare labels train as negatives)") {
    // 3 real classes (5 docs each) + 70 singleton labels: the cap keeps
    // aa/bb/cc plus the 61 name-smallest singletons (count desc, name asc)
    val rnd = new scala.util.Random(17)
    def doc(v: String) = Seq.fill(15)(s"$v${rnd.nextInt(8)}").mkString(" ")
    val majors = for ((l, j) <- Seq("aa", "bb", "cc").zipWithIndex; i <- 0 until 5)
      yield (100L * j + i, l, doc(l.take(1) + "vocab"))
    val rares = (0 until 70).map(i =>
      (1000L + i, f"u$i%02d", doc("rarevocab")))
    val w = Curate.langClassifierWeights(
      (majors ++ rares).toDF("doc_id", "lang", "text")).collect()
    val classes = w.map(_.getString(0)).toSet
    val expected = Set("aa", "bb", "cc") ++
      (0 until 61).map(i => f"u$i%02d")
    assert(classes == expected,
      s"got ${classes.size} classes; diff = ${classes.diff(expected)} / ${expected.diff(classes)}")
  }
}
