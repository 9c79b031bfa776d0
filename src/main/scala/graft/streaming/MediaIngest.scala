package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Multimodal
import graft.sink.Sink
import graft.util.CacheScope

/** The MEDIA branch of streaming ingest (VERDICT r11 #6 — [[DocIngest]]
  * is text-only, but a crawl yields mixed text+media): each micro-batch
  * of media rows (`media_id`, `kind`, `content` binary) flows through
  *
  *   1. the declared-kind gate — `image`, `video` and `audio` rows
  *      (r16 completed the matrix; audio previously passed unexamined)
  *      enter their perceptual pipelines; other kinds pass through to
  *      the accepted sink unexamined;
  *   2. the byte-level payload pre-gate (md5 of the raw bytes vs the
  *      index's `payload/` relation + within-batch payload groups) —
  *      byte-identical re-crawls of ANY examined kind skip the codec
  *      and INHERIT their signature (copies from their within-batch
  *      canonical, cross-batch matches from the sig/asig/vframes
  *      index: same bytes ⇒ same signature), then take the ordinary
  *      verdict path — the gate changes WHO pays the codec, never a
  *      verdict (r14; the verdict stage's input relation is
  *      bit-identical with the gate on or off). An index-known row
  *      whose signature fetch MISSES (partial concurrent append before
  *      a crash, externally pruned index) falls back to the decode
  *      path instead of vanishing (r16, ADVICE r15);
  *   3. decode → signature for novel payloads only
  *      ([[Multimodal.hashBatch]] — image dHash or audio amplitude
  *      fingerprint — / [[Multimodal.hashVideoBatch]] per-keyframe dHash;
  *      one partition-local pass, payloads never shuffle); undecodable
  *      bytes route to the rejected sink as `decode_error` (the
  *      dead-letter pattern);
  *   4. the PERSISTED-signature gates: images and audio are the two
  *      64-bit [[Multimodal.SigKind]]s and run one loop over the same
  *      code ([[Multimodal.dedupVerdicts]] — fused exact-signature +
  *      hub-budgeted band Hamming over sig/+bands/ or asig/+abands/, the
  *      signature halves riding the band rows, the q113/q118 semantics);
  *      video keeps its own rule
  *      ([[Multimodal.incrementalVideoDedupAgainstIndex]] — directed
  *      frame-hash containment over the `vframes/` relation, the q116
  *      semantics). Kept media append their signatures back so the NEXT
  *      batch sees them; duplicates land in the duplicate sink with
  *      `dup_of` resolved to the ROOT canonical. Every index relation is
  *      read through [[Multimodal.readIndex]].
  *
  * Scale shape per batch: decode cost is batch-linear and partition-
  * local; the index joins stream the signature relations with
  * batch-sized shuffles only (never an index-sized exchange); the
  * write-back is a batch-sized parquet append. The index stores
  * signatures, never payloads: 16 bytes + 8 band rows per kept image,
  * 16 bytes per kept keyframe, 16 bytes + 36 band-pair rows per kept
  * audio clip, every band row carrying the 16-byte signature.
  *
  * Crash/replay: write-back-first ordering plus the verdict joins'
  * self-match exclusion make replays idempotent for routing, exactly as
  * [[CrawlDedup.processBatch]] documents for text.
  */
object MediaIngest {

  /** Target rows per shuffle partition for the per-batch exchange sizing
    * in [[processBatch]] — ~2,500 rows keeps a 20 k-row batch at 8
    * partitions (the measured sweet spot on the standard probe) and a
    * 30 k-row heavy batch at 12, while a genuinely large batch is capped
    * by the session default, never sized up.
    */
  val RowsPerShufflePartition = 2500L

  /** The declared kinds the ingest loop examines; anything else is
    * passthrough.
    */
  private val ExaminedKinds = Seq("image", "video", "audio")

  /** The [[DocIngest.StageTimings]] stage each kind's decode is timed in. */
  private val DecodeStage =
    Map("image" -> "decode_hash", "video" -> "decode_video", "audio" -> "decode_audio")

  /** Run `body` (plan compilation AND its eager actions) with the given
    * shuffle-partition setting, restoring the current one after.
    */
  private def withShuffleParts[T](spark: SparkSession, parts: String)(
      body: => T): T = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", cur)
  }

  final case class MediaBatchMetrics(
      batchId: Long,
      nIn: Long,
      nImages: Long,
      nVideos: Long,
      nAudios: Long,
      nPassthrough: Long,
      nDecodeErr: Long,
      nExactDup: Long,
      nNearDup: Long,
      nAccepted: Long)

  /** Create an EMPTY persisted signature index at `path`: every
    * [[Multimodal.IndexRelations]] relation (image sig/ + bands/, audio
    * asig/ + abands/, the payload/ byte-identity relation, video vframes/).
    */
  def initIndex(spark: SparkSession, path: String): Unit =
    Multimodal.IndexRelations.foreach { case (rel, schema) =>
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
        .write.mode("overwrite").parquet(s"$path/$rel")
    }

  /** Process one micro-batch (directly unit-testable): kind gate →
    * decode/hash → index verdicts → route → signature write-back.
    *
    * `payloadGate = false` disables the byte-level pre-gate: every
    * examined row pays the codec and all duplicate detection rides the
    * decoded signatures (the pre-r13 behavior). The right setting when
    * payload bytes are NOT stable across crawls (same pixels,
    * re-compressed container — the md5 never matches and the gate is
    * pure overhead), and the control arm of the probe's pre-gate A/B.
    */
  def processBatch(
      batchDf: DataFrame,
      batchId: Long,
      indexPath: String,
      sink: Sink,
      timings: DocIngest.StageTimings = new DocIngest.StageTimings,
      payloadGate: Boolean = true): MediaBatchMetrics = {
    val spark = batchDf.sparkSession
    import spark.implicits._
    // The r13 job diet: the first payload-gated probe run measured the
    // decode win fully eaten by per-batch FIXED job overhead (every
    // count/isEmpty/checkpoint is a scheduled job at micro-batch
    // cadence), so this method budgets Spark jobs the way the text loop
    // budgets shuffles. The batch's FIRST job does double duty: it pins
    // the payload-hash relation (md5 over every examined payload — the
    // byte-level pre-gate's probe side, consumed by the verdict joins,
    // the novel anti-join and the index write-back) and carries the
    // kind census as an Observation on the same scan, so branch gating
    // and the volume metrics cost no job of their own. (Gate off: the
    // same job pins only (media_id) — the census still rides it.)
    val census = org.apache.spark.sql.Observation()
    val observed = batchDf.observe(census, count(lit(1)).as("all"),
      ExaminedKinds.map(k => count(when(col("kind") === k, 1)).as(k)): _*)
    val passthrough = batchDf.filter(!col("kind").isin(ExaminedKinds: _*))
    // BYTE-LEVEL PRE-GATE (VERDICT r12 #1 — re-crawl traffic is
    // dominated by byte-identical copies that got fully decoded before
    // a signature join could reject them). md5 the RAW payload: same
    // bytes => same pixels/frames/PCM => same signature => the decode
    // path's exact_dup verdict, so byte-matches — within the batch
    // (only the smallest media_id of each payload group decodes) and
    // against the index's payload/ relation — skip the codec entirely,
    // for all three examined kinds.
    val pay = timings.time("prep_census")(
      (if (payloadGate)
        Multimodal.payloadHashes(
          observed.filter(col("kind").isin(ExaminedKinds: _*)))
      else
        observed.filter(col("kind").isin(ExaminedKinds: _*))
          .select(col("media_id")))
        .localCheckpoint(true))
    val censusRow = census.get
    val n = ExaminedKinds.map(k => k -> censusRow(k).asInstanceOf[Long]).toMap
    val (nImg, nVid, nAud) = (n("image"), n("video"), n("audio"))
    val nPass = censusRow("all").asInstanceOf[Long] - nImg - nVid - nAud
    if (nImg + nVid + nAud == 0) {
      CacheScope.release(pay)
      if (nPass > 0)
        timings.time("passthrough_append")(
          sink.append(passthrough, "accepted_media"))
      return MediaBatchMetrics(batchId, nPass, 0, 0, 0, nPass, 0, 0, 0, nPass)
    }
    // Micro-batch exchanges are sized to the BATCH, not the session
    // default (r15, VERDICT r14 #3): AQE partition coalescing does not
    // apply to streaming-derived plans, so a ~20 k-row batch on a
    // 32-partition default pays 32 tasks per exchange across the ~10
    // exchanges of the verdict path — measured 52.3 → 42.2 s on the
    // standard probe (verdicts stage 20.4 → 14.6 s, decode 10.0 → 3.4 s)
    // when sized to ~[[RowsPerShufflePartition]] rows per partition. The
    // value is restored after the batch; foreachBatch hands this method
    // the stream's cloned session, so the override cannot leak to
    // concurrent users of the original session. Never sized UP: a batch
    // larger than default × target keeps the session setting.
    val prevShuffleParts = spark.conf.get("spark.sql.shuffle.partitions")
    val batchParts = math.max(4L, math.min(prevShuffleParts.toLong,
      (nImg + nVid + nAud + RowsPerShufflePartition - 1)
        / RowsPerShufflePartition))
    spark.conf.set("spark.sql.shuffle.partitions", batchParts.toString)
    try {
    val examined = batchDf.filter(col("kind").isin(ExaminedKinds: _*))
    // the gate verdicts themselves stay LAZY (their expensive leaf —
    // the payload hashes — is pinned above): every consumer (the novel
    // anti-join inside the decode checkpoints, the verdict union inside
    // the resolve round's checkpoint) materializes BEFORE the first
    // index append lands, so the recache hazard cannot bite — and a
    // per-batch eager checkpoint is exactly the fixed job cost this
    // method diets away. The re-evaluations ride other jobs' stages
    // (joins over pinned blocks plus the tiny payload-index scan).
    // The pre-gate SKIPS THE CODEC, it never pre-judges (r14, VERDICT r13
    // #4): a payload match means the row's SIGNATURE IS KNOWN without
    // decoding — byte-identical bytes ⇒ identical pixels/frames/PCM ⇒
    // identical signatures — so payload-matched rows INHERIT their
    // signatures (within-batch copies from their canonical, cross-batch
    // matches from the sig/asig/vframes index) and flow through the
    // SAME verdict relation the decode path feeds. The verdict stage
    // then sees a bit-identical input whether the gate is on or off —
    // the r13 A/B's 0.16% survivor divergence came from pre-judged
    // exact_dup verdicts hiding the copies' (known) signatures from the
    // batch match side, while the gate-off arm's decoded copies
    // resurrected index pairs the band hub budget had dropped.
    // Canonicalization is per (payload_hash, KIND): identical bytes
    // under different declared kinds decode separately, exactly as the
    // gate-off arm does.
    // The payload-match relation is computed ONCE and PINNED (VERDICT r14
    // #3 — the r14 shape left it lazy, and its joins — payload groupBy,
    // payload-index lookup, signature fetch — re-evaluated inside every
    // consumer: the novel anti-join, badVerdicts, copyVerdicts, and ~6
    // batch-relation scans inside the verdict joins, which is where the
    // 32 → 54 s standard-probe regression lived). ONE eager checkpoint
    // carries: within-batch copies (src='copy', canon = verdict target)
    // and index-known canonicals (src='ix', canon = the MINIMUM matching
    // ix_id — byte-identical payloads have identical signatures, so one
    // ix row is as good as all of them and the later sig fetch needs no
    // distinct over copies). The per-kind match counts ride the
    // checkpoint job as an Observation, so the signature-inheritance
    // joins are GATED: a batch with no index-known rows of a kind skips
    // that kind's signature fetch and its pin entirely — zero extra
    // jobs on the r13 shape.
    val payMatchObs = org.apache.spark.sql.Observation()
    val payMatch =
      if (!payloadGate)
        Seq.empty[(Long, String, Long, String)]
          .toDF("media_id", "kind", "canon", "src")
      else {
        val payCanon = pay.groupBy("payload_hash", "kind")
          .agg(min("media_id").as("canon"))
        val copies = pay.join(payCanon, Seq("payload_hash", "kind"))
          .filter(col("media_id") =!= col("canon"))
          .select(col("media_id"), col("kind"), col("canon"),
            lit("copy").as("src"))
        val canonRows = pay.join(copies.select(col("media_id").as("xid")),
          col("media_id") === col("xid"), "left_anti")
        // self-match excluded (replay: own payload rows already appended)
        val payIx = Multimodal.readIndex(spark, indexPath, "payload")
        val ixKnown = canonRows.join(payIx, Seq("payload_hash"))
          .filter(col("ix_id") =!= col("media_id"))
          .groupBy(col("media_id"), col("kind"))
          .agg(min("ix_id").as("canon"))
          .select(col("media_id"), col("kind"), col("canon"),
            lit("ix").as("src"))
        val ixCounts = ExaminedKinds.map(k =>
          count(when(col("src") === "ix" && col("kind") === k, 1)).as(k))
        copies.unionByName(ixKnown)
          .observe(payMatchObs, ixCounts.head, ixCounts.tail: _*)
          .localCheckpoint(true)
      }
    val nIx: Map[String, Long] = ExaminedKinds.map(k => k ->
      (if (payloadGate) payMatchObs.get(k).asInstanceOf[Long] else 0L)).toMap
    val payCopies = payMatch.filter(col("src") === "copy")
      .select(col("media_id"), col("canon"), col("kind"))
    // index-known rows fetch their (known) signature from the index BY
    // the pinned min ix_id — one equi-join over the pinned match
    // relation, gated on the observed per-kind count, PINNED eagerly
    // (r16): the fetch is consumed by the novel anti-join AND the
    // verdict probe relations, and pinning the fetch itself (instead of
    // the r15 shape's pinned probe-side union) is what lets a fetch
    // MISS fall back to decode — an ix-known row whose sig/asig/vframes
    // row is missing (partial concurrent append before a crash,
    // externally pruned index) simply isn't in the fetched relation, so
    // the anti-join below routes it into the decode path instead of
    // silently dropping it from every sink (ADVICE r15). Same job
    // count: one pin per present kind either way.
    def ixKnown(kind: String, rel: String): DataFrame =
      payMatch.filter(col("src") === "ix" && col("kind") === kind)
        .select(col("media_id"), col("canon").as("ix_id"))
        .join(Multimodal.readIndex(spark, indexPath, rel), Seq("ix_id"))
        .withColumn("decoded", lit(true))
    // the signature kinds (image dHash, audio fingerprint) present in
    // the batch share every step below; video keeps its own branch
    // (containment is a different rule)
    val sigKinds = Multimodal.SigKinds.filter(k => n(k.name) > 0)
    val knownSig: Map[String, DataFrame] =
      sigKinds.filter(k => nIx(k.name) > 0).map(k => k.name ->
        ixKnown(k.name, k.sigRel)
          .select(col("media_id"), col("decoded"), col(k.hi), col(k.lo))
          .localCheckpoint(true)).toMap
    val knownVid =
      if (nIx("video") == 0)
        Seq.empty[(Long, Boolean, Int, Long, Long)]
          .toDF("media_id", "decoded", "frame_idx", "dhash_hi", "dhash_lo")
      else ixKnown("video", "vframes")
        .select(col("media_id"), col("decoded"),
          lit(-1).as("frame_idx"), col("dhash_hi"), col("dhash_lo"))
        .distinct() // a clip's own repeated frame hashes collapse, as the
        // decode path's distinct frame relation has them collapsed
        .localCheckpoint(true)
    locally {
      val verdictPins = scala.collection.mutable.ArrayBuffer[DataFrame]()
      // only rows with NO inherited signature pay a codec: payload
      // copies inherit from their canonical, ix-known rows from their
      // pinned fetch — and a fetch MISS (see the pin note above) lands
      // the row back here, decoded like any novel payload. Pinned
      // eagerly: hashes feed the verdict joins, the routing joins and
      // the index write-backs. Absent kinds skip their whole branch —
      // zero jobs.
      val novel =
        if (payloadGate)
          examined.join(
            (Seq(payCopies.select("media_id"),
              knownVid.select("media_id").distinct()) ++
              knownSig.values.map(_.select("media_id"))).reduce(_ unionByName _),
            Seq("media_id"), "left_anti")
        else examined
      // the DECODE chains run at the SESSION's partitioning, not the
      // batch-sized one: the codec pass is CPU-bound and partition-local
      // (decode parallelism = the novel relation's partition count, which
      // the anti-join sets to spark.sql.shuffle.partitions), so shrinking
      // it starves cores exactly where the heavy-payload arm spends its
      // time — measured 46 → 76 s on the heavy probe before this carve-out
      def decode(kind: String)(hash: DataFrame => DataFrame): DataFrame =
        withShuffleParts(spark, prevShuffleParts)(timings.time(DecodeStage(kind))(
          hash(novel.filter(col("kind") === kind)).localCheckpoint(true)))
      val hashed: Map[String, DataFrame] = sigKinds.map(k =>
        k.name -> decode(k.name)(Multimodal.hashBatch(k, _))).toMap
      val vhashed =
        if (nVid > 0) decode("video")(Multimodal.hashVideoBatch(_))
        else Seq.empty[(Long, Boolean, Int, Long, Long)]
          .toDF("media_id", "decoded", "frame_idx", "dhash_hi", "dhash_lo")
      try {
        // undecodable payloads become verdict rows themselves (one
        // relation carries every routing decision — no separate
        // dead-letter count jobs), and payload copies of an undecodable
        // canonical inherit decode_error exactly as the pre-gate-less
        // path decoded-and-failed each of them
        val badCanon = (vhashed.filter(!col("decoded")).select("media_id").distinct() +:
          sigKinds.map(k => hashed(k.name).filter(!col("decoded")).select("media_id")))
          .reduce(_ unionByName _)
        val badVerdicts = badCanon
          .unionByName(payCopies
            .join(badCanon.select(col("media_id").as("bc")),
              col("canon") === col("bc"))
            .select("media_id"))
          .select(col("media_id"), lit("decode_error").as("status"),
            lit(null).cast("long").as("dup_of"))
        // the verdict stage's PROBE relation: decoded canonicals ∪
        // index-known canonicals — signature-for-signature the same
        // relation the gate-off arm's decodes produce, because payload
        // COPIES carry no information a canonical lacks (same bytes ⇒
        // same signature, larger media_id ⇒ never a match winner).
        // Copies therefore don't probe: each one verdicts straight to
        // its canonical — exact_dup for images/audio (signature
        // equality is the decode path's exact class), near_dup for
        // video (containment has no exact class) — and root resolution
        // rewrites it to the canonical's own root, which is provably
        // the dup_of the gate-off arm's probed copy resolves to (the
        // canonical is each copy's best admissible match or shares its
        // target). Keeping the ~K copies per batch out of the band-
        // candidate joins is what preserves the gate arm's wall-time
        // win beyond the codec itself.
        // Since r16 each per-kind probe relation is a UNION OF PINNED
        // BLOCKS (the decode checkpoint + the fetch checkpoint), so the
        // verdict joins' many scans re-evaluate only the union — no
        // extra pin needed (the r15 shape pinned the union instead,
        // which is why a fetch miss had nowhere to fall back to).
        val sigAll = sigKinds.map(k => k -> knownSig.get(k.name)
          .foldLeft(hashed(k.name).filter(col("decoded")))(_ unionByName _))
        val vidAll = vhashed.filter(col("decoded")).unionByName(knownVid)
        val copyVerdicts = payCopies
          .join((vidAll.select(col("media_id").as("canon")).distinct() +:
            sigAll.map(_._2.select(col("media_id").as("canon"))))
            .reduce(_ unionByName _),
            Seq("canon"))
          .select(col("media_id"),
            when(col("kind") === "video", lit("near_dup"))
              .otherwise(lit("exact_dup")).as("status"),
            col("canon").as("dup_of"))
        // image and audio: fused within-batch + against-index verdicts
        // (ONE pass each — Multimodal.dedupVerdicts); video: intra
        // containment, then canonicals face the frame-hash index.
        // The fused verdict passes pin their internal `exact` relation;
        // collect those pins so the finally below frees their blocks when
        // the batch lands, like the signature fetches (ADVICE r16 —
        // previously they lingered until RDD GC, one block per micro-batch)
        val sigVerdicts = sigAll.map { case (k, all) =>
          Multimodal.dedupVerdicts(k, all, indexPath, onPin = verdictPins += _)
        }
        val (vidVerdicts, vintra) =
          if (nVid > 0) {
            val vi = timings.time("intra_batch_video")(
              Multimodal.intraBatchVideoDedup(vidAll))
            val canonV = vidAll.join(
              vi.filter(col("status") === "kept").select("media_id"), "media_id")
            (Multimodal.incrementalVideoDedupAgainstIndex(canonV, indexPath)
              .unionByName(vi.filter(col("status") =!= "kept")), Some(vi))
          } else
            (Seq.empty[(Long, String, Option[Long])]
              .toDF("media_id", "status", "dup_of"), None)
        // one verdict relation, dup_of resolved to the ROOT canonical
        // (ADVICE r12): pin once, reclassify copies-of-undecodable, then
        // the resolution round — ONE job per round, with the status
        // counts and the convergence test riding the round checkpoint as
        // an Observation (resolveDupRootsCounted), so the loop never
        // schedules a separate count. Everything materializes before the
        // first index append lands (the recache discipline).
        val (verdicts, counts) = timings.time("verdicts") {
          val raw = ((vidVerdicts +: sigVerdicts) :+ copyVerdicts :+ badVerdicts)
            .reduce(_ unionByName _)
          val badIds = badVerdicts.select(col("media_id").as("bad_id"))
          val adj = raw.join(badIds, raw("dup_of") === col("bad_id"), "left")
            .select(raw("media_id"),
              when(col("bad_id").isNotNull, lit("decode_error"))
                .otherwise(raw("status")).as("status"),
              when(col("bad_id").isNotNull, lit(null).cast("long"))
                .otherwise(raw("dup_of")).as("dup_of"))
            .localCheckpoint(true)
          vintra.foreach(CacheScope.release)
          try graft.ops.NearDup.resolveDupRootsCounted(adj, idCol = "media_id")
          finally CacheScope.release(adj)
        }
        try {
          val nKept = counts.getOrElse("kept", 0L)
          val nExact = counts.getOrElse("exact_dup", 0L)
          val nNear = counts.getOrElse("near_dup", 0L)
          val nDecodeErr = counts.getOrElse("decode_error", 0L)
          val keptIds = verdicts.filter(col("status") === "kept")
            .select("media_id")
          // kept-by-kind gates the per-kind index appends; single-kind
          // batches need no extra job for it
          val presentKinds = ExaminedKinds.filter(n(_) > 0)
          val keptByKind: Map[String, Long] =
            if (nKept == 0) Map.empty
            else if (presentKinds.sizeIs == 1)
              Map(presentKinds.head -> nKept)
            else keptIds
              .join(examined.select("media_id", "kind"), "media_id")
              .groupBy("kind").count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          if (nKept > 0) {
            // write-back FIRST (idempotent for verdicts AND routing — the
            // self-match exclusions cover the replay window). The index
            // relations are independent appends of pinned inputs:
            // submitted as concurrent jobs, awaited as a group before
            // any routing append starts.
            timings.time("index_append") {
              val jobs = Seq.newBuilder[() => Unit]
              for (k <- sigKinds if keptByKind.getOrElse(k.name, 0L) > 0)
                jobs += (() => Multimodal.appendSigIndex(k,
                  hashed(k.name).join(keptIds, "media_id"), indexPath))
              if (keptByKind.getOrElse("video", 0L) > 0)
                jobs += (() => Multimodal.appendVideoFrameIndex(
                  vhashed.join(keptIds, "media_id"), indexPath))
              if (payloadGate)
                jobs += (() => Multimodal.appendPayloadIndex(
                  pay.join(keptIds, "media_id"), indexPath))
              graft.util.ParJobs.run(jobs.result(): _*)
            }
          }
          // routing: three independent sinks over the pinned verdict
          // frame (kept + passthrough share the accepted sink — ONE
          // write), again one concurrent job group
          timings.time("route_append") {
            val jobs = Seq.newBuilder[() => Unit]
            if (nKept + nPass > 0)
              jobs += (() => sink.append(
                batchDf.join(keptIds, "media_id").unionByName(passthrough),
                "accepted_media"))
            if (nExact + nNear > 0)
              jobs += (() => sink.append(verdicts.filter(
                col("status").isin("exact_dup", "near_dup")),
                "duplicate_media"))
            if (nDecodeErr > 0)
              jobs += (() => sink.append(
                verdicts.filter(col("status") === "decode_error")
                  .select(col("media_id"),
                    lit("decode_error").as("reject_reason")),
                "rejected_media"))
            graft.util.ParJobs.run(jobs.result(): _*)
          }
          MediaBatchMetrics(batchId, nImg + nVid + nAud + nPass, nImg, nVid,
            nAud, nPass, nDecodeErr, nExact, nNear, nKept + nPass)
        } finally CacheScope.release(verdicts)
      } finally {
        // the per-batch pins are superseded once the routing appends
        // land — free their blocks now, not at the next GC (the empty
        // local relations of absent kinds hold nothing to free)
        (Seq(vhashed, knownVid, payMatch, pay) ++ hashed.values ++
          knownSig.values ++ verdictPins).foreach(CacheScope.release)
      }
    }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffleParts)
    }
  }

  /** Wire the full streaming query: foreachBatch(kind gate → hash →
    * verdicts → route → write-back), checkpointed. [[initIndex]] or a
    * prior [[Multimodal.writeSigIndex]] snapshot creates the index at
    * `indexPath`; a relation still missing there reads empty
    * ([[Multimodal.readIndex]]).
    */
  def start(
      spark: SparkSession,
      media: DataFrame,
      checkpointDir: String,
      indexPath: String,
      sink: Sink,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      timings: DocIngest.StageTimings = new DocIngest.StageTimings,
      metricsOut: MediaBatchMetrics => Unit = _ => (),
      payloadGate: Boolean = true): StreamingQuery = {
    val writer = media.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // one source scan per batch (see CrawlDedup.start's pin note; it
        // also keeps the engine's numInputRows honest — an unpinned
        // batch is scanned once per consumer and each scan is counted).
        // No separate isEmpty probe (r13 job diet): empty final ticks
        // (AvailableNow) ride the census job and surface as all-zero
        // metrics, dropped here.
        val pinned = batch.localCheckpoint(true)
        try {
          val m = processBatch(pinned, id, indexPath, sink, timings, payloadGate)
          if (m.nIn > 0) metricsOut(m)
        } finally CacheScope.release(pinned)
      }
    trigger.fold(writer)(writer.trigger).start()
  }
}
