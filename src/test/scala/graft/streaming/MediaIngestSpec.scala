package graft.streaming

import graft.SparkSpec
import graft.ops.Multimodal
import graft.ops.Multimodal.MediaCodec
import graft.sink.InMemorySink
import org.apache.spark.sql.functions._

/** The streaming media-ingest branch: declared-kind gate, real PNG
  * decode → dHash, verdicts against the persisted signature index with
  * write-back, dead-letter routing for undecodable payloads, same-batch
  * resolution, and replay idempotency.
  */
class MediaIngestSpec extends SparkSpec {
  import spark.implicits._

  // bounded < 199 so a +10 brightness shift never wraps → dHash-identical
  private def baseF(x: Int, y: Int) = (x * 31 + y * 17) % 199
  private def shiftF(x: Int, y: Int) = baseF(x, y) + 10
  // invert a corner block: flips a few gradient bits (near-dup radius)
  private def nearF(x: Int, y: Int) =
    if (x < 3 && y < 2) 198 - baseF(x, y) else baseF(x, y)
  // descending-x gradient: opposite bit pattern, far outside the radius
  private def otherF(x: Int, y: Int) = (200 - x * 8 + y * 3).abs % 199
  private def thirdF(x: Int, y: Int) = (x * 7 + y * 51) % 199

  private def png(f: (Int, Int) => Int) = MediaCodec.encodePng(24, 16, f)

  private def mediaDf(rows: (Long, String, Array[Byte])*) =
    rows.toDF("media_id", "kind", "content")

  private def hashOf(f: (Int, Int) => Int): (Long, Long) = {
    val r = Multimodal.hashBatch(Multimodal.ImageSig,
      mediaDf((0L, "image", png(f)))).head()
    (r.getLong(2), r.getLong(3))
  }

  test("planted geometry: shift is hash-identical, corner inversion is " +
    "within the near radius, opposite gradient is far outside it") {
    val (bh, bl) = hashOf(baseF)
    assert(hashOf(shiftF) == ((bh, bl)))
    val (nh, nl) = hashOf(nearF)
    val dNear = java.lang.Long.bitCount(bh ^ nh) + java.lang.Long.bitCount(bl ^ nl)
    assert(dNear >= 1 && dNear <= Multimodal.MaxHamming, s"near hamming $dNear")
    val (oh, ol) = hashOf(otherF)
    val dOther = java.lang.Long.bitCount(bh ^ oh) + java.lang.Long.bitCount(bl ^ ol)
    assert(dOther > Multimodal.MaxHamming, s"other hamming $dOther")
  }

  test("media ingest end-to-end: kind gate, decode dead-letter, cross-" +
    "batch image dedup against the persisted signature index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediaix").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    // batch 0: two distinct images, one text passthrough (audio is
    // EXAMINED since r16), one corrupt
    val m0 = MediaIngest.processBatch(
      mediaDf((1L, "image", png(baseF)), (2L, "image", png(otherF)),
        (3L, "text", Array[Byte](1, 2, 3)),
        (4L, "image", "not a png".getBytes)),
      0L, dir, sink)
    assert(m0.nImages == 3 && m0.nPassthrough == 1 && m0.nDecodeErr == 1 &&
      m0.nExactDup == 0 && m0.nNearDup == 0 && m0.nAccepted == 3, m0)
    assert(sink.tables("accepted_media").map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    assert(sink.tables("rejected_media").map(r =>
      (r.getLong(0), r.getString(1))).toSet == Set((4L, "decode_error")))
    // batch 1: exact re-encode of 1, brightness-shifted copy of 1 (same
    // hash by design), corner-inverted near-dup of 1, one novel image
    val m1 = MediaIngest.processBatch(
      mediaDf((10L, "image", png(baseF)), (11L, "image", png(shiftF)),
        (12L, "image", png(nearF)), (13L, "image", png(thirdF))),
      1L, dir, sink)
    assert(m1.nExactDup == 2 && m1.nNearDup == 1 && m1.nAccepted == 1, m1)
    val dup = sink.tables("duplicate_media")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(dup(10L) == (("exact_dup", 1L)), dup)
    // 10 and 11 share a hash and arrived TOGETHER: 11 resolves in-batch
    // against 10, and the SINKED dup_of is the chain's root (11 → 10 → 1
    // ⇒ 1) — r13 root resolution, same contract as the text loop
    assert(dup(11L) == (("exact_dup", 1L)), dup)
    // 12 is ALSO in batch 1: its smallest in-batch verified partner is 10
    // (chain 12 → 10 → 1 ⇒ root 1)
    assert(dup(12L) == (("near_dup", 1L)), dup)
    // the index holds exactly the kept signatures
    val ix = spark.read.parquet(s"$dir/sig").select("ix_id")
      .collect().map(_.getLong(0)).toSet
    assert(ix == Set(1L, 2L, 13L), ix)
  }

  test("replayed media batch is idempotent for routing: kept images " +
    "re-verdict kept against their own appended signatures") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediarp").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    val b0 = mediaDf((1L, "image", png(baseF)), (2L, "image", png(otherF)))
    val first = MediaIngest.processBatch(b0, 0L, dir, sink)
    assert(first.nAccepted == 2)
    val replay = MediaIngest.processBatch(b0, 0L, dir, sink)
    assert(replay.nExactDup == 0 && replay.nNearDup == 0 &&
      replay.nAccepted == 2, replay)
  }

  test("payload pre-gate: byte-identical copies skip the codec entirely, " +
    "verdicts identical to the decode path's") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediapg").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    val basePng = png(baseF)
    val otherPng = png(otherF)
    // batch 0: image 1 + two byte-copies of it, plus one distinct image —
    // only the two payload CANONICALS (1, 4) may touch the codec
    MediaCodec.decodeCalls.set(0)
    val m0 = MediaIngest.processBatch(
      mediaDf((1L, "image", basePng), (2L, "image", basePng),
        (3L, "image", basePng), (4L, "image", otherPng)),
      0L, dir, sink)
    assert(m0.nAccepted == 2 && m0.nExactDup == 2 && m0.nDecodeErr == 0, m0)
    assert(MediaCodec.decodeCalls.get() == 2,
      s"payload copies decoded: ${MediaCodec.decodeCalls.get()} calls")
    // batch 1: byte re-crawls of both kept images — the dominant crawl
    // duplicate class — must verdict exact_dup with ZERO decode calls
    MediaCodec.decodeCalls.set(0)
    val m1 = MediaIngest.processBatch(
      mediaDf((10L, "image", basePng), (11L, "image", otherPng)),
      1L, dir, sink)
    assert(m1.nExactDup == 2 && m1.nAccepted == 0, m1)
    assert(MediaCodec.decodeCalls.get() == 0,
      s"re-crawl decoded: ${MediaCodec.decodeCalls.get()} calls")
    val dup = sink.tables("duplicate_media")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(dup(2L) == (("exact_dup", 1L)) && dup(3L) == (("exact_dup", 1L)), dup)
    assert(dup(10L) == (("exact_dup", 1L)) && dup(11L) == (("exact_dup", 4L)), dup)
    // the payload relation carries exactly the kept images' byte hashes
    val payIx = spark.read.parquet(s"$dir/payload").select("ix_id")
      .collect().map(_.getLong(0)).toSet
    assert(payIx == Set(1L, 4L), payIx)
  }

  test("payloadGate=false is the decode-everything control arm: routing " +
    "identical to the gated path, every examined row pays the codec, " +
    "no payload rows written") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediang").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    val basePng = png(baseF)
    val otherPng = png(otherF)
    MediaCodec.decodeCalls.set(0)
    val m0 = MediaIngest.processBatch(
      mediaDf((1L, "image", basePng), (2L, "image", basePng),
        (3L, "image", basePng), (4L, "image", otherPng)),
      0L, dir, sink, payloadGate = false)
    assert(m0.nAccepted == 2 && m0.nExactDup == 2 && m0.nDecodeErr == 0, m0)
    assert(MediaCodec.decodeCalls.get() == 4,
      s"gate off must decode all four: ${MediaCodec.decodeCalls.get()} calls")
    MediaCodec.decodeCalls.set(0)
    val m1 = MediaIngest.processBatch(
      mediaDf((10L, "image", basePng), (11L, "image", otherPng)),
      1L, dir, sink, payloadGate = false)
    assert(m1.nExactDup == 2 && m1.nAccepted == 0, m1)
    assert(MediaCodec.decodeCalls.get() == 2,
      s"gate off re-crawl must decode both: ${MediaCodec.decodeCalls.get()}")
    // routing equals the gated run's (the pre-gate test above): the
    // byte-copies resolve to the same canonicals via decoded signatures
    val dup = sink.tables("duplicate_media")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(dup(2L) == (("exact_dup", 1L)) && dup(3L) == (("exact_dup", 1L)), dup)
    assert(dup(10L) == (("exact_dup", 1L)) && dup(11L) == (("exact_dup", 4L)), dup)
    // gate off maintains no byte-identity relation
    val payIx = spark.read.parquet(s"$dir/payload").count()
    assert(payIx == 0L, s"payload rows written with gate off: $payIx")
  }

  test("payload-gate A/B arms yield bit-identical verdicts and sig/bands " +
    "index contents on the same stream (r14: the match side is signature-" +
    "canonicalized, so the control arm's decoded byte-copies add no " +
    "band rows the gated arm lacks)") {
    def runArm(gate: Boolean): (Set[Long], Set[(Long, String, Long)],
        Set[(Long, Long, Long)], Set[(Long, Int, Long)]) = {
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft-mediaab-$gate").toString
      MediaIngest.initIndex(spark, dir)
      val sink = new InMemorySink
      // batch 0: canonical + two byte-copies + a near-dup + an unrelated
      MediaIngest.processBatch(
        mediaDf((1L, "image", png(baseF)), (2L, "image", png(baseF)),
          (3L, "image", png(baseF)), (4L, "image", png(nearF)),
          (5L, "image", png(otherF))),
        0L, dir, sink, payloadGate = gate)
      // batch 1: re-crawled copies of both kept canonicals + novel
      MediaIngest.processBatch(
        mediaDf((10L, "image", png(baseF)), (11L, "image", png(otherF)),
          (12L, "image", png(thirdF)), (13L, "image", png(thirdF))),
        1L, dir, sink, payloadGate = gate)
      val acc = sink.tables("accepted_media").map(_.getLong(0)).toSet
      val dup = sink.tables("duplicate_media")
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val sig = spark.read.parquet(s"$dir/sig")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val bands = spark.read.parquet(s"$dir/bands")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      (acc, dup, sig, bands)
    }
    val on = runArm(true)
    val off = runArm(false)
    assert(on == off, s"arms diverged:\n gated=$on\n control=$off")
  }

  test("byte-identical copies of an UNDECODABLE payload inherit " +
    "decode_error (the pre-gate-less routing), never exact_dup of a " +
    "rejected canonical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediabad").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    val bad = "definitely not a png".getBytes
    val m = MediaIngest.processBatch(
      mediaDf((1L, "image", bad), (2L, "image", bad),
        (3L, "image", png(baseF))),
      0L, dir, sink)
    assert(m.nDecodeErr == 2 && m.nAccepted == 1 && m.nExactDup == 0, m)
    val rej = sink.tables("rejected_media")
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rej == Set((1L, "decode_error"), (2L, "decode_error")), rej)
    assert(sink.tables("accepted_media").map(_.getLong(0)).toSet == Set(3L))
  }

  test("video branch: truncations and re-ordered re-encodes dedup against " +
    "the persisted frame-hash index across batches; supercuts with novel " +
    "frames are kept (directed containment)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediavx").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    // structurally-distinct frames (see MultimodalSpec's video test)
    def px(f: Int)(x: Int, y: Int) = ((x + 16 * f) * 73 + y * 17) % 251
    def oth(f: Int)(x: Int, y: Int) = (250 - x * 13 + y * 29 + f * 5).abs % 256
    def y4m(n: Int, p: Int => (Int, Int) => Int) =
      MediaCodec.encodeY4m(16, 12, n, (f, x, y) => p(f)(x, y))
    // batch 0: the 6-frame original + an unrelated clip
    val m0 = MediaIngest.processBatch(
      mediaDf((1L, "video", y4m(6, px)), (2L, "video", y4m(6, oth))),
      0L, dir, sink)
    assert(m0.nVideos == 2 && m0.nAccepted == 2 && m0.nImages == 0, m0)
    // batch 1: a truncation (first half), a frame-REVERSED re-encode
    // (same frame set, different bytes — must go through containment,
    // not the payload gate), and a byte-identical re-crawl (payload
    // gate: no decode, frames INHERITED from the index — r14)
    val m1 = MediaIngest.processBatch(
      mediaDf((10L, "video", y4m(3, px)),
        (11L, "video", y4m(6, f => px(5 - f))),
        (12L, "video", y4m(6, px))),
      1L, dir, sink)
    // all three verdict near_dup: the video taxonomy is containment-
    // based, and the decode path (= the gate-off arm) has no byte-exact
    // class — since r14 the pre-gate only skips the codec, it never
    // pre-judges, so the byte-identical re-crawl takes the SAME verdict
    // the gate-off arm would give it (pre-r14 it was pre-judged
    // exact_dup, one of the two sources of A/B arm divergence)
    assert(m1.nExactDup == 0 && m1.nNearDup == 3 && m1.nAccepted == 0, m1)
    val dup = sink.tables("duplicate_media")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // 10 ⊆ 11 in-batch (11 has more distinct frames), 11 == clip 1's
    // frame set against the index — roots resolve the whole chain to 1
    assert(dup(10L) == (("near_dup", 1L)), dup)
    assert(dup(11L) == (("near_dup", 1L)), dup)
    assert(dup(12L) == (("near_dup", 1L)), dup)
    // batch 2: a 9-frame supercut extending the original (6/9 shared <
    // 0.9 ⇒ kept, DIRECTED) and its own in-batch truncation
    val m2 = MediaIngest.processBatch(
      mediaDf((20L, "video", y4m(9, px)), (21L, "video", y4m(2, px))),
      2L, dir, sink)
    assert(m2.nAccepted == 1 && m2.nNearDup == 1, m2)
    val dup2 = sink.tables("duplicate_media")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(dup2(21L) == (("near_dup", 20L)), dup2)
    // the frame index holds exactly the kept clips' distinct hashes
    val ix = spark.read.parquet(s"$dir/vframes")
      .select("ix_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ix == Set(1L, 2L, 20L), ix)
  }

  // ---- audio fixtures (r16): splitmix64 noise PCM — distinct seeds sit
  // ≥ 20 bits apart (far outside the radius), a 3-window DROPOUT lands
  // at 1–3 bits (the near radius), and a 16 kHz container re-encode is
  // fingerprint-identical (same PCM). Amplitude scaling is fp-invariant
  // by DESIGN (sign-of-window-delta survives uniform scaling), so the
  // near fixture is a dropout, not a re-master.
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pcmOf(seed: Int, n: Int = 600): Array[Short] =
    Array.tabulate(n)(i =>
      ((mix(seed * 100003L + i) & 0xffffL) - 32768L).toShort)
  private def wav(seed: Int): Array[Byte] = MediaCodec.encodeWav(pcmOf(seed))
  private def wavReEnc(seed: Int): Array[Byte] =
    MediaCodec.encodeWav(pcmOf(seed), 16000f)
  private def wavDropout(seed: Int): Array[Byte] = {
    val p = pcmOf(seed)
    var i = 10 * p.length / 65
    while (i < 13 * p.length / 65) { p(i) = 0; i += 1 }
    MediaCodec.encodeWav(p)
  }
  private def afpOf(bytes: Array[Byte]): Long =
    Multimodal.audioFp64(MediaCodec.decodeWav(bytes).get)

  test("planted audio geometry: container re-encode and half-amplitude " +
    "re-master are fingerprint-identical, a 3-window dropout is within " +
    "the near radius, a distinct seed is far outside it") {
    val base = afpOf(wav(1))
    assert(afpOf(wavReEnc(1)) == base, "re-encode moved the fingerprint")
    val half = MediaCodec.encodeWav(pcmOf(1).map(s => (s / 2).toShort))
    assert(afpOf(half) == base, "amplitude scaling moved the fingerprint")
    val dDrop = java.lang.Long.bitCount(base ^ afpOf(wavDropout(1)))
    assert(dDrop >= 1 && dDrop <= Multimodal.MaxHamming, s"dropout hamming $dDrop")
    val dOther = java.lang.Long.bitCount(base ^ afpOf(wav(2)))
    assert(dOther > Multimodal.MaxHamming, s"other hamming $dOther")
  }

  test("audio branch end-to-end: byte re-crawls skip the codec, container " +
    "re-encodes dedup exact via asig, dropouts dedup near via abands, " +
    "novel clips are kept and indexed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediaaud").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    // batch 0: two distinct clips, one text passthrough, one corrupt WAV
    val m0 = MediaIngest.processBatch(
      mediaDf((1L, "audio", wav(1)), (2L, "audio", wav(2)),
        (3L, "text", Array[Byte](1, 2, 3)),
        (4L, "audio", "not a wav".getBytes)),
      0L, dir, sink)
    assert(m0.nAudios == 3 && m0.nPassthrough == 1 && m0.nDecodeErr == 1 &&
      m0.nExactDup == 0 && m0.nNearDup == 0 && m0.nAccepted == 3, m0)
    assert(sink.tables("accepted_media").map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    assert(sink.tables("rejected_media").map(r =>
      (r.getLong(0), r.getString(1))).toSet == Set((4L, "decode_error")))
    // batch 1: a byte-identical re-crawl of 1 (payload pre-gate — NO
    // codec), a 16 kHz re-encode of 1 (different bytes, same PCM ⇒
    // fingerprint-exact via asig), a dropout of 1 (near via abands),
    // and a novel clip
    MediaCodec.decodeCalls.set(0)
    val m1 = MediaIngest.processBatch(
      mediaDf((10L, "audio", wav(1)), (11L, "audio", wavReEnc(1)),
        (12L, "audio", wavDropout(1)), (13L, "audio", wav(3))),
      1L, dir, sink)
    assert(m1.nExactDup == 2 && m1.nNearDup == 1 && m1.nAccepted == 1, m1)
    // only 11, 12, 13 decode; 10 inherits its signature from the index
    assert(MediaCodec.decodeCalls.get() == 3,
      s"re-crawl decoded: ${MediaCodec.decodeCalls.get()} calls")
    val dup = sink.tables("duplicate_media")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(dup(10L) == (("exact_dup", 1L)), dup)
    assert(dup(11L) == (("exact_dup", 1L)), dup)
    assert(dup(12L) == (("near_dup", 1L)), dup)
    // the fingerprint index holds exactly the kept clips
    val ix = spark.read.parquet(s"$dir/asig").select("ix_id")
      .collect().map(_.getLong(0)).toSet
    assert(ix == Set(1L, 2L, 13L), ix)
    // band-pair rows carry the fingerprint halves (the in-join verify
    // contract) — 36 rows per kept clip
    val ab = spark.read.parquet(s"$dir/abands")
    assert(ab.columns.toSet == Set("ix_id", "bpk", "fp_hi", "fp_lo"))
    assert(ab.count() == 3 * 36, ab.count())
  }

  test("hostile audio payloads (r17, VERDICT r16 #7): truncated header, " +
    "zero-length (byte-identical pair), and wrong bit depth all route " +
    "decode_error without disturbing valid rows; byte-identical bytes " +
    "under different declared kinds canonicalize per kind") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediahostile")
      .toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    // 8-bit WAV: a valid container whose declared sample size the decode
    // contract rejects — patch bitsPerSample (offset 34, LE) in the
    // canonical 44-byte RIFF header the JDK writes
    val wav8 = { val b = wav(2).clone(); b(34) = 8; b }
    val m0 = MediaIngest.processBatch(
      mediaDf(
        (1L, "audio", wav(1)),                    // valid → kept
        (2L, "audio", wav(1).take(16)),           // truncated mid-header
        (3L, "audio", Array.empty[Byte]),         // zero-length canonical
        (4L, "audio", Array.empty[Byte]),         // byte-identical copy of 3
        (5L, "audio", wav8),                      // wrong bit depth
        (6L, "audio", wav(3)),                    // valid → kept
        (7L, "image", wav(3))),                   // same bytes, image kind
      0L, dir, sink)
    // 6 audio + 1 image examined; 2,3,5,7 fail their codecs, 4 inherits
    // decode_error from its byte-identical canonical 3 WITHOUT a second
    // decode; 7 must NOT inherit audio 6's signature (canonicalization is
    // per (payload_hash, kind))
    assert(m0.nAudios == 6 && m0.nImages == 1 && m0.nDecodeErr == 5 &&
      m0.nExactDup == 0 && m0.nNearDup == 0 && m0.nAccepted == 2, m0)
    assert(sink.tables("accepted_media").map(_.getLong(0)).toSet ==
      Set(1L, 6L))
    assert(sink.tables("rejected_media").map(r =>
      (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "decode_error"), (3L, "decode_error"), (4L, "decode_error"),
        (5L, "decode_error"), (7L, "decode_error")))
    // only the kept clips reached the fingerprint index
    val ix = spark.read.parquet(s"$dir/asig").select("ix_id")
      .collect().map(_.getLong(0)).toSet
    assert(ix == Set(1L, 6L), ix)
  }

  test("cross-kind payload-index hash match heals via the sig-fetch-miss " +
    "fallback: an indexed audio clip's bytes arriving declared image " +
    "decode as an image (and dead-letter), never inherit the audio " +
    "signature") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediaxkind")
      .toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    val m0 = MediaIngest.processBatch(
      mediaDf((1L, "audio", wav(1))), 0L, dir, sink)
    assert(m0.nAccepted == 1)
    // batch 1: wav(1)'s bytes hash-match the payload index (ix_id=1) but
    // the row declares kind=image, so the signature fetch against sig/
    // misses (clip 1 lives in asig/) — the orphaned-payload fallback must
    // route the row through the image codec, which fails → decode_error
    MediaCodec.decodeCalls.set(0)
    val m1 = MediaIngest.processBatch(
      mediaDf((10L, "image", wav(1))), 1L, dir, sink)
    assert(m1.nDecodeErr == 1 && m1.nAccepted == 0, m1)
    assert(sink.tables("rejected_media").map(r =>
      (r.getLong(0), r.getString(1))).toSet == Set((10L, "decode_error")))
    assert(MediaCodec.decodeCalls.get() >= 1,
      "fallback did not decode the fetch-miss row")
    // the audio index is untouched by the failed image
    val ix = spark.read.parquet(s"$dir/asig").select("ix_id")
      .collect().map(_.getLong(0)).toSet
    assert(ix == Set(1L), ix)
  }

  test("audio payload-gate A/B arms yield bit-identical verdicts and " +
    "asig/abands index contents on the same stream (the image A/B " +
    "contract extended to the audio relations, r16)") {
    def runArm(gate: Boolean): (Set[Long], Set[(Long, String, Long)],
        Set[(Long, Long, Long)], Set[(Long, Long, Long, Long)]) = {
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft-audioab-$gate").toString
      MediaIngest.initIndex(spark, dir)
      val sink = new InMemorySink
      // batch 0: canonical + two byte-copies + a dropout near-dup + an
      // unrelated clip
      MediaIngest.processBatch(
        mediaDf((1L, "audio", wav(1)), (2L, "audio", wav(1)),
          (3L, "audio", wav(1)), (4L, "audio", wavDropout(1)),
          (5L, "audio", wav(2))),
        0L, dir, sink, payloadGate = gate)
      // batch 1: re-crawled copies of both kept canonicals (byte-exact
      // and re-encoded) + a novel pair of byte-copies
      MediaIngest.processBatch(
        mediaDf((10L, "audio", wav(1)), (11L, "audio", wavReEnc(2)),
          (12L, "audio", wav(3)), (13L, "audio", wav(3))),
        1L, dir, sink, payloadGate = gate)
      val acc = sink.tables("accepted_media").map(_.getLong(0)).toSet
      val dup = sink.tables("duplicate_media")
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val asig = spark.read.parquet(s"$dir/asig")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val abands = spark.read.parquet(s"$dir/abands")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      (acc, dup, asig, abands)
    }
    val on = runArm(true)
    val off = runArm(false)
    assert(on == off, s"arms diverged:\n gated=$on\n control=$off")
  }

  test("per-batch pinned blocks are freed once the batch lands: no " +
    "persistent RDD storage accumulates across micro-batches (ADVICE " +
    "r16 - the fused verdict passes' pinned exact relations included)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft-mediapins").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mediapinsck").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    spark.catalog.clearCache()
    // no GC first: a free that only the ContextCleaner would complete
    // must show up here as a leak
    val before = pinnedRdds()
    val mem = MemoryStream[(Long, String, Array[Byte])]
    val metrics = scala.collection.mutable.ArrayBuffer[MediaIngest.MediaBatchMetrics]()
    // through start, so the foreachBatch pin is covered too
    val q = MediaIngest.start(spark,
      mem.toDF().toDF("media_id", "kind", "content"), ckpt, dir, sink,
      metricsOut = metrics += _)
    try {
      // mixed batches: images + audio so BOTH fused verdict passes pin,
      // later batches re-crawl earlier ones so the ix-known fetch pins
      // fire too, and a video pair runs the within-batch video pass
      mem.addData((1L, "audio", wav(1)), (2L, "image", png(baseF)),
        (3L, "audio", wav(2)))
      q.processAllAvailable()
      mem.addData((10L, "audio", wav(1)), (11L, "image", png(baseF)),
        (12L, "audio", wav(3)), (13L, "image", png(otherF)))
      q.processAllAvailable()
      def y4m(n: Int) = MediaCodec.encodeY4m(16, 12, n,
        (f, x, y) => ((x + 16 * f) * 73 + y * 17) % 251)
      mem.addData((20L, "image", png(otherF)), (21L, "audio", wav(3)),
        (22L, "video", y4m(6)), (23L, "video", y4m(3)))
      q.processAllAvailable()
    } finally q.stop()
    assert(metrics.size == 3, metrics)
    assertNothingPinnedSince(before)
  }

  test("replayed audio batch is idempotent for routing: kept clips " +
    "re-verdict kept against their own appended fingerprints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediaarp").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    val b0 = mediaDf((1L, "audio", wav(1)), (2L, "audio", wav(2)))
    val first = MediaIngest.processBatch(b0, 0L, dir, sink)
    assert(first.nAccepted == 2)
    val replay = MediaIngest.processBatch(b0, 0L, dir, sink)
    assert(replay.nExactDup == 0 && replay.nNearDup == 0 &&
      replay.nAccepted == 2, replay)
  }

  test("audio within-batch resolution + cross-batch root chain: in-batch " +
    "copies and variants resolve to the batch canonical, whose root is " +
    "the indexed original") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mediaach").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    assert(MediaIngest.processBatch(
      mediaDf((1L, "audio", wav(1))), 0L, dir, sink).nAccepted == 1)
    // 10 = re-encode of 1 (exact vs index), 11 = byte copy of 10
    // (payload copy → canonical 10), 12 = dropout (near) — every root
    // must resolve to 1, the chain's indexed head
    val m1 = MediaIngest.processBatch(
      mediaDf((10L, "audio", wavReEnc(1)), (11L, "audio", wavReEnc(1)),
        (12L, "audio", wavDropout(1))),
      1L, dir, sink)
    assert(m1.nExactDup == 2 && m1.nNearDup == 1 && m1.nAccepted == 0, m1)
    val dup = sink.tables("duplicate_media")
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(dup == Map(10L -> 1L, 11L -> 1L, 12L -> 1L), dup)
  }

  test("ix-known payload whose signature row is MISSING falls back to " +
    "decode instead of vanishing (ADVICE r15: partial concurrent append)") {
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(b).map("%02x".format(_)).mkString
    val dir = java.nio.file.Files.createTempDirectory("graft-mediamiss").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    // simulate a crash between the payload append and the asig/sig
    // appends: payload rows exist with NO signature twin
    Seq((99L, md5hex(wav(5)))).toDF("ix_id", "payload_hash")
      .write.mode("append").parquet(s"$dir/payload")
    Seq((98L, md5hex(png(baseF)))).toDF("ix_id", "payload_hash")
      .write.mode("append").parquet(s"$dir/payload")
    MediaCodec.decodeCalls.set(0)
    val m = MediaIngest.processBatch(
      mediaDf((20L, "audio", wav(5)), (21L, "image", png(baseF))),
      0L, dir, sink)
    // both byte-match the orphaned payload rows, both fetches miss —
    // both rows must DECODE and verdict (kept: the signature index has
    // no matching content), not silently drop from every sink
    assert(m.nAccepted == 2 && m.nExactDup == 0 && m.nDecodeErr == 0, m)
    assert(MediaCodec.decodeCalls.get() == 2,
      s"fallback decodes: ${MediaCodec.decodeCalls.get()}")
    assert(sink.tables("accepted_media").map(_.getLong(0)).toSet ==
      Set(20L, 21L))
    // their signatures are now appended, healing the index for the
    // NEXT byte-match (min ix_id picks the healed row)
    assert(spark.read.parquet(s"$dir/asig").select("ix_id")
      .collect().map(_.getLong(0)).toSet == Set(20L))
    assert(spark.read.parquet(s"$dir/sig").select("ix_id")
      .collect().map(_.getLong(0)).toSet == Set(21L))
  }

  test("streaming wrapper drains batches through the gate with metrics " +
    "(MemoryStream end-to-end)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft-mediasx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mediasc").toString
    MediaIngest.initIndex(spark, dir)
    val sink = new InMemorySink
    val metrics = scala.collection.mutable.ArrayBuffer[MediaIngest.MediaBatchMetrics]()
    val mem = MemoryStream[(Long, String, Array[Byte])]
    val q = MediaIngest.start(spark,
      mem.toDF().toDF("media_id", "kind", "content"),
      ckpt, dir, sink, metricsOut = metrics += _)
    try {
      // video rows are EXAMINED since r13, audio since r16 — the
      // passthrough row is text
      mem.addData((1L, "image", png(baseF)), (2L, "video", Array[Byte](9)),
        (3L, "text", Array[Byte](7)))
      q.processAllAvailable()
      assert(metrics.last.nAccepted == 2 && metrics.last.nPassthrough == 1 &&
        metrics.last.nDecodeErr == 1 && metrics.last.nVideos == 1,
        metrics.last)
      mem.addData((10L, "image", png(shiftF))) // cross-batch dup by hash
      q.processAllAvailable()
      assert(metrics.last.nExactDup == 1 && metrics.last.nAccepted == 0,
        metrics.last)
    } finally q.stop()
  }
}
