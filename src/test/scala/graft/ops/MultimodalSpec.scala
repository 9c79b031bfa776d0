package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("media table derives kind/format/dims deterministically, payload = utf8 bytes") {
    val df = Multimodal.mediaFromDocuments(docs((0L, "aaa"), (1L, "bbbb"), (2L, "cc")))
    val rows = df.collect().map(r => r.getAs[Long]("media_id") ->
      ((r.getAs[String]("kind"), r.getAs[String]("format"), r.getAs[Array[Byte]]("content").length))).toMap
    assert(rows(0L) == (("image", "png", 3)))
    assert(rows(1L) == (("audio", "wav", 4)))
    assert(rows(2L) == (("video", "mp4", 2)))
  }

  test("feature extraction: n_bytes, mean_byte, normalized histogram") {
    val media = Multimodal.asMedia(Multimodal.mediaFromDocuments(docs((0L, "ab"))))
    val f = Multimodal.extractFeatures(media).collect()(0)
    assert(f.n_bytes == 2)
    assert(f.mean_byte == ('a'.toInt + 'b'.toInt) / 2.0)
    assert(math.abs(f.byte_histogram.sum - 1.0) < 1e-12)
    // 'a'=97,'b'=98 both land in bin 97*16/256 = 6
    assert(f.byte_histogram(6) == 1.0)
  }

  test("per-partition histogram buffer does not leak across rows") {
    val media = Multimodal.asMedia(
      Multimodal.mediaFromDocuments(docs((0L, "aa"), (3L, "zz"))).coalesce(1))
    val fs = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(fs(0L).byte_histogram.sum == 1.0 && fs(3L).byte_histogram.sum == 1.0)
    assert(fs(0L).byte_histogram(6) == 1.0) // 'a' bin
    assert(fs(3L).byte_histogram('z'.toInt * 16 / 256) == 1.0)
  }

  test("PNG encode→decode round-trips exact pixel values (real javax.imageio)") {
    val px = Array(Array(0, 17, 255), Array(128, 64, 3)) // 3×2, px(y)(x)
    val bytes = Multimodal.MediaCodec.encodePng(3, 2, (x, y) => px(y)(x))
    // a real PNG, not a stub: magic bytes \x89PNG
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
    val d = Multimodal.MediaCodec.decodeImage(bytes).get
    assert(d.width == 3 && d.height == 2)
    assert(d.pixels.toSeq == Seq(0, 17, 255, 128, 64, 3)) // row-major
    // non-image bytes are not decodable
    assert(Multimodal.MediaCodec.decodeImage("not a png".getBytes).isEmpty)
  }

  test("imagePixelStats: decoded stats equal the closed-form pixel formula") {
    val df = docs((0L, "x"), (3L, "y"), (6L, "z"), (1L, "audio-doc"))
    val got = Multimodal.imagePixelStats(df).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toList
    val want = Seq(0L, 3L, 6L).map { id =>
      val (w, h) = ((id % 24 + 8).toInt, (id % 16 + 8).toInt)
      val sum = (for (y <- 0 until h; x <- 0 until w)
        yield (x * 31L + y * 17L + id * 13L) % 256L).sum
      (id, w, h, w.toLong * h, sum)
    }
    assert(got == want) // only doc_id % 3 == 0 rows, dims+sums from decode
  }

  test("feature extraction decodes real image payloads to pixel samples") {
    val png = Multimodal.MediaCodec.encodePng(2, 1, (x, _) => if (x == 0) 10 else 20)
    val row = Multimodal.MediaRow(1L, "image", "png", 2, 1, png)
    val f = Multimodal.extractFeatures(Seq(row).toDS()).collect()(0)
    assert(f.n_bytes == 2 && f.mean_byte == 15.0) // pixels, not PNG bytes
  }

  test("WAV encode→decode round-trips exact PCM samples (real javax.sound)") {
    val pcm = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345)
    val bytes = Multimodal.MediaCodec.encodeWav(pcm)
    // a real RIFF/WAVE container, not a stub
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val decoded = Multimodal.MediaCodec.decodeWav(bytes).get
    assert(decoded.toSeq == pcm.toSeq)
    assert(Multimodal.MediaCodec.decodeWav("not audio".getBytes).isEmpty)
  }

  test("audioSampleStats: decoded stats equal the closed-form PCM formula") {
    val df = docs((1L, "x"), (4L, "y"), (0L, "image-doc"))
    val got = Multimodal.audioSampleStats(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toList
    val want = Seq(1L, 4L).map { id =>
      val n = (id % 400 + 100).toInt
      val samples = (0 until n).map(i => ((i * 73L + id * 131L) % 65536L - 32768L).toInt)
      (id, n.toLong, samples.map(_.toLong).sum, samples.map(math.abs).max)
    }
    assert(got == want) // only doc_id % 3 == 1 rows; counts/sums from decode
  }

  test("resize scales image metadata and strides the payload; non-images untouched") {
    val big = Multimodal.MediaRow(1L, "image", "png", 640, 480, Array.fill(640)(7.toByte))
    val vid = Multimodal.MediaRow(2L, "video", "mp4", 640, 480, Array.fill(640)(7.toByte))
    val out = Multimodal.resize(Seq(big, vid).toDS(), maxDim = 64)
      .collect().map(m => m.media_id -> m).toMap
    assert(out(1L).width == 64 && out(1L).height == 48)
    assert(out(1L).content.length == 64) // stride 10 over 640 bytes
    assert(out(2L).width == 640 && out(2L).content.length == 640)
  }

  test("frame sampling emits every k-th fixed-size frame with a short tail") {
    // video kind needs doc_id % 3 == 2; 1100 bytes → frames 0..4, sampled 0 and 4
    val text = "x" * 1100
    val frames = Multimodal.frameSample(docs((2L, text))).collect()
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 4))
    assert(frames.map(_.getAs[Int]("frame_len")).toSeq == Seq(256, 1100 - 4 * 256))
    assert(frames.map(_.getAs[Int]("byte_offset")).toSeq == Seq(0, 1024))
  }

  test("Y4M encode→decode round-trips exact frame planes (hand-written demuxer)") {
    val enc = Multimodal.MediaCodec.encodeY4m(6, 4, 3, (f, x, y) => (f * 50 + x * 7 + y * 3) % 256)
    val v = Multimodal.MediaCodec.decodeY4m(enc).get
    assert(v.width == 6 && v.height == 4 && v.frames.length == 3)
    for (f <- 0 until 3; y <- 0 until 4; x <- 0 until 6)
      assert((v.frames(f)(y * 6 + x) & 0xff) == (f * 50 + x * 7 + y * 3) % 256)
  }

  test("Y4M demuxer skips C420 chroma planes and carries FRAME parameters") {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val out = new java.io.ByteArrayOutputStream()
    out.write("YUV4MPEG2 W4 H2 F30:1 C420jpeg\n".getBytes(ascii))
    out.write("FRAME Ixyz\n".getBytes(ascii)) // frame params are legal
    out.write(Array.tabulate[Byte](8)(_.toByte)) // Y plane 4×2
    out.write(Array.fill[Byte](4)(99.toByte)) // Cb (2×1) + Cr (2×1)
    val v = Multimodal.MediaCodec.decodeY4m(out.toByteArray).get
    assert(v.width == 4 && v.height == 2 && v.frames.length == 1)
    assert(v.frames(0).toSeq == (0 until 8).map(_.toByte))
  }

  test("Y4M demuxer rejects malformed streams instead of misparsing") {
    val bad = Seq(
      "not-y4m at all".getBytes,
      "YUV4MPEG2 W0 H4 Cmono\nFRAME\n".getBytes, // bad width
      "YUV4MPEG2 W4 H2 Cmono\nNOPE\n12345678".getBytes, // bad frame marker
      "YUV4MPEG2 W4 H2 Cmono\nFRAME\nxy".getBytes, // truncated plane
      "YUV4MPEG2 W4 H2 C444\nFRAME\n".getBytes) // unsupported colourspace
    bad.foreach(b => assert(Multimodal.MediaCodec.decodeY4m(b).isEmpty))
  }

  test("videoFrameStats: decoded stats equal the closed-form luma formula") {
    val df = docs((2L, "a"), (5L, "b"), (1L, "audio-doc"))
    val got = Multimodal.videoFrameStats(df).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toList
    val want = (for {
      id <- Seq(2L, 5L)
      (w, h, n) = ((id % 16 + 8).toInt, (id % 12 + 8).toInt, (id % 6 + 2).toInt)
      f <- 0 until n by Multimodal.FrameSampleEvery
    } yield {
      val sum = (for (y <- 0 until h; x <- 0 until w)
        yield (x * 31L + y * 17L + f * 29L + id * 13L) % 256L).sum
      (id, f, w, h, sum)
    }).toList
    assert(got == want) // only doc_id % 3 == 2 rows; sums from the real decode
  }

  test("samples() gates decode on declared format: text bytes stay raw for mp4") {
    // a payload that IS a decodable container must still be treated as raw
    // bytes when the row's declared format says otherwise
    val y4m = Multimodal.MediaCodec.encodeY4m(4, 2, 1, (_, x, y) => x + y)
    assert(Multimodal.MediaCodec.samples("video", "mp4", y4m).toSeq == y4m.toSeq)
    assert(Multimodal.MediaCodec.samples("video", "y4m", y4m).length == 8)
    val png = Multimodal.MediaCodec.encodePng(3, 3, (x, y) => x * y)
    assert(Multimodal.MediaCodec.samples("image", "jpg", png).toSeq == png.toSeq)
  }

  test("dHash: planted identical formula images (doc ids 768 apart) " +
    "collide at hamming 0 and surface as a near-dup pair") {
    // ids ≡ mod 48 share dims; Δid·13 ≡ 0 mod 256 at Δid = 256 →
    // lcm(48, 256) = 768 apart means IDENTICAL pixels — the planted
    // exact perceptual duplicate (decoded through the real PNG codec)
    val df = docs((0L, "a"), (768L, "b"), (48L, "c"), (3L, "d"))
    val hashes = Multimodal.imageDHashes(df)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(hashes(0L) == hashes(768L), s"$hashes")
    val pairs = Multimodal.imageNearDups(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((0L, 768L, 0)), pairs.toSeq)
    // hi/lo halves are unsigned 32-bit — no sign-bit leakage either side
    hashes.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
  }

  test("banded Hamming join is EXACT at the default radius: equals " +
    "brute-force all-pairs hamming <= 7") {
    val df = docs((0L until 200L).map(i => (i * 3, s"t$i")): _*)
    val dh = Multimodal.imageDHashes(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3) << 32) | r.getLong(4))).toMap
    val brute = (for {
      a <- dh.keys; b <- dh.keys if a < b
      d = java.lang.Long.bitCount(dh(a) ^ dh(b)) if d <= Multimodal.MaxHamming
    } yield (a, b, d)).toSet
    val got = Multimodal.imageNearDups(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(got.map(t => (t._1, t._2, t._3.toInt)) ==
      brute.map(t => (t._1, t._2, t._3)), s"banded $got vs brute $brute")
  }

  test("image keep-list: survivors are exactly the min of each " +
    "banded-Hamming component (union-find reference); hub budget = 1 " +
    "keeps the same survivors") {
    // ids 768 apart share (width, height, pixel formula mod 256) →
    // identical images → hamming 0: {0, 768, 1536} and {3, 771} are
    // planted clone families; remaining ids pair only if dHash happens
    // to land within the radius (the union-find reference decides)
    val ids = Seq(0L, 3L, 6L, 9L, 12L, 768L, 1536L, 771L)
    val df = docs(ids.map(i => (i, s"t$i")): _*)
    val pairs = Multimodal.imageNearDups(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet.contains((0L, 768L)) && pairs.toSet.contains((3L, 771L)))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.filter(i => find(i) == i).toSet
    val got = Multimodal.imageDedupKeepList(df)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, s"got $got expected $expected")
    // recall contract: every bucket member matches the budget
    // representative, so components — and survivors — are unchanged at
    // budget 1 (the q37 hub-budget contract, image edition)
    val gotB1 = Multimodal.imageDedupKeepList(df, bucketBudget = 1)
      .collect().map(_.getLong(0)).toSet
    assert(gotB1 == expected, s"budget-1 $gotB1 expected $expected")
  }

  test("video frame dHashes: decode → demux → per-frame hash matches the " +
    "pixel formula; containment resolves truncated and re-encoded clips " +
    "against the original, not unrelated footage") {
    import Multimodal.{MediaRow, MediaCodec}
    val (w, h) = (16, 12)
    // frame content varies STRUCTURALLY with f (wrap-dense gradient
    // whose phase shifts per frame), so each frame gets its own dHash —
    // a constant brightness shift per frame would collapse all frames
    // to one hash by design (dHash is shift-invariant)
    def px(f: Int)(x: Int, y: Int) = ((x + 16 * f) * 73 + y * 17) % 251
    def clip(id: Long, n: Int, p: Int => (Int, Int) => Int) = MediaRow(
      id, "video", "y4m", w, h,
      MediaCodec.encodeY4m(w, h, n, (f, x, y) => p(f)(x, y)))
    val full = clip(1L, 6, px)       // the original
    val trunc = clip(2L, 3, px)      // first half of the original
    val reenc = clip(3L, 6, px)      // bit-identical re-encode
    val other = clip(4L, 6, f => (x, y) => (250 - x * 13 + y * 29 + f * 5).abs % 256)
    val fh = Multimodal.frameDHashesOf(
      Seq(full, trunc, reenc, other).toDS())
    // the containment denominators are only meaningful if the planted
    // frames actually hash distinctly
    val fullDistinct = fh.filter(col("media_id") === 1L)
      .select("dhash_hi", "dhash_lo").distinct().count()
    assert(fullDistinct == 6L, s"full clip has $fullDistinct distinct hashes")
    val got = Multimodal.videoNearDupsFrom(fh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    // trunc ⊆ full and ⊆ reenc (containment 1.0, DIRECTED — the full
    // clip is NOT contained in its half); full ↔ reenc both ways;
    // `other` appears nowhere
    assert(got == Set(
      (2L, 1L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0), (3L, 1L, 1.0)), got)
  }

  test("audio fingerprint: container re-encode is bit-identical, " +
    "amplitude scaling stays within the near radius, unrelated audio " +
    "is far outside it") {
    import Multimodal.MediaCodec
    // structured amplitude profile: window sums differ decisively, so
    // halving (floor) cannot flip the deltas — the scaled twin is
    // hash-IDENTICAL here; the formula corpus adds the near-tie noise
    val pcm = Array.tabulate(400)(i =>
      ((i % 97) * 300 - 14000 + (i / 97) * 800).toShort)
    val fpBase = Multimodal.audioFp64(pcm)
    assert(fpBase == Multimodal.audioFp64(
      MediaCodec.decodeWav(MediaCodec.encodeWav(pcm, 16000f)).get),
      "re-encode at a different sample rate changed the fingerprint")
    val scaled = pcm.map(s => (s / 2).toShort)
    val dScale = java.lang.Long.bitCount(fpBase ^ Multimodal.audioFp64(scaled))
    assert(dScale <= Multimodal.MaxHamming, s"scaled hamming $dScale")
    val noise = Array.tabulate(400)(i =>
      (((i * 7919 + 13) % 65536) - 32768).toShort)
    val dOther = java.lang.Long.bitCount(fpBase ^ Multimodal.audioFp64(noise))
    assert(dOther > Multimodal.MaxHamming, s"unrelated hamming $dOther")
  }

  test("band-pair pigeonhole: hamming <= 7 always shares a pair key " +
    "(exact radius contract); 8 flips spread over 8 distinct bands share " +
    "none (the contract is tight)") {
    // the 9-band layout: widths 7,7,7,7,8,7,7,7,7 -> offsets
    val offs = Array(0, 7, 14, 21, 28, 36, 43, 50, 57)
    val lens = Array(7, 7, 7, 7, 8, 7, 7, 7, 7)
    def fpDf(id: Long, fp: Long) =
      Seq((id, fp >>> 32, fp & 0xffffffffL)).toDF("media_id", "fp_hi", "fp_lo")
    def keys(id: Long, fp: Long): Set[Long] =
      Multimodal.bandRows(Multimodal.AudioSig, fpDf(id, fp)).collect()
        .map(_.getAs[Long]("bpk")).toSet
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 8) {
      val base = rnd.nextLong()
      // worst case: 7 flips in 7 DISTINCT bands (damaging the most bands
      // possible), including the straddling band 4 when drawn
      val bands = rnd.shuffle((0 until 9).toList).take(7)
      val damaged = bands.foldLeft(base)((f, b) =>
        f ^ (1L << (offs(b) + rnd.nextInt(lens(b)))))
      assert(java.lang.Long.bitCount(base ^ damaged) == 7)
      assert(keys(0L, base).intersect(keys(1L, damaged)).nonEmpty,
        s"trial $trial: hamming-7 pair shares no band-pair key")
    }
    // tightness: 8 flips in 8 distinct bands leave only 1 intact band -
    // every pair includes a damaged band, so NO key can match
    val base = rnd.nextLong()
    val eight = (0 until 8).foldLeft(base)((f, b) => f ^ (1L << offs(b)))
    assert(java.lang.Long.bitCount(base ^ eight) == 8)
    assert(keys(0L, base).intersect(keys(1L, eight)).isEmpty)
  }

  test("audio near-dups over the variant corpus: every original pairs " +
    "with its re-encode at hamming 0; keep-list survivors are the " +
    "component minima") {
    val d = docs((1L, "a"), (4L, "b"), (7L, "c"), (10L, "d"), (2L, "x"))
    val pairs = Multimodal.audioNearDups(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (id, id + ReEncOffset) at hamming 0 for every audio doc (ids ≡ 1
    // mod 3: 1, 4, 7, 10 — doc 2 is not audio-kind); the p._1 bound
    // keeps re-encode→scaled pairs (also offset 1e9 apart) out
    val re = pairs.filter(p => p._1 < Multimodal.AudioReEncOffset &&
      p._2 == p._1 + Multimodal.AudioReEncOffset)
    assert(re.map(_._1).toSet == Set(1L, 4L, 7L, 10L), re.toSeq)
    assert(re.forall(_._3 == 0), re.toSeq)
    // keep-list: each original's component (re-encode always, scaled
    // variant whenever its hamming lands inside the radius) collapses
    // to the original id; survivors = originals + any scaled variants
    // outside the radius — never a re-encode id
    val kept = Multimodal.audioDedupKeepList(d)
      .collect().map(_.getLong(0)).toSet
    assert(Set(1L, 4L, 7L, 10L).subsetOf(kept), kept)
    assert(!kept.exists(id => id >= Multimodal.AudioReEncOffset &&
      id < Multimodal.AudioScaleOffset), kept)
    // pair relation and keep-list agree: a scaled variant is kept iff
    // it pairs with nothing
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val scaledIds = Set(1L, 4L, 7L, 10L).map(_ + Multimodal.AudioScaleOffset)
    assert(scaledIds.filter(kept) == scaledIds.filterNot(paired), (kept, paired))
  }
}
