package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Multimodal (image/audio/video) columns for a training-data pipeline:
  * media payloads are opaque `binary` columns with typed metadata, and
  * decode / feature-extraction / resize / frame-sampling run as
  * per-partition batch transforms over typed Datasets
  * (`mapPartitions` — the JVM analog of `mapInPandas`: one iterator per
  * partition, so per-batch setup like codec/model initialization is paid
  * once per partition, not per row).
  *
  * ALL THREE modality paths are real: [[MediaCodec]] encodes/decodes PNG
  * via `javax.imageio`, WAV (16-bit PCM in a RIFF container) via
  * `javax.sound.sampled`, and Y4M video (the mjpegtools YUV4MPEG2 raw
  * interchange format: text stream header + FRAME-framed planes) with a
  * hand-written pure-JDK parser. [[imagePixelStats]], [[audioSampleStats]]
  * and [[videoFrameStats]] derive corpora of real PNG/WAV/Y4M payloads
  * whose pixels/samples follow closed-form formulas, so each decode
  * round-trip is oracle-checked end-to-end (DuckDB computes the formula
  * directly; a broken codec hash-mismatches).
  *
  * Scale notes: payloads never shuffle (all transforms are narrow,
  * partition-local); features are fixed-width vectors so downstream joins
  * move KB not MB; frame sampling explodes only the sampled offsets, never
  * materializes per-frame payload copies.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      format: String, // png | wav | mp4 (stub formats)
      width: Int,
      height: Int,
      content: Array[Byte])

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      mean_byte: Double,
      byte_histogram: Array[Double])

  final case class Frame(
      media_id: Long,
      frame_idx: Int,
      byte_offset: Int,
      frame_len: Int)

  val FrameBytes = 256
  val FrameSampleEvery = 4
  val HistogramBins = 16

  /** The codec boundary — all pure JDK, headless-safe, lossless
    * round-trips: 8-bit grayscale PNG through `javax.imageio`, 16-bit PCM
    * WAV through `javax.sound.sampled`, and Y4M (YUV4MPEG2) video through
    * the hand-written parser below (the format is a plain-text stream
    * header plus `FRAME`-delimited raw planes — built for tool
    * interchange, parseable without a codec library).
    */
  object MediaCodec {
    final case class DecodedImage(width: Int, height: Int, pixels: Array[Int])

    // r18 optimization round — two JDK codec FIXED COSTS hoisted out of the
    // per-payload path; the codec implementations themselves are unchanged
    // (the same JDK reader/writer classes decode every byte):
    //  - ImageIO defaults to a DISK-backed stream cache: every read/write
    //    creates and deletes a temp file before touching pixel data —
    //    pure overhead for byte-array payloads that already sit in memory.
    //  - AudioSystem.getAudioInputStream / AudioSystem.write resolve their
    //    SPI provider list through a SYNCHRONIZED registry on EVERY call
    //    (JDK13Services.getProviders), which serializes concurrent decodes
    //    across all executor threads — measured r18: the 5000-clip WAV
    //    fingerprint pass ran at the same wall time on 32 cores as on one
    //    (~0.4 ms/clip either way). Loading the providers ONCE and
    //    dispatching to the same reader/writer instances — exactly what
    //    AudioSystem does after its per-call lookup — keeps behavior
    //    identical (same classes, same try-next-on-Unsupported contract)
    //    and removes the global lock from the hot path.
    javax.imageio.ImageIO.setUseCache(false)

    private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      try java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toSeq
      catch { case _: Throwable => Seq.empty }
    }

    private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      try java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala.toSeq
      catch { case _: Throwable => Seq.empty }
    }

    /** AudioSystem.getAudioInputStream minus the synchronized per-call
      * provider lookup: try each cached reader in registration order (the
      * AudioFileReader SPI contract requires a failing reader to reset the
      * stream). Falls back to the AudioSystem path if service loading
      * found nothing (exotic deployments).
      */
    private def audioInputStreamOf(
        in: java.io.InputStream): javax.sound.sampled.AudioInputStream = {
      val rs = audioReaders
      if (rs.isEmpty)
        return javax.sound.sampled.AudioSystem.getAudioInputStream(in)
      var i = 0
      while (i < rs.length) {
        try return rs(i).getAudioInputStream(in)
        catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
        i += 1
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "Stream of unsupported format")
    }

    /** Encode an 8-bit grayscale image (`pixel(x, y)` in 0..255) as PNG. */
    def encodePng(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          raster.setSample(x, y, 0, pixel(x, y))
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream(width * height / 2 + 64)
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Image-decode call counter — a diagnostic for the payload pre-gate
      * (observable in local mode where executors share the JVM; specs and
      * probes prove byte-identical copies SKIP the codec by diffing it).
      * One atomic increment per decode is noise next to a PNG inflate.
      */
    val decodeCalls = new java.util.concurrent.atomic.AtomicLong(0)

    /** Decode any ImageIO-supported payload (PNG/JPEG/BMP/GIF) to row-major
      * grayscale samples; multi-band images reduce by integer ITU-R 601
      * luminance. None if the bytes are not a decodable image.
      */
    def decodeImage(content: Array[Byte]): Option[DecodedImage] = {
      decodeCalls.incrementAndGet()
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case _: java.io.IOException => null }
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val bands = raster.getNumBands
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            px(y * w + x) =
              if (bands == 1) raster.getSample(x, y, 0)
              else (raster.getSample(x, y, 0) * 299 + raster.getSample(x, y, 1) * 587 +
                raster.getSample(x, y, 2) * 114) / 1000
            x += 1
          }
          y += 1
        }
        Some(DecodedImage(w, h, px))
      }
    }

    /** Encode 16-bit signed PCM mono as a real WAV container through
      * `javax.sound.sampled` (RIFF/fmt/data chunks written by the JDK).
      */
    def encodeWav(pcm: Array[Short], sampleRate: Float = 8000f): Array[Byte] = {
      val bytes = new Array[Byte](pcm.length * 2)
      var i = 0
      while (i < pcm.length) { // little-endian, the canonical WAV layout
        bytes(2 * i) = (pcm(i) & 0xff).toByte
        bytes(2 * i + 1) = ((pcm(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, pcm.length.toLong)
      val out = new java.io.ByteArrayOutputStream(bytes.length + 64)
      val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
      // cached-provider dispatch (see audioReaders note): same writer
      // class AudioSystem.write would pick, without its global lock
      audioWriters.find(_.isFileTypeSupported(wave, ais)) match {
        case Some(w) => w.write(ais, wave, out)
        case None => javax.sound.sampled.AudioSystem.write(ais, wave, out)
      }
      out.toByteArray
    }

    /** Decode a WAV payload to its 16-bit PCM samples; None if the bytes
      * are not a parseable audio container. Counts against
      * [[decodeCalls]] like [[decodeImage]] (r16 — the audio streaming
      * branch proves its payload pre-gate skips the codec by diffing the
      * counter, the same contract the image specs assert).
      */
    def decodeWav(content: Array[Byte]): Option[Array[Short]] =
      try {
        decodeCalls.incrementAndGet()
        val ais = audioInputStreamOf(
          new java.io.ByteArrayInputStream(content))
        val f = ais.getFormat
        if (f.getSampleSizeInBits != 16 || f.getChannels != 1) None
        else {
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          val pcm = new Array[Short](n)
          var i = 0
          val le = !f.isBigEndian
          while (i < n) {
            val (lo, hi) = if (le) (raw(2 * i), raw(2 * i + 1)) else (raw(2 * i + 1), raw(2 * i))
            pcm(i) = (((hi & 0xff) << 8) | (lo & 0xff)).toShort
            i += 1
          }
          Some(pcm)
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }

    final case class DecodedVideo(
        width: Int, height: Int, frames: Array[Array[Byte]])

    /** Encode grayscale frames as Y4M (YUV4MPEG2 — the mjpegtools raw
      * interchange format: a plain-text stream header, then `FRAME\n` +
      * raw planes per frame; `Cmono` = Y plane only, which is exactly a
      * grayscale frame sequence). Pure byte assembly — no codec library.
      */
    def encodeY4m(
        width: Int, height: Int, nFrames: Int,
        pixel: (Int, Int, Int) => Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(nFrames * width * height + 64)
      out.write(s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 Cmono\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      var f = 0
      while (f < nFrames) {
        out.write("FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) { out.write(pixel(f, x, y) & 0xff); x += 1 }
          y += 1
        }
        f += 1
      }
      out.toByteArray
    }

    /** Parse a Y4M payload to per-frame Y (luma) planes. Handles `Cmono`
      * (Y only) and the `C420*` family (Y + half-resolution Cb/Cr, which
      * are skipped — grayscale analysis wants luma); other colourspaces
      * and malformed streams return None. Frame headers may carry
      * parameters (`FRAME Ixxx\n`), per the spec.
      */
    def decodeY4m(content: Array[Byte]): Option[DecodedVideo] = {
      def lineEnd(from: Int): Int = {
        var i = from
        while (i < content.length && content(i) != '\n') i += 1
        i
      }
      val hEnd = lineEnd(0)
      if (hEnd >= content.length) return None
      val header = new String(content, 0, hEnd, java.nio.charset.StandardCharsets.US_ASCII)
      val parts = header.split(' ')
      if (parts.isEmpty || parts(0) != "YUV4MPEG2") return None
      var w = -1; var h = -1; var cs = "420jpeg" // C absent defaults to 4:2:0
      parts.drop(1).foreach { p =>
        if (p.nonEmpty) p.charAt(0) match {
          case 'W' => w = p.drop(1).toIntOption.getOrElse(-1)
          case 'H' => h = p.drop(1).toIntOption.getOrElse(-1)
          case 'C' => cs = p.drop(1)
          case _ => () // F/I/A/X parameters don't affect plane layout
        }
      }
      if (w <= 0 || h <= 0) return None
      val chromaBytes =
        if (cs == "mono") 0
        else if (cs.startsWith("420")) {
          if (w % 2 != 0 || h % 2 != 0) return None
          2 * ((w / 2) * (h / 2))
        } else return None
      val frames = Array.newBuilder[Array[Byte]]
      var i = hEnd + 1
      while (i < content.length) {
        val fEnd = lineEnd(i)
        if (fEnd >= content.length) return None
        val marker = new String(content, i, fEnd - i, java.nio.charset.StandardCharsets.US_ASCII)
        if (marker != "FRAME" && !marker.startsWith("FRAME ")) return None
        val dataStart = fEnd + 1
        if (dataStart + w * h + chromaBytes > content.length) return None
        frames += java.util.Arrays.copyOfRange(content, dataStart, dataStart + w * h)
        i = dataStart + w * h + chromaBytes
      }
      Some(DecodedVideo(w, h, frames.result()))
    }

    /** The sample stream feature extraction runs over. Decoding is GATED
      * on the row's declared format (not just content sniffing): payloads
      * only reach a codec when the schema says they are that container, so
      * a text-derived payload that happens to parse as something can never
      * silently divert the stats (ADVICE r5). Unknown formats and failed
      * decodes fall back to raw payload bytes.
      */
    def samples(kind: String, format: String, content: Array[Byte]): Array[Byte] =
      (kind, format) match {
        case ("image", "png") =>
          decodeImage(content) match {
            case Some(d) => d.pixels.map(_.toByte)
            case None => content
          }
        case ("audio", "wav") =>
          decodeWav(content) match {
            case Some(pcm) => pcm.map(s => (s >> 8).toByte) // high byte per sample
            case None => content
          }
        case ("video", "y4m") =>
          decodeY4m(content) match {
            case Some(v) => v.frames.flatten
            case None => content
          }
        case _ => content
      }
  }

  /** Derive a deterministic media table from the documents corpus: payload
    * = UTF-8 text bytes, kind cycles image/audio/video, dimensions derive
    * from payload size. Stands in for `spark.read.format("binaryFile")` on
    * a real media lake.
    */
  def mediaFromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      element_at(array(lit("png"), lit("wav"), lit("mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"),
      (col("n_chars") % 640 + 32).cast("int").as("width"),
      (col("n_chars") % 480 + 32).cast("int").as("height"),
      // null text = missing media → EMPTY payload (coalesce on both
      // sides): the decode path sees zero bytes instead of NPE'ing
      encode(coalesce(col("text"), lit("")), "UTF-8").as("content"))

  /** Decode + feature-extract per partition: n_bytes, mean byte value and a
    * normalized 16-bin byte histogram per media row. The iterator shape is
    * the real thing — batch-local buffers, one pass over the payload.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition setup (in production: codec/model init)
      val histBuf = new Array[Long](HistogramBins)
      rows.map { m =>
        java.util.Arrays.fill(histBuf, 0L)
        val decoded = MediaCodec.samples(m.kind, m.format, m.content)
        var sum = 0L
        var i = 0
        while (i < decoded.length) {
          val b = decoded(i) & 0xff
          sum += b
          histBuf(b * HistogramBins / 256) += 1
          i += 1
        }
        val n = decoded.length
        MediaFeatures(
          m.media_id,
          m.kind,
          n,
          if (n == 0) 0.0 else sum.toDouble / n,
          histBuf.map(c => if (n == 0) 0.0 else c.toDouble / n))
      }
    }
  }

  /** Typed view of a media DataFrame. */
  def asMedia(df: DataFrame): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.as[MediaRow]
  }

  /** Metadata-only projection that a SQL oracle can mirror (payload
    * length is text length for the UTF-8 stub payloads; the codecs fall
    * back to raw bytes on text payloads, so decoded length ≡ payload
    * length here). Computed from the media RELATION, not through
    * [[extractFeatures]]: the typed mapPartitions decode is opaque to
    * Catalyst, so routing a meta-only projection through it would decode
    * every payload (ImageIO/WAV/Y4M parse attempts per row) for three
    * scalar columns — measured 13× growth at 10× corpus. This is manual
    * column pruning at the operator boundary: decode only on the paths
    * whose ANSWER needs decoded bytes (q75/q79/q85).
    */
  def mediaFeaturesMeta(documents: DataFrame): DataFrame =
    mediaFromDocuments(documents)
      .select(col("media_id"), col("kind"),
        length(col("content")).cast("int").as("n_bytes"))
      .orderBy("media_id")

  def mediaFeaturesMetaSql: String =
    """SELECT doc_id AS media_id,
      |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |  CAST(octet_length(encode(coalesce(text, ''))) AS INT) AS n_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  /** Deterministic image-corpus dimensions and pixel formula, shared by
    * the Spark encode side and the DuckDB oracle: image docs (doc_id % 3
    * == 0) get a `(doc_id % 24 + 8) × (doc_id % 16 + 8)` grayscale PNG
    * whose pixel (x, y) is `(x*31 + y*17 + doc_id*13) % 256`.
    */
  private def imgWidth(id: Long): Int = (id % 24 + 8).toInt
  private def imgHeight(id: Long): Int = (id % 16 + 8).toInt
  private def imgPixel(id: Long, x: Int, y: Int): Int =
    ((x * 31L + y * 17L + id * 13L) % 256L).toInt

  /** A media lake with REAL PNG payloads: each image-kind document renders
    * its formula pixels and encodes through the actual PNG codec. Narrow,
    * partition-local; stands in for `binaryFile` reads of a real lake.
    */
  def imageCorpus(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    // repartition the (8-byte) ids BEFORE the codec work: a compact corpus
    // arriving as one parquet split would otherwise encode+decode the whole
    // media lake on a single core — the same single-split hazard the
    // round-5 probe caught for embeddings (and the r8 sf1 bench caught for
    // q79: 12× scaling where the decode itself is linear)
    documents.select(col("doc_id")).filter(col("doc_id") % 3 === 0)
      .repartition(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h) = (imgWidth(id), imgHeight(id))
          MediaRow(id, "image", "png", w, h,
            MediaCodec.encodePng(w, h, (x, y) => imgPixel(id, x, y)))
        }
      }
  }

  /** Pixel statistics from DECODED payloads: the width/height/sums come
    * out of `ImageIO.read`, not the formula — so the oracle (which computes
    * the formula directly) verifies the encode→decode round-trip
    * bit-for-bit. Integer sums divide exactly once into the double mean,
    * so even the float column hash-matches cross-engine.
    */
  def imagePixelStats(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    imageCorpus(documents)
      .map { m =>
        val d = MediaCodec.decodeImage(m.content).getOrElse(
          sys.error(s"undecodable PNG for media_id=${m.media_id}"))
        var sum = 0L
        var i = 0
        while (i < d.pixels.length) { sum += d.pixels(i); i += 1 }
        (m.media_id, d.width, d.height, d.pixels.length.toLong, sum,
          sum.toDouble / d.pixels.length)
      }
      .toDF("media_id", "width", "height", "n_pixels", "sum_pixel", "mean_pixel")
      .orderBy("media_id")
  }

  def imagePixelStatsSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id,
      |    CAST(doc_id % 24 + 8 AS INT) AS width,
      |    CAST(doc_id % 16 + 8 AS INT) AS height
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT media_id, width, height,
      |    SUM((x.g*31 + y.g*17 + media_id*13) % 256) AS sum_pixel
      |  FROM dims,
      |    LATERAL (SELECT unnest(generate_series(0, width - 1)) AS g) x,
      |    LATERAL (SELECT unnest(generate_series(0, height - 1)) AS g) y
      |  GROUP BY 1, 2, 3)
      |SELECT media_id, width, height,
      |  CAST(width AS BIGINT) * height AS n_pixels,
      |  CAST(sum_pixel AS BIGINT) AS sum_pixel,
      |  CAST(sum_pixel AS DOUBLE) / (width * height) AS mean_pixel
      |FROM px ORDER BY media_id""".stripMargin

  /** Deterministic audio-corpus shape shared by the Spark encode side and
    * the DuckDB oracle: audio docs (doc_id % 3 == 1) get `doc_id % 400 +
    * 100` PCM samples, sample i = `((i*73 + doc_id*131) % 65536) - 32768`.
    */
  private def audioLen(id: Long): Int = (id % 400 + 100).toInt
  private def audioSample(id: Long, i: Int): Short =
    (((i * 73L + id * 131L) % 65536L) - 32768L).toShort

  /** A media lake with REAL WAV payloads (RIFF container written by the
    * JDK's audio codec) for the audio-kind documents.
    */
  def audioCorpus(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .repartition(col("doc_id")) // see imageCorpus — single-split hazard
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = audioLen(id)
          val pcm = Array.tabulate(n)(i => audioSample(id, i))
          MediaRow(id, "audio", "wav", n, 1, MediaCodec.encodeWav(pcm))
        }
      }
  }

  /** PCM statistics from DECODED payloads — the audio twin of
    * [[imagePixelStats]]: counts/sums come out of the real WAV decode, the
    * oracle computes the sample formula directly, so the encode→decode
    * round-trip (including container framing) is hash-verified.
    */
  def audioSampleStats(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    audioCorpus(documents)
      .map { m =>
        val pcm = MediaCodec.decodeWav(m.content).getOrElse(
          sys.error(s"undecodable WAV for media_id=${m.media_id}"))
        var sum = 0L
        var peak = 0
        var i = 0
        while (i < pcm.length) {
          sum += pcm(i)
          val a = math.abs(pcm(i).toInt)
          if (a > peak) peak = a
          i += 1
        }
        (m.media_id, pcm.length.toLong, sum, sum.toDouble / pcm.length, peak)
      }
      .toDF("media_id", "n_samples", "sum_sample", "mean_sample", "peak")
      .orderBy("media_id")
  }

  def audioSampleStatsSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, CAST(doc_id % 400 + 100 AS INT) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |sm AS (
      |  SELECT media_id, n,
      |    SUM((i.g*73 + media_id*131) % 65536 - 32768) AS sum_sample,
      |    MAX(abs((i.g*73 + media_id*131) % 65536 - 32768)) AS peak
      |  FROM dims,
      |    LATERAL (SELECT unnest(generate_series(0, n - 1)) AS g) i
      |  GROUP BY 1, 2)
      |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(sum_sample AS BIGINT) AS sum_sample,
      |  CAST(sum_sample AS DOUBLE) / n AS mean_sample,
      |  CAST(peak AS INT) AS peak
      |FROM sm ORDER BY media_id""".stripMargin

  // ------------------------------------------------------------------
  // Audio fingerprint + near-dup family (VERDICT r12 #4): images and
  // video both had fingerprint → banded near-dup → keep-list; this
  // completes the multimodal dedup matrix for audio. The fingerprint is
  // the audio analog of dHash: SIGN-OF-AMPLITUDE-DELTA over fixed PCM
  // windows — integer end to end (no FFT, no transcendentals), closed-
  // form mirrorable in the oracle like the dHash luma formula, and
  // structurally INVARIANT under uniform amplitude scaling (the
  // dominant benign re-master transform multiplies every window
  // amplitude by the same factor, preserving each pairwise order except
  // at integer-rounding near-ties — small measured Hamming, not
  // asserted zero) and under container re-encoding (the PCM is
  // unchanged, so the fingerprint is bit-identical).
  // ------------------------------------------------------------------

  /** Fixed amplitude-window count: 65 windows → 64 sign-of-delta bits,
    * the audio twin of the 9×8 dHash grid (so the 64-bit fingerprint
    * runs the same dedup path as the dHash, [[AudioSig]]).
    */
  private val AFpWindows = 65

  /** Deterministic variant-id offsets for [[audioVariantCorpus]]: the
    * planted re-encode / amplitude-scale twins live at `id + offset`,
    * far above any document id, so pair relations read unambiguously.
    */
  val AudioReEncOffset = 1000000000L
  val AudioScaleOffset = 2000000000L

  /** 64-bit audio fingerprint of a PCM buffer: split into [[AFpWindows]]
    * fixed windows (the dHash grid's floor/guard boundary arithmetic, so
    * short buffers degrade to overlapping windows instead of erroring),
    * window amplitude = Σ|sample| (Long — no overflow below 2^47
    * samples), bit w set iff amp(w+1) > amp(w).
    */
  def audioFp64(pcm: Array[Short]): Long = {
    val W = AFpWindows
    val n = pcm.length
    if (n == 0) return 0L
    val amps = new Array[Long](W)
    var w = 0
    while (w < W) {
      val x0 = (w.toLong * n / W).toInt
      val x1 = math.max(x0 + 1, ((w + 1).toLong * n / W).toInt)
      var s = 0L
      var i = x0
      while (i < x1) { s += math.abs(pcm(i).toInt); i += 1 }
      amps(w) = s
      w += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (amps(b + 1) > amps(b)) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** Decode → (n_samples, fingerprint) of one WAV payload; None when the
    * container does not parse. The corpus path fails on None, the stream
    * routes it to the dead-letter sink ([[hashBatch]]).
    */
  private def audioSignature(bytes: Array[Byte]): Option[(Long, Long)] =
    MediaCodec.decodeWav(bytes).map(pcm => (pcm.length.toLong, audioFp64(pcm)))

  /** Decode → fingerprint, one partition-local pass (payloads never
    * shuffle) — shared by the corpus and variant entry points.
    */
  private def audioFingerprintsOf(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media
      .map { m =>
        val (n, fp) = audioSignature(m.content).getOrElse(
          sys.error(s"undecodable WAV for media_id=${m.media_id}"))
        (m.media_id, n, fp >>> 32, fp & 0xFFFFFFFFL)
      }
      .toDF("media_id", "n_samples", "fp_hi", "fp_lo")
  }

  /** Per-clip audio fingerprint from DECODED payloads (oracle-checked as
    * q117): the PCM comes out of the real WAV decode, the oracle computes
    * the window-amplitude formula closed-form — decode → fingerprint
    * verified bit-for-bit, like q112's decode → dHash. The 64-bit
    * fingerprint ships as two unsigned 32-bit halves like the dHashes.
    */
  def audioFingerprints(documents: DataFrame): DataFrame =
    audioFingerprintsOf(audioCorpus(documents)).orderBy("media_id")

  /** The audio corpus PLUS its two deterministic planted variants, all
    * REAL WAV payloads: a container re-encode at a different sample rate
    * (identical PCM ⇒ identical fingerprint) and an amplitude-halved
    * re-master (`s/2` truncated ⇒ window amplitudes halve with floor
    * rounding ⇒ near-identical fingerprint). These are the benign
    * transforms an audio dedup must catch; making them part of the
    * corpus makes the catch itself HASH-CHECKED cross-engine (both
    * engines must find exactly the same pairs at the same distances)
    * instead of only spec-asserted.
    */
  def audioVariantCorpus(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id")).filter(col("doc_id") % 3 === 1)
      .repartition(col("doc_id")) // see imageCorpus — single-split hazard
      .as[Long]
      .flatMap { id =>
        val n = audioLen(id)
        val pcm = Array.tabulate(n)(i => audioSample(id, i))
        Seq(
          MediaRow(id, "audio", "wav", n, 1, MediaCodec.encodeWav(pcm)),
          MediaRow(id + AudioReEncOffset, "audio", "wav", n, 1,
            MediaCodec.encodeWav(pcm, sampleRate = 16000f)),
          MediaRow(id + AudioScaleOffset, "audio", "wav", n, 1,
            MediaCodec.encodeWav(pcm.map(s => (s / 2).toShort))))
      }
  }

  /** Audio multi-index band layout: NINE bands over the 64-bit
    * fingerprint (widths 7,7,7,7,8,7,7,7,7), with candidates required to
    * agree on a band PAIR rather than a single band (r14; VERDICT r13
    * #3). Exactness is the same pigeonhole, one level up (Norouzi &
    * Fleet, multi-index hashing): hamming ≤ [[MaxHamming]] = 7 damages at
    * most 7 of the 9 bands, so ≥ 2 bands survive intact and the pair
    * meets on at least one of its C(9,2) = 36 band-pair keys.
    *
    * Why pairs and not single bands or triples — MEASURED, r14, 50×
    * decade (250 k clips): single 8-bit bands (r13) ran the keep-list in
    * 120 s but only because 977-member buckets were silently truncated
    * to the 64-hub budget (survivors 1,103 where the full candidate set
    * yields 25 — a recall loss, not a win); band pairs run it in 154 s
    * (SCALEPROBE_r14_50x.json — an earlier probe of the same code
    * measured 148 s but was overwritten by later refreshes, so only the
    * 154 s run is committed evidence)
    * with the budget effectively not binding (full candidate recall);
    * 3-of-10 band TRIPLES (C(10,3) = 120 keys of 19–21 bits) measured
    * 312 s on the same stage — audio fingerprints cluster by clip-length
    * class (the window-size pattern, a function of n alone, drives most
    * sign bits), so same-class clips share MANY keys and each extra key
    * per clip multiplies the in-cluster candidate rows faster than the
    * wider key space cuts random collisions. Pairs are the measured
    * sweet spot: one pigeonhole level of safety margin, 36 keys per
    * clip, and the in-cluster multiplier stays ~4× below triples.
    */
  private val AudioBandLens = Array(7, 7, 7, 7, 8, 7, 7, 7, 7)
  private val AudioBandOffs = AudioBandLens.scanLeft(0)(_ + _).init
  private val AudioBands = AudioBandLens.length

  /** Band `b`'s value from the two unsigned-32 fingerprint halves. Band 4
    * (bits 28..35) straddles the halves: low 4 bits from the top of
    * `fp_lo`, high 4 from the bottom of `fp_hi`. Plain shift/mod integer
    * arithmetic, mirrored digit-for-digit by [[afpBandValSql]].
    */
  private def afpBandVal(b: Int, hi: Column, lo: Column): Column = {
    val off = AudioBandOffs(b); val len = AudioBandLens(b)
    if (off + len <= 32) shiftright(lo, off) % (1 << len)
    else if (off >= 32) shiftright(hi, off - 32) % (1 << len)
    else shiftright(lo, off) + (hi % (1 << (off + len - 32))) * (1L << (32 - off))
  }

  private def afpBandValSql(b: Int): String = {
    val off = AudioBandOffs(b); val len = AudioBandLens(b)
    if (off + len <= 32)
      s"(fp_lo // ${1L << off}) % ${1 << len}"
    else if (off >= 32)
      s"(fp_hi // ${1L << (off - 32)}) % ${1 << len}"
    else
      s"(fp_lo // ${1L << off}) + (fp_hi % ${1 << (off + len - 32)}) * ${1L << (32 - off)}"
  }

  /** One packed BIGINT key per (i < j) band pair:
    * `(i·9 + j)·2¹⁶ + val_i·2⁸ + val_j` (band values < 2⁸) — 36 rows per
    * clip, a single-column equi-join key: [[AudioSig]]'s band keys.
    */
  private def afpBandPairKeys(hi: Column, lo: Column): Column =
    explode(array((for (i <- 0 until AudioBands; j <- i + 1 until AudioBands)
      yield lit((i * AudioBands + j).toLong * 65536L) +
        afpBandVal(i, hi, lo) * 256L + afpBandVal(j, hi, lo)): _*))

  /** Near-duplicate audio pairs over the corpus + planted variants:
    * every (a < b) within fingerprint Hamming ≤ `maxHamming`, candidates
    * from the 2-of-9 band-pair multi-index ([[afpBandPairKeys]] — recall
    * EXACT for hamming ≤ 7: ≤ 7 damaged bands of 9 leave an intact pair;
    * the measured layout choice is documented at [[AudioBandLens]]),
    * verified by exact bit_count ([[nearDupPairs]]). Re-encodes land at
    * hamming 0; amplitude-halves land within a few bits (each bit flips
    * only when floor-rounding crosses an amplitude near-tie). Scale shape:
    * the PAIR relation is inherently corpus-quadratic in the clone-heavy
    * regime, so the keep-list twin ([[audioDedupKeepList]]) is the scale
    * path, exactly as q113 vs q114 for images.
    */
  def audioNearDups(
      documents: DataFrame, maxHamming: Int = MaxHamming): DataFrame =
    nearDupPairs(AudioSig,
      audioFingerprintsOf(audioVariantCorpus(documents)), maxHamming)

  /** The deduplicated AUDIO corpus — q118's pairs closed into survivors
    * via the shared star-rounds components, with the same HUB-BUDGETED
    * candidate generation (and the same honest recall-budget caveat) as
    * [[imageDedupKeepList]], applied per band-PAIR bucket. Pair buckets
    * (16-bit packed keys) sit far below [[NearDup.BucketBudget]] on real
    * volumes, so the budget rarely binds and the keep-list's candidate
    * recall is effectively the unbudgeted join's — unlike the r13
    * 8-bit-band layout, whose 977-member buckets at the 50× decade were
    * silently truncated to 64 hubs (survivors 1,103 where the fuller
    * candidate set yields 25). The measured layout comparison (single
    * band vs pair vs triple) is documented at [[AudioBandLens]].
    */
  def audioDedupKeepList(
      documents: DataFrame, maxHamming: Int = MaxHamming,
      bucketBudget: Int = graft.ops.NearDup.BucketBudget): DataFrame =
    dedupKeepList(AudioSig, audioFingerprintsOf(audioVariantCorpus(documents)),
      Seq("n_samples"), maxHamming, bucketBudget)

  /** The shared audio-fingerprint CTE chain (adoc → avar → awin → aamp →
    * afp): the closed-form sample formula, identical window boundaries,
    * floor divisions and bit packing to [[audioFp64]]. `withVariants`
    * adds the re-encode (same amplitudes) and amplitude-halved
    * (`abs // 2` — |trunc(s/2)| = ⌊|s|/2⌋ for 16-bit PCM) twins.
    */
  private def afpCtesSql(withVariants: Boolean): String = {
    val src =
      if (withVariants)
        """avar AS (
          |  SELECT media_id + v.off AS vid, media_id, n, v.dv
          |  FROM adoc, (VALUES (CAST(0 AS BIGINT), 1),
          |                     (CAST(1000000000 AS BIGINT), 1),
          |                     (CAST(2000000000 AS BIGINT), 2)) v(off, dv))"""
          .stripMargin
      else
        "avar AS (SELECT media_id AS vid, media_id, n, 1 AS dv FROM adoc)"
    s"""adoc AS (
       |  SELECT doc_id AS media_id, CAST(doc_id % 400 + 100 AS INT) AS n
       |  FROM documents WHERE doc_id % 3 = 1),
       |$src,
       |awin AS (
       |  SELECT vid, media_id, dv, w.g AS w,
       |    (w.g * n) // $AFpWindows AS x0,
       |    GREATEST((w.g * n) // $AFpWindows + 1,
       |             ((w.g + 1) * n) // $AFpWindows) AS x1
       |  FROM avar,
       |    LATERAL (SELECT unnest(generate_series(0, ${AFpWindows - 1})) AS g) w),
       |aamp AS (
       |  SELECT vid, w,
       |    CAST(SUM(abs((i.g*73 + media_id*131) % 65536 - 32768) // dv)
       |      AS BIGINT) AS amp
       |  FROM awin,
       |    LATERAL (SELECT unnest(generate_series(x0, x1 - 1)) AS g) i
       |  GROUP BY vid, w),
       |afp AS (
       |  SELECT a.vid AS media_id,
       |    CAST(SUM(CASE WHEN b.amp > a.amp AND a.w >= 32
       |      THEN (CAST(1 AS BIGINT) << (a.w - 32)) ELSE 0 END) AS BIGINT)
       |      AS fp_hi,
       |    CAST(SUM(CASE WHEN b.amp > a.amp AND a.w < 32
       |      THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END) AS BIGINT)
       |      AS fp_lo
       |  FROM aamp a JOIN aamp b ON a.vid = b.vid AND b.w = a.w + 1
       |  WHERE a.w < 64
       |  GROUP BY a.vid)""".stripMargin
  }

  def audioFingerprintsSql: String =
    s"""WITH ${afpCtesSql(false)}
       |SELECT d.media_id, CAST(d.n AS BIGINT) AS n_samples, f.fp_hi, f.fp_lo
       |FROM adoc d JOIN afp f USING (media_id)
       |ORDER BY media_id""".stripMargin

  /** SQL twin of [[afpBandPairKeys]]: the 36 packed band-pair keys per
    * clip, from the same per-band shift/mod arithmetic
    * ([[afpBandValSql]]) and the same `(i·9+j)·2¹⁶ + vᵢ·2⁸ + vⱼ` packing.
    */
  private def afpBandsSql: String = {
    val keys = (for (i <- 0 until AudioBands; j <- i + 1 until AudioBands)
      yield s"${(i * AudioBands + j).toLong * 65536L} + " +
        s"(${afpBandValSql(i)}) * 256 + (${afpBandValSql(j)})")
      .mkString(",\n      ")
    s"""bp AS (
       |  SELECT media_id, unnest([
       |      $keys]) AS bpk
       |  FROM afp)""".stripMargin
  }

  def audioNearDupsSql(maxHamming: Int = MaxHamming): String =
    s"""WITH ${afpCtesSql(true)},
       |$afpBandsSql,
       |cand AS (
       |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
       |  FROM bp a JOIN bp b
       |    ON a.bpk = b.bpk AND a.media_id < b.media_id)
       |SELECT media_a, media_b,
       |  CAST(bit_count(xor(fa.fp_hi, fb.fp_hi)) +
       |       bit_count(xor(fa.fp_lo, fb.fp_lo)) AS INT) AS hamming
       |FROM cand c
       |JOIN afp fa ON fa.media_id = c.media_a
       |JOIN afp fb ON fb.media_id = c.media_b
       |WHERE bit_count(xor(fa.fp_hi, fb.fp_hi)) +
       |      bit_count(xor(fa.fp_lo, fb.fp_lo)) <= $maxHamming
       |ORDER BY media_a, media_b""".stripMargin

  def audioDedupKeepListSql(
      maxHamming: Int = MaxHamming,
      bucketBudget: Int = graft.ops.NearDup.BucketBudget): String =
    s"""WITH ${afpCtesSql(true)},
       |$afpBandsSql,
       |hubs AS (
       |  SELECT * FROM bp
       |  QUALIFY row_number() OVER (PARTITION BY bpk
       |    ORDER BY media_id) <= $bucketBudget),
       |cand AS (
       |  SELECT DISTINCT h.media_id AS media_a, b.media_id AS media_b
       |  FROM hubs h JOIN bp b
       |    ON h.bpk = b.bpk AND h.media_id < b.media_id),
       |pairs AS (
       |  SELECT media_a, media_b
       |  FROM cand c
       |  JOIN afp fa ON fa.media_id = c.media_a
       |  JOIN afp fb ON fb.media_id = c.media_b
       |  WHERE bit_count(xor(fa.fp_hi, fb.fp_hi)) +
       |        bit_count(xor(fa.fp_lo, fb.fp_lo)) <= $maxHamming),
       |${graft.ops.NearDup.starLabelCtesSql("pairs", "media_a", "media_b")}
       |SELECT v.vid AS media_id, CAST(v.n AS BIGINT) AS n_samples
       |FROM avar v LEFT JOIN label l ON v.vid = l.doc_id
       |WHERE l.doc_id IS NULL OR l.label = l.doc_id
       |ORDER BY media_id""".stripMargin

  /** Deterministic video-corpus shape shared by the Spark encode side and
    * the DuckDB oracle: video docs (doc_id % 3 == 2) get a Y4M stream of
    * `doc_id % 6 + 2` frames at `(doc_id % 16 + 8) × (doc_id % 12 + 8)`,
    * luma(f, x, y) = `(x*31 + y*17 + f*29 + doc_id*13) % 256`.
    */
  private def vidWidth(id: Long): Int = (id % 16 + 8).toInt
  private def vidHeight(id: Long): Int = (id % 12 + 8).toInt
  private def vidFrames(id: Long): Int = (id % 6 + 2).toInt
  private def vidPixel(id: Long, f: Int, x: Int, y: Int): Int =
    ((x * 31L + y * 17L + f * 29L + id * 13L) % 256L).toInt

  /** A media lake with REAL Y4M payloads (stream header + FRAME-framed
    * luma planes) for the video-kind documents — the video twin of
    * [[imageCorpus]]/[[audioCorpus]].
    */
  def videoCorpus(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id")).filter(col("doc_id") % 3 === 2)
      .repartition(col("doc_id")) // see imageCorpus — single-split hazard
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h, n) = (vidWidth(id), vidHeight(id), vidFrames(id))
          MediaRow(id, "video", "y4m", w, h,
            MediaCodec.encodeY4m(w, h, n, (f, x, y) => vidPixel(id, f, x, y)))
        }
      }
  }

  /** Frame sampling over DECODED video: every [[FrameSampleEvery]]-th
    * frame of each Y4M payload is pulled from the demuxed frame array and
    * reduced to pixel statistics. Counts/sums come out of the real
    * header+frame parse, the oracle computes the luma formula directly —
    * so the container round-trip (header fields, frame markers, plane
    * offsets) is hash-verified like q75/q79. Sampling touches only the
    * selected planes; payloads stay partition-local and never shuffle.
    */
  def videoFrameStats(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    videoCorpus(documents)
      .flatMap { m =>
        val v = MediaCodec.decodeY4m(m.content).getOrElse(
          sys.error(s"undecodable Y4M for media_id=${m.media_id}"))
        (0 until v.frames.length by FrameSampleEvery).map { f =>
          val plane = v.frames(f)
          var sum = 0L
          var i = 0
          while (i < plane.length) { sum += plane(i) & 0xff; i += 1 }
          (m.media_id, f, v.width, v.height, sum,
            sum.toDouble / plane.length)
        }
      }
      .toDF("media_id", "frame_idx", "width", "height", "sum_pixel", "mean_pixel")
      .orderBy("media_id", "frame_idx")
  }

  def videoFrameStatsSql: String =
    s"""WITH dims AS (
       |  SELECT doc_id AS media_id,
       |    CAST(doc_id % 16 + 8 AS INT) AS width,
       |    CAST(doc_id % 12 + 8 AS INT) AS height,
       |    CAST(doc_id % 6 + 2 AS INT) AS n_frames
       |  FROM documents WHERE doc_id % 3 = 2),
       |px AS (
       |  SELECT media_id, CAST(f.g AS INT) AS frame_idx, width, height,
       |    SUM((x.g*31 + y.g*17 + f.g*29 + media_id*13) % 256) AS sum_pixel
       |  FROM dims,
       |    LATERAL (SELECT unnest(generate_series(0, n_frames - 1, $FrameSampleEvery)) AS g) f,
       |    LATERAL (SELECT unnest(generate_series(0, width - 1)) AS g) x,
       |    LATERAL (SELECT unnest(generate_series(0, height - 1)) AS g) y
       |  GROUP BY 1, 2, 3, 4)
       |SELECT media_id, frame_idx, width, height,
       |  CAST(sum_pixel AS BIGINT) AS sum_pixel,
       |  CAST(sum_pixel AS DOUBLE) / (width * height) AS mean_pixel
       |FROM px ORDER BY media_id, frame_idx""".stripMargin

  /** Resize stub for image rows: scale metadata to fit `maxDim` and stride-
    * subsample the payload accordingly (a real impl would resample pixels;
    * the plumbing — narrow, partition-local, metadata-consistent — is what
    * matters here).
    */
  def resize(media: Dataset[MediaRow], maxDim: Int = 64): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { m =>
      if (m.kind != "image" || math.max(m.width, m.height) <= maxDim) m
      else {
        val scale = maxDim.toDouble / math.max(m.width, m.height)
        val stride = math.max(1, math.round(1.0 / scale).toInt)
        val out = Array.range(0, m.content.length, stride).map(m.content)
        m.copy(
          width = math.max(1, (m.width * scale).toInt),
          height = math.max(1, (m.height * scale).toInt),
          content = out)
      }
    }
  }

  /** Frame sampling for video rows: fixed-size frames, every k-th sampled.
    * Only offsets/lengths are produced — the payload is never copied per
    * frame (at scale the sampled frame extraction happens in the same
    * partition-local pass that decodes).
    */
  def sampleFrames(media: Dataset[MediaRow]): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val nFrames = (m.content.length + FrameBytes - 1) / FrameBytes
      (0 until nFrames by FrameSampleEvery).map { idx =>
        val off = idx * FrameBytes
        Frame(m.media_id, idx, off, math.min(FrameBytes, m.content.length - off))
      }
    }
  }

  def frameSample(documents: DataFrame): DataFrame =
    sampleFrames(asMedia(mediaFromDocuments(documents)))
      .toDF()
      .orderBy("media_id", "frame_idx")

  def frameSampleSql: String =
    s"""SELECT media_id, CAST(f AS INT) AS frame_idx,
       |  CAST(f * $FrameBytes AS INT) AS byte_offset,
       |  CAST(least($FrameBytes, n_bytes - f * $FrameBytes) AS INT) AS frame_len
       |FROM (
       |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
       |  FROM documents WHERE doc_id % 3 = 2),
       |  LATERAL (SELECT unnest(generate_series(0,
       |    CAST(ceil(CAST(n_bytes AS DOUBLE) / $FrameBytes) AS BIGINT) - 1,
       |    $FrameSampleEvery)) AS f)
       |ORDER BY media_id, frame_idx""".stripMargin

  // ------------------------------------------------------------------
  // Perceptual image near-dup (r11): dHash over decoded rasters +
  // banded exact Hamming join — the multimodal half of the dedup story
  // (text and embeddings had near-dup ops since r4; rasters only had
  // pixel stats). Public-literature recipe: difference hash (dHash, the
  // standard perceptual-hash family of pHash/blockhash), with the
  // multi-index Hamming band trick (Norouzi, Punjani, Fleet, "Fast
  // Search in Hamming Space with Multi-Index Hashing", CVPR 2012 —
  // hamming ≤ B−1 over B bands guarantees one band collides, so the
  // banded equi-join is EXACT, not approximate, at the default radius).
  // ------------------------------------------------------------------

  /** dHash grid: 9×8 box-averages → 64 horizontal-gradient bits. */
  private val DHashCols = 9
  private val DHashRows = 8

  /** Hamming bands: 8 bands × 8 bits ⇒ the banded join is exact for
    * hamming ≤ [[MaxHamming]] = 7 by pigeonhole.
    */
  private val DHashBands = 8
  val MaxHamming = 7

  /** 64-bit dHash of a decoded grayscale raster: deterministic integer
    * box-average downsample to a [[DHashCols]]×[[DHashRows]] grid (cell
    * (i,j) averages pixels [⌊iW/9⌋, max(⌊iW/9⌋+1, ⌊(i+1)W/9⌋)) ×
    * [⌊jH/8⌋, …) — the max() guard keeps every cell non-empty down to
    * 8-pixel-wide images; integer floor division throughout, so the hash
    * is closed-form mirrorable in SQL, unlike interpolated resizes), then
    * bit j·8+i = 1 iff cell (i,j) < cell (i+1,j) — the horizontal
    * gradient signature that survives brightness shifts and re-encodes.
    */
  private[ops] def dHash64(pixels: Array[Int], w: Int, h: Int): Long = {
    val avg = Array.ofDim[Long](DHashCols, DHashRows)
    var i = 0
    while (i < DHashCols) {
      val x0 = i * w / DHashCols
      val x1 = math.max(x0 + 1, (i + 1) * w / DHashCols)
      var j = 0
      while (j < DHashRows) {
        val y0 = j * h / DHashRows
        val y1 = math.max(y0 + 1, (j + 1) * h / DHashRows)
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += pixels(y * w + x); x += 1 }
          y += 1
        }
        avg(i)(j) = s / ((x1 - x0).toLong * (y1 - y0))
        j += 1
      }
      i += 1
    }
    var dh = 0L
    var j = 0
    while (j < DHashRows) {
      var k = 0
      while (k < DHashCols - 1) {
        if (avg(k)(j) < avg(k + 1)(j)) dh |= 1L << (j * 8 + k)
        k += 1
      }
      j += 1
    }
    dh
  }

  /** Per-image perceptual hash from DECODED payloads: the raster comes
    * out of the real PNG decode ([[imageCorpus]] → `ImageIO`), the oracle
    * computes the same box-average gradients from the pixel formula — so
    * the decode→hash pipeline is verified bit-for-bit, like q75. The
    * 64-bit hash ships as two unsigned 32-bit halves (`dhash_hi` bits
    * 63..32, `dhash_lo` bits 31..0) so no engine ever shifts into a
    * BIGINT sign bit.
    */
  def imageDHashes(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    imageCorpus(documents)
      .map { m =>
        val (w, h, dh) = imageSignature(m.content).getOrElse(
          sys.error(s"undecodable PNG for media_id=${m.media_id}"))
        (m.media_id, w, h, dh >>> 32, dh & 0xFFFFFFFFL)
      }
      .toDF("media_id", "width", "height", "dhash_hi", "dhash_lo")
      .orderBy("media_id")
  }

  /** Decode → (width, height, dHash) of one PNG payload; None when it does
    * not decode. The corpus path fails on None, the stream routes it to
    * the dead-letter sink ([[hashBatch]]).
    */
  private def imageSignature(bytes: Array[Byte]): Option[(Int, Int, Long)] =
    MediaCodec.decodeImage(bytes).map(d =>
      (d.width, d.height, dHash64(d.pixels, d.width, d.height)))

  /** The shared dHash CTE chain (imgs → cells → avgs → dh): closed-form
    * pixel formula, identical grid/floor/guard arithmetic to [[dHash64]].
    */
  private def dHashCtesSql: String =
    s"""imgs AS (
       |  SELECT doc_id AS media_id,
       |    CAST(doc_id % 24 + 8 AS INT) AS width,
       |    CAST(doc_id % 16 + 8 AS INT) AS height
       |  FROM documents WHERE doc_id % 3 = 0),
       |cells AS (
       |  SELECT media_id, width, i.g AS i, j.g AS j,
       |    (i.g * width) // $DHashCols AS x0,
       |    GREATEST((i.g * width) // $DHashCols + 1,
       |             ((i.g + 1) * width) // $DHashCols) AS x1,
       |    (j.g * height) // $DHashRows AS y0,
       |    GREATEST((j.g * height) // $DHashRows + 1,
       |             ((j.g + 1) * height) // $DHashRows) AS y1
       |  FROM imgs,
       |    LATERAL (SELECT unnest(generate_series(0, ${DHashCols - 1})) AS g) i,
       |    LATERAL (SELECT unnest(generate_series(0, ${DHashRows - 1})) AS g) j),
       |avgs AS (
       |  SELECT media_id, i, j,
       |    CAST(SUM((x.g*31 + y.g*17 + media_id*13) % 256) AS BIGINT)
       |      // ((x1 - x0) * (y1 - y0)) AS avg
       |  FROM cells,
       |    LATERAL (SELECT unnest(generate_series(x0, x1 - 1)) AS g) x,
       |    LATERAL (SELECT unnest(generate_series(y0, y1 - 1)) AS g) y
       |  GROUP BY media_id, i, j, x1, x0, y1, y0),
       |dh AS (
       |  SELECT a.media_id,
       |    CAST(SUM(CASE WHEN a.avg < b.avg AND a.j*8 + a.i >= 32
       |      THEN (CAST(1 AS BIGINT) << (a.j*8 + a.i - 32)) ELSE 0 END) AS BIGINT)
       |      AS dhash_hi,
       |    CAST(SUM(CASE WHEN a.avg < b.avg AND a.j*8 + a.i < 32
       |      THEN (CAST(1 AS BIGINT) << (a.j*8 + a.i)) ELSE 0 END) AS BIGINT)
       |      AS dhash_lo
       |  FROM avgs a JOIN avgs b
       |    ON a.media_id = b.media_id AND a.j = b.j AND b.i = a.i + 1
       |  WHERE a.i < ${DHashCols - 1}
       |  GROUP BY a.media_id)""".stripMargin

  def imageDHashesSql: String =
    s"""WITH $dHashCtesSql
       |SELECT i.media_id, i.width, i.height, d.dhash_hi, d.dhash_lo
       |FROM imgs i JOIN dh d USING (media_id)
       |ORDER BY media_id""".stripMargin

  /** The 8×8-bit band split of a (dhash_hi, dhash_lo) pair — the
    * multi-index join key (band_idx, band_val) of [[ImageSig]].
    */
  private def dhashBands(hi: Column, lo: Column): Column =
    posexplode(array((0 until DHashBands).map { b =>
      shiftright(if (b < 4) lo else hi, (b % 4) * 8) % 256
    }: _*))

  /** Perceptual near-duplicate image pairs: every (a < b) with
    * dHash Hamming distance ≤ `maxHamming`, found by the banded
    * equi-join — each hash splits into [[DHashBands]] 8-bit band values,
    * candidates share ≥1 (band, value), and the exact `bit_count(xor)`
    * verify keeps true pairs only ([[nearDupPairs]]). For `maxHamming` ≤
    * bands−1 (the default 7) the pigeonhole argument makes recall EXACT —
    * this is the all-pairs relation computed without an all-pairs join,
    * the same candidates-then-verify shape as the MinHash/SimHash text
    * paths. Scale: the join is keyed on (band_idx, band_val); per-bucket
    * population is bounded by corpus hash diversity, and a skewed bucket
    * (a constant-image corpus) is exactly the clone-heavy regime where
    * the output itself is quadratic — cap with a hub budget upstream if
    * pairs are not the goal (the keep-list ops pattern).
    */
  def imageNearDups(documents: DataFrame, maxHamming: Int = MaxHamming): DataFrame =
    nearDupPairs(ImageSig, imageDHashes(documents), maxHamming)

  def imageNearDupsSql(maxHamming: Int = MaxHamming): String =
    s"""WITH $dHashCtesSql,
       |bands AS (
       |  SELECT media_id, b.g AS band_idx,
       |    (CASE WHEN b.g < 4 THEN dhash_lo ELSE dhash_hi END
       |      // (CAST(1 AS BIGINT) << ((b.g % 4) * 8))) % 256 AS band_val
       |  FROM dh, LATERAL (SELECT unnest(generate_series(0, ${DHashBands - 1})) AS g) b),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.media_id < b.media_id)
       |SELECT media_a, media_b,
       |  CAST(bit_count(xor(da.dhash_hi, db.dhash_hi)) +
       |       bit_count(xor(da.dhash_lo, db.dhash_lo)) AS INT) AS hamming
       |FROM cand c
       |JOIN dh da ON da.media_id = c.media_a
       |JOIN dh db ON db.media_id = c.media_b
       |WHERE bit_count(xor(da.dhash_hi, db.dhash_hi)) +
       |      bit_count(xor(da.dhash_lo, db.dhash_lo)) <= $maxHamming
       |ORDER BY media_a, media_b""".stripMargin

  /** The deduplicated IMAGE corpus — q113's pairs closed into survivors
    * (VERDICT r11 #3: production wants a keep-list, not a pair dump):
    * per perceptual near-dup component only the lowest media_id survives,
    * via the same O(log n) large-star/small-star machinery the text
    * keep-lists run ([[NearDup.components]]).
    *
    * Unlike the exact pair relation, candidate generation here is
    * HUB-BUDGETED ([[NearDup.BucketBudget]] smallest media_ids per
    * (band, value) bucket act as representatives) — the clone-heavy
    * corpus where a band bucket holds a whole duplicate family is
    * exactly where the pair relation goes quadratic, while the keep-list
    * only needs enough edges to connect each family. In that motivating
    * hot case the bucket is one near-identical family, every member
    * matches the representatives, and components (hence survivors) equal
    * the unbudgeted join's at members·budget candidate cost instead of
    * members². Like the text side's [[NearDup.BucketBudget]], this is
    * still an explicit RECALL budget, not a theorem: a mixed bucket
    * whose `budget` smallest ids all belong to a DIFFERENT family can
    * drop the only edge linking two same-family members (they stay
    * connected only if some shared bucket's representatives reach them),
    * and the budget=1 == unbudgeted spec pin certifies the clone-family
    * regime, not adversarial mixtures — the oracle SQL carries the same
    * hubs cutoff, so cross-engine correctness holds on any corpus.
    */
  def imageDedupKeepList(
      documents: DataFrame, maxHamming: Int = MaxHamming,
      bucketBudget: Int = graft.ops.NearDup.BucketBudget): DataFrame =
    dedupKeepList(ImageSig, imageDHashes(documents), Seq("width", "height"),
      maxHamming, bucketBudget)

  def imageDedupKeepListSql(
      maxHamming: Int = MaxHamming,
      bucketBudget: Int = graft.ops.NearDup.BucketBudget): String =
    s"""WITH $dHashCtesSql,
       |bands AS (
       |  SELECT media_id, b.g AS band_idx,
       |    (CASE WHEN b.g < 4 THEN dhash_lo ELSE dhash_hi END
       |      // (CAST(1 AS BIGINT) << ((b.g % 4) * 8))) % 256 AS band_val
       |  FROM dh, LATERAL (SELECT unnest(generate_series(0, ${DHashBands - 1})) AS g) b),
       |hubs AS (
       |  SELECT * FROM bands
       |  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val
       |    ORDER BY media_id) <= $bucketBudget),
       |cand AS (
       |  SELECT DISTINCT h.media_id AS media_a, b.media_id AS media_b
       |  FROM hubs h JOIN bands b
       |    ON h.band_idx = b.band_idx AND h.band_val = b.band_val
       |   AND h.media_id < b.media_id),
       |pairs AS (
       |  SELECT media_a, media_b
       |  FROM cand c
       |  JOIN dh da ON da.media_id = c.media_a
       |  JOIN dh db ON db.media_id = c.media_b
       |  WHERE bit_count(xor(da.dhash_hi, db.dhash_hi)) +
       |        bit_count(xor(da.dhash_lo, db.dhash_lo)) <= $maxHamming),
       |${graft.ops.NearDup.starLabelCtesSql("pairs", "media_a", "media_b")}
       |SELECT i.media_id, i.width, i.height
       |FROM imgs i LEFT JOIN label l ON i.media_id = l.doc_id
       |WHERE l.doc_id IS NULL OR l.label = l.doc_id
       |ORDER BY i.media_id""".stripMargin

  // ------------------------------------------------------------------
  // One dedup path for the two 64-bit signature kinds — image dHash and
  // audio amplitude fingerprint. Both run the same algorithm on the same
  // kind of value: band-keyed candidates, an exact bit_count Hamming
  // verify inside the collision join, a hub budget per band bucket, a
  // persisted index and one fused within-batch + against-index verdict
  // pass. A [[SigKind]] names what differs — the signature's column
  // names, its band-key generator and its index relations — and every
  // stage below serves both kinds. The band layouts stay per kind because
  // their recall arguments differ: 8 single 8-bit bands for images, 36
  // band-pair keys for audio ([[AudioBandLens]]).
  //
  // The persisted index (r12, the media twin of NearDup's writeDedupIndex
  // / incrementalDedupAgainstIndex) is what a crawl keeps so each media
  // micro-batch pays batch-sized joins against a streaming scan of the
  // index, never a corpus pass. Per kind, two relations under `path`:
  //   sig/   asig/    (ix_id, hi, lo)         — the exact-signature index;
  //   bands/ abands/  (ix_id, keys…, hi, lo)  — the multi-index Hamming
  //          join side, HUB-BUDGETED at write time like the text bands,
  //          with the signature halves riding every row.
  // ------------------------------------------------------------------

  /** A 64-bit signature kind: `name` is the declared media kind it serves,
    * `hi`/`lo` name the columns of the signature's two unsigned 32-bit
    * halves, `bandKeys` explodes a signature into its band-key rows
    * (columns `keys`), `sigRel`/`bandRel` name its index relations, and
    * `signature` decodes one payload to its signature (None when the
    * payload does not decode).
    */
  private[graft] final case class SigKind(
      name: String, hi: String, lo: String, keys: Seq[String],
      bandKeys: (Column, Column) => Column, sigRel: String, bandRel: String,
      signature: Array[Byte] => Option[Long]) {
    /** Band-row column names, with the id and the halves renamed. */
    def bandCols(id: String, h: String, l: String): Seq[String] =
      (id +: keys) ++ Seq(h, l)
  }

  val ImageSig: SigKind = SigKind("image", "dhash_hi", "dhash_lo",
    Seq("band_idx", "band_val"), dhashBands, "sig", "bands",
    imageSignature(_).map(_._3))

  val AudioSig: SigKind = SigKind("audio", "fp_hi", "fp_lo", Seq("bpk"),
    afpBandPairKeys, "asig", "abands", audioSignature(_).map(_._2))

  val SigKinds: Seq[SigKind] = Seq(ImageSig, AudioSig)

  /** The band rows of a (media_id, hi, lo) relation: one row per band key,
    * the signature halves RIDING every row (r15; VERDICT r14 #2). The 16
    * extra bytes per band row let every consumer verify bit_count INSIDE
    * the collision join — the pre-r15 shape shuffled the candidate set
    * through a distinct and two signature equi-joins before the (cheap)
    * verify. Same candidates, same verify, same output — only the
    * exchanges move. Measured on audio (interleaved same-corpus medians,
    * SURVEY r15): the pair-relation consumers halve where those exchanges
    * were the bigger fraction (sf1 bench q118 −55%, q119 −45%); the 50×
    * keep-list TOTAL is neutral within host noise because codec + closure
    * dominate there (the collision join is ~7 s of ~120).
    */
  private[graft] def bandRows(kind: SigKind, sigs: DataFrame): DataFrame =
    sigs.select(col("media_id"),
      kind.bandKeys(col(kind.hi), col(kind.lo)).as(kind.keys),
      col(kind.hi), col(kind.lo))

  /** The hub rows of a (media_id, hi, lo) relation: its band rows cut to
    * the `bucketBudget` smallest media_ids per band bucket
    * ([[NearDup.budgetedHubs]]) — the keep-list's representatives and the
    * persisted band relation.
    */
  private[graft] def hubBands(
      kind: SigKind, sigs: DataFrame, bucketBudget: Int): DataFrame =
    graft.ops.NearDup.budgetedHubs(
      bandRows(kind, sigs), kind.keys, "media_id", bucketBudget)

  /** Hamming distance of two signatures given as 32-bit half columns. */
  private def hamming(hiA: String, loA: String, hiB: String, loB: String): Column =
    bit_count(col(hiA) bitwiseXOR col(hiB)) + bit_count(col(loA) bitwiseXOR col(loB))

  /** Every (media_a < media_b, hamming) band-row collision of `as` with
    * `bs` within Hamming ≤ `maxHamming`, verified INSIDE the collision
    * join ([[bandRows]]): the collision multiset never reaches an
    * exchange. A pair colliding on several keys repeats.
    */
  private def collide(
      kind: SigKind, as: DataFrame, bs: DataFrame, maxHamming: Int): DataFrame =
    as.toDF(kind.bandCols("media_a", "hi_a", "lo_a"): _*)
      .join(bs.toDF(kind.bandCols("media_b", "hi_b", "lo_b"): _*), kind.keys)
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        hamming("hi_a", "lo_a", "hi_b", "lo_b").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Every near-duplicate pair (a < b within Hamming ≤ `maxHamming`) of a
    * signature relation — q113 and q118. The signatures are cached and
    * freed after the caller's action (r19 §5), NOT eagerly materialized:
    * the self-join's two concurrent map stages look like they race the
    * decode, but the block manager locks each cached partition while the
    * first task computes it (the second waits, then reads) — an up-front
    * count() only added a job (+0.3 s A/B'd, r19).
    */
  private def nearDupPairs(
      kind: SigKind, sigs: DataFrame, maxHamming: Int): DataFrame = {
    val sig = sigs.select(col("media_id"), col(kind.hi), col(kind.lo)).cache()
    val bands = bandRows(kind, sig)
    graft.util.CacheScope.freeAfterUse(
      collide(kind, bands, bands, maxHamming)
        .distinct() // hamming is a function of (a, b): multi-key collisions
        // collapse to the same 3-tuple
        .orderBy("media_a", "media_b"),
      Seq(sig))
  }

  /** The deduplicated corpus of a signature relation (media_id, `extras`,
    * hi, lo) — q114 and q119: hub candidates ([[hubBands]] against every
    * band row, verified in-join) closed into components
    * ([[NearDup.components]]); the lowest media_id of each component
    * survives with its `extras`. NO distinct on the pairs: components'
    * first step canonicalizes + distincts + checkpoints the edge set
    * itself — a distinct here would pay a second full exchange of the same
    * rows (r15 50× audio census, SURVEY r15: 518M collision rows scanned in
    * ~7 s, 59.5% of them within-radius multi-key duplicates of 32.1M unique
    * true pairs). The signatures are cached and freed after the caller's
    * action.
    */
  private def dedupKeepList(
      kind: SigKind, sigs: DataFrame, extras: Seq[String],
      maxHamming: Int, bucketBudget: Int): DataFrame = {
    val cached = sigs.cache()
    val sig = cached.select(col("media_id"), col(kind.hi), col(kind.lo))
    val pairs = collide(kind, hubBands(kind, sig, bucketBudget),
        bandRows(kind, sig), maxHamming)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val losers = graft.ops.NearDup.components(pairs)
      .filter(col("doc_id") =!= col("label"))
      .select(col("doc_id").as("loser_id"))
    val out = ("media_id" +: extras).map(col)
    graft.util.CacheScope.freeAfterUse(
      cached.select(out: _*)
        .join(losers, col("media_id") === col("loser_id"), "left_anti")
        .select(out: _*)
        .orderBy("media_id"),
      Seq(cached))
  }

  /** Decode → signature for a raw streaming batch (media_id, content):
    * one partition-local pass (payloads never shuffle), `decoded = false`
    * rows for undecodable bytes (the caller's dead-letter branch) — the
    * signature halves are 0 there and never join anything.
    */
  def hashBatch(kind: SigKind, batch: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    val signature = kind.signature
    batch.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        signature(bytes).fold((id, false, 0L, 0L))(s =>
          (id, true, s >>> 32, s & 0xFFFFFFFFL))
      }
      .toDF("media_id", "decoded", kind.hi, kind.lo)
  }

  /** The media index's relations and their schemas, as
    * [[graft.streaming.MediaIngest.initIndex]] writes them empty: each
    * signature kind's two relations, the `payload/` byte-identity relation
    * ([[payloadHashes]]) and the video `vframes/` keyframe-hash relation.
    */
  val IndexRelations: Seq[(String, StructType)] = Seq(
    "sig" -> "ix_id BIGINT, dhash_hi BIGINT, dhash_lo BIGINT",
    "bands" ->
      "ix_id BIGINT, band_idx INT, band_val BIGINT, dhash_hi BIGINT, dhash_lo BIGINT",
    "asig" -> "ix_id BIGINT, fp_hi BIGINT, fp_lo BIGINT",
    "abands" -> "ix_id BIGINT, bpk BIGINT, fp_hi BIGINT, fp_lo BIGINT",
    "payload" -> "ix_id BIGINT, payload_hash STRING",
    "vframes" -> "ix_id BIGINT, dhash_hi BIGINT, dhash_lo BIGINT")
    .map { case (rel, ddl) => rel -> StructType.fromDDL(ddl) }

  /** Relation `rel` of the media index at `path`. One that does not exist
    * yet reads empty with its [[IndexRelations]] schema, so an index
    * written before the relation existed keeps working: its rows are all
    * novel there (the payload gate decodes every payload, a clip faces an
    * empty index).
    */
  def readIndex(spark: SparkSession, path: String, rel: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$rel")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.parquet(p.toString)
    else spark.createDataFrame(
      java.util.List.of[Row](), IndexRelations.toMap.apply(rel))
  }

  /** The two index writes of a kind's (media_id, hi, lo, …) rows: the
    * exact relation and the hub-budgeted band relation, hub budget within
    * the written rows.
    */
  private def sigIndexWrites(
      kind: SigKind, sigs: DataFrame, path: String, mode: String,
      bucketBudget: Int): Seq[() => Unit] = {
    val base = sigs.select(col("media_id"), col(kind.hi), col(kind.lo))
    Seq(
      () => base.withColumnRenamed("media_id", "ix_id")
        .write.mode(mode).parquet(s"$path/${kind.sigRel}"),
      () => hubBands(kind, base, bucketBudget).withColumnRenamed("media_id", "ix_id")
        .write.mode(mode).parquet(s"$path/${kind.bandRel}"))
  }

  /** Materialize a kind's index relations from a signature snapshot
    * ((media_id, hi, lo) rows — [[imageDHashes]] or [[hashBatch]] output).
    * Also the rebuild of an image `bands/` relation written before its
    * rows carried the signature halves: pass the index's own `sig/` rows
    * with `ix_id` renamed to `media_id`.
    */
  def writeSigIndex(
      kind: SigKind, sigs: DataFrame, path: String,
      bucketBudget: Int = graft.ops.NearDup.BucketBudget): Unit = {
    val base = sigs.select(col("media_id"), col(kind.hi), col(kind.lo)).cache()
    try sigIndexWrites(kind, base, path, "overwrite", bucketBudget).foreach(_())
    finally graft.util.CacheScope.release(base)
  }

  /** Append a batch's KEPT signatures — the crawl write-back. Same
    * LSM/budget semantics as [[NearDup.appendDedupIndex]]: budget within
    * each appended snapshot; recall only improves vs a fresh write.
    * `keptSigs` must not read anything under `path` (every caller passes
    * the batch's pinned signature checkpoint joined with the pinned
    * verdict frame) — then the two appends evaluate it independently and
    * run as CONCURRENT jobs: no checkpoint job, no ordering between the
    * writes, and neither write can invalidate the other's input (the
    * recache hazard needs a reader of the appended path).
    */
  def appendSigIndex(
      kind: SigKind, keptSigs: DataFrame, path: String,
      bucketBudget: Int = graft.ops.NearDup.BucketBudget): Unit =
    graft.util.ParJobs.run(
      sigIndexWrites(kind, keptSigs, path, "append", bucketBudget): _*)

  /** md5 of the RAW payload bytes — the byte-identity key for the media
    * pre-gate (VERDICT r12 #1): a re-crawl that ships the exact same
    * bytes (the dominant duplicate class in any crawl) is provably an
    * `exact_dup` of the image it byte-matches WITHOUT decoding — same
    * bytes ⇒ same pixels ⇒ same dHash ⇒ the decode path's exact verdict.
    * One codegen'd md5 per row vs a full PNG inflate+raster pass.
    */
  def payloadHashes(batch: DataFrame): DataFrame =
    batch.select(col("media_id"), col("kind"),
      md5(col("content")).as("payload_hash"))

  /** Append a batch's KEPT payload hashes — the `payload/` twin of
    * [[appendSigIndex]]'s write-back, same crash-safe at-least-once
    * discipline: re-appending on replay only duplicates rows for the
    * same ix_id (min(ix_id) verdicts unchanged), and the verdict join
    * excludes self-matches so a replayed kept image still verdicts kept.
    * Caller pins `keptPayloads` (the read-modify-write recache note).
    */
  def appendPayloadIndex(keptPayloads: DataFrame, path: String): Unit = {
    keptPayloads.select(col("media_id").as("ix_id"), col("payload_hash"))
      .write.mode("append").parquet(s"$path/payload")
    ()
  }

  /** COMBINED within-batch + against-index verdicts in ONE pass (r13 —
    * the media loop previously ran a within-batch pass and an
    * against-index pass as separate stages, ~10 extra shuffles + an
    * eager checkpoint per micro-batch of pure scheduling overhead): the
    * match side is the persisted index ∪ the batch itself, with
    * admissibility (index: any row, see below; batch: `ix_id < media_id`,
    * the intra canonical rule). `dup_of` = the smallest admissible match
    * — exact (identical signature) wins over near (band collision within
    * `maxHamming`, verified inside the collision join: the signature
    * halves ride both the batch band rows and the persisted band rows),
    * exactly the two-stage semantics after root resolution: batch-side
    * targets may themselves be duplicates, and the caller's
    * [[NearDup.resolveDupRootsCounted]] lands them on the same roots the
    * staged form reached hop by hop (exact copies share signatures, so a
    * near match to a copy is a near match to its canonical at the SAME
    * Hamming distance — kept sets are identical). Index bands stay
    * hub-budgeted from write time; batch bands are complete.
    *
    * Two r14 admissibility refinements:
    *  - the batch MATCH side is SIGNATURE-CANONICALIZED (one row per
    *    distinct signature, at its min media_id). For any probe this
    *    changes nothing — copies share their canon's signature and carry
    *    larger ids, so the set and the min of admissible matches are
    *    preserved — but it makes the match relation independent of which
    *    upstream gate decoded the rows: the payloadGate=false arm's
    *    decoded byte-copies previously contributed unbudgeted batch-side
    *    band rows that resurrected budget-dropped index pairs, diverging
    *    the A/B arms by ~0.16% of survivors (VERDICT r13 #4).
    *  - index rows whose ix_id is ALSO in the current batch are excluded
    *    wholesale (a broadcast anti-join on batch ids), subsuming the
    *    old `ix_id ≠ media_id` replay self-match rule: if an indexed id
    *    reappears in a batch beside a smaller near-dup id (id reuse
    *    across distinct content), mutual pointers A→ixB and B→A could
    *    otherwise form a dup_of cycle that resolveDupRootsCounted rejects,
    *    poisoning the micro-batch on every replay (ADVICE r13). Replayed
    *    rows still verdict exactly as pre-crash: their own index entries
    *    are the excluded ones.
    *
    * `batchSigs` should be PINNED by the caller (eager `localCheckpoint`,
    * as [[graft.streaming.MediaIngest.processBatch]] does): the verdict
    * plan reads it several times AND the caller appends to `path`
    * afterwards, and a plain cache would be invalidated by that append
    * (the read-modify-write recache hazard).
    */
  def dedupVerdicts(
      kind: SigKind, batchSigs: DataFrame, path: String,
      maxHamming: Int = MaxHamming,
      onPin: DataFrame => Unit = _ => ()): DataFrame = {
    val spark = batchSigs.sparkSession
    val (hi, lo) = (kind.hi, kind.lo)
    val batch = batchSigs.select(col("media_id"), col(hi), col(lo))
    val batchIds = broadcast(batch.select(col("media_id").as("bid")))
    def ixRel(rel: String) = readIndex(spark, path, rel)
      .join(batchIds, col("ix_id") === col("bid"), "left_anti")
    val matchBatch = batch.groupBy(hi, lo).agg(min("media_id").as("ix_id"))
    val sideSig = ixRel(kind.sigRel)
      .select(col("ix_id"), col(hi), col(lo), lit(true).as("from_ix"))
      .unionByName(matchBatch.select(col("ix_id"), col(hi), col(lo),
        lit(false).as("from_ix")))
    val admissible = col("from_ix") || col("ix_id") < col("media_id")
    // PINNED (r15): `exact` is consumed twice — as the band probe's
    // anti-join side and in the final verdict combine — and the r14 claim
    // that its exchange is "reused, not recomputed" was measured FALSE
    // (the executed plan shows the agg and its index-sig scan twice; only
    // the matchBatch exchange and the batch-id broadcasts reuse). One
    // eager checkpoint of the small (media_id, exact_of) relation beats
    // re-running the exact join per consumer.
    val exact = batch.join(sideSig, Seq(hi, lo))
      .filter(admissible)
      .groupBy("media_id").agg(min("ix_id").as("exact_of"))
      .localCheckpoint(true)
    // The pinned block outlives this call (the returned plan reads it) —
    // hand it to the caller so a streaming loop can CacheScope.release it
    // once the batch's routing appends land, instead of accruing one
    // orphaned block per micro-batch until RDD GC (ADVICE r16).
    onPin(exact)
    // Band PROBE side: only rows with NO admissible exact match. The
    // combiner below discards near_of whenever exact_of exists (exact wins
    // both status and dup_of), so probing exact-matched rows buys nothing
    // — and on re-crawl-dominated media streams (most of every batch is
    // byte- or signature-identical to the index) those rows ARE the
    // batch. The match SIDE still carries every batch canonical, so other
    // rows' candidates are unchanged. No distinct on candidates: a pair
    // colliding on several keys re-verifies the same cheap bit_count and
    // the min-aggregation dedupes.
    val probe = bandRows(kind,
      batch.join(exact.select("media_id"), Seq("media_id"), "left_anti"))
    val sideCols = kind.bandCols("ix_id", hi, lo).map(col)
    val sideBands = ixRel(kind.bandRel).select(sideCols: _*)
      .withColumn("from_ix", lit(true))
      .unionByName(bandRows(kind, matchBatch.withColumnRenamed("ix_id", "media_id"))
        .withColumnRenamed("media_id", "ix_id").select(sideCols: _*)
        .withColumn("from_ix", lit(false)))
      .toDF(kind.bandCols("ix_id", "ix_hi", "ix_lo") :+ "from_ix": _*)
    val near = probe.join(sideBands, kind.keys)
      .filter(admissible && hamming(hi, lo, "ix_hi", "ix_lo") <= maxHamming)
      .groupBy("media_id").agg(min("ix_id").as("near_of"))
    batch.select("media_id")
      .join(exact, Seq("media_id"), "left")
      .join(near, Seq("media_id"), "left")
      .select(col("media_id"),
        when(col("exact_of").isNotNull, lit("exact_dup"))
          .when(col("near_of").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
  }

  // ------------------------------------------------------------------
  // Perceptual VIDEO near-dup (r12, VERDICT r11 #5): dHash every sampled
  // keyframe of the decoded Y4M clips, then define near-duplication by
  // FRAME-HASH CONTAINMENT — the q66 directed-containment shape over
  // frame-hash sets (a truncated or re-encoded clip's keyframe hashes
  // are a subset of the original's). Candidates come from the exact
  // equi-join on the 64-bit frame hash — the "banded plan": a shared
  // frame IS the colliding key, no all-pairs join anywhere.
  // ------------------------------------------------------------------

  /** Decode → (frame_idx, dHash) of every `every`-th frame of one Y4M
    * payload; None when the container does not parse. Each sampled plane
    * runs the same [[dHash64]] grid as still images. The corpus path fails
    * on None, the stream routes it to the dead-letter sink
    * ([[hashVideoBatch]]).
    */
  private def videoSignatures(bytes: Array[Byte], every: Int): Option[Seq[(Int, Long)]] =
    MediaCodec.decodeY4m(bytes).map { v =>
      (0 until v.frames.length by every).map { f =>
        val plane = v.frames(f)
        val px = new Array[Int](plane.length)
        var i = 0
        while (i < plane.length) { px(i) = plane(i) & 0xff; i += 1 }
        (f, dHash64(px, v.width, v.height))
      }
    }

  /** Decode + per-keyframe dHash over an arbitrary media lake — the
    * [[videoFrameDHashes]] kernel, exposed at the [[MediaRow]] level so
    * callers (specs planting truncated/re-encoded clips, the streaming
    * gate) can hash clips that don't come from the documents formula.
    */
  def frameDHashesOf(
      media: Dataset[MediaRow], every: Int = 1): DataFrame = {
    import media.sparkSession.implicits._
    media
      .flatMap { m =>
        videoSignatures(m.content, every).getOrElse(
          sys.error(s"undecodable Y4M for media_id=${m.media_id}"))
          .map { case (f, dh) => (m.media_id, f, dh >>> 32, dh & 0xFFFFFFFFL) }
      }
      .toDF("media_id", "frame_idx", "dhash_hi", "dhash_lo")
  }

  /** Per-keyframe perceptual hashes from DECODED Y4M payloads: frame
    * planes come out of the real container parse
    * ([[MediaCodec.decodeY4m]]), each sampled plane runs the same
    * [[dHash64]] grid as still images, and the oracle recomputes the
    * closed-form luma formula — decode→hash verified bit-for-bit like
    * q112. `every = 1` hashes every frame (the synthetic clips are 2–7
    * frames; at production clip lengths pass the keyframe stride).
    */
  def videoFrameDHashes(documents: DataFrame, every: Int = 1): DataFrame =
    frameDHashesOf(videoCorpus(documents), every)
      .orderBy("media_id", "frame_idx")

  /** The video dHash CTE chain (vimgs → vframes → vcells → vavgs → vdh):
    * the image chain with a frame dimension, over the q85 video corpus's
    * pixel formula.
    */
  private def vidDHashCtesSql(every: Int): String =
    s"""vimgs AS (
       |  SELECT doc_id AS media_id,
       |    CAST(doc_id % 16 + 8 AS INT) AS width,
       |    CAST(doc_id % 12 + 8 AS INT) AS height,
       |    CAST(doc_id % 6 + 2 AS INT) AS n_frames
       |  FROM documents WHERE doc_id % 3 = 2),
       |vframes AS (
       |  SELECT media_id, width, height, CAST(f.g AS INT) AS frame_idx
       |  FROM vimgs,
       |    LATERAL (SELECT unnest(generate_series(0, n_frames - 1, $every)) AS g) f),
       |vcells AS (
       |  SELECT media_id, frame_idx, width, i.g AS i, j.g AS j,
       |    (i.g * width) // $DHashCols AS x0,
       |    GREATEST((i.g * width) // $DHashCols + 1,
       |             ((i.g + 1) * width) // $DHashCols) AS x1,
       |    (j.g * height) // $DHashRows AS y0,
       |    GREATEST((j.g * height) // $DHashRows + 1,
       |             ((j.g + 1) * height) // $DHashRows) AS y1
       |  FROM vframes,
       |    LATERAL (SELECT unnest(generate_series(0, ${DHashCols - 1})) AS g) i,
       |    LATERAL (SELECT unnest(generate_series(0, ${DHashRows - 1})) AS g) j),
       |vavgs AS (
       |  SELECT media_id, frame_idx, i, j,
       |    CAST(SUM((x.g*31 + y.g*17 + frame_idx*29 + media_id*13) % 256) AS BIGINT)
       |      // ((x1 - x0) * (y1 - y0)) AS avg
       |  FROM vcells,
       |    LATERAL (SELECT unnest(generate_series(x0, x1 - 1)) AS g) x,
       |    LATERAL (SELECT unnest(generate_series(y0, y1 - 1)) AS g) y
       |  GROUP BY media_id, frame_idx, i, j, x1, x0, y1, y0),
       |vdh AS (
       |  SELECT a.media_id, a.frame_idx,
       |    CAST(SUM(CASE WHEN a.avg < b.avg AND a.j*8 + a.i >= 32
       |      THEN (CAST(1 AS BIGINT) << (a.j*8 + a.i - 32)) ELSE 0 END) AS BIGINT)
       |      AS dhash_hi,
       |    CAST(SUM(CASE WHEN a.avg < b.avg AND a.j*8 + a.i < 32
       |      THEN (CAST(1 AS BIGINT) << (a.j*8 + a.i)) ELSE 0 END) AS BIGINT)
       |      AS dhash_lo
       |  FROM vavgs a JOIN vavgs b
       |    ON a.media_id = b.media_id AND a.frame_idx = b.frame_idx
       |   AND a.j = b.j AND b.i = a.i + 1
       |  WHERE a.i < ${DHashCols - 1}
       |  GROUP BY a.media_id, a.frame_idx)""".stripMargin

  def videoFrameDHashesSql(every: Int = 1): String =
    s"""WITH ${vidDHashCtesSql(every)}
       |SELECT media_id, frame_idx, dhash_hi, dhash_lo
       |FROM vdh ORDER BY media_id, frame_idx""".stripMargin

  /** Directed perceptual video near-dup: `video_a` is contained in
    * `video_b` when ≥ `minContainment` of a's DISTINCT keyframe hashes
    * appear among b's — truncations, re-encodes and supercuts of the
    * same footage share frame hashes even when clip-level metadata
    * differs (the q66 directed-containment semantics lifted from n-gram
    * sets to frame-hash sets).
    *
    * Scale shape: one decode+hash pass per clip (partition-local, the
    * payload never shuffles), then an equi-join of two (hash → video)
    * posting relations keyed on the 64-bit hash — candidates are exactly
    * the clip pairs sharing a frame, never all pairs. The skew regime is
    * a constant/intro frame shared by everything (a station ident, black
    * frames): its posting list goes quadratic exactly like a hot shingle
    * — at corpus scale put the [[NearDup.BucketBudget]] hub pattern or a
    * frame-df cap in front, the same dial every text posting join here
    * ships with.
    */
  def videoNearDups(
      documents: DataFrame, minContainment: Double = 0.9,
      every: Int = 1): DataFrame =
    videoNearDupsFrom(videoFrameDHashes(documents, every), minContainment)

  /** [[videoNearDups]] over a pre-hashed frame relation
    * (media_id, dhash_hi, dhash_lo [, …]).
    */
  def videoNearDupsFrom(
      frameHashes: DataFrame, minContainment: Double = 0.9): DataFrame = {
    // cached; freed after the caller's action (r19 §5 — see
    // [[audioNearDups]] on why NOT eagerly materialized)
    val fh = frameHashes
      .select(col("media_id"), col("dhash_hi"), col("dhash_lo"))
      .distinct()
      .cache()
    val counts = fh.groupBy("media_id").agg(count(lit(1)).as("n_hashes"))
    val shared = fh.toDF("video_a", "dhash_hi", "dhash_lo")
      .join(fh.toDF("video_b", "dhash_hi", "dhash_lo"), Seq("dhash_hi", "dhash_lo"))
      .filter(col("video_a") =!= col("video_b"))
      .groupBy("video_a", "video_b").agg(count(lit(1)).as("n_shared"))
    graft.util.CacheScope.freeAfterUse(
      shared
        .join(counts.toDF("video_a", "n_hashes"), Seq("video_a"))
        .withColumn("containment",
          col("n_shared").cast("double") / col("n_hashes"))
        .filter(col("containment") >= minContainment)
        .select("video_a", "video_b", "n_shared", "n_hashes", "containment")
        .orderBy("video_a", "video_b"),
      Seq(fh))
  }

  def videoNearDupsSql(
      minContainment: Double = 0.9, every: Int = 1): String =
    s"""WITH ${vidDHashCtesSql(every)},
       |fh AS (SELECT DISTINCT media_id, dhash_hi, dhash_lo FROM vdh),
       |counts AS (SELECT media_id, COUNT(*) AS n_hashes FROM fh GROUP BY media_id),
       |shared AS (
       |  SELECT a.media_id AS video_a, b.media_id AS video_b,
       |    COUNT(*) AS n_shared
       |  FROM fh a JOIN fh b
       |    ON a.dhash_hi = b.dhash_hi AND a.dhash_lo = b.dhash_lo
       |   AND a.media_id <> b.media_id
       |  GROUP BY 1, 2)
       |SELECT s.video_a, s.video_b, s.n_shared, c.n_hashes,
       |  CAST(s.n_shared AS DOUBLE) / c.n_hashes AS containment
       |FROM shared s JOIN counts c ON s.video_a = c.media_id
       |WHERE CAST(s.n_shared AS DOUBLE) / c.n_hashes >= $minContainment
       |ORDER BY video_a, video_b""".stripMargin

  // ------------------------------------------------------------------
  // Streaming VIDEO dedup (VERDICT r12 #3): the q115/q116 batch
  // machinery wired for the MediaIngest loop — tolerant decode (dead-
  // letter instead of sys.error), within-batch containment resolution,
  // and verdicts against a persisted per-clip FRAME-HASH relation
  // (`vframes/`: ix_id, dhash_hi, dhash_lo — 16 bytes per kept
  // keyframe, never pixels) with the same crash-safe at-least-once
  // append discipline as sig/bands/payload.
  // ------------------------------------------------------------------

  /** Default containment threshold for the video dedup verdicts —
    * q116's bar: ≥90% of a clip's distinct keyframe hashes appearing in
    * another clip marks it a (directed) duplicate.
    */
  val MinContainment = 0.9

  /** Decode + per-keyframe dHash for a raw streaming batch: one
    * partition-local pass, `decoded = false` marker rows (frame_idx −1,
    * zero hashes) for unparseable payloads — the dead-letter branch,
    * like [[hashBatch]].
    */
  def hashVideoBatch(batch: DataFrame, every: Int = 1): DataFrame = {
    import batch.sparkSession.implicits._
    batch.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        videoSignatures(bytes, every).fold(Seq((id, false, -1, 0L, 0L)))(
          _.map { case (f, dh) => (id, true, f, dh >>> 32, dh & 0xFFFFFFFFL) })
      }
      .toDF("media_id", "decoded", "frame_idx", "dhash_hi", "dhash_lo")
  }

  /** WITHIN-batch video dedup verdicts over decoded frame hashes — the
    * containment edition of [[NearDup.intraBatchDedup]]: clip `a` is a
    * `near_dup` when ≥ `minContainment` of its distinct keyframe hashes
    * appear in a clip with MORE distinct hashes (a truncation resolves
    * against its original, never the reverse) or an equal-hash-count
    * clip with a smaller id (mutual-containment ties). `dup_of` = the
    * largest such container, ties to the smallest id. Kept clips are
    * pairwise non-contained under this order (the relation is strict on
    * (n_hashes, −id)), so only canonicals face the index. EAGER
    * (localCheckpoint-pinned); callers free the result with
    * [[graft.util.CacheScope.release]].
    */
  def intraBatchVideoDedup(
      frameHashes: DataFrame,
      minContainment: Double = MinContainment): DataFrame = {
    val fh = frameHashes
      .select(col("media_id"), col("dhash_hi"), col("dhash_lo")).distinct()
    val counts = fh.groupBy("media_id").agg(count(lit(1)).as("n_hashes"))
    val shared = fh.toDF("media_a", "dhash_hi", "dhash_lo")
      .join(fh.toDF("media_b", "dhash_hi", "dhash_lo"),
        Seq("dhash_hi", "dhash_lo"))
      .filter(col("media_a") =!= col("media_b"))
      .groupBy("media_a", "media_b").agg(count(lit(1)).as("n_shared"))
    val dups = shared
      .join(counts.toDF("media_a", "n_a"), Seq("media_a"))
      .join(counts.toDF("media_b", "n_b"), Seq("media_b"))
      .filter(col("n_shared").cast("double") / col("n_a")
        >= minContainment)
      .filter(col("n_b") > col("n_a") ||
        (col("n_b") === col("n_a") && col("media_b") < col("media_a")))
      .groupBy(col("media_a").as("media_id"))
      .agg(max_by(col("media_b"),
        struct(col("n_b"), -col("media_b"))).as("dup_of"))
      .select(col("media_id"), lit("near_dup").as("status"), col("dup_of"))
    frameHashes.select("media_id").distinct()
      .join(dups, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("status"), lit("kept")).as("status"),
        col("dup_of"))
      .localCheckpoint(true)
  }

  /** Append a batch's KEPT clips' distinct keyframe hashes — the video
    * write-back. Replays re-append the same rows; the verdict join
    * counts DISTINCT shared hashes per (clip, ix clip), so duplicated
    * index rows never inflate containment (no compaction needed for
    * correctness, only for storage).
    */
  def appendVideoFrameIndex(keptFrameHashes: DataFrame, path: String): Unit = {
    keptFrameHashes
      .select(col("media_id").as("ix_id"), col("dhash_hi"), col("dhash_lo"))
      .distinct()
      .write.mode("append").parquet(s"$path/vframes")
    ()
  }

  /** Verdicts for a batch's decoded frame hashes against the persisted
    * frame-hash index: clip → `near_dup` of the SMALLEST index clip
    * containing ≥ `minContainment` of its distinct keyframe hashes,
    * `kept` otherwise. Directed — a supercut arriving after its
    * truncation is kept (it has novel frames), the q116 semantics.
    * Self-matches excluded for replay idempotency; every join's small
    * side is the batch (the index relation streams through an
    * equi-join on the 64-bit hash, batch-sized shuffles only). The
    * skew regime is a constant frame shared by everything (black
    * frames, station idents) — its index posting list is the hot-
    * shingle analog; at corpus scale put a frame-df cap in front,
    * the same dial as the text posting joins.
    */
  def incrementalVideoDedupAgainstIndex(
      frameHashes: DataFrame, path: String,
      minContainment: Double = MinContainment): DataFrame = {
    val spark = frameHashes.sparkSession
    val fh = frameHashes
      .select(col("media_id"), col("dhash_hi"), col("dhash_lo")).distinct()
    val counts = fh.groupBy("media_id").agg(count(lit(1)).as("n_hashes"))
    val shared = fh
      .join(readIndex(spark, path, "vframes"), Seq("dhash_hi", "dhash_lo"))
      .filter(col("ix_id") =!= col("media_id"))
      .groupBy("media_id", "ix_id")
      .agg(countDistinct(col("dhash_hi"), col("dhash_lo")).as("n_shared"))
    val dup = shared
      .join(counts, Seq("media_id"))
      .filter(col("n_shared").cast("double") / col("n_hashes")
        >= minContainment)
      .groupBy("media_id").agg(min("ix_id").as("dup_of"))
    frameHashes.select("media_id").distinct()
      .join(dup, Seq("media_id"), "left")
      .select(col("media_id"),
        when(col("dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("status"),
        col("dup_of"))
  }
}
