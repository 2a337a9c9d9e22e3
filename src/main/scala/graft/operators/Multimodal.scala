package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media asset as it travels the pipeline: opaque binary payload +
  * typed metadata. Image/audio/video payloads are all `Array[Byte]` —
  * the engine never interprets them outside the decode stage.
  */
final case class MediaAsset(
    doc_id: Long, media_type: String, payload: Array[Byte])

/** Features extracted by the decoder. For images width/height are pixel
  * dimensions and n_frames the image count; for audio width = channels,
  * height = sample rate (Hz) and n_frames = PCM sample frames — the
  * integer surface both decode families share.
  */
final case class MediaFeatures(
    doc_id: Long, media_type: String, n_bytes: Int,
    width: Int, height: Int, n_frames: Int)

/** Full audio feature row (q130): everything [[WavCodec]] reads from
  * the RIFF/WAVE byte stream — format fields, frame count, integer
  * duration, and the quantized RMS over the decoded PCM samples.
  */
final case class AudioFeatures(
    doc_id: Long, n_bytes: Int, channels: Int, sample_rate: Int,
    n_frames: Long, dur_ms: Long, rms_q: Long)

/** The pluggable decoder seam: expensive codec state (JNI handles,
  * FFMPEG contexts, model weights) initializes in `open()` ONCE PER
  * PARTITION and is reused across that partition's rows — the batch
  * shape any real decoder needs. Implementations must be serializable
  * INSTANTIATION RECIPES (the factory closure ships to executors; the
  * opened state never crosses the wire).
  *
  * `MultimodalCodecSpec` proves the lifecycle: open/close called
  * exactly once per non-empty partition, decode once per row.
  */
trait MediaCodec extends Serializable {
  /** Per-partition init — allocate codec state here, not per row. */
  def open(): Unit = ()
  def decode(a: MediaAsset): MediaFeatures
  /** Per-partition teardown, called after the partition drains. */
  def close(): Unit = ()
}

/** The container has no real VIDEO codec (no FFMPEG), so the synthetic
  * `video` text payloads derive deterministic fake dimensions from the
  * byte length — the ONLY remaining stub: synthetic images are real
  * [[graft.plans.BmpWrap]] BMPs, synthetic audio real
  * [[graft.plans.WavWrap]] wavs, and the committed video FIXTURE rows
  * are real animated GIFs frame-counted by [[ImageIoCodec]]; schema,
  * partitioning and the oracle contract are identical across all of
  * them, so swapping this last stub for an FFMPEG decoder changes one
  * dispatch arm.
  */
final class StubCodec extends MediaCodec {
  def decode(a: MediaAsset): MediaFeatures = Multimodal.decodeStub(a)
}

/** Deterministic PCM arithmetic shared by [[WavCodec]] and the fixture
  * generator: the quantization is defined ONCE so the generator's
  * metadata (written from the pre-encoding samples) and the codec's
  * value (computed from the decoded byte stream) agree exactly when —
  * and only when — the payload round-trips bit-perfectly.
  */
object WavMath {
  /** floor(rms/32768 · 10⁶ + 0.5) over int16 samples, sumSq exact. */
  def rmsQ(sumSq: Long, nSamples: Long): Long =
    if (nSamples == 0) 0L
    else math.floor(math.sqrt(sumSq.toDouble / nSamples.toDouble)
      / 32768.0 * 1e6 + 0.5).toLong

  /** Parse a WAV byte stream with the stock-JDK javax.sound.sampled
    * provider: (channels, sampleRate, frames, nSamples, sumSq).
    */
  def parse(payload: Array[Byte])
      : (Int, Int, Long, Long, Long) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val fmt = in.getFormat
      require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"WavCodec: expected 16-bit LE PCM, got $fmt")
      val ch = fmt.getChannels
      val rate = math.round(fmt.getSampleRate)
      val bytes = in.readAllBytes()
      val nSamples = bytes.length / 2
      var sumSq = 0L
      var i = 0
      while (i < nSamples) {
        val s = ((bytes(2 * i + 1).toInt << 8) |
          (bytes(2 * i) & 0xff))
        sumSq += s.toLong * s
        i += 1
      }
      (ch, rate, nSamples.toLong / ch, nSamples.toLong, sumSq)
    } finally in.close()
  }
}

/** REAL audio decoder — javax.sound.sampled (stock JDK, pure JVM):
  * parses the actual RIFF/WAVE byte stream (JDK-encoded fixture wavs
  * AND the [[graft.plans.WavWrap]]-built synthetic containers) and
  * reports format fields, frame count, duration and PCM RMS. Both
  * feature surfaces share one parse.
  */
final class WavCodec extends MediaCodec {
  def decode(a: MediaAsset): MediaFeatures = {
    val (ch, rate, frames, _, _) = WavMath.parse(a.payload)
    MediaFeatures(a.doc_id, a.media_type, a.payload.length,
      width = ch, height = rate, n_frames = frames.toInt)
  }

  def decodeAudio(a: MediaAsset): AudioFeatures = {
    val (ch, rate, frames, nSamples, sumSq) = WavMath.parse(a.payload)
    AudioFeatures(a.doc_id, a.payload.length, ch, rate, frames,
      dur_ms = frames * 1000L / rate,
      rms_q = WavMath.rmsQ(sumSq, nSamples))
  }
}

/** REAL image decoder — javax.imageio (stock JDK, pure JVM): parses the
  * actual BMP/PNG byte stream and reports the decoded dimensions.
  *
  * Codec state follows the [[MediaCodec]] lifecycle for real: `open()`
  * allocates one reusable `ImageReader` per format for the partition
  * (reader construction walks the ImageIO service registry — per-row
  * would pay that for every image), `decode` re-points the reader at
  * each row's bytes and reads just the header for dimensions, `close`
  * disposes the readers. Only the factory closure ships to executors;
  * readers are allocated partition-locally.
  */
final class ImageIoCodec extends MediaCodec {
  @transient private var readers: Map[String, javax.imageio.ImageReader] =
    null

  /** media_type → ImageIO format: the synthetic `image` assets are
    * real [[graft.plans.BmpWrap]] BMP containers; `video`/`gif` are
    * animated GIFs whose frame count is a real multi-image scan.
    */
  private def fmtOf(mediaType: String): String = mediaType match {
    case "image" => "bmp"
    case "video" | "gif" => "gif"
    case other => other
  }

  override def open(): Unit = {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
    readers = Seq("bmp", "png", "gif").map { f =>
      val it = javax.imageio.ImageIO.getImageReadersByFormatName(f)
      require(it.hasNext, s"JDK has no $f reader")
      f -> it.next()
    }.toMap
  }

  def decode(a: MediaAsset): MediaFeatures = {
    val fmt = fmtOf(a.media_type)
    val r = readers.getOrElse(fmt,
      throw new IllegalArgumentException(
        s"ImageIoCodec: unsupported format ${a.media_type}"))
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(a.payload))
    try {
      r.setInput(in)
      // header-only parse for stills: width/height come from IHDR /
      // BITMAPINFOHEADER without decoding pixel data — the
      // batch-metadata pass a curation pipeline runs over billions of
      // images. GIF frame counting is a real multi-image scan
      // (allowSearch) — the video-frame inventory pass.
      val frames =
        if (fmt == "gif") r.getNumImages(true)
        else r.getNumImages(false) max 1
      MediaFeatures(a.doc_id, a.media_type, a.payload.length,
        width = r.getWidth(0), height = r.getHeight(0),
        n_frames = frames)
    } finally {
      r.setInput(null)
      in.close()
    }
  }

  override def close(): Unit = {
    if (readers != null) readers.valuesIterator.foreach(_.dispose())
    readers = null
  }
}

/** Per-image perceptual-hash row (q173). */
final case class ImageHashRow(img_id: Long, ah: Long)

/** Full-pixel decode + 64-bit average perceptual hash — the feature
  * extractor of the image near-dup pass (q173). Unlike
  * [[ImageIoCodec]]'s header-only metadata parse, this DECODES PIXELS
  * (`ImageIO.read`) and folds them through the integer-exact
  * [[graft.functions.ImageHash.aHash64]]; the codec seam keeps the
  * reader state per-partition like every real decoder.
  */
final class AHashCodec extends MediaCodec {
  override def open(): Unit = javax.imageio.ImageIO.setUseCache(false)

  private def read(a: MediaAsset): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(a.payload))
    require(img != null, s"undecodable image payload for ${a.doc_id}")
    img
  }

  def decode(a: MediaAsset): MediaFeatures = {
    val img = read(a)
    MediaFeatures(a.doc_id, a.media_type, a.payload.length,
      img.getWidth, img.getHeight, 1)
  }

  def decodeAHash(a: MediaAsset): ImageHashRow = {
    val img = read(a)
    val ah = graft.functions.ImageHash.aHash64((x, y) => {
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
    }, img.getWidth, img.getHeight)
    ImageHashRow(a.doc_id, ah)
  }
}

/** Per-clip fingerprint row (q189). */
final case class AudioFpRow(aud_id: Long, fp: Long)

/** Full-PCM decode + 64-bit energy-delta fingerprint — the feature
  * extractor of the audio near-dup pass (q189), the audio twin of
  * [[AHashCodec]]: parses the RIFF/WAVE byte stream (javax.sound,
  * stock JDK) to raw 16-bit samples and folds them through the
  * integer-exact [[graft.functions.AudioFingerprint.fp64]].
  */
final class FingerprintCodec extends MediaCodec {
  private val wav = new WavCodec

  def decode(a: MediaAsset): MediaFeatures = wav.decode(a)

  def decodeFp(a: MediaAsset): AudioFpRow = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(a.payload))
    try {
      val fmt = in.getFormat
      require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
        fmt.getChannels == 1,
        s"FingerprintCodec: expected mono 16-bit LE PCM, got $fmt")
      val bytes = in.readAllBytes()
      val n = bytes.length / 2
      require(n >= graft.functions.AudioFingerprint.ClipSamples,
        s"clip ${a.doc_id} too short for fingerprinting: $n samples")
      val fp = graft.functions.AudioFingerprint.fp64(t =>
        (bytes(2 * t + 1).toInt << 8) | (bytes(2 * t) & 0xff))
      AudioFpRow(a.doc_id, fp)
    } finally in.close()
  }
}

/** Per-clip video fingerprint row (q201). */
final case class VideoFpRow(vid_id: Long, fp: Long)

/** Multi-frame GIF decode + frame-sampled majority-fold fingerprint —
  * the feature extractor of the video near-dup pass (q201), the video
  * member of the [[AHashCodec]]/[[FingerprintCodec]] triad: reads the
  * animated-GIF container frame by frame (ImageIO multi-image scan,
  * per-partition reader state), aHashes every 2nd frame and folds by
  * strict per-bit majority ([[graft.functions.VideoHash]]).
  */
final class VideoHashCodec extends MediaCodec {
  @transient private var reader: javax.imageio.ImageReader = null

  override def open(): Unit = {
    javax.imageio.ImageIO.setUseCache(false)
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    require(it.hasNext, "JDK has no gif reader")
    reader = it.next()
  }

  def decode(a: MediaAsset): MediaFeatures = {
    val hs = frameHashes(a)
    MediaFeatures(a.doc_id, a.media_type, a.payload.length, 0, 0,
      hs.length)
  }

  private def frameHashes(a: MediaAsset): Seq[Long] = {
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(a.payload))
    try {
      reader.setInput(in)
      val n = reader.getNumImages(true)
      graft.functions.VideoHash.sampledFrames(n).map { f =>
        val img = reader.read(f)
        graft.functions.ImageHash.aHash64((x, y) => {
          val rgb = img.getRGB(x, y)
          (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        }, img.getWidth, img.getHeight)
      }
    } finally {
      reader.setInput(null)
      in.close()
    }
  }

  def decodeFp(a: MediaAsset): VideoFpRow =
    VideoFpRow(a.doc_id,
      graft.functions.VideoHash.majorityFold(frameHashes(a)))

  override def close(): Unit = if (reader != null) reader.dispose()
}

/** Routes each asset to the right decoder by media_type: image formats
  * — including the synthetic `image` assets, which are real
  * [[graft.plans.BmpWrap]] BMP containers — and animated-GIF video go
  * through [[ImageIoCodec]]; WAV payloads (the fixture's JDK-encoded
  * wavs AND the synthetic `audio` [[graft.plans.WavWrap]] containers)
  * through [[WavCodec]]; only the synthetic `video` text payloads
  * remain on [[StubCodec]]. One dispatch codec per partition ⇒ one
  * ImageIO reader set per partition, shared across that partition's
  * real images.
  */
final class DispatchCodec extends MediaCodec {
  private val imageio = new ImageIoCodec
  private val wav = new WavCodec
  private val stub = new StubCodec

  override def open(): Unit = { imageio.open(); wav.open(); stub.open() }

  def decode(a: MediaAsset): MediaFeatures = a.media_type match {
    case "bmp" | "png" | "gif" | "image" => imageio.decode(a)
    case "audio" | "wav" => wav.decode(a)
    case _ => stub.decode(a)
  }

  override def close(): Unit = { imageio.close(); wav.close(); stub.close() }
}

/** Multimodal-column plumbing (builder-prompt north star).
  *
  * Real part: the Spark-side shape — binary payload column, typed
  * `Dataset[MediaAsset]`, partition-parallel decode via `mapPartitions`
  * with a per-partition [[MediaCodec]] lifecycle, features re-joining
  * the relational surface as columns. Everything DOWNSTREAM of the
  * decode (resize arithmetic, frame-stride selection) is Column
  * expressions, so it stays inside whole-stage codegen instead of
  * round-tripping rows through the object decoder path.
  *
  * Stubbed part: [[StubCodec]] / [[decodeStub]] — deterministic on
  * payload bytes so the DuckDB oracle can reproduce the expected
  * features from octet lengths alone.
  */
object Multimodal {

  /** STUB decode math — replace via a real [[MediaCodec]]. */
  def decodeStub(a: MediaAsset): MediaFeatures = {
    val n = a.payload.length
    val frames = if (a.media_type == "video") 1 + n % 7 else 1
    MediaFeatures(a.doc_id, a.media_type, n,
      width = 16 + n % 64, height = 16 + (n / 64) % 64, n_frames = frames)
  }

  /** Typed decode stage: one codec instance per partition (opened
    * before the first row, closed when the partition drains), streaming
    * rows through it — never materializing the partition. Generic over
    * the output row so both feature surfaces ([[MediaFeatures]],
    * [[AudioFeatures]]) share the one lifecycle implementation.
    */
  private def decodeStage[C <: MediaCodec, O: org.apache.spark.sql.Encoder](
      assets: Dataset[MediaAsset], codec: () => C, dec: (C, MediaAsset) => O)
      : Dataset[O] =
    assets.mapPartitions { it =>
      val c = codec()
      c.open()
      new Iterator[O] {
        private var closed = false
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && !closed) { closed = true; c.close() }
          h
        }
        def next(): O = dec(c, it.next())
      }
    }

  def extractFeatures(assets: Dataset[MediaAsset],
      codec: () => MediaCodec = () => new StubCodec)
      : Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    decodeStage(assets, codec, (c: MediaCodec, a: MediaAsset) => c.decode(a))
  }

  /** Full audio-feature decode (q130) through the same seam. */
  def extractAudioFeatures(assets: Dataset[MediaAsset])
      : Dataset[AudioFeatures] = {
    import assets.sparkSession.implicits._
    decodeStage(assets, () => new WavCodec,
      (c: WavCodec, a: MediaAsset) => c.decodeAudio(a))
  }

  /** Synthetic assets: documents' text bytes as opaque payloads with a
    * deterministic media_type assignment. The `image` assets are REAL
    * BMP containers ([[graft.plans.BmpWrap]]: 24-bpp header + the text
    * bytes cycled through the pixel rows, dimensions the closed forms
    * of the byte length) and the `audio` assets REAL RIFF/WAVE
    * containers ([[graft.plans.WavWrap]]) — both run through genuine
    * JDK decode paths, and the oracle reproduces every decoded feature
    * from `octet_length(text)` alone. Only `video` stays a raw text
    * payload (StubCodec — no video codec in the JDK; the committed GIF
    * fixture covers the real video decode).
    */
  def loadAssets(s: SparkSession, dir: String): Dataset[MediaAsset] = {
    import s.implicits._
    val bytes = encode(col("text"), "UTF-8")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        when(col("doc_id") % 3 === 0,
          graft.functions.VectorOps.bmpWrap(bytes))
          .when(col("doc_id") % 3 === 1,
            graft.functions.VectorOps.wavWrap(bytes))
          .otherwise(bytes).as("payload"))
      .as[MediaAsset]
  }

  /** Real-image assets: actual BMP/PNG byte streams from the committed
    * fixture (doc_id offset clear of the documents id space). The
    * fixture also carries the encoder's true dimensions as metadata —
    * the ORACLE reads only those, so the hash match proves
    * [[ImageIoCodec]]'s decode of the payload bytes end-to-end.
    */
  val RealImageIdBase = 1000000L
  def loadRealImageAssets(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    graft.Fixtures.read(s, graft.Fixtures.mediaImagesPath)
      .select((col("img_id") + RealImageIdBase).as("doc_id"),
        col("fmt").as("media_type"), col("payload"))
      .as[MediaAsset]
  }

  /** Real-WAV assets: JDK-encoded RIFF/WAVE byte streams from the
    * committed fixture; metadata columns carry the generator's true
    * format/frame/RMS values, so an oracle hash match proves the
    * byte-level audio decode the same way the image fixture does.
    */
  val RealAudioIdBase = 2000000L
  def loadRealAudioAssets(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    graft.Fixtures.read(s, graft.Fixtures.mediaAudioPath)
      .select((col("aud_id") + RealAudioIdBase).as("doc_id"),
        lit("wav").as("media_type"), col("payload"))
      .as[MediaAsset]
  }

  /** Real-video assets: animated-GIF byte streams from the committed
    * fixture (JDK ImageIO GIF writer; true frame counts + dimensions
    * as metadata). [[ImageIoCodec]] frame-counts the actual multi-image
    * container — the video analog of the image/audio byte-level proofs.
    */
  val RealVideoIdBase = 3000000L
  def loadRealVideoAssets(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    graft.Fixtures.read(s, graft.Fixtures.mediaVideoPath)
      .select((col("vid_id") + RealVideoIdBase).as("doc_id"),
        lit("gif").as("media_type"), col("payload"))
      .as[MediaAsset]
  }

  /** Synthetic + real assets decoded through ONE partition-parallel
    * decode stage with the dispatching codec.
    */
  def allFeatures(s: SparkSession, dir: String): Dataset[MediaFeatures] =
    extractFeatures(
      loadAssets(s, dir).unionByName(loadRealImageAssets(s))
        .unionByName(loadRealAudioAssets(s))
        .unionByName(loadRealVideoAssets(s)),
      () => new DispatchCodec)

  // synthetic-audio oracle arithmetic: WavWrap data length is the text
  // byte length padded to even with a 2-byte floor, so every decoded
  // feature is a closed form of octet_length(text)
  private val WavDataLenSql =
    "greatest(2, octet_length(encode(text)) + octet_length(encode(text)) % 2)"

  // synthetic-image oracle arithmetic: BmpWrap dimensions are the
  // closed forms of the text byte length, and the container size is
  // the exact BMP layout (54-byte header + h padded 24-bpp rows)
  private val BmpWSql = "(16 + octet_length(encode(text)) % 64)"
  private val BmpHSql = "(16 + (octet_length(encode(text)) // 64) % 64)"
  private val BmpBytesSql =
    s"(54 + $BmpHSql * (((3 * $BmpWSql + 3) // 4) * 4))"

  val q35Multimodal: QueryDef = QueryDef(
    "q35_multimodal",
    (s, dir) => allFeatures(s, dir).toDF().orderBy("doc_id"),
    Some(s"""SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN 'image'
           |       WHEN doc_id % 3 = 1 THEN 'audio'
           |       ELSE 'video' END AS media_type,
           |  -- image/audio rows are REAL BmpWrap/WavWrap containers:
           |  -- every decoded feature is a closed form of the byte len
           |  CAST(CASE WHEN doc_id % 3 = 0 THEN $BmpBytesSql
           |       WHEN doc_id % 3 = 1 THEN 44 + $WavDataLenSql
           |       ELSE octet_length(encode(text)) END AS INTEGER)
           |    AS n_bytes,
           |  CAST(CASE WHEN doc_id % 3 = 1 THEN 1
           |       ELSE 16 + octet_length(encode(text)) % 64 END
           |    AS INTEGER) AS width,
           |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000
           |       ELSE 16 + (octet_length(encode(text)) // 64) % 64 END
           |    AS INTEGER) AS height,
           |  CAST(CASE WHEN doc_id % 3 = 1 THEN $WavDataLenSql // 2
           |       WHEN doc_id % 3 = 2
           |       THEN 1 + octet_length(encode(text)) % 7
           |       ELSE 1 END AS INTEGER) AS n_frames
           |FROM documents
           |UNION ALL
           |-- real images: the oracle reads the encoder's METADATA
           |-- columns; Spark decodes the payload BYTES via ImageIoCodec
           |SELECT ${RealImageIdBase} + img_id AS doc_id,
           |  fmt AS media_type,
           |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
           |  true_w AS width, true_h AS height,
           |  CAST(1 AS INTEGER) AS n_frames
           |FROM read_parquet('${graft.Fixtures.mediaImagesPath}')
           |UNION ALL
           |-- real wavs: metadata from the generator; Spark decodes the
           |-- RIFF/WAVE bytes via WavCodec (javax.sound.sampled)
           |SELECT ${RealAudioIdBase} + aud_id AS doc_id,
           |  'wav' AS media_type,
           |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
           |  true_channels AS width, true_rate AS height,
           |  CAST(true_frames AS INTEGER) AS n_frames
           |FROM read_parquet('${graft.Fixtures.mediaAudioPath}')
           |UNION ALL
           |-- real video: animated GIFs; Spark frame-counts the actual
           |-- multi-image container via ImageIoCodec
           |SELECT ${RealVideoIdBase} + vid_id AS doc_id,
           |  'gif' AS media_type,
           |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
           |  true_w AS width, true_h AS height, true_frames AS n_frames
           |FROM read_parquet('${graft.Fixtures.mediaVideoPath}')
           |ORDER BY doc_id""".stripMargin))

  /** Resize → frame-sample as COLUMN EXPRESSIONS over the decoded
    * features: fit into a 64×64 budget preserving aspect ratio with
    * integer arithmetic (no float rounding divergence), keep ≤4
    * evenly-strided frame ids serialized as "0,2,4" (a deterministic
    * scalar any downstream comparator can sort/hash). Pure arithmetic
    * needs no codec state, so unlike the decode it belongs in codegen,
    * not in `mapPartitions`.
    */
  def resizeAndSample(feats: Dataset[MediaFeatures]): DataFrame = {
    val longSide = greatest(col("width"), col("height"))
    def fit(side: String) =
      when(longSide <= 64, col(side))
        .otherwise(expr(s"$side * 64 div greatest(width, height)"))
        .cast("int")
    val stride = expr("(n_frames + 3) div 4")
    feats.toDF()
      .select(col("doc_id"), col("media_type"),
        fit("width").as("out_w"), fit("height").as("out_h"),
        concat_ws(",",
          transform(sequence(lit(0L), col("n_frames") - 1, stride),
            _.cast("string"))).as("sampled_frames"))
  }

  val q49MediaPipeline: QueryDef = QueryDef(
    "q49_media_pipeline",
    (s, dir) =>
      resizeAndSample(allFeatures(s, dir)).orderBy("doc_id"),
    Some(s"""WITH f AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN 'image'
           |         WHEN doc_id % 3 = 1 THEN 'audio'
           |         ELSE 'video' END AS media_type,
           |    CAST(CASE WHEN doc_id % 3 = 1 THEN 1
           |         ELSE 16 + octet_length(encode(text)) % 64 END
           |      AS INTEGER) AS w,
           |    CAST(CASE WHEN doc_id % 3 = 1 THEN 8000
           |         ELSE 16 + (octet_length(encode(text)) // 64) % 64 END
           |      AS INTEGER) AS h,
           |    CAST(CASE WHEN doc_id % 3 = 1 THEN $WavDataLenSql // 2
           |         WHEN doc_id % 3 = 2
           |         THEN 1 + octet_length(encode(text)) % 7
           |         ELSE 1 END AS INTEGER) AS nf
           |  FROM documents
           |  UNION ALL
           |  SELECT ${RealImageIdBase} + img_id AS doc_id,
           |    fmt AS media_type, true_w AS w, true_h AS h,
           |    CAST(1 AS INTEGER) AS nf
           |  FROM read_parquet('${graft.Fixtures.mediaImagesPath}')
           |  UNION ALL
           |  SELECT ${RealAudioIdBase} + aud_id AS doc_id,
           |    'wav' AS media_type, true_channels AS w, true_rate AS h,
           |    CAST(true_frames AS INTEGER) AS nf
           |  FROM read_parquet('${graft.Fixtures.mediaAudioPath}')
           |  UNION ALL
           |  SELECT ${RealVideoIdBase} + vid_id AS doc_id,
           |    'gif' AS media_type, true_w AS w, true_h AS h,
           |    true_frames AS nf
           |  FROM read_parquet('${graft.Fixtures.mediaVideoPath}'))
           |SELECT doc_id, media_type,
           |  CAST(CASE WHEN greatest(w, h) <= 64 THEN w
           |       ELSE w * 64 // greatest(w, h) END AS INTEGER) AS out_w,
           |  CAST(CASE WHEN greatest(w, h) <= 64 THEN h
           |       ELSE h * 64 // greatest(w, h) END AS INTEGER) AS out_h,
           |  array_to_string(range(0, nf, (nf + 3) // 4), ',')
           |    AS sampled_frames
           |FROM f ORDER BY doc_id""".stripMargin))

  /** Full byte-level audio decode over the committed wav fixture: the
    * oracle reads ONLY the generator's metadata (written from the
    * pre-encoding samples), so the hash match proves WavCodec's parse
    * of the RIFF/WAVE stream — format fields, frame count, integer
    * duration, and the quantized RMS over every decoded PCM sample.
    */
  val q130AudioDecode: QueryDef = QueryDef(
    "q130_audio_decode",
    (s, dir) =>
      extractAudioFeatures(loadRealAudioAssets(s)).toDF()
        .orderBy("doc_id"),
    Some(s"""SELECT ${RealAudioIdBase} + aud_id AS doc_id,
           |  CAST(octet_length(payload) AS INTEGER) AS n_bytes,
           |  true_channels AS channels, true_rate AS sample_rate,
           |  true_frames AS n_frames, true_dur_ms AS dur_ms,
           |  true_rms_q AS rms_q
           |FROM read_parquet('${graft.Fixtures.mediaAudioPath}')
           |ORDER BY doc_id""".stripMargin))

  /** Real-BMP near-dup corpus as assets (committed fixture with
    * generator-side expected hashes — see
    * [[graft.tools.GenImageDedupFixture]]).
    */
  def loadNeardupImageAssets(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    graft.Fixtures.read(s, graft.Fixtures.mediaNeardupImagesPath)
      .select(col("img_id").as("doc_id"), lit("bmp").as("media_type"),
        col("payload"))
      .as[MediaAsset]
  }

  /** The decoded perceptual-hash relation q173 + its spec share. */
  private[graft] def imageHashes(s: SparkSession): DataFrame = {
    import s.implicits._
    decodeStage(loadNeardupImageAssets(s), () => new AHashCodec,
      (c: AHashCodec, a: MediaAsset) => c.decodeAHash(a)).toDF()
  }

  // Image near-dup via perceptual hash — MULTIMODAL dedup, the image
  // twin of the text tier (the role aHash/pHash dedup plays in
  // LAION-class image corpus builds): REAL pixel decode
  // (ImageIO.read through the per-partition codec seam) → integer-
  // exact 64-bit aHash in-row → the q24 banded-Hamming candidate
  // join (16 bands × 4 bits: pigeonhole-exact recall within Hamming
  // 15, so the ≤10 threshold loses nothing and NO pairwise join ever
  // forms) → distance filter. The oracle recomputes the pair
  // relation from the fixture's generator-side `ah` column — brute
  // force over the committed hashes, equal to the banded plan by the
  // recall guarantee — while ImageDedupSpec separately pins decoded
  // hash ≡ committed hash per image (byte-level decode fidelity).
  val q173ImageNeardup: QueryDef = QueryDef(
    "q173_image_neardup",
    (s, dir) => {
      val Threshold = 10
      val bands = imageHashes(s).select(col("img_id"), col("ah"),
        explode(array((0 until 16).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("ah"), b * 4).bitwiseAND(lit(15L))
              .as("chunk"))): _*)).as("bk"))
        .select(col("img_id"), col("ah"),
          col("bk.band").as("band"), col("bk.chunk").as("chunk"))
      // one hash exchange on the bucket key, both self-join sides
      // co-partitioned (the q24 discipline)
      val br = graft.Caches.persist(
          bands.repartition(col("band"), col("chunk")))
        .hint("shuffle_hash")
      br.as("a")
        .join(br.as("b"),
          col("a.band") === col("b.band") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.img_id") < col("b.img_id"))
        .select(col("a.img_id").as("i1"), col("b.img_id").as("i2"),
          bit_count(col("a.ah").bitwiseXOR(col("b.ah"))).as("dist"))
        .distinct()
        .filter(col("dist") <= Threshold)
        .orderBy("i1", "i2")
    },
    Some(s"""WITH a AS (
           |  SELECT img_id, ah
           |  FROM read_parquet('${graft.Fixtures.mediaNeardupImagesPath}'))
           |SELECT x.img_id AS i1, y.img_id AS i2,
           |  CAST(bit_count(xor(x.ah, y.ah)) AS INTEGER) AS dist
           |FROM a x JOIN a y ON x.img_id < y.img_id
           |WHERE bit_count(xor(x.ah, y.ah)) <= 10
           |ORDER BY i1, i2""".stripMargin))

  /** Real-WAV near-dup corpus as assets (committed fixture with
    * generator-side expected fingerprints — see
    * [[graft.tools.GenAudioDedupFixture]]).
    */
  def loadNeardupAudioAssets(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    graft.Fixtures.read(s, graft.Fixtures.mediaNeardupAudioPath)
      .select(col("aud_id").as("doc_id"), lit("wav").as("media_type"),
        col("payload"))
      .as[MediaAsset]
  }

  /** The decoded fingerprint relation q189 + its spec share. */
  private[graft] def audioFingerprints(s: SparkSession): DataFrame = {
    import s.implicits._
    decodeStage(loadNeardupAudioAssets(s), () => new FingerprintCodec,
      (c: FingerprintCodec, a: MediaAsset) => c.decodeFp(a)).toDF()
  }

  // Audio near-dup via energy-delta fingerprint — the audio twin of
  // q173 (the role acoustic fingerprints play in audio corpus dedup,
  // Haitsma & Kalker CBMI'02): REAL RIFF/WAVE decode (javax.sound
  // through the per-partition codec seam) → integer-exact 64-bit
  // fingerprint in-row → the same 16-band × 4-bit Hamming candidate
  // join as q173 (pigeonhole-exact recall within Hamming 15, so the
  // ≤10 threshold loses nothing and NO pairwise join ever forms) →
  // distance filter. The oracle recomputes the pair relation from the
  // fixture's generator-side `fp` column — brute force over the
  // committed fingerprints, equal to the banded plan by the recall
  // guarantee — while AudioDedupSpec separately pins decoded
  // fingerprint ≡ committed fp per clip (byte-level decode fidelity).
  val q189AudioNeardup: QueryDef = QueryDef(
    "q189_audio_neardup",
    (s, dir) => {
      val Threshold = 10
      val bands = audioFingerprints(s).select(col("aud_id"), col("fp"),
        explode(array((0 until 16).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("fp"), b * 4).bitwiseAND(lit(15L))
              .as("chunk"))): _*)).as("bk"))
        .select(col("aud_id"), col("fp"),
          col("bk.band").as("band"), col("bk.chunk").as("chunk"))
      val br = graft.Caches.persist(
          bands.repartition(col("band"), col("chunk")))
        .hint("shuffle_hash")
      br.as("a")
        .join(br.as("b"),
          col("a.band") === col("b.band") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.aud_id") < col("b.aud_id"))
        .select(col("a.aud_id").as("a1"), col("b.aud_id").as("a2"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("dist"))
        .distinct()
        .filter(col("dist") <= Threshold)
        .orderBy("a1", "a2")
    },
    Some(s"""WITH a AS (
           |  SELECT aud_id, fp
           |  FROM read_parquet('${graft.Fixtures.mediaNeardupAudioPath}'))
           |SELECT x.aud_id AS a1, y.aud_id AS a2,
           |  CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS dist
           |FROM a x JOIN a y ON x.aud_id < y.aud_id
           |WHERE bit_count(xor(x.fp, y.fp)) <= 10
           |ORDER BY a1, a2""".stripMargin))

  /** Real-GIF near-dup corpus as assets (committed fixture with
    * generator-side expected clip fingerprints — see
    * [[graft.tools.GenVideoDedupFixture]]).
    */
  def loadNeardupVideoAssets(s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    graft.Fixtures.read(s, graft.Fixtures.mediaNeardupVideoPath)
      .select(col("vid_id").as("doc_id"), lit("gif").as("media_type"),
        col("payload"))
      .as[MediaAsset]
  }

  /** The decoded clip-fingerprint relation q201 + its spec share. */
  private[graft] def videoFingerprints(s: SparkSession): DataFrame = {
    import s.implicits._
    decodeStage(loadNeardupVideoAssets(s), () => new VideoHashCodec,
      (c: VideoHashCodec, a: MediaAsset) => c.decodeFp(a)).toDF()
  }

  // Video near-dup via frame-sampled majority-fold fingerprint — the
  // video member of the multimodal dedup triad (q173 image, q189
  // audio): REAL animated-GIF multi-frame decode (ImageIO through the
  // per-partition codec seam) → integer-exact per-frame aHash on
  // every 2nd frame → strict per-bit majority fold (robust to the
  // trims/re-encodes video near-dups actually carry) → the same
  // 16-band × 4-bit Hamming candidate join → distance filter. The
  // oracle recomputes the pair relation from the fixture's
  // generator-side `fp` column (brute force, equal to the banded plan
  // by the pigeonhole recall guarantee); VideoDedupSpec separately
  // pins decoded fingerprint ≡ committed fp per clip — byte-level
  // container decode fidelity the generator also gates at build time.
  val q201VideoNeardup: QueryDef = QueryDef(
    "q201_video_neardup",
    (s, dir) => {
      val Threshold = 10
      val bands = videoFingerprints(s).select(col("vid_id"), col("fp"),
        explode(array((0 until 16).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("fp"), b * 4).bitwiseAND(lit(15L))
              .as("chunk"))): _*)).as("bk"))
        .select(col("vid_id"), col("fp"),
          col("bk.band").as("band"), col("bk.chunk").as("chunk"))
      val br = graft.Caches.persist(
          bands.repartition(col("band"), col("chunk")))
        .hint("shuffle_hash")
      br.as("a")
        .join(br.as("b"),
          col("a.band") === col("b.band") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.vid_id") < col("b.vid_id"))
        .select(col("a.vid_id").as("v1"), col("b.vid_id").as("v2"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("dist"))
        .distinct()
        .filter(col("dist") <= Threshold)
        .orderBy("v1", "v2")
    },
    Some(s"""WITH a AS (
           |  SELECT vid_id, fp
           |  FROM read_parquet('${graft.Fixtures.mediaNeardupVideoPath}'))
           |SELECT x.vid_id AS v1, y.vid_id AS v2,
           |  CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS dist
           |FROM a x JOIN a y ON x.vid_id < y.vid_id
           |WHERE bit_count(xor(x.fp, y.fp)) <= 10
           |ORDER BY v1, v2""".stripMargin))

  // Streaming media-ingest near-dup — the q127/q131 continuous-ingest
  // discipline on the MEDIA tier (the deployment shape: clips arrive
  // from collection, each micro-batch decodes + fingerprints
  // STATELESSLY through the same codec seam as batch, and candidates
  // come from a stream-static banded join against the already-ingested
  // base's bucket relation — no base×base pair ever forms, no
  // stream-stream state). Multi-band candidate repeats collapse in
  // streaming dropDuplicates state, bounded by emitted pairs (the
  // q127 argument). Output and oracle are the batch delta×base pair
  // relation from the committed fingerprints — the hash match proves
  // stream ingest equals the batch incremental answer.
  /** The q206 core over an arbitrary delta asset stream — factored
    * out so the spec can drive it from a MemoryStream across
    * micro-batches. `base` is the already-fingerprinted ingested
    * corpus (vid_id, fp).
    */
  private[graft] def streamMediaNeardup(base: DataFrame,
      deltaAssets: Dataset[MediaAsset]): DataFrame = {
    import base.sparkSession.implicits._
    val Threshold = 10
    def bandsOf(df: DataFrame, idAs: String, fpAs: String): DataFrame =
      df.select(col("vid_id").as(idAs), col("fp").as(fpAs),
        explode(array((0 until 16).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("fp"), b * 4).bitwiseAND(lit(15L))
              .as("chunk"))): _*)).as("bk"))
        .select(col(idAs), col(fpAs),
          col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    val baseB = graft.Caches.persist(
      bandsOf(base, "base_id", "base_fp"))
    val deltaFp = decodeStage(deltaAssets, () => new VideoHashCodec,
      (c: VideoHashCodec, a: MediaAsset) => c.decodeFp(a)).toDF()
    bandsOf(deltaFp, "delta_id", "delta_fp")
      .join(baseB, Seq("band", "chunk"))
      .dropDuplicates("base_id", "delta_id")
      .withColumn("dist",
        bit_count(col("base_fp").bitwiseXOR(col("delta_fp"))))
      .filter(col("dist") <= Threshold)
      .select(col("base_id"), col("delta_id"), col("dist"))
  }

  val q206StreamMediaNeardup: QueryDef = QueryDef(
    "q206_stream_media_neardup",
    (s, dir) => {
      import s.implicits._
      val deltaAssets = graft.streaming.EventsStream.readNeardupVideo(s)
        .filter(col("vid_id") % 2 === 1)
        .select(col("vid_id").as("doc_id"), lit("gif").as("media_type"),
          col("payload"))
        .as[MediaAsset]
      val pairs = streamMediaNeardup(
        videoFingerprints(s).filter(col("vid_id") % 2 === 0),
        deltaAssets)
      graft.streaming.EventsStream
        .runToCompletion(s, pairs, mode = "append")
        .orderBy("base_id", "delta_id")
    },
    Some(s"""WITH a AS (
           |  SELECT vid_id, fp
           |  FROM read_parquet('${graft.Fixtures.mediaNeardupVideoPath}'))
           |SELECT e.vid_id AS base_id, o.vid_id AS delta_id,
           |  CAST(bit_count(xor(e.fp, o.fp)) AS INTEGER) AS dist
           |FROM a e JOIN a o
           |  ON e.vid_id % 2 = 0 AND o.vid_id % 2 = 1
           |WHERE bit_count(xor(e.fp, o.fp)) <= 10
           |ORDER BY base_id, delta_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(q35Multimodal, q49MediaPipeline,
    q130AudioDecode, q173ImageNeardup, q189AudioNeardup,
    q201VideoNeardup, q206StreamMediaNeardup)
}
