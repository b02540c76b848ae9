package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Graft.spread

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode/feature-extract/
  * frame-sample operators.
  *
  * The IMAGE codec is REAL: [[decodeImagePartitions]] /
  * [[decodePartitions]] run `javax.imageio` (in the JDK — PNG, JPEG,
  * BMP, GIF, WBMP) inside the per-partition batch shape, returning
  * the container's actual format name, pixel dimensions, and decoded
  * pixel statistics. The AUDIO codec is REAL too:
  * [[decodeAudioPartitions]] runs `javax.sound.sampled` (in the JDK
  * — WAV/AIFF/AU, PCM) for container type, sample rate, channels,
  * frame count, and decoded amplitude statistics. The VIDEO codec is
  * REAL for MJPEG-in-AVI ([[decodeVideoPartitions]] — an original
  * RIFF chunk walker + per-frame ImageIO decode, pure JVM); modern
  * inter-frame codecs (H.264/VP9/AV1) remain the declared JDK
  * boundary. Schema-only fakes live quarantined in
  * [[plumbingFixture]] and are never part of a gated result.
  */
object Multimodal {

  // BufferedImage/ImageIO are display-independent but touch AWT
  // statics; pin headless before first use so executors without a
  // display (every cluster) never trip X11 initialization.
  System.setProperty("java.awt.headless", "true")
  javax.imageio.ImageIO.setUseCache(false) // no temp-file cache per decode

  // Adversarial-input guards: a crawled blob can DECLARE huge
  // dimensions (a 60000×60000 PNG header implies a ~14 GB raster)
  // or a multi-GB PCM payload; allocating either throws
  // OutOfMemoryError, which is a VirtualMachineError — NOT caught by
  // NonFatal — so without a pre-allocation bound one crafted file
  // kills the executor instead of yielding the documented "unknown"
  // row. Both caps are generous for real corpora (64 MP ≈ a 16K×4K
  // frame; 256 MB PCM ≈ 25 min of stereo 44.1 kHz) and overridable
  // per JVM for callers that genuinely process larger media.
  private val maxImagePixels: Long =
    sys.props.get("graft.multimodal.maxImagePixels").map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
  private val maxAudioBytes: Long =
    sys.props.get("graft.multimodal.maxAudioBytes").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)

  /** Metadata struct carried alongside every media blob. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Wrap a text/bytes column as a media blob (test harness for the
    * binary path; real corpora read parquet/sequence files of blobs).
    */
  def asBlob(c: Column): Column = c.cast(BinaryType)

  def byteLength(blob: Column): Column = octet_length(blob)

  def sha256Hex(blob: Column): Column = sha2(blob, 256)

  /** Hex of the first n bytes — magic-number sniffing. */
  def headHex(blob: Column, n: Int = 8): Column =
    lower(hex(substring(blob, 1, n)))

  /** Quarantined schema fixtures: deterministic FAKE transforms kept
    * ONLY so specs can exercise schema/batch/partitioning plumbing
    * with non-media bytes. All three media classes have real codecs
    * now ([[decodeImagePartitions]], [[decodeAudioPartitions]],
    * [[decodeVideoPartitions]]) — nothing here may appear in a gated
    * (oracle-checked) result, and no production pipeline should call
    * into this object.
    */
  object plumbingFixture {

    private val fakeDecode = udf { (bytes: Array[Byte]) =>
      if (bytes == null || bytes.isEmpty) null
      else {
        val fmt = (bytes(0) & 0x03) match {
          case 0 => "png"; case 1 => "jpeg"; case 2 => "wav"
          case _ => "mp4"
        }
        val w = 64 + (bytes(0) & 0x3f)
        val h = 64 + (if (bytes.length > 1) bytes(1) & 0x3f else 0)
        val frames = 1 + (bytes.length % 16)
        (fmt, w, h, frames)
      }
    }

    /** FAKE metadata from leading bytes — schema fixture only. */
    def decodeStub(blob: Column): Column =
      fakeDecode(blob).cast(mediaMetaSchema)

    /** FAKE resize over the fake dims — schema fixture only; the
      * real thumbnailer is [[Multimodal.resizeImagePartitions]].
      */
    def resizeStub(blob: Column, maxDim: Int): Column = {
      val meta = decodeStub(blob)
      val w = meta.getField("width"); val h = meta.getField("height")
      val scale =
        least(lit(maxDim) / greatest(w, h).cast("double"), lit(1.0))
      struct(
        greatest((w * scale).cast("int"), lit(1)).as("width"),
        greatest((h * scale).cast("int"), lit(1)).as("height"),
        blob.substr(lit(1),
          greatest((octet_length(blob) * scale).cast("int"), lit(1)))
          .as("bytes"))
    }

    /** FAKE frame slicing (fixed 16-byte strides) — schema fixture
      * only; the real sampler is
      * [[Multimodal.videoFrameSamplePartitions]].
      */
    def frameSampleStub(blob: Column, stride: Int = 4): Column =
      transform(
        sequence(lit(0),
          greatest(
            ((octet_length(blob) - 1) / lit(16 * stride)).cast("int"),
            lit(0))),
        i => blob.substr(i * lit(16 * stride) + 1, lit(16)))
  }

  /** Byte-histogram feature vector (16 bins, L1-normalized float) —
    * the feature-extraction plumbing: binary in, fixed-width
    * Array[Float] out, exactly the shape a real CNN/codec feature
    * extractor produces.
    */
  private val byteHistogram = udf { (bytes: Array[Byte]) =>
    if (bytes == null) null
    else {
      val bins = new Array[Float](16)
      var i = 0
      while (i < bytes.length) { bins((bytes(i) & 0xff) / 16) += 1f; i += 1 }
      val total = math.max(bytes.length, 1).toFloat
      bins.map(_ / total)
    }
  }

  /** Real byte-level feature extraction (not a stub — the histogram
    * is the actual content statistic it claims to be); fixed-width
    * Array[Float], the schema shape a learned feature extractor
    * would also produce.
    */
  def byteHistogramFeatures(blob: Column): Column = byteHistogram(blob)


  /** REAL image header decode for one blob: `javax.imageio` reader
    * lookup by content sniffing, then a header-only parse (format
    * name, pixel width/height — no full raster decode, so a 20 MB
    * JPEG costs a few header reads, the metadata-extraction shape a
    * 100 TB media crawl needs). Returns None when no JDK reader
    * claims the bytes (text, audio, video, truncated files).
    */
  private def readImageHeader(bytes: Array[Byte])
      : Option[(String, Int, Int)] = {
    if (bytes == null || bytes.length < 4) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        // NonFatal, not just IOException: the JDK readers throw
        // IllegalArgumentException / ArrayIndexOutOfBounds on
        // malformed (crawled) files — one corrupt blob must yield
        // the documented unknown row, not kill the job
        try {
          r.setInput(iis, true, true)
          Some((r.getFormatName.toLowerCase(java.util.Locale.ROOT),
            r.getWidth(0), r.getHeight(0)))
        } catch { case scala.util.control.NonFatal(_) => None }
        finally r.dispose()
      }
    } finally iis.close()
  }

  /** REAL full-raster image decode: pixels out, not just the header —
    * (format, width, height, mean gray level over all pixels as
    * (r+g+b)/3 averaged, in [0,255]). The mean is the simplest
    * honest pixel statistic: it requires every pixel to decode
    * correctly, which is what the m4 oracle gate checks against
    * images of known constructed content. Returns None for
    * non-image bytes.
    */
  private def decodeImageFull(bytes: Array[Byte])
      : Option[(String, Int, Int, Double)] = {
    // Gate the full-raster decode on the header-declared dims: the
    // header parse is cheap, and rejecting before ImageIO.read is the
    // only point where an OOM-sized allocation can be refused.
    readImageHeader(bytes)
      .filter { case (_, hw, hh) => hw.toLong * hh <= maxImagePixels }
      .flatMap { case (fmt, _, _) =>
      val img = try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        Some((fmt, w, h, sum.toDouble / (3.0 * w * h)))
      }
    }
  }

  /** Deterministic test-image encoder (the m4 fixture generator): a
    * solid `gray`-level `w`×`h` image encoded with the JDK's real
    * `javax.imageio` writer for `fmt` ("png" | "jpeg" | "bmp" |
    * "gif"). Solid content makes the decoded pixel statistics exact
    * arithmetic over the inputs, so a SQL oracle can check a real
    * encode→decode round trip without shipping binary fixtures.
    */
  val encodeTestImage = udf { (fmt: String, w: Int, h: Int, gray: Int) =>
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, fmt, bos)
    require(ok, s"no javax.imageio writer for format '$fmt'")
    bos.toByteArray
  }

  /** Batch-shaped REAL image decode: one iterator-to-iterator pass
    * per partition (the JVM analogue of mapInPandas' batch
    * contract — ImageIO's reader registry lookup and any per-batch
    * setup amortize across the partition), full raster decode per
    * row via `javax.imageio`. Output: (idCol, format, width, height,
    * mean_gray, n_bytes); non-image bytes yield format "unknown",
    * zero dims, null mean.
    */
  def decodeImagePartitions(df: DataFrame, blobCol: String,
                            idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val n = if (bytes == null) 0 else bytes.length
          decodeImageFull(bytes) match {
            case Some((fmt, w, h, mean)) =>
              (id, fmt, w, h, Some(mean), n)
            case None =>
              (id, "unknown", 0, 0, None: Option[Double], n)
          }
        }
      }
      .toDF(idCol, "format", "width", "height", "mean_gray", "n_bytes")
  }

  /** REAL audio decode for one blob: `javax.sound.sampled` (in the
    * JDK — WAV/AIFF/AU containers, PCM payloads). Returns the
    * container type name, the stream's declared sample rate /
    * channel count / frame length, and the mean decoded 16-bit
    * sample value (endianness-honoring full-payload decode — the
    * amplitude statistic that proves every frame decoded). None when
    * no JDK audio reader claims the bytes or the payload is not
    * 16-bit PCM.
    */
  /** One-pass full decode: container type, declared rate/channels/
    * frames, mean sample, AND the canonical-PCM SHA-256 — the
    * endianness normalization and the amplitude sum share the single
    * pass over the payload (a second decode per row would double the
    * hot-path cost this batch operator exists to amortize). Only
    * 16-bit PCM payloads qualify — the canonicalization is defined
    * on 16-bit words, so 8-bit/µ-law streams return None here and
    * null everywhere downstream (including [[audioContentHash]],
    * keeping its "same value as pcm_sha256" contract exact).
    * NonFatal-guarded: a malformed container yields the documented
    * unknown row, never a task failure.
    */
  /** The shared container→canonical-PCM pass: container type name,
    * declared rate/channels/frame count, and the decoded samples as
    * the canonical LITTLE-ENDIAN byte array (even length, frame
    * order). Everything downstream — amplitude stats, the content
    * SHA, the perceptual fingerprint — derives from this one buffer:
    * the SHA digests it directly, and the sample loops read 16-bit
    * words out of it in place, so no audio operator pays a second
    * payload pass OR a second full-signal allocation. (Round 9
    * briefly returned an `Array[Short]` here; that doubled the
    * passes/allocations per row and regressed the decode rows ~1.8×
    * — this byte-array contract is the fused shape of record.)
    * WAV payloads are already little-endian, so they come back as
    * the reader's own buffer untouched; AIFF/AU (big-endian) are
    * byte-swapped IN PLACE — zero extra allocation either way.
    */
  /** The JDK's audio SPI registry, materialized ONCE per JVM.
    * `AudioSystem.getAudioFileFormat`/`getAudioInputStream` route
    * every call through `JDK13Services.getProviders` — a
    * SYNCHRONIZED static registry (60 s cache behind a class lock) —
    * so a 32-thread decode stage serializes on two lock acquisitions
    * per row and runs SLOWER than a single-threaded one (round-10
    * measurement: the audio decode stage at 3.5 s wall for 5000
    * sub-millisecond clips). Iterating the providers directly makes
    * the decode stage actually parallel. Provider iteration order
    * matters only for exotic containers claimed by several readers;
    * the JDK's PCM readers (Wave/Aiff/Au + the float/extensible WAV
    * variants) are mutually exclusive on standard payloads.
    */
  private lazy val audioReaders
      : List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toList
  }

  /** First provider claiming the bytes → (file format, audio stream);
    * None when no JDK reader does. Lock-free equivalent of the two
    * `AudioSystem` lookups (see [[audioReaders]]).
    */
  private def openAudio(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFileFormat,
                javax.sound.sampled.AudioInputStream)] = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      val r = it.next()
      try {
        val ais = r.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val aff = r.getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes))
        return Some((aff, ais))
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        case _: java.io.IOException => ()
      }
    }
    None
  }

  private def decodeCanonicalPcm(bytes: Array[Byte])
      : Option[(String, Int, Int, Long, Array[Byte])] = {
    if (bytes == null || bytes.length < 8) return None
    // Pre-allocation bound (the image-path discipline): the PCM pass
    // below materializes the whole payload via readAllBytes, and the
    // decoded stream can only be ~as large as the container, so cap
    // on the container size before any decode allocation happens.
    if (bytes.length > maxAudioBytes) return None
    try {
      val (aff, ais) = openAudio(bytes) match {
        case Some(p) => p
        case None    => return None
      }
      try {
        val f = ais.getFormat
        if (f.getSampleSizeInBits != 16) return None
        var data = ais.readAllBytes()
        val n = data.length / 2
        if (n == 0) return None
        // even length is part of the canonical contract (the SHA
        // covers exactly 2n bytes); a torn trailing byte only occurs
        // on malformed streams, so the copy here is off the hot path
        if (data.length % 2 != 0)
          data = java.util.Arrays.copyOf(data, 2 * n)
        if (f.isBigEndian) {
          var i = 0
          while (i < n) {
            val hi = data(2 * i)
            data(2 * i) = data(2 * i + 1)
            data(2 * i + 1) = hi
            i += 1
          }
        }
        Some((aff.getType.toString.toLowerCase(java.util.Locale.ROOT),
          f.getSampleRate.round, f.getChannels, ais.getFrameLength,
          data))
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Signed 16-bit sample i read in place from the canonical
    * little-endian buffer — the high byte's sign carries through the
    * int promotion, so no `.toShort` round-trip is needed.
    */
  @inline private def sampleAt(canon: Array[Byte], i: Int): Int =
    (canon(2 * i) & 0xff) | (canon(2 * i + 1).toInt << 8)

  private def decodeAudioFull(bytes: Array[Byte])
      : Option[(String, Int, Int, Long, Double, String)] =
    decodeCanonicalPcm(bytes).map { case (tpe, rate, ch, frames, canon) =>
      val n = canon.length / 2
      var sum = 0L
      var i = 0
      while (i < n) { sum += sampleAt(canon, i); i += 1 }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(s"$rate:$ch:"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      md.update(canon)
      (tpe, rate, ch, frames, sum.toDouble / n,
        md.digest().map("%02x".format(_)).mkString)
    }

  /** Deterministic test-audio encoder (the m5 fixture generator):
    * `nFrames` frames of constant 16-bit `sampleVal` at `sampleRate`
    * Hz × `channels`, containerized with the JDK's real
    * `javax.sound.sampled` writer for `fileType` ("wave" | "aiff" |
    * "au"; WAV is little-endian PCM, AIFF/AU big-endian — handled
    * here). Constant content makes the decoded statistics exact
    * arithmetic over the inputs, the [[encodeTestImage]] discipline.
    */
  val encodeTestAudio = udf { (fileType: String, sampleRate: Int,
                               channels: Int, nFrames: Int,
                               sampleVal: Int) =>
    val t = fileType match {
      case "wave" => javax.sound.sampled.AudioFileFormat.Type.WAVE
      case "aiff" => javax.sound.sampled.AudioFileFormat.Type.AIFF
      case "au"   => javax.sound.sampled.AudioFileFormat.Type.AU
      case other => throw new IllegalArgumentException(
        s"unsupported audio container '$other'")
    }
    val bigEndian = fileType != "wave"
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, bigEndian)
    val v = sampleVal.toShort
    val pcm = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < nFrames * channels) {
      if (bigEndian) {
        pcm(2 * i) = ((v >> 8) & 0xff).toByte
        pcm(2 * i + 1) = (v & 0xff).toByte
      } else {
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      i += 1
    }
    writeAudioBytes(pcm, fmt, nFrames.toLong, t, fileType)
  }

  /** Writer twin of [[audioReaders]]: one registry materialization
    * per JVM instead of `AudioSystem.write`'s synchronized
    * JDK13Services lookup per encoded row.
    */
  private lazy val audioWriters
      : List[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.toList
  }

  private def writeAudioBytes(pcm: Array[Byte],
      fmt: javax.sound.sampled.AudioFormat, nFrames: Long,
      t: javax.sound.sampled.AudioFileFormat.Type,
      fileType: String): Array[Byte] = {
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames)
    val bos = new java.io.ByteArrayOutputStream()
    audioWriters.find(_.isFileTypeSupported(t, ais)) match {
      case Some(w) => w.write(ais, t, bos)
      case None => throw new IllegalArgumentException(
        s"no JDK writer for audio container '$fileType'")
    }
    bos.toByteArray
  }

  /** Batch-shaped REAL audio decode (the [[decodeImagePartitions]]
    * twin): one pass per partition, full-payload PCM decode per row.
    * Output: (idCol, audio_format, sample_rate, channels, n_frames,
    * mean_sample, duration_ms, pcm_sha256); non-audio bytes yield
    * audio_format "unknown" with null stats.
    *
    * `pcm_sha256` hashes the DECODED signal, not the container
    * bytes: sample rate, channel count, and every 16-bit sample in
    * canonical little-endian frame order. The same recording saved
    * as WAV, AIFF, and AU (different containers, different payload
    * endianness, different byte sizes) therefore hashes identically
    * — the container-independent exact audio dedup key a multimodal
    * corpus needs, where a byte-level md5 sees three distinct blobs
    * (the m8 gate).
    */
  def decodeAudioPartitions(df: DataFrame, blobCol: String,
                            idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeAudioFull(bytes) match {
            case Some((fmt, rate, ch, frames, mean, sha)) =>
              (id, fmt, rate, ch, frames, Some(mean),
                Some(frames.toDouble * 1000.0 / rate), Some(sha))
            case None =>
              (id, "unknown", 0, 0, 0L, None: Option[Double],
                None: Option[Double], None: Option[String])
          }
        }
      }
      .toDF(idCol, "audio_format", "sample_rate", "channels", "n_frames",
        "mean_sample", "duration_ms", "pcm_sha256")
  }

  /** Column form of the canonical decoded-PCM hash (exactly
    * [[decodeAudioPartitions]]'s `pcm_sha256` — one shared decode
    * path; null for non-audio bytes and for payloads that are not
    * 16-bit PCM), for composition where the batch shape doesn't fit
    * — e.g. streaming container-independent exact audio dedup:
    * `DataStream(src).withColumn("h", audioContentHash(col("blob")))
    * .dedupWithinWatermark(Seq("h"))` keeps the first spelling of
    * each recording regardless of container. NOTE on mixed corpora:
    * dropDuplicates-family dedup compares null keys EQUAL, so all
    * non-audio rows would collapse into one survivor — filter them
    * out first, or coalesce the hash with a per-row fallback key
    * (e.g. `coalesce(h, sha2(blob, 256))`).
    */
  private val audioContentHashUdf =
    udf { (bytes: Array[Byte]) => decodeAudioFull(bytes).map(_._6) }

  def audioContentHash(blob: Column): Column =
    audioContentHashUdf(blob.cast(BinaryType))

  /** Perceptual audio fingerprint (the dHash analogue for the audio
    * class): REAL canonical-PCM decode, then split the sample
    * sequence into 65 equal-ish segments with exact integer
    * boundaries (segment i covers samples [i·m/65, (i+1)·m/65)),
    * per-segment energy = Σ sample² (integer-exact in a long up to
    * ~2^33 samples/segment — far past the payload cap), and bit i =
    * 1 iff energy(i) < energy(i+1) — energy-envelope DIRECTION, not
    * level, so the fingerprint is invariant to the container (WAV/
    * AIFF/AU spellings collide like [[audioContentHash]]) AND to
    * uniform gain: scaling every sample by c scales every energy by
    * c², preserving all 64 comparisons — a re-mastered louder copy
    * fingerprints identically where the exact content hash diverges.
    * None for non-audio bytes and clips shorter than 65 samples.
    *
    * Feed the hash into [[Dedup.simhashPairsFromSig]] for banded
    * hamming≤k audio near-dup pairs (the m10 gate) — the pigeonhole
    * recall guarantee is exact, so re-gained/re-containered copies
    * pair without any all-pairs sample comparison.
    */
  private def audioFingerprintOf(bytes: Array[Byte]): Option[Long] =
    decodeCanonicalPcm(bytes).flatMap { case (_, _, _, _, canon) =>
      val m = canon.length / 2
      if (m < 65) None
      else {
        val energy = new Array[Long](65)
        var i = 0
        while (i < 65) {
          val lo = (i.toLong * m / 65).toInt
          val hi = ((i + 1).toLong * m / 65).toInt
          var e = 0L
          var t = lo
          while (t < hi) {
            val v = sampleAt(canon, t).toLong
            e += v * v
            t += 1
          }
          energy(i) = e
          i += 1
        }
        var fp = 0L
        i = 0
        while (i < 64) {
          if (energy(i) < energy(i + 1)) fp |= 1L << i
          i += 1
        }
        Some(fp)
      }
    }

  /** Batch-shaped perceptual audio fingerprint (the
    * [[imageDHashPartitions]] twin): (idCol, afp: long), null for
    * non-audio bytes and too-short clips.
    */
  def audioFingerprintPartitions(df: DataFrame, blobCol: String,
                                 idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it =>
        it.map { case (id, bytes) => (id, audioFingerprintOf(bytes)) })
      .toDF(idCol, "afp")
  }

  /** Column form of the perceptual audio fingerprint (same bits as
    * [[audioFingerprintPartitions]]) for streaming composition —
    * e.g. `StreamingDedup.simhashPairs(src,
    * audioFingerprint(col("blob")), …)`.
    */
  private val audioFingerprintUdf =
    udf { (bytes: Array[Byte]) => audioFingerprintOf(bytes) }

  def audioFingerprint(blob: Column): Column =
    audioFingerprintUdf(blob.cast(BinaryType))

  /** Deterministic patterned test-audio encoder (the m10 fixture
    * generator, [[encodeTestImagePattern]]'s audio twin): 65 segments
    * of `segFrames` mono 16-bit frames each, segment k holding the
    * constant value `gain · (wang32(seed·65537 + k·8191) mod 181 − 90)`,
    * where `wang32` is the public low-bias 32-bit integer hash
    * (x ^= x>>16; x *= 0x45d9f3b; twice; x ^= x>>16) spelled with
    * explicit mod-2³² wraps so a BIGINT SQL oracle replays it exactly
    * (DuckDB BIGINT multiply errors on overflow instead of wrapping,
    * so every step stays under 2³²·0x45d9f3b ≈ 3.1e17). Hash-grade
    * mixing is load-bearing for fixture honesty at scale: earlier
    * closed forms (linear/quadratic in seed, mod 181) collapsed to
    * ≤181² fingerprint classes and correlated bits — at 550k docs the
    * "true" hamming≤3 pair set was 53M rows (measured), all fixture
    * artifact. With iid-quality bits the expected accidental pair
    * rate is C(n,2)·43745/2⁶⁴ ≈ 0 and the answer grows linearly with
    * the corpus, which is what a scale benchmark must measure.
    * Total frames =
    * 65·segFrames (a multiple of 65), so the fingerprint's integer
    * segment boundaries land exactly on the pattern's — per-segment
    * energy is then the pure arithmetic `segFrames · gain² · a_k²` a
    * SQL oracle replays bit for bit. `gain` > 1 fixtures the gain-
    * invariance property (|gain·a| ≤ 90·gain must stay < 32768).
    */
  val encodeTestAudioPattern = udf { (fileType: String, sampleRate: Int,
                                      segFrames: Int, seed: Int,
                                      gain: Int) =>
    val t = fileType match {
      case "wave" => javax.sound.sampled.AudioFileFormat.Type.WAVE
      case "aiff" => javax.sound.sampled.AudioFileFormat.Type.AIFF
      case "au"   => javax.sound.sampled.AudioFileFormat.Type.AU
      case other => throw new IllegalArgumentException(
        s"unsupported audio container '$other'")
    }
    require(seed >= 0, "seed must be non-negative")
    require(gain >= 1 && gain * 90 < 32768, "gain out of 16-bit range")
    val bigEndian = fileType != "wave"
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, bigEndian)
    val nFrames = 65 * segFrames
    val pcm = new Array[Byte](nFrames * 2)
    // seed² mod 7919 (computed in Long — seed² overflows Int): a
    // NONLINEAR seed term. With only linear seed·(k+7), the whole
    // pattern is a function of seed mod 181 — a 100k seed space
    // silently collapses to 181 fingerprint classes and unrelated
    // docs collide quadratically with corpus size.
    var k = 0
    while (k < 65) {
      var h = (seed.toLong * 65537L + k.toLong * 8191L) & 0xffffffffL
      h = ((h ^ (h >>> 16)) * 73244475L) & 0xffffffffL
      h = ((h ^ (h >>> 16)) * 73244475L) & 0xffffffffL
      h = h ^ (h >>> 16)
      val v = (gain * ((h % 181L).toInt - 90)).toShort
      var i = k * segFrames
      while (i < (k + 1) * segFrames) {
        if (bigEndian) {
          pcm(2 * i) = ((v >> 8) & 0xff).toByte
          pcm(2 * i + 1) = (v & 0xff).toByte
        } else {
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        }
        i += 1
      }
      k += 1
    }
    writeAudioBytes(pcm, fmt, nFrames.toLong, t, fileType)
  }

  /** Deterministic patterned test-image encoder (the m6/m7 fixture
    * generator): pixel (x, y) gets gray level
    * `(seed + 53x² + 31y² + 97xy) mod 256` — quadratic mixing so the
    * mod-256 wraps oscillate inside every downsample cell and the
    * derived perceptual-hash bits are ~Bernoulli(½) (a linear
    * gradient would make every difference bit 1 and glue the corpus
    * into one hash). Encoded with a LOSSLESS JDK writer ("png" |
    * "bmp") so the decoded raster is the analytic pattern
    * bit-for-bit — which makes downstream pixel pipelines exact
    * arithmetic a SQL oracle can replay.
    */
  val encodeTestImagePattern = udf { (fmt: String, w: Int, h: Int,
                                      seed: Int) =>
    require(fmt == "png" || fmt == "bmp",
      s"pattern fixtures need a lossless writer, got '$fmt'")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = (seed + 53 * x * x + 31 * y * y + 97 * x * y) % 256
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Perceptual difference hash (dHash — the public
    * block-difference-hash family used for image near-dedup): REAL
    * pixel decode, block-mean downsample to a (gridW+1) × gridH
    * luminance grid with exact integer cell boundaries
    * (x ∈ [i·w/(gridW+1), (i+1)·w/(gridW+1))), then bit (j·gridW+i)
    * = 1 iff cell(j,i) mean < cell(j,i+1) mean — gradient DIRECTION,
    * not absolute level, so the hash is invariant to uniform
    * brightness shifts and to any resize that preserves cell means.
    * Block-mean (area) downsampling rather than interpolation keeps
    * every step integer-exact arithmetic: sums of ≤2^53 fit a
    * double, so the m6 oracle replays the hash bit for bit from the
    * analytic fixture pattern.
    *
    * Output: (idCol, dhash: long) — null for non-images and images
    * smaller than the grid. Feed the hash straight into
    * [[Dedup.simhashPairsFromSig]] for banded hamming≤k image
    * near-dup pairs (the m7 gate): the hamming≤3 pigeonhole recall
    * guarantee is exact, so near-identical images pair without any
    * all-pairs pixel comparison — the image-dedup stage of a
    * multimodal curation pipeline at corpus scale.
    */
  /** The dHash core: decode + block-mean grid + difference bits.
    * None for non-images and images smaller than the grid.
    */
  private def dHashOf(bytes: Array[Byte], gridW: Int,
                      gridH: Int): Option[Long] = {
    // Same pre-allocation gate as decodeImageFull: header-declared
    // dims must fit the pixel cap before the full raster is read.
    if (readImageHeader(bytes)
          .forall { case (_, hw, hh) => hw.toLong * hh > maxImagePixels })
      return None
    val img = try javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth < gridW + 1 ||
        img.getHeight < gridH) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val cols = gridW + 1
      val means = Array.ofDim[Double](gridH, cols)
      var j = 0
      while (j < gridH) {
        val y0 = j * h / gridH; val y1 = (j + 1) * h / gridH
        var i = 0
        while (i < cols) {
          val x0 = i * w / cols; val x1 = (i + 1) * w / cols
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          means(j)(i) = sum.toDouble / (3.0 * (x1 - x0) * (y1 - y0))
          i += 1
        }
        j += 1
      }
      var hash = 0L
      j = 0
      while (j < gridH) {
        var i = 0
        while (i < gridW) {
          if (means(j)(i) < means(j)(i + 1))
            hash |= 1L << (j * gridW + i)
          i += 1
        }
        j += 1
      }
      Some(hash)
    }
  }

  def imageDHashPartitions(df: DataFrame, blobCol: String, idCol: String,
                           gridW: Int = 8, gridH: Int = 8): DataFrame = {
    require(gridW * gridH <= 64, "dhash must fit 64 bits")
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it =>
        it.map { case (id, bytes) => (id, dHashOf(bytes, gridW, gridH)) })
      .toDF(idCol, "dhash")
  }

  /** Column form of the dHash (same bits as
    * [[imageDHashPartitions]]), for composition where the batch
    * shape doesn't fit — e.g. a STREAMING image near-dup stage:
    * `StreamingDedup.simhashPairs(src, imageDHash(col("blob")), …)`
    * runs decode → perceptual hash → banded bucket state per
    * micro-batch with the image's event-time horizon. Null for
    * non-images (which the banded pair operators drop as contentless
    * — the SimHash convention).
    */
  // One udf object per distinct grid (house style: no per-call udf
  // construction); the map stays tiny because grids are config, not
  // data.
  private val dHashUdfs =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int),
      org.apache.spark.sql.expressions.UserDefinedFunction]()

  def imageDHash(blob: Column, gridW: Int = 8, gridH: Int = 8): Column = {
    require(gridW * gridH <= 64, "dhash must fit 64 bits")
    val f = dHashUdfs.computeIfAbsent((gridW, gridH), { k =>
      udf { (bytes: Array[Byte]) => dHashOf(bytes, k._1, k._2) }
    })
    f(blob.cast(BinaryType))
  }

  /** Batch-shaped image-header decode: real `javax.imageio` header
    * parse — actual format name and pixel dims, no full raster read
    * (the metadata-extraction pass of a media crawl). Bytes no JDK
    * reader claims yield the HONEST unknown row ("unknown", 0, 0) —
    * the same convention as every other decoder here; route audio/
    * video bytes to [[decodeAudioPartitions]] /
    * [[decodeVideoPartitions]] instead.
    */
  def decodePartitions(df: DataFrame, blobCol: String,
                       idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup happens once, here (codec/session init)
        it.map { case (id, bytes) =>
          readImageHeader(bytes) match {
            case Some((fmt, w, h)) => (id, fmt, w, h, bytes.length)
            case None =>
              (id, "unknown", 0, 0,
                if (bytes == null) 0 else bytes.length)
          }
        }
      }
      .toDF(idCol, "format", "width", "height", "n_bytes")
  }

  /** Column form of the REAL image-header decode (the
    * [[decodePartitions]] fields minus n_bytes): struct(format,
    * width, height) with the honest ("unknown", 0, 0) for bytes no
    * JDK reader claims.
    */
  private val imageMetaUdf = udf { (bytes: Array[Byte]) =>
    readImageHeader(bytes).getOrElse(("unknown", 0, 0))
  }

  def imageMeta(blob: Column): Column =
    imageMetaUdf(blob.cast(BinaryType)).cast(StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType))))

  /** REAL image resize (the thumbnailer stage of a media pipeline):
    * full decode, integer-exact nearest-neighbour downscale into a
    * `maxDim` bounding box (output pixel (x, y) samples input pixel
    * (x·w/rw, y·h/rh); target dims rw = max(w·maxDim/max(w,h), 1)
    * by INTEGER division so a SQL oracle replays them), lossless PNG
    * re-encode. Images already inside the box pass through
    * re-encoded at original dims. Non-image bytes yield the unknown
    * row with null payload. Nearest-neighbour is chosen over
    * interpolation deliberately: it keeps solid regions bit-exact
    * (the oracle-ability discipline) and never invents pixel values.
    *
    * Output: (idCol, width, height, png: binary).
    */
  def resizeImagePartitions(df: DataFrame, blobCol: String,
                            idCol: String, maxDim: Int): DataFrame = {
    require(maxDim >= 1, "maxDim must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeImageRaster(bytes) match {
            case None => (id, 0, 0, None: Option[Array[Byte]])
            case Some(img) =>
              val w = img.getWidth; val h = img.getHeight
              val mx = math.max(w, h)
              val (rw, rh) =
                if (mx <= maxDim) (w, h)
                else (math.max(w * maxDim / mx, 1),
                      math.max(h * maxDim / mx, 1))
              val out = new java.awt.image.BufferedImage(rw, rh,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < rh) {
                var x = 0
                while (x < rw) {
                  out.setRGB(x, y, img.getRGB(x * w / rw, y * h / rh))
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              (id, rw, rh, Some(bos.toByteArray))
          }
        }
      }
      .toDF(idCol, "width", "height", "png")
  }

  /** The guarded full-raster read shared by [[resizeImagePartitions]]
    * (and the decode paths): header dims gated on the pixel cap
    * before any allocation, NonFatal-guarded.
    */
  private def decodeImageRaster(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] = {
    if (readImageHeader(bytes)
          .forall { case (_, hw, hh) => hw.toLong * hh > maxImagePixels })
      return None
    val img = try javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }
    Option(img)
  }

  // ---------------------------------------------------------------
  // REAL video codec: MJPEG-in-AVI. The RIFF/AVI container (public
  // Microsoft format) is a fourCC chunk walk, and MJPEG frames are
  // plain JPEG byte ranges the JDK's ImageIO decodes — so container
  // parse + full per-frame pixel decode are pure-JVM real. Modern
  // inter-frame codecs (H.264/VP9/AV1) still need native libs; that
  // boundary is the remaining declared limit of the video path.
  // ---------------------------------------------------------------

  private def le32(v: Int): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def fourCC(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Deterministic test-video encoder (the m9 fixture generator): a
    * minimal-but-conformant RIFF AVI wrapping `nFrames` MJPEG frames
    * — frame i is a solid gray `(gray0 + 7i) mod 256` `w`×`h` JPEG
    * written by the real ImageIO encoder (solid JPEG blocks are
    * DC-only, so decoded pixels are exact). Header carries real
    * avih dims/frame count and strh dwRate/dwScale = `fps`/1, all of
    * which the decoder must read back.
    */
  /** Assemble a minimal-but-conformant RIFF AVI around pre-encoded
    * MJPEG frame payloads (shared by both test-video encoders). */
  private def buildAvi(w: Int, h: Int, nFrames: Int, fps: Int,
                       frames: Seq[Array[Byte]]): Array[Byte] = {
    def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length % 2 // RIFF chunks pad to even length
      fourCC(cc) ++ le32(body.length) ++ body ++
        Array.fill[Byte](pad)(0)
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      fourCC("LIST") ++ le32(body.length + 4) ++ fourCC(kind) ++ body
    val avih = le32(1000000 / math.max(fps, 1)) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(nFrames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fourCC("vids") ++ fourCC("MJPG") ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(1) /* dwScale */ ++ le32(fps) /* dwRate */ ++
      le32(0) ++ le32(nFrames) ++ le32(0) ++ le32(-1) ++ le32(0) ++
      le32(0) ++ le32(0)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++
      Array[Byte](1, 0, 24, 0) ++ fourCC("MJPG") ++ le32(w * h * 3) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val body = fourCC("AVI ") ++ hdrl ++ movi
    fourCC("RIFF") ++ le32(body.length) ++ body
  }

  val encodeTestVideoAvi = udf { (w: Int, h: Int, nFrames: Int,
                                  gray0: Int, fps: Int) =>
    val frames = (0 until nFrames).map { i =>
      val g = (gray0 + 7 * i) % 256
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      bos.toByteArray
    }
    buildAvi(w, h, nFrames, fps, frames)
  }

  /** Parsed AVI video: declared header fields + per-frame decoded
    * pixel stats.
    */
  private def readLe32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def cc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL video decode for one blob: walk the RIFF chunk tree (avih
    * → declared dims/frame count; strh → codec fourCC and
    * dwRate/dwScale fps; movi → the frame byte ranges), then
    * ImageIO-decode EVERY MJPEG frame. Returns header fields plus the
    * per-frame mean gray levels in decode order (frames that fail to
    * decode are skipped). None when the bytes are not a RIFF AVI or
    * no frame decodes. The shared pass under [[decodeVideoFull]]'s
    * stats and [[videoFingerprintPartitions]]'s temporal signature.
    */
  /** Container-only RIFF/AVI parse: header fields + the frame chunk
    * byte ranges in document order, NO frame decode — the shared
    * front half of [[decodeVideoMeans]] and the whole cost of
    * [[videoFrameSamplePartitions]]'s sampling decision.
    */
  private def aviParse(bytes: Array[Byte])
      : Option[(String, Int, Int, Int, Double, Array[(Int, Int)])] = {
    if (bytes == null || bytes.length < 24) return None
    if (cc(bytes, 0) != "RIFF" || cc(bytes, 8) != "AVI ") return None
    try {
      var width = 0; var height = 0; var declaredFrames = 0
      var codec = ""; var rate = 0; var scale = 1
      val frames = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
      // Iterative pre-order chunk walk with an explicit continuation
      // stack: descending into a LIST pushes the parent's REMAINING
      // range and continues inside the child, so document order is
      // preserved exactly like the natural recursion — but nesting
      // depth costs heap, not JVM stack. (A crafted blob of deeply
      // nested 8-byte LIST headers — ~125k levels per MB — would
      // StackOverflowError a recursive walk, a VirtualMachineError
      // the NonFatal catch below does not handle.)
      val resume = scala.collection.mutable.Stack[(Int, Int)]()
      var off = 12; var end = bytes.length
      var walking = true
      while (walking) {
        if (off + 8 > end) {
          if (resume.isEmpty) walking = false
          else { val t = resume.pop(); off = t._1; end = t._2 }
        } else {
          val id = cc(bytes, off)
          val size = readLe32(bytes, off + 4)
          if (size < 0 || off + 8 + size > end) {
            // malformed chunk: abandon this range, resume the parent
            if (resume.isEmpty) walking = false
            else { val t = resume.pop(); off = t._1; end = t._2 }
          } else if (id == "LIST" || id == "RIFF") {
            resume.push((off + 8 + size + (size % 2), end))
            end = off + 8 + size
            off = off + 12
          } else {
            if (id == "avih" && size >= 40) {
              declaredFrames = readLe32(bytes, off + 8 + 16)
              width = readLe32(bytes, off + 8 + 32)
              height = readLe32(bytes, off + 8 + 36)
            } else if (id == "strh" && size >= 28 &&
                cc(bytes, off + 8) == "vids") {
              codec = cc(bytes, off + 12).trim
                .toLowerCase(java.util.Locale.ROOT)
              scale = math.max(readLe32(bytes, off + 8 + 20), 1)
              rate = readLe32(bytes, off + 8 + 24)
            } else if (id.endsWith("dc") || id.endsWith("db")) {
              frames += ((off + 8, size))
            }
            off += 8 + size + (size % 2) // chunks pad to even
          }
        }
      }
      if (frames.isEmpty) None
      else Some((codec, width, height, declaredFrames,
        rate.toDouble / scale, frames.toArray))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def decodeVideoMeans(bytes: Array[Byte])
      : Option[(String, Int, Int, Int, Double, Array[Double])] =
    aviParse(bytes).flatMap {
      case (codec, width, height, declaredFrames, fps, frames) =>
        val means =
          new scala.collection.mutable.ArrayBuffer[Double](frames.length)
        frames.foreach { case (off, size) =>
          val img = try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes, off, size))
          catch { case scala.util.control.NonFatal(_) => null }
          if (img != null) {
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                  (rgb & 0xff)
                x += 1
              }
              y += 1
            }
            means += sum.toDouble / (3.0 * img.getWidth * img.getHeight)
          }
        }
        if (means.isEmpty) None
        else Some((codec, width, height, declaredFrames, fps,
          means.toArray))
    }

  private def decodeVideoFull(bytes: Array[Byte])
      : Option[(String, Int, Int, Int, Double, Double, Double)] =
    decodeVideoMeans(bytes).map { case (codec, w, h, nf, fps, means) =>
      (codec, w, h, nf, fps, means(0), means.sum / means.length)
    }

  /** Batch-shaped REAL video decode (the [[decodeImagePartitions]] /
    * [[decodeAudioPartitions]] triplet-completer): RIFF-AVI
    * container parse + full per-frame MJPEG pixel decode per row.
    * Output: (idCol, codec, width, height, n_frames, fps,
    * mean_gray_first, mean_gray_all); non-AVI bytes yield codec
    * "unknown" with null stats.
    */
  def decodeVideoPartitions(df: DataFrame, blobCol: String,
                            idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeVideoFull(bytes) match {
            case Some((codec, w, h, nf, fps, first, all)) =>
              (id, codec, w, h, nf, Some(fps), Some(first), Some(all))
            case None =>
              (id, "unknown", 0, 0, 0, None: Option[Double],
                None: Option[Double], None: Option[Double])
          }
        }
      }
      .toDF(idCol, "codec", "width", "height", "n_frames", "fps",
        "mean_gray_first", "mean_gray_all")
  }

  /** Perceptual VIDEO fingerprint (the temporal analogue of
    * [[audioFingerprint]] — standard video fingerprinting practice:
    * sign-deltas over the luminance envelope): REAL per-frame MJPEG
    * decode via the shared AVI pass, then 65 frame samples at exact
    * integer positions over the decoded frame list (sample i = frame
    * ⌊i·F/65⌋), and bit i = 1 iff mean(sample i) < mean(sample i+1).
    * The luminance ENVELOPE direction is invariant to resolution
    * (frame means don't depend on dims), container bitrate/fps
    * metadata, and uniform re-scaling of frame content — a
    * re-encoded copy of the same frame sequence fingerprints
    * identically, which is what the m12 gate pins. Videos with fewer
    * than 66 frames repeat samples (a tie ⇒ bit 0 — deterministic,
    * replayable). None for non-AVI bytes.
    *
    * Feed into [[Dedup.simhashPairsFromSig]] for banded hamming≤k
    * video near-dup pairs — no all-pairs frame comparison, the m7
    * image discipline one media class up.
    */
  private def videoFingerprintOf(bytes: Array[Byte]): Option[Long] =
    decodeVideoMeans(bytes).map { case (_, _, _, _, _, means) =>
      val f = means.length
      var fp = 0L
      var i = 0
      while (i < 64) {
        val a = means((i.toLong * f / 65).toInt)
        val b = means(((i + 1).toLong * f / 65).toInt)
        if (a < b) fp |= 1L << i
        i += 1
      }
      fp
    }

  /** Batch-shaped perceptual video fingerprint: (idCol, vfp: long),
    * null for non-AVI bytes.
    */
  def videoFingerprintPartitions(df: DataFrame, blobCol: String,
                                 idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it =>
        it.map { case (id, bytes) => (id, videoFingerprintOf(bytes)) })
      .toDF(idCol, "vfp")
  }

  /** Column form of the video fingerprint for streaming composition. */
  private val videoFingerprintUdf =
    udf { (bytes: Array[Byte]) => videoFingerprintOf(bytes) }

  def videoFingerprint(blob: Column): Column =
    videoFingerprintUdf(blob.cast(BinaryType))

  /** REAL video frame sampling: container-only RIFF parse (no frame
    * decode — the sampling decision costs a header walk, not a codec
    * pass), then every `stride`-th MJPEG frame payload fans out as
    * its own row: (idCol, frame_idx, frame: binary). The payloads
    * are plain JPEG byte ranges, so downstream stages compose
    * directly — `decodeImagePartitions` for per-frame pixel stats,
    * `imageDHashPartitions` for per-frame perceptual hashes. Rows
    * with non-AVI bytes contribute no frames (filter them via
    * [[decodeVideoPartitions]]'s codec column when an explicit
    * unknown marker is needed). The fan-out shape keeps frame rows
    * independent — at corpus scale the sampled frames repartition
    * freely instead of traveling as one giant array cell.
    */
  def videoFrameSamplePartitions(df: DataFrame, blobCol: String,
                                 idCol: String,
                                 stride: Int = 4): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    spread(df).select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          aviParse(bytes) match {
            case None => Iterator.empty
            case Some((_, _, _, _, _, frames)) =>
              Iterator.range(0, frames.length, stride).map { i =>
                val (off, size) = frames(i)
                (id, i, java.util.Arrays.copyOfRange(bytes, off,
                  off + size))
              }
          }
        }
      }
      .toDF(idCol, "frame_idx", "frame")
  }

  /** Deterministic patterned test-video encoder (the m12 fixture
    * generator): [[encodeTestVideoAvi]] with a hash-grade gray
    * progression — frame j is solid gray
    * `wang32(seed·65537 + j·8191) mod 256` (the same explicit-mod
    * 32-bit hash as [[encodeTestAudioPattern]], for the same reason:
    * the earlier closed form collapsed to ≤256² fingerprint classes,
    * so a corpus past ~65k videos would pair quadratically on fixture
    * artifact rather than true duplication; hash bits keep the
    * accidental hamming≤3 rate ≈ 0 and the answer linear). Solid
    * frames keep the MJPEG decode exact (DC-only blocks, the m9
    * argument), so each frame's mean IS the pattern value and the
    * fingerprint bits are pure arithmetic a SQL oracle replays.
    */
  val encodeTestVideoAviPattern = udf { (w: Int, h: Int, nFrames: Int,
                                         seed: Int, fps: Int) =>
    require(seed >= 0, "seed must be non-negative")
    val frames = (0 until nFrames).map { j =>
      var hsh = (seed.toLong * 65537L + j.toLong * 8191L) & 0xffffffffL
      hsh = ((hsh ^ (hsh >>> 16)) * 73244475L) & 0xffffffffL
      hsh = ((hsh ^ (hsh >>> 16)) * 73244475L) & 0xffffffffL
      hsh = hsh ^ (hsh >>> 16)
      val g = (hsh % 256L).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      bos.toByteArray
    }
    buildAvi(w, h, nFrames, fps, frames)
  }

  /** A media-table projection: blob + decoded meta + features — the
    * canonical multimodal pipeline stage.
    */
  def mediaPipeline(df: DataFrame, sourceCol: String,
                    idCol: String): DataFrame = {
    val blob = asBlob(col(sourceCol))
    df.select(col(idCol),
      blob.as("bytes"),
      byteLength(blob).as("n_bytes"),
      sha256Hex(blob).as("sha256"),
      headHex(blob).as("head_hex"),
      imageMeta(blob).as("meta"),
      byteHistogramFeatures(blob).as("features"))
  }
}
