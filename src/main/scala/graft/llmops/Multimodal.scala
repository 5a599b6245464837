package graft.llmops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2.11 ★): media as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The Spark-side plumbing — schema, partitioning, batch shape, typed
  * per-partition processing — is real and tested. The IMAGE decode is
  * real ([[decodeImage]] via the JDK's ImageIO; PNG/BMP/GIF need no
  * codec jars), so is WAV/PCM audio ([[decodeWav]] via the JDK's
  * `javax.sound.sampled`), and so is VIDEO container demux
  * ([[demuxAvi]]: a real RIFF chunk walker over MJPEG-in-AVI, frames
  * JPEG-decoded through ImageIO). For the perceptual codecs
  * (mp3/aac/opus) the CONTAINER layer is real too: [[parseMp3]]/
  * [[parseAdts]]/[[parseOpus]] walk the public frame-header/page
  * formats (sync scan, header arithmetic, Ogg CRC verified) and
  * recover duration/rate/channels/frame-count without decoding a
  * sample. Only the perceptual PAYLOAD decode remains stubbed
  * ([[decodeStub]]) — that genuinely needs codec jars this container
  * lacks; a real codec drops into the same per-partition batch shape
  * with an identical execution plan.
  */
object Multimodal {

  final case class MediaBlob(
      doc_id: Long,
      blob: Array[Byte],
      mime_type: String)

  final case class MediaFeatures(
      doc_id: Long,
      byte_len: Int,
      digest: String,
      width: Int,
      height: Int,
      mean_byte: Double)

  /** Wrap a text corpus as binary media rows — stands in for reading
    * image/audio bytes; demonstrates the opaque-binary column pattern. */
  def asBlobs(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      encode(col(textCol), "UTF-8").as("blob"),
      lit("application/octet-stream").as("mime_type"))

  /** Render each text row as a REAL tiny PNG (deterministic dimensions
    * and pixels derived from the UTF-8 bytes) — produces genuine image
    * blobs the decode path must actually parse. Encoding runs
    * per-partition on executors through the JDK's ImageIO (PNG needs no
    * codec jars). */
  def asPngBlobs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, encodePng(text)) })
      .toDF("doc_id", "blob")
      .withColumn("mime_type", lit("image/png"))
  }

  /** Deterministic PNG render: dimensions from the byte length, RGB
    * pixels cycling through the text bytes. Real ImageIO encode. */
  def encodePng(text: String): Array[Byte] = {
    val bytes = text.getBytes("UTF-8")
    val n = math.max(1, bytes.length)
    val w = 8 + (bytes.length % 24)
    val h = 8 + ((bytes.length * 7) % 24)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = if (bytes.isEmpty) 0 else bytes(i % n) & 0xff
        val g = if (bytes.isEmpty) 0 else bytes((i + 1) % n) & 0xff
        val b = if (bytes.isEmpty) 0 else bytes((i + 2) % n) & 0xff
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        i += 3
        x += 1
      }
      y += 1
    }
    javax.imageio.ImageIO.setUseCache(false) // in-memory, no temp files
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode (JDK ImageIO — PNG/BMP/GIF need no codec jars):
    * genuine pixel dimensions plus the mean over all RGB channel values.
    * This is the production path for image-typed blobs; audio decodes
    * via [[decodeAudio]] (PCM + G.711) and video demuxes via
    * [[demuxAvi]] — only perceptual codecs (mp3/aac/h264) remain out of
    * scope for a codec-jar-free JVM. */
  def decodeImage(blob: Array[Byte]): (Int, Int, Double) = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    require(img != null, "undecodable image blob")
    val w = img.getWidth
    val h = img.getHeight
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
    (w, h, sum.toDouble / (w.toLong * h * 3))
  }

  /** ===== STUB ===== deterministic fake decode: derives "image"
    * dimensions and a byte-mean "signal" from the blob alone. A real
    * implementation would decode pixels/samples here; everything around
    * it (batching, schema, distribution) is production-shaped. */
  def decodeStub(blob: Array[Byte]): (Int, Int, Double) = {
    val w = 64 + (blob.length % 577)
    val h = 64 + ((blob.length * 31) % 577)
    val mean = if (blob.isEmpty) 0.0
      else blob.foldLeft(0L)((acc, b) => acc + (b & 0xff)).toDouble / blob.length
    (w, h, mean)
  }

  final case class AudioFeatures(
      doc_id: Long,
      sample_rate: Int,
      channels: Int,
      n_frames: Int,
      rms: Double)

  /** Deterministic square-wave PCM16 mono WAV encode through the JDK's
    * `javax.sound.sampled` (WAV/PCM needs no codec jars — the same move
    * that made image decode real via ImageIO). Every sample is exactly
    * ±amp, so the decoded RMS equals amp exactly — an
    * independently-computable oracle property; frame count and amplitude
    * are deterministic functions of the doc id. */
  def encodeWav(docId: Long): Array[Byte] = {
    val sr = 8000
    val frames = 400 + math.floorMod(docId, 97L).toInt * 8
    val amp = 1000 + math.floorMod(docId, 29L).toInt * 500
    val pcm = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val v = if ((i / 4) % 2 == 0) amp else -amp
      pcm(2 * i) = (v & 0xff).toByte // little-endian PCM16
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL WAV decode (JDK `javax.sound.sampled.AudioSystem`): parse the
    * RIFF container, report (sampleRate, channels, frames, RMS amplitude)
    * over the PCM16 sample stream. Only COMPRESSED audio (mp3/aac/opus)
    * and video container demux remain stubbed — those genuinely need
    * codec jars this container lacks. */
  def decodeWav(blob: Array[Byte]): (Int, Int, Int, Double) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(blob))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"expected little-endian PCM16, got $fmt")
      val bytes = ais.readAllBytes()
      val samples = bytes.length / 2
      var sumSq = 0.0
      var i = 0
      while (i + 1 < bytes.length) {
        val v = (((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort).toDouble
        sumSq += v * v
        i += 2
      }
      val frames = samples / fmt.getChannels
      (fmt.getSampleRate.toInt, fmt.getChannels, frames,
        if (samples == 0) 0.0 else math.sqrt(sumSq / samples))
    } finally ais.close()
  }

  /** Transcode a PCM16 WAV into G.711 μ-law or A-law — the JDK's sound
    * API ships REAL G.711 codecs (`AudioFormat.Encoding.ULAW/ALAW`), so
    * compressed telephony audio round-trips with no codec jars. Output
    * is a WAVE container with the compressed (8-bit) stream. */
  def transcodeG711(wav: Array[Byte], aLaw: Boolean): Array[Byte] = {
    import javax.sound.sampled._
    val src = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    try {
      val f = src.getFormat
      val enc = if (aLaw) AudioFormat.Encoding.ALAW else AudioFormat.Encoding.ULAW
      val target = new AudioFormat(enc, f.getSampleRate, 8, f.getChannels,
        f.getChannels, f.getSampleRate, false)
      val conv = AudioSystem.getAudioInputStream(target, src)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(conv, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    } finally src.close()
  }

  /** REAL audio decode with G.711 support: parse the container, and if
    * the stream is compressed (μ-law/A-law), expand it to PCM16 through
    * the JDK codec before computing features. Returns
    * (codec, sampleRate, channels, frames, rms). Only true perceptual
    * codecs (mp3/aac/opus) remain out of reach without codec jars. */
  def decodeAudio(blob: Array[Byte]): (String, Int, Int, Int, Double) = {
    import javax.sound.sampled._
    val ais0 = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(blob))
    val codec = ais0.getFormat.getEncoding.toString
    val ais =
      if (ais0.getFormat.getEncoding == AudioFormat.Encoding.PCM_SIGNED) ais0
      else {
        val f = ais0.getFormat
        AudioSystem.getAudioInputStream(
          new AudioFormat(f.getSampleRate, 16, f.getChannels, true, false),
          ais0)
      }
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
        s"expected little-endian PCM16 after expansion, got $fmt")
      val bytes = ais.readAllBytes()
      val samples = bytes.length / 2
      var sumSq = 0.0
      var i = 0
      while (i + 1 < bytes.length) {
        val v = (((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort).toDouble
        sumSq += v * v
        i += 2
      }
      val frames = samples / fmt.getChannels
      (codec, fmt.getSampleRate.toInt, fmt.getChannels, frames,
        if (samples == 0) 0.0 else math.sqrt(sumSq / samples))
    } finally ais.close()
  }

  private def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(b).map("%02x".format(_)).mkString

  /** Per-partition batch feature extraction over binary blobs — the Scala
    * analogue of a `mapInPandas` media pipeline: one iterator per
    * partition, arbitrary native work per batch, typed output Encoder.
    * image-typed blobs go through the REAL ImageIO decode
    * ([[decodeImage]]); AVI video goes through the REAL RIFF demux
    * ([[demuxAvi]], features of the first frame); other mime types
    * (compressed codecs) fall back to the deterministic stub. */
  def extractFeatures(blobs: DataFrame): Dataset[MediaFeatures] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("blob"), col("mime_type")).as[MediaBlob]
      .mapPartitions { it =>
        it.map { m =>
          val (w, h, mean) =
            if (m.mime_type.startsWith("image/")) decodeImage(m.blob)
            else if (m.mime_type == "video/avi" ||
                m.mime_type == "video/x-msvideo")
              decodeImage(demuxAvi(m.blob).head)
            else decodeStub(m.blob)
          MediaFeatures(m.doc_id, m.blob.length, sha256Hex(m.blob), w, h,
            math.rint(mean * 10000) / 10000)
        }
      }
  }

  /** End-to-end: corpus → blobs → per-partition decode (stubbed) →
    * feature table, repartitioned for balanced media batches. */
  def mediaFeatures(docs: DataFrame, partitions: Int = 0): DataFrame = {
    val blobs0 = asBlobs(docs)
    val blobs = if (partitions > 0) blobs0.repartition(partitions) else blobs0
    extractFeatures(blobs).toDF()
  }

  /** Ingest raw media files as opaque binary rows via Spark's built-in
    * `binaryFile` source — the on-ramp for image/audio/video corpora:
    * distributed listing and reads, pushdown-capable `pathGlobFilter`,
    * no driver materialization. Output matches [[asBlobs]]'s shape so
    * the whole feature/sampling pipeline composes unchanged. */
  def readMediaDir(spark: SparkSession, glob: String,
      mimeType: String = "application/octet-stream"): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        col("length").cast("long").as("byte_len"),
        col("content").as("blob"),
        lit(mimeType).as("mime_type"))

  // ===== real video container demux (MJPEG-in-AVI, pure JVM) =====

  /** Deterministic frame count / per-frame dimensions for the synthetic
    * AVI corpus — pure integer functions of (doc_id, frame_idx) so a SQL
    * oracle can verify the WHOLE encode → RIFF demux → JPEG decode chain
    * independently: the decoded dimensions match these formulas iff
    * every container/codec step was parsed correctly. */
  def aviFrameCount(docId: Long): Int = 6 + math.floorMod(docId, 7L).toInt
  def aviFrameWidth(docId: Long, idx: Int): Int =
    16 + 8 * math.floorMod(docId + idx, 6L).toInt
  def aviFrameHeight(docId: Long, idx: Int): Int =
    16 + 8 * math.floorMod(3 * docId + idx, 5L).toInt

  private def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  /** Bounded per-JVM memo of solid-color JPEG frames keyed on exact pixel
    * content (w, h, rgb): identical inputs encode to identical bytes, and
    * the synthetic corpus recycles a few thousand distinct frames across
    * hundreds of thousands of containers — ImageIO encoder setup per
    * frame was the dominant cost of the AVI fixture builder (l23). Cap
    * bounds executor memory (~1 KB/frame); past it, encode directly. */
  private val solidJpegCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Byte]]()
  private val SolidJpegCacheMax = 16384

  private def solidJpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val cached = solidJpegCache.get((w, h, rgb))
    if (cached != null) return cached
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb))
    g.fillRect(0, 0, w, h)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val bytes = bos.toByteArray
    if (solidJpegCache.size < SolidJpegCacheMax)
      solidJpegCache.putIfAbsent((w, h, rgb), bytes)
    bytes
  }

  /** Encode a REAL MJPEG-in-AVI container: RIFF('AVI ') with a
    * spec-shaped hdrl (avih + strl/strh/strf) and a movi list of one
    * '00dc' chunk per frame, each a genuine JPEG (JDK ImageIO encoder —
    * no codec jars). Frames are solid-color with per-frame dimensions
    * from [[aviFrameWidth]]/[[aviFrameHeight]]. */
  def encodeAvi(docId: Long): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val n = aviFrameCount(docId)
    val frames = (0 until n).map { i =>
      val w = aviFrameWidth(docId, i)
      val h = aviFrameHeight(docId, i)
      val rgb = (((docId * 37 + i * 11) % 200 + 28).toInt << 16) |
        (((docId * 17 + i * 7) % 200 + 28).toInt << 8) |
        ((docId * 29 + i * 13) % 200 + 28).toInt
      solidJpeg(w, h, rgb)
    }
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
      fcc(id) ++ le32(body.length) ++ padded
    }
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fcc(typ) ++ body)
    val w0 = aviFrameWidth(docId, 0)
    val h0 = aviFrameHeight(docId, 0)
    val avih = chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(n) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w0) ++ le32(h0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val strh = chunk("strh", fcc("vids") ++ fcc("MJPG") ++ le32(0) ++
      le32(0) ++ le32(0) ++ le32(1) ++ le32(25) ++ le32(0) ++ le32(n) ++
      le32(0) ++ le32(-1) ++ le32(0) ++ le32(0) ++ le32(0))
    val strf = chunk("strf", le32(40) ++ le32(w0) ++ le32(h0) ++
      Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++ fcc("MJPG") ++
      le32(w0 * h0 * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi",
      frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val body = fcc("AVI ") ++ hdrl ++ movi
    fcc("RIFF") ++ le32(body.length) ++ body
  }

  /** REAL RIFF/AVI demux: walk the chunk tree (chunks are fcc + LE32
    * size + even-padded payload; LISTs nest), find the 'movi' list, and
    * return every video-frame chunk payload ('##dc'/'##db', including
    * frames nested in 'rec ' lists) in stream order. Works on any
    * MJPEG AVI, not just [[encodeAvi]]'s output. */
  def demuxAvi(blob: Array[Byte]): Seq[Array[Byte]] = {
    require(blob.length >= 12 &&
      new String(blob, 0, 4, "US-ASCII") == "RIFF" &&
      new String(blob, 8, 4, "US-ASCII") == "AVI ", "not a RIFF/AVI blob")
    def u32(off: Int): Int =
      (blob(off) & 0xff) | ((blob(off + 1) & 0xff) << 8) |
        ((blob(off + 2) & 0xff) << 16) | ((blob(off + 3) & 0xff) << 24)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def isFrame(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        (id.substring(2) == "dc" || id.substring(2) == "db")
    def walk(from: Int, until: Int, inMovi: Boolean): Unit = {
      var off = from
      while (off + 8 <= until) {
        val id = new String(blob, off, 4, "US-ASCII")
        val sz = u32(off + 4)
        val dataOff = off + 8
        // a corrupt/adversarial size field must FAIL, not wedge: sz < 0
        // (signed wrap) would stop the offset advancing — an infinite
        // loop on the executor — and sz past the enclosing chunk would
        // fabricate zero-padded frames from copyOfRange's padding
        require(sz >= 0 && dataOff + sz.toLong <= until,
          s"corrupt AVI: chunk '$id' at offset $off declares size $sz " +
            s"beyond its enclosing boundary $until")
        if (id == "LIST" && sz >= 4) {
          val listType = new String(blob, dataOff, 4, "US-ASCII")
          walk(dataOff + 4, dataOff + sz,
            inMovi || listType == "movi" || listType == "rec ")
        } else if (inMovi && isFrame(id)) {
          out += java.util.Arrays.copyOfRange(blob, dataOff, dataOff + sz)
        }
        off = dataOff + sz + (sz & 1) // chunks pad to even
      }
    }
    // the RIFF header's size field is untrusted too: read it unsigned
    // and clamp to the actual blob so a lying header can't push `until`
    // past the array (or negative)
    walk(12, math.min(8L + (u32(4) & 0xFFFFFFFFL), blob.length.toLong).toInt,
      inMovi = false)
    out.toSeq
  }

  /** Wrap a corpus as real MJPEG-AVI video blobs (one deterministic
    * container per doc via [[encodeAvi]]). */
  def asAviBlobs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, encodeAvi(id))))
      .toDF("doc_id", "blob")
      .withColumn("mime_type", lit("video/avi"))
  }

  final case class VideoFrame(
      doc_id: Long,
      frame_idx: Int,
      n_frames: Int,
      width: Int,
      height: Int)

  /** Uniform frame sampling with a REAL demux + decode: RIFF-walk the
    * AVI ([[demuxAvi]]), pick `k` uniformly spaced frame indices, JPEG-
    * decode ONLY the sampled frames (ImageIO), and report their genuine
    * pixel dimensions — the l23 oracle recomputes frame count and
    * dimensions from (doc_id, frame_idx) alone, so a hash match proves
    * the whole encode → demux → decode chain. Same bounded per-partition
    * fan-out (k rows per media row) as the feature path. */
  // ===== Perceptual-format CONTAINER metadata: parse WITHOUT decode =====
  //
  // mp3/aac/opus PAYLOAD decode genuinely needs codec jars this
  // container lacks — but the container/frame-header layer is public
  // bit-level spec (ISO 11172-3 frame headers, ISO 14496-3 ADTS,
  // RFC 3533 Ogg + RFC 7845 Ogg-Opus) and carries exactly the metadata
  // a data pipeline wants (duration, sample rate, channels, frame
  // count) — the same demux-without-decode move as [[demuxAvi]].
  // Encoders build spec-exact fixtures with silent payloads; parsers
  // are real walkers (sync-word scan, header arithmetic, Ogg CRC32
  // verified) that work on any conformant file.

  /** MPEG-1 Layer III nominal bitrates (kbps) by header index. */
  private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** Deterministic MP3 fixture: MPEG-1 Layer III frames, header-exact
    * (sync/bitrate/rate/padding/mode bits), zeroed payloads. */
  def encodeMp3(docId: Long): Array[Byte] = {
    val brIdx = 1 + math.floorMod(docId, 14L).toInt
    val srIdx = math.floorMod(docId, 3L).toInt
    val nFrames = 10 + math.floorMod(docId, 50L).toInt
    val mono = docId % 2 == 1
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < nFrames) {
      val pad = if ((docId + i) % 2 == 0) 1 else 0
      val size = 144000 * Mp3Bitrates(brIdx) / Mp3Rates(srIdx) + pad
      val frame = new Array[Byte](size)
      frame(0) = 0xFF.toByte
      frame(1) = 0xFB.toByte // MPEG-1, Layer III, no CRC
      frame(2) = ((brIdx << 4) | (srIdx << 2) | (pad << 1)).toByte
      frame(3) = (if (mono) 0xC0 else 0x00).toByte // channel mode bits
      out.write(frame)
      i += 1
    }
    out.toByteArray
  }

  /** Walk MPEG-1 Layer III frames: (sampleRate, channels, frames,
    * durationUs, bytes). Throws on a broken sync or truncated frame. */
  def parseMp3(blob: Array[Byte]): (Int, Int, Int, Long, Long) = {
    var pos = 0
    var frames = 0
    var sr = 0
    var ch = 0
    while (pos + 4 <= blob.length) {
      require((blob(pos) & 0xFF) == 0xFF && (blob(pos + 1) & 0xE0) == 0xE0,
        s"mp3: lost sync at $pos")
      require(((blob(pos + 1) >> 3) & 3) == 3 && ((blob(pos + 1) >> 1) & 3) == 1,
        s"mp3: not MPEG-1 Layer III at $pos")
      val brIdx = (blob(pos + 2) >> 4) & 0xF
      val srIdx = (blob(pos + 2) >> 2) & 0x3
      val pad = (blob(pos + 2) >> 1) & 0x1
      require(brIdx >= 1 && brIdx <= 14 && srIdx <= 2,
        s"mp3: reserved bitrate/rate index at $pos")
      sr = Mp3Rates(srIdx)
      ch = if (((blob(pos + 3) >> 6) & 3) == 3) 1 else 2
      val size = 144000 * Mp3Bitrates(brIdx) / sr + pad
      require(pos + size <= blob.length, s"mp3: truncated frame at $pos")
      pos += size
      frames += 1
    }
    require(pos == blob.length, "mp3: trailing garbage")
    // an empty blob passes every per-frame require vacuously (the loop
    // never runs) — without this the duration math below throws
    // ArithmeticException (sr = 0) instead of the corrupt-input contract
    require(frames > 0, "mp3: no frames")
    (sr, ch, frames, frames.toLong * 1152L * 1000000L / sr, blob.length.toLong)
  }

  /** ADTS sampling-frequency table (index 0-11). */
  private val AacRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000)

  /** Deterministic ADTS-AAC fixture: 7-byte headers (AAC-LC profile,
    * 13-bit frame length), zeroed payloads. */
  def encodeAdts(docId: Long): Array[Byte] = {
    val sfi = 3 + math.floorMod(docId, 9L).toInt // 48000 .. 8000
    val chan = 1 + math.floorMod(docId, 2L).toInt
    val nFrames = 8 + math.floorMod(docId, 40L).toInt
    val payload = 50 + math.floorMod(docId, 100L).toInt
    val frameLen = 7 + payload
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < nFrames) {
      val f = new Array[Byte](frameLen)
      f(0) = 0xFF.toByte
      f(1) = 0xF1.toByte // MPEG-4, layer 00, no CRC
      f(2) = ((1 << 6) | (sfi << 2) | ((chan >> 2) & 1)).toByte // AAC-LC
      f(3) = (((chan & 3) << 6) | ((frameLen >> 11) & 3)).toByte
      f(4) = ((frameLen >> 3) & 0xFF).toByte
      f(5) = (((frameLen & 7) << 5) | 0x1F).toByte
      f(6) = 0xFC.toByte
      out.write(f)
      i += 1
    }
    out.toByteArray
  }

  /** Walk ADTS frames: (sampleRate, channels, frames, durationUs,
    * bytes). 1024 samples per AAC frame. */
  def parseAdts(blob: Array[Byte]): (Int, Int, Int, Long, Long) = {
    var pos = 0
    var frames = 0
    var sr = 0
    var ch = 0
    while (pos + 7 <= blob.length) {
      require((blob(pos) & 0xFF) == 0xFF && (blob(pos + 1) & 0xF0) == 0xF0,
        s"adts: lost sync at $pos")
      val sfi = (blob(pos + 2) >> 2) & 0xF
      require(sfi < AacRates.length, s"adts: reserved rate index at $pos")
      sr = AacRates(sfi)
      ch = (((blob(pos + 2) & 1) << 2) | ((blob(pos + 3) >> 6) & 3))
      val frameLen = ((blob(pos + 3) & 3) << 11) |
        ((blob(pos + 4) & 0xFF) << 3) | ((blob(pos + 5) >> 5) & 7)
      require(frameLen >= 7 && pos + frameLen <= blob.length,
        s"adts: bad frame length $frameLen at $pos")
      pos += frameLen
      frames += 1
    }
    require(pos == blob.length, "adts: trailing garbage")
    require(frames > 0, "adts: no frames") // see parseMp3
    (sr, ch, frames, frames.toLong * 1024L * 1000000L / sr, blob.length.toLong)
  }

  /** Ogg page CRC (RFC 3533: poly 0x04C11DB7, non-reflected, init 0). */
  private val OggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04C11DB7 else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private def oggCrc(bytes: Array[Byte]): Int = {
    var crc = 0
    var i = 0
    while (i < bytes.length) {
      crc = (crc << 8) ^ OggCrcTable(((crc >>> 24) ^ (bytes(i) & 0xFF)) & 0xFF)
      i += 1
    }
    crc
  }

  private def oggPage(headerType: Int, granule: Long, serial: Int,
      seq: Int, packet: Array[Byte]): Array[Byte] = {
    require(packet.length < 255, "single-segment fixture pages only")
    val page = new Array[Byte](27 + 1 + packet.length)
    "OggS".getBytes.copyToArray(page, 0)
    page(4) = 0 // version
    page(5) = headerType.toByte
    var g = granule
    var i = 0
    while (i < 8) { page(6 + i) = (g & 0xFF).toByte; g >>>= 8; i += 1 }
    var s = serial
    i = 0
    while (i < 4) { page(14 + i) = (s & 0xFF).toByte; s >>>= 8; i += 1 }
    var q = seq
    i = 0
    while (i < 4) { page(18 + i) = (q & 0xFF).toByte; q >>>= 8; i += 1 }
    // CRC (22-25) zeroed for the computation
    page(26) = 1 // one segment
    page(27) = packet.length.toByte
    packet.copyToArray(page, 28)
    var c = oggCrc(page)
    i = 0
    while (i < 4) { page(22 + i) = (c & 0xFF).toByte; c >>>= 8; i += 1 }
    page
  }

  /** Opus pre-skip used by the fixtures (RFC 7845 recommends 3840 =
    * 80 ms; any value round-trips, the parser subtracts what it reads). */
  val OpusPreSkip: Int = 312

  /** Deterministic Ogg-Opus fixture: BOS OpusHead page, OpusTags page,
    * N single-packet audio pages (20 ms = 960 samples at 48 kHz each),
    * EOS on the last; granule positions and CRCs spec-exact. */
  def encodeOpus(docId: Long): Array[Byte] = {
    val chan = 1 + math.floorMod(docId, 2L).toInt
    val nAudio = 2 + math.floorMod(docId, 20L).toInt
    val pktLen = 20 + math.floorMod(docId, 50L).toInt
    val serial = (docId & 0x7FFFFFFF).toInt
    val head = new Array[Byte](19)
    "OpusHead".getBytes.copyToArray(head, 0)
    head(8) = 1 // version
    head(9) = chan.toByte
    head(10) = (OpusPreSkip & 0xFF).toByte
    head(11) = ((OpusPreSkip >> 8) & 0xFF).toByte
    // input sample rate LE32 = 48000 (informational per RFC 7845)
    head(12) = (48000 & 0xFF).toByte
    head(13) = ((48000 >> 8) & 0xFF).toByte
    val tags = new Array[Byte](16) // "OpusTags" + 0-len vendor + 0 count
    "OpusTags".getBytes.copyToArray(tags, 0)
    val out = new java.io.ByteArrayOutputStream()
    out.write(oggPage(0x02, 0L, serial, 0, head)) // BOS
    out.write(oggPage(0x00, 0L, serial, 1, tags))
    var i = 0
    while (i < nAudio) {
      val granule = OpusPreSkip.toLong + 960L * (i + 1)
      val eos = if (i == nAudio - 1) 0x04 else 0x00
      out.write(oggPage(eos, granule, serial, 2 + i, new Array[Byte](pktLen)))
      i += 1
    }
    out.toByteArray
  }

  /** Walk Ogg pages (magic + CRC verified per RFC 3533), read OpusHead
    * from the BOS page and the final granule: (sampleRate=48000,
    * channels, audioPackets, durationUs, bytes). */
  def parseOpus(blob: Array[Byte]): (Int, Int, Int, Long, Long) = {
    var pos = 0
    var chan = 0
    var preSkip = 0
    var lastGranule = 0L
    var audioPackets = 0
    var sawBos = false
    var sawEos = false
    while (pos + 27 <= blob.length) {
      require(blob(pos) == 'O' && blob(pos + 1) == 'g' &&
        blob(pos + 2) == 'g' && blob(pos + 3) == 'S',
        s"ogg: bad capture pattern at $pos")
      val headerType = blob(pos + 5) & 0xFF
      var granule = 0L
      var i = 7
      while (i >= 0) { granule = (granule << 8) | (blob(pos + 6 + i) & 0xFF); i -= 1 }
      val nSegs = blob(pos + 26) & 0xFF
      var bodyLen = 0
      i = 0
      while (i < nSegs) { bodyLen += blob(pos + 27 + i) & 0xFF; i += 1 }
      val pageLen = 27 + nSegs + bodyLen
      require(pos + pageLen <= blob.length, s"ogg: truncated page at $pos")
      // CRC check: recompute with the CRC field zeroed
      val copy = java.util.Arrays.copyOfRange(blob, pos, pos + pageLen)
      val stored = ((copy(22) & 0xFF)) | ((copy(23) & 0xFF) << 8) |
        ((copy(24) & 0xFF) << 16) | ((copy(25) & 0xFF) << 24)
      copy(22) = 0; copy(23) = 0; copy(24) = 0; copy(25) = 0
      require(oggCrc(copy) == stored, s"ogg: CRC mismatch at $pos")
      val body = java.util.Arrays.copyOfRange(blob, pos + 27 + nSegs,
        pos + pageLen)
      if ((headerType & 0x02) != 0) {
        sawBos = true
        require(body.length >= 19 &&
          new String(body, 0, 8, "ISO-8859-1") == "OpusHead",
          "ogg: BOS page is not OpusHead")
        chan = body(9) & 0xFF
        preSkip = (body(10) & 0xFF) | ((body(11) & 0xFF) << 8)
      } else if (body.length >= 8 &&
          new String(body, 0, 8, "ISO-8859-1") == "OpusTags") {
        // comment header: no audio
      } else {
        audioPackets += 1
        lastGranule = granule
      }
      if ((headerType & 0x04) != 0) sawEos = true
      pos += pageLen
    }
    require(pos == blob.length && sawBos && sawEos, "ogg: malformed stream")
    val samples = math.max(0L, lastGranule - preSkip)
    (48000, chan, audioPackets, samples * 1000000L / 48000L,
      blob.length.toLong)
  }

  // ===== MP4 / ISO-BMFF (ISO 14496-12) container metadata =====
  //
  // The video edition of the demux-without-decode move: a crawl corpus
  // is full of MP4s, and the box tree alone carries duration, track
  // count, codec fourcc, and sample counts — no codec jar needed.
  // encodeMp4 builds a spec-exact box tree (ftyp/moov/mvhd/trak/tkhd/
  // mdia/mdhd/hdlr/minf/stbl/stsd/stts/stsc/stsz/stco + mdat) with
  // deterministic parameters; parseMp4 is a real recursive box walker
  // (32-bit sizes, bounds-checked at every level) that works on any
  // conformant file. The stsd sample entries carry no codec CONFIG
  // record (avcC/esds) — payload decode is the honest stub; the box
  // STRUCTURE is spec-exact.

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def box(fourcc: String, body: Array[Byte]*): Array[Byte] = {
    val payload = body.flatten.toArray
    be32(8L + payload.length) ++ fourcc.getBytes("US-ASCII") ++ payload
  }
  private def fullBox(fourcc: String, version: Int,
      body: Array[Byte]*): Array[Byte] =
    box(fourcc, Array[Byte](version.toByte, 0, 0, 0) +: body: _*)

  /** Movie timescale of the fixtures (ms units) and the two media
    * timescales (29.97 fps video, 48 kHz AAC audio). */
  val Mp4MovieTimescale = 1000
  val Mp4VideoTimescale = 30000
  val Mp4AudioTimescale = 48000

  /** Deterministic ISO-BMFF fixture: avc1 video track (5 + id%60 frames
    * of 1001/30000 s each, constant sample size 20 + id%80) plus, for
    * even ids, an mp4a audio track (40 + id%100 AAC frames of 1024
    * samples at 48 kHz, constant size 10 + id%30). */
  def encodeMp4(docId: Long): Array[Byte] = {
    val vFrames = 5 + math.floorMod(docId, 60L).toInt
    val vSize = 20 + math.floorMod(docId, 80L).toInt
    val hasAudio = docId % 2 == 0
    val aSamples = 40 + math.floorMod(docId, 100L).toInt
    val aSize = 10 + math.floorMod(docId, 30L).toInt
    val vDurMs = vFrames.toLong * 1001L * Mp4MovieTimescale / Mp4VideoTimescale
    val aDurMs =
      if (hasAudio) aSamples.toLong * 1024L * Mp4MovieTimescale / Mp4AudioTimescale
      else 0L
    val movieDurMs = math.max(vDurMs, aDurMs)

    val ftyp = box("ftyp", "isom".getBytes, be32(512),
      "isom".getBytes, "mp42".getBytes)
    def mvhd = fullBox("mvhd", 0,
      be32(0), be32(0), // creation, modification
      be32(Mp4MovieTimescale), be32(movieDurMs),
      be32(0x00010000), // rate 1.0
      be16(0x0100), be16(0), // volume, reserved
      new Array[Byte](8), // reserved
      // unity matrix
      be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000),
      be32(0), be32(0), be32(0), be32(0x40000000),
      new Array[Byte](24), // pre_defined
      be32(3)) // next_track_ID
    def tkhd(trackId: Int, durMs: Long, w: Int, h: Int) = fullBox("tkhd", 0,
      be32(0), be32(0), be32(trackId), be32(0), be32(durMs),
      new Array[Byte](8), be16(0), be16(0), be16(0), be16(0),
      be32(0x00010000), be32(0), be32(0), be32(0), be32(0x00010000),
      be32(0), be32(0), be32(0), be32(0x40000000),
      be32(w.toLong << 16), be32(h.toLong << 16))
    def mdhd(timescale: Int, dur: Long) = fullBox("mdhd", 0,
      be32(0), be32(0), be32(timescale), be32(dur),
      be16(0x55C4), be16(0)) // language "und", pre_defined
    def hdlr(handler: String) = fullBox("hdlr", 0,
      be32(0), handler.getBytes("US-ASCII"),
      new Array[Byte](12), Array[Byte](0)) // reserved + empty name
    def dinf = box("dinf", fullBox("dref", 0, be32(1),
      fullBox("url ", 0) // self-contained: flags SHOULD be 1; walker-neutral
        .patch(11, Array[Byte](1), 1))) // set flag bit (self-contained)
    def stts(count: Int, delta: Int) =
      fullBox("stts", 0, be32(1), be32(count), be32(delta))
    def stsc = fullBox("stsc", 0, be32(1), be32(1), be32(1), be32(1))
    def stsz(size: Int, count: Int) =
      fullBox("stsz", 0, be32(size), be32(count))
    def stco(offset: Long) = fullBox("stco", 0, be32(1), be32(offset))
    def avc1 = box("avc1",
      new Array[Byte](6), be16(1), // reserved, data_reference_index
      be16(0), be16(0), new Array[Byte](12), // pre/res/pre_defined
      be16(320), be16(240), // width, height
      be32(0x00480000), be32(0x00480000), // 72 dpi
      be32(0), be16(1), // reserved, frame_count
      new Array[Byte](32), // compressorname
      be16(0x0018), be16(0xFFFF)) // depth, pre_defined = -1
    def mp4a = box("mp4a",
      new Array[Byte](6), be16(1),
      new Array[Byte](8), // reserved
      be16(2), be16(16), be16(0), be16(0), // channels, samplesize, pre, res
      be32(Mp4AudioTimescale.toLong << 16)) // samplerate 16.16
    def stsd(entry: Array[Byte]) = fullBox("stsd", 0, be32(1), entry)
    def stbl(entry: Array[Byte], sCount: Int, sDelta: Int, sSize: Int,
        chunkOff: Long) =
      box("stbl", stsd(entry), stts(sCount, sDelta), stsc,
        stsz(sSize, sCount), stco(chunkOff))
    def vmhd = fullBox("vmhd", 0, be16(0), be16(0), be16(0), be16(0))
      .patch(11, Array[Byte](1), 1) // flags = 1 per spec
    def smhd = fullBox("smhd", 0, be16(0), be16(0))

    // chunk offsets: mdat payload starts right after ftyp + moov + the
    // 8-byte mdat header; video chunk first, audio chunk after it
    val trakVLen = 8 + tkhd(1, 0, 0, 0).length + (8 + mdhd(0, 0).length +
      hdlr("vide").length + (8 + vmhd.length + dinf.length +
        stbl(avc1, 1, 1, 1, 0).length))
    val trakALen =
      if (!hasAudio) 0
      else 8 + tkhd(2, 0, 0, 0).length + (8 + mdhd(0, 0).length +
        hdlr("soun").length + (8 + smhd.length + dinf.length +
          stbl(mp4a, 1, 1, 1, 0).length))
    val moovLen = 8 + mvhd.length + trakVLen + trakALen
    val vChunkOff = ftyp.length.toLong + moovLen + 8
    val aChunkOff = vChunkOff + vFrames.toLong * vSize

    def trak(entry: Array[Byte], trackId: Int, durMs: Long, handler: String,
        mediaHeader: Array[Byte], timescale: Int, mediaDur: Long,
        sCount: Int, sDelta: Int, sSize: Int, chunkOff: Long,
        w: Int, h: Int) =
      box("trak", tkhd(trackId, durMs, w, h),
        box("mdia", mdhd(timescale, mediaDur), hdlr(handler),
          box("minf", mediaHeader, dinf,
            stbl(entry, sCount, sDelta, sSize, chunkOff))))

    val trakV = trak(avc1, 1, vDurMs, "vide", vmhd, Mp4VideoTimescale,
      vFrames.toLong * 1001L, vFrames, 1001, vSize, vChunkOff, 320, 240)
    val trakA =
      if (!hasAudio) Array.emptyByteArray
      else trak(mp4a, 2, aDurMs, "soun", smhd, Mp4AudioTimescale,
        aSamples.toLong * 1024L, aSamples, 1024, aSize, aChunkOff, 0, 0)
    val moov = box("moov", mvhd, trakV, trakA)
    require(moov.length == moovLen, s"moov size arithmetic drift: " +
      s"${moov.length} vs $moovLen")
    val mdat = box("mdat",
      new Array[Byte](vFrames * vSize),
      if (hasAudio) new Array[Byte](aSamples * aSize) else Array.emptyByteArray)
    ftyp ++ moov ++ mdat
  }

  /** Per-track metadata recovered by [[parseMp4]]. */
  final case class Mp4Track(codec: String, samples: Long)

  /** Walk an ISO-BMFF box tree: (durationUs from mvhd, tracks in file
    * order with stsd codec fourcc + stsz sample count, totalBytes).
    * Bounds-checked at every level — a corrupt size field fails loudly,
    * never wedges or fabricates. Works on any conformant unfragmented
    * MP4: 32-bit and 64-bit (`size == 1` largesize) boxes, mvhd
    * versions 0 and 1, size-0 run-to-end boxes. */
  def parseMp4(blob: Array[Byte]): (Long, Seq[Mp4Track], Long) = {
    def u32(off: Int): Long =
      ((blob(off) & 0xFFL) << 24) | ((blob(off + 1) & 0xFFL) << 16) |
        ((blob(off + 2) & 0xFFL) << 8) | (blob(off + 3) & 0xFFL)
    def u64(off: Int): Long = (u32(off) << 32) | u32(off + 4)
    var mvhdTimescale = 0L
    var mvhdDuration = -1L
    val tracks = scala.collection.mutable.ArrayBuffer.empty[Mp4Track]
    val trackIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var curCodec: String = null
    var curSamples = 0L
    var curTrackId = -1L
    // fragmented-MP4 state: sample counts arriving in moof/traf/trun
    // boxes AFTER the moov, keyed by tfhd track_ID; mehd carries the
    // whole-movie duration (fMP4 moov durations are commonly 0)
    var mehdDuration = -1L
    var fragTrack = -1L
    val fragSamples = scala.collection.mutable.Map.empty[Long, Long]
    def walk(from: Int, until: Int, depth: Int): Unit = {
      var off = from
      while (off < until) {
        require(off + 8 <= until,
          s"mp4: truncated box header at $off (container ends at $until)")
        val size32 = u32(off)
        val typ = new String(blob, off + 4, 4, "US-ASCII")
        // size == 1 → 64-bit largesize follows the type (boxes past
        // 4 GB — mdat in any real long-form video); size == 0 → box
        // extends to the end of its container
        val (size, hdr) =
          if (size32 == 1) {
            require(off + 16 <= until,
              s"mp4: truncated largesize header at $off")
            val s = u64(off + 8)
            require(s >= 0, s"mp4: largesize overflows signed 64-bit at $off")
            (s, 16)
          } else (size32, 8)
        require(size == 0 || (size >= hdr && off + size <= until),
          s"mp4: box '$typ' at $off declares size $size beyond its " +
            s"container boundary $until")
        val end = if (size == 0) until else off + size.toInt
        typ match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" | "mvex" |
              "moof" | "traf" =>
            if (typ == "trak") {
              curCodec = null; curSamples = 0L; curTrackId = -1L
            }
            if (typ == "traf") fragTrack = -1L
            walk(off + hdr, end, depth + 1)
            if (typ == "trak") {
              require(curCodec != null, "mp4: trak without stsd entry")
              tracks += Mp4Track(curCodec, curSamples)
              trackIds += curTrackId
            }
          case "mvhd" =>
            require(end - off >= hdr + 4 + 20, s"mp4: mvhd too short at $off")
            val version = blob(off + hdr) & 0xFF
            // v1 carries 64-bit creation/modification/duration (movies
            // past 2040 or past 2^32 timescale units)
            require(version <= 1, s"mp4: mvhd version $version unknown")
            if (version == 0) {
              mvhdTimescale = u32(off + hdr + 12)
              mvhdDuration = u32(off + hdr + 16)
            } else {
              require(end - off >= hdr + 4 + 28, s"mp4: mvhd v1 too short")
              mvhdTimescale = u32(off + hdr + 20)
              mvhdDuration = u64(off + hdr + 24)
              require(mvhdDuration >= 0, "mp4: mvhd v1 duration overflow")
            }
            require(mvhdTimescale > 0, "mp4: mvhd timescale must be > 0")
          case "stsd" =>
            require(end - off >= hdr + 8 + 8, s"mp4: stsd too short at $off")
            require(u32(off + hdr + 4) >= 1, "mp4: stsd with no entries")
            curCodec = new String(blob, off + hdr + 12, 4, "US-ASCII")
          case "stsz" =>
            require(end - off >= hdr + 12, s"mp4: stsz too short at $off")
            curSamples = u32(off + hdr + 8)
          case "tkhd" =>
            require(end - off >= hdr + 4 + 12, s"mp4: tkhd too short at $off")
            val v = blob(off + hdr) & 0xFF
            require(v <= 1, s"mp4: tkhd version $v unknown")
            // track_ID follows creation/modification (4+4 in v0, 8+8 in v1)
            curTrackId =
              if (v == 0) u32(off + hdr + 12) else u32(off + hdr + 20)
          case "mehd" =>
            require(end - off >= hdr + 8, s"mp4: mehd too short at $off")
            val v = blob(off + hdr) & 0xFF
            require(v <= 1, s"mp4: mehd version $v unknown")
            mehdDuration =
              if (v == 0) u32(off + hdr + 4)
              else { require(end - off >= hdr + 12, "mp4: mehd v1 too short")
                u64(off + hdr + 4) }
            require(mehdDuration >= 0, "mp4: mehd duration overflow")
          case "tfhd" =>
            require(end - off >= hdr + 8, s"mp4: tfhd too short at $off")
            fragTrack = u32(off + hdr + 4)
          case "trun" =>
            require(end - off >= hdr + 8, s"mp4: trun too short at $off")
            require(fragTrack >= 0, "mp4: trun before its traf's tfhd")
            fragSamples(fragTrack) =
              fragSamples.getOrElse(fragTrack, 0L) + u32(off + hdr + 4)
          case _ => () // leaf we don't need (ftyp, mdat, dinf, …)
        }
        off = end
      }
      require(off == until, s"mp4: box overrun at depth $depth")
    }
    walk(0, blob.length, 0)
    require(mvhdDuration >= 0, "mp4: no mvhd box")
    require(tracks.nonEmpty, "mp4: no trak boxes")
    // fragmented layout: moof/trun sample counts fold into their moov
    // track (by tfhd track_ID); mehd supplies the whole-movie duration
    // when the moov's mvhd says 0
    val withFrags = tracks.toSeq.zip(trackIds.toSeq).map { case (t, id) =>
      t.copy(samples = t.samples + fragSamples.getOrElse(id, 0L))
    }
    require(fragSamples.keySet.subsetOf(trackIds.toSet),
      s"mp4: trun references unknown track_IDs " +
        s"${fragSamples.keySet -- trackIds}")
    val effDuration = math.max(mvhdDuration, mehdDuration)
    val durationUs = effDuration * 1000000L / mvhdTimescale
    (durationUs, withFrags, blob.length.toLong)
  }

  /** Bounded per-JVM memo of decoded frame dimensions keyed on
    * (length, SHA-256) of the JPEG bytes — NOT on the bytes
    * themselves: retaining full frames would pin up to 16384 × frame-size
    * of executor heap for the JVM lifetime on a real corpus (100 KB–1 MB
    * frames → multi-GB), where the digest key is a flat ~56 B/entry.
    * A corpus with repeated frames — thumbnails, test fixtures,
    * re-encoded stills — decodes each DISTINCT frame once per executor
    * instead of once per occurrence; the digest is far cheaper than the
    * ImageIO decode it memoizes. A collision-resistant hash, because the
    * frames are untrusted input: with MD5, two crafted frames could share
    * a key and one would be served the other's dimensions. Decode
    * failures are never cached (the require must fire per doc). */
  private final case class FrameKey(len: Int, h1: Long, h2: Long, h3: Long,
      h4: Long)
  private val frameDimCache = new java.util.concurrent.ConcurrentHashMap[
    FrameKey, (Int, Int)]()
  private val FrameDimCacheMax = 16384

  private def frameKey(bytes: Array[Byte]): FrameKey = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    val bb = java.nio.ByteBuffer.wrap(d)
    FrameKey(bytes.length, bb.getLong, bb.getLong, bb.getLong, bb.getLong)
  }

  private def decodeFrameDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    val key = frameKey(bytes)
    val hit = frameDimCache.get(key)
    if (hit != null) return Some(hit)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    if (img == null) return None
    val dims = (img.getWidth, img.getHeight)
    if (frameDimCache.size < FrameDimCacheMax)
      frameDimCache.putIfAbsent(key, dims)
    Some(dims)
  }

  /** Bench/test hook: drop the per-JVM codec memos so a timed run
    * measures cold-cache cost (the bench clears between best-of-N runs —
    * without this, run 2 re-reads run 1's memo and the reported minimum
    * measures a warm cache, not the operator). */
  def clearMemos(): Unit = {
    solidJpegCache.clear()
    frameDimCache.clear()
  }

  def sampleVideoFrames(blobs: DataFrame, k: Int = 4): Dataset[VideoFrame] = {
    require(k >= 2, "need at least 2 sample points")
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("blob"), col("mime_type")).as[MediaBlob]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { m =>
          val frames = demuxAvi(m.blob)
          val n = frames.length
          (0 until k).map { i =>
            val fi = (i.toLong * (n - 1) / (k - 1)).toInt
            val dims = decodeFrameDims(frames(fi))
            require(dims.isDefined, s"undecodable frame $fi of doc ${m.doc_id}")
            VideoFrame(m.doc_id, fi, n, dims.get._1, dims.get._2)
          }
        }
      }
  }

}
