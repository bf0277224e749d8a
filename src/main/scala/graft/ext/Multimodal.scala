package graft.ext

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support (SURVEY.md §7.4): image/audio/video as opaque
  * BINARY columns with typed metadata, processed by partition-batched
  * transforms with REAL codecs — `javax.imageio.ImageIO` for PNG images and
  * video frames, `javax.sound.sampled.AudioSystem` for WAV audio (both are
  * public JDK APIs; no external native libs needed).
  *
  * Spark-shape notes:
  *  - every decode/transform is `Dataset[T].mapPartitions` — one fused
  *    partition pass per executor core, constant memory, no shuffle, no
  *    per-row driver round-trips. This is the Scala equivalent of the
  *    `mapInPandas` pattern.
  *  - payloads are generated deterministically from `doc_id` (see
  *    [[MediaGen]]) so correctness invariants can recompute the expected
  *    dimensions independently and verify the actual codec round-trip
  *    (x5v/x6v/x13v, oracle = empty relation).
  *  - on a real cluster, pass `-Djava.awt.headless=true` via
  *    `spark.executor.extraJavaOptions`; here we set it defensively before
  *    first ImageIO use (local mode shares one JVM).
  *  - ImageIO's disk cache is OFF process-wide: first use of the codecs
  *    calls `ImageIO.setUseCache(false)`, a JVM-global switch, so every
  *    ImageIO caller in the driver or executor JVM — not only this
  *    object — then buffers non-file streams in memory instead of in a
  *    temp file per call. A caller that wants the disk cache (streams
  *    larger than its heap) must turn it back on itself.
  *
  * Container format for "video": these fixtures use a minimal deterministic
  * container — magic "GFV1", big-endian int frame count, then per frame a
  * big-endian int length + real PNG bytes. Decoding walks the container and
  * hands each frame to ImageIO, which is exactly the shape of a real
  * frame-extraction pass (demux → per-frame decode).
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
      meta_format: String, n_bytes: Long)

  /** Extracted features. For images/video, width/height are the real
    * decoded pixel dimensions; n_frames is the real demuxed frame count.
    * For audio, width/height are 0 and n_frames is the PCM frame count
    * reported by the WAV header.
    */
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, width: Int, height: Int, n_frames: Int,
      byte_entropy: Double)

  // -------------------------------------------------------------------------
  // Deterministic media generation (fixture side).
  // -------------------------------------------------------------------------

  /** Deterministic generators: payload bytes are a pure function of
    * `doc_id`, and the *parameters* (dims, frame count, sample count) are
    * exposed so invariant queries can recompute expectations without
    * decoding.
    */
  object MediaGen {
    java.lang.System.setProperty("java.awt.headless", "true")

    /** SplitMix64-style mixer — stable across JVMs (no Random involved). */
    def mix(id: Long, salt: Long): Long =
      graft.functions.SplitMix.mix2(id, salt)
    private def bounded(id: Long, salt: Long, lo: Int, hi: Int): Int =
      lo + (java.lang.Math.floorMod(mix(id, salt), (hi - lo).toLong)).toInt

    // floorMod so negative ids get a well-defined kind that matches the
    // Spark-side pmod pushdown filter in realMedia (Scala's % maps both
    // -1 and -2 to the default arm, which pmod cannot reproduce)
    def kindOf(id: Long): String =
      java.lang.Math.floorMod(id, 3L) match {
        case 0L => "image"; case 1L => "audio"; case _ => "video"
      }

    /** Expected image dims: small on purpose (fixtures are per-row encoded
      * at read time; real pipelines read pre-encoded bytes from parquet).
      */
    def imageDims(id: Long): (Int, Int) =
      (bounded(id, 1, 16, 129), bounded(id, 2, 16, 97))

    /** Expected video params: (frameWidth, frameHeight, nFrames). */
    def videoParams(id: Long): (Int, Int, Int) =
      (bounded(id, 3, 16, 65), bounded(id, 4, 16, 49), bounded(id, 5, 2, 7))

    /** Expected audio params: (sampleRateHz, nPcmFrames). */
    def audioParams(id: Long): (Int, Int) = (8000, bounded(id, 6, 512, 2561))

    /** A real PNG: per-pixel RGB from the mixer (id, frame, x, y).
      * r16 (guide §1.2 step 2, per-task work): pixels are written
      * straight into the TYPE_INT_RGB raster's int buffer — `setRGB`
      * routes every pixel through the ColorModel — and the encode goes
      * through the reused per-thread PNG writer. For TYPE_INT_RGB,
      * setRGB(x,y,v) stores exactly `v & 0xffffff` (the DirectColorModel
      * masks cover 24 bits, no alpha band), so the raster — and the
      * encoded PNG — is byte-identical to the setRGB loop
      * (R16MediaSpec pins bytes against an inline setRGB reference).
      */
    def png(id: Long, frame: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val data = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferInt].getData
      var y = 0
      var off = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = mix(id * 131 + frame, (y.toLong << 20) | x.toLong)
          data(off) = (v & 0xffffff).toInt
          off += 1
          x += 1
        }
        y += 1
      }
      Codec.encodePngBytes(img)
    }

    /** A real WAV: 16-bit mono PCM, deterministic sine-ish wave. */
    def wav(id: Long): Array[Byte] = {
      val (rate, n) = audioParams(id)
      val pcm = new Array[Byte](n * 2)
      val freq = 100.0 + java.lang.Math.floorMod(mix(id, 8), 900L)
      var i = 0
      while (i < n) {
        val s = (math.sin(2 * math.Pi * freq * i / rate) * 12000).toInt
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new ByteArrayOutputStream()
      Codec.writeWav(ais, bos)
      bos.toByteArray
    }

    /** A real "video": GFV1 container of nFrames length-prefixed PNGs. */
    def video(id: Long): Array[Byte] = {
      val (w, h, nFrames) = videoParams(id)
      val bos = new ByteArrayOutputStream()
      bos.write(Array[Byte]('G', 'F', 'V', '1'))
      bos.write(ByteBuffer.allocate(4).putInt(nFrames).array())
      var f = 0
      while (f < nFrames) {
        val p = png(id, f, w, h)
        bos.write(ByteBuffer.allocate(4).putInt(p.length).array())
        bos.write(p)
        f += 1
      }
      bos.toByteArray
    }

    def payload(id: Long): Array[Byte] = kindOf(id) match {
      case "image" => val (w, h) = imageDims(id); png(id, 0, w, h)
      case "audio" => wav(id)
      case _       => video(id)
    }
  }

  // -------------------------------------------------------------------------
  // Real codecs (decode side).
  // -------------------------------------------------------------------------

  object Codec {
    java.lang.System.setProperty("java.awt.headless", "true")
    // r16: ImageIO's convenience read/write wrap non-file streams in a
    // FileCacheImage{Input,Output}Stream — a temp DISK FILE per call —
    // when useCache is on (the default). The r16 bench task metrics
    // exposed it (run ≫ cpu on every media query: tasks blocked on
    // filesystem churn, not computing). The reused-reader paths below
    // use memory-cached streams explicitly; this flips the default for
    // the remaining fallback paths. Pure I/O plumbing — bytes unchanged.
    // JVM-global: the process-wide policy stated in the object doc.
    ImageIO.setUseCache(false)

    /** Per-thread reused PNG reader/writer (r16, guide §1.2 step 2 /
      * §4.5 "initialise heavyweight state once per task, not per row"):
      * the `ImageIO.read`/`write` conveniences scan the SPI registry and
      * allocate a fresh reader/writer + 16 KB stream cache PER CALL —
      * pure fixed overhead on the small-image corpus, paid once per
      * decoded row across x5/x6/x13/x17 and once per generated frame.
      * Same PNGImageReader/PNGImageWriter classes, default params →
      * bit-identical pixels and bytes (R16MediaSpec pins both).
      */
    private val pngReader =
      new ThreadLocal[javax.imageio.ImageReader] {
        override def initialValue(): javax.imageio.ImageReader =
          ImageIO.getImageReadersByFormatName("png").next()
      }
    private val pngWriter =
      new ThreadLocal[javax.imageio.ImageWriter] {
        override def initialValue(): javax.imageio.ImageWriter =
          ImageIO.getImageWritersByFormatName("png").next()
      }

    private def isPng(p: Array[Byte]): Boolean =
      p.length >= 8 && p(0) == 0x89.toByte && p(1) == 'P'.toByte &&
        p(2) == 'N'.toByte && p(3) == 'G'.toByte

    /** PNG encode through the reused per-thread writer — the shared
      * tail of [[MediaGen.png]] and the resize re-encode.
      */
    private[ext] def encodePngBytes(
        img: java.awt.image.BufferedImage): Array[Byte] = {
      val w = pngWriter.get()
      val bos = new ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        w.setOutput(ios)
        w.write(img)
        ios.flush()
      } finally {
        w.setOutput(null)
        ios.close()
      }
      bos.toByteArray
    }

    /** Real image decode via ImageIO → (width, height). PNG payloads
      * (every visual payload in this pipeline) go through the reused
      * per-thread reader; anything else falls back to the registry
      * lookup.
      */
    def decodeImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
      if (isPng(payload)) {
        val r = pngReader.get()
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(payload))
        try {
          r.setInput(iis)
          val img = r.read(0)
          require(img != null, "ImageIO could not decode payload")
          img
        } finally {
          r.setInput(null)
          iis.close()
        }
      } else {
        val img = ImageIO.read(new ByteArrayInputStream(payload))
        require(img != null, "ImageIO could not decode payload")
        img
      }
    }

    /** WAV SPI providers, loaded ONCE per JVM through the public
      * ServiceLoader mechanism (r16): `AudioSystem.getAudioInputStream`
      * and `AudioSystem.write` route EVERY call through a synchronized
      * static provider lookup — the r16 bench task metrics read x18 at
      * 25.7 s of task run time vs 1.1 s of CPU, i.e. 32 threads
      * serializing on that monitor, not decoding audio. The providers
      * themselves (the JDK's WaveFileReader/Writer) are stateless per
      * call; resolving them once and calling the same instances yields
      * byte-identical streams (R16MediaSpec pins wav bytes and PCM).
      */
    private lazy val audioReaders: IndexedSeq[
        javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toIndexedSeq
    }
    private lazy val wavWriters: IndexedSeq[
        javax.sound.sampled.spi.AudioFileWriter] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala.toIndexedSeq
        .filter(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
    }

    /** AudioSystem.getAudioInputStream minus the synchronized registry:
      * try each cached provider the way the registry loop does, with
      * the LAST-SUCCESSFUL provider first — rejections are not free
      * (the JDK's SoftMidiAudioFileReader burns ~140 µs measured
      * rejecting a WAV, which is 100× the WaveFileReader parse), and a
      * media corpus is format-homogeneous per column, so the memo hits
      * essentially always.
      */
    private val lastAudioReader = new java.util.concurrent.atomic.AtomicInteger(-1)

    private[ext] def audioInputStream(
        payload: Array[Byte]): AudioInputStream = {
      val rs = audioReaders
      val memo = lastAudioReader.get()
      if (memo >= 0 && memo < rs.length) {
        try return rs(memo).getAudioInputStream(
          new ByteArrayInputStream(payload))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
      var i = 0
      while (i < rs.length) {
        if (i != memo) {
          try {
            val ais = rs(i).getAudioInputStream(
              new ByteArrayInputStream(payload))
            lastAudioReader.set(i)
            return ais
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => ()
          }
        }
        i += 1
      }
      // no cached provider claims it (or the loader saw none) — the
      // registry path still decides, exactly as before r16
      AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    }

    /** AudioSystem.write(WAVE) minus the synchronized registry. */
    private[ext] def writeWav(ais: AudioInputStream,
        out: java.io.OutputStream): Unit =
      wavWriters.headOption match {
        case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, out): Unit
        case None => AudioSystem.write(ais,
          AudioFileFormat.Type.WAVE, out): Unit
      }

    /** Real WAV decode via AudioSystem → (sampleRateHz, nPcmFrames). */
    def decodeWav(payload: Array[Byte]): (Int, Long) = {
      val ais = audioInputStream(payload)
      try (ais.getFormat.getSampleRate.toInt, ais.getFrameLength)
      finally ais.close()
    }

    /** Demux the GFV1 container: returns the per-frame PNG byte slices. */
    def demuxVideo(payload: Array[Byte]): IndexedSeq[Array[Byte]] = {
      val bb = ByteBuffer.wrap(payload)
      val magic = new Array[Byte](4)
      bb.get(magic)
      require(new String(magic, "US-ASCII") == "GFV1", "bad container magic")
      val n = bb.getInt
      (0 until n).map { _ =>
        val len = bb.getInt
        val frame = new Array[Byte](len)
        bb.get(frame)
        frame
      }
    }

    /** Full 16-bit PCM sample decode (mono; endianness from the WAV's
      * own format header).
      */
    def decodePcm16(payload: Array[Byte]): Array[Short] = {
      val ais = audioInputStream(payload)
      try {
        val fmt = ais.getFormat
        require(fmt.getEncoding == javax.sound.sampled.AudioFormat
            .Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"expected 16-bit mono signed PCM, got $fmt")
        val bytes = ais.readAllBytes()
        val out = new Array[Short](bytes.length / 2)
        val big = fmt.isBigEndian
        var i = 0
        while (i < out.length) {
          val b0 = bytes(2 * i) & 0xff
          val b1 = bytes(2 * i + 1) & 0xff
          out(i) =
            (if (big) (b0 << 8) | b1 else (b1 << 8) | b0).toShort
          i += 1
        }
        out
      } finally ais.close()
    }

    def byteEntropy(payload: Array[Byte]): Double = {
      if (payload.isEmpty) return 0.0
      val hist = new Array[Long](256)
      var i = 0
      while (i < payload.length) { hist(payload(i) & 0xff) += 1; i += 1 }
      var e = 0.0
      val n = payload.length.toDouble
      var b = 0
      while (b < 256) {
        if (hist(b) > 0) { val p = hist(b) / n; e -= p * math.log(p) / math.log(2) }
        b += 1
      }
      e
    }

    def checksum(payload: Array[Byte]): Long = {
      val crc = new java.util.zip.CRC32()
      crc.update(payload)
      crc.getValue
    }
  }

  // -------------------------------------------------------------------------
  // Tables.
  // -------------------------------------------------------------------------

  /** Opaque-binary plumbing table (mm1): text bytes as payload so the
    * DuckDB oracle can recompute `md5(payload)` from the source column.
    * This is the schema contract a real pipeline uses for payloads read
    * straight from parquet BINARY columns.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("stub/v1").as("meta_format"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  /** Real-media table: payloads are genuine PNG/WAV/GFV1 bytes generated
    * deterministically from `doc_id` inside a partition pass. A production
    * pipeline replaces this generator with `spark.read.parquet` over a
    * BINARY column or `spark.read.format("binaryFile")` — everything
    * downstream (decode, features, frame sampling, resize) is unchanged.
    */
  def realMedia(s: SparkSession, dir: String,
      kinds: Set[String] = Set("image", "audio", "video")): Dataset[MediaRow] = {
    import s.implicits._
    // Kind is a pure function of doc_id, so kind-restricted consumers
    // (sampleFrames: video only; resize: visual only) filter BEFORE the
    // expensive payload generation instead of encoding bytes they drop.
    // pmod(doc_id, 3) ∈ wanted  ⇔  kindOf(doc_id) ∈ kinds (kindOf uses
    // floorMod, which pmod mirrors exactly — negative ids included)
    val wanted = (0 to 2).filter(m => kinds(MediaGen.kindOf(m.toLong)))
    // The fixture parquet is one small file → one input partition, which
    // would serialize every encode/decode onto a single core. Spread the
    // ids first: at 100 TB the payload table is naturally multi-partition
    // and this repartition reproduces that shape (the shuffle ships only
    // 8-byte ids).
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3L))
        .isin(wanted.map(m => m.toLong: java.lang.Long): _*))
      .as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { ids =>
        ids.map { id =>
          val kind = MediaGen.kindOf(id)
          val bytes = MediaGen.payload(id)
          val fmt = kind match {
            case "image" => "image/png"
            case "audio" => "audio/wav"
            case _       => "video/gfv1"
          }
          MediaRow(id, kind, bytes, fmt, bytes.length.toLong)
        }
      }
  }

  /** Partition-batched feature extraction with real decode: ImageIO for
    * image dims, container demux + ImageIO for video, AudioSystem for WAV
    * frame counts. One fused pass, no shuffle.
    */
  def extractFeatures(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    realMedia(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val (w, h, nf) = r.kind match {
          case "image" =>
            val img = Codec.decodeImage(r.payload)
            (img.getWidth, img.getHeight, 1)
          case "audio" =>
            val (_, frames) = Codec.decodeWav(r.payload)
            (0, 0, frames.toInt)
          case _ =>
            val frames = Codec.demuxVideo(r.payload)
            val first = Codec.decodeImage(frames.head)
            (first.getWidth, first.getHeight, frames.length)
        }
        MediaFeatures(r.media_id, r.kind, r.n_bytes,
          Codec.checksum(r.payload), w, h, nf, Codec.byteEntropy(r.payload))
      }
    }
  }

  /** Real frame sampling: demux the container, keep every `stride`-th
    * frame, decode each kept frame with ImageIO. One input row → N output
    * rows, partition-local, no shuffle.
    */
  def sampleFrames(s: SparkSession, dir: String, stride: Int = 2): DataFrame = {
    import s.implicits._
    realMedia(s, dir, kinds = Set("video"))
      .flatMap { r =>
        val frames = Codec.demuxVideo(r.payload)
        (0 until frames.length by stride).map { fi =>
          val img = Codec.decodeImage(frames(fi))
          (r.media_id, fi, img.getWidth, img.getHeight,
            Codec.checksum(frames(fi)))
        }
      }
      .toDF("media_id", "frame_idx", "width", "height", "frame_checksum")
  }

  /** A resized media row: payload re-encoded after a real scale. */
  final case class ResizedMedia(media_id: Long, kind: String,
      src_width: Int, src_height: Int, dst_width: Int, dst_height: Int,
      n_bytes_in: Long, n_bytes_out: Long, payload_out: Array[Byte])

  /** Scale an image to fit a `maxDim` bounding box, aspect preserved
    * (never upscales), bilinear interpolation, re-encoded as PNG.
    */
  private def scaleImage(img: java.awt.image.BufferedImage, maxDim: Int)
      : (java.awt.image.BufferedImage, Int, Int) = {
    val w = img.getWidth
    val h = img.getHeight
    val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
    val dw = math.max(1, math.round(w * scale).toInt)
    val dh = math.max(1, math.round(h * scale).toInt)
    if (scale >= 1.0) (img, w, h)
    else {
      val out = new java.awt.image.BufferedImage(
        dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, dw, dh, null)
      g.dispose()
      (out, dw, dh)
    }
  }

  /** 64-bit average-hash (aHash — the pHash-family perceptual signature
    * behind LAION-style image dedup): block-average the image to an 8×8
    * grayscale grid, set bit (i·8+j) when the block's mean exceeds the
    * grid mean. Exact-integer block sums (gray = r+g+b, compared via
    * cross-multiplication against the total) so the hash is fully
    * deterministic — no float rounding anywhere. Brightness-invariant
    * while no pixel clips: adding c to every channel shifts every block
    * mean and the grid mean equally, leaving all 64 comparisons — and
    * therefore the hash — unchanged (PhashSpec pins it).
    */
  def imagePhash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](64)   // Σ gray per block
    val areas = new Array[Long](64)  // pixels per block
    // r16 per-task-work cut (guide §1.2 step 2): gray = r+g+b is
    // CHANNEL-ORDER-FREE, so for the two raster layouts this pipeline
    // actually produces (ImageIO PNG decode → TYPE_3BYTE_BGR; scaled
    // images → TYPE_INT_RGB) the sum reads straight off the data
    // buffer instead of routing every pixel through
    // getRGB → ColorModel (measured the dominant x17 decode-side
    // cost). Sums are exact integer totals of the same channel values,
    // so the hash is bit-identical (R16MediaSpec pins it against the
    // getRGB loop); any other layout falls back to that loop. Both loops
    // read the buffer from index 0, so the raster must also be
    // untranslated: a full-width getSubimage shares its parent's buffer
    // at offset 0 and stride w, and only the translate says where it starts.
    val raster = img.getRaster
    val untranslated = raster.getSampleModelTranslateX == 0 &&
      raster.getSampleModelTranslateY == 0
    val intRgbFast = untranslated && img.getType ==
      java.awt.image.BufferedImage.TYPE_INT_RGB &&
      raster.getSampleModel.isInstanceOf[
        java.awt.image.SinglePixelPackedSampleModel] &&
      raster.getSampleModel.asInstanceOf[
        java.awt.image.SinglePixelPackedSampleModel]
        .getScanlineStride == w &&
      raster.getDataBuffer.getOffset == 0
    val bgrFast = untranslated && img.getType ==
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR && {
      val sm = raster.getSampleModel
      sm.isInstanceOf[java.awt.image.PixelInterleavedSampleModel] && {
        val p = sm.asInstanceOf[java.awt.image.PixelInterleavedSampleModel]
        p.getPixelStride == 3 && p.getScanlineStride == w * 3
      } && raster.getDataBuffer.getOffset == 0
    }
    if (intRgbFast) {
      val data = raster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferInt].getData
      var y = 0
      var off = 0
      while (y < h) {
        val byBase = (y * 8 / h) * 8
        var x = 0
        while (x < w) {
          val rgb = data(off)
          val b = byBase + x * 8 / w
          sums(b) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          areas(b) += 1
          off += 1
          x += 1
        }
        y += 1
      }
    } else if (bgrFast) {
      val data = raster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      var y = 0
      var off = 0
      while (y < h) {
        val byBase = (y * 8 / h) * 8
        var x = 0
        while (x < w) {
          val gray = (data(off) & 0xff) + (data(off + 1) & 0xff) +
            (data(off + 2) & 0xff)
          val b = byBase + x * 8 / w
          sums(b) += gray
          areas(b) += 1
          off += 3
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        val by = y * 8 / h
        var x = 0
        while (x < w) {
          val bx = x * 8 / w
          val rgb = img.getRGB(x, y)
          val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          val b = by * 8 + bx
          sums(b) += gray
          areas(b) += 1
          x += 1
        }
        y += 1
      }
    }
    val total = sums.sum
    val totalArea = areas.sum
    // bit b set ⇔ sums(b)/areas(b) > total/totalArea, compared exactly
    // as sums(b)·totalArea > total·areas(b). The products reach
    // 765·p · p (p = pixel count) — Long overflows from ~1e8 px on
    // skewed blocks, so the comparison runs in 128 bits via
    // Math.multiplyHigh (r16: replaces 128 BigInt allocations per
    // image; all operands are non-negative, so the signed high word is
    // the unsigned one and the (hi, lo) lexicographic compare is exact
    // at any image size).
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (areas(b) > 0 && cmp128(sums(b), totalArea, total, areas(b)) > 0)
        hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** Exact sign of a·b − c·d for NON-NEGATIVE longs via 128-bit
    * products (Math.multiplyHigh high word + wrapped low word, compared
    * lexicographically with the low words as unsigned).
    */
  private[ext] def cmp128(a: Long, b: Long, c: Long, d: Long): Int = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(a * b, c * d)
  }

  /** Perceptual-hash table over the visual media (images + first video
    * frame) — the sketch side of image near-dup mining. Real decode,
    * partition-local, no shuffle.
    */
  def imagePhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    realMedia(s, dir, kinds = Set("image", "video"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = r.kind match {
            case "image" => Codec.decodeImage(r.payload)
            case _ => Codec.decodeImage(
              Codec.demuxVideo(r.payload).headOption.getOrElse(sys.error(
                s"imagePhashes: video media_id=${r.media_id} has no frames")))
          }
          (r.media_id, r.kind, imagePhash64(img))
        }
      }
      .toDF("media_id", "kind", "phash")
  }

  /** 64-bit audio energy-envelope fingerprint — the audio twin of
    * [[imagePhash64]] and the envelope half of Shazam-style audio
    * dedup: split the PCM stream into 64 contiguous windows, set bit b
    * when window b's mean energy (Σ s², exact Long) exceeds the
    * stream's mean energy — compared exactly by BigInt
    * cross-multiplication like the image hash. Exactly invariant under
    * phase inversion (s → −s leaves every energy unchanged) and under
    * exact amplitude scaling (energies scale by c² uniformly, so every
    * comparison is preserved); PhashSpec pins both.
    */
  def audioPhash64(pcm: Array[Short]): Long = {
    val n = pcm.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val w = (i.toLong * 64 / n).toInt
      val s = pcm(i).toLong
      sums(w) += s * s
      counts(w) += 1
      i += 1
    }
    val total = sums.sum
    var hash = 0L
    var b = 0
    while (b < 64) {
      // energies are non-negative, so the BigInt cross-multiplication
      // collapses to the same 128-bit compare the image hash uses (r16)
      if (counts(b) > 0 && cmp128(sums(b), n.toLong, total, counts(b)) > 0)
        hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** Energy-envelope hash table over the audio media — the sketch side
    * of audio near-dup mining. Real WAV decode, partition-local.
    */
  def audioPhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    realMedia(s, dir, kinds = Set("audio"))
      .mapPartitions { rows =>
        rows.map { r =>
          (r.media_id, r.kind,
            audioPhash64(Codec.decodePcm16(r.payload)))
        }
      }
      .toDF("media_id", "kind", "phash")
  }

  /** Audio near-dup pairs through the SAME banded miner as the text
    * (d8) and image (x17) sketch families.
    */
  def audioNearDupPairs(s: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame =
    Dedup.simhashPairsOf(
      audioPhashes(s, dir).select(col("media_id").as("doc_id"),
        col("phash").as("simhash")), maxDist)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))

  /** Shared x17v/x18v violation builder: presence contract + the
    * impossible-hash property (all 64 bits set would mean every
    * block/window mean exceeds their own weighted average).
    */
  private def sketchInvariantViolations(s: SparkSession, dir: String,
      kinds: Set[String], wantedKinds: Seq[String],
      hashes: DataFrame): DataFrame = {
    val shared = shareSmall(hashes)
    val bad = shared
      .filter(bit_count(col("phash")) === 64 ||
        !col("kind").isin(wantedKinds: _*))
      .select(col("media_id"),
        lit("phash_property").as("field"),
        bit_count(col("phash")).cast("long").as("got"),
        lit(63L).as("want"))
    bad.unionByName(missingMediaViolations(s, dir, kinds, shared,
      "missing_media"))
  }

  /** x18v violations — the audio-sketch presence + property contract. */
  def audioPhashInvariantViolations(s: SparkSession, dir: String)
      : DataFrame =
    sketchInvariantViolations(s, dir, Set("audio"), Seq("audio"),
      audioPhashes(s, dir))

  /** x17v violations: a silent-empty or row-dropping phash pass must
    * fail the gate, not pass vacuously — one `missing_media` row per
    * expected visual id the pass dropped (the x5v/x6v contract), plus a
    * structural-property row per hash that is mathematically impossible
    * (all 64 bits set would mean every block mean exceeds their own
    * weighted average) or carries a non-visual kind. A self-recompute
    * was deliberately REJECTED here: both sides would be the identical
    * plan (ReuseExchange can even collapse them to one execution), so
    * it can detect nothing.
    */
  def phashInvariantViolations(s: SparkSession, dir: String): DataFrame =
    sketchInvariantViolations(s, dir, Set("image", "video"),
      Seq("image", "video"), imagePhashes(s, dir))

  /** Image near-dup pairs: Hamming ≤ `maxDist` over the aHash sketches,
    * via the SAME banded pair miner the d8 text path uses
    * ([[Dedup.simhashPairsOf]]) — one candidate-join implementation for
    * every 64-bit sketch family.
    */
  def imageNearDupPairs(s: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame =
    Dedup.simhashPairsOf(
      imagePhashes(s, dir).select(col("media_id").as("doc_id"),
        col("phash").as("simhash")), maxDist)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] =
    Codec.encodePngBytes(img)

  /** Real resize pass over the visual kinds: images are decoded, scaled
    * into the `maxDim` box (aspect preserved, never upscaled) and
    * re-encoded as PNG; videos are demuxed and every frame is resized,
    * then the container is rebuilt. Audio is out of scope for a spatial
    * resize and is filtered out. One-row→one-row, partition-local.
    */
  def resize(s: SparkSession, dir: String, maxDim: Int = 32): Dataset[ResizedMedia] = {
    import s.implicits._
    realMedia(s, dir, kinds = Set("image", "video"))
      .mapPartitions { rows =>
        rows.map { r =>
          if (r.kind == "image") {
            val img = Codec.decodeImage(r.payload)
            val (out, dw, dh) = scaleImage(img, maxDim)
            val bytes = if (out eq img) r.payload else encodePng(out)
            ResizedMedia(r.media_id, r.kind, img.getWidth, img.getHeight,
              dw, dh, r.payload.length.toLong, bytes.length.toLong, bytes)
          } else {
            val frames = Codec.demuxVideo(r.payload)
            val first = Codec.decodeImage(frames.head)
            val bos = new ByteArrayOutputStream()
            bos.write(Array[Byte]('G', 'F', 'V', '1'))
            bos.write(ByteBuffer.allocate(4).putInt(frames.length).array())
            var dw = 0
            var dh = 0
            frames.foreach { fb =>
              val img = Codec.decodeImage(fb)
              val (out, w2, h2) = scaleImage(img, maxDim)
              dw = w2; dh = h2
              val p = if (out eq img) fb else encodePng(out)
              bos.write(ByteBuffer.allocate(4).putInt(p.length).array())
              bos.write(p)
            }
            val bytes = bos.toByteArray
            ResizedMedia(r.media_id, r.kind, first.getWidth, first.getHeight,
              dw, dh, r.payload.length.toLong, bytes.length.toLong, bytes)
          }
        }
      }
  }

  /** Binary metadata projection — oracle-checkable: byte length and MD5 of
    * the payload (equals MD5 of the source text bytes).
    */
  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
      col("media_id"), col("kind"), col("n_bytes"),
      md5(col("payload")).as("md5_hex"))

  // -------------------------------------------------------------------------
  // Invariants (violation-oracle form: expected result is the EMPTY relation;
  // any row is a codec bug). These make x5/x6/x13 oracle-checked: the
  // generator's parameters are recomputed independently of the payload and
  // compared against what the REAL decoder read back out of the bytes.
  // -------------------------------------------------------------------------

  /** The id set an operator over `kinds` MUST emit — derived from the
    * documents table + the kind partition (pmod(id,3) mirrors kindOf),
    * independent of the operator under test. Violation queries anti-join
    * their emitted ids against this so a row dropped WHOLESALE by the
    * pipeline (or an operator that silently emits nothing) is a
    * violation, not a vacuous pass — the fail-loudly-on-empty contract
    * the recall invariants pin.
    */
  private def expectedMediaIds(s: SparkSession, dir: String,
      kinds: Set[String]): DataFrame = {
    val wanted = (0 to 2).filter(m => kinds(MediaGen.kindOf(m.toLong)))
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"))
      .filter(pmod(col("media_id"), lit(3L))
        .isin(wanted.map(m => m.toLong: java.lang.Long): _*))
  }

  /** `missing_media` violation rows: one per expected id absent from
    * `emitted`. Callers pass a SMALL persisted frame (ids or per-id
    * rollups, payloads projected away) so the decode pipeline runs once
    * per invariant, not once per consumer — the r8 finding: the naive
    * anti-join on the raw typed pipeline re-ran generate→decode a second
    * time for an id projection (typed mapPartitions blocks pruning),
    * ~6 s of the 31 s invariant bill.
    */
  private def missingMediaViolations(s: SparkSession, dir: String,
      kinds: Set[String], emitted: DataFrame, field: String): DataFrame =
    expectedMediaIds(s, dir, kinds)
      .join(emitted.select("media_id").distinct(), Seq("media_id"),
        "left_anti")
      .select(col("media_id"), lit(field).as("field"),
        lit(0L).as("got"), lit(1L).as("want"))

  /** Persist a small (payload-free) invariant intermediate so its two
    * consumers (violation filter + presence anti-join) share ONE decode
    * pass. MEMORY_AND_DISK: rows are id+scalars, a few KB per thousand
    * media rows; invariants run once per sweep so the pinned footprint
    * is bounded and tiny.
    */
  private def shareSmall(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** x6v: decode(generate(id)) must reproduce the generator's parameters —
    * image dims, video dims + frame count, audio sample-frame count — and
    * every n_bytes must equal the payload length. Emits one row per
    * violated field, plus a `missing_media` row per id the feature pass
    * dropped entirely.
    */
  def featuresRoundtripViolations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // MediaFeatures carries no payload — persist the decoded rows so the
    // field checks and the missing-media anti-join share one decode pass
    val featsDf = shareSmall(extractFeatures(s, dir).toDF())
    val feats = featsDf.as[MediaFeatures]
    val fieldViolations = feats.flatMap { f =>
      val checks: Seq[(String, Long, Long)] = f.kind match {
        case "image" =>
          val (w, h) = MediaGen.imageDims(f.media_id)
          Seq(("width", f.width.toLong, w.toLong),
            ("height", f.height.toLong, h.toLong),
            ("n_frames", f.n_frames.toLong, 1L))
        case "audio" =>
          val (_, n) = MediaGen.audioParams(f.media_id)
          Seq(("n_frames", f.n_frames.toLong, n.toLong))
        case _ =>
          val (w, h, nf) = MediaGen.videoParams(f.media_id)
          Seq(("width", f.width.toLong, w.toLong),
            ("height", f.height.toLong, h.toLong),
            ("n_frames", f.n_frames.toLong, nf.toLong))
      }
      checks.collect { case (fld, got, want) if got != want =>
        (f.media_id, fld, got, want)
      }
    }.toDF("media_id", "field", "got", "want")
    fieldViolations.union(missingMediaViolations(s, dir,
      Set("image", "audio", "video"), featsDf, "missing_media"))
  }

  /** x5v: per video, the sampler must emit exactly ceil(nFrames/stride)
    * frames, each decoding to the generator's frame dims, with frame_idx
    * hitting exactly the multiples of stride. A video the sampler drops
    * WHOLESALE (including the emits-nothing degenerate case) yields a
    * `missing_video` row via the expected-id anti-join.
    */
  def frameSampleViolations(s: SparkSession, dir: String, stride: Int = 2)
      : DataFrame = {
    import s.implicits._
    // ONE pass over the sampled frames: flag each frame's dim/index
    // validity inline, then a single keyed aggregation yields both the
    // per-frame violation count and the per-video frame count (a naive
    // dimBad ∪ cntBad over the uncached source would re-run the whole
    // generate→demux→decode pipeline twice).
    // the flag map stays typed (videoParams is Scala), but the rollup is
    // a relational groupBy().agg() so map-side partial aggregation keeps
    // the shuffle at one (video, partition) partial, not one row per
    // sampled frame
    val sampled = sampleFrames(s, dir, stride)
    // the per-video rollup (one row per video) is the shared intermediate:
    // it feeds the violation flatMap AND the missing-video anti-join
    // presence set, so the demux+decode pipeline runs exactly once
    val perVideoAgg = shareSmall(sampled.as[(Long, Int, Int, Int, Long)]
      .map { case (id, fi, w, h, _) =>
        val (ew, eh, nf) = MediaGen.videoParams(id)
        val bad =
          w != ew || h != eh || fi % stride != 0 || fi < 0 || fi >= nf
        (id, if (bad) 1L else 0L)
      }
      .toDF("media_id", "bad")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n"), sum(col("bad")).as("n_bad")))
    val perVideo = perVideoAgg
      .as[(Long, Long, Long)]
      .flatMap { case (id, n, bad) =>
        val (_, _, nf) = MediaGen.videoParams(id)
        val want = ((nf + stride - 1) / stride).toLong
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
        if (bad > 0) out += ((id, "frame_dims", bad, 0L))
        if (n != want) out += ((id, "frame_count", n, want))
        out.toSeq
      }
      .toDF("media_id", "field", "got", "want")
    perVideo.union(missingMediaViolations(s, dir, Set("video"),
      perVideoAgg, "missing_video"))
  }

  /** x13v: resize contract — dst dims fit the box, aspect preserved to
    * rounding (cross-multiplied tolerance), never upscaled, and the output
    * payload REALLY re-decodes to exactly (dst_width, dst_height) — the
    * last check is a full second decode of the re-encoded bytes.
    */
  def resizeContractViolations(s: SparkSession, dir: String, maxDim: Int = 32)
      : DataFrame = {
    import s.implicits._
    val resized = resize(s, dir, maxDim)
    // the flatMap also emits one `__present` marker row per media row:
    // persisting its SMALL output (no payloads) lets the violation filter
    // and the missing-media anti-join share one resize+re-decode pass
    val marked = shareSmall(resized.flatMap { r =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
      out += ((r.media_id, "__present", 0L, 0L))
      if (r.dst_width > maxDim || r.dst_height > maxDim)
        out += ((r.media_id, "box", r.dst_width.toLong, maxDim.toLong))
      if (r.dst_width > r.src_width || r.dst_height > r.src_height)
        out += ((r.media_id, "upscale", r.dst_width.toLong, r.src_width.toLong))
      // aspect: |dw*sh - dh*sw| <= max(sw, sh) (±0.5px rounding on each axis)
      val cross = math.abs(
        r.dst_width.toLong * r.src_height - r.dst_height.toLong * r.src_width)
      if (cross > math.max(r.src_width, r.src_height).toLong)
        out += ((r.media_id, "aspect", cross, math.max(r.src_width, r.src_height).toLong))
      // the re-encoded payload must decode to the declared dst dims
      val (dw, dh) = r.kind match {
        case "image" =>
          val img = Codec.decodeImage(r.payload_out)
          (img.getWidth, img.getHeight)
        case _ =>
          val frames = Codec.demuxVideo(r.payload_out)
          val img = Codec.decodeImage(frames.head)
          (img.getWidth, img.getHeight)
      }
      if (dw != r.dst_width || dh != r.dst_height)
        out += ((r.media_id, "redecode", (dw.toLong << 32) | dh.toLong,
          (r.dst_width.toLong << 32) | r.dst_height.toLong))
      out.toSeq
    }.toDF("media_id", "field", "got", "want"))
    val contract = marked.filter(col("field") =!= "__present")
    contract.union(missingMediaViolations(s, dir, Set("image", "video"),
      marked.filter(col("field") === "__present"), "missing_media"))
  }
}
