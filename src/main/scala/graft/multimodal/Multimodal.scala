package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.C): media payloads are opaque
  * `binary` columns with a typed metadata struct alongside; decode /
  * feature-extraction runs batched per partition so a real decoder
  * amortizes model/codec setup per batch, exactly the shape `mapInPandas`
  * gives PySpark.
  *
  * The decode step itself is a STUB — image/audio codecs are not in this
  * environment — marked [[FakeDecoder]]; it is deterministic so the
  * pipeline is testable. Everything around it (schema, partitioning,
  * batch iteration, output shape) is the real plumbing a decoder would
  * plug into.
  */
object Multimodal {
  /** Wrap a text table into (id, media: binary, meta) — the ingestion
    * shape for any blob source. At 100 TB, prefer pointers into an object
    * store for large blobs; parquet handles the metadata + small payloads.
    */
  def attachBinary(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      col(textCol).cast("binary").as("media"),
      struct(
        lit("text/plain").as("kind"),
        length(col(textCol).cast("binary")).cast("long").as("n_bytes")).as("meta"))

  /** Chunk each payload into fixed-size "frames" (the video-decode shape:
    * one binary blob → ordered frame sequence). Pure SQL substring
    * arithmetic over the binary column — no decoder involvement.
    * An empty payload yields ZERO frames: without the guard,
    * `sequence(0, ceil(0) - 1)` = `sequence(0, -1)` would emit a
    * DESCENDING [0, -1] — two spurious frames per empty blob.
    */
  def frames(media: DataFrame, frameBytes: Int): DataFrame =
    media.select(col("media_id"), col("meta"),
      posexplode(expr(
        s"if(meta.n_bytes > 0, " +
          s"transform(sequence(0, int(ceil(meta.n_bytes / cast($frameBytes as double))) - 1), " +
          s"i -> substring(media, i * $frameBytes + 1, $frameBytes)), " +
          s"array())"))
        .as(Seq("frame_no", "frame")))

  /** Keep every k-th frame — the frame-sampling step of a video pipeline.
    * Runs entirely on the frame table; no payload reassembly needed.
    */
  def sampleFrames(framed: DataFrame, everyK: Int): DataFrame =
    framed.filter(pmod(col("frame_no"), lit(everyK)) === 0)

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, feature: Array[Float])

  /** THE DECODER BOUNDARY — the one seam between this library's plumbing
    * and a real media codec/model, defined so the production swap is a
    * one-liner (`extractFeatures(media, MyJpegClipDecoder)`).
    *
    * Contract:
    *  - the object must be [[Serializable]] (it ships to executors);
    *  - [[MediaDecoder.open]] is called ONCE PER PARTITION, on the
    *    executor, before any row of that partition is decoded — codec
    *    contexts, model weights, GPU handles go here (the amortization
    *    `mapInPandas` gives PySpark); the returned closure is then
    *    applied per row and may carry that per-task state;
    *  - the closure maps (kind, payload bytes) → (checksum, feature
    *    vector) deterministically for a given payload — replay and
    *    speculative re-execution of a task must reproduce the same rows.
    * MultimodalSpec's contract test drives a custom implementation
    * through the pipeline and pins both the injection and the
    * once-per-partition open() semantics.
    */
  trait MediaDecoder extends Serializable {
    def open(): (String, Array[Byte]) => (Long, Array[Float])
  }

  /** STUB decoder (the default): a real implementation would decode
    * image/audio bytes and run feature extraction. This deterministic
    * fake derives a checksum and a tiny "feature vector" from the raw
    * bytes so tests can assert the plumbing end-to-end — the sandbox
    * has no media codecs, which is exactly why the boundary above is a
    * trait and not this object.
    */
  object FakeDecoder extends MediaDecoder {
    def checksum(bytes: Array[Byte]): Long =
      bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)

    def features(bytes: Array[Byte], dim: Int = 4): Array[Float] = {
      val f = new Array[Float](dim)
      var i = 0
      while (i < bytes.length) { f(i % dim) += (bytes(i) & 0xff) / 255.0f; i += 1 }
      f
    }

    override def open(): (String, Array[Byte]) => (Long, Array[Float]) =
      (_, bytes) => (checksum(bytes), features(bytes))
  }

  /** A REAL in-sandbox codec closing the [[MediaDecoder]] loop with no
    * native dependency: `javax.imageio` PNG (pure JVM, headless-safe).
    * [[renderPng]] encodes a deterministic grayscale test pattern per
    * id — pixel(i) = (id·31 + i) mod 256 at a fixed width×height — into
    * genuine PNG bytes, and [[PngDecoder]] decodes those bytes back
    * through the codec and derives its features from the DECODED
    * raster: width, height, pixel sum, dark-pixel count, max pixel.
    * PNG is lossless, so decoded pixels equal the source arithmetic —
    * which is what makes the round trip ORACLE-CHECKABLE (q222): DuckDB
    * replays the pattern arithmetic directly, and any codec bug, raster
    * misread, or byte corruption on either leg breaks the hash.
    */
  object PngCodec {
    def encode(mediaId: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((mediaId * 31 + y * w + x) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
  }

  /** Render the deterministic test pattern for every id as real PNG
    * payloads — (media_id, media, meta) in the standard ingestion
    * shape. Encoding runs inside the partition map (executor-side,
    * like any decode/encode stage).
    */
  def renderPng(ids: Dataset[Long], w: Int, h: Int): DataFrame = {
    import ids.sparkSession.implicits._
    ids.map(id => (id, PngCodec.encode(id, w, h)))
      .toDF("media_id", "media")
      .select(col("media_id"), col("media"),
        struct(lit("image/png").as("kind"),
          length(col("media")).cast("long").as("n_bytes")).as("meta"))
  }

  /** The real-codec [[MediaDecoder]]: ImageIO PNG decode per payload,
    * features from the decoded raster. checksum = pixel sum; feature =
    * [width, height, dark-pixel count (< 128), max pixel] — all exact
    * in Float at these magnitudes. `open()` does the per-partition
    * codec setup (disable ImageIO's disk cache — in-memory streams).
    */
  object PngDecoder extends MediaDecoder {
    override def open(): (String, Array[Byte]) => (Long, Array[Float]) = {
      javax.imageio.ImageIO.setUseCache(false)
      (_, bytes) => {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L; var dark = 0L; var mx = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = raster.getSample(x, y, 0)
            sum += p
            if (p < 128) dark += 1
            if (p > mx) mx = p
            x += 1
          }
          y += 1
        }
        (sum, Array(w.toFloat, h.toFloat, dark.toFloat, mx.toFloat))
      }
    }
  }

  /** REAL image RESIZE through the codec (the brief's missing
    * multimodal transform): decode the PNG, 2×2 box-mean downscale on
    * the raster (integer floor division — replayable arithmetic, unlike
    * library scalers' filter kernels), re-ENCODE to PNG. Runs per
    * partition like every decode stage; the output is a genuine PNG
    * payload half the size in each dimension.
    */
  def resizePngHalf(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media.select("media_id", "media")
      .map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("media")))
        val (w, h) = (img.getWidth / 2, img.getHeight / 2)
        val src = img.getRaster
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val dst = out.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val m = (src.getSample(2 * x, 2 * y, 0) + src.getSample(2 * x + 1, 2 * y, 0) +
              src.getSample(2 * x, 2 * y + 1, 0) + src.getSample(2 * x + 1, 2 * y + 1, 0)) / 4
            dst.setSample(x, y, 0, m)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        (r.getAs[Long]("media_id"), bos.toByteArray)
      }
      .toDF("media_id", "media")
      .select(col("media_id"), col("media"),
        struct(lit("image/png").as("kind"),
          length(col("media")).cast("long").as("n_bytes")).as("meta"))
  }

  /** REAL LOSSY codec — `javax.imageio` JPEG (pure JVM, headless-safe):
    * the dominant real-world image format, with the gating story lossy
    * compression forces (unlike PNG/PCM, decoded pixels are NOT the
    * source arithmetic, so only invariant facts are oracle-checkable).
    * Two deterministic test patterns:
    *
    *  - BLOCK-CONSTANT ([[renderJpegBlocks]]): every 8×8 JPEG block is
    *    one value on a 16-step grid. At compression quality 1.0 the
    *    DCT of such a block is DC-only and the DC quantization step is
    *    1, so the round trip is PIXEL-EXACT — MultimodalSpec pins this
    *    EXHAUSTIVELY: the pattern depends only on id mod 256, and all
    *    256 residues round-trip with zero error, so exactness holds for
    *    every id. A lossy container whose content provably survives is
    *    what makes a full-arithmetic oracle possible (q228).
    *
    *  - RAMP ([[renderJpegRamp]]): q222's per-pixel ramp at quality
    *    0.95, genuinely lossy (measured max |err| = 7, again exhaustive
    *    over the 256 pattern classes). Gate-able facts are the lossy
    *    survivors: dimensions, and the band-quantized error bound
    *    floor(maxAbsErr/16) = 0 with the quantization inside BOTH
    *    engines' arithmetic.
    */
  object JpegCodec {
    def encode(img: java.awt.image.BufferedImage, quality: Float): Array[Byte] = {
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close(); w.dispose()
      bos.toByteArray
    }

    /** Block-constant grayscale: 8×8 block b = ((id·37 + b·16) mod 256). */
    def blockImage(mediaId: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val b = (y / 8) * (w / 8) + (x / 8)
          raster.setSample(x, y, 0, ((mediaId * 37 + b * 16) % 256).toInt)
          x += 1
        }
        y += 1
      }
      img
    }

    /** q222's per-pixel ramp: pixel(i) = (id·31 + i) mod 256. */
    def rampImage(mediaId: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((mediaId * 31 + y * w + x) % 256).toInt)
          x += 1
        }
        y += 1
      }
      img
    }
  }

  /** Block-constant JPEG payloads at quality 1.0 (the pixel-exact leg). */
  def renderJpegBlocks(ids: Dataset[Long], w: Int, h: Int): DataFrame = {
    import ids.sparkSession.implicits._
    ids.map(id => (id, JpegCodec.encode(JpegCodec.blockImage(id, w, h), 1.0f)))
      .toDF("media_id", "media")
      .select(col("media_id"), col("media"),
        struct(lit("image/jpeg").as("kind"),
          length(col("media")).cast("long").as("n_bytes")).as("meta"))
  }

  /** Ramp JPEG payloads at the given quality (the genuinely-lossy leg). */
  def renderJpegRamp(ids: Dataset[Long], w: Int, h: Int, quality: Float): DataFrame = {
    import ids.sparkSession.implicits._
    ids.map(id => (id, JpegCodec.encode(JpegCodec.rampImage(id, w, h), quality)))
      .toDF("media_id", "media")
      .select(col("media_id"), col("media"),
        struct(lit("image/jpeg").as("kind"),
          length(col("media")).cast("long").as("n_bytes")).as("meta"))
  }

  /** ImageIO sniffs the container from the bytes, so the PNG decoder IS
    * the JPEG decoder — aliased for call-site clarity.
    */
  val JpegDecoder: MediaDecoder = PngDecoder

  /** REAL audio codec — 16-bit mono PCM WAV through `javax.sound.
    * sampled` (pure JVM, headless-safe): [[encodeWav]] writes a
    * deterministic sample pattern through `AudioSystem.write` (RIFF
    * container produced by the real encoder), and [[WavDecoder]] parses
    * it back through `AudioSystem.getAudioInputStream`. PCM is
    * lossless, so decoded samples equal the source arithmetic — the
    * same oracle-checkable round-trip shape as the PNG path.
    */
  object WavCodec {
    val SampleRate = 8000f

    /** The WAVE SPI providers, resolved ONCE per JVM. Every per-row
      * `AudioSystem.write` / `AudioSystem.getAudioInputStream` call
      * funnels through `JDK13Services.getProviders` — a SYNCHRONIZED
      * static registry — so concurrent decode tasks in one executor
      * CONVOY on that lock (measured at 32×: 13.5 s CPU but 52–56 s
      * wall per task, 5 tasks in parallel; the old single-row-group
      * probe corpus hid it by serializing the stage into one task).
      * Calling the resolved provider objects directly is lock-free per
      * row and byte-identical: these are the exact providers
      * AudioSystem itself would select (WaveFileWriter probed by
      * Type.WAVE support; WaveFileReader probed by successfully
      * parsing this writer's output).
      */
    private[multimodal] lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala
        .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
        .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter SPI on this JVM"))
    }

    private[multimodal] lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
      import scala.jdk.CollectionConverters._
      val probe = encode(0L, 4)
      java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala
        .find { r =>
          try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close(); true }
          catch { case _: Exception => false }
        }
        .getOrElse(throw new IllegalStateException("no WAVE AudioFileReader SPI on this JVM"))
    }

    /** Sample i of payload `mediaId`: a full-range deterministic
      * pattern, s(i) = ((id·31 + i·7919) mod 4001) − 2000.
      */
    def sample(mediaId: Long, i: Int): Int =
      (((mediaId * 31 + i.toLong * 7919) % 4001) - 2000).toInt

    def encode(mediaId: Long, nSamples: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(SampleRate, 16, 1, true, false)
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s = sample(mediaId, i)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** Render the deterministic WAV payloads — (media_id, media, meta). */
  def renderWav(ids: Dataset[Long], nSamples: Int): DataFrame = {
    import ids.sparkSession.implicits._
    ids.map(id => (id, WavCodec.encode(id, nSamples)))
      .toDF("media_id", "media")
      .select(col("media_id"), col("media"),
        struct(lit("audio/wav").as("kind"),
          length(col("media")).cast("long").as("n_bytes")).as("meta"))
  }

  /** The real-codec audio [[MediaDecoder]]: parse the WAV container
    * with `AudioSystem`, features from the decoded 16-bit samples.
    * checksum = signed sample sum; feature = [n_samples, min, max,
    * count of non-negative samples] — all exact in Float at these
    * magnitudes.
    */
  object WavDecoder extends MediaDecoder {
    override def open(): (String, Array[Byte]) => (Long, Array[Float]) = {
      // touch the lazy provider here so the one-time ServiceLoader pass
      // runs at task open, not under the first row
      val reader = WavCodec.wavReader
      (_, bytes) => {
        val ais = reader.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
          s"unexpected decoded format: $fmt")
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue; var nonneg = 0L
        var i = 0
        while (i < n) {
          val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
          sum += s
          if (s < mn) mn = s
          if (s > mx) mx = s
          if (s >= 0) nonneg += 1
          i += 1
        }
        (sum, Array(n.toFloat, mn.toFloat, mx.toFloat, nonneg.toFloat))
      }
    }
  }

  /** Batched per-partition decode — the Scala analog of mapInPandas: one
    * iterator per partition, so per-partition setup (codec, model —
    * [[MediaDecoder.open]]) runs once per task, not once per row. The
    * decoder defaults to the sandbox stub; production passes its own.
    */
  def extractFeatures(media: DataFrame,
      decoder: MediaDecoder = FakeDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.select("media_id", "media", "meta.kind", "meta.n_bytes")
      .mapPartitions { rows: Iterator[Row] =>
        val decode = decoder.open() // once per task — codec/model setup
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("media")
          val kind = r.getAs[String]("kind")
          val (cs, feat) = decode(kind, bytes)
          MediaFeatures(r.getAs[Long]("media_id"), kind,
            r.getAs[Long]("n_bytes"), cs, feat)
        }
      }
  }
}
