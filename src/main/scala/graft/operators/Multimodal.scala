package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column plumbing (north star): media as opaque `binary`
  * columns with typed metadata, processed by per-partition JVM batch
  * functions — the Scala analogue of a Pandas-UDF/`mapInPandas` stage.
  *
  * The IMAGE path is real end-to-end: `imageTable` stages genuine PNG
  * payloads (encoded with the JDK's `javax.imageio.ImageIO`),
  * `decodeImages` decodes them back to rasters and derives
  * width/height/per-channel means, and `resizeImages` is a real
  * `Graphics2D` bilinear resize + PNG re-encode. No external codec
  * dependency — ImageIO ships JPEG/PNG/GIF/BMP in every JDK.
  *
  * AUDIO and VIDEO are real JDK codecs too: `audioTable`/`decodeAudio`
  * round-trip PCM-16 WAV containers through `javax.sound.sampled`
  * (RIFF header parse + exact integer waveform stats), and
  * `videoTable`/`sampleVideoFrames` stage animated GIFs and extract every
  * 2nd frame via ImageIO's multi-frame reader. The one remaining
  * stand-in is `extractFeatures`' embedStub (byte-level length/
  * checksum/md5/histogram where a learned feature extractor would plug
  * in — no ML runtime in any JDK). Everything around the codecs — the
  * binary schema, the typed Dataset, the mapPartitions batch shape,
  * partition-parallel execution — is the real 100 TB plumbing:
  * payloads never hit the driver, one decoder init per partition (the
  * expensive-init amortization that motivates mapPartitions over
  * per-row UDFs).
  */
object Multimodal {

  // BufferedImage/ImageIO never touch a display, but force headless so
  // AWT cannot probe for one on an executor without $DISPLAY.
  System.setProperty("java.awt.headless", "true")

  /** An opaque media payload + typed metadata. */
  case class MediaItem(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Stub "decoded" features: real byte statistics standing in for
    * decoded-content features. */
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
                           checksum: Long, digest: String, hist: Array[Double])

  /** Synthesize the media table from `documents` (deterministic: payload
    * = UTF-8 bytes of the text; type cycles by doc_id). A real deployment
    * reads `binary` columns straight from parquet — same schema. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaItem] =
    mediaTable(Tables(spark, dir, "documents"))

  /** df form: expects (doc_id: Long, text: String). */
  def mediaTable(docs: DataFrame): Dataset[MediaItem] = {
    import docs.sparkSession.implicits._
    docs
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaItem]
  }

  /** Per-partition batch "decode" + feature extraction. The partition
    * iterator is the batch boundary (= `mapInPandas` batch): expensive
    * decoder state would be initialized once per partition here. */
  def extractFeatures(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { iter =>
      // decoder init would go here (once per partition)
      val md = java.security.MessageDigest.getInstance("MD5")
      iter.map { m =>
        var sum = 0L
        val hist = new Array[Double](8)
        var i = 0
        while (i < m.payload.length) {
          val b = m.payload(i) & 0xFF
          sum = (sum + b) % 4294967296L
          hist(b >> 5) += 1.0
          i += 1
        }
        md.reset()
        val digest = md.digest(m.payload).map("%02x".format(_)).mkString
        val n = math.max(m.payload.length, 1)
        MediaFeatures(m.doc_id, m.media_type, m.payload.length.toLong, sum,
          digest, hist.map(_ / n))
      }
    }
  }

  /** One sampled frame of a media payload. */
  case class MediaFrame(doc_id: Long, frame_idx: Long, payload: Array[Byte])

  // ── Real image pipeline (JDK ImageIO, no external codecs) ──────────

  /** A real encoded image: PNG bytes in an opaque `binary` column. */
  case class ImageItem(doc_id: Long, payload: Array[Byte])

  /** Decoded-raster features: dimensions + exact per-channel means. */
  case class DecodedImage(doc_id: Long, width: Int, height: Int,
                          mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic per-doc image geometry and band colors. These are
    * plain doc_id arithmetic so the DuckDB oracle can predict the
    * decoded dimensions and channel means without touching a codec —
    * the Spark side must then round-trip real PNG encode→decode to
    * match. */
  private[graft] def imgWidth(id: Long): Int = (16 + (id % 16)).toInt
  private[graft] def imgHeight(id: Long): Int = (12 + (id % 8)).toInt
  private[graft] def topRgb(id: Long): (Int, Int, Int) =
    ((id % 256).toInt, ((id * 31) % 256).toInt, ((id * 17) % 256).toInt)
  private[graft] def botRgb(id: Long): (Int, Int, Int) =
    (((id * 7) % 256).toInt, ((id * 13) % 256).toInt, ((id * 29) % 256).toInt)

  /** PNG/GIF codec SPIs resolved once per JVM, driven over MEMORY-backed
    * ImageIO streams. The `ImageIO.read`/`write`/`createImage*Stream`
    * convenience entry points (a) scan the provider REGISTRY per call
    * and (b) spool every stream through a TEMP FILE by default
    * (`useCache = true`) — measured 79 → 606 µs/call (read) and 78 →
    * 1125 µs (write) under 32 threads, vs 12/31 µs flat calling the SPI
    * directly over MemoryCache streams. The audio-SPI disease, image
    * edition — found because q_multimodal_resize measured 11.3× at 10×
    * data (two ImageIO.write + two ImageIO.read per row). Reader/writer
    * INSTANCES are not thread-safe, so each call creates one from the
    * SPI — a plain allocation, no registry, no lock, no temp file. */
  private lazy val pngReaderSpi: javax.imageio.spi.ImageReaderSpi =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next().getOriginatingProvider
  private lazy val pngWriterSpi: javax.imageio.spi.ImageWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next().getOriginatingProvider
  private lazy val gifReaderSpi: javax.imageio.spi.ImageReaderSpi =
    javax.imageio.ImageIO.getImageReadersByFormatName("gif").next().getOriginatingProvider
  private lazy val gifWriterSpi: javax.imageio.spi.ImageWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("gif").next().getOriginatingProvider

  /** PNG decode via the resolved SPI (same parser class ImageIO.read's
    * registry scan would select for these payloads). */
  private def readPng(bytes: Array[Byte], docId: Long): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val r = pngReaderSpi.createReaderInstance()
    try { r.setInput(iis); r.read(0) }
    catch { case e: Exception =>
      throw new IllegalStateException(s"undecodable image payload for doc $docId", e)
    }
    finally { r.dispose(); iis.close() }
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = pngWriterSpi.createWriterInstance()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try { w.setOutput(ios); w.write(img) }
    finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  private def renderTwoBand(id: Long, flat: Boolean): Array[Byte] = {
    val (w, h) = (imgWidth(id), imgHeight(id))
    val (tr, tg, tb) = topRgb(id)
    val (br, bg, bb) = if (flat) topRgb(id) else botRgb(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val rgb = if (y < h / 2) (tr << 16) | (tg << 8) | tb
                else (br << 16) | (bg << 8) | bb
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    encodePng(img)
  }

  /** Stage one REAL PNG per document: a two-band pattern (top half one
    * color, bottom half another, both pure doc_id arithmetic), so the
    * decoded channel means are position-sensitive — a decoder that
    * ignored pixel layout could not match the oracle. */
  def imageTable(docs: DataFrame): Dataset[ImageItem] = {
    import docs.sparkSession.implicits._
    docs.select("doc_id").as[Long].mapPartitions { iter =>
      // ImageIO writer lookup is per-call; nothing heavier to init here
      iter.map(id => ImageItem(id, renderTwoBand(id, flat = false)))
    }
  }

  /** Constant-color variant: bilinear interpolation of equal samples is
    * the same sample, so channel means survive `resizeImages` exactly —
    * which makes the full encode→decode→resize→re-encode→decode chain
    * oracle-checkable. */
  def flatImageTable(docs: DataFrame): Dataset[ImageItem] = {
    import docs.sparkSession.implicits._
    docs.select("doc_id").as[Long].mapPartitions { iter =>
      iter.map(id => ImageItem(id, renderTwoBand(id, flat = true)))
    }
  }

  /** REAL image decode: `javax.imageio.ImageIO.read` (JDK-builtin
    * JPEG/PNG/GIF/BMP) → raster width/height + exact per-channel means.
    * Channel sums are integers, so `sum.toDouble / n` is one correctly
    * rounded division — bit-identical to the oracle's. */
  def decodeImages(items: Dataset[ImageItem]): Dataset[DecodedImage] = {
    import items.sparkSession.implicits._
    items.mapPartitions { iter =>
      iter.map { m =>
        val img = readPng(m.payload, m.doc_id) // SPI resolved once, see above
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toDouble
        DecodedImage(m.doc_id, w, h, sr / n, sg / n, sb / n)
      }
    }
  }

  /** REAL resize: decode → `Graphics2D` bilinear scale to (w, h) →
    * PNG re-encode. Output rows are again valid `ImageItem`s, so the
    * stage composes with `decodeImages` (and with itself). */
  def resizeImages(items: Dataset[ImageItem], w: Int, h: Int): Dataset[ImageItem] = {
    import items.sparkSession.implicits._
    items.mapPartitions { iter =>
      iter.map { m =>
        val src = readPng(m.payload, m.doc_id)
        val dst = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, w, h, null)
        g.dispose()
        ImageItem(m.doc_id, encodePng(dst))
      }
    }
  }

  /** q_multimodal_decode: stage real PNGs, decode with ImageIO, emit
    * dimensions + exact channel means. The oracle recomputes all five
    * from doc_id arithmetic — any loss anywhere in encode→decode
    * breaks the hash. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame =
    decodeImages(imageTable(Tables(spark, dir, "documents"))).toDF()

  /** q_multimodal_resize: constant-color PNGs → real bilinear resize to
    * 24×16 → re-encode → decode. Dimensions prove the resize; the
    * constant channel means prove the resampled pixels are the source
    * color (bilinear of a constant is the constant). */
  def imageResize(spark: SparkSession, dir: String): DataFrame =
    decodeImages(
      resizeImages(flatImageTable(Tables(spark, dir, "documents")), 24, 16))
      .toDF()

  // ── Real audio pipeline (JDK javax.sound.sampled, no external codecs) ─

  /** A real encoded audio clip: WAV (PCM 16-bit mono LE) bytes. */
  case class AudioItem(doc_id: Long, payload: Array[Byte])

  /** Decoded-waveform features: container metadata read from the WAV
    * header + exact integer sample statistics. */
  case class AudioFeatures(doc_id: Long, sample_rate: Int, channels: Int,
                           n_samples: Long, sum_amp: Long, peak: Int)

  /** Deterministic per-doc waveform: `n = 800 + id % 800` samples of
    * `s(i) = (id·31 + 7·i) mod 2001 − 1000` — pure integer arithmetic
    * the DuckDB oracle replays, so the decoded sum/peak are exactly
    * predictable while still exercising a genuine WAV container
    * encode → header-parse → PCM decode round trip. */
  private[graft] def audioSamples(id: Long): Array[Short] = {
    val n = (800 + id % 800).toInt
    Array.tabulate(n)(i => ((id * 31 + 7L * i) % 2001 - 1000).toShort)
  }

  /** The WAV codec SPIs resolved ONCE (lazily, per executor JVM):
    * `AudioSystem.write`/`getAudioInputStream` run a SYNCHRONIZED
    * service-provider lookup per call (`JDK13Services.getProviders` —
    * a static global lock), so the convenience entry points serialize
    * every task in the JVM. Measured: the sf1 audio row reproduced
    * 19× at 10× rows WARM — 32 threads queueing on the lookup lock,
    * not decoding audio. Resolving the providers once and calling the
    * SPI directly is the same parser/writer class with the per-row
    * lock gone (sf1 11.6 → ~1.4 s). */
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter SPI"))
  }
  private lazy val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toList
  }

  /** The ONE reader that accepts our WAV container, resolved once per
    * JVM against a reference clip. `AudioSystem.getAudioInputStream`'s
    * provider loop asks every registered reader in turn, and a
    * rejecting reader answers by THROWING UnsupportedAudioFileException
    * — per row, per rejecting provider, a stack-trace fill that
    * measured 54 µs/row with negative 32-thread scaling vs 6 µs for
    * the accepting reader called directly. Same parser class, probed
    * once instead of exception-probed 50k times. */
  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    val ref = encodeWav(0L).payload
    audioReaders.find { r =>
      try { r.getAudioInputStream(new java.io.ByteArrayInputStream(ref)); true }
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => false }
    }.getOrElse(throw new IllegalStateException("no AudioFileReader SPI accepts WAV"))
  }

  /** Stage one REAL WAV clip per document (8 kHz, 16-bit, mono). */
  def audioTable(docs: DataFrame): Dataset[AudioItem] = {
    import docs.sparkSession.implicits._
    docs.select("doc_id").as[Long].map(encodeWav(_))
  }

  /** One document's clip: its [[audioSamples]] as little-endian PCM in a
    * WAV container, written through the once-resolved [[wavWriter]]. */
  private def encodeWav(id: Long): AudioItem = {
    val samples = audioSamples(id)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xFF).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    AudioItem(id, bos.toByteArray)
  }

  /** REAL audio decode: the WAV reader SPI parses the container
    * (format, channel count, frame length from the header — not
    * trusted from the synth side; the provider is the one
    * `AudioSystem.getAudioInputStream`'s loop would select, resolved
    * once instead of exception-probed per row — see [[wavReader]]),
    * then the PCM payload is re-assembled into 16-bit samples for
    * exact integer stats. `readNBytes(frames·frameSize)` reads into an
    * exact-size buffer (readAllBytes over-allocates 8 KB + a final
    * copy per clip — pure GC pressure at 32 concurrent tasks). */
  def decodeAudio(items: Dataset[AudioItem]): Dataset[AudioFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { iter =>
      val reader = wavReader // codec resolved once, not per row
      iter.map { m =>
        val ais = reader.getAudioInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        val bytes = ais.readNBytes(frames.toInt * fmt.getFrameSize)
        var (sum, peak) = (0L, 0)
        var i = 0
        while (i < bytes.length / 2) {
          val s = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort
          sum += s
          peak = math.max(peak, math.abs(s.toInt))
          i += 1
        }
        AudioFeatures(m.doc_id, fmt.getSampleRate.toInt, fmt.getChannels,
          frames, sum, peak)
      }
    }
  }

  /** q_multimodal_audio: stage real WAV clips, decode them back, emit
    * header metadata + exact integer waveform stats — all predicted by
    * the oracle from doc_id arithmetic alone. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame =
    decodeAudio(audioTable(Tables(spark, dir, "documents"))).toDF()

  // ── Real video pipeline (animated GIF via JDK ImageIO) ─────────────
  //
  // No JDK ships an MP4/ffmpeg decoder, but animated GIF is a genuine
  // MULTI-FRAME video container every JDK reads and writes — so frame
  // extraction (the operation the byte-stub `frameSampleStub` stands in
  // for) can be real: seek to frame k, decode its raster, emit frame
  // features. The mapPartitions shape is identical to an ffmpeg/JNI
  // path; swapping the codec changes one reader line.

  /** A real multi-frame clip: animated GIF bytes. */
  case class VideoItem(doc_id: Long, payload: Array[Byte])

  /** One DECODED sampled frame: dims + exact channel means. */
  case class VideoFrame(doc_id: Long, frame_idx: Long, width: Int,
                        height: Int, mean_r: Double, mean_g: Double,
                        mean_b: Double)

  /** Frames per clip and per-frame colors — doc_id arithmetic, oracle-
    * mirrorable; constant-color frames survive GIF's palette exactly. */
  private[graft] def videoFrameCount(id: Long): Int = (4 + id % 4).toInt
  private[graft] def frameRgb(id: Long, f: Long): (Int, Int, Int) =
    (((id * 31 + f * 7) % 256).toInt, ((id * 13 + f * 11) % 256).toInt,
      ((id * 17 + f * 23) % 256).toInt)

  /** Stage one REAL animated GIF per document (20×12, 4–7 frames). */
  def videoTable(docs: DataFrame): Dataset[VideoItem] = {
    import docs.sparkSession.implicits._
    docs.select("doc_id").as[Long].mapPartitions { iter =>
      iter.map { id =>
        val bos = new java.io.ByteArrayOutputStream()
        val wr = gifWriterSpi.createWriterInstance() // no per-row registry
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        wr.setOutput(ios)
        wr.prepareWriteSequence(null)
        for (f <- 0 until videoFrameCount(id)) {
          val (r, g, b) = frameRgb(id, f.toLong)
          val img = new java.awt.image.BufferedImage(
            20, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val gg = img.createGraphics()
          gg.setColor(new java.awt.Color(r, g, b))
          gg.fillRect(0, 0, 20, 12)
          gg.dispose()
          wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        wr.endWriteSequence()
        ios.close()
        wr.dispose()
        VideoItem(id, bos.toByteArray)
      }
    }
  }

  /** REAL frame sampling: open the GIF, read every `everyNth` frame's
    * raster (random-access seek via the ImageIO reader — frames NOT
    * sampled are never decoded), emit dims + exact channel means. */
  def sampleVideoFrames(items: Dataset[VideoItem],
                        everyNth: Int = 2): Dataset[VideoFrame] = {
    import items.sparkSession.implicits._
    items.mapPartitions { iter =>
      // reader init once per partition would cache a JNI codec here
      iter.flatMap { m =>
        val rd = gifReaderSpi.createReaderInstance() // no per-row registry
        // memory-backed stream (the convenience createImageInputStream
        // would spool to a temp FILE per row under the default
        // use-cache); still closed — it owns a read-ahead buffer
        val in = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        try {
          rd.setInput(in)
          val n = rd.getNumImages(true)
          (0 until n by everyNth).map { f =>
            val img = rd.read(f)
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                x += 1
              }
              y += 1
            }
            val np = (w.toLong * h).toDouble
            VideoFrame(m.doc_id, f.toLong, w, h, sr / np, sg / np, sb / np)
          }
        } finally { rd.dispose(); in.close() }
      }
    }
  }

  /** q_multimodal_video: stage real animated GIFs, extract every 2nd
    * frame with a real multi-frame decode, emit per-frame dims + exact
    * channel means — all predicted by the oracle arithmetically. */
  def videoFrames(spark: SparkSession, dir: String): DataFrame =
    sampleVideoFrames(videoTable(Tables(spark, dir, "documents"))).toDF()

  /** Frame-sampling STUB (one row → many): treats the payload as
    * fixed-size pseudo-frames (`frameBytes` each) and emits every
    * `everyNth` frame — the exact flatMap shape of real video frame
    * extraction, with the ffmpeg call stubbed to a slice. */
  def frameSampleStub(items: Dataset[MediaItem], frameBytes: Int = 256,
                      everyNth: Int = 2): Dataset[MediaFrame] = {
    import items.sparkSession.implicits._
    items.flatMap { m =>
      m.payload.grouped(frameBytes).zipWithIndex
        .filter(_._2 % everyNth == 0)
        .map { case (bytes, idx) => MediaFrame(m.doc_id, idx.toLong, bytes) }
    }
  }

  /** A media payload embedded into R^dim. */
  case class MediaEmbedding(doc_id: Long, embedding: Array[Float])

  /** Shared L2-normalization epilogue (embedStub + imageFeatures feed
    * the same Similarity operators — one zero-vector policy). */
  private def l2Normalized(id: Long, v: Array[Float]): MediaEmbedding = {
    var s = 0.0
    v.foreach(x => s += x.toDouble * x)
    val n = math.sqrt(s).toFloat
    MediaEmbedding(id, if (n == 0f) v else v.map(_ / n))
  }

  /** Embedding-extraction STUB: a real deployment runs an ONNX/JNI
    * vision or audio encoder initialized once per partition; here the
    * "encoder" rolls payload bytes into a position-mixed histogram and
    * L2-normalizes — deterministic, locality-preserving for byte-similar
    * payloads, and shaped exactly like the real stage (typed in/out,
    * per-partition batches, `Array[Float]` column out, payloads never at
    * the driver). Output plugs straight into `Similarity`'s ANN
    * operators. */
  def embedStub(items: Dataset[MediaItem], dim: Int = 64): Dataset[MediaEmbedding] = {
    import items.sparkSession.implicits._
    items.mapPartitions { iter =>
      // encoder/model init once per partition here
      iter.map { m =>
        val v = new Array[Float](dim)
        var i = 0
        while (i < m.payload.length) {
          val b = m.payload(i) & 0xFF
          v((b * 31 + (i % 7)) % dim) += 1.0f
          i += 1
        }
        l2Normalized(m.doc_id, v)
      }
    }
  }

  /** Multimodal → similarity composition: embed the media table, then
    * exact cosine top-k over the stub embeddings — the end-to-end shape
    * of "find media like these" at corpus scale (swap `bruteForceTopK`
    * for `ivfTopK` when the corpus outgrows brute force). */
  def mediaNeighbors(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Similarity.bruteForceTopK(
      embedStub(mediaTable(spark, dir)).toDF()
        .select(col("doc_id").as("vec_id"), col("embedding")),
      col("vec_id") < 10, k)

  /** REAL visual features from DECODED pixels: each image is bilinear-
    * resized to a `grid`×`grid` thumbnail (real Graphics2D), whose RGB
    * pixels become a 3·grid² vector, L2-normalized — the classic
    * tiny-thumbnail visual descriptor (pHash's first stage). Not a
    * learned model, but every value comes from a genuine decode:
    * byte-identical images coincide, similarly-colored images land
    * near each other. Composes with `Similarity`'s ANN operators. */
  def imageFeatures(items: Dataset[ImageItem], grid: Int = 4): Dataset[MediaEmbedding] = {
    import items.sparkSession.implicits._
    // ONE decode per image: source PNG → in-memory bilinear thumbnail →
    // pixels, all inside a single mapPartitions (routing through
    // resizeImages would pay a pointless PNG re-encode + re-decode on
    // the hot path of the ANN-feature pipeline)
    items.mapPartitions { iter =>
      iter.map { m =>
        val src = readPng(m.payload, m.doc_id)
        val thumb = new java.awt.image.BufferedImage(
          grid, grid, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = thumb.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, grid, grid, null)
        g.dispose()
        val v = new Array[Float](3 * grid * grid)
        var i = 0
        var y = 0
        while (y < grid) {
          var x = 0
          while (x < grid) {
            val p = thumb.getRGB(x, y)
            v(i) = ((p >> 16) & 0xFF).toFloat
            v(i + 1) = ((p >> 8) & 0xFF).toFloat
            v(i + 2) = (p & 0xFF).toFloat
            i += 3
            x += 1
          }
          y += 1
        }
        l2Normalized(m.doc_id, v)
      }
    }
  }

  /** Decoded-pixel composition: real PNGs → real resize → thumbnail
    * features → exact cosine top-k. "Find images that look like these"
    * with every stage real except nothing — the full multimodal ANN
    * pipeline on JDK codecs alone. */
  def imageNeighbors(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Similarity.bruteForceTopK(
      imageFeatures(imageTable(Tables(spark, dir, "documents"))).toDF()
        .select(col("doc_id").as("vec_id"), col("embedding"))
        // an all-black image is a zero vector — no direction, so it can
        // neither query nor match under cosine (ANSI div-by-zero guard)
        .where(expr("exists(embedding, x -> x != 0F)")),
      col("vec_id") < 10, k)

  /** q_multimodal_frames: per-document frame-sampling ledger — frame
    * count and sampled-byte mass from `frameSampleStub` (every 2nd
    * 256-byte pseudo-frame). The sampling arithmetic is deterministic,
    * so unlike the codec stub itself this composition IS oracle-checkable
    * (the DuckDB mirror recomputes it from byte lengths). */
  def frameLedger(spark: SparkSession, dir: String): DataFrame =
    frameSampleStub(mediaTable(spark, dir))
      .toDF()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("payload")).cast("long")).as("frame_bytes"))

  /** North-star q_multimodal: driver-checkable projection (the histogram
    * array is covered by ScalaTest; byte length / checksum / digest have
    * an exact DuckDB mirror). */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir))
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("checksum"), col("digest"))
}
