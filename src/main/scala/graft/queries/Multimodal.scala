package graft.queries

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column support for opaque binary payloads (image / audio /
  * video at 100 TB scale).
  *
  * The Spark-side mechanics are production-shaped:
  *  - payloads are opaque `BinaryType` columns with a typed metadata
  *    struct alongside (n_bytes, mime), the standard layout for petabyte
  *    media lakes (payload column stays pruned away unless referenced);
  *  - feature extraction runs per-partition over iterators
  *    (`mapPartitions`), the batch shape a real decoder needs — one init
  *    per partition, streaming rows through;
  *  - image payloads are REALLY decoded: `javax.imageio` (in the JDK,
  *    headless-safe) reads PNG/BMP/GIF bytes to pixels and the feature
  *    vector is a 16-bin luminance histogram of the decoded raster;
  *  - audio payloads are REALLY decoded too: `javax.sound.sampled`
  *    reads WAV/AU/AIFF to 16-bit PCM and the feature vector is a
  *    16-bin amplitude histogram of the samples;
  *  - other mimes fall back to a deterministic byte-histogram
  *    "feature vector" (documented stub — video codecs are not in the
  *    JDK), so the pipeline stays end-to-end testable for any mime.
  */
object Multimodal {

  case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      mime: String,
      head_hex: String,
      width: Int,
      height: Int,
      features: Array[Long])

  /** Fallback "decoder" for mimes the JDK can't decode (video):
    * deterministic 16-bin histogram of payload bytes.
    */
  private def byteHistogram(payload: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](16)
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xff) % 16) += 1L
      i += 1
    }
    hist
  }

  /** Real image decode: payload bytes → pixels via `javax.imageio`, then
    * a 16-bin luminance histogram (bin = luma / 16). Single-band rasters
    * read the raw sample (exact for gray PNG/BMP); multi-band images use
    * integer ITU-R 601 luma. Returns (width, height, histogram); null
    * image (undecodable bytes) degrades to the byte-histogram fallback
    * with width/height 0 rather than failing the partition.
    */
  /** 16-bin luminance histogram of a decoded raster: single-band images
    * read the raw sample (exact for gray PNG/BMP/GIF), multi-band use
    * integer ITU-R 601 luma.
    */
  private def lumaHistogram(img: BufferedImage): Array[Long] = {
    val w = img.getWidth
    val h = img.getHeight
    val hist = new Array[Long](16)
    val raster = img.getRaster
    val singleBand = img.getColorModel.getNumComponents == 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v =
          if (singleBand) raster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y)
            (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
          }
        // min-guard: >8-bit samples (16-bit gray PNG) land in the top bin
        hist(math.min(v / 16, 15)) += 1L
        x += 1
      }
      y += 1
    }
    hist
  }

  private def decodeImage(payload: Array[Byte]): (Int, Int, Array[Long]) = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    if (img == null) (0, 0, byteHistogram(payload))
    else (img.getWidth, img.getHeight, lumaHistogram(img))
  }

  /** Real audio decode for PCM payloads (WAV/AU/AIFF — the formats the
    * JDK's `javax.sound.sampled` reads): the stream is normalized to
    * 16-bit signed little-endian PCM and the feature vector is a 16-bin
    * amplitude histogram (bin = (sample + 32768) / 4096). Returns
    * (total samples, channels, histogram); unreadable bytes degrade to
    * the byte-histogram fallback with 0 dims.
    */
  private def decodeAudio(payload: Array[Byte]): (Int, Int, Array[Long]) =
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      val target = new AudioFormat(fmt.getSampleRate, 16, fmt.getChannels, true, false)
      val pcm = AudioSystem.getAudioInputStream(target, ais).readAllBytes()
      val hist = new Array[Long](16)
      val n = pcm.length / 2
      var i = 0
      while (i < n) {
        val v = (pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8)
        hist((v + 32768) / 4096) += 1L
        i += 1
      }
      (n, fmt.getChannels, hist)
    } catch { case _: Exception => (0, 0, byteHistogram(payload)) }

  /** Deterministic synthetic 16-bit mono PCM clip, returned as REAL WAV
    * bytes (`AudioSystem.write`): sample(i) = ((seed·37 + 31i + 7) mod
    * 65536) − 32768. Closed form for the oracle, real codec for the
    * engine — the audio sibling of [[syntheticImage]].
    */
  def syntheticWav(seed: Long, nSamples: Int): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = (((seed * 37L + i * 31L + 7L) % 65536L) - 32768L).toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** One synthetic WAV per input doc_id (256 + id mod 64 samples, seeded
    * with the id), in the standard blob layout. Partition-parallel.
    */
  def syntheticAudioBlobs(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = 256 + (id % 64).toInt
          (id, syntheticWav(id, n), n * 2L, "audio/wav")
        }
      }
      .toDF("doc_id", "payload", "n_bytes", "mime")
      .select(col("doc_id"), col("payload"),
        struct(col("n_bytes"), col("mime")).as("meta"))
  }

  /** Deterministic synthetic grayscale image, returned as REAL encoded
    * bytes (`ImageIO.write`, PNG by default — BMP/GIF work too): pixel
    * (x, y) = (seed·31 + 7x + 13y [+ 16 when `bumped` and x = 0, y < 2])
    * mod 256. The closed form lets an engine-independent oracle replay
    * the expected pixels without a codec, so decoding the image back is
    * a full round-trip check of the real `javax.imageio` path. `bumped`
    * plants a 2-pixel perturbation — the "near-duplicate image" for
    * perceptual-hash gates.
    */
  def syntheticImage(seed: Long, w: Int, h: Int, bumped: Boolean = false,
      format: String = "png"): Array[Byte] = {
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bump = if (bumped && x == 0 && y < 2) 16L else 0L
        px(y * w + x) = (((seed * 31L + x * 7L + y * 13L + bump) % 256L + 256L) % 256L).toByte
        x += 1
      }
      y += 1
    }
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, px)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** One synthetic PNG per input doc_id (width 16 + id mod 16, height 16;
    * pixels per [[syntheticImage]] seeded with the ORIGINAL id), emitted in
    * the standard blob layout (payload + meta struct). `idOffset` relabels
    * the output doc_id — with `bumped`, that is the planted near-duplicate
    * corpus for m04. Generation is partition-parallel; nothing touches the
    * driver.
    */
  def syntheticImageBlobs(ids: DataFrame, idOffset: Long = 0L,
      bumped: Boolean = false): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 16 + (id % 16).toInt
          (id + idOffset, syntheticImage(id, w, 16, bumped), w * 16L, "image/png")
        }
      }
      .toDF("doc_id", "payload", "n_bytes", "mime")
      .select(col("doc_id"), col("payload"),
        struct(col("n_bytes"), col("mime")).as("meta"))
  }

  /** Deterministic synthetic multi-frame grayscale clip, returned as a
    * REAL animated GIF (`ImageWriter.writeToSequence`): frame f pixel
    * (x, y) = (seed·29 + 7f + 3x + 5y) mod 256. Grayscale GIF palettes
    * round-trip exactly, so the oracle replays the pixel formula while
    * the engine decodes the actual container — the video-shaped sibling
    * of [[syntheticImage]]/[[syntheticWav]].
    */
  def syntheticGif(seed: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(y * w + x) =
            (((seed * 29L + f * 7L + x * 3L + y * 5L) % 256L + 256L) % 256L).toByte
          x += 1
        }
        y += 1
      }
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, px)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        writer.getDefaultWriteParam)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** One synthetic animated GIF per input doc_id (width 12 + id mod 8,
    * height 8, 3 + id mod 5 frames, seeded with the id), in the standard
    * blob layout. Partition-parallel.
    */
  def syntheticVideoBlobs(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 12 + (id % 8).toInt
          val nf = 3 + (id % 5).toInt
          val gif = syntheticGif(id, w, 8, nf)
          (id, gif, gif.length.toLong, "image/gif")
        }
      }
      .toDF("doc_id", "payload", "n_bytes", "mime")
      .select(col("doc_id"), col("payload"),
        struct(col("n_bytes"), col("mime")).as("meta"))
  }

  /** REAL frame extraction from multi-frame image containers (animated
    * GIF — the one multi-frame format the JDK decodes): every `stride`-th
    * frame is decoded to pixels and emitted as one row with its luminance
    * histogram — the real-decode counterpart of the byte-sliced
    * [[sampleFrames]]. Unreadable payloads yield no rows. Per-partition
    * reader init, streaming rows through.
    */
  def sampleImageFrames(blobs: DataFrame, stride: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // r12 (quiet-record creep follow-up): the reader really is
        // per-partition now — one ImageReader per FORMAT cached across
        // the partition's rows, re-targeted with setInput per payload.
        // The old loop sniffed via ImageIO.getImageReaders per row,
        // which instantiates a fresh reader from the registry SPI for
        // every payload; magic-byte sniffing keeps the hot formats
        // (GIF/PNG) off that path, unknowns fall back to the registry.
        val cache = scala.collection.mutable.Map.empty[String, javax.imageio.ImageReader]
        def fmtOf(p: Array[Byte]): Option[String] =
          if (p.length >= 6 && p(0) == 'G'.toByte && p(1) == 'I'.toByte &&
            p(2) == 'F'.toByte) Some("gif")
          else if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte)
            Some("png")
          else scala.None
        it.flatMap { case (id, payload) =>
          val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
          val reader = fmtOf(payload) match {
            case Some(f) =>
              Some(cache.getOrElseUpdate(f,
                ImageIO.getImageReadersByFormatName(f).next()))
            case scala.None =>
              val rs = ImageIO.getImageReaders(iis)
              if (rs.hasNext) Some(rs.next()) else scala.None
          }
          reader match {
            case scala.None => Iterator.empty
            case Some(r) =>
              r.setInput(iis)
              val n = r.getNumImages(true)
              // strict map: all frames decode BEFORE the next payload
              // re-targets the shared reader
              (0 until n by stride).map { f =>
                val img = r.read(f)
                (id, f, img.getWidth, img.getHeight, lumaHistogram(img))
              }
          }
        }
      }
      .toDF("doc_id", "frame_no", "width", "height", "features")
  }

  /** Frame-level loudness segmentation over REALLY-decoded PCM (same
    * `javax.sound.sampled` path as the feature extractor): the clip is
    * cut into fixed `frameSize`-sample frames and each frame emits
    * integer loudness stats — the primitive under silence trimming and
    * voice-activity gating. Per-partition codec init, rows stream out;
    * undecodable payloads yield no rows.
    */
  def segmentAudioFrames(blobs: DataFrame, frameSize: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try {
          val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          val target = new AudioFormat(fmt.getSampleRate, 16, fmt.getChannels, true, false)
          val pcm = AudioSystem.getAudioInputStream(target, ais).readAllBytes()
          val n = pcm.length / 2
          val nf = (n + frameSize - 1) / frameSize
          (0 until nf).map { f =>
            val end = math.min((f + 1) * frameSize, n)
            var i = f * frameSize
            var maxAbs = 0L
            var sumAbs = 0L
            while (i < end) {
              val v = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8)).toLong
              val a = math.abs(v)
              if (a > maxAbs) maxAbs = a
              sumAbs += a
              i += 1
            }
            (id, f, end - f * frameSize, maxAbs, sumAbs)
          }
        } catch { case _: Exception => Nil }
      }
      .toDF("doc_id", "frame_no", "n_samples", "max_abs", "sum_abs")
  }

  /** Real decode to raw u16 samples (sample + 32768, so every value is
    * non-negative and integer division below stays floor in any
    * engine): the imperative part of the m12 resample op is ONLY this
    * codec call — the interpolation itself is declarative array math
    * on the returned column, inside whole-stage codegen. Unreadable
    * payloads yield an empty sample array (n_in = 0), never a crash.
    */
  def decodedAudioSamples(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          try {
            val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
            val fmt = ais.getFormat
            val target = new AudioFormat(fmt.getSampleRate, 16, fmt.getChannels, true, false)
            val pcm = AudioSystem.getAudioInputStream(target, ais).readAllBytes()
            val n = pcm.length / 2
            val u = new Array[Int](n)
            var i = 0
            while (i < n) {
              u(i) = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8)) + 32768
              i += 1
            }
            (id, n.toLong, u)
          } catch { case _: Exception => (id, 0L, Array.empty[Int]) }
        }
      }
      .toDF("doc_id", "n_in", "u")
  }

  case class Frame(
      doc_id: Long,
      frame_no: Int,
      offset: Long,
      frame_bytes: Int,
      digest: Long)

  /** Frame sampling for video/audio-shaped payloads: cut the opaque
    * payload into fixed-size "frames", keep every `stride`-th one, and
    * emit one row per sampled frame (the explode shape a real
    * frame-extractor produces). The decode itself is STUBBED with a
    * deterministic byte digest (no video codec in the JDK).
    */
  def sampleFrames(blobs: DataFrame, frameSize: Int, stride: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val nFrames = (payload.length + frameSize - 1) / frameSize
        (0 until nFrames by stride).map { f =>
          val start = f * frameSize
          val end = math.min(start + frameSize, payload.length)
          // modular polynomial digest (< 2^31): no 64-bit wraparound, so
          // the value is reproducible in engines whose integer overflow
          // errors instead of wrapping — this makes the digest oracle-able
          var digest = 1125899906842597L % 2147483647L
          var i = start
          while (i < end) { digest = (31L * digest + (payload(i) & 0xff)) % 2147483647L; i += 1 }
          Frame(id, f, start.toLong, end - start, digest)
        }
      }
      .toDF()
  }

  /** Batched "model inference" over opaque payloads — the GPU-shaped
    * access pattern: rows are grouped into fixed keyed batches
    * (doc_id div batchSize, so the batch composition is deterministic
    * and engine-checkable; a real pipeline batches whatever rows the
    * partition iterator yields), each batch materializes as one array
    * — the shape a model forward pass wants — and the STUB model
    * scores the whole batch in a single call, emitting per-row digests
    * plus batch-level stats so the batching behavior itself is
    * observable in the gate output.
    */
  def batchedInference(blobs: DataFrame, batchSize: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .groupByKey(_._1 / batchSize)
      .flatMapGroups { (bk: Long, it: Iterator[(Long, Array[Byte])]) =>
        val batch = it.toArray.sortBy(_._1) // deterministic batch order
        val batchBytes = batch.map(_._2.length.toLong).sum
        batch.map { case (id, p) =>
          // same modular digest family as sampleFrames (< 2^31, no
          // wraparound) so the oracle replays it byte-for-byte
          var d = 7L
          var i = 0
          while (i < p.length) { d = (31L * d + (p(i) & 0xff)) % 2147483647L; i += 1 }
          (id, bk, batch.length.toLong, batchBytes, d)
        }
      }
      .toDF("doc_id", "batch_key", "batch_size", "batch_bytes", "digest")
  }

  /** Real thumbnail generation: decode the payload via `javax.imageio`,
    * nearest-neighbor sample to `tw`×`th` (src = (t·src_dim) div t_dim —
    * exact integer sampling, so the resize is replayable by a
    * codec-free oracle), emit the thumbnail gray values and the exact
    * integer mean luminance. NN is the one classical resize kernel with
    * no float arithmetic; the engine path still exercises the real
    * decoder. Undecodable payloads yield no rows. Partition-parallel.
    */
  def resizeThumbnails(blobs: DataFrame, tw: Int, th: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val img = ImageIO.read(new ByteArrayInputStream(payload))
          if (img == null) Iterator.empty
          else {
            val w = img.getWidth
            val h = img.getHeight
            val raster = img.getRaster
            val single = img.getColorModel.getNumComponents == 1
            val thumb = new Array[Long](tw * th)
            var ty = 0
            while (ty < th) {
              var tx = 0
              while (tx < tw) {
                val sx = tx * w / tw
                val sy = ty * h / th
                val v =
                  if (single) raster.getSample(sx, sy, 0)
                  else {
                    val rgb = img.getRGB(sx, sy)
                    (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                      (rgb & 0xff) * 114) / 1000
                  }
                thumb(ty * tw + tx) = v.toLong
                tx += 1
              }
              ty += 1
            }
            Iterator((id, w, h, thumb.sum / (tw * th), thumb))
          }
        }
      }
      .toDF("doc_id", "src_w", "src_h", "mean_luma", "thumb")
  }

  /** Feature extraction over the standard blob layout (doc_id LONG,
    * payload BINARY, meta STRUCT<n_bytes, mime>): payloads with an
    * image mime go
    * through the real `javax.imageio` decode (features = 16-bin luminance
    * histogram of decoded pixels, width/height from the raster); audio
    * mimes go through the real `javax.sound.sampled` PCM decode
    * (features = 16-bin amplitude histogram; width = total samples,
    * height = channels); other mimes (video — no codec in the JDK) take
    * the byte-histogram fallback with width/height 0.
    */
  def extractFeatures(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaFeatures] = blobs
      .select(col("doc_id"), col("payload"), col("meta.n_bytes"), col("meta.mime"))
      .as[(Long, Array[Byte], Long, String)]
      .mapPartitions { it =>
        // per-partition init for a heavier decoder would happen here
        it.map { case (id, payload, nBytes, mime) =>
          val head = payload.take(8).map(b => f"${b & 0xff}%02x").mkString
          val (w, h, features) =
            if (mime != null && mime.startsWith("image/")) decodeImage(payload)
            else if (mime != null && mime.startsWith("audio/")) decodeAudio(payload)
            else (0, 0, byteHistogram(payload))
          MediaFeatures(id, nBytes, mime, head, w, h, features)
        }
      }
    ds.toDF()
  }
}
