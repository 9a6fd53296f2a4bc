package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata extracted by a *batched* per-
  * partition decode — the Scala analog of `mapInPandas` (buffer a batch,
  * run the codec over the batch, emit rows).
  *
  * Codecs, all REAL and all in-JDK: [[ImageIoCodec]] decodes images over
  * `javax.imageio` (PNG/JPEG/GIF/BMP — magic-byte sniff, full decode,
  * per-row error channel for corrupt payloads); [[WavCodec]] decodes
  * audio over `javax.sound.sampled`; [[GifFramesCodec]] decodes
  * multi-frame animated GIF as the video twin (frame count, per-frame
  * raster decode, evenly-spaced frame sampling). [[StubCodec]] remains
  * only as the arithmetic stand-in used by the x1 metadata-plumbing
  * entry, keyed on the payload bytes so its output is reproducible in
  * the SQL oracle. The plumbing — schema, binary column, batch shape,
  * partition parallelism — is shared and identical across codecs.
  */
object Multimodal {

  /** Typed metadata row produced by the decode stage. */
  final case class MediaMeta(
      doc_id: Long, format: String, width: Int, height: Int, n_bytes: Long)

  /** STUB codec — stands in for an image decoder. Deterministic pure
    * function of the payload so results are verifiable; swap the body for
    * a real codec (JNI/javax.imageio) without touching the plumbing. */
  object StubCodec {
    def decode(payload: Array[Byte]): (String, Int, Int) = {
      val n = payload.length.toLong
      val format = (n % 3) match {
        case 0 => "png"
        case 1 => "jpeg"
        case _ => "webp"
      }
      (format, (n % 640 + 1).toInt, (n * 7 % 480 + 1).toInt)
    }
  }

  /** One-time per-JVM: ImageIO's stream cache defaults to a TEMP FILE per
    * encode/decode — for the KB-sized in-memory payloads every x-tier row
    * carries, that is one file create+write+delete per image and was the
    * decode tier's dominant cost (r15, guide §1.2 per-task work). The
    * memory cache is value-identical (same codec, same bytes). Referenced
    * from every ImageIO call site so executors flip it before first use. */
  private[operators] lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** REAL image codec over `javax.imageio` (ships in the JDK — no external
    * deps). Magic-byte sniff first (cheap reject of non-image payloads),
    * then a full decode; every failure mode lands in the Left error
    * channel instead of throwing mid-task. */
  object ImageIoCodec {
    def sniffFormat(b: Array[Byte]): Option[String] =
      if (b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P'.toByte &&
          b(2) == 'N'.toByte && b(3) == 'G'.toByte) Some("png")
      else if (b.length >= 3 && b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) Some("jpeg")
      else if (b.length >= 6 && b(0) == 'G'.toByte && b(1) == 'I'.toByte &&
          b(2) == 'F'.toByte && b(3) == '8'.toByte) Some("gif")
      else if (b.length >= 2 && b(0) == 'B'.toByte && b(1) == 'M'.toByte) Some("bmp")
      else None

    /** Decode to (format, width, height) or an error message. */
    def decode(payload: Array[Byte]): Either[String, (String, Int, Int)] = {
      imageIoMemCache
      sniffFormat(payload) match {
        case None => Left("unrecognized magic bytes")
        case Some(fmt) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(payload))
            if (img == null) Left(s"undecodable $fmt payload")
            else Right((fmt, img.getWidth, img.getHeight))
          } catch {
            case e: Exception => Left(s"decode error: ${e.getMessage}")
          }
      }
    }
  }

  /** REAL audio codec over `javax.sound.sampled` (ships in the JDK — the
    * same zero-dep move as ImageIO). RIFF/WAVE magic sniff, then a full
    * header parse; failures land in the Left error channel. Duration is
    * integer microseconds (frames·10⁶ ÷ rate, integer division) so a SQL
    * oracle can re-derive it exactly. */
  object WavCodec {
    def sniffWav(b: Array[Byte]): Boolean =
      b.length >= 12 && b(0) == 'R'.toByte && b(1) == 'I'.toByte &&
        b(2) == 'F'.toByte && b(3) == 'F'.toByte &&
        b(8) == 'W'.toByte && b(9) == 'A'.toByte &&
        b(10) == 'V'.toByte && b(11) == 'E'.toByte

    /** Decode to (sampleRate, channels, frames, durationMicros) or error. */
    def decode(payload: Array[Byte]): Either[String, (Int, Int, Long, Long)] =
      if (!sniffWav(payload)) Left("not a RIFF/WAVE payload")
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = in.getFormat
          val rate = fmt.getSampleRate.toInt
          val frames = in.getFrameLength
          if (rate <= 0 || frames < 0) Left(s"bad header: rate=$rate frames=$frames")
          else Right((rate, fmt.getChannels, frames, frames * 1000000L / rate))
        } finally in.close()
      } catch {
        case e: Exception => Left(s"decode error: ${e.getMessage}")
      }
  }

  /** Synthetic audio fixture: one REAL little PCM-16 WAV per row, written
    * with AudioSystem, parameters a pure function of the id
    * (rate ∈ {8000, 16000, 44100} by id%3, channels = id%2+1,
    * frames = id%500+100) so a SQL oracle re-derives what the decoder
    * must find. Distributed generation, like [[syntheticPngs]]. */
  def syntheticWavs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val rate = (id % 3) match {
          case 0 => 8000; case 1 => 16000; case _ => 44100
        }
        val channels = (id % 2 + 1).toInt
        val frames = (id % 500 + 100).toInt
        val fmt = new javax.sound.sampled.AudioFormat(
          rate.toFloat, 16, channels, true, false)
        val pcm = new Array[Byte](frames * channels * 2)
        var i = 0
        while (i < frames * channels) { // deterministic samples, no RNG
          val s = ((id + i * 31) % 65536 - 32768).toShort
          pcm(2 * i) = (s & 0xFF).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        (id, out.toByteArray)
      }
    }.toDF(idCol, "payload")
  }

  /** Decoded audio row with the per-row error channel. */
  final case class AudioDecoded(
      doc_id: Long, sample_rate: Int, channels: Int, n_frames: Long,
      duration_us: Long, n_bytes: Long, err: String)

  /** Batched REAL audio metadata extraction through [[WavCodec]] — same
    * partition-streaming batch shape and error-channel contract as
    * [[extractMetaImage]]. */
  def extractMetaAudio(df: DataFrame, idCol: String,
      batchSize: Int = 256): Dataset[AudioDecoded] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            WavCodec.decode(payload) match {
              case Right((rate, ch, frames, durUs)) =>
                AudioDecoded(id, rate, ch, frames, durUs, payload.length.toLong, null)
              case Left(msg) =>
                AudioDecoded(id, -1, -1, -1L, -1L, payload.length.toLong, msg)
            }
          }
        }
      }
  }

  /** Attach the opaque binary payload column (here derived from text —
    * in production this is the raw media bytes column). */
  def withPayload(df: DataFrame, srcCol: String): DataFrame =
    df.withColumn("payload", col(srcCol).cast("binary"))

  /** Synthetic image fixture: one REAL tiny PNG per row, encoded with
    * ImageIO, dimensions a pure function of the id (width = id%64+1,
    * height = id*7%48+1) so a SQL oracle re-derives what the decoder must
    * find. Runs per-partition (distributed generation — no driver loop). */
  def syntheticPngs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      imageIoMemCache
      it.map { id =>
        val w = (id % 64 + 1).toInt
        val h = (id * 7 % 48 + 1).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var x = 0
        while (x < w) { // deterministic pixel pattern, no RNG
          var y = 0
          while (y < h) { img.setRGB(x, y, ((id + x * 31 + y * 7) % 0xFFFFFF).toInt); y += 1 }
          x += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        (id, out.toByteArray)
      }
    }.toDF(idCol, "payload")
  }

  /** Decoded row with the error channel: exactly one of
    * (width/height) or `err` is meaningful. */
  final case class MediaDecoded(
      doc_id: Long, format: String, width: Int, height: Int,
      n_bytes: Long, err: String)

  /** Batched REAL metadata extraction through [[ImageIoCodec]]: same
    * partition-streaming batch shape as [[extractMeta]], but failures go
    * to the `err` column (per-row error channel, the pipeline never
    * dies on one corrupt payload). */
  def extractMetaImage(df: DataFrame, idCol: String,
      batchSize: Int = 256): Dataset[MediaDecoded] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoMemCache
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            ImageIoCodec.decode(payload) match {
              case Right((fmt, w, h)) =>
                MediaDecoded(id, fmt, w, h, payload.length.toLong, null)
              case Left(msg) =>
                MediaDecoded(id, null, -1, -1, payload.length.toLong, msg)
            }
          }
        }
      }
  }

  /** REAL multi-frame "video" codec over animated GIF — the one moving-
    * picture container the JDK decodes natively (`javax.imageio` image
    * sequences). Frame count from the reader's true index scan, per-frame
    * full decode, evenly-spaced frame sampling — the frame-extraction
    * batch shape of a production video pipeline, with an in-JDK codec
    * instead of an FFmpeg JNI binding. */
  object GifFramesCodec {
    def sniffGif(b: Array[Byte]): Boolean =
      b.length >= 6 && b(0) == 'G'.toByte && b(1) == 'I'.toByte &&
        b(2) == 'F'.toByte && b(3) == '8'.toByte

    /** Decode to (nFrames, width, height, sampled (frameId, pixelSum))
      * or an error. Sampling picks ≤ `maxSamples` evenly-spaced frames
      * (step = ceil(n/maxSamples)); pixelSum sums the decoded gray
      * channel over every pixel of the frame — a value only obtainable
      * by actually decoding the frame raster. */
    def decode(payload: Array[Byte], maxSamples: Int = 4)
        : Either[String, (Int, Int, Int, Seq[(Int, Long)])] =
      if (!sniffGif(payload)) Left("not a GIF payload")
      else try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) Left("no GIF reader")
          else {
            val r = readers.next()
            r.setInput(iis)
            val n = r.getNumImages(true) // true frame scan, not a header guess
            val step = (n + maxSamples - 1) / maxSamples
            val sampled = (0 until maxSamples).map(_ * step).filter(_ < n)
              .map { i =>
                val img = r.read(i)
                var sum = 0L
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) {
                    sum += (img.getRGB(x, y) & 0xFF) // gray = blue channel
                    x += 1
                  }
                  y += 1
                }
                (i, sum)
              }
            val f0 = r.read(0)
            r.dispose()
            Right((n, f0.getWidth, f0.getHeight, sampled))
          }
        } finally iis.close()
      } catch {
        case e: Exception => Left(s"decode error: ${e.getMessage}")
      }
  }

  /** Synthetic video fixture: one REAL animated GIF per row (multi-frame,
    * written with the JDK's GIF sequence writer), every parameter a pure
    * function of the id — nFrames = id%8+2, width = id%32+8,
    * height = id*3%24+8, pixel(f, x, y) = (id + f*17 + x*31 + y*7) % 256
    * grayscale — so a SQL oracle re-derives both the metadata AND the
    * per-frame pixel sums the decoder must find. 256 gray levels fit a
    * GIF palette exactly, so the round-trip is lossless. Distributed
    * generation, like [[syntheticPngs]]. */
  def syntheticGifs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      imageIoMemCache
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      it.map { id =>
        val n = (id % 8 + 2).toInt
        val w = (id % 32 + 8).toInt
        val h = (id * 3 % 24 + 8).toInt
        val out = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(out)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < n) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, ((id + f * 17 + x * 31 + y * 7) % 256).toInt)
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.close()
        (id, out.toByteArray)
      }
    }.toDF(idCol, "payload")
  }

  /** One sampled frame with the decode evidence (pixel_sum) and the
    * error channel. */
  final case class VideoFrame(
      doc_id: Long, frame_id: Int, n_frames: Int, width: Int, height: Int,
      pixel_sum: Long, err: String)

  /** Batched REAL frame sampling through [[GifFramesCodec]]: same
    * partition-streaming batch shape as the image/audio decoders; emits
    * one row per sampled frame (≤ `maxSamples` per video). */
  def sampleGifFrames(df: DataFrame, idCol: String, maxSamples: Int = 4,
      batchSize: Int = 64): Dataset[VideoFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoMemCache
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, payload) =>
            GifFramesCodec.decode(payload, maxSamples) match {
              case Right((n, w, h, frames)) =>
                frames.map { case (fid, sum) =>
                  VideoFrame(id, fid, n, w, h, sum, null)
                }
              case Left(msg) =>
                Seq(VideoFrame(id, -1, -1, -1, -1, -1L, msg))
            }
          }
        }
      }
  }

  /** Synthetic NEAR-DUP image fixture (r15, x6/x7): one REAL gray PNG
    * per row; every id ≡ 4 (mod 5) is a near-copy of id−1 — same
    * dimensions, same base pixel ramp, only a 3×3 corner patch shifted
    * by +128 gray levels — and every other id is a DISTINCT ramp
    * (per-base odd multipliers vary the mod-256 wrap cadence, so
    * unrelated images hash far apart). All parameters pure functions of
    * the id (base = id−1 for near-copies; w = base%32+16,
    * h = base·3%24+16, pixel(x,y) = (base + x·(2·(base%13)+5) +
    * y·(2·(base%11)+3) [+128 on the perturbed patch]) % 256), so a SQL
    * oracle re-derives the exact rasters the decoder must produce. 256
    * gray levels fit TYPE_BYTE_GRAY PNG exactly — the round-trip is
    * lossless. Distributed generation, like [[syntheticPngs]]. */
  def syntheticPngsNearDup(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      imageIoMemCache
      it.map { id =>
        val base = if (id % 5 == 4) id - 1 else id
        val pert = id % 5 == 4
        val w = (base % 32 + 16).toInt
        val h = (base * 3 % 24 + 16).toInt
        val mx = (base % 13) * 2 + 5
        val my = (base % 11) * 2 + 3
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bump = if (pert && x < 3 && y < 3) 128L else 0L
            raster.setSample(x, y, 0,
              ((base + x * mx + y * my + bump) % 256).toInt)
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        (id, out.toByteArray)
      }
    }.toDF(idCol, "payload")
  }

  /** Floor-mean cell grid over the decoded gray raster: cell (i, j)
    * collects pixels with i = x·gw/w, j = y·gh/h (integer division —
    * the exactly-replayable partition; every cell is nonempty when
    * w ≥ gw and h ≥ gh), mean = sum/count floored. The whole
    * derivation stays in exact integer arithmetic so any SQL engine
    * reproduces it bit-for-bit — the deliberate divergence from
    * interpolating resizers, whose rounding is library-specific. */
  private def gridMeans(img: java.awt.image.BufferedImage,
      gw: Int, gh: Int): Array[Array[Long]] = {
    val w = img.getWidth; val h = img.getHeight
    val sums = Array.ofDim[Long](gw, gh)
    val cnts = Array.ofDim[Long](gw, gh)
    // gray channel: the RAW band-0 sample for single-band (true gray)
    // rasters — getRGB on TYPE_BYTE_GRAY routes through a gray→sRGB
    // colorspace conversion, which is monotone (dHash comparisons
    // survive) but NOT identity (aHash's global mean does not) — and
    // the blue channel of getRGB for multi-band images, the
    // GifFramesCodec convention
    val raster = img.getRaster
    val singleBand = raster.getNumBands == 1
    var y = 0
    while (y < h) {
      val cj = y * gh / h
      var x = 0
      while (x < w) {
        val ci = x * gw / w
        sums(ci)(cj) +=
          (if (singleBand) raster.getSample(x, y, 0)
           else img.getRGB(x, y) & 0xFF)
        cnts(ci)(cj) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(gw, gh)((i, j) => sums(i)(j) / cnts(i)(j))
  }

  /** dHash-64: 9×8 floor-mean grid, bit j·8+i set iff cell (i+1, j) is
    * strictly brighter than cell (i, j) — the standard horizontal-
    * gradient perceptual hash (8 comparisons × 8 rows = 64 bits). A
    * local perturbation moves only the bits whose cells it touches,
    * which is what makes Hamming distance a similarity measure — and
    * what guarantees the untouched bands still collide in the LSH
    * stage. */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val m = gridMeans(img, 9, 8)
    var hash = 0L
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (m(i + 1)(j) > m(i)(j)) hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** aHash-64: 8×8 floor-mean grid, bit j·8+i set iff cell (i, j) is
    * strictly brighter than the floor-mean of the 64 cell means — the
    * average-hash companion to [[dHash64]] (global-brightness
    * structure where dHash captures gradients). */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val m = gridMeans(img, 8, 8)
    var total = 0L
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) { total += m(i)(j); i += 1 }
      j += 1
    }
    val avg = total / 64
    var hash = 0L
    j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (m(i)(j) > avg) hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** One perceptually-hashed image row; exactly one of (dhash, ahash)
    * or `err` is meaningful. */
  final case class ImageHashed(doc_id: Long, width: Int, height: Int,
      dhash: Long, ahash: Long, err: String)

  /** Batched perceptual hashing (r15, x6): REAL decode through the
    * ImageIO reader, then [[dHash64]]/[[aHash64]] over the decoded
    * raster — row-local, zero joins, zero shuffles; same
    * partition-streaming batch shape and per-row error channel as
    * [[extractMetaImage]]. Images smaller than the 9×8 grid refuse
    * into the error channel rather than hashing degenerate cells. */
  def imagePHash(df: DataFrame, idCol: String,
      batchSize: Int = 256): Dataset[ImageHashed] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoMemCache
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            ImageIoCodec.sniffFormat(payload) match {
              case None =>
                ImageHashed(id, -1, -1, 0L, 0L, "unrecognized magic bytes")
              case Some(fmt) =>
                try {
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(payload))
                  if (img == null)
                    ImageHashed(id, -1, -1, 0L, 0L, s"undecodable $fmt payload")
                  else if (img.getWidth < 9 || img.getHeight < 8)
                    ImageHashed(id, img.getWidth, img.getHeight, 0L, 0L,
                      s"image ${img.getWidth}x${img.getHeight} below the 9x8 hash grid")
                  else ImageHashed(id, img.getWidth, img.getHeight,
                    dHash64(img), aHash64(img), null)
                } catch {
                  case e: Exception =>
                    ImageHashed(id, -1, -1, 0L, 0L,
                      s"decode error: ${e.getMessage}")
                }
            }
          }
        }
      }
  }

  /** 16-bit bands of a 64-bit perceptual hash — the LSH banding step
    * for image near-dup (the [[graft.operators.Dedup.lshBands]] analog;
    * emits the same (id, band_id, band_hash) shape so the bucket
    * self-join and its hot-bucket guard are REUSED, not re-implemented).
    * Unsigned shifts, so the SQL twin can band the unsigned hash value.
    * Pigeonhole: hamming < `bands` GUARANTEES a shared band; beyond
    * that, recall relies on near-dup bit flips being LOCALIZED (a
    * perturbed corner moves only band-0 bits) — the honest LSH trade,
    * measured on the planted fixture. */
  def imageBands(hashes: DataFrame, idCol: String,
      hashCol: String = "dhash", bands: Int = 4): DataFrame = {
    require(bands > 1 && 64 % bands == 0,
      s"imageBands: bands must divide 64 and exceed 1, got $bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val entries = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        shiftrightunsigned(col(hashCol), b * width).bitwiseAND(lit(mask))
          .as("band_hash"))
    }
    hashes.select(col(idCol), explode(array(entries: _*)).as("__b"))
      .select(col(idCol), col("__b.band_id").as("band_id"),
        col("__b.band_hash").as("band_hash"))
  }

  /** Image near-duplicate pairs (r15, x7): the MinHash-LSH cascade
    * shape over perceptual hashes — [[imageBands]] → bucket self-join
    * ([[graft.operators.Dedup.lshCandidatePairs]], including its
    * hot-bucket guard) → verify by EXACT Hamming distance (one
    * codegen'd bit_count(xor)) ≤ `maxHamming`. Candidates are
    * LSH-bounded, so both hash lookups broadcast the pair side — the
    * hash table streams, never shuffles (the
    * [[graft.operators.Dedup.verifyPairs]] contract). Returns
    * (id1, id2, hamming); duplicate CLUSTERS compose with
    * [[graft.operators.Dedup.connectedComponents]] exactly as t9 does
    * for text. A 100 TB pipeline passes `maxBucketSize =
    * Dedup.DefaultMaxBucketSize`: a degenerate bucket — e.g. solid-color
    * images all hashing to 0 — yields b² candidate rows, and members of
    * a dropped bucket still meet through their other, more selective
    * bands. */
  def imageNearDuplicates(hashes: DataFrame, idCol: String,
      hashCol: String = "dhash", maxHamming: Int = 10, bands: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0,
      s"imageNearDuplicates: need maxHamming >= 0, got $maxHamming")
    val pairs = graft.operators.Dedup.lshCandidatePairs(
      imageBands(hashes, idCol, hashCol, bands), idCol, maxBucketSize)
    val hs = hashes.select(col(idCol), col(hashCol))
    val withA = hs.join(broadcast(pairs), hs(idCol) === pairs("id1"))
      .select(col("id1"), col("id2"), col(hashCol).as("__ha"))
    val both = hs.join(broadcast(withA), hs(idCol) === withA("id2"))
      .select(col("id1"), col("id2"), col("__ha"),
        col(hashCol).as("__hb"))
    both.select(col("id1"), col("id2"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Batched metadata extraction: partitions stream through the codec in
    * `batchSize` groups (bounded memory per batch, codec amortization —
    * the mapInPandas batch shape). One task per input partition; no
    * shuffle. */
  def extractMeta(df: DataFrame, idCol: String, batchSize: Int = 256): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoMemCache
        it.grouped(batchSize).flatMap { batch =>
          // batch boundary = codec invocation boundary (stub decodes
          // element-wise; a real vectorized codec would take the batch)
          batch.iterator.map { case (id, payload) =>
            val (fmt, w, h) = StubCodec.decode(payload)
            MediaMeta(id, fmt, w, h, payload.length.toLong)
          }
        }
      }
  }
}
