package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `binary` columns + typed metadata. The Spark-side
  * contract is real and tested — schema, batch iteration, partition
  * sizing. The IMAGE path uses a real codec (javax.imageio PNG
  * encode/decode, [[syntheticPngMedia]]/[[decodeImageStats]]); the
  * AUDIO path uses a real codec too (javax.sound.sampled WAV/PCM,
  * [[syntheticWavMedia]]/[[decodeAudioStats]]); the VIDEO frame path
  * uses a real multi-frame container as well (animated GIF via
  * javax.imageio sequence mode, [[syntheticGifMedia]]/
  * [[decodeVideoFrameStats]] — frame extraction + strided sampling
  * from genuinely encoded container bytes). Raw video codecs (H.264
  * etc.) need native libraries and are out of scope.
  *
  * At scale: decode work is per-row CPU, so the operator's job is to
  * (a) keep batches columnar/iterator-based (mapPartitions — one
  * decoder init per partition, not per row) and (b) emit fixed-size
  * features, never the raw payload, downstream.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Build a synthetic media table from documents: utf-8 payload bytes
    * standing in for encoded media. */
  def syntheticMedia(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      col("text").cast(BinaryType).as("payload"),
      concat(lit("image/fake-"), pmod(col("doc_id"), lit(3))).as("media_type"))

  // ---- real image codec boundary (javax.imageio) ----

  /** Deterministic small PNGs, ENCODED WITH A REAL CODEC executor-side:
    * doc d is a w×h image (w = 4 + d%5, h = 3 + d%4) whose pixel (x,y)
    * is r=(d+3x+7y)%256, g=(2d+5x+y)%256, b=(d+x·y)%256 — closed forms
    * an external oracle can evaluate without decoding. The PNG bytes are
    * produced by javax.imageio per partition (iterator map, one encoder
    * context per partition). */
  def syntheticPngMedia(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val w = 4 + (d % 5).toInt
        val h = 3 + (d % 4).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = ((d + 3L * x + 7L * y) % 256).toInt
            val g = ((2L * d + 5L * x + y) % 256).toInt
            val b = ((d + x.toLong * y) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (d, bos.toByteArray, "image/png")
      }
    }.toDF("doc_id", "payload", "media_type")
  }

  /** [[syntheticPngMedia]] plus a planted color-shifted duplicate for
    * every 10th doc: the duplicate (id = base + `dupOffset`) has the
    * base image's channels ROTATED (r,g,b)→(g,b,r) — byte-wise a
    * different PNG, perceptually the same luminance field, which is
    * exactly what a perceptual hash must equate and a byte digest must
    * not. */
  def syntheticPngPairMedia(spark: SparkSession, documents: DataFrame,
      dupOffset: Long): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].flatMap(d =>
        Seq((d, d, false)) ++
          (if (d % 10 == 0) Seq((d + dupOffset, d, true)) else Nil))
      .mapPartitions { rows =>
        rows.map { case (id, base, rotate) =>
          val w = 4 + (base % 5).toInt
          val h = 3 + (base % 4).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val r = ((base + 3L * x + 7L * y) % 256).toInt
              val g = ((2L * base + 5L * x + y) % 256).toInt
              val b = ((base + x.toLong * y) % 256).toInt
              val rgb = if (rotate) (g << 16) | (b << 8) | r
                        else (r << 16) | (g << 8) | b
              img.setRGB(x, y, rgb)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray, "image/png")
        }
      }.toDF("doc_id", "payload", "media_type")
  }

  case class ImageHash(doc_id: Long, width: Int, height: Int, ahash: Long)

  /** Perceptual average-hash over DECODED pixels (the real-codec dedup
    * path): gray = r+g+b per pixel, the image partitions into a
    * `gw`×`gh` integer grid (cell i = x·gw div w), and bit (j·gw+i)
    * sets iff the cell's gray sum exceeds the image mean
    * CROSS-MULTIPLIED — s_c·N > S·n_c, no division — so the hash is
    * invariant under any luminance-preserving recoloring (channel
    * rotation, uniform shift) and exactly replayable from the pixel
    * closed form by an engine with no codec. Per-row mapPartitions:
    * no shuffle; the dedup join downstream is a hash equi-join. */
  def imageAHash(spark: SparkSession, media: DataFrame,
      gw: Int = 4, gh: Int = 3): Dataset[ImageHash] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable payload for doc ${r.doc_id}")
        val w = img.getWidth; val h = img.getHeight
        val s = new Array[Long](gw * gh)
        val n = new Array[Long](gw * gh)
        var tot = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            val c = (y * gh / h) * gw + (x * gw / w)
            s(c) += gray; n(c) += 1; tot += gray
            x += 1
          }
          y += 1
        }
        val npix = w.toLong * h
        var hash = 0L
        var c = 0
        while (c < gw * gh) {
          if (s(c) * npix > tot * n(c)) hash |= 1L << c
          c += 1
        }
        ImageHash(r.doc_id, w, h, hash)
      }
    }
  }

  case class ImageStats(doc_id: Long, width: Int, height: Int,
      r_sum: Long, g_sum: Long, b_sum: Long)

  /** REAL image decode (javax.imageio, PNG is lossless): width/height
    * and per-channel pixel sums come from actually decoded pixels, not
    * from metadata or the payload bytes. Same production shape as the
    * stub decoder — mapPartitions, iterator in / iterator out, payload
    * never retained past its row. */
  def decodeImageStats(spark: SparkSession, media: DataFrame): Dataset[ImageStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable payload for doc ${r.doc_id}")
        var rs = 0L; var gs = 0L; var bs = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            rs += (rgb >> 16) & 0xff; gs += (rgb >> 8) & 0xff; bs += rgb & 0xff
            x += 1
          }
          y += 1
        }
        ImageStats(r.doc_id, img.getWidth, img.getHeight, rs, gs, bs)
      }
    }
  }

  // ---- real audio codec boundary (javax.sound.sampled) ----

  /** Deterministic PCM clips, ENCODED WITH A REAL WAV WRITER
    * executor-side: doc d is a 16-bit little-endian signed PCM clip with
    * channels = 1 + d%2 and nFrames = 50 + d%37 at 8 kHz, whose sample
    * at (frame i, channel c) is ((31d + 7i + 13c) mod 65536) − 32768 —
    * a closed form an external oracle evaluates without any codec. The
    * WAV container bytes come from javax.sound.sampled.AudioSystem. */
  def syntheticWavMedia(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val channels = 1 + (d % 2).toInt
        val nFrames = 50 + (d % 37).toInt
        val data = new Array[Byte](nFrames * channels * 2)
        var i = 0
        while (i < nFrames) {
          var c = 0
          while (c < channels) {
            val s = (((31L * d + 7L * i + 13L * c) % 65536) - 32768).toInt
            val off = (i * channels + c) * 2
            data(off) = (s & 0xff).toByte
            data(off + 1) = ((s >> 8) & 0xff).toByte
            c += 1
          }
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, channels, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (d, bos.toByteArray, "audio/wav")
      }
    }.toDF("doc_id", "payload", "media_type")
  }

  case class AudioStats(doc_id: Long, channels: Int, n_frames: Long,
      sum_ch0: Long, sum_ch1: Long)

  /** REAL audio decode (javax.sound.sampled, WAV/PCM is lossless):
    * channel count, frame length and per-channel sample sums come from
    * the parsed container + decoded PCM frames, not from the payload
    * bytes. Same production shape as the image path — mapPartitions,
    * iterator in / iterator out, payload never retained past its row. */
  def decodeAudioStats(spark: SparkSession, media: DataFrame): Dataset[AudioStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
          s"unexpected PCM layout for doc ${r.doc_id}")
        val channels = fmt.getChannels
        val nFrames = ais.getFrameLength
        val bytes = ais.readAllBytes()
        var s0 = 0L; var s1 = 0L
        var f = 0
        while (f < nFrames) {
          var c = 0
          while (c < channels) {
            val off = (f * channels + c) * 2
            val v = (((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort).toLong
            if (c == 0) s0 += v else s1 += v
            c += 1
          }
          f += 1
        }
        AudioStats(r.doc_id, channels, nFrames, s0, s1)
      }
    }
  }

  // ---- real video-container frame boundary (animated GIF, javax.imageio) ----

  /** Deterministic multi-frame clips, ENCODED WITH A REAL CONTAINER
    * WRITER executor-side: doc d is an animated GIF of
    * nFrames = 3 + d%5 frames, each w×h (w = 16 + d%3, h = 12 + d%4),
    * whose pixel (x,y) of frame f is the gray level
    * ((d + x + 2y + 3f) mod 4) · 85 — closed forms an external oracle
    * evaluates without any codec. Frames are written through
    * javax.imageio's GIF sequence mode (prepareWriteSequence /
    * writeToSequence). Two JDK GIF codec traps, found empirically:
    * frames under ~50 px scramble rows on decode, and the default
    * indexed/gray palettes quantize (85→84); the ≥16×12 frame sizes
    * plus an explicit identity 256-gray palette keep the round-trip
    * bit-lossless. Reference frame-sampling semantics: SURVEY.md §2
    * multimodal block (builder brief: "frame-sample … make the
    * Spark-side plumbing real"). */
  def syntheticGifMedia(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions { ids =>
      // one palette per partition, not per row. Full 256-entry identity
      // gray palette: the JDK GIF writer mis-encodes LZW for tiny
      // palettes (rows scramble on decode), so give it 8-bit codes even
      // though only 4 gray levels are ever used.
      val levels = Array.tabulate[Byte](256)(i => i.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, levels, levels, levels)
      ids.map { d =>
        val w = 16 + (d % 3).toInt
        val h = 12 + (d % 4).toInt
        val nf = 3 + (d % 5).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nf) {
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = (((d + x + 2L * y + 3L * f) % 4) * 85).toInt
              img.setRGB(x, y, (0xff << 24) | (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        writer.dispose()
        ios.close()
        (d, bos.toByteArray, "video/gif-frames")
      }
    }.toDF("doc_id", "payload", "media_type")
  }

  case class VideoStats(doc_id: Long, n_frames: Int, n_sampled: Int,
      gray_sum: Long)

  /** REAL frame extraction + strided sampling: the frame count comes
    * from the container index (getNumImages), every `stride`-th frame
    * is DECODED with javax.imageio, and gray_sum aggregates actually
    * decoded pixels of sampled frames only. Same production shape as
    * the image/audio paths — mapPartitions, iterator in / iterator
    * out, one reader context per row, payload never retained. Frames
    * that the stride skips are never decoded — at 100 TB that is the
    * whole point of sampling (decode cost follows the sample, not the
    * clip length). */
  def decodeVideoFrameStats(spark: SparkSession, media: DataFrame,
      stride: Int): Dataset[VideoStats] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        var sum = 0L
        var sampled = 0
        var f = 0
        while (f < n) {
          if (f % stride == 0) {
            val img = reader.read(f)
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                sum += (img.getRGB(x, y) >> 16) & 0xff
                x += 1
              }
              y += 1
            }
            sampled += 1
          }
          f += 1
        }
        reader.dispose()
        iis.close()
        VideoStats(r.doc_id, n, sampled, sum)
      }
    }
  }
}
