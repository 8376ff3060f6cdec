package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Multimodal column plumbing (SURVEY.md §2.12): media travel as opaque
  * `binary` columns + typed metadata structs through every relational
  * operator; decode / feature-extraction runs partition-wise so a real
  * implementation can batch into a native decoder or accelerator.
  *
  * The IMAGE path is REAL end to end: [[encodeImages]] writes genuine
  * PNG payloads with `javax.imageio` (dimensions seeded from the doc
  * hash, gray pixels = the doc's bytes cycled row-major) and
  * [[decodeImages]] decodes them back — actual codec execution on every
  * row, verified by sha-256 of the decoded raster against a DuckDB
  * oracle that predicts the pixel stream independently. The VIDEO path
  * is real too (round 9 — graduated from the schedule stub):
  * [[encodeAnimations]] writes genuine multi-frame animated GIFs and
  * [[sampleFrames]] DEMUXES the container (frame count and per-frame
  * delay from the GIF's own metadata) and decodes the scheduled frames,
  * sha-checked against the oracle's independent pixel prediction.
  *
  * Scale notes: payload bytes never pass through a shuffle here — the
  * codec stages are narrow `mapPartitions` (no exchange), and downstream
  * aggregations ship only the small metadata/feature rows. That is the
  * property that matters when payloads are MBs each at 100 TB total.
  */
object Multimodal {

  /** r18-opt (guide §1.2 per-task work): `javax.imageio` defaults to a
    * DISK-backed stream cache — every encode/decode of an in-memory
    * payload creates and deletes a temp file. All payloads here are
    * byte arrays; the memory cache is strictly cheaper (measured ~7 ms
    * → sub-ms per small PNG). Per-JVM, idempotent; called at the top
    * of every codec task closure so executors on a real cluster set it
    * too. Output bytes are identical — this only changes where the
    * codec buffers its stream.
    */
  private def imageIoMemCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  /** r18-opt (guide §1.2 per-task work): `AudioSystem.getAudioInputStream`
    * and `AudioSystem.write` re-resolve the SPI providers — a fresh
    * ServiceLoader iteration behind a class-level lock — on EVERY call,
    * which serializes 32 concurrent codec tasks in one JVM (measured:
    * the audio stages ran at ~single-thread throughput). The JDK
    * providers are stateless; resolve them once per JVM and probe in
    * order exactly as AudioSystem does — same parse path, same bytes.
    */
  @transient private lazy val audioReaders
      : List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val all = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala.toList
    // WAVE-accepting readers move to the FRONT of the probe order: the
    // JDK's SPI order puts SoftMidiAudioFileReader before
    // WaveFileReader, and its rejection path re-enters the
    // synchronized MidiSystem provider registry on every call — the
    // same per-call lock this cache exists to avoid. Probed once with
    // a 1-sample WAV.
    val probe = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(Array[Byte](0)), fmt, 1L)
      val baos = new java.io.ByteArrayOutputStream()
      wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val (wave, rest) = all.partition { r =>
      try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close(); true }
      catch { case _: Exception => false }
    }
    wave ++ rest
  }

  @transient private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE writer SPI installed"))
  }

  private def readAudioStream(bytes: Array[Byte])
      : javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      try return it.next()
        .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no installed AudioFileReader accepts this payload")
  }

  private def writeWavStream(ais: javax.sound.sampled.AudioInputStream,
      out: java.io.OutputStream): Unit = {
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    ()
  }

  /** sha-256 of the UPPERCASE-hex encoding of a byte stream — the
    * cross-engine byte-stream fingerprint every mm oracle mirrors. The
    * oracle side cannot reconstruct arbitrary raw bytes as a DuckDB
    * string (chr(i) for i>127 emits multi-byte UTF-8, and this DuckDB
    * build has no substring/sha256 over BLOB), but it CAN build the hex
    * encoding exactly (`hex(encode(text))` pair arithmetic /
    * `printf('%02X', v)`) — and hex is injective, so sha-over-hex pins
    * the byte stream as hard as sha-over-bytes. Uppercase matches
    * DuckDB's `hex()`.
    */
  private[llm] def shaOfHex(bytes: Array[Byte]): String = {
    val hexDigits = "0123456789ABCDEF"
    val hx = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      hx(2 * i) = hexDigits(v >>> 4).toByte
      hx(2 * i + 1) = hexDigits(v & 0xf).toByte
      i += 1
    }
    java.security.MessageDigest.getInstance("SHA-256").digest(hx)
      .map("%02x".format(_)).mkString
  }

  case class MediaRecord(doc_id: Long, payload: Array[Byte], mime: String)
  case class ImageMeta(doc_id: Long, width: Int, height: Int, channels: Int,
      n_pixels: Long, pixel_sha: String)

  /** Encoded PNG corpus memoized per (session, dir) — same pattern and
    * stopped-session eviction as NearDedup's shingle/state/cluster memos:
    * the encode stage is FIXTURE SYNTHESIS (production payloads arrive
    * already encoded from a media store), so rebuilding the PNGs per
    * query run would bill synthesis to the decode path under test.
    */
  private val imageCache = Memo.slot[String, Dataset[MediaRecord]]("Multimodal.imageCache")

  private def encodedCorpus(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    imageCache(s, dir)(
      encodeImages(Tables(s, dir).documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Encode each document as a REAL PNG via `javax.imageio` — the
    * fixture's stand-in for an upstream media store: dimensions are
    * seeded from the doc's md5 (8–39 px a side), the 8-bit gray raster
    * is the doc's bytes cycled row-major. Deterministic, so the decode
    * side has an independently-computable ground truth.
    */
  def encodeImages(docs: DataFrame, batchSize: Int = 64): Dataset[MediaRecord] = {
    val s = docs.sparkSession
    import s.implicits._
    // an empty document has no media payload — excluded HERE, mirrored
    // by `WHERE len(text) > 0` in the mm_features/mm_resize oracles.
    // (The previous [0]-byte pad diverged latently: the oracle seeds
    // dimensions from md5('') and its pixel-cycle arithmetic divides by
    // len(text) = 0, so the first empty doc would have broken the
    // differential on both sides in different ways.)
    // r18-opt (guide §2.5 input skew): spread before the codec stage —
    // the fixture parquet is one row group, so without it the PNG
    // encode (and every downstream decode over the cached partitions)
    // ran in a SINGLE task on local[32]
    graft.Engine.spread(
        docs.select(col("doc_id"), col("text"))
          .filter(length(col("text")) > 0), "doc_id")
      .as[(Long, String)].mapPartitions { it =>
      imageIoMemCache()
      it.grouped(batchSize).flatMap(_.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        val w = 8 + (md(0) & 0x1f)
        val h = 8 + (md(1) & 0x1f)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0; var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, bytes(i % bytes.length) & 0xff)
            i += 1; x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        MediaRecord(id, baos.toByteArray, "image/png")
      })
    }
  }

  /** Partition-wise batched REAL decode: `javax.imageio.ImageIO.read`
    * runs on every payload (an actual PNG codec pass — header parse,
    * inflate, defilter), and the decoded raster is reduced to metadata +
    * a sha-256 of its row-major pixel bytes. The batching shape is what
    * would feed a GPU featurizer; the narrow `mapPartitions` keeps
    * payload bytes out of any shuffle.
    */
  def decodeImages(media: Dataset[MediaRecord], batchSize: Int = 64): Dataset[ImageMeta] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      imageIoMemCache()
      it.grouped(batchSize).flatMap(decodeImageBatch)
    }
  }

  case class ResizedImage(doc_id: Long, src_w: Int, src_h: Int,
      out_w: Int, out_h: Int, resized_sha: String)

  /** REAL aspect-preserving nearest-neighbor resize executed on the
    * decoded raster (not just the schedule math of [[sampleFrames]]):
    * decode via `ImageIO.read`, then `out(x,y) = src(⌊x·w/outW⌋,
    * ⌊y·h/outH⌋)` — pure integer index math, so the DuckDB oracle can
    * replay the exact mapping over its independently-predicted pixel
    * string and the sha-256 must agree byte-for-byte. Same batched
    * narrow `mapPartitions` shape as the other codec stages.
    */
  def resizeImages(media: Dataset[MediaRecord], maxSide: Int = 16,
      batchSize: Int = 64): Dataset[ResizedImage] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      imageIoMemCache()
      it.grouped(batchSize).flatMap(_.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"payload of doc ${r.doc_id} is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val m = math.max(w, h)
        val outW = math.max(1, w * maxSide / m)
        val outH = math.max(1, h * maxSide / m)
        val out = new Array[Byte](outW * outH)
        var i = 0; var y = 0
        while (y < outH) {
          val srcY = y * h / outH
          var x = 0
          while (x < outW) {
            out(i) = raster.getSample(x * w / outW, srcY, 0).toByte
            i += 1; x += 1
          }
          y += 1
        }
        ResizedImage(r.doc_id, w, h, outW, outH, shaOfHex(out))
      })
    }
  }

  case class AudioMeta(doc_id: Long, sample_rate: Int, n_samples: Long,
      sum_amp: Long, peak: Int, pcm_sha: String)

  /** Encoded WAV corpus memoized per (session, dir) — the audio leg of
    * the multimodal family, same fixture-synthesis rationale as
    * [[encodedCorpus]].
    */
  private val audioCache = Memo.slot[String, Dataset[MediaRecord]]("Multimodal.audioCache")

  private def audioCorpus(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    audioCache(s, dir)(
      encodeAudio(Tables(s, dir).documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Encode each document as a REAL WAV via `javax.sound.sampled` — the
    * audio analog of [[encodeImages]]: sample count seeded from the doc
    * md5 (256–1279), 8-bit unsigned mono PCM at 8 kHz whose samples are
    * the doc's bytes cycled — so the decode side has an independently
    * computable ground truth, and the container really round-trips
    * through the JDK's WAV writer (RIFF header, fmt/data chunks).
    */
  def encodeAudio(docs: DataFrame, batchSize: Int = 64): Dataset[MediaRecord] = {
    val s = docs.sparkSession
    import s.implicits._
    // r18-opt: spread before the codec stage (see encodeImages)
    graft.Engine.spread(
        docs.select(col("doc_id"), col("text"))
          .filter(length(col("text")) > 0), "doc_id")
      .as[(Long, String)].mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        val n = 256 + ((md(3) & 0xff) % 1024)
        val data = Array.tabulate[Byte](n)(i => bytes(i % bytes.length))
        val fmt = new javax.sound.sampled.AudioFormat(
          8000f, 8, 1, /*signed=*/ false, /*bigEndian=*/ false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val baos = new java.io.ByteArrayOutputStream()
        writeWavStream(ais, baos)
        MediaRecord(id, baos.toByteArray, "audio/wav")
      })
    }
  }

  /** Partition-wise batched REAL audio decode: `AudioSystem
    * .getAudioInputStream` parses the WAV container (RIFF/fmt/data
    * walk) on every payload, the format fields come from the PARSED
    * header (the oracle's constant 8000 Hz only matches if the engine
    * really read it), and the PCM reduces to integer features — sample
    * count, summed absolute amplitude around the 8-bit midpoint, peak —
    * plus a sha-256 of the raw sample bytes. Same narrow batched
    * `mapPartitions` shape as the image path: payloads never shuffle.
    */
  def decodeAudio(media: Dataset[MediaRecord], batchSize: Int = 64): Dataset[AudioMeta] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { r =>
        val ais = readAudioStream(r.payload)
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
          s"doc ${r.doc_id}: unexpected decoded format $fmt")
        val pcm = ais.readAllBytes()
        var sum = 0L; var peak = 0; var i = 0
        while (i < pcm.length) {
          val v = pcm(i) & 0xff
          sum += math.abs(v - 128)
          if (v > peak) peak = v
          i += 1
        }
        AudioMeta(r.doc_id, fmt.getSampleRate.toInt, pcm.length.toLong, sum, peak,
          shaOfHex(pcm))
      })
    }
  }

  /** 31-bit energy-delta audio fingerprint over the PARSED PCM — the
    * chromaprint shape reduced to its integer core: 32 contiguous
    * blocks (sample i → block ⌊i·32/n⌋), per-block summed |v−128|
    * energy, bit j = E[j+1] > E[j] (MSB-first). Energy-ORDER bits are
    * what makes it perceptual: amplitude scaling and (for smooth
    * signals) moderate resampling preserve the envelope's shape —
    * MultimodalSpec pins decimation stability on a smooth ramp, the
    * dHash64 gradient-fixture discipline. All-integer, so the DuckDB
    * oracle rebuilds every fingerprint from the byte-cycle PCM model.
    */
  private[llm] def audioFingerprint(pcm: Array[Byte]): Long = {
    val n = pcm.length
    val e = new Array[Long](32)
    var i = 0
    while (i < n) {
      e((i.toLong * 32 / n).toInt) += math.abs((pcm(i) & 0xff) - 128)
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 31) {
      fp = (fp << 1) | (if (e(j + 1) > e(j)) 1L else 0L)
      j += 1
    }
    fp
  }

  /** Fingerprint band table for the audio corpus: 4 Hamming-LSH bands
    * (8+8+8+7 bits) of [[audioFingerprint]] — by pigeonhole any pair
    * within distance ≤ 3 agrees exactly on ≥ 1 band, so recall at the
    * ≤3 threshold is exactly 1.0 (the [[imageHashBlocks]] contract at
    * 31 bits). Same batched narrow decode shape as every codec stage.
    */
  def audioHashBlocks(media: Dataset[MediaRecord], batchSize: Int = 64): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { r =>
        val ais = readAudioStream(r.payload)
        val fp = audioFingerprint(ais.readAllBytes())
        (r.doc_id, (fp >>> 23) & 0xffL, (fp >>> 15) & 0xffL,
          (fp >>> 7) & 0xffL, fp & 0x7fL)
      })
    }.toDF("doc_id", "band_0", "band_1", "band_2", "band_3")
  }

  /** Losslessly re-encoded copies of every `stride`-th audio doc — the
    * planted perceptual-dup workload (the same recording re-hosted
    * through another container write): parse the WAV, write the PCM
    * back through the JDK encoder under `doc_id + idOffset`. A REAL
    * second container round-trip, not a byte copy — the copy only
    * fingerprints identically if both RIFF walks are faithful. (As
    * with images, the fixture's byte-cycle PCM is NOISE, which no
    * perceptual hash survives resampling — decimation-stability is
    * pinned on smooth signals in MultimodalSpec instead.)
    */
  def reencodedAudioCopies(media: Dataset[MediaRecord], stride: Int = 10,
      idOffset: Long = 3000000000L): Dataset[MediaRecord] = {
    val s = media.sparkSession
    import s.implicits._
    media.filter(col("doc_id") % stride === 0).as[MediaRecord].map { r =>
      val ais = readAudioStream(r.payload)
      val fmt = ais.getFormat
      val pcm = ais.readAllBytes()
      val out = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, pcm.length.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      writeWavStream(out, baos)
      MediaRecord(r.doc_id + idOffset, baos.toByteArray, "audio/wav")
    }
  }

  private val audioHashCache = Memo.slot[String, DataFrame]("Multimodal.audioHashCache")

  private def audioHashBlocksFor(s: SparkSession, dir: String): DataFrame = {
    audioHashCache(s, dir) {
      val corpus = audioCorpus(s, dir)
      audioHashBlocks(corpus.union(reencodedAudioCopies(corpus))).persist()
    }
  }

  case class AudioResample(doc_id: Long, in_rate: Int, out_rate: Int,
      n_in: Long, n_out: Long, sum_amp_out: Long, out_sha: String)

  /** Integer sample-rate conversion over the PARSED PCM — the simplest
    * correct decimator (factor-N box filter then downsample: each
    * output sample is the integer mean of its N input samples, the
    * anti-aliasing every resampler needs in its crudest form). The
    * input rate comes from the parsed WAV header, so the emitted
    * out_rate is wrong unless the container walk really happened; the
    * output PCM is sha-checked against the oracle's analytic
    * prediction. Same batched narrow `mapPartitions` as every codec
    * stage — payloads never cross a shuffle, only the small feature row
    * flows downstream.
    */
  def resampleAudio(media: Dataset[MediaRecord], factor: Int = 2,
      batchSize: Int = 64): Dataset[AudioResample] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { r =>
        val ais = readAudioStream(r.payload)
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
          s"doc ${r.doc_id}: unexpected decoded format $fmt")
        val pcm = ais.readAllBytes()
        val nOut = pcm.length / factor
        val out = new Array[Byte](nOut)
        var i = 0
        while (i < nOut) {
          var acc = 0; var j = 0
          while (j < factor) { acc += pcm(i * factor + j) & 0xff; j += 1 }
          out(i) = (acc / factor).toByte
          i += 1
        }
        var sum = 0L; i = 0
        while (i < nOut) { sum += math.abs((out(i) & 0xff) - 128); i += 1 }
        AudioResample(r.doc_id, fmt.getSampleRate.toInt,
          fmt.getSampleRate.toInt / factor, pcm.length.toLong, nOut.toLong, sum,
          shaOfHex(out))
      })
    }
  }

  private def decodeImageBatch(batch: Seq[MediaRecord]): Seq[ImageMeta] =
    batch.map { r =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      require(img != null, s"payload of doc ${r.doc_id} is not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val px = new Array[Byte](w * h)
      var i = 0; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(i) = raster.getSample(x, y, 0).toByte
          i += 1; x += 1
        }
        y += 1
      }
      ImageMeta(r.doc_id, w, h, raster.getNumBands, w.toLong * h, shaOfHex(px))
    }

  case class FrameSample(doc_id: Long, frame_idx: Int, frame_ts_ms: Long,
      out_w: Int, out_h: Int, frame_sig: String)

  /** Encoded animated-GIF corpus, memoized per (session, dir) — the
    * video-container counterpart of [[encodedCorpus]] (fixture
    * synthesis, excluded from the measured demux path for the same
    * reason).
    */
  private val animCache = Memo.slot[String, Dataset[MediaRecord]]("Multimodal.animCache")

  private def animatedCorpus(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    animCache(s, dir)(
      encodeAnimations(Tables(s, dir).documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Encode each document as a REAL multi-frame animated GIF via the
    * `javax.imageio` GIF sequence writer — the fixture's stand-in for an
    * upstream video store. Deterministic, independently predictable by
    * the oracle: dims `8 + md5-byte % 32` (same seeding as the PNGs),
    * frame count `4 + (md5[2] % 5)`, frame f's 8-bit gray raster = the
    * doc's bytes cycled row-major starting at OFFSET f, uniform 40 ms
    * frame delay written into each frame's GraphicControlExtension. The
    * raster rides an explicit 256-gray `IndexColorModel`, so the GIF
    * round trip is exact: palette index = gray value, lossless by
    * construction.
    */
  def encodeAnimations(docs: DataFrame, batchSize: Int = 64): Dataset[MediaRecord] = {
    val s = docs.sparkSession
    import s.implicits._
    // r18-opt: spread before the codec stage (see encodeImages)
    graft.Engine.spread(
        docs.select(col("doc_id"), col("text"))
          .filter(length(col("text")) > 0), "doc_id")
      .as[(Long, String)].mapPartitions { it =>
        imageIoMemCache()
        val grays = Array.tabulate(256)(_.toByte)
        val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
        it.grouped(batchSize).flatMap(_.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          val w = 8 + (md(0) & 0x1f)
          val h = 8 + (md(1) & 0x1f)
          val nFrames = 4 + ((md(2) & 0xff) % 5)
          val baos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nFrames) {
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
              val raster = img.getRaster
              var p = 0; var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  raster.setSample(x, y, 0, bytes((p + f) % bytes.length) & 0xff)
                  p += 1; x += 1
                }
                y += 1
              }
              writer.writeToSequence(
                new javax.imageio.IIOImage(img, null, gifFrameMeta(writer, img, delayHundredths = 4)),
                writer.getDefaultWriteParam)
              f += 1
            }
            writer.endWriteSequence()
          } finally {
            writer.dispose()
            ios.close()
          }
          MediaRecord(id, baos.toByteArray, "image/gif")
        })
      }
  }

  /** Per-frame GIF metadata with the frame delay set in the
    * GraphicControlExtension (hundredths of a second) — the container's
    * own timing channel, read back by the demux side.
    */
  private def gifFrameMeta(writer: javax.imageio.ImageWriter,
      img: java.awt.image.BufferedImage, delayHundredths: Int): javax.imageio.metadata.IIOMetadata = {
    val meta = writer.getDefaultImageMetadata(
      javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img),
      writer.getDefaultWriteParam)
    val fmt = meta.getNativeMetadataFormatName // javax_imageio_gif_image_1.0
    val root = meta.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    val gce = {
      var found: javax.imageio.metadata.IIOMetadataNode = null
      var c = root.getFirstChild
      while (c != null && found == null) {
        if (c.getNodeName == "GraphicControlExtension")
          found = c.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        c = c.getNextSibling
      }
      if (found == null) {
        val n = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
        root.appendChild(n)
        n
      } else found
    }
    // drop the default LocalColorTable: it is the writer's STANDARD
    // (web-safe) palette, not the image's — leaving it in silently
    // remaps every gray through the wrong table (measured: values
    // quantized to multiples of 51). Absent the node, the writer
    // derives the table from the image's own IndexColorModel, which is
    // what makes the round trip exact.
    var c = root.getFirstChild
    while (c != null) {
      val nx = c.getNextSibling
      if (c.getNodeName == "LocalColorTable") root.removeChild(c)
      c = nx
    }
    gce.setAttribute("disposalMethod", "none")
    gce.setAttribute("userInputFlag", "FALSE")
    gce.setAttribute("transparentColorFlag", "FALSE")
    gce.setAttribute("transparentColorIndex", "0")
    gce.setAttribute("delayTime", delayHundredths.toString)
    meta.setFromTree(fmt, root)
    meta
  }

  /** REAL container demux + frame decode (graduated from the round-8
    * schedule stub): per media record, open the payload with the
    * registered `javax.imageio` reader, count frames from the CONTAINER
    * (`getNumImages(true)` — a full stream scan), read each frame's
    * delay from its own GraphicControlExtension, and decode the k
    * uniformly-scheduled frames (`src = i·nFrames/k`). `frame_ts_ms` is
    * the cumulative demuxed delay up to the sampled frame, `frame_sig`
    * the sha-256 prefix of the DECODED gray raster (through the palette,
    * row-major), `out_w/out_h` the aspect-preserving resize target (max
    * side 224, floor — never round: Spark rounds half-up, DuckDB
    * half-even). Same batched narrow `mapPartitions` as the other codec
    * stages: payload bytes never cross a shuffle.
    */
  def sampleFrames(media: Dataset[MediaRecord], k: Int = 4, batchSize: Int = 64): Dataset[FrameSample] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => frameBatch(b, k))
    }
  }

  /** Open a payload with the registered demuxer, hand (reader, frame
    * count) to `f`, and always release the reader/stream — the ONE
    * demux scaffold shared by [[frameBatch]] and [[motionBatch]] (a
    * reader-quirk fix applied to one copy would silently miss the
    * other).
    */
  private def withDemuxer[T](r: MediaRecord)(
      f: (javax.imageio.ImageReader, Int) => T): T = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(r.payload))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    require(readers.hasNext, s"payload of doc ${r.doc_id} has no registered demuxer")
    val reader = readers.next()
    try {
      reader.setInput(iis)
      val nFrames = reader.getNumImages(true)
      require(nFrames > 0, s"payload of doc ${r.doc_id} demuxed to zero frames")
      f(reader, nFrames)
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Decode frame `src` to its row-major gray raster (through the
    * palette) — shared pixel extraction for the same one-definition
    * reason as [[withDemuxer]].
    */
  private def grayRaster(reader: javax.imageio.ImageReader, src: Int): Array[Int] = {
    val img = reader.read(src)
    val (w, h) = (img.getWidth, img.getHeight)
    val px = new Array[Int](w * h)
    var p = 0; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(p) = img.getRGB(x, y) & 0xff; p += 1; x += 1 }
      y += 1
    }
    px
  }

  private def frameBatch(batch: Seq[MediaRecord], k: Int): Seq[FrameSample] =
    decodeBatch(batch, k).flatMap(frameSamplesOf(_, k))

  /** Per-doc decoded sample set: the k-schedule (`srcs`, container
    * `ts_ms` per sample) plus each DISTINCT scheduled frame's decoded
    * gray raster (`raster_srcs` aligned with `rasters`, per-frame
    * `ws`/`hs` dims likewise aligned — GIF sub-images may legally have
    * differing dimensions, so frame 0's dims must not stand in for
    * every sampled frame's) — ONE demux + decode pass serving both the
    * frame-sampling and the motion consumers. Rasters are byte arrays
    * (mask 0xff to read a pixel).
    */
  case class DecodedFrames(doc_id: Long,
      srcs: Array[Int], ts_ms: Array[Long],
      raster_srcs: Array[Int], ws: Array[Int], hs: Array[Int],
      rasters: Array[Array[Byte]])

  private def decodeBatch(batch: Seq[MediaRecord], k: Int): Seq[DecodedFrames] =
    batch.map { r =>
      withDemuxer(r) { (reader, nFrames) =>
        // cumulative container timing: ts of frame f = Σ delay(0..f-1)
        val startMs = new Array[Long](nFrames)
        var f = 1
        while (f < nFrames) {
          startMs(f) = startMs(f - 1) + gifDelayHundredths(reader.getImageMetadata(f - 1)) * 10L
          f += 1
        }
        val srcs = (0 until k).map(i => i * nFrames / k).toArray
        val distinctSrcs = srcs.distinct
        val rasters = distinctSrcs.map(s0 => grayRaster(reader, s0).map(_.toByte))
        DecodedFrames(r.doc_id, srcs, srcs.map(startMs(_)), distinctSrcs,
          distinctSrcs.map(reader.getWidth), distinctSrcs.map(reader.getHeight),
          rasters)
      }
    }

  /** The frame-sampling view of one decoded set — sha + resize schedule
    * over the ALREADY-decoded rasters ([[sampleFrames]]' exact output
    * contract, spec-pinned identical). Each sample's out_w/out_h derive
    * from ITS OWN frame's dimensions.
    */
  private def frameSamplesOf(d: DecodedFrames, k: Int): Seq[FrameSample] = {
    val bySrc = d.raster_srcs.zipWithIndex.toMap
    (0 until k).map { i =>
      val j = bySrc(d.srcs(i))
      val (w, h) = (d.ws(j), d.hs(j))
      val m = math.max(w, h)
      val sha = shaOfHex(d.rasters(j))
      FrameSample(d.doc_id, i, d.ts_ms(i),
        math.floor(w * 224.0 / m).toInt, math.floor(h * 224.0 / m).toInt,
        sha.substring(0, 12))
    }
  }

  /** The motion view of one decoded set — consecutive-pair |Δ| over the
    * same decoded rasters ([[motionFeatures]]' exact output contract).
    */
  private def motionSamplesOf(d: DecodedFrames, k: Int): Seq[MotionSample] = {
    val bySrc = d.raster_srcs.zipWithIndex.toMap
    (0 until k - 1).map { i =>
      val (ja, jb) = (bySrc(d.srcs(i)), bySrc(d.srcs(i + 1)))
      // per-pixel |Δ| is only defined over same-shaped rasters; GIF
      // sub-images may differ in dims, and comparing by flat index would
      // silently misalign rows (or read OOB) — fail loudly instead
      require(d.ws(ja) == d.ws(jb) && d.hs(ja) == d.hs(jb),
        s"doc ${d.doc_id}: motion pair $i compares frames of differing " +
          s"dimensions ${d.ws(ja)}x${d.hs(ja)} vs ${d.ws(jb)}x${d.hs(jb)}")
      val (a, b) = (d.rasters(ja), d.rasters(jb))
      var sum = 0L; var changed = 0L; var p = 0
      while (p < a.length) {
        val dlt = math.abs((a(p) & 0xff) - (b(p) & 0xff))
        sum += dlt; if (dlt > 0) changed += 1
        p += 1
      }
      MotionSample(d.doc_id, i, a.length.toLong, sum,
        sum.toDouble / a.length, changed.toDouble / a.length)
    }
  }

  /** Decoded-raster corpus memoized per (session, dir, k) — the round-10
    * verdict's duplicated-heavy-work fix: `mm_frames` and `mm_motion`
    * each demuxed and decoded the SAME GIF corpus independently (the #1
    * and #2 bench ids). One batched narrow decode pass now feeds both —
    * the same per-corpus-artifact discipline as [[encodedCorpus]] /
    * NearDedup's shingle table. MEMORY_AND_DISK: rasters are small
    * (≤39×39 gray ≈ 1.5 KB ×4 frames/doc) but corpus-scale, so spilling
    * beats recompute-or-OOM.
    */
  private val frameCache = Memo.slot[(String, Int), Dataset[DecodedFrames]]("Multimodal.frameCache")

  private def decodedFrames(s: SparkSession, dir: String, k: Int = 4): Dataset[DecodedFrames] = {
    frameCache(s, (dir, k)) {
      import s.implicits._
      animatedCorpus(s, dir)
        .mapPartitions { it => imageIoMemCache(); it.grouped(64).flatMap(b => decodeBatch(b, k)) }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  case class MotionSample(doc_id: Long, pair_idx: Int, n_pixels: Long,
      sum_absdiff: Long, mean_absdiff: Double, changed_frac: Double)

  case class KeyFrame(doc_id: Long, frame_idx: Long, src: Long,
      sum_absdiff: Long)

  /** Frame-to-frame motion features over the DECODED rasters of the k
    * scheduled frames — the shot-boundary / static-clip signal a video
    * curation pass computes (static slates and frozen frames are the
    * video analog of boilerplate text). Same demux + decode path as
    * [[sampleFrames]]; for each consecutive sampled pair the per-pixel
    * |Δ| is summed over the REAL decoded pixels, so the oracle's
    * independent byte-cycle prediction only matches if the engine's
    * decode is exact. The emitted means are single IEEE divisions of
    * two integers — bitwise identical across engines, no rounding
    * contract needed. Payloads never cross a shuffle (batched narrow
    * mapPartitions, features-only downstream).
    */
  def motionFeatures(media: Dataset[MediaRecord], k: Int = 4, batchSize: Int = 64): Dataset[MotionSample] = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(b => motionBatch(b, k))
    }
  }

  private def motionBatch(batch: Seq[MediaRecord], k: Int): Seq[MotionSample] =
    decodeBatch(batch, k).flatMap(motionSamplesOf(_, k))

  /** 64-bit perceptual difference hash (dHash) of a decoded gray
    * raster: box-filter the image down to a 9×8 grid of cell MEANS,
    * then bit (y*8+x) = 1 iff cell(x,y) > cell(x+1,y). Content-identical
    * images hash equal regardless of container/encoder; resized copies
    * land within a small Hamming distance while distinct images are
    * ~32 bits apart. MSB-first so bit 0 is the top-left comparison.
    *
    * The box filter uses EXACT-COVERAGE fractional cell boundaries
    * (cell cx spans [cx·w/9, (cx+1)·w/9) in CONTINUOUS image space;
    * boundary pixels contribute weighted by their overlap with the
    * cell). Integer-floor boundaries would give cells of varying pixel
    * width whose relative extent shifts with the raster's resolution —
    * under a resize, a cell then averages a DIFFERENT region of the
    * underlying picture and the cell mean moves a full comparison near
    * sign changes (the round-11 regression: measured distance 8/16 on
    * planted 2/3-scale copies). With exact coverage, every resolution's
    * cell mean approximates the same continuous integral
    * ∫cell f / area(cell), so the per-cell error is O(1/min(w,h)) of
    * the image's local variation and a resized copy of a spatially
    * smooth image stays within Hamming ≤3 (SimilaritySpec pins 2/3- and
    * 3/4-scale copies of 2-D smooth NON-SEPARABLE plants — a separable
    * or rank-1 image makes whole rows/columns of comparisons flip
    * together, 8 bits at a time; noise rasters do NOT survive resizing
    * under any perceptual hash — the corpus demo plants pure
    * transcodes for those).
    */
  private[llm] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val cells = dHashCells(img)
    val gw = 9
    var bits = 0L; var i = 0
    while (i < 64) {
      val (y, x) = (i / 8, i % 8)
      bits = (bits << 1) | (if (cells(y * gw + x) > cells(y * gw + x + 1)) 1L else 0L)
      i += 1
    }
    bits
  }

  /** The box-filter cell means of [[dHash64]]: a 9×8 grid, row-major.
    * The getRGB-vs-raw-sample diagnosis behind the read below (two
    * coincidental hamming-3 pairs at sf0.1) is recorded in BASELINE.md,
    * "Round 15 (cont.): mm_dedup graduates".
    */
  private def dHashCells(img: java.awt.image.BufferedImage): Array[Double] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val (gw, gh) = (9, 8)
    // RAW samples, not getRGB: on TYPE_BYTE_GRAY getRGB runs the awt
    // gray→sRGB conversion (internal float color math — gray 93 reads
    // back as ~160), which is engine-internal, non-mirrorable, and not
    // what a raw-pixel perceptual hash wants; getSample returns the
    // codec-faithful sample, and the indexed-GIF copies' identity gray
    // palette makes index ≡ gray, so originals and transcodes still
    // read identically (round-15 finding: the sRGB detour was
    // MONOTONIC, so only near-tie cells flipped — caught as two
    // coincidental hamming-3 pairs at sf0.1 by the analytic oracle)
    val raster = img.getRaster
    // overlap weight of pixel index p (covering [p, p+1)) with the
    // continuous cell span [c·n/g, (c+1)·n/g)
    def cellMeans1D(n: Int, g: Int): Array[(Int, Int, Array[Double])] =
      Array.tabulate(g) { c =>
        val lo = c.toDouble * n / g; val hi = (c + 1).toDouble * n / g
        val p0 = lo.toInt; val p1 = math.min(n - 1, math.ceil(hi).toInt - 1)
        val ws = Array.tabulate(p1 - p0 + 1) { i =>
          val p = p0 + i
          math.min(hi, p + 1.0) - math.max(lo, p.toDouble)
        }
        (p0, p1, ws)
      }
    val xs = cellMeans1D(w, gw)
    val ys = cellMeans1D(h, gh)
    val cells = new Array[Double](gw * gh)
    var cy = 0
    while (cy < gh) {
      val (y0, y1, wy) = ys(cy)
      var cx = 0
      while (cx < gw) {
        val (x0, x1, wx) = xs(cx)
        var sum = 0.0; var area = 0.0; var y = y0
        while (y <= y1) {
          val rowW = wy(y - y0)
          var x = x0
          while (x <= x1) {
            val wgt = rowW * wx(x - x0)
            sum += wgt * raster.getSample(x, y, 0)
            area += wgt
            x += 1
          }
          y += 1
        }
        cells(cy * gw + cx) = sum / area
        cx += 1
      }
      cy += 1
    }
    cells
  }

  /** Per-image perceptual hash table in the 4×16-bit block layout
    * `NearDedup.candidates` consumes (band_0..band_3): decode each
    * payload, [[dHash64]] it, split the 64 bits into 4 disjoint 16-bit
    * blocks — Hamming-LSH blocking with EXACT recall for distance ≤3 by
    * pigeonhole (a ≤3-distance pair differs in at most 3 blocks, so it
    * agrees exactly on ≥1 and meets in that block's bucket), the same
    * guarantee `dedup_simhash_pairs` rides. Batched narrow
    * mapPartitions; payload bytes never shuffle — only (id, 4 longs)
    * rows leave the scan.
    */
  def imageHashBlocks(media: Dataset[MediaRecord], batchSize: Int = 64): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { it =>
      imageIoMemCache()
      it.grouped(batchSize).flatMap(_.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"payload of doc ${r.doc_id} is not a decodable image")
        val hsh = dHash64(img)
        (r.doc_id, (hsh >>> 48) & 0xffffL, (hsh >>> 32) & 0xffffL,
          (hsh >>> 16) & 0xffffL, hsh & 0xffffL)
      })
    }.toDF("doc_id", "band_0", "band_1", "band_2", "band_3")
  }

  /** Re-encoded (optionally resized) copies of selected images — the
    * planted perceptual-dup workload (a LAION-style pipeline's true
    * positives: the same picture re-hosted through a different encoder
    * or at a different resolution). Every `stride`-th doc is decoded,
    * nearest-neighbor-rescaled by `num/den` (1/1 = pure transcode),
    * and re-encoded as `format` under `doc_id + idOffset`. The GIF
    * path writes through an explicit 256-gray palette (the
    * [[encodeAnimations]] trick), so a gray raster transcodes
    * losslessly — a REAL second codec, not a byte copy.
    *
    * Content note: resize-stability of [[dHash64]] holds for natural
    * (spatially smooth) images — MultimodalSpec pins it on gradient
    * fixtures; the documents corpus's byte-cycle rasters are NOISE,
    * which no perceptual hash survives resizing, so the corpus demo
    * plants 1/1 TRANSCODED copies (caught at distance 0 through two
    * real codecs).
    */
  def reencodedCopies(media: Dataset[MediaRecord], stride: Int = 10,
      num: Int = 1, den: Int = 1, format: String = "gif",
      idOffset: Long = 1000000000L): Dataset[MediaRecord] = {
    val s = media.sparkSession
    import s.implicits._
    media.filter(col("doc_id") % stride === 0).as[MediaRecord].mapPartitions { it =>
      imageIoMemCache()
      val grays = Array.tabulate(256)(_.toByte)
      val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
      it.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"payload of doc ${r.doc_id} is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val (ow, oh) = (math.max(1, w * num / den), math.max(1, h * num / den))
        val out =
          if (format == "gif")
            new java.awt.image.BufferedImage(
              ow, oh, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
          else
            new java.awt.image.BufferedImage(
              ow, oh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = out.getRaster
        var y = 0
        while (y < oh) {
          // center-mapped NN: sample the source pixel under the CENTER of
          // the destination pixel's footprint ((2y+1)·h/(2oh)), not its
          // left edge — edge-mapped floor sampling shifts the whole copy
          // by ~half a source pixel, a systematic phase lag that costs
          // perceptual-hash bits for free on every resized plant
          val sy = (2 * y + 1) * h / (2 * oh)
          var x = 0
          while (x < ow) {
            // raw sample, not getRGB — same round-15 finding as dHash:
            // getRGB on a TYPE_BYTE_GRAY source applies the awt
            // gray→sRGB conversion, so a "transcode" would silently
            // store gamma-shifted pixels instead of a faithful copy
            raster.setSample(x, y, 0,
              img.getRaster.getSample((2 * x + 1) * w / (2 * ow), sy, 0))
            x += 1
          }
          y += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, format, baos)
        MediaRecord(r.doc_id + idOffset, baos.toByteArray, s"image/$format")
      }
    }
  }

  /** Perceptual near-dup PAIRS over an image corpus: block the dHash
    * table with `NearDedup.candidates` (one shuffle on (block, value),
    * `maxBucket` skew cap inherited), then the exact 64-bit Hamming
    * verify on colliding pairs only — 4 XOR + bit_count integer ops.
    * Recall is EXACTLY 1.0 for the ≤3 threshold (pigeonhole over the 4
    * disjoint blocks); no all-pairs stage anywhere.
    */
  def imageDupPairs(blocks: DataFrame, maxHamming: Int = 3): DataFrame = {
    val ham = (0 until 4)
      .map(b => bit_count(col(s"a_$b").bitwiseXOR(col(s"b_$b"))))
      .reduce(_ + _)
    NearDedup.candidates(blocks)
      .join(blocks.select(col("doc_id").as("doc1") +:
        (0 until 4).map(b => col(s"band_$b").as(s"a_$b")): _*), "doc1")
      .join(blocks.select(col("doc_id").as("doc2") +:
        (0 until 4).map(b => col(s"band_$b").as(s"b_$b")): _*), "doc2")
      .withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc1", "doc2", "hamming")
  }

  /** dHash block table for the perceptual-dedup demo corpus (originals
    * + the planted resized copies), memoized per (session, dir) like
    * [[NearDedup]]'s simhash block cache: the hash table is the
    * per-corpus fingerprint artifact; candidates() references it via
    * multiple exchanges.
    */
  private val imageHashCache = Memo.slot[String, DataFrame]("Multimodal.imageHashCache")

  private def imageHashBlocksFor(s: SparkSession, dir: String): DataFrame = {
    imageHashCache(s, dir) {
      val corpus = encodedCorpus(s, dir)
      imageHashBlocks(corpus.union(reencodedCopies(corpus))).persist()
    }
  }

  private def gifDelayHundredths(meta: javax.imageio.metadata.IIOMetadata): Int = {
    val root = meta.getAsTree(meta.getNativeMetadataFormatName)
    var c = root.getFirstChild
    while (c != null) {
      if (c.getNodeName == "GraphicControlExtension")
        return c.getAttributes.getNamedItem("delayTime").getNodeValue.toInt
      c = c.getNextSibling
    }
    0
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // oracle-checked: the binary-column plumbing itself (byte length +
    // content hash survive the cast + dump round trip).
    "mm_meta" -> ((s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("payload_sha")
      ).orderBy("doc_id")),

    // REAL image decode through the real plumbing: every row's payload
    // is a genuine PNG (encoded by javax.imageio from the doc's bytes)
    // and ImageIO.read decodes it back — width/height/channels come from
    // the DECODER, and the sha-256 of the decoded raster must equal the
    // oracle's independent prediction of the pixel stream (text bytes
    // cycled to w×h, mirrored in DuckDB via repeat+substring — exact
    // because the fixture text is pure ASCII). A codec bug on either
    // side breaks the hash.
    "mm_features" -> ((s, dir) =>
      decodeImages(encodedCorpus(s, dir))
        .toDF().orderBy("doc_id")),

    // real decode + real nearest-neighbor resize, sha-checked against
    // the oracle's replay of the same integer pixel mapping
    "mm_resize" -> ((s, dir) =>
      resizeImages(encodedCorpus(s, dir))
        .toDF().orderBy("doc_id")),

    // REAL video-container path (round 9, stub graduated): every payload
    // is a genuine multi-frame animated GIF; the engine demuxes the
    // container (frame count + per-frame delay from the GIF's own
    // metadata), decodes the scheduled frames, and the sha-256 of each
    // decoded raster must equal the oracle's independent prediction of
    // the offset-cycled pixel stream — executed pixels, oracle-checked.
    // both GIF consumers ride the ONE memoized decode pass
    // ([[decodedFrames]]) — the per-corpus-artifact discipline; the
    // view math here is narrow and cheap (sha + schedule arithmetic)
    "mm_frames" -> ((s, dir) => {
      import s.implicits._
      decodedFrames(s, dir)
        .flatMap(frameSamplesOf(_, 4))
        .toDF().orderBy("doc_id", "frame_idx")
    }),

    // REAL audio path (round 10): WAV encode + container-parse decode
    // through javax.sound.sampled; integer features + PCM sha-256
    // oracle-checked against the independent byte-cycle prediction
    "mm_audio" -> ((s, dir) =>
      decodeAudio(audioCorpus(s, dir))
        .toDF().orderBy("doc_id")),

    // frame-to-frame motion over DECODED rasters (shot-boundary /
    // static-clip signal); the oracle predicts every |Δ| from the
    // byte-cycle model, so agreement proves the decode — means are
    // single int/int IEEE divisions, bitwise identical cross-engine
    "mm_motion" -> ((s, dir) => {
      import s.implicits._
      decodedFrames(s, dir)
        .flatMap(motionSamplesOf(_, 4))
        .toDF().orderBy("doc_id", "pair_idx")
    }),

    // 2:1 integer box-filter decimation over the PARSED PCM; out_rate
    // derives from the parsed header, resampled bytes sha-checked
    "mm_audio_resample" -> ((s, dir) =>
      resampleAudio(audioCorpus(s, dir))
        .toDF().orderBy("doc_id")),

    // KEYFRAME selection (round 15) — the video-training sampling rule
    // downstream of `mm_motion`: always keep the first sampled frame,
    // and keep frame i+1 when its incoming motion is at or above the
    // clip's own average (adaptive threshold — a fixed one can't serve
    // both slideshows and action clips). The compare is exact integer
    // cross-multiplication, 3·sum_i ≥ Σ sums (all pairs of a doc share
    // n_pixels), so no float threshold boundary exists cross-engine;
    // since max ≥ mean, every clip keeps ≥ 1 motion frame (spec
    // invariant: 2..4 keyframes per clip). Rides the SAME memoized
    // decoded-raster corpus as mm_frames/mm_motion — no extra decode —
    // and the oracle extends mm_motion's analytic byte-cycle model, so
    // agreement again proves the real decode.
    "mm_keyframes" -> ((s, dir) => {
      import s.implicits._
      decodedFrames(s, dir)
        .flatMap { d =>
          val ms = motionSamplesOf(d, 4)
          val total = ms.map(_.sum_absdiff).sum
          KeyFrame(d.doc_id, 0L, d.srcs(0).toLong, 0L) +:
            ms.zipWithIndex.collect {
              case (m, i) if 3L * m.sum_absdiff >= total =>
                KeyFrame(d.doc_id, (i + 1).toLong, d.srcs(i + 1).toLong,
                  m.sum_absdiff)
            }
        }.toDF().orderBy("doc_id", "frame_idx")
    }),

    // perceptual IMAGE near-dedup (round 11) — the LAION-style operator
    // joining the codec family (real decoded rasters) to the dedup
    // family (Hamming-LSH blocks): corpus = the PNG fixture + planted
    // GIF-transcoded copies of every 10th image; a copy must pair with
    // its original (same raster through two real codecs → distance 0)
    // while distinct images stay ~32 bits apart. Resize-stability is
    // pinned in MultimodalSpec on smooth gradient images (the natural-
    // image property perceptual hashing assumes; the fixture's
    // byte-cycle rasters are noise, which no perceptual hash survives
    // resizing). Rows-only (the hash depends on the engine's decoder).
    "mm_dedup" -> ((s, dir) =>
      imageDupPairs(imageHashBlocksFor(s, dir))
        .orderBy("doc1", "doc2")),

    // perceptual AUDIO near-dedup (round 15 cont.) — mm_dedup's shape
    // on the third modality: corpus = the WAV fixture + losslessly
    // re-encoded copies of every 10th clip (a second REAL container
    // round-trip under doc_id+3e9); fingerprint = the 31-bit
    // block-energy-delta hash; candidates = 4-band Hamming-LSH
    // (8+8+8+7 bits, pigeonhole recall 1.0 at distance ≤ 3); verify =
    // exact popcount. All-integer, so the oracle rebuilds every
    // fingerprint analytically from the byte-cycle PCM model — a copy
    // must pair with its original at distance 0 through two real
    // container walks. Same banded shapes as the text/image dedups:
    // payloads never shuffle, only (doc_id, 4 bands) rows do.
    "mm_audio_dedup" -> ((s, dir) =>
      imageDupPairs(audioHashBlocksFor(s, dir))
        .orderBy("doc1", "doc2"))
  )

  // BYTE-TRUE ORACLES (round 13 — the second half of the shaOfHex
  // migration, closing the round-10 "ASCII-only fixture" caveat).
  // The engine cycles the text's UTF-8 BYTES; DuckDB cannot hash raw
  // bytes (no sha256/substring over BLOB in this build), but it CAN
  // hash the byte stream's UPPERCASE-HEX encoding, which it builds
  // exactly: `hx = hex(encode(text))` is the hex of the UTF-8 bytes,
  // cycling BYTES ≡ cycling HEX PAIRS (repeat(hx,…) + 2·offset/2·len
  // substring arithmetic), and a byte's VALUE is
  // `CAST('0x' || <its hex pair> AS INTEGER)`. Hex is injective, so
  // sha256(hex stream) — [[shaOfHex]] engine-side — pins the byte
  // stream as hard as sha-over-bytes, for ANY input script. All
  // cycled-stream oracles below use byte counts (octet_length), never
  // character counts, so they hold on non-ASCII fixtures too
  // (spec-pinned on a mixed-script corpus in MultimodalSpec).
  def oracleSql: Map[String, String] = Map(
    // mm_meta hashes the payload DIRECTLY (sha256(text) = sha over the
    // UTF-8 bytes in DuckDB, mirrored by sha2(text.cast(binary)) in the
    // engine) — already byte-true with no hex detour because the
    // payload here IS the text; only the CYCLED streams below need the
    // hex formulation (their byte strings can't be built as VARCHAR).
    "mm_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS payload_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_features" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    8 + (CAST('0x' || substring(md5(text),1,2) AS INTEGER) % 32) AS width,
        |    8 + (CAST('0x' || substring(md5(text),3,2) AS INTEGER) % 32) AS height
        |  FROM documents WHERE len(text) > 0)
        |SELECT doc_id, width, height, CAST(1 AS INTEGER) AS channels,
        |  CAST(width * height AS BIGINT) AS n_pixels,
        |  sha256(substring(repeat(hx, CAST((width * height + nb - 1) // nb AS INTEGER)),
        |                   1, 2 * width * height)) AS pixel_sha
        |FROM m ORDER BY doc_id""".stripMargin,
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    8 + (CAST('0x' || substring(md5(text),1,2) AS INTEGER) % 32) AS w,
        |    8 + (CAST('0x' || substring(md5(text),3,2) AS INTEGER) % 32) AS h
        |  FROM documents WHERE len(text) > 0),
        |p AS (
        |  SELECT doc_id, w, h,
        |    greatest(1, w * 16 // greatest(w, h)) AS out_w,
        |    greatest(1, h * 16 // greatest(w, h)) AS out_h,
        |    substring(repeat(hx, CAST((w * h + nb - 1) // nb AS INTEGER)), 1, 2 * w * h) AS pxh
        |  FROM m)
        |SELECT doc_id, w AS src_w, h AS src_h,
        |  CAST(out_w AS INTEGER) AS out_w, CAST(out_h AS INTEGER) AS out_h,
        |  sha256(list_aggregate(list_transform(range(out_w * out_h),
        |    i -> substring(pxh,
        |      2 * CAST(((i // out_w) * h // out_h) * w + (i % out_w) * w // out_w AS INTEGER) + 1, 2)),
        |    'string_agg', '')) AS resized_sha
        |FROM p ORDER BY doc_id""".stripMargin,
    // independent prediction of the DEMUXED animated GIF: dims and frame
    // count re-derived from md5, sampled source frame src = i·nf/4, its
    // container timestamp src·40 ms (uniform 40 ms delays written into
    // the GIF), and the decoded raster = the doc's UTF-8 bytes cycled
    // row-major from BYTE offset src — hex-pair arithmetic (2·src
    // offset, 2·w·h length), so sha256 of the cycled hex must equal the
    // engine's shaOfHex of the decoded pixels, byte for byte.
    // audio: sample count from md5 byte 3 (hex chars 7-8), PCM = the
    // doc's UTF-8 bytes cycled; sample_rate is a constant 8000 in the
    // oracle but comes from the PARSED WAV header in the engine — the
    // match proves the container round-trip.
    "mm_audio" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    256 + (CAST('0x' || substring(md5(text),7,2) AS INTEGER) % 1024) AS n
        |  FROM documents WHERE len(text) > 0),
        |p AS (
        |  SELECT doc_id, n,
        |    substring(repeat(hx, CAST((n + nb - 1) // nb AS INTEGER)), 1, CAST(2 * n AS INTEGER)) AS pxh
        |  FROM m)
        |SELECT doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(n),
        |    i -> abs(CAST('0x' || substring(pxh, CAST(2*i + 1 AS INTEGER), 2) AS INTEGER) - 128))) AS BIGINT) AS sum_amp,
        |  CAST(list_aggregate(list_transform(range(n),
        |    i -> CAST('0x' || substring(pxh, CAST(2*i + 1 AS INTEGER), 2) AS INTEGER)), 'max') AS INTEGER) AS peak,
        |  sha256(pxh) AS pcm_sha
        |FROM p ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """WITH dims AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    8 + (CAST('0x' || substring(md5(text),1,2) AS INTEGER) % 32) AS w,
        |    8 + (CAST('0x' || substring(md5(text),3,2) AS INTEGER) % 32) AS h,
        |    4 + (CAST('0x' || substring(md5(text),5,2) AS INTEGER) % 5) AS nf
        |  FROM documents WHERE len(text) > 0),
        |frames AS (
        |  SELECT doc_id, hx, nb, w, h, nf, unnest(range(4)) AS i FROM dims),
        |sampled AS (
        |  SELECT *, i * nf // 4 AS src FROM frames)
        |SELECT doc_id,
        |  CAST(i AS INTEGER) AS frame_idx,
        |  CAST(src * 40 AS BIGINT) AS frame_ts_ms,
        |  CAST(floor(w * 224.0 / greatest(w, h)) AS INTEGER) AS out_w,
        |  CAST(floor(h * 224.0 / greatest(w, h)) AS INTEGER) AS out_h,
        |  substring(sha256(substring(repeat(hx, CAST((src + w*h) // nb AS INTEGER) + 1),
        |                             CAST(2 * src AS INTEGER) + 1, 2 * w * h)), 1, 12) AS frame_sig
        |FROM sampled ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_audio_resample" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    256 + (CAST('0x' || substring(md5(text),7,2) AS INTEGER) % 1024) AS n
        |  FROM documents WHERE len(text) > 0),
        |p AS (
        |  SELECT doc_id, n,
        |    substring(repeat(hx, CAST((n + nb - 1) // nb AS INTEGER)), 1, CAST(2 * n AS INTEGER)) AS pxh
        |  FROM m),
        |r AS (
        |  SELECT doc_id, n, n // 2 AS n_out,
        |    list_transform(range(CAST(n // 2 AS INTEGER)),
        |      i -> (CAST('0x' || substring(pxh, 4*i + 1, 2) AS INTEGER) +
        |            CAST('0x' || substring(pxh, 4*i + 3, 2) AS INTEGER)) // 2) AS vals
        |  FROM p)
        |SELECT doc_id,
        |  CAST(8000 AS INTEGER) AS in_rate,
        |  CAST(4000 AS INTEGER) AS out_rate,
        |  CAST(n AS BIGINT) AS n_in,
        |  CAST(n_out AS BIGINT) AS n_out,
        |  CAST(list_sum(list_transform(vals, v -> abs(v - 128))) AS BIGINT) AS sum_amp_out,
        |  sha256(list_aggregate(list_transform(vals, v -> printf('%02X', v)),
        |         'string_agg', '')) AS out_sha
        |FROM r ORDER BY doc_id""".stripMargin,
    // mm_motion's analytic model + the adaptive-threshold selection:
    // frame 0 always, frame i+1 when 3·sum_i ≥ Σ sums (exact integers)
    "mm_keyframes" ->
      """WITH dims AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    8 + (CAST('0x' || substring(md5(text),1,2) AS INTEGER) % 32) AS w,
        |    8 + (CAST('0x' || substring(md5(text),3,2) AS INTEGER) % 32) AS h,
        |    4 + (CAST('0x' || substring(md5(text),5,2) AS INTEGER) % 5) AS nf
        |  FROM documents WHERE len(text) > 0),
        |pairs AS (
        |  SELECT doc_id, hx, nb, w, h, nf, unnest(range(3)) AS i FROM dims),
        |x AS (
        |  SELECT *, i * nf // 4 AS src_a, (i + 1) * nf // 4 AS src_b FROM pairs),
        |d AS (
        |  SELECT doc_id, i, src_b,
        |    list_transform(range(w * h), p ->
        |      abs(CAST('0x' || substring(hx, 2 * CAST((p + src_a) % nb AS INTEGER) + 1, 2) AS INTEGER) -
        |          CAST('0x' || substring(hx, 2 * CAST((p + src_b) % nb AS INTEGER) + 1, 2) AS INTEGER))) AS diffs
        |  FROM x),
        |sums AS (
        |  SELECT doc_id, i, src_b,
        |    CAST(list_aggregate(diffs, 'sum') AS BIGINT) AS s
        |  FROM d),
        |tot AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS total FROM sums GROUP BY doc_id),
        |sel AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS frame_idx, CAST(0 AS BIGINT) AS src,
        |    CAST(0 AS BIGINT) AS sum_absdiff
        |  FROM dims
        |  UNION ALL
        |  SELECT m.doc_id, CAST(m.i + 1 AS BIGINT), CAST(m.src_b AS BIGINT), m.s
        |  FROM sums m JOIN tot t ON t.doc_id = m.doc_id
        |  WHERE 3 * m.s >= t.total)
        |SELECT doc_id, frame_idx, src, sum_absdiff
        |FROM sel ORDER BY doc_id, frame_idx""".stripMargin,
    // perceptual dedup replayed ANALYTICALLY (round 15): the corpus =
    // originals + every-10th-doc transcoded copies, and a 1/1 GIF
    // transcode of a gray raster is LOSSLESS, so a copy's pixels are
    // the SAME byte-cycle model under doc_id + 1e9. dHash's fractional
    // box filter is mirrored double-op-for-double-op: cell bounds
    // (c·n)/9.0, truncation/ceil pixel ranges, overlap weights
    // (min(hi, p+1) − max(lo, p)), terms (wy·wx)·pix accumulated in
    // the engine's row-major order via in-order list_sum, mean =
    // sum/area; bit i = cell(y,x) > cell(y,x+1) (strict double
    // compare — bit-identical because every input op is mirrored);
    // 4×16-bit MSB-first bands, any-band collision candidates
    // (doc1 < doc2, deduped), Hamming = Σ bit_count(xor(band)) ≤ 3.
    "mm_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    8 + (CAST('0x' || substring(md5(text),1,2) AS INTEGER) % 32) AS w,
        |    8 + (CAST('0x' || substring(md5(text),3,2) AS INTEGER) % 32) AS h
        |  FROM documents WHERE len(text) > 0),
        |imgs AS (
        |  SELECT doc_id, hx, nb, w, h FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000000, hx, nb, w, h FROM base WHERE doc_id % 10 = 0),
        |cells AS (
        |  SELECT doc_id, cy, cx,
        |    list_sum(flatten(list_transform(
        |      range(CAST(floor((cy * h) / 8.0) AS BIGINT),
        |            least(h - 1, CAST(ceil(((cy + 1) * h) / 8.0) AS BIGINT) - 1) + 1),
        |      yy -> list_transform(
        |        range(CAST(floor((cx * w) / 9.0) AS BIGINT),
        |              least(w - 1, CAST(ceil(((cx + 1) * w) / 9.0) AS BIGINT) - 1) + 1),
        |        xx -> ((least(((cy + 1) * h) / 8.0, yy + 1.0)
        |                 - greatest((cy * h) / 8.0, CAST(yy AS DOUBLE)))
        |               * (least(((cx + 1) * w) / 9.0, xx + 1.0)
        |                 - greatest((cx * w) / 9.0, CAST(xx AS DOUBLE))))
        |              * CAST('0x' || substring(hx,
        |                  2 * CAST((yy * w + xx) % nb AS INTEGER) + 1, 2) AS INTEGER)))))
        |    / list_sum(flatten(list_transform(
        |      range(CAST(floor((cy * h) / 8.0) AS BIGINT),
        |            least(h - 1, CAST(ceil(((cy + 1) * h) / 8.0) AS BIGINT) - 1) + 1),
        |      yy -> list_transform(
        |        range(CAST(floor((cx * w) / 9.0) AS BIGINT),
        |              least(w - 1, CAST(ceil(((cx + 1) * w) / 9.0) AS BIGINT) - 1) + 1),
        |        xx -> (least(((cy + 1) * h) / 8.0, yy + 1.0)
        |                - greatest((cy * h) / 8.0, CAST(yy AS DOUBLE)))
        |              * (least(((cx + 1) * w) / 9.0, xx + 1.0)
        |                - greatest((cx * w) / 9.0, CAST(xx AS DOUBLE))))))) AS cm
        |  FROM imgs
        |  CROSS JOIN range(8) t1(cy)
        |  CROSS JOIN range(9) t2(cx)),
        |cmp AS (
        |  SELECT a.doc_id, CAST(a.cy * 8 + a.cx AS INTEGER) AS i,
        |    CASE WHEN a.cm > b.cm THEN 1 ELSE 0 END AS bit
        |  FROM cells a JOIN cells b
        |    ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        |  WHERE a.cx < 8),
        |bands AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN i // 16 = 0 THEN bit * (1 << (15 - i % 16)) ELSE 0 END) AS BIGINT) AS band_0,
        |    CAST(sum(CASE WHEN i // 16 = 1 THEN bit * (1 << (15 - i % 16)) ELSE 0 END) AS BIGINT) AS band_1,
        |    CAST(sum(CASE WHEN i // 16 = 2 THEN bit * (1 << (15 - i % 16)) ELSE 0 END) AS BIGINT) AS band_2,
        |    CAST(sum(CASE WHEN i // 16 = 3 THEN bit * (1 << (15 - i % 16)) ELSE 0 END) AS BIGINT) AS band_3
        |  FROM cmp GROUP BY doc_id),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
        |  FROM (SELECT unnest(range(4)) AS band) bx
        |  JOIN bands a ON TRUE
        |  JOIN bands c ON c.doc_id > a.doc_id AND
        |    CASE bx.band WHEN 0 THEN a.band_0 = c.band_0
        |                 WHEN 1 THEN a.band_1 = c.band_1
        |                 WHEN 2 THEN a.band_2 = c.band_2
        |                 ELSE a.band_3 = c.band_3 END)
        |SELECT p.doc1, p.doc2,
        |  CAST(bit_count(xor(a.band_0, c.band_0)) + bit_count(xor(a.band_1, c.band_1))
        |     + bit_count(xor(a.band_2, c.band_2)) + bit_count(xor(a.band_3, c.band_3)) AS BIGINT) AS hamming
        |FROM pairs p
        |JOIN bands a ON a.doc_id = p.doc1
        |JOIN bands c ON c.doc_id = p.doc2
        |WHERE bit_count(xor(a.band_0, c.band_0)) + bit_count(xor(a.band_1, c.band_1))
        |    + bit_count(xor(a.band_2, c.band_2)) + bit_count(xor(a.band_3, c.band_3)) <= 3
        |ORDER BY doc1, doc2""".stripMargin,
    // every fingerprint rebuilt analytically from the byte-cycle PCM
    // model (sample i of clip = cycled byte i, n from md5 byte 3);
    // lossless re-encode ⇒ a copy is the SAME model under doc_id+3e9;
    // block = ⌊i·32/n⌋, energies exact integers, bit j = E[j+1]>E[j]
    // MSB-first, 8/8/8/7 bands, any-band collision, popcount ≤ 3
    "mm_audio_dedup" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    256 + (CAST('0x' || substring(md5(text),7,2) AS INTEGER) % 1024) AS n
        |  FROM documents WHERE len(text) > 0),
        |clips AS (
        |  SELECT doc_id, hx, nb, n FROM m
        |  UNION ALL
        |  SELECT doc_id + 3000000000, hx, nb, n FROM m WHERE doc_id % 10 = 0),
        |p AS (
        |  SELECT doc_id, n,
        |    substring(repeat(hx, CAST((n + nb - 1) // nb AS INTEGER)), 1, CAST(2 * n AS INTEGER)) AS pxh
        |  FROM clips),
        |e AS (
        |  SELECT doc_id, CAST(i * 32 // n AS INTEGER) AS blk,
        |    sum(abs(CAST('0x' || substring(pxh, CAST(2 * i + 1 AS INTEGER), 2) AS INTEGER) - 128)) AS en
        |  FROM (SELECT doc_id, n, pxh, unnest(range(n)) AS i FROM p)
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT a.doc_id,
        |    CAST(sum(CASE WHEN b.en > a.en
        |      THEN CAST(1 AS BIGINT) << CAST(30 - a.blk AS INTEGER)
        |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
        |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.blk = a.blk + 1
        |  GROUP BY 1),
        |bands AS (
        |  SELECT doc_id,
        |    CAST((fp >> 23) & 255 AS BIGINT) AS band_0,
        |    CAST((fp >> 15) & 255 AS BIGINT) AS band_1,
        |    CAST((fp >> 7) & 255 AS BIGINT) AS band_2,
        |    CAST(fp & 127 AS BIGINT) AS band_3
        |  FROM f),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
        |  FROM (SELECT unnest(range(4)) AS band) bx
        |  JOIN bands a ON TRUE
        |  JOIN bands c ON c.doc_id > a.doc_id AND
        |    CASE bx.band WHEN 0 THEN a.band_0 = c.band_0
        |                 WHEN 1 THEN a.band_1 = c.band_1
        |                 WHEN 2 THEN a.band_2 = c.band_2
        |                 ELSE a.band_3 = c.band_3 END)
        |SELECT p2.doc1, p2.doc2,
        |  CAST(bit_count(xor(a.band_0, c.band_0)) + bit_count(xor(a.band_1, c.band_1))
        |     + bit_count(xor(a.band_2, c.band_2)) + bit_count(xor(a.band_3, c.band_3)) AS BIGINT) AS hamming
        |FROM pairs p2
        |JOIN bands a ON a.doc_id = p2.doc1
        |JOIN bands c ON c.doc_id = p2.doc2
        |WHERE bit_count(xor(a.band_0, c.band_0)) + bit_count(xor(a.band_1, c.band_1))
        |    + bit_count(xor(a.band_2, c.band_2)) + bit_count(xor(a.band_3, c.band_3)) <= 3
        |ORDER BY doc1, doc2""".stripMargin,
    "mm_motion" ->
      """WITH dims AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |    8 + (CAST('0x' || substring(md5(text),1,2) AS INTEGER) % 32) AS w,
        |    8 + (CAST('0x' || substring(md5(text),3,2) AS INTEGER) % 32) AS h,
        |    4 + (CAST('0x' || substring(md5(text),5,2) AS INTEGER) % 5) AS nf
        |  FROM documents WHERE len(text) > 0),
        |pairs AS (
        |  SELECT doc_id, hx, nb, w, h, nf, unnest(range(3)) AS i FROM dims),
        |x AS (
        |  SELECT *, i * nf // 4 AS src_a, (i + 1) * nf // 4 AS src_b FROM pairs),
        |d AS (
        |  SELECT doc_id, i, w, h,
        |    list_transform(range(w * h), p ->
        |      abs(CAST('0x' || substring(hx, 2 * CAST((p + src_a) % nb AS INTEGER) + 1, 2) AS INTEGER) -
        |          CAST('0x' || substring(hx, 2 * CAST((p + src_b) % nb AS INTEGER) + 1, 2) AS INTEGER))) AS diffs
        |  FROM x)
        |SELECT doc_id, CAST(i AS INTEGER) AS pair_idx,
        |  CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(list_aggregate(diffs, 'sum') AS BIGINT) AS sum_absdiff,
        |  CAST(list_aggregate(diffs, 'sum') AS DOUBLE) / (w * h) AS mean_absdiff,
        |  CAST(len(list_filter(diffs, v -> v > 0)) AS DOUBLE) / (w * h) AS changed_frac
        |FROM d ORDER BY doc_id, pair_idx""".stripMargin
  )
}
