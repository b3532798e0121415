package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Unsigned little-endian reads out of a byte array — the byte order of
  * RIFF (WAV, AVI) and GIF. */
private[graft] object LittleEndian {
  def u16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  def u32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
}

/** Multimodal-column plumbing — SURVEY.md §7.5. The IMAGE decode/resize
  * paths are real (JDK built-in `javax.imageio`: PNG/JPEG/BMP/GIF), the
  * AUDIO path is real for WAV/PCM (pure byte parsing + PCM16 RMS — WAV is
  * a container, not a codec), and the VIDEO frame-sampler is real for
  * multi-frame GIF (ImageIO sequence demux, full pixel decode), for
  * mp4/mov (`Mp4Index`: pure-byte ISO BMFF sample-table parsing), and for
  * webm/mkv (`WebmIndex`: pure-byte EBML SimpleBlock walk) — container
  * demux needs no codec, so every container format's frame index is read
  * for real. Only actual codec work (mp3/aac PCM decode, video pixel
  * decode) keeps clearly-marked deterministic stubs — no codec libraries
  * ship in the JDK. Everything around the kernels — binary columns with
  * typed metadata, batched per-partition decode, explicit output schema,
  * partition-count preservation — is real Spark plumbing; OperatorSpec
  * exercises the plumbing and decodes actual in-test-generated PNGs
  * through the real path.
  *
  * Scale notes: media bytes stay opaque `binary` all the way to the decode
  * operator (no per-row driver traffic, no string round-trips); decode runs
  * via mapPartitions so a real implementation amortizes codec init per
  * partition (the Scala analogue of a batched Pandas-UDF decode), and its
  * output is a narrow typed struct so downstream pruning drops the bytes.
  */
object Multimodal {
  import LittleEndian.{u16, u32}

  /** Typed media record: opaque payload + envelope metadata. */
  final case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])

  /** Decoded features; a real decoder would fill these from the codec. */
  final case class MediaFeatures(media_id: Long, kind: String,
                                 n_bytes: Long, width: Int, height: Int,
                                 channels: Int, checksum: Long)

  /** Build a binary media table from documents (payload = utf8 bytes —
    * stands in for image/audio blobs with the same schema shape). */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Decode dispatcher: image payloads go through the REAL `javax.imageio`
    * decoder (the JDK ships PNG/JPEG/BMP/GIF codecs — zero new
    * dependencies); payloads ImageIO can't parse (the harness media table
    * carries text bytes standing in for blobs) and audio/video kinds fall
    * back to the deterministic stub. The swap happens inside the record
    * kernel: the surrounding plan — mapPartitions batching, typed schema,
    * partition preservation — is identical on both paths. */
  private def decode(r: MediaRecord): MediaFeatures =
    (if (r.kind == "image") decodeImage(r) else None).getOrElse(decodeStub(r))

  /** Deterministic payload fingerprint shared by every kernel (decode,
    * stub, resize-verify, frame-sample) — one definition so the formula
    * can't silently diverge between paths. */
  private def byteChecksum(bytes: Array[Byte]): Long =
    bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)

  /** The ONE ImageIO read wrapper both image kernels share. The payload is
    * already in memory, so it's wrapped in a MemoryCacheImageInputStream —
    * `ImageIO.read(InputStream)` would default to a
    * FileCacheImageInputStream and pay a per-record temp-file round-trip
    * on the executor. Returns None (not an exception) for unparseable
    * payloads so callers fall back without control-flow cost on the hot
    * path; the catch is the corrupt-container policy, defined once. */
  private def readImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))))
    catch { case _: Exception => None } // corrupt container → stub path

  /** Real image decode via the JDK's built-in ImageIO: actual pixel
    * dimensions and color-component count from the container header. */
  private[operators] def decodeImage(r: MediaRecord): Option[MediaFeatures] =
    readImage(r.payload).map { img =>
      MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
        width = img.getWidth, height = img.getHeight,
        channels = img.getColorModel.getNumComponents,
        checksum = byteChecksum(r.payload))
    }

  /** STUB DECODER — deterministic fake standing in for codecs the JDK
    * lacks (audio/video). Reads only payload bytes; a real decoder swaps
    * in here without any change to the surrounding plan. */
  private def decodeStub(r: MediaRecord): MediaFeatures = {
    val bytes = r.payload
    val checksum = byteChecksum(bytes)
    val b0 = if (bytes.nonEmpty) bytes(0) & 0xff else 0
    MediaFeatures(r.media_id, r.kind, bytes.length.toLong,
      width = 32 + b0 % 64, height = 32 + (b0 * 7) % 64,
      channels = if (r.kind == "image") 3 else 1, checksum = checksum)
  }

  /** Batched per-partition decode: the real operator shape (codec init
    * once per partition, rows streamed through). */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real impl note: ImageIO readers are created per call; a native
      // codec would open its context here, once per partition
      rows.map(decode)
    }
  }

  /** REAL image resize via JDK Graphics2D bilinear scaling (the image
    * analogue of the WAV upgrade — zero new dependencies): decode through
    * ImageIO, rescale to (targetW, targetH), and checksum the RESIZED
    * PIXELS (RGB raster fold, not re-encoded bytes — PNG encoder output
    * is writer-version dependent; pixels are the content). Returns None
    * for payloads that aren't decodable images so the dispatcher can fall
    * back to the stub, same contract as `decodeImage`. */
  private[operators] def resizeImage(r: MediaRecord,
                                     w: Int, h: Int): Option[MediaFeatures] =
    try resizeImageUnsafe(r, w, h)
    catch { case _: Exception => None } // e.g. CMMException from a broken
    // ICC profile: decodable container, unconvertible pixels — same
    // corrupt-media policy as readImage, the stub path takes over

  private def resizeImageUnsafe(r: MediaRecord,
                                w: Int, h: Int): Option[MediaFeatures] =
    readImage(r.payload).map { img =>
      val dst = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      var acc = 0L; var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          acc = (acc * 31 + (dst.getRGB(x, y) & 0xffffff)) % 1000000007L
          x += 1
        }
        y += 1
      }
      MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
        width = w, height = h,
        channels = dst.getColorModel.getNumComponents, checksum = acc)
    }

  /** Resized features: REAL Graphics2D kernel for decodable images, the
    * deterministic stub for everything else. The operator contract —
    * narrow typed output, per-partition batching, target dims as plain
    * arguments captured in the closure — is identical on both paths. */
  def resizeFeatures(media: Dataset[MediaRecord],
                     targetW: Int, targetH: Int): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real impl note: a native scaler would init once per partition here
      rows.map { r =>
        // kind-gated like decode(): a video/audio record whose bytes happen
        // to parse as an image must NOT get image features (and non-image
        // kinds skip the ImageIO parse attempt entirely)
        (if (r.kind == "image") resizeImage(r, targetW, targetH) else None)
          .getOrElse {
          val f = decodeStub(r)
          f.copy(width = targetW, height = targetH,
            // checksum re-derived so downstream can verify the resize ran
            checksum = (f.checksum * 31 + targetW * 1000003L + targetH) % 1000000007L)
        }
      }
    }
  }

  /** Decoded audio features: container header fields + a signal statistic
    * computed over the actual PCM samples. */
  final case class AudioFeatures(media_id: Long, sample_rate: Int,
                                 n_channels: Int, bits_per_sample: Int,
                                 n_frames: Long, duration_ms: Long, rms: Double)

  // IMA ADPCM quantizer tables (the IMA "Recommended Practices for
  // Enhancing Digital Audio Compatibility" algorithm, also RFC 3551 DVI4)
  private val AdpcmStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484,
    7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
    18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val AdpcmIndexAdj: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** The `fmt ` fields and the `data` range of a WAV payload. */
  private final case class WavLayout(fmtTag: Int, ch: Int, rate: Int, bits: Int,
      blockAlign: Int, samplesPerBlock: Int, dataOff: Long, dataLen: Long)

  /** The strict RIFF chunk walk shared by the WAV decoders: None unless
    * `b` is a RIFF/WAVE container of at least 44 bytes. Fields of an
    * absent `fmt ` chunk read 0, and an absent `data` chunk leaves
    * dataOff at −1. */
  private def wavLayout(b: Array[Byte]): Option[WavLayout] = {
    def tag(i: Int): String = new String(b, i, 4, "US-ASCII")
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12L
    var fmtTag = 0; var rate = 0; var ch = 0; var bits = 0
    var blockAlign = 0; var samplesPerBlock = 0
    var dataOff = -1L; var dataLen = 0L
    // chunk walk; `len` comes from untrusted bytes, so every step is
    // bounds-checked and monotone (word-aligned) to rule out loops
    while (pos + 8 <= b.length) {
      val id = tag(pos.toInt); val len = u32(b, pos.toInt + 4)
      if (id == "fmt " && pos + 24 <= b.length) {
        fmtTag = u16(b, pos.toInt + 8)
        ch = u16(b, pos.toInt + 10); rate = u32(b, pos.toInt + 12).toInt
        blockAlign = u16(b, pos.toInt + 20)
        bits = u16(b, pos.toInt + 22)
        // the ADPCM fmt extension declares samples per block
        if (pos + 28 <= b.length) samplesPerBlock = u16(b, pos.toInt + 26)
      } else if (id == "data" && dataOff < 0) {
        dataOff = pos + 8
        dataLen = math.min(len, b.length - dataOff)
      }
      pos += 8 + len + (len & 1L)
    }
    Some(WavLayout(fmtTag, ch, rate, bits, blockAlign, samplesPerBlock, dataOff, dataLen))
  }

  /** REAL audio decode with pure JDK byte parsing — WAV is a container,
    * not a codec: walk the RIFF chunk list for `fmt ` (format tag, rate,
    * channels, bits, block align) and `data`, then compute the signal RMS
    * over the ACTUAL samples. Two codepaths:
    *  - PCM16 (format 1): samples read straight off the byte stream;
    *  - IMA ADPCM (format 0x11, mono): a REAL compressed codec decoded in
    *    pure integer math — per-block (predictor, step-index) header, then
    *    4-bit nibbles expanded through the IMA step/index tables, 4:1
    *    compression undone with zero library code. Stereo ADPCM and
    *    entropy-coded formats (mp3/aac) keep the stub contract.
    * Returns None for payloads that are neither. All arithmetic is integer
    * accumulation + one final sqrt — deterministic at any partitioning,
    * and every index derived from untrusted bytes is clamped before use. */
  private[operators] def decodeWav(r: MediaRecord): Option[AudioFeatures] = {
    val b = r.payload
    val WavLayout(fmtTag, ch, rate, bits, blockAlign, samplesPerBlock, dataOff, dataLen) =
      wavLayout(b) match { case Some(w) => w; case None => return None }
    if (rate <= 0 || ch <= 0 || dataOff < 0) return None
    if (fmtTag == 1 && bits == 16) {
      val nFrames = dataLen / (ch * 2)
      var i = dataOff.toInt; var acc = 0L; var n = 0L
      val end = (dataOff + dataLen).toInt
      while (i + 1 < end) {
        val s = (u16(b, i) << 16) >> 16 // sign-extend PCM16
        acc += s.toLong * s; n += 1; i += 2
      }
      val rms = if (n == 0) 0.0 else math.sqrt(acc.toDouble / n)
      Some(AudioFeatures(r.media_id, rate, ch, bits, nFrames,
        nFrames * 1000L / rate, rms))
    } else if (fmtTag == 0x11 && ch == 1 && bits == 4 && blockAlign >= 5) {
      // a block physically holds header sample + 2 nibbles per data byte;
      // a declared samplesPerBlock beyond that is a lie — clamp, never
      // trust it as an allocation or loop bound
      val maxSpb = (blockAlign - 4) * 2 + 1
      val take = if (samplesPerBlock > 0) math.min(samplesPerBlock, maxSpb)
                 else maxSpb
      var acc = 0L; var n = 0L
      var blockStart = dataOff.toInt
      val end = (dataOff + dataLen).toInt
      while (blockStart + 4 <= end) {
        val blockEnd = math.min(blockStart.toLong + blockAlign, end.toLong).toInt
        var pred = (u16(b, blockStart) << 16) >> 16 // header IS sample 0
        var index = math.min(88, math.max(0, b(blockStart + 2) & 0xff))
        acc += pred.toLong * pred; n += 1
        var produced = 1
        var i = blockStart + 4
        while (i < blockEnd && produced < take) {
          val byte = b(i) & 0xff
          var k = 0
          while (k < 2 && produced < take) {
            val nib = if (k == 0) byte & 0x0f else byte >>> 4 // low nibble first
            val step = AdpcmStep(index)
            var diff = step >> 3
            if ((nib & 1) != 0) diff += step >> 2
            if ((nib & 2) != 0) diff += step >> 1
            if ((nib & 4) != 0) diff += step
            pred = if ((nib & 8) != 0) math.max(-32768, pred - diff)
                   else math.min(32767, pred + diff)
            index = math.min(88, math.max(0, index + AdpcmIndexAdj(nib)))
            acc += pred.toLong * pred; n += 1; produced += 1
            k += 1
          }
          i += 1
        }
        blockStart += blockAlign
      }
      if (n == 0) None
      else Some(AudioFeatures(r.media_id, rate, ch, bits, n,
        n * 1000L / rate, math.sqrt(acc.toDouble / n)))
    } else None
  }

  /** Batched per-partition audio feature extraction: the REAL WAV paths
    * (PCM16 and IMA-ADPCM-compressed) with the deterministic stub as
    * fallback for payloads that aren't WAV containers (the harness media
    * table carries text bytes). Same operator shape as decodeFeatures:
    * typed narrow output, partition-preserving. */
  def audioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { rows =>
      rows.map { r =>
        decodeWav(r).getOrElse {
          // STUB fallback — deterministic envelope derived from bytes only
          val cs = byteChecksum(r.payload)
          AudioFeatures(r.media_id, 16000, 1, 16, r.payload.length.toLong,
            r.payload.length.toLong * 1000L / 16000L, (cs % 1000L).toDouble)
        }
      }
    }
  }

  /** Frame envelope for sampled video frames. */
  final case class Frame(media_id: Long, frame_idx: Int, n_bytes: Long, checksum: Long)

  /** REAL multi-frame decode for GIF containers — the one video-ish format
    * the JDK can demux without external codecs (`ImageReader.getNumImages`
    * walks the frame sequence; `read(i)` decodes frame i). Samples every
    * `stride`-th frame and checksums the DECODED PIXELS (same
    * rgb-raster fold as the resize kernel — encoder bytes are
    * writer-version dependent; pixels are the content). `n_bytes` is the
    * decoded RGB raster size (w·h·3), not the compressed chunk size.
    * Returns None for payloads that aren't multi-frame ImageIO containers
    * so the dispatcher falls back to the stub — same corrupt-media policy
    * as `readImage`. mp4/webm stay codec-bound (out of JDK reach). */
  private[operators] def sampleContainerFrames(r: MediaRecord,
                                               stride: Int): Option[Vector[Frame]] =
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          // seekForwardOnly=false: strided access revisits the index;
          // ignoreMetadata: only pixels are needed
          reader.setInput(iis, false, true)
          val n = reader.getNumImages(true) // allowSearch: exact frame count
          if (n <= 1) None // single-frame payloads are images, not video
          else Some((0 until n by stride).toVector.map { i =>
            val (nBytes, acc) = rasterChecksum(reader.read(i))
            Frame(r.media_id, i, nBytes, acc)
          })
        } finally reader.dispose()
      }
    } catch { case _: Exception => None } // corrupt container → stub path

  /** Shared decoded-frame feature: (raster size w·h·3, RGB pixel fold in
    * row-major order mod 1e9+7) — pure integer arithmetic after the
    * decoder, so bit-stable wherever the decode itself is. */
  private def rasterChecksum(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    var acc = 0L; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        acc = (acc * 31 + (img.getRGB(x, y) & 0xffffff)) % 1000000007L
        x += 1
      }
      y += 1
    }
    (w.toLong * h * 3L, acc)
  }

  /** REAL mp4 frame sampling via the sample INDEX (no decode): every
    * `stride`-th sample's CODED bytes are sliced out of the payload at the
    * offset/size the container's own index declares and checksummed — the
    * demuxer's half of frame extraction, which is all a frame-SAMPLING
    * operator needs (a decoder would consume these exact byte ranges).
    * `n_bytes` is the coded sample size. Single-sample files are "images
    * in an mp4 coat", not video — None, like the GIF kernel's n<=1 rule. */
  private[graft] def sampleMp4Frames(r: MediaRecord, stride: Int): Option[Vector[Frame]] =
    framesFromIndex(r, Mp4Index.sampleIndex(r.payload), stride)

  /** Same contract over the Matroska/WebM index — with `Mp4Index` and the
    * GIF kernel this makes every container format's frame-SAMPLING path
    * real; only pixel decode stays codec-bound. */
  private[graft] def sampleWebmFrames(r: MediaRecord, stride: Int): Option[Vector[Frame]] =
    framesFromIndex(r, WebmIndex.sampleIndex(r.payload), stride)

  /** AVI frame sampling — and, uniquely among the video containers, REAL
    * pixel decode when the stream is Motion-JPEG: each MJPEG '##dc' chunk
    * is a complete baseline JPEG, a codec the JDK ships. Every sampled
    * frame slice is offered to ImageIO; a decode yields the GIF-kernel
    * pixel contract (n_bytes = w·h·3, raster-fold checksum), a miss falls
    * back to the coded-byte contract of the mp4/webm paths — so a DV or
    * Cinepak AVI still demuxes, it just isn't pixel-decoded. */
  private[graft] def sampleAviFrames(r: MediaRecord, stride: Int): Option[Vector[Frame]] =
    AviIndex.sampleIndex(r.payload).flatMap { idx =>
      if (idx.length <= 1) None // single-frame "video" — an image in an AVI coat
      else Some((0 until idx.length by stride).toVector.map { i =>
        val (off, sz) = idx(i)
        val slice = java.util.Arrays.copyOfRange(r.payload, off.toInt, off.toInt + sz)
        readImage(slice) match {
          case Some(img) =>
            val (nBytes, acc) = rasterChecksum(img)
            Frame(r.media_id, i, nBytes, acc)
          case None => Frame(r.media_id, i, sz.toLong, byteChecksum(slice))
        }
      })
    }

  /** Every `stride`-th coded frame sliced out at the (offset, size) the
    * container index declares and checksummed — the shared back half of
    * both index demuxers (ranges are already payload-bounds-verified by
    * the parsers). Single-sample files are "images in a video coat", not
    * video — None, like the GIF kernel's n<=1 rule. */
  private def framesFromIndex(r: MediaRecord, index: Option[Vector[(Long, Int)]],
                              stride: Int): Option[Vector[Frame]] =
    index.flatMap { idx =>
      if (idx.length <= 1) None
      else Some((0 until idx.length by stride).toVector.map { i =>
        val (off, sz) = idx(i)
        Frame(r.media_id, i, sz.toLong,
          byteChecksum(java.util.Arrays.copyOfRange(r.payload, off.toInt, off.toInt + sz)))
      })
    }

  /** Frame sampling: REAL demux kernels for multi-frame GIF (full pixel
    * decode — the JDK ships the codec), mp4/mov (sample-index demux via
    * the container's stbl tables), webm/mkv (SimpleBlock walk via the
    * EBML element grammar), and AVI (RIFF chunk walk; MJPEG frames decode
    * to real pixels) — no codec needed for any index path. The
    * deterministic chunk stub remains only for payloads that parse as
    * none of the containers. Either way the operator is a 1→N flatMap
    * per video row — the real shape of frame extraction (output rows
    * carry (media_id, frame_idx), no driver involvement, partition count
    * preserved, demuxer state per record inside a per-partition batch). */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int,
                   frameBytes: Int = 64): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions { rows =>
      // real impl note: a native demuxer would open its context here,
      // once per partition
      rows.flatMap { r =>
        sampleContainerFrames(r, stride)
          .orElse(sampleMp4Frames(r, stride))
          .orElse(sampleWebmFrames(r, stride))
          .orElse(sampleAviFrames(r, stride))
          .getOrElse {
            // STUB fallback — every `stride`-th fixed-size chunk of the
            // payload stands in for a decoded frame
            val nFrames = math.max(1, r.payload.length / frameBytes)
            (0 until nFrames by stride).toVector.map { i =>
              val chunk = r.payload.slice(i * frameBytes, math.min((i + 1) * frameBytes, r.payload.length))
              Frame(r.media_id, i, chunk.length.toLong, byteChecksum(chunk))
            }
          }
      }
    }
  }

  /** Oracle'd catalog entry: binary envelope metadata (octet length, md5 of
    * the payload bytes) aggregated per kind — the part of the multimodal
    * path that IS plain relational algebra. */
  final case class PerceptualHash(media_id: Long, kind: String,
                                  n_bytes: Long, ahash: Long)

  /** REAL perceptual average-hash (aHash) — the content-level near-dup
    * key exact byte hashing cannot give: re-encoded, recompressed, or
    * slightly brightened copies of the same picture keep (almost) the
    * same aHash while md5 scatters them. Kernel: bilinear-downscale to
    * 8×8 through the same Graphics2D path as resizeImage, integer
    * BT.601 luma per cell, threshold at the mean → 64 bits. Pure integer
    * arithmetic after the (deterministic) JDK scaler: bit-stable across
    * runs and platforms. */
  private[operators] def averageHash(img: java.awt.image.BufferedImage): Long = {
    val small = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    try {
      g.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 8, 8, null)
    } finally g.dispose()
    val grays = new Array[Int](64)
    var i = 0
    while (i < 64) {
      val rgb = small.getRGB(i % 8, i / 8)
      grays(i) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
        (rgb & 0xff) * 114) / 1000
      i += 1
    }
    var sum = 0L; i = 0
    while (i < 64) { sum += grays(i); i += 1 }
    val mean = sum / 64
    var acc = 0L; i = 0
    while (i < 64) { if (grays(i) > mean) acc |= (1L << i); i += 1 }
    acc
  }

  /** Per-record perceptual hashes: the REAL aHash kernel for decodable
    * images, a deterministic stub (byteChecksum-derived bits) for
    * everything else — the same dual-path contract as decode/resize. */
  def perceptualHashes(media: Dataset[MediaRecord]): Dataset[PerceptualHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val h = (if (r.kind == "image") readImage(r.payload) else None)
          .map(averageHash)
          .getOrElse {
            val c = byteChecksum(r.payload)
            c * 2654435761L + r.payload.length // stub: spread checksum bits
          }
        PerceptualHash(r.media_id, r.kind, r.payload.length.toLong, h)
      }
    }
  }

  /** Perceptual near-dup pairs at Hamming ≤ maxHamming over the aHash,
    * via the SAME 4×16-bit pigeonhole blocking as dedup_simhash_hamming:
    * two hashes within distance 3 must agree on at least one of the four
    * 16-bit blocks, so candidates come from four equi-joins (block index +
    * block value), never an all-pairs scan; the exact popcount filter
    * runs only on candidates. */
  def perceptualDupPairs(hashes: Dataset[PerceptualHash],
                         maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "4-block pigeonhole covers Hamming <= 3")
    val h = hashes.toDF()
    val blocks = h.select(col("media_id"), col("ahash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("block_idx"),
          shiftright(col("ahash"), 16 * b).bitwiseAND(0xffffL).as("block_val"))): _*)).as("blk"))
      .select(col("media_id"), col("ahash"), col("blk.block_idx"), col("blk.block_val"))
    blocks.as("a").join(blocks.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
        col("a.block_val") === col("b.block_val") &&
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("media_a"), col("media_b"))
  }

  def binaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(spark, dir).toDF()
    m.withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("payload_md5", md5(col("payload")))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("n_bytes")).as("min_bytes"),
        max(col("n_bytes")).as("max_bytes"),
        min(col("payload_md5")).as("min_md5"))
      .orderBy(col("kind"))
  }

  /** Deterministic synthetic PCM16 WAV per audio-kind doc: mono, 8 kHz,
    * n = 64 + doc_id % 128 frames, sample_i = ((doc_id·31 + i·7) mod 2003)
    * − 1001 — a pure integer function of (doc_id, i), so the EXPECTED
    * features are computable analytically by the DuckDB oracle while the
    * Spark side must round-trip the actual container bytes through the
    * REAL RIFF/PCM16 decoder (`decodeWav`). A header/parse bug — wrong
    * chunk offset, sign-extension slip, off-by-one frame count — breaks
    * the hash. RMS is engine-portable without a decimal lattice because
    * it is one exact-integer sum, one IEEE division and one sqrt (both
    * correctly rounded by IEEE 754 in every engine — unlike ln/exp). */
  private[graft] def pcm16Wav(id: Long, n: Int, rate: Int): Array[Byte] =
    monoPcm16Wav(n, rate)(i => (((id * 31 + i * 7) % 2003) - 1001).toShort)

  /** A mono PCM16 WAV of `n` frames at `rate` Hz: the 44-byte
    * RIFF/`fmt `/`data` header, then `sample(i)` for every frame i. */
  private def monoPcm16Wav(n: Int, rate: Int)(sample: Int => Short): Array[Byte] = {
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      bb.putShort(sample(i))
      i += 1
    }
    bb.array()
  }

  /** WAV container synthesis runs per-partition (the documented Multimodal
    * codec-kernel exception): payload bytes are born and decoded on the
    * executor, never touching the driver. */
  private[operators] def syntheticWavMedia(spark: SparkSession,
                                           dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRecord(id, "audio", pcm16Wav(id, (64 + id % 128).toInt, 8000))
      })
  }

  /** `mm_audio_features`: the real-audio-path correctness entry — encode
    * each audio doc as an actual PCM16 WAV, decode through the real RIFF
    * chunk walk + PCM16 RMS kernel, compare against the analytic oracle. */
  def audioFeatureTable(spark: SparkSession, dir: String): DataFrame =
    audioFeatures(syntheticWavMedia(spark, dir)).toDF()
      .orderBy(col("media_id"))

  /** Decoded-pixel features for the image correctness entry. */
  final case class ImageFeatures(media_id: Long, width: Int, height: Int,
                                 sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic synthetic 24-bit BMP per image-kind doc: w = 8 +
    * doc_id % 9, h = 8 + doc_id % 5, pixel (x, y) channels are pure
    * integer functions of (doc_id, x, y). BMP is the one raster format
    * with NO entropy coding — rows stored bottom-up, BGR order, each row
    * padded to a 4-byte boundary — so the container round-trips through
    * the JDK's real BMP ImageReader pixel-exactly, and the DuckDB oracle
    * can recompute the decoded-pixel channel sums analytically. A builder
    * or decoder slip (row order, padding, channel order) breaks the
    * hash: this is `mm_audio_features`' discipline applied to the image
    * leg. */
  private[graft] def bmp24(id: Long): Array[Byte] = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 5).toInt
    val rowBytes = (w * 3 + 3) / 4 * 4
    val dataLen = rowBytes * h
    val bb = java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h) // positive height = bottom-up rows
      .putShort(1).putShort(24).putInt(0).putInt(dataLen)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = h - 1 // file rows run bottom-up: last image row first
    while (y >= 0) {
      var x = 0
      while (x < w) {
        bb.put((((id * 13 + 4 * x + y) % 256) & 0xff).toByte) // B
        bb.put((((id * 11 + x + 2 * y) % 256) & 0xff).toByte) // G
        bb.put((((id * 7 + 3 * x + 5 * y) % 256) & 0xff).toByte) // R
        x += 1
      }
      var pad = rowBytes - w * 3
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
      y -= 1
    }
    bb.array()
  }

  /** `mm_image_features`: encode each image doc as an actual BMP on the
    * executor, decode through the REAL `javax.imageio` path, and report
    * the decoded-pixel channel sums — exact integers, analytically
    * oracled. Batched per-partition like every Multimodal codec kernel. */
  def imageFeatureTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaRecord(id, "image", bmp24(id))))
    media.mapPartitions(_.map { r =>
      val img = readImage(r.payload).getOrElse(
        sys.error(s"BMP ${r.media_id} failed the real ImageIO decode"))
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      ImageFeatures(r.media_id, img.getWidth, img.getHeight, sr, sg, sb)
    }).toDF()
      .orderBy(col("media_id"))
  }

  /** Deterministic synthetic AVI per video-kind doc: a real RIFF
    * container — LIST hdrl (strl/strh typed 'vids') + LIST movi holding
    * nf = 3 + doc_id % 5 coded-frame chunks (`00dc`) of
    * 16 + doc_id % 16 bytes whose content is a pure integer function of
    * (doc_id, frame, position). The chunk grammar (u32 little-endian
    * sizes, even-offset padding, nested LIST ranges) must round-trip the
    * real `AviIndex` demuxer exactly — a size or padding slip
    * desynchronizes every later chunk boundary and the strict parser
    * rejects the file. */
  private[graft] def syntheticAvi(id: Long): Array[Byte] = {
    val nf = (3 + id % 5).toInt
    val flen = (16 + id % 16).toInt
    aviFile((0 until nf).map(i =>
      Array.tabulate(flen)(j => (((id * 3 + i * 7 + j * 11) % 256) & 0xff).toByte)))
  }

  /** One RIFF chunk: fourcc, u32 little-endian size, data, and a zero pad
    * byte when the size is odd (chunks start at even offsets). */
  private def riffChunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val sz = data.length
    val bb = java.nio.ByteBuffer.allocate(8 + sz + (sz & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(tag.getBytes("ISO-8859-1")).putInt(sz).put(data)
    bb.array() // trailing pad byte (if odd) left zero by allocate
  }

  /** A RIFF `LIST` chunk of the given list type. */
  private def riffList(kind: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", kind.getBytes("ISO-8859-1") ++ body)

  /** A minimal AVI: LIST hdrl (strl/strh typed 'vids') + LIST movi with
    * one coded-frame chunk (`00dc`) per entry of `frames`. */
  private def aviFile(frames: Seq[Array[Byte]]): Array[Byte] = {
    val strh = "vids".getBytes("ISO-8859-1") ++ new Array[Byte](52)
    val hdrl = riffList("hdrl", riffList("strl", riffChunk("strh", strh)))
    val movi = riffList("movi", frames.map(riffChunk("00dc", _)).reduce(_ ++ _))
    val body = hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(12 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ISO-8859-1")).putInt(4 + body.length)
      .put("AVI ".getBytes("ISO-8859-1")).put(body)
    bb.array()
  }

  /** `mm_video_frames`: the video-leg correctness gate — encode each
    * video doc as an actual AVI container on the executor, demux through
    * the REAL RIFF/movi index walk (`sampleAviFrames`, stride 1), and
    * report every frame's (index, size, payload checksum) against a
    * DuckDB oracle that recomputes them analytically. The checksum is the
    * shared PolyHash byte fold, mirrored with list_reduce — the
    * dedup_simhash idiom. Frame payloads are deliberately NOT images, so
    * the demuxer's coded-bytes path (not ImageIO) is the one under test:
    * wrong offsets or sizes change the folded bytes and break the hash. */
  def videoFrameTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val r = MediaRecord(id, "video", syntheticAvi(id))
        sampleAviFrames(r, 1).getOrElse(
          sys.error(s"AVI $id failed the real demux"))
      })
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Deterministic synthetic ISO BMFF (mp4) per video-kind doc — the
    * big-endian counterpart of `syntheticAvi`, exercising the OTHER
    * container family: ftyp + mdat (frames head-to-tail) + moov whose
    * stbl tables (stsz per-sample sizes — deliberately NON-uniform to
    * hit the per-sample path, stsc chunk runs — two chunks so the run
    * expansion walks a boundary, stco absolute file offsets) must be
    * written self-consistently or the strict `Mp4Index` walk rejects
    * the file. nf = 3 + doc_id % 4 frames of 12 + (doc_id + i) % 8
    * bytes, content a pure integer function of (doc_id, frame, pos). */
  private[graft] def syntheticMp4(id: Long): Array[Byte] = {
    def be32(x: Int): Array[Byte] =
      Array((x >>> 24).toByte, (x >>> 16).toByte, (x >>> 8).toByte, x.toByte)
    def box(tag: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ tag.getBytes("ISO-8859-1") ++ payload
    val nf = (3 + id % 4).toInt
    def flen(i: Int): Int = (12 + (id + i) % 8).toInt
    def frame(i: Int): Array[Byte] =
      Array.tabulate(flen(i))(j => (((id * 5 + i * 13 + j * 3) % 256) & 0xff).toByte)
    val ftyp = box("ftyp", "isom".getBytes("ISO-8859-1") ++ be32(0))
    val mdat = box("mdat", (0 until nf).map(frame).reduce(_ ++ _))
    val dataOff = ftyp.length + 8 // first frame byte's absolute offset
    val off2 = dataOff + flen(0) + flen(1) // chunk 2 starts after 2 samples
    val hdlr = box("hdlr",
      be32(0) ++ be32(0) ++ "vide".getBytes("ISO-8859-1") ++ new Array[Byte](12))
    val stsz = box("stsz", be32(0) ++ be32(0) ++ be32(nf) ++
      (0 until nf).flatMap(i => be32(flen(i))).toArray)
    val stsc = box("stsc", be32(0) ++ be32(2) ++
      (be32(1) ++ be32(2) ++ be32(1)) ++ (be32(2) ++ be32(nf - 2) ++ be32(1)))
    val stco = box("stco", be32(0) ++ be32(2) ++ be32(dataOff) ++ be32(off2))
    val moov = box("moov", box("trak", box("mdia",
      hdlr ++ box("minf", box("stbl", stsz ++ stsc ++ stco)))))
    ftyp ++ mdat ++ moov
  }

  /** `mm_mp4_frames`: the ISO BMFF twin of `mm_video_frames` — the real
    * stsz/stsc/stco table walk reads every frame's (offset, size) off
    * the container; index, size and payload checksum oracled
    * analytically. */
  def mp4FrameTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val r = MediaRecord(id, "video", syntheticMp4(id))
        sampleMp4Frames(r, 1).getOrElse(
          sys.error(s"mp4 $id failed the real demux"))
      })
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Deterministic synthetic WebM/Matroska per video-kind doc — the EBML
    * counterpart of the AVI/mp4 builders, completing the container
    * trio: a Segment holding Tracks (TrackEntry number 1, type 1 =
    * video) and TWO Clusters of unlaced SimpleBlocks (track varint +
    * 16-bit timecode + flags + frame bytes), sizes EBML-varint encoded
    * (1-byte below 127, 2-byte 0x40-prefixed above — all-ones values
    * are the reserved "unknown size" marker and must never be emitted
    * accidentally). nf = 2 + doc_id % 4 frames of
    * 10 + (2·doc_id + i) % 9 bytes. */
  private[graft] def syntheticWebm(id: Long): Array[Byte] = {
    def idBytes(v: Long): Array[Byte] = {
      val n = (71 - java.lang.Long.numberOfLeadingZeros(v)) / 8
      Array.tabulate(n)(k => ((v >>> (8 * (n - 1 - k))) & 0xff).toByte)
    }
    def sz(v: Int): Array[Byte] =
      if (v < 127) Array((0x80 | v).toByte)
      else Array((0x40 | (v >> 8)).toByte, (v & 0xff).toByte)
    def el(eid: Long, payload: Array[Byte]): Array[Byte] =
      idBytes(eid) ++ sz(payload.length) ++ payload
    val nf = (2 + id % 4).toInt
    def flen(i: Int): Int = (10 + (id * 2 + i) % 9).toInt
    def frame(i: Int): Array[Byte] =
      Array.tabulate(flen(i))(j => (((id * 9 + i * 17 + j * 5) % 256) & 0xff).toByte)
    def simpleBlock(i: Int): Array[Byte] =
      el(0xA3L, Array(0x81.toByte, 0.toByte, 0.toByte, 0.toByte) ++ frame(i))
    val tracks = el(0x1654AE6BL,
      el(0xAEL, el(0xD7L, Array(1.toByte)) ++ el(0x83L, Array(1.toByte))))
    val cluster1 = el(0x1F43B675L, simpleBlock(0))
    val cluster2 = el(0x1F43B675L, (1 until nf).map(simpleBlock).reduce(_ ++ _))
    el(0x18538067L, tracks ++ cluster1 ++ cluster2)
  }

  /** `mm_webm_frames`: the EBML leg of the container correctness gates —
    * the real WebmIndex varint/Cluster/SimpleBlock walk reads every
    * unlaced frame's (offset, size) off the container; index, size and
    * payload checksum oracled analytically. */
  def webmFrameTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val r = MediaRecord(id, "video", syntheticWebm(id))
        sampleWebmFrames(r, 1).getOrElse(
          sys.error(s"webm $id failed the real demux"))
      })
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Per-frame solid-gray value of the synthetic MJPEG stream — the
    * analytic contract `mm_video_pixels` and its oracle share. */
  private[graft] def mjpegGray(id: Long, i: Int): Int =
    ((id * 37 + i * 59) % 256).toInt

  private[graft] val MjpegW = 16
  private[graft] val MjpegH = 8

  /** A complete baseline JPEG of a solid-gray WxH image, encoded through
    * the JDK's real JPEG writer at an explicit quality. Solid gray is the
    * one payload class whose decode is EXACT — r=g=b makes the YCbCr
    * transform lossless (Y = v, Cb = Cr = 128) and a constant block's DC
    * coefficient is a multiple of 8, which every standard luminance
    * quantizer at these qualities divides — so the decoded raster is
    * bit-identical to the encoded value (verified over all 256 values in
    * AviIndexSpec) and a DuckDB oracle can recompute the pixel statistics
    * analytically without seeing a byte. */
  private[graft] def jpegSolidGray(v: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (v << 16) | (v << 8) | v
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) { img.setRGB(x, y, rgb); y += 1 }
      x += 1
    }
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    wr.setOutput(ios)
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.75f)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); wr.dispose()
    baos.toByteArray
  }

  /** Deterministic MOTION-JPEG AVI per video-kind doc: the `aviFile`
    * RIFF/movi layout, but every '00dc' chunk is a REAL baseline
    * JPEG (solid gray, [[mjpegGray]]) — the payload class an actual MJPEG
    * camera stream carries, and the one the JDK can decode to pixels. */
  private[graft] def syntheticMjpegAvi(id: Long): Array[Byte] = {
    val nf = (2 + id % 4).toInt
    aviFile((0 until nf).map(i => jpegSolidGray(mjpegGray(id, i), MjpegW, MjpegH)))
  }

  /** Decoded per-frame pixel statistics — the schema of the video leg's
    * REAL-pixel gate. */
  final case class FramePixels(media_id: Long, frame_idx: Int,
                               width: Long, height: Long, n_pixels: Long,
                               px_min: Long, px_max: Long, px_sum: Long)

  /** `mm_video_pixels` (r9 verdict, next-round item #3): the video leg's
    * REAL pixel decode — encode an actual Motion-JPEG AVI on the executor,
    * demux through the real RIFF index walk, decode every frame's JPEG
    * payload through the JDK codec, and report per-frame pixel statistics
    * (min/max/sum across all channels) against a DuckDB oracle that
    * recomputes them ANALYTICALLY from the synthesis parameters — the
    * `mm_image_features` discipline applied to video frames. A wrong
    * offset, a mis-sliced frame, a codec regression, or a non-exact
    * decode all break the hash. The decode is mandatory: a frame that
    * fails ImageIO fails the entry loudly (no silent stub fallback — this
    * entry IS the decode gate). Scale: 1→N flatMap per video row, decoder
    * state amortized per partition, output a narrow typed struct. */
  def videoPixelTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val payload = syntheticMjpegAvi(id)
        val idx = AviIndex.sampleIndex(payload).getOrElse(
          sys.error(s"MJPEG AVI $id failed the real demux"))
        idx.zipWithIndex.map { case ((off, sz), i) =>
          val slice = java.util.Arrays.copyOfRange(payload, off.toInt, off.toInt + sz)
          val img = readImage(slice).getOrElse(
            sys.error(s"MJPEG frame $i of AVI $id failed the real JPEG decode"))
          var mn = 255L; var mx = 0L; var sum = 0L
          var x = 0
          while (x < img.getWidth) {
            var y = 0
            while (y < img.getHeight) {
              val p = img.getRGB(x, y)
              val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
              mn = math.min(mn, math.min(r, math.min(g, b)).toLong)
              mx = math.max(mx, math.max(r, math.max(g, b)).toLong)
              sum += r + g + b
              y += 1
            }
            x += 1
          }
          FramePixels(id, i, img.getWidth.toLong, img.getHeight.toLong,
            img.getWidth.toLong * img.getHeight, mn, mx, sum)
        }
      })
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Candidate fundamental periods (in samples) of the synthetic tone
    * corpus — the Goertzel detector's dial. The set DOES contain
    * even-harmonic pairs (8 = 16/2, 20 = 40/2) — harmless, because a
    * 50%-duty square wave has exactly zero even-harmonic content; what
    * the set avoids is LOW odd-harmonic collisions (q = p/3 would leak
    * 1/9 of the fundamental's power into a rival candidate). The only
    * odd-harmonic pair present is 8 = 40/5 at 1/25 power, so the argmax
    * margin is ≥ 9× for every planted period (OperatorSpec pins it). */
  private[graft] val TonePeriods = Array(8, 16, 20, 40)

  private[graft] def tonePeriod(id: Long): Int = TonePeriods((id % 4).toInt)

  /** PCM16 WAV of a SQUARE wave with the given sample period — pure
    * integer synthesis (±8000), so the oracle knows every sample
    * analytically. */
  private[graft] def squareWav(id: Long, n: Int, rate: Int, period: Int): Array[Byte] =
    monoPcm16Wav(n, rate)(i => if (i % period < period / 2) 8000 else -8000)

  /** PCM16 WAV of an ENVELOPED square wave: amplitude is a per-64-sample-
    * window staircase env(w) = 0 when (id + w) % 4 = 0 (planted silence)
    * else 1000 + 500·(w % 8) (a ramp), sign from the same square period
    * as [[squareWav]]. Pure integer synthesis — the oracle knows every
    * sample analytically, and |sample| = env(w) regardless of sign, so
    * windowed energy refolds in SQL exactly. */
  private[graft] def envelopedWav(id: Long, n: Int, rate: Int): Array[Byte] = {
    val p = tonePeriod(id)
    monoPcm16Wav(n, rate) { i =>
      val w = i / 64
      val env = if ((id + w) % 4 == 0) 0 else (1000 + 500 * (w % 8)).toInt
      (if (i % p < p / 2) env else -env).toShort
    }
  }

  /** Parse a PCM16 mono WAV to (rate, samples) through the strict
    * `wavLayout` RIFF walk — the sample-level view Goertzel needs. */
  private[graft] def pcm16Samples(b: Array[Byte]): Option[(Int, Array[Short])] = {
    val WavLayout(fmtTag, ch, rate, bits, _, _, dataOff, dataLen) =
      wavLayout(b) match { case Some(w) => w; case None => return None }
    if (fmtTag != 1 || ch != 1 || bits != 16 || rate <= 0 || dataOff < 0) None
    else {
      val n = (dataLen / 2).toInt
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        out(i) = ((u16(b, (dataOff + 2L * i).toInt) << 16) >> 16).toShort
        i += 1
      }
      Some((rate, out))
    }
  }

  /** Goertzel power of `x` at period `p` samples — the single-bin DFT a
    * tone detector runs instead of a full FFT (O(n) per bin, O(1) state:
    * the streaming-friendly form). */
  private[graft] def goertzelPower(x: Array[Short], p: Int): Double = {
    val w = 2.0 * math.Pi / p
    val c = 2.0 * math.cos(w)
    var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < x.length) {
      val s0 = x(i) + c * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    s1 * s1 + s2 * s2 - c * s1 * s2
  }

  /** Per-doc tone-detection verdict — the `mm_audio_tone` row. */
  final case class ToneVerdict(media_id: Long, sample_rate: Int,
                               n_samples: Long, true_period: Long,
                               detected_period: Long, detected_ok: Long)

  /** `mm_audio_tone`: real DSP on the audio leg — synthesize a square-wave
    * PCM16 WAV per audio doc (planted fundamental period from
    * [[TonePeriods]]), parse it back through the strict RIFF walk, and
    * DETECT the tone with a Goertzel bank over the candidate periods; the
    * DuckDB oracle recomputes every column analytically (the planted
    * period IS the expected detection — a broken Goertzel, a mis-parsed
    * sample stream, or a sign error all flip `detected_period` and break
    * the hash). A square wave's only overtones are odd harmonics at 1/k²
    * power, so the argmax margin is ≥ 9× — detection is structural, not
    * marginal (OperatorSpec pins the margin and cross-validates the
    * parser against javax.sound.sampled). Scale: one narrow row per media
    * file, decoder state per partition — the mm_audio_features shape with
    * a real detector on top. */
  def audioToneTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (256 + id % 128).toInt
        val p = tonePeriod(id)
        val payload = squareWav(id, n, 8000, p)
        val (rate, xs) = pcm16Samples(payload).getOrElse(
          sys.error(s"WAV $id failed the strict PCM16 parse"))
        val detected = TonePeriods.maxBy(goertzelPower(xs, _))
        ToneVerdict(id, rate, xs.length.toLong, p.toLong, detected.toLong,
          if (detected == p) 1L else 0L)
      })
      .toDF()
      .orderBy(col("media_id"))
  }

  /** Per-window RMS row — the `mm_audio_rms_windows` output shape. */
  final case class RmsWindow(media_id: Long, win: Long, n_samp: Long,
                             sum_abs: Long, sum_sq: Long, active: Long)

  /** `mm_audio_rms_windows`: windowed energy / voice-activity-detection
    * segmentation — the audio leg's SECOND real-DSP entry next to the
    * Goertzel tone detector: synthesize an amplitude-enveloped square WAV
    * per audio doc ([[envelopedWav]] — planted silence windows + a ramp),
    * parse it back through the strict RIFF walk, and emit per-64-sample
    * windows of exact integer Σ|x| and Σx² with an energy-gate verdict
    * (active ⇔ Σx² > 10⁶) — the segmentation pass an audio pipeline runs
    * before transcription to drop silence. The DuckDB oracle recomputes
    * every window analytically from the envelope formula (|±env| = env),
    * so a parser slip, a window-boundary error, or an energy-sum overflow
    * all break the hash; OperatorSpec additionally re-parses a sample of
    * WAVs through javax.sound.sampled (a second, independent parser) and
    * demands identical window sums. Scale: 1→N flatMap per media row,
    * synthesis+parse state per partition — the mm_audio_features shape. */
  def audioRmsTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val n = (256 + id % 128).toInt
        val payload = envelopedWav(id, n, 8000)
        val (_, xs) = pcm16Samples(payload).getOrElse(
          sys.error(s"WAV $id failed the strict PCM16 parse"))
        (0 until (xs.length + 63) / 64).map { w =>
          val s = w * 64; val e = math.min(s + 64, xs.length)
          var sa = 0L; var sq = 0L
          var i = s
          while (i < e) {
            val v = xs(i).toLong
            sa += math.abs(v); sq += v * v
            i += 1
          }
          RmsWindow(id, w.toLong, (e - s).toLong, sa, sq,
            if (sq > 1000000L) 1L else 0L)
        }
      })
      .toDF()
      .orderBy(col("media_id"), col("win"))
  }

  /** Decoded PNG statistics — the image leg's SECOND-codec row. */
  final case class PngPixels(media_id: Long, width: Int, height: Int,
                             sig_ok: Long, sum_r: Long, sum_g: Long,
                             sum_b: Long, px3_min: Long, px3_max: Long)

  /** Deterministic PNG per image doc: the SAME pixel formula and
    * dimensions as [[bmp24]], rendered into a TYPE_INT_RGB raster and
    * encoded through the real JDK PNG writer. PNG is lossless, so the
    * decode must reproduce every pixel bit-exactly — which makes the BMP
    * and PNG legs cross-checkable codec against codec (OperatorSpec pins
    * byte-identical channel sums for the same id). */
  private[graft] def pngGradient(id: Long): Array[Byte] = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 7 + 3 * x + 5 * y) % 256).toInt
        val g = ((id * 11 + x + 2 * y) % 256).toInt
        val b = ((id * 13 + 4 * x + y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** `mm_png_pixels`: the image leg's second REAL codec — encode each
    * image doc as an actual PNG on the executor (JDK PNG writer), verify
    * the 8-byte PNG signature, decode through the real ImageIO path, and
    * report decoded-pixel channel sums plus the per-pixel channel-sum
    * min/max — all exact integers, analytically oracled (the formula, not
    * the bytes, is what DuckDB recomputes). PNG round-trips losslessly,
    * so any filter/deflate/raster regression in either codec path breaks
    * the hash. Batched per-partition like every Multimodal codec kernel;
    * output is one narrow row per image. */
  def pngPixelTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val payload = pngGradient(id)
        val sig = payload.length >= 8 &&
          (payload(0) & 0xff) == 0x89 && payload(1) == 'P' &&
          payload(2) == 'N' && payload(3) == 'G' &&
          payload(4) == 0x0d && payload(5) == 0x0a &&
          (payload(6) & 0xff) == 0x1a && payload(7) == 0x0a
        val img = readImage(payload).getOrElse(
          sys.error(s"PNG $id failed the real ImageIO decode"))
        var (sr, sg, sb) = (0L, 0L, 0L)
        var mn = 765L; var mx = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            sr += r; sg += g; sb += b
            val p3 = (r + g + b).toLong
            mn = math.min(mn, p3); mx = math.max(mx, p3)
            x += 1
          }
          y += 1
        }
        PngPixels(id, img.getWidth, img.getHeight, if (sig) 1L else 0L,
          sr, sg, sb, mn, mx)
      }).toDF()
      .orderBy(col("media_id"))
  }

  /** The frame-pixel formula `mm_gif_frames` and its oracle share: pure
    * integer function of (doc_id, frame, x, y), range [0, 255] — one gray
    * palette index per pixel, carried losslessly through the GIF's
    * 256-entry grayscale color table. */
  private[graft] def gifGray(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 37 + f * 53 + 3 * x + 5 * y) % 256).toInt

  /** Deterministic ANIMATED GIF per container doc: nf = 2 + id % 4 full
    * frames of w×h indexed pixels over an explicit 256-entry grayscale
    * palette (identity map index → gray), written through the real JDK
    * GIF sequence writer. The indexed model makes the GIF lossless —
    * LZW + palette round-trip every sample exactly — so decoded stats
    * are analytic. */
  private[graft] def animatedGif(id: Long): Array[Byte] = {
    val w = (8 + id % 5).toInt
    val h = (6 + id % 3).toInt
    val nf = (2 + id % 4).toInt
    val cmap = Array.tabulate(256)(i => (0xff << 24) | (i << 16) | (i << 8) | i)
    val icm = new java.awt.image.IndexColorModel(
      8, 256, cmap, 0, false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
    val baos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nf) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.getRaster.setSample(x, y, 0, gifGray(id, f, x, y))
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    baos.toByteArray
  }

  /** Decoded per-frame GIF statistics — the animated-image row. */
  final case class GifFrame(media_id: Long, frame_idx: Int, n_frames: Long,
                            width: Long, height: Long, px_min: Long,
                            px_max: Long, px_sum: Long)

  /** `mm_gif_frames`: the animated-image leg — encode a real multi-frame
    * GIF89a on the executor (JDK GIF sequence writer over an identity
    * grayscale palette, so the format is lossless here), decode EVERY
    * frame back through the real ImageIO GIF reader, and report per-frame
    * pixel min/max/sum — exact integers, analytically oracled from the
    * synthesis formula. A palette slip, an LZW regression, a frame-count
    * or frame-order slip all break the hash. GifIndex (the structural
    * block walk: header → LSD → GCT → extension/image-descriptor blocks)
    * independently re-derives frame count and dimensions; OperatorSpec
    * pins the two parses against each other. Scale: 1→N flatMap per
    * container row, decoder state per partition. */
  def gifFrameTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val payload = animatedGif(id)
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        val rows = (0 until n).map { i =>
          val img = reader.read(i)
          var mn = 255L; var mx = 0L; var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val v = (img.getRGB(x, y) & 0xff).toLong
              mn = math.min(mn, v); mx = math.max(mx, v); sum += v
              x += 1
            }
            y += 1
          }
          GifFrame(id, i, n.toLong, img.getWidth.toLong, img.getHeight.toLong,
            mn, mx, sum)
        }
        reader.dispose(); iis.close()
        rows
      }).toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Per-image 16-bit block-mean hash row — the oracled perceptual-dup
    * readout. */
  final case class BlockHashRow(media_id: Long, width: Int, height: Int,
                                blockhash: Long, n_dups: Long)

  /** Integer block-mean luma hash of a decoded image: the image is cut
    * into a 4×4 cell grid (cell = (4y/h, 4x/w), exact integer division),
    * each cell's mean BT.601 integer luma is compared to the global mean,
    * and the 16 verdict bits pack into a long. ALL-integer arithmetic —
    * unlike [[averageHash]]'s JDK bilinear scaler this kernel is
    * analytically refoldable in SQL, which is what lets the dup join be
    * hash-oracled end to end. */
  private[graft] def blockHash(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val cs = new Array[Long](16); val cn = new Array[Long](16)
    var gsum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        val idx = (y * 4 / h) * 4 + (x * 4 / w)
        cs(idx) += lum; cn(idx) += 1; gsum += lum
        x += 1
      }
      y += 1
    }
    val gmean = gsum / (w.toLong * h)
    var acc = 0L; var i = 0
    while (i < 16) {
      if (cn(i) > 0 && cs(i) / cn(i) > gmean) acc |= (1L << i)
      i += 1
    }
    acc
  }

  /** `mm_blockhash_dups`: the perceptual near-dup pipeline as an ORACLED
    * catalog entry — each image doc is encoded as a real BMP, decoded
    * through ImageIO, block-mean-hashed ([[blockHash]] — all-integer, so
    * the DuckDB oracle recomputes every hash analytically from the pixel
    * formula without seeing bytes), and each image reports how many
    * OTHER images sit within Hamming ≤ 3 of its hash. Candidates come
    * from the 4×4-bit-nibble pigeonhole equi-join (two hashes within
    * distance 3 must agree on ≥ 1 of the 4 nibbles — the
    * dedup_simhash_hamming blocking at 16-bit scale), never an all-pairs
    * scan; the exact popcount runs only on candidates. Zero-dup images
    * stay in the output via the left join from the hash spine (no
    * zero-row vacuity at small SF). */
  def blockHashDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val img = readImage(bmp24(id)).getOrElse(
          sys.error(s"BMP $id failed the real ImageIO decode"))
        (id, img.getWidth, img.getHeight, blockHash(img))
      }).toDF("media_id", "width", "height", "blockhash")
      .cache() // spine + both sides of the candidate join
    val nibbles = hashes.select(col("media_id"), col("blockhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("ni"),
            shiftright(col("blockhash"), 4 * b).bitwiseAND(0xfL)
              .as("nv"))): _*)).as("n"))
      .select(col("media_id"), col("blockhash"),
        col("n.ni").as("ni"), col("n.nv").as("nv"))
    val dups = nibbles.as("a").join(nibbles.as("b"),
        col("a.ni") === col("b.ni") && col("a.nv") === col("b.nv") &&
        col("a.media_id") =!= col("b.media_id"))
      .select(col("a.media_id").as("media_id"),
        col("b.media_id").as("other"),
        bit_count(col("a.blockhash").bitwiseXOR(col("b.blockhash")))
          .cast("long").as("hd"))
      .distinct()
      .filter(col("hd") <= 3)
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_dups"))
    hashes.join(dups, Seq("media_id"), "left")
      .select(col("media_id"), col("width"), col("height"), col("blockhash"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .orderBy(col("media_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_blockhash_dups" -> (blockHashDups _),
    "mm_png_pixels" -> (pngPixelTable _),
    "mm_gif_frames" -> (gifFrameTable _),
    "mm_audio_tone" -> (audioToneTable _),
    "mm_audio_rms_windows" -> (audioRmsTable _),
    "mm_binary_meta" -> (binaryMeta _),
    "mm_audio_features" -> (audioFeatureTable _),
    "mm_image_features" -> (imageFeatureTable _),
    "mm_video_frames" -> (videoFrameTable _),
    "mm_video_pixels" -> (videoPixelTable _),
    "mm_mp4_frames" -> (mp4FrameTable _),
    "mm_webm_frames" -> (webmFrameTable _)
  )

  val oracle: Map[String, String] = Map(
    // analytic twin of the decode→block-hash→pigeonhole-dup pipeline:
    // the all-integer kernel refolds from the pixel formula, and the
    // oracle's dup count may use a plain O(n²) join — the ENTRY's
    // pigeonhole blocking is the scale path, the oracle only replays
    // the answer
    "mm_blockhash_dups" ->
      """WITH img AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |xs AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
        |  FROM img),
        |p AS (
        |  SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        |  FROM xs),
        |px AS (
        |  SELECT doc_id, w, h,
        |    ((y * 4) // h) * 4 + ((x * 4) // w) AS idx,
        |    (((doc_id * 7 + 3 * x + 5 * y) % 256) * 299
        |      + ((doc_id * 11 + x + 2 * y) % 256) * 587
        |      + ((doc_id * 13 + 4 * x + y) % 256) * 114) // 1000 AS lum
        |  FROM p),
        |cells AS (
        |  SELECT doc_id, w, h, idx, CAST(SUM(lum) AS BIGINT) AS s,
        |    COUNT(*) AS c
        |  FROM px GROUP BY 1, 2, 3, 4),
        |g AS (
        |  SELECT doc_id, CAST(SUM(s) AS BIGINT) // (w * h) AS gmean
        |  FROM cells GROUP BY doc_id, w, h),
        |hs AS (
        |  SELECT cells.doc_id, MAX(cells.w) AS w, MAX(cells.h) AS h,
        |    CAST(SUM(CASE WHEN s // c > g.gmean
        |      THEN 1 << idx ELSE 0 END) AS BIGINT) AS blockhash
        |  FROM cells JOIN g ON g.doc_id = cells.doc_id
        |  GROUP BY cells.doc_id),
        |d AS (
        |  SELECT a.doc_id, COUNT(*) AS n_dups
        |  FROM hs a JOIN hs b ON a.doc_id <> b.doc_id
        |    AND bit_count(xor(a.blockhash, b.blockhash)) <= 3
        |  GROUP BY a.doc_id)
        |SELECT hs.doc_id AS media_id,
        |  CAST(hs.w AS INTEGER) AS width, CAST(hs.h AS INTEGER) AS height,
        |  hs.blockhash, COALESCE(d.n_dups, 0) AS n_dups
        |FROM hs LEFT JOIN d ON d.doc_id = hs.doc_id
        |ORDER BY media_id""".stripMargin,
    // analytic twin of the real PNG encode→decode round-trip: PNG is
    // lossless, so the oracle recomputes channel sums and per-pixel
    // channel-sum extrema straight from the synthesis formula
    "mm_png_pixels" ->
      """WITH img AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |xs AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
        |  FROM img),
        |p AS (
        |  SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        |  FROM xs),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (doc_id * 7 + 3 * x + 5 * y) % 256 AS r,
        |    (doc_id * 11 + x + 2 * y) % 256 AS g,
        |    (doc_id * 13 + 4 * x + y) % 256 AS b
        |  FROM p)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(1 AS BIGINT) AS sig_ok,
        |  CAST(SUM(r) AS BIGINT) AS sum_r,
        |  CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(MIN(r + g + b) AS BIGINT) AS px3_min,
        |  CAST(MAX(r + g + b) AS BIGINT) AS px3_max
        |FROM px GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin,
    // analytic twin of the real animated-GIF encode→decode round-trip:
    // the identity grayscale palette makes GIF lossless here, so every
    // per-frame statistic refolds from the (doc_id, frame, x, y) formula
    "mm_gif_frames" ->
      """WITH g AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
        |    2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 1)) AS fi
        |  FROM g),
        |xs AS (
        |  SELECT doc_id, w, h, nf, fi, unnest(generate_series(0, w - 1)) AS x
        |  FROM f),
        |p AS (
        |  SELECT doc_id, w, h, nf, fi, x,
        |    unnest(generate_series(0, h - 1)) AS y
        |  FROM xs),
        |v AS (
        |  SELECT doc_id, w, h, nf, fi,
        |    (doc_id * 37 + fi * 53 + 3 * x + 5 * y) % 256 AS gray
        |  FROM p)
        |SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(MIN(gray) AS BIGINT) AS px_min,
        |  CAST(MAX(gray) AS BIGINT) AS px_max,
        |  CAST(SUM(gray) AS BIGINT) AS px_sum
        |FROM v GROUP BY doc_id, fi, nf, w, h
        |ORDER BY media_id, frame_idx""".stripMargin,
    "mm_audio_rms_windows" ->
      """WITH docs AS (
        |  SELECT doc_id, 256 + doc_id % 128 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |wins AS (
        |  SELECT doc_id, n,
        |    unnest(generate_series(0, (n + 63) // 64 - 1)) AS win
        |  FROM docs),
        |env AS (
        |  SELECT doc_id AS media_id, win,
        |    LEAST(64, n - win * 64) AS n_samp,
        |    CASE WHEN (doc_id + win) % 4 = 0 THEN 0
        |         ELSE 1000 + 500 * (win % 8) END AS e
        |  FROM wins)
        |SELECT media_id, CAST(win AS BIGINT) AS win,
        |  CAST(n_samp AS BIGINT) AS n_samp,
        |  CAST(n_samp * e AS BIGINT) AS sum_abs,
        |  CAST(n_samp * e * e AS BIGINT) AS sum_sq,
        |  CAST(CASE WHEN n_samp * e * e > 1000000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS active
        |FROM env ORDER BY media_id, win""".stripMargin,
    "mm_audio_tone" ->
      """SELECT doc_id AS media_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(256 + doc_id % 128 AS BIGINT) AS n_samples,
        |  CAST([8, 16, 20, 40][CAST(doc_id % 4 AS INTEGER) + 1] AS BIGINT)
        |    AS true_period,
        |  CAST([8, 16, 20, 40][CAST(doc_id % 4 AS INTEGER) + 1] AS BIGINT)
        |    AS detected_period,
        |  CAST(1 AS BIGINT) AS detected_ok
        |FROM documents WHERE doc_id % 3 = 1
        |ORDER BY media_id""".stripMargin,
    "mm_video_pixels" ->
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id % 3 = 1),
        |f AS (
        |  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS frame_idx
        |  FROM v),
        |g AS (
        |  SELECT doc_id, frame_idx,
        |    (doc_id * 37 + frame_idx * 59) % 256 AS gray
        |  FROM f)
        |SELECT doc_id AS media_id,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(16 AS BIGINT) AS width,
        |  CAST(8 AS BIGINT) AS height,
        |  CAST(128 AS BIGINT) AS n_pixels,
        |  CAST(gray AS BIGINT) AS px_min,
        |  CAST(gray AS BIGINT) AS px_max,
        |  CAST(384 * gray AS BIGINT) AS px_sum
        |FROM g ORDER BY media_id, frame_idx""".stripMargin,
    "mm_binary_meta" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS n_bytes,
        |    md5(text) AS payload_md5
        |  FROM documents)
        |SELECT kind,
        |  COUNT(*) AS n_media,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(MIN(n_bytes) AS BIGINT) AS min_bytes,
        |  CAST(MAX(n_bytes) AS BIGINT) AS max_bytes,
        |  MIN(payload_md5) AS min_md5
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin,
    // analytic twin of the real WAV decode: the sample stream is a pure
    // integer function of (doc_id, i), so the oracle recomputes frame
    // count, duration and RMS without ever seeing the container bytes —
    // only a correct RIFF parse + PCM16 sign extension on the Spark side
    // can match it
    "mm_audio_features" ->
      """WITH a AS (
        |  SELECT doc_id, 64 + doc_id % 128 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        |  SELECT doc_id, n_frames,
        |    unnest(generate_series(0, n_frames - 1)) AS i
        |  FROM a),
        |acc AS (
        |  SELECT doc_id, n_frames,
        |    SUM((((doc_id * 31 + i * 7) % 2003) - 1001)
        |      * (((doc_id * 31 + i * 7) % 2003) - 1001)) AS sq
        |  FROM s GROUP BY 1, 2)
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels,
        |  CAST(16 AS INTEGER) AS bits_per_sample,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_frames * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  sqrt(CAST(sq AS DOUBLE) / n_frames) AS rms
        |FROM acc ORDER BY media_id""".stripMargin,
    // analytic twin of the real BMP decode: pixel channels are pure
    // integer functions of (doc_id, x, y), so only a correct bottom-up/
    // BGR/padded parse on the Spark side can match the channel sums
    "mm_image_features" ->
      """WITH img AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |xs AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x
        |  FROM img),
        |p AS (
        |  SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
        |  FROM xs)
        |SELECT doc_id AS media_id,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(SUM((doc_id * 7 + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 11 + x + 2 * y) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 13 + 4 * x + y) % 256) AS BIGINT) AS sum_b
        |FROM p GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin,
    // analytic twin of the real AVI demux: frame bytes are a pure integer
    // function of (doc_id, frame, position), so the oracle refolds the
    // PolyHash checksum over the formula — only index offsets/sizes read
    // correctly off the container can match
    "mm_video_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 3 + doc_id % 5 AS nf, 16 + doc_id % 16 AS flen
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, flen,
        |    unnest(generate_series(0, nf - 1)) AS frame_idx
        |  FROM v)
        |SELECT doc_id AS media_id,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(flen AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(generate_series(0, flen - 1),
        |        j -> (doc_id * 3 + frame_idx * 7 + j * 11) % 256)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS checksum
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "mm_mp4_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 3 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS frame_idx
        |  FROM v),
        |c AS (
        |  SELECT doc_id, frame_idx,
        |    12 + (doc_id + frame_idx) % 8 AS flen
        |  FROM f)
        |SELECT doc_id AS media_id,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(flen AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(generate_series(0, flen - 1),
        |        j -> (doc_id * 5 + frame_idx * 13 + j * 3) % 256)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS checksum
        |FROM c ORDER BY media_id, frame_idx""".stripMargin,
    "mm_webm_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, unnest(generate_series(0, nf - 1)) AS frame_idx
        |  FROM v),
        |c AS (
        |  SELECT doc_id, frame_idx,
        |    10 + (doc_id * 2 + frame_idx) % 9 AS flen
        |  FROM f)
        |SELECT doc_id AS media_id,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(flen AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(generate_series(0, flen - 1),
        |        j -> (doc_id * 9 + frame_idx * 17 + j * 5) % 256)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS checksum
        |FROM c ORDER BY media_id, frame_idx""".stripMargin
  )
}

/** Pure-JDK ISO BMFF (mp4/mov/m4v) sample-INDEX reader — the container
  * half of a demuxer, no codec involved. ISO BMFF stores every coded
  * frame's location in plain tables inside `moov/trak/mdia/minf/stbl`:
  * `stsz` (per-sample byte sizes), `stsc` (samples-per-chunk runs), and
  * `stco`/`co64` (chunk file offsets). Walking those three tables yields
  * the exact (offset, size) of every coded video frame in the payload —
  * which is precisely the "frame index read, not decode" a SAMPLING
  * operator needs; only pixel decode would require a codec.
  *
  * Box grammar (ISO/IEC 14496-12 §4.2): size(u32) + type(4cc), with
  * size==1 ⇒ 64-bit largesize follows, size==0 ⇒ box runs to end of
  * enclosing scope. Multi-byte integers are big-endian. Malformed input
  * never throws out of here — any structural violation (box overrun,
  * sample range outside the payload, index/table disagreement) returns
  * None so the caller falls back, the same corrupt-media policy as the
  * image kernels. */
private[graft] object Mp4Index {
  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
  private def u64(b: Array[Byte], p: Int): Long = (u32(b, p) << 32) | u32(b, p + 4)
  private def tag(b: Array[Byte], p: Int): String = new String(b, p, 4, "ISO-8859-1")

  /** Child boxes (type, payloadStart, payloadEnd) of byte range
    * [start, end): `childrenWithStart` without the header start. */
  private def children(b: Array[Byte], start: Int, end: Int): Vector[(String, Int, Int)] =
    childrenWithStart(b, start, end).map { case (t, _, s, e) => (t, s, e) }

  private def find(b: Array[Byte], start: Int, end: Int, typ: String): Option[(Int, Int)] =
    children(b, start, end).collectFirst { case (t, s, e) if t == typ => (s, e) }

  /** (offset, size) of every sample in the FIRST `vide`-handler track, in
    * sample order, with every range verified to sit inside the payload.
    * Handles BOTH layouts a real mp4 ships in: the classic indexed form
    * (all samples described by the moov `stbl` tables) and FRAGMENTED
    * mp4 (fMP4/CMAF, the streaming layout: `stbl` is empty and samples
    * live in per-fragment `moof/traf/trun` run tables) — the stbl walk
    * is tried first, and an empty/absent sample table falls through to
    * the fragment walk. */
  def sampleIndex(payload: Array[Byte]): Option[Vector[(Long, Int)]] =
    try sampleIndexUnsafe(payload)
    catch { case scala.util.control.NonFatal(_) => None }

  private def sampleIndexUnsafe(payload: Array[Byte]): Option[Vector[(Long, Int)]] = {
    val end = payload.length
    for {
      (mvS, mvE) <- find(payload, 0, end, "moov")
      // first trak whose mdia/hdlr declares a video handler; hdlr payload =
      // version+flags(4) + pre_defined(4) + handler_type(4cc at offset 8)
      trakStbl <- children(payload, mvS, mvE).collect { case ("trak", ts, te) => (ts, te) }
        .flatMap { case (ts, te) =>
          for {
            (mdS, mdE) <- find(payload, ts, te, "mdia")
            (hS, hE) <- find(payload, mdS, mdE, "hdlr")
            if hS + 12 <= hE && tag(payload, hS + 8) == "vide"
            (mnS, mnE) <- find(payload, mdS, mdE, "minf")
            stbl <- find(payload, mnS, mnE, "stbl")
          } yield ((ts, te), stbl)
        }.headOption
      ((tkS, tkE), (sbS, sbE)) = trakStbl
      idx <- stblIndex(payload, sbS, sbE)
        .orElse(fragmentIndex(payload, mvS, mvE, tkS, tkE))
    } yield idx
  }

  /** Classic-layout index from the stbl tables; None when the table walk
    * fails OR the sample table is empty (the fragmented-mp4 signature). */
  private def stblIndex(payload: Array[Byte], sbS: Int, sbE: Int): Option[Vector[(Long, Int)]] = {
    for {
      // stsz payload: version+flags(4), uniform_size(4), count(4), sizes[]
      (szS, szE) <- find(payload, sbS, sbE, "stsz")
      if szS + 12 <= szE // undersized box would read sibling bytes as header
      n = u32(payload, szS + 8).toInt
      if n > 0
      uniform = u32(payload, szS + 4)
      // Uniform path bounds the count BEFORE materializing: an index claiming
      // more sample bytes than the whole payload is invalid anyway, and a
      // crafted count (u32 up to 2^31-1) would otherwise force a multi-GB
      // Vector.fill — OutOfMemoryError is an Error, not caught by the
      // NonFatal net, so it would escape the "malformed never throws"
      // contract and could kill the executor JVM.
      sizes <- if (uniform != 0L) {
          if (n.toLong * uniform <= payload.length) Some(Vector.fill(n)(uniform.toInt)) else None
        }
        else if (szS + 12 + 4L * n <= szE)
          Some((0 until n).map(i => u32(payload, szS + 12 + 4 * i).toInt).toVector)
        else None
      // chunk offsets: stco (u32 each) or its 64-bit twin co64
      offsets <- find(payload, sbS, sbE, "stco").flatMap { case (cS, cE) =>
          val nc = u32(payload, cS + 4).toInt
          if (cS + 8 + 4L * nc <= cE)
            Some((0 until nc).map(i => u32(payload, cS + 8 + 4 * i)).toVector)
          else None
        }.orElse(find(payload, sbS, sbE, "co64").flatMap { case (cS, cE) =>
          val nc = u32(payload, cS + 4).toInt
          if (cS + 8 + 8L * nc <= cE)
            Some((0 until nc).map(i => u64(payload, cS + 8 + 8 * i)).toVector)
          else None
        })
      // stsc payload: version+flags(4), count(4), then
      // (first_chunk, samples_per_chunk, sample_desc_index) u32 triples;
      // chunk c takes the samples_per_chunk of the LAST run with
      // first_chunk <= c (runs are ascending by first_chunk)
      (scS, scE) <- find(payload, sbS, sbE, "stsc")
      runs <- {
        val ne = u32(payload, scS + 4).toInt
        if (ne > 0 && scS + 8 + 12L * ne <= scE)
          Some((0 until ne).map { i =>
            val p = scS + 8 + 12 * i
            (u32(payload, p).toInt, u32(payload, p + 4).toInt)
          }.toVector)
        else None
      }
      index <- expand(payload.length.toLong, n, sizes, offsets, runs)
    } yield index
  }

  /** Walk chunks, laying samples head-to-tail from each chunk's file
    * offset (samples within a chunk are contiguous by definition —
    * §8.7.4). Returns None unless the walk places EXACTLY the declared
    * sample count with every byte range inside the payload. */
  private def expand(payloadLen: Long, n: Int, sizes: Vector[Int],
                     offsets: Vector[Long],
                     runs: Vector[(Int, Int)]): Option[Vector[(Long, Int)]] = {
    val out = Vector.newBuilder[(Long, Int)]
    var sample = 0
    var chunk = 1
    var valid = true
    while (valid && sample < n && chunk <= offsets.length) {
      val spc = runs.takeWhile(_._1 <= chunk).lastOption.fold(0)(_._2)
      var off = offsets(chunk - 1)
      var i = 0
      while (valid && i < spc && sample < n) {
        val sz = sizes(sample)
        if (sz < 0 || off < 0 || off + sz > payloadLen) valid = false
        else {
          out += ((off, sz))
          off += sz; sample += 1; i += 1
        }
      }
      chunk += 1
    }
    if (valid && sample == n) Some(out.result()) else None
  }

  // ---------------------------------------------------------------------
  // Fragmented mp4 (fMP4/CMAF — ISO/IEC 14496-12 §8.8): the streaming
  // layout. moov carries only track metadata + mvex defaults; every
  // fragment is a `moof` (run tables) followed by its `mdat`. Sample
  // locations come from, per traf:
  //   tfhd — track id, optional base_data_offset / default_sample_size
  //   trun — sample runs: count, optional data_offset (SIGNED, relative
  //          to the base), optional per-sample sizes
  // with size defaults falling back tfhd → trex. Base offset precedence:
  // explicit base_data_offset, else the first byte of the enclosing moof
  // BOX (both the default-base-is-moof flag and the spec's first-traf
  // default resolve there for the single-video-track files we index).
  // Same strictness as the stbl path: any malformed structure in OUR
  // track's run tables → None; other tracks' trafs are skipped.
  // ---------------------------------------------------------------------

  private val TfhdBaseDataOffset = 0x000001L
  private val TfhdSampleDescIdx = 0x000002L
  private val TfhdDefaultDuration = 0x000008L
  private val TfhdDefaultSize = 0x000010L
  private val TrunDataOffset = 0x000001L
  private val TrunFirstSampleFlags = 0x000004L
  private val TrunSampleDuration = 0x000100L
  private val TrunSampleSize = 0x000200L
  private val TrunSampleFlags = 0x000400L
  private val TrunSampleCto = 0x000800L

  /** Child boxes (type, headerStart, payloadStart, payloadEnd) of byte
    * range [start, end). Stops (rather than throws) at the first malformed
    * header. The fragment walk needs the header start (trun data offsets
    * are relative to the first byte of the moof box, not its payload). */
  private def childrenWithStart(b: Array[Byte], start: Int, end: Int): Vector[(String, Int, Int, Int)] = {
    val out = Vector.newBuilder[(String, Int, Int, Int)]
    var p = start
    var ok = true
    while (ok && p + 8 <= end) {
      val sz0 = u32(b, p)
      val typ = tag(b, p + 4)
      val (hdr, sz): (Long, Long) =
        if (sz0 == 1L && p + 16 <= end) (16L, u64(b, p + 8))
        else if (sz0 == 0L) (8L, (end - p).toLong)
        else (8L, sz0)
      if (sz < hdr || p + sz > end) ok = false
      else {
        out += ((typ, p, p + hdr.toInt, p + sz.toInt))
        p += sz.toInt
      }
    }
    out.result()
  }

  /** track_ID from tkhd: version(1)+flags(3), then v0 puts it after two
    * u32 times (offset 12), v1 after two u64 times (offset 20). */
  private def tkhdTrackId(payload: Array[Byte], hS: Int, hE: Int): Option[Long] = {
    if (hS + 4 > hE) None
    else {
      val at = if (payload(hS) == 1.toByte) hS + 20 else hS + 12
      if (at + 4 <= hE) Some(u32(payload, at)) else None
    }
  }

  /** Fragment-run index for the video trak, tried when the stbl tables
    * are empty/absent. */
  private def fragmentIndex(payload: Array[Byte], mvS: Int, mvE: Int,
                            tkS: Int, tkE: Int): Option[Vector[(Long, Int)]] =
    for {
      (khS, khE) <- find(payload, tkS, tkE, "tkhd")
      trackId <- tkhdTrackId(payload, khS, khE)
      // trex (mvex) default sample size for this track, if declared —
      // the outermost rung of the size-default ladder. 0 means "none".
      trexDefault = (for {
        (mxS, mxE) <- find(payload, mvS, mvE, "mvex")
        sz <- children(payload, mxS, mxE).collectFirst {
          case ("trex", s, e) if s + 24 <= e && u32(payload, s + 4) == trackId =>
            u32(payload, s + 16)
        }
      } yield sz).filter(_ > 0L)
      idx <- walkMoofs(payload, trackId, trexDefault)
    } yield idx

  private def walkMoofs(payload: Array[Byte], trackId: Long,
                        trexDefault: Option[Long]): Option[Vector[(Long, Int)]] = {
    val out = Vector.newBuilder[(Long, Int)]
    var valid = true
    var sawSamples = false
    childrenWithStart(payload, 0, payload.length).foreach {
      case ("moof", moofStart, mS, mE) if valid =>
        children(payload, mS, mE).foreach {
          case ("traf", fS, fE) if valid =>
            parseTraf(payload, fS, fE, moofStart, trackId, trexDefault) match {
              case Some(samples) =>
                samples.foreach { case (off, sz) =>
                  if (off < 0 || sz < 0 || off + sz > payload.length) valid = false
                  else { out += ((off, sz)); sawSamples = true }
                }
              case None => valid = false // OUR track's traf was malformed
            }
          case _ => ()
        }
      case _ => ()
    }
    if (valid && sawSamples) Some(out.result()) else None
  }

  /** Samples of one traf, in run order; Some(empty) for other tracks'
    * trafs (skipped), None when OUR track's tables are malformed. */
  private def parseTraf(payload: Array[Byte], fS: Int, fE: Int, moofStart: Int,
                        trackId: Long, trexDefault: Option[Long]): Option[Vector[(Long, Int)]] = {
    val kids = children(payload, fS, fE)
    kids.collectFirst { case ("tfhd", s, e) => (s, e) } match {
      case None => None // a traf without tfhd is structurally invalid
      case Some((hS, hE)) if hS + 8 <= hE =>
        val flags = u32(payload, hS) & 0xffffffL
        if (u32(payload, hS + 4) != trackId) Some(Vector.empty)
        else {
          // optional tfhd fields, in declaration order
          var p = hS + 8
          var bad = false
          def fld(n: Int): Long =
            if (p + n > hE) { bad = true; 0L }
            else { val v = if (n == 8) u64(payload, p) else u32(payload, p); p += n; v }
          val baseData =
            if ((flags & TfhdBaseDataOffset) != 0L) Some(fld(8)) else None
          if ((flags & TfhdSampleDescIdx) != 0L) fld(4)
          if ((flags & TfhdDefaultDuration) != 0L) fld(4)
          val tfhdDefault =
            if ((flags & TfhdDefaultSize) != 0L) Some(fld(4)).filter(_ > 0L) else None
          if (bad) None
          else {
            val base = baseData.getOrElse(moofStart.toLong)
            val defSize = tfhdDefault.orElse(trexDefault)
            var cursor = base // where a data_offset-less run continues
            var ok = true
            val out = Vector.newBuilder[(Long, Int)]
            kids.foreach {
              case ("trun", rS, rE) if ok =>
                parseTrun(payload, rS, rE, base, cursor, defSize) match {
                  case Some((samples, next)) => out ++= samples; cursor = next
                  case None => ok = false
                }
              case _ => ()
            }
            if (ok) Some(out.result()) else None
          }
        }
      case _ => None // undersized tfhd
    }
  }

  /** One trun's samples + the offset cursor after them. */
  private def parseTrun(payload: Array[Byte], rS: Int, rE: Int, base: Long,
                        cursor: Long, defSize: Option[Long]): Option[(Vector[(Long, Int)], Long)] = {
    if (rS + 8 > rE) return None
    val flags = u32(payload, rS) & 0xffffffL
    val n = u32(payload, rS + 4)
    var p = rS + 8
    val start =
      if ((flags & TrunDataOffset) != 0L) {
        if (p + 4 > rE) return None
        val d = u32(payload, p).toInt // SIGNED s32 per spec
        p += 4
        base + d
      } else cursor
    if ((flags & TrunFirstSampleFlags) != 0L) p += 4
    val hasSize = (flags & TrunSampleSize) != 0L
    val szOff = if ((flags & TrunSampleDuration) != 0L) 4 else 0
    val per = szOff + (if (hasSize) 4 else 0) +
      (if ((flags & TrunSampleFlags) != 0L) 4 else 0) +
      (if ((flags & TrunSampleCto) != 0L) 4 else 0)
    // allocation bounds BEFORE materializing (same policy as the stsz
    // fix): a per-sample table must fit inside the trun box; a uniform
    // default size can't claim more bytes than the payload holds — and a
    // crafted zero-size count is capped by the payload length too.
    if (per > 0 && p + per.toLong * n > rE) return None
    if (per == 0 && n > payload.length) return None
    if (!hasSize) {
      val sz = defSize.getOrElse(return None)
      if (n * sz > payload.length) return None
    }
    val nn = n.toInt
    val out = Vector.newBuilder[(Long, Int)]
    var off = start
    var i = 0
    while (i < nn) {
      val sz = if (hasSize) u32(payload, p + per * i + szOff) else defSize.get
      if (sz > Int.MaxValue) return None
      out += ((off, sz.toInt))
      off += sz
      i += 1
    }
    Some((out.result(), off))
  }
}

/** Pure-JDK Matroska/WebM frame-INDEX reader — the EBML counterpart of
  * `Mp4Index`, and the close of the video-demux family: every container
  * the media table can carry now has a real index path, and only pixel/
  * PCM *decode* of codec-bound formats remains stubbed (that genuinely
  * needs codecs the JDK lacks).
  *
  * Matroska stores coded frames in SimpleBlock / BlockGroup>Block
  * elements inside Clusters; each block's payload is
  * `track varint + s16 relative-timestamp + flags byte + frame bytes`,
  * so the frame's (offset, size) falls out of the element walk with no
  * codec. EBML grammar: every element is `ID varint (marker kept) +
  * size varint (marker stripped) + payload`; an all-ones size value
  * means "unknown" — accepted for Segment (runs to EOF, the common
  * streamed-mux layout) and rejected elsewhere. Laced blocks (multiple
  * frames per block, rare for video) are skipped rather than
  * mis-sliced. Any structural violation → None, same corrupt-media
  * fallback policy as `Mp4Index` and the image kernels. */
private[graft] object WebmIndex {
  private val IdSegment = 0x18538067L
  private val IdTracks = 0x1654AE6BL
  private val IdTrackEntry = 0xAEL
  private val IdTrackNumber = 0xD7L
  private val IdTrackType = 0x83L
  private val IdCluster = 0x1F43B675L
  private val IdSimpleBlock = 0xA3L
  private val IdBlockGroup = 0xA0L
  private val IdBlock = 0xA1L
  private val IdCues = 0x1C53BB6BL
  private val IdCuePoint = 0xBBL
  private val IdCueTime = 0xB3L
  private val IdCueTrackPositions = 0xB7L
  private val IdCueTrack = 0xF7L
  private val IdCueClusterPosition = 0xF1L

  /** EBML varint at `p`: (value, encoded length). IDs keep the length
    * marker bit in the value (that's how Matroska IDs are quoted);
    * sizes strip it. None on truncation or a zero lead byte. */
  private def varint(b: Array[Byte], p: Int, end: Int,
                     keepMarker: Boolean): Option[(Long, Int)] = {
    if (p >= end) return None
    val b0 = b(p) & 0xff
    if (b0 == 0) return None // >8-byte varints are invalid in Matroska
    val len = Integer.numberOfLeadingZeros(b0) - 23 // 1..8
    if (p + len > end) return None
    var v = if (keepMarker) b0.toLong else (b0 & (0xff >>> len)).toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(p + i) & 0xffL); i += 1 }
    Some((v, len))
  }

  /** True iff a stripped size value is the all-ones "unknown" marker. */
  private def unknownSize(v: Long, len: Int): Boolean = v == (1L << (7 * len)) - 1

  /** Child elements (id, payloadStart, payloadEnd) of [start, end).
    * `allowUnknownToEnd`: an unknown-size child swallows the rest of the
    * range (Segment at top level); elsewhere unknown size stops the walk. */
  private def children(b: Array[Byte], start: Int, end: Int,
                       allowUnknownToEnd: Boolean): Vector[(Long, Int, Int)] = {
    val out = Vector.newBuilder[(Long, Int, Int)]
    var p = start
    var ok = true
    while (ok && p < end) {
      (for {
        (id, idLen) <- varint(b, p, end, keepMarker = true)
        (sz, szLen) <- varint(b, p + idLen, end, keepMarker = false)
      } yield (id, sz, idLen + szLen, szLen)) match {
        case Some((id, sz, hdr, szLen)) if unknownSize(sz, szLen) =>
          if (allowUnknownToEnd) { out += ((id, p + hdr, end)); p = end }
          else ok = false
        case Some((id, sz, hdr, _)) if sz >= 0 && p + hdr + sz <= end =>
          out += ((id, p + hdr, (p + hdr + sz).toInt))
          p += hdr + sz.toInt
        case _ => ok = false // malformed: stop the walk
      }
    }
    out.result()
  }

  /** Big-endian unsigned int payload (TrackNumber / TrackType). */
  private def uintPayload(b: Array[Byte], s: Int, e: Int): Option[Long] =
    if (e - s < 1 || e - s > 8) None
    else Some((s until e).foldLeft(0L)((acc, i) => (acc << 8) | (b(i) & 0xffL)))

  /** (offset, size) of every unlaced coded frame of the FIRST video
    * (TrackType 1) track, in stream order. */
  def sampleIndex(payload: Array[Byte]): Option[Vector[(Long, Int)]] =
    try sampleIndexUnsafe(payload)
    catch { case scala.util.control.NonFatal(_) => None }

  /** The first video (TrackType 1) track's number in a parsed Segment. */
  /** The first Segment's payload range, its child elements and the video
    * track number — None without a Segment or a video track. */
  private def videoSegment(payload: Array[Byte])
      : Option[(Int, Int, Vector[(Long, Int, Int)], Long)] = {
    val top = children(payload, 0, payload.length, allowUnknownToEnd = true)
    for {
      (segS, segE) <- top.collectFirst { case (IdSegment, s, e) => (s, e) }
      seg = children(payload, segS, segE, allowUnknownToEnd = false)
      videoTrack <- videoTrackOf(payload, seg)
    } yield (segS, segE, seg, videoTrack)
  }

  private def videoTrackOf(payload: Array[Byte],
                           seg: Vector[(Long, Int, Int)]): Option[Long] =
    seg.collectFirst { case (IdTracks, ts, te) =>
      children(payload, ts, te, allowUnknownToEnd = false).collect {
        case (IdTrackEntry, es, ee) =>
          val fields = children(payload, es, ee, allowUnknownToEnd = false)
          val num = fields.collectFirst { case (IdTrackNumber, s, e) => uintPayload(payload, s, e) }.flatten
          val typ = fields.collectFirst { case (IdTrackType, s, e) => uintPayload(payload, s, e) }.flatten
          (num, typ)
      }.collectFirst { case (Some(n), Some(1L)) => n }
    }.flatten

  /** The video track's unlaced frame ranges inside one Cluster payload. */
  private def clusterBlocks(payload: Array[Byte], cs: Int, ce: Int,
                            track: Long): Vector[(Long, Int)] =
    children(payload, cs, ce, allowUnknownToEnd = false).flatMap {
      case (IdSimpleBlock, bs, be) => blockFrame(payload, bs, be, track)
      case (IdBlockGroup, gs, ge) =>
        children(payload, gs, ge, allowUnknownToEnd = false).flatMap {
          case (IdBlock, bs, be) => blockFrame(payload, bs, be, track)
          case _ => Vector.empty
        }
      case _ => Vector.empty
    }

  private def sampleIndexUnsafe(payload: Array[Byte]): Option[Vector[(Long, Int)]] = {
    for {
      (_, _, seg, videoTrack) <- videoSegment(payload)
      frames = seg.collect { case (IdCluster, cs, ce) =>
        clusterBlocks(payload, cs, ce, videoTrack)
      }.flatten
      if frames.nonEmpty
    } yield frames
  }

  /** SEEK CUES of the video track: (cue_time, absolute byte offset of the
    * cue-pointed Cluster ELEMENT). CueClusterPosition is relative to the
    * Segment payload start per the Matroska spec; a Cues element is how a
    * player (or a byte-range-reading scan task) jumps into a multi-GB
    * stream without walking every preceding cluster. */
  def cueIndex(payload: Array[Byte]): Option[Vector[(Long, Long)]] =
    try cueIndexUnsafe(payload)
    catch { case scala.util.control.NonFatal(_) => None }

  private def cueIndexUnsafe(payload: Array[Byte]): Option[Vector[(Long, Long)]] = {
    for {
      (segS, segE, seg, videoTrack) <- videoSegment(payload)
      (cuS, cuE) <- seg.collectFirst { case (IdCues, s, e) => (s, e) }
      pts = children(payload, cuS, cuE, allowUnknownToEnd = false).collect {
        case (IdCuePoint, ps, pe) =>
          val kids = children(payload, ps, pe, allowUnknownToEnd = false)
          val t = kids.collectFirst { case (IdCueTime, s, e) =>
            uintPayload(payload, s, e) }.flatten
          val pos = kids.collect { case (IdCueTrackPositions, s, e) =>
            val f = children(payload, s, e, allowUnknownToEnd = false)
            val trk = f.collectFirst { case (IdCueTrack, a, b) => uintPayload(payload, a, b) }.flatten
            val cp = f.collectFirst { case (IdCueClusterPosition, a, b) => uintPayload(payload, a, b) }.flatten
            (trk, cp)
          }.collectFirst { case (Some(tk), Some(cp)) if tk == videoTrack => cp }
          (t, pos)
      }.collect {
        // bound the seek table itself: a position past the segment (or a
        // ≥2⁶³ uint that wrapped negative) is a malformed cue — dropped
        // here so cueIndex never hands out an offset a byte-range read
        // would seek past EOF with
        case (Some(t), Some(cp))
          if cp >= 0 && cp < segE.toLong - segS => (t, segS.toLong + cp)
      }
      if pts.nonEmpty
    } yield pts
  }

  /** CUE-DRIVEN sample index: walks ONLY the cue-pointed clusters instead
    * of the whole Segment — the seek path a range-reading task takes into
    * a large stream. A cue whose position does not land on a well-formed
    * Cluster element inside the payload contributes nothing (never
    * throws, never slices out of bounds). When every cluster is
    * cue-pointed the result equals the full [[sampleIndex]] walk
    * (WebmIndexSpec pins this). */
  def sampleIndexViaCues(payload: Array[Byte]): Option[Vector[(Long, Int)]] =
    try sampleIndexViaCuesUnsafe(payload)
    catch { case scala.util.control.NonFatal(_) => None }

  private def sampleIndexViaCuesUnsafe(payload: Array[Byte]): Option[Vector[(Long, Int)]] = {
    for {
      (segS, segE, _, videoTrack) <- videoSegment(payload)
      cues <- cueIndexUnsafe(payload)
      frames = cues.flatMap { case (_, off) =>
        if (off < segS || off >= segE) Vector.empty
        else (for {
          (id, idLen) <- varint(payload, off.toInt, segE, keepMarker = true)
          if id == IdCluster
          (sz, szLen) <- varint(payload, off.toInt + idLen, segE, keepMarker = false)
          if !unknownSize(sz, szLen)
          cs = off.toInt + idLen + szLen
          if sz >= 0 && cs + sz <= segE
        } yield clusterBlocks(payload, cs, (cs + sz).toInt, videoTrack))
          .getOrElse(Vector.empty)
      }
      if frames.nonEmpty
    } yield frames
  }

  /** Frame range inside one (Simple)Block payload, if it belongs to the
    * video track and is unlaced (lacing bits 00 — one frame per block). */
  private def blockFrame(b: Array[Byte], s: Int, e: Int,
                         track: Long): Vector[(Long, Int)] =
    varint(b, s, e, keepMarker = false) match {
      case Some((tn, tLen)) if tn == track && s + tLen + 3 <= e =>
        val flags = b(s + tLen + 2) & 0xff
        if ((flags & 0x06) != 0) Vector.empty // laced: skip, never mis-slice
        else Vector(((s + tLen + 3).toLong, e - (s + tLen + 3)))
      case _ => Vector.empty
    }
}

/** Pure-byte RIFF/AVI sample-index demuxer (the "AVI RIFF File Reference"
  * layout): LIST hdrl → per-stream LIST strl/strh finds the first 'vids'
  * stream by position (the k-th strl IS stream k — that's how the '##dc'
  * chunk ids are assigned), then LIST movi — including one level of
  * LIST 'rec ' interleave groups — yields that stream's '##dc'/'##db'
  * frame chunks as exact payload (offset, size) ranges in stream order.
  *
  * Why AVI earns a third demuxer: Motion-JPEG lives here, and each MJPEG
  * '##dc' chunk is a complete baseline JPEG — a codec the JDK ships. So
  * this index is the one container path where the layer above can decode
  * real PIXELS (`Multimodal.sampleAviFrames`), not just slice coded bytes.
  *
  * Malformed-input policy matches Mp4Index/WebmIndex: never throw, never
  * emit an out-of-payload range. Stricter than the EBML walk in one way:
  * RIFF sizes are load-bearing (there is no resync marker), so ANY child
  * whose declared size overruns its parent — including a truncated tail —
  * rejects the whole file rather than emitting a partial index. */
/** Structural GIF89a/87a block walk — the INDEPENDENT second parse of the
  * animated-GIF leg (the house demux discipline: AviIndex for RIFF,
  * Mp4Index for ISO BMFF, WebmIndex for EBML). Walks header → logical
  * screen descriptor → optional global color table → the block stream
  * (0x21 extensions, 0x2C image descriptors with optional local color
  * tables and LZW sub-blocks, 0x3B trailer) WITHOUT any LZW decode, and
  * returns each image descriptor's (left, top, width, height). Strict:
  * any grammar violation or missing trailer rejects the whole file —
  * sub-block lengths are load-bearing (no resync marker). */
private[graft] object GifIndex {
  import LittleEndian.u16

  def frameDescriptors(b: Array[Byte]): Option[Vector[(Int, Int, Int, Int)]] = {
    if (b.length < 14) return None
    val hdr = new String(b, 0, 6, "US-ASCII")
    if (hdr != "GIF89a" && hdr != "GIF87a") return None
    val packed = b(10) & 0xff // LSD: w(2) h(2) packed bg aspect at 6..12
    var pos = 13
    if ((packed & 0x80) != 0) pos += 3 * (2 << (packed & 7)) // global CT
    // data sub-blocks: (len byte, len bytes)* then a 0x00 terminator
    def skipSubBlocks(start: Int): Option[Int] = {
      var p = start
      while (p < b.length && (b(p) & 0xff) != 0) p += 1 + (b(p) & 0xff)
      if (p < b.length) Some(p + 1) else None
    }
    val out = Vector.newBuilder[(Int, Int, Int, Int)]
    while (pos < b.length) {
      (b(pos) & 0xff) match {
        case 0x3b => return Some(out.result()) // trailer
        case 0x21 => // extension introducer: label byte + sub-blocks
          skipSubBlocks(pos + 2) match {
            case Some(p) => pos = p
            case None => return None
          }
        case 0x2c => // image descriptor
          if (pos + 10 > b.length) return None
          out += ((u16(b, pos + 1), u16(b, pos + 3), u16(b, pos + 5), u16(b, pos + 7)))
          val pk = b(pos + 9) & 0xff
          var p = pos + 10
          if ((pk & 0x80) != 0) p += 3 * (2 << (pk & 7)) // local CT
          p += 1 // LZW minimum code size byte
          skipSubBlocks(p) match {
            case Some(q) => pos = q
            case None => return None
          }
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }
}

private[graft] object AviIndex {
  import LittleEndian.u32 // RIFF is little-endian

  private def tag(b: Array[Byte], p: Int): String =
    new String(b, p, 4, "ISO-8859-1")

  /** RIFF children (fourcc, dataStart, dataEnd, isList) of [start, end).
    * For LIST chunks the fourcc is the list TYPE and the range excludes
    * it, so callers recurse into the range directly. Chunks are padded to
    * even offsets per the spec. None on any overrun (reject, not salvage:
    * one bad size desynchronizes every later chunk boundary). */
  private def children(b: Array[Byte], start: Int,
                       end: Int): Option[Vector[(String, Int, Int, Boolean)]] = {
    val out = Vector.newBuilder[(String, Int, Int, Boolean)]
    var p = start
    while (p < end) {
      if (p + 8 > end) return None
      val id = tag(b, p)
      val sz = u32(b, p + 4)
      val dS = p + 8
      if (dS.toLong + sz > end) return None
      val dE = (dS + sz).toInt
      if (id == "LIST") {
        if (sz < 4) return None
        out += ((tag(b, dS), dS + 4, dE, true))
      } else out += ((id, dS, dE, false))
      p = dE + (sz.toInt & 1)
    }
    Some(out.result())
  }

  /** (offset, size) of every frame chunk of the first 'vids' stream. */
  def sampleIndex(payload: Array[Byte]): Option[Vector[(Long, Int)]] =
    try sampleIndexUnsafe(payload)
    catch { case scala.util.control.NonFatal(_) => None }

  private def sampleIndexUnsafe(b: Array[Byte]): Option[Vector[(Long, Int)]] = {
    if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "AVI ") return None
    val declaredEnd = 8L + u32(b, 4)
    if (declaredEnd > b.length) return None // truncated download
    for {
      top <- children(b, 12, declaredEnd.toInt)
      (hS, hE) <- top.collectFirst { case ("hdrl", s, e, true) => (s, e) }
      hdrlKids <- children(b, hS, hE)
      vidsIdx <- hdrlKids.collect { case ("strl", s, e, true) => (s, e) }
        .zipWithIndex.collectFirst {
          case ((s, e), k) if children(b, s, e).exists(_.exists {
            case ("strh", cs, ce, false) => ce - cs >= 4 && tag(b, cs) == "vids"
            case _ => false
          }) => k
        }
      (mS, mE) <- top.collectFirst { case ("movi", s, e, true) => (s, e) }
      frames <- moviFrames(b, mS, mE, f"$vidsIdx%02d", depth = 0)
      // OpenDML (AVI 2.0): files past RIFF's 4 GiB ceiling continue in
      // trailing `RIFF AVIX` extension chunks, each with its own movi
      ext <- avixFrames(b, (declaredEnd + (u32(b, 4) & 1)).toInt, f"$vidsIdx%02d")
      all = frames ++ ext
      if all.nonEmpty
    } yield all
  }

  /** Frames from trailing OpenDML `RIFF AVIX` extension chunks starting
    * at `start`. Bytes that are not an AVIX header end the walk (trailing
    * junk stays tolerated, as for the primary chunk); a chunk we COMMIT
    * to — the AVIX tag matched — rejects the file on truncation or a
    * malformed movi, the primary chunk's reject-don't-salvage policy. */
  private def avixFrames(b: Array[Byte], start: Int,
                         nn: String): Option[Vector[(Long, Int)]] = {
    val acc = Vector.newBuilder[(Long, Int)]
    var p = start
    while (p + 12 <= b.length && tag(b, p) == "RIFF" && tag(b, p + 8) == "AVIX") {
      val sz = u32(b, p + 4)
      val end = p + 8 + sz
      if (end > b.length || sz < 4) return None // truncated extension
      val movi = for {
        kids <- children(b, p + 12, end.toInt)
        (s, e) <- kids.collectFirst { case ("movi", ms, me, true) => (ms, me) }
        fs <- moviFrames(b, s, e, nn, depth = 0)
      } yield fs
      movi match {
        case None => return None // AVIX without a well-formed movi
        case Some(fs) => acc ++= fs
      }
      p = (end + (sz & 1)).toInt
    }
    Some(acc.result())
  }

  private def moviFrames(b: Array[Byte], s: Int, e: Int, nn: String,
                         depth: Int): Option[Vector[(Long, Int)]] =
    children(b, s, e).flatMap { kids =>
      kids.foldLeft(Option(Vector.empty[(Long, Int)])) {
        case (None, _) => None
        case (Some(acc), ("rec ", rs, re, true)) =>
          // interleave groups hold frame chunks one level down; the spec
          // does not nest them further — deeper nesting is malformed
          if (depth >= 1) None
          else moviFrames(b, rs, re, nn, depth + 1).map(acc ++ _)
        case (Some(acc), (id, ds, de, false))
          if id == nn + "dc" || id == nn + "db" =>
          Some(acc :+ ((ds.toLong, de - ds)))
        case (Some(acc), _) => Some(acc) // other streams' chunks, idx1, JUNK
      }
    }
}
