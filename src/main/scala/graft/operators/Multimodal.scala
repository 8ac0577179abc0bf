package graft.operators

import java.awt.image.BufferedImage
import java.nio.{ByteBuffer, ByteOrder}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.functions.MediaBytes._

/** Media operators over `binary` payloads: image, audio and video rows
  * ([[MediaRow]]) decoded for real, with no native codec library.
  *
  * Images decode through the JVM's ImageIO ([[pixelStats]],
  * [[averageHash]], [[resizeImages]]); audio is PCM16 and G.711 µ-law
  * sample arithmetic over the RIFF/WAVE `data` chunk ([[audioStats]],
  * [[resampleAudio]]); video is AVI demux plus uncompressed BI_RGB frame
  * decode ([[sampleFrames]], [[frameStats]], [[frameDeltas]]). The
  * container header alone is the codegen'd
  * [[graft.functions.MediaHeader]] expression. Every decoder runs per row
  * inside `mapPartitions` (a codec needs heap buffers and reader state
  * that per-row codegen cannot host), so payload bytes never shuffle, and
  * an undecodable payload drops instead of failing the task. Each
  * `synthetic*` builder plants a payload whose decoded statistics have a
  * closed form, so the codec-less DuckDB oracle can grade the decode.
  */
object Multimodal {

  /** REAL payload resize through the codec seam: ImageIO decode →
    * deterministic floor-sampling resample (dst pixel (x,y) reads src
    * (⌊x·sw/w⌋, ⌊y·sh/h⌋) — integer arithmetic, so every output pixel has
    * a closed form an engine without a codec can replay) → lossless PNG
    * re-encode. Undecodable payloads drop, same contract as
    * [[pixelStats]]. Per-row narrow work behind mapPartitions; payload
    * bytes never shuffle. */
  def resizeImages(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    decodedImages(media) { (m, img) =>
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val (sw, sh) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out.setRGB(x, y, img.getRGB(x * sw / w, y * sh / h))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      MediaRow(m.media_id, m.kind, bos.toByteArray)
    }
  }

  /** Per-partition ImageIO decode: `f` sees each row with its decoded
    * image; undecodable payloads drop. NonFatal, not just IOException:
    * ImageIO.read throws runtime exceptions on corrupt-but-recognized
    * payloads (truncated GIF, broken ICC profile → AIOOBE/CMMException)
    * and one bad file must not kill the task. The ImageIO cache is off
    * once per partition: the streams are in memory, no temp files. */
  private def decodedImages[T: Encoder](media: Dataset[MediaRow])(
      f: (MediaRow, BufferedImage) => T): Dataset[T] =
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { m =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.content))
          catch { case NonFatal(_) => null }
        Option(img).map(f(m, _))
      }
    }

  /** Integer BT.601 luma: (299r + 587g + 114b) div 1000. */
  private def luma(r: Int, g: Int, b: Int): Int = (299 * r + 587 * g + 114 * b) / 1000

  /** [[luma]] of a packed 0xRRGGBB pixel (alpha ignored). */
  private def lumaRgb(rgb: Int): Int =
    luma((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)

  /** Luma sum and 4-bucket histogram (bucket = luma >> 6) over `n` pixels. */
  private def lumaFold(n: Int)(lumaAt: Int => Int): (Long, Array[Long]) = {
    var sum = 0L
    val hist = new Array[Long](4)
    var i = 0
    while (i < n) {
      val l = lumaAt(i)
      sum += l
      hist(l >> 6) += 1
      i += 1
    }
    (sum, hist)
  }

  /** Luma raster (row-major, top row first) of one uncompressed 24-bit
    * DIB frame at `b[off, off + len)`: rows stored bottom-up in BGR order,
    * each padded to a 4-byte stride. None unless the stride × height
    * layout fills exactly those `len` bytes inside `b`. Long arithmetic:
    * corrupt dims must not wrap Int and slip past the length check (after
    * it holds, w·h ≤ len/3 < 2^31). */
  private def dibLuma(b: Array[Byte], off: Int, len: Int, w: Int, h: Int): Option[Array[Int]] = {
    val stride = ((3L * w + 3) / 4) * 4
    if (w < 0 || h < 0 || stride * h != len || off < 0 || off.toLong + len > b.length) None
    else {
      val lum = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val row = off + (h - 1 - y) * stride.toInt // bottom-up storage
        var x = 0
        while (x < w) {
          val p = row + 3 * x
          lum(y * w + x) = luma(b(p + 2) & 0xff, b(p + 1) & 0xff, b(p) & 0xff)
          x += 1
        }
        y += 1
      }
      Some(lum)
    }
  }

  final case class FrameRow(media_id: Long, frame_ms: Long, frame_idx: Int,
      width: Int, height: Int, frame_bytes: Array[Byte])

  /** Frame sampling for video rows — REAL container demux (the third
    * codec through the decode seam): walk the AVI/RIFF chunk tree
    * (`hdrl`→`avih` for frame timing, `strl`→`strf` for the DIB shape,
    * `movi` for the frame chunks), then emit one row per `everyMs`
    * timestamp carrying the ACTUAL raw-DIB payload of the frame covering
    * it (frame_idx = ⌊ms·1000 / µsPerFrame⌋). Only uncompressed 24-bit
    * BI_RGB video is decodable without a codec library; anything else
    * drops — the same honesty contract as [[audioStats]]/[[pixelStats]].
    * Per-file frame loops parallelize as rows; payloads never shuffle. */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long): Dataset[FrameRow] = {
    implicit val enc = Encoders.product[FrameRow]
    media.mapPartitions(_.flatMap { m =>
      aviDemux(m.content).toSeq.flatMap { avi =>
        val durationMs = avi.nFrames.toLong * avi.usPerFrame / 1000
        Iterator.range(0L, durationMs, everyMs).flatMap { ms =>
          val idx = (ms * 1000 / avi.usPerFrame).toInt
          avi.frames.lift(idx).map { case (off, len) =>
            FrameRow(m.media_id, ms, idx, avi.width, avi.height,
              java.util.Arrays.copyOfRange(m.content, off, off + len))
          }
        }
      }
    })
  }

  final case class FrameDeltaRow(media_id: Long, frame_idx: Int,
      width: Int, height: Int, n_pixels: Long, delta_sum: Long,
      changed_pixels: Long)

  /** Temporal motion signal per consecutive frame pair — the shot-boundary
    * / static-clip detector a video training pipeline runs before
    * sampling: Σ|luma_f − luma_{f−1}| and the changed-pixel count, both
    * exact integers. A video's frames live INSIDE its row's payload, so
    * the whole per-media sequential decode (one rolling previous-luma
    * buffer) happens inside mapPartitions with ZERO shuffle — media
    * parallelize as rows, payload bytes never leave the executor. A
    * non-decodable frame drops and resets the buffer (no delta bridges a
    * gap) — the seam's honest-drop contract. */
  def frameDeltas(media: Dataset[MediaRow]): Dataset[FrameDeltaRow] = {
    implicit val enc = Encoders.product[FrameDeltaRow]
    media.mapPartitions(_.flatMap { m =>
      aviDemux(m.content).toSeq.flatMap { avi =>
        var prev: Array[Int] = null
        avi.frames.zipWithIndex.flatMap { case ((off, len), idx) =>
          val lum = dibLuma(m.content, off, len, avi.width, avi.height).orNull
          val res = if (lum != null && prev != null) {
            var ds = 0L
            var ch = 0L
            var i = 0
            while (i < lum.length) {
              val d = math.abs(lum(i) - prev(i))
              ds += d
              if (d != 0) ch += 1
              i += 1
            }
            Some(FrameDeltaRow(m.media_id, idx, avi.width, avi.height,
              lum.length.toLong, ds, ch))
          } else None
          prev = lum
          res
        }
      }
    })
  }

  final case class FrameStatsRow(media_id: Long, frame_ms: Long, frame_idx: Int,
      width: Int, height: Int, n_bytes: Int, n_pixels: Long, luma_sum: Long,
      hist_0: Long, hist_1: Long, hist_2: Long, hist_3: Long)

  /** Pixel statistics over demuxed frames — decodes the raw-DIB layout
    * for real (bottom-up rows, BGR order, 4-byte row stride) into the
    * same integer BT.601 luma sum + 4-bucket histogram as [[pixelStats]],
    * so the video path is graded by the identical exact-integer oracle
    * contract. Narrow per-row work; a stride or channel-order bug shifts
    * integers and fails the hash compare. */
  def frameStats(frames: Dataset[FrameRow]): Dataset[FrameStatsRow] = {
    implicit val enc = Encoders.product[FrameStatsRow]
    frames.mapPartitions(_.flatMap { f =>
      dibLuma(f.frame_bytes, 0, f.frame_bytes.length, f.width, f.height).map { lum =>
        val (sum, hist) = lumaFold(lum.length)(lum(_))
        FrameStatsRow(f.media_id, f.frame_ms, f.frame_idx, f.width,
          f.height, f.frame_bytes.length, f.width.toLong * f.height, sum,
          hist(0), hist(1), hist(2), hist(3))
      }
    })
  }

  private final case class AviInfo(usPerFrame: Int, nFrames: Int,
      width: Int, height: Int, frames: IndexedSeq[(Int, Int)])

  /** AVI demux over the shared RIFF chunk walk (corrupt sizes stop the
    * walk, not the task). Returns None unless the container is AVI with
    * one uncompressed 24-bit BI_RGB 'vids' stream and at least one movi
    * frame chunk. */
  private def aviDemux(b: Array[Byte]): Option[AviInfo] =
    if (!isRiff(b, "AVI ")) None
    else {
      var usPerFrame = 0
      var nFrames = 0
      var width = 0
      var height = 0
      var bitCount = 0
      var compression = -1
      var vids = false
      // fccType of the most recent strh: the strf that follows belongs to
      // THAT stream, so on a multi-stream AVI (audio strl before video
      // strl) the WAVEFORMATEX is not misread as a BITMAPINFOHEADER
      var lastStrh = ""
      val frames = IndexedSeq.newBuilder[(Int, Int)]
      // one nesting level per call; recurse into LIST chunks — depth is
      // bounded by the fixed hdrl/strl/movi tree, not the data
      def walk(from: Int, to: Int): Unit = riffChunks(b, from, to) { (i, size) =>
        if (fourCC(b, i, "LIST") && size >= 4) walk(i + 12, i + 8 + size)
        else if (fourCC(b, i, "avih") && size >= 24) {
          usPerFrame = le32(b, i + 8); nFrames = le32(b, i + 24)
        } else if (fourCC(b, i, "strh") && size >= 4) {
          lastStrh = new String(b, i + 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
          if (lastStrh == "vids") vids = true
        } else if (fourCC(b, i, "strf") && size >= 20 && width == 0 &&
            lastStrh == "vids") {
          width = le32(b, i + 12); height = le32(b, i + 16)
          bitCount = le16(b, i + 22); compression = le32(b, i + 24)
        } else if ((fourCC(b, i, "00db") || fourCC(b, i, "00dc")) && size > 0) {
          frames += ((i + 8, size))
        }
      }
      walk(12, b.length)
      val fs = frames.result()
      if (vids && compression == 0 && bitCount == 24 && usPerFrame > 0 &&
        width > 0 && height > 0 && fs.nonEmpty)
        Some(AviInfo(usPerFrame, math.min(nFrames, fs.length), width, height, fs))
      else None
    }

  /** Deterministic planted AVI — the video twin of [[syntheticPng]] /
    * [[syntheticWav]]: `nFrames` uncompressed 24-bit BI_RGB frames of the
    * PNG test-vector pattern (left ⌊w/2⌋ columns at toneOf(f), the rest
    * its complement), stored bottom-up BGR with 4-byte row stride in a
    * minimal RIFF tree (hdrl[avih, strl[strh,strf]], movi[00db…]). Every
    * per-frame statistic has a closed form in (w, h, toneOf(f)), so the
    * codec-less DuckDB oracle verifies the real demux + pixel decode. */
  def syntheticAvi(w: Int, h: Int, nFrames: Int, usPerFrame: Int,
      toneOf: Int => (Int, Int, Int)): Array[Byte] = {
    val stride = ((3 * w + 3) / 4) * 4
    val frameSize = stride * h
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + nFrames * (8 + frameSize)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val bb = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String) = bb.put(s.getBytes("ASCII"))
    fcc("RIFF"); bb.putInt(riffSize); fcc("AVI ")
    fcc("LIST"); bb.putInt(hdrlSize); fcc("hdrl")
    fcc("avih"); bb.putInt(56)
    bb.putInt(usPerFrame).putInt(0).putInt(0).putInt(0).putInt(nFrames)
      .putInt(0).putInt(1).putInt(frameSize).putInt(w).putInt(h)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    fcc("LIST"); bb.putInt(strlSize); fcc("strl")
    fcc("strh"); bb.putInt(56)
    fcc("vids"); fcc("DIB ")
    bb.putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(usPerFrame).putInt(1000000) // dwScale/dwRate: rate/scale = fps
      .putInt(0).putInt(nFrames).putInt(frameSize).putInt(-1).putInt(0)
    bb.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
    fcc("strf"); bb.putInt(40)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(frameSize).putInt(0).putInt(0).putInt(0).putInt(0)
    fcc("LIST"); bb.putInt(moviSize); fcc("movi")
    val split = w / 2
    var f = 0
    while (f < nFrames) {
      fcc("00db"); bb.putInt(frameSize)
      val (r, g, bl) = toneOf(f)
      var y = h - 1 // bottom-up row order
      while (y >= 0) {
        var x = 0
        while (x < w) {
          if (x < split) bb.put(bl.toByte).put(g.toByte).put(r.toByte)
          else bb.put((255 - bl).toByte).put((255 - g).toByte).put((255 - r).toByte)
          x += 1
        }
        var p = 3 * w
        while (p < stride) { bb.put(0.toByte); p += 1 }
        y -= 1
      }
      f += 1
    }
    bb.array()
  }

  /** Planted video table mirroring [[plantedImages]]: one real AVI per id
    * with shape/length/tones derived from the id (25 fps). */
  def plantedAvis(ids: Dataset[Long]): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    ids.mapPartitions(_.map { id =>
      MediaRow(id, "video", syntheticAvi(
        (id % 6 + 2).toInt, (id % 4 + 2).toInt, (id % 5 + 2).toInt, 40000,
        f => (((id * 37 + f * 11) % 256).toInt, ((id * 59 + f * 13) % 256).toInt,
          ((id * 83 + f * 17) % 256).toInt)))
    })
  }

  final case class MediaRow(media_id: Long, kind: String, content: Array[Byte])
  final case class PixelStatsRow(media_id: Long, width: Int, height: Int,
      n_pixels: Long, luma_sum: Long,
      hist_0: Long, hist_1: Long, hist_2: Long, hist_3: Long)

  /** Deterministic planted test image — the MediaHeader test-vector
    * pattern lifted to PIXEL level: a w×h two-tone PNG whose left ⌊w/2⌋
    * columns are tone (r,g,b) and the rest its complement. Every pixel
    * statistic then has a closed form in (w, h, r, g, b), so an engine
    * WITHOUT a codec (the DuckDB oracle) can verify the real decode.
    * Encoded with the JVM's built-in ImageIO PNG writer — lossless 8-bit,
    * so the decode side reads back exact planted values. */
  def syntheticPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val toneA = (r << 16) | (g << 8) | b
    val toneB = ((255 - r) << 16) | ((255 - g) << 8) | (255 - b)
    val split = w / 2
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, if (x < split) toneA else toneB); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Planted image table: one real (ImageIO-encoded) PNG per id, with
    * size and tones derived from the id so stats are oracle-computable.
    * Encoding is codec work → lives behind the same mapPartitions seam
    * as decoding. */
  def plantedImages(ids: Dataset[Long]): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory streams, no temp files
      it.map { id =>
        MediaRow(id, "image", syntheticPng(
          (id % 8 + 2).toInt, (id % 6 + 2).toInt,
          (id * 37 % 256).toInt, (id * 59 % 256).toInt, (id * 83 % 256).toInt))
      }
    }
  }

  final case class AudioStatsRow(media_id: Long, n_samples: Long,
      peak_abs: Long, sum_abs: Long, sum_sq: Long)

  /** A mono WAV of `nSamples` samples: the canonical 44-byte RIFF header
    * (one 16-byte fmt chunk with fmt `codec`, then the data chunk), with
    * the buffer positioned at the first sample for the caller to fill. */
  private def wavBuffer(codec: Int, rate: Int, bits: Int, nSamples: Int): ByteBuffer = {
    val blockAlign = bits / 8
    val dataLen = nSamples * blockAlign
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String) = bb.put(s.getBytes("ASCII"))
    fcc("RIFF"); bb.putInt(36 + dataLen); fcc("WAVE")
    fcc("fmt "); bb.putInt(16).putShort(codec.toShort).putShort(1)
      .putInt(rate).putInt(rate * blockAlign).putShort(blockAlign.toShort)
      .putShort(bits.toShort)
    fcc("data"); bb.putInt(dataLen)
  }

  /** Deterministic planted WAV — a square wave of amplitude A(id) over
    * L(id) 16-bit mono PCM samples (+A, −A alternating), wrapped in a
    * canonical 44-byte RIFF header. Closed forms: n_samples = L,
    * peak = A, Σ|s| = L·A, Σs² = L·A² — all exact integers an engine
    * without an audio path (the DuckDB oracle) can recompute. */
  def syntheticWav(rate: Int, amplitude: Int, nSamples: Int): Array[Byte] = {
    val bb = wavBuffer(codec = 1, rate, bits = 16, nSamples)
    var k = 0
    while (k < nSamples) {
      bb.putShort((if (k % 2 == 0) amplitude else -amplitude).toShort)
      k += 1
    }
    bb.array()
  }

  /** Planted audio table mirroring [[plantedImages]]: one real WAV per id
    * with rate/amplitude/length derived from the id. */
  def plantedWavs(ids: Dataset[Long]): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    ids.mapPartitions(_.map { id =>
      MediaRow(id, "audio", syntheticWav(
        if (id % 2 == 0) 44100 else 22050,
        (id * 31 % 2000).toInt + 100,
        (id % 50).toInt + 10))
    })
  }

  /** Naive PCM decimation resample through the same codec seam: keep
    * every `factor`-th 16-bit sample and re-wrap at rate/factor — a REAL
    * payload transform (decode → subsample → re-encode), like
    * [[resizeImages]] for audio. Deliberately naive: no anti-alias
    * low-pass first, so the planted ±A square wave (Nyquist-frequency
    * content) decimates to pure DC — the aliasing a production resampler
    * filters away, made VISIBLE as a closed form the oracle checks
    * (every kept sample is +A). Non-PCM or undecodable payloads drop
    * (the seam's honesty contract); payload bytes never shuffle. */
  def resampleAudio(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    require(factor >= 1, "decimation factor must be >= 1")
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions(_.flatMap { m =>
      val b = m.content
      wavChunks(b).flatMap { w =>
        if (w.codec != 1 || w.bits != 16 || w.rate <= 0) None
        else {
          val n = w.dataLen / 2
          val nOut = (n + factor - 1) / factor
          val out = wavBuffer(codec = 1, math.max(w.rate / factor, 1), bits = 16, nOut)
          var k = 0
          while (k < n) {
            if (k % factor == 0) out.putShort(le16(b, w.dataAt + 2 * k).toShort)
            k += 1
          }
          Some(MediaRow(m.media_id, "audio", out.array()))
        }
      }
    })
  }

  /** G.711 µ-law byte → linear PCM value (the classic ulaw2linear:
    * complement, ((mant << 3) + 0x84) << exp, bias removal, sign). Pure
    * integer arithmetic, so an engine without an audio path (the DuckDB
    * oracle) replays it formula-for-formula. */
  def ulawToLinear(byte: Int): Int = {
    val u = ~byte & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** Parsed WAV container: (codec, bits, rate, dataAt, dataLen). */
  private final case class WavInfo(codec: Int, bits: Int, rate: Int,
      dataAt: Int, dataLen: Int)

  /** RIFF/WAVE parse over the shared chunk walk (used by [[audioStats]]
    * and [[resampleAudio]]): fmt and data in either order, like
    * MediaHeader's WAV branch. FIRST fmt wins, tracked by its own latch:
    * a malformed multi-fmt container must read the same fmt here as
    * MediaHeader, or the decode surfaces disagree on the codec. Needs a
    * data chunk; fmt fields read only when the fmt chunk declares
    * ≥ 16 bytes. */
  private def wavChunks(b: Array[Byte]): Option[WavInfo] =
    if (!isRiff(b, "WAVE")) None
    else {
      var fmtSeen = false
      var codec = 0
      var sampleBits = 0
      var rate = 0
      var dataAt = -1
      var dataLen = 0
      riffChunks(b, 12, b.length) { (i, size) =>
        if (size >= 0 && !fmtSeen && fourCC(b, i, "fmt ")) {
          fmtSeen = true
          if (size >= 16) {
            codec = le16(b, i + 8); sampleBits = le16(b, i + 22); rate = le32(b, i + 12)
          }
        } else if (size >= 0 && dataAt < 0 && fourCC(b, i, "data")) {
          dataAt = i + 8; dataLen = size
        }
      }
      if (!fmtSeen || dataAt < 0) None
      else Some(WavInfo(codec, sampleBits, rate, dataAt, dataLen))
    }

  /** REAL sample-level audio decode — PCM and G.711 µ-law need no codec
    * library, only byte arithmetic: walk the RIFF chunks to the `data`
    * payload and fold the samples into exact integer stats (count,
    * peak |s|, Σ|s|, Σs²). Two codecs share the seam — fmt code 1/16-bit
    * decodes LE shorts, fmt code 7/8-bit decodes µ-law bytes through
    * [[ulawToLinear]] — proving the seam generalizes: a third codec is a
    * new branch on (codec, bits), not a new operator. Same honesty
    * contract as [[pixelStats]]: undecodable or unsupported-codec
    * payloads drop; a sample-order or sign bug shifts exact integers and
    * fails the oracle hash. */
  def audioStats(media: Dataset[MediaRow]): Dataset[AudioStatsRow] = {
    implicit val enc = Encoders.product[AudioStatsRow]
    media.mapPartitions(_.flatMap { m =>
      val b = m.content
      wavChunks(b).flatMap { w =>
        val (codec, sampleBits, dataAt, dataLen) = (w.codec, w.bits, w.dataAt, w.dataLen)
        val pcm16 = codec == 1 && sampleBits == 16
        val ulaw8 = codec == 7 && sampleBits == 8
        if (!pcm16 && !ulaw8) None
        else {
          val n = if (pcm16) dataLen / 2 else dataLen
          var k = 0
          var peak = 0L
          var sumAbs = 0L
          var sumSq = 0L
          while (k < n) {
            val s: Long =
              if (pcm16) le16(b, dataAt + 2 * k).toShort.toLong
              else ulawToLinear(b(dataAt + k) & 0xff).toLong
            val a = math.abs(s)
            if (a > peak) peak = a
            sumAbs += a
            sumSq += s * s
            k += 1
          }
          Some(AudioStatsRow(m.media_id, n, peak, sumAbs, sumSq))
        }
      }
    })
  }

  /** Deterministic planted µ-law WAV — L 8-bit µ-law samples alternating
    * two byte codes (u1, u2), wrapped in a canonical RIFF header with fmt
    * code 7. Closed forms over v = [[ulawToLinear]]: n = L,
    * peak = max(|v1|,|v2|), Σ|s| = ⌈L/2⌉|v1| + ⌊L/2⌋|v2|, Σs² likewise —
    * exact integers the oracle recomputes from the decode formula alone. */
  def syntheticUlawWav(rate: Int, u1: Int, u2: Int, nSamples: Int): Array[Byte] = {
    val bb = wavBuffer(codec = 7, rate, bits = 8, nSamples)
    var k = 0
    while (k < nSamples) {
      bb.put(((if (k % 2 == 0) u1 else u2) & 0xff).toByte)
      k += 1
    }
    bb.array()
  }

  /** Planted µ-law table mirroring [[plantedWavs]]: byte codes and length
    * derived from the id. */
  def plantedUlawWavs(ids: Dataset[Long]): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    ids.mapPartitions(_.map { id =>
      MediaRow(id, "audio", syntheticUlawWav(
        8000,
        (id * 29 % 256).toInt,
        ((id * 53 + 7) % 256).toInt,
        (id % 40).toInt + 8))
    })
  }

  final case class PhashRow(media_id: Long, phash_bits: String, n_set: Long)

  /** Average-hash perceptual fingerprint (aHash) — the image near-dup
    * primitive: decode, floor-sample a grid×grid luma raster (pixel at
    * (⌊j·w/g⌋, ⌊i·h/g⌋) — the same floor-sampling resampler as
    * [[resizeImages]]), threshold each cell STRICTLY above the raster
    * mean (cross-multiplied — `lum·g² > Σlum` — so no division touches
    * the bits), and emit the g² bits as a bitstring. Near-duplicate
    * images (re-encodes, minor edits) land within a small hamming
    * distance; the string form keys a grouping or LSH band join directly,
    * with none of the signed-overflow traps a 64-bit packed value has in
    * cross-engine compares. Per-image work is g² samples regardless of
    * resolution; shuffle-free scan. Undecodable payloads drop, same
    * contract as [[pixelStats]]. */
  def averageHash(media: Dataset[MediaRow], grid: Int = 8): Dataset[PhashRow] = {
    implicit val enc = Encoders.product[PhashRow]
    decodedImages(media) { (m, img) =>
      val w = img.getWidth
      val h = img.getHeight
      val cells = grid * grid
      val lum = new Array[Long](cells)
      var total = 0L
      var i = 0
      while (i < grid) {
        val y = i * h / grid
        var j = 0
        while (j < grid) {
          val l = lumaRgb(img.getRGB(j * w / grid, y)).toLong
          lum(i * grid + j) = l
          total += l
          j += 1
        }
        i += 1
      }
      val sb = new java.lang.StringBuilder(cells)
      var nSet = 0L
      var k = 0
      while (k < cells) {
        val bit = lum(k) * cells > total
        sb.append(if (bit) '1' else '0')
        if (bit) nSet += 1
        k += 1
      }
      PhashRow(m.media_id, sb.toString, nSet)
    }
  }

  /** REAL pixel-level decode — the codec seam FILLED with the JVM's
    * built-in ImageIO (PNG/JPEG/GIF/BMP): per image, integer BT.601 luma
    * (lum = (299r + 587g + 114b) div 1000) summed over all pixels plus a
    * 4-bucket luma histogram — exact integers, so a decoder regression
    * flips the oracle hash, not a float tolerance. Undecodable payloads
    * are dropped (the all-null-fields contract of the header parser,
    * expressed as absence here). mapPartitions, not an Expression: a
    * codec needs heap buffers and reader state that per-row codegen
    * cannot host; the one-time per-partition init (ImageIO cache off) is
    * exactly what the seam exists for. */
  def pixelStats(media: Dataset[MediaRow]): Dataset[PixelStatsRow] = {
    implicit val enc = Encoders.product[PixelStatsRow]
    decodedImages(media) { (m, img) =>
      val (w, h) = (img.getWidth, img.getHeight)
      val (sum, hist) = lumaFold(w * h)(i => lumaRgb(img.getRGB(i % w, i / w)))
      PixelStatsRow(m.media_id, w, h, w.toLong * h, sum,
        hist(0), hist(1), hist(2), hist(3))
    }
  }
}
