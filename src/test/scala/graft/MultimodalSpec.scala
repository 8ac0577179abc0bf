package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._
import graft.functions.MediaHeader
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow

class MultimodalSpec extends SparkSpec {

  // ---- real container-header byte builders --------------------------------

  /** 33-byte PNG prelude (signature + IHDR) + payload. */
  private def pngBytes(w: Int, h: Int, payload: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(33 + payload)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes("ASCII")).putInt(w).putInt(h)
    bb.put(Array[Byte](8, 6, 0, 0, 0)).putInt(0) // depth/color/... + crc
    bb.put(Array.fill[Byte](payload)(1)).array()
  }

  /** Canonical 44-byte WAV header (PCM) + payload. */
  private def wavBytes(rate: Int, channels: Int, dataLen: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("ASCII"))
    bb.put("fmt ".getBytes("ASCII")).putInt(16).putShort(1).putShort(channels.toShort)
    bb.putInt(rate).putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    bb.put("data".getBytes("ASCII")).putInt(dataLen)
    bb.put(Array.fill[Byte](dataLen)(2)).array()
  }

  /** Minimal JPEG: SOI + SOF0 segment carrying the dimensions. */
  private def jpegBytes(w: Int, h: Int): Array[Byte] =
    Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b, 0x08,
      (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff,
      0x01, 0x01, 0x00).map(_.toByte)

  private def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("ASCII") ++
      Array(w & 0xff, (w >> 8) & 0xff, h & 0xff, (h >> 8) & 0xff).map(_.toByte)

  test("MediaHeader parses real PNG/JPEG/GIF/WAV headers (and rejects noise)") {
    def parse(b: Array[Byte]): (String, Integer, Integer, Integer, Integer, Integer) = {
      val r = MediaHeader.decode(b)
      def i(n: Int): Integer = if (r.isNullAt(n)) null else Int.box(r.getInt(n))
      (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        i(1), i(2), i(3), i(4), i(5))
    }
    assert(parse(pngBytes(123, 45, 0)) == ("png", 123, 45, null, null, null))
    assert(parse(jpegBytes(320, 240)) == ("jpeg", 320, 240, null, null, null))
    assert(parse(gifBytes(17, 9)) == ("gif", 17, 9, null, null, null))
    assert(parse(wavBytes(22050, 2, 0)) == ("wav", null, null, 22050, 2, 16))
    assert(parse(Array[Byte](1, 2, 3)) == (null, null, null, null, null, null))
    assert(parse(Array.empty[Byte]) == (null, null, null, null, null, null))
  }

  test("MediaHeader survives corrupt WAV chunk sizes (no overflow, no throw)") {
    // Crafted chunk size 0x7FFFFFF0 passes a sign check but would overflow
    // `i + 8 + size` to negative — must degrade to row("wav"), not throw.
    def wavWithChunk(size: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ASCII")).putInt(20).put("WAVE".getBytes("ASCII"))
      bb.put("junk".getBytes("ASCII")).putInt(size)
      bb.put(Array.fill[Byte](8)(0)).array()
    }
    for (size <- Seq(0x7ffffff0, 0x7fffffff, Int.MinValue, -1, 0x10000, 9)) {
      val r = MediaHeader.decode(wavWithChunk(size))
      assert(r.getUTF8String(0).toString == "wav") // recognized container, no fmt found
    }
    // A first fmt chunk declaring fewer than 16 bytes, or a size past the
    // buffer, yields no fields even when 16 plausible bytes follow its
    // header — the rule the WAV sample decoders apply.
    def wavWithFmt(size: Int): Array[Byte] = {
      val bb = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ASCII")).putInt(36).put("WAVE".getBytes("ASCII"))
      bb.put("fmt ".getBytes("ASCII")).putInt(size)
      bb.putShort(1).putShort(2).putInt(22050).putInt(88200).putShort(4).putShort(16)
      bb.put("data".getBytes("ASCII")).putInt(0).array()
    }
    assert(MediaHeader.decode(wavWithFmt(16)).getInt(3) == 22050) // well-formed
    for (size <- Seq(8, 0x1000)) {
      val r = MediaHeader.decode(wavWithFmt(size))
      assert(r.getUTF8String(0).toString == "wav")
      assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5), s"fmt size $size")
    }
    // Deterministic fuzz: arbitrary bytes after a RIFF/WAVE prelude never throw.
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val tail = Array.fill[Byte](rnd.nextInt(64))(rnd.nextInt().toByte)
      val b = "RIFF".getBytes("ASCII") ++ Array.fill[Byte](4)(rnd.nextInt().toByte) ++
        "WAVE".getBytes("ASCII") ++ tail
      MediaHeader.decode(b) // must not throw
      MediaHeader.decode(tail) // nor on raw noise
    }
  }

  test("resizeImages really resamples payload: closed-form match, noise dropped") {
    import spark.implicits._
    // id=5 → src 7×5, tones (185,39,159)/complement, split 3; resized to
    // 8×6 with floor sampling: dst col x is tone A iff x*7//8 < 3 → cols
    // 0..3 (ceil(3*8/7) = 4)
    val media = graft.operators.Multimodal.plantedImages(Seq(5L).toDS())
      .union(Seq(Multimodal.MediaRow(99L, "image", Array[Byte](9, 9))).toDS())
    val out = Multimodal.pixelStats(Multimodal.resizeImages(media, 8, 6)).collect()
    assert(out.map(_.media_id).toSeq == Seq(5L)) // undecodable dropped
    val la = (299 * 185 + 587 * 39 + 114 * 159) / 1000
    val lb = (299 * 70 + 587 * 216 + 114 * 96) / 1000
    assert(out.head.width == 8 && out.head.height == 6)
    assert(out.head.luma_sum == 6L * (4 * la + 4 * lb))
  }

  test("sampleFrames demuxes REAL frames from a planted AVI") {
    import spark.implicits._
    // id=3 → w=5,h=5,nFrames=5 @40ms: sampling every 100ms over 200ms
    // picks ms 0→frame 0 and ms 100→frame 2; id=0 → w=2,h=2,nFrames=2,
    // 80ms total → only ms 0. Noise payload must drop, not throw.
    val media = Multimodal.plantedAvis(Seq(0L, 3L).toDS())
      .union(Seq(Multimodal.MediaRow(99L, "video", Array[Byte](1, 2, 3))).toDS())
    val frames = Multimodal.sampleFrames(media, everyMs = 100)
      .collect().sortBy(f => (f.media_id, f.frame_ms))
    assert(frames.map(f => (f.media_id, f.frame_ms, f.frame_idx)).toSeq ==
      Seq((0L, 0L, 0), (3L, 0L, 0), (3L, 100L, 2)))
    // the payload is the ACTUAL stored frame: id=3 w=5 → stride 16, h=5
    assert(frames(1).frame_bytes.length == 16 * 5)
    // frame 0 of id=3: toneA = (111, 177, 249), stored BGR bottom-up
    assert((frames(1).frame_bytes(0) & 0xff) == 249) // B
    assert((frames(1).frame_bytes(1) & 0xff) == 177) // G
    assert((frames(1).frame_bytes(2) & 0xff) == 111) // R
    // and frameStats decodes it to the closed form: split=2 cols toneA,
    // 3 cols complement, luma = (299r+587g+114b)/1000
    val st = Multimodal.frameStats(Multimodal.sampleFrames(media, 100))
      .filter(_.media_id == 3L).collect().minBy(_.frame_ms)
    val la = (299 * 111 + 587 * 177 + 114 * 249) / 1000
    val lb = (299 * 144 + 587 * 78 + 114 * 6) / 1000
    assert(st.n_pixels == 25 && st.luma_sum == 5L * (2 * la + 3 * lb))
  }

  test("frameDeltas: closed-form motion, noise dropped, count = frames-1") {
    import spark.implicits._
    val media = Multimodal.plantedAvis(Seq(3L).toDS())
      .union(Seq(Multimodal.MediaRow(99L, "video", Array[Byte](1, 2, 3))).toDS())
    val deltas = Multimodal.frameDeltas(media).collect().sortBy(_.frame_idx)
    // id=3 → w=5,h=5,nFrames=5: 4 consecutive pairs, noise drops
    assert(deltas.map(_.media_id).distinct.toSeq == Seq(3L))
    assert(deltas.map(_.frame_idx).toSeq == Seq(1, 2, 3, 4))
    // frame f tones: A=(3*37+11f, 3*59+13f, 3*83+17f) mod 256, B=complement;
    // per-pixel motion is |Δluma| per half, h rows x split/rest columns
    def la(f: Int) = (299 * ((3 * 37 + f * 11) % 256) + 587 * ((3 * 59 + f * 13) % 256) +
      114 * ((3 * 83 + f * 17) % 256)) / 1000
    def lb(f: Int) = (299 * (255 - (3 * 37 + f * 11) % 256) + 587 * (255 - (3 * 59 + f * 13) % 256) +
      114 * (255 - (3 * 83 + f * 17) % 256)) / 1000
    deltas.foreach { d =>
      val f = d.frame_idx
      assert(d.n_pixels == 25)
      assert(d.delta_sum ==
        5L * (2 * math.abs(la(f) - la(f - 1)) + 3 * math.abs(lb(f) - lb(f - 1))))
    }
  }

  test("decoders never throw on corrupted containers — they drop (fuzz)") {
    import spark.implicits._
    // 240 seeded mutations of real containers (AVI/WAV/µ-law/PNG): bit
    // flips, truncations, tail garbage. The honesty contract says a
    // corrupt payload DROPS; one bad file must never kill a task — this
    // is the property every mapPartitions decoder in the seam shares.
    val rnd = new scala.util.Random(7)
    val bases = Seq(
      Multimodal.syntheticAvi(5, 4, 3, 40000, f => (10 + f, 20, 30)),
      Multimodal.syntheticWav(8000, 500, 20),
      Multimodal.syntheticUlawWav(8000, 40, 200, 12),
      Multimodal.syntheticPng(6, 4, 1, 2, 3))
    def corrupt(b: Array[Byte]): Array[Byte] = rnd.nextInt(3) match {
      case 0 =>
        val c = b.clone()
        val i = rnd.nextInt(c.length)
        c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte
        c
      case 1 => b.take(rnd.nextInt(b.length))
      case _ =>
        val c = b.clone()
        java.util.Arrays.fill(c, rnd.nextInt(c.length), c.length, rnd.nextInt(256).toByte)
        c
    }
    val rows = (0 until 240).map { i =>
      Multimodal.MediaRow(i.toLong, Seq("video", "audio", "audio", "image")(i % 4),
        corrupt(bases(i % 4)))
    }
    val ds = rows.toDS()
    // none of these pipelines may throw; counts just force full evaluation
    val frames = Multimodal.sampleFrames(ds, 100)
    assert(Multimodal.frameStats(frames).count() <= frames.count())
    Multimodal.frameDeltas(ds).count()
    Multimodal.audioStats(ds).count()
    Multimodal.audioStats(Multimodal.resampleAudio(ds, 2)).count()
    Multimodal.pixelStats(ds).count()
    Multimodal.resizeImages(ds, 4, 4).count()
    rows.foreach(r => MediaHeader.decode(r.content))
  }

  test("every WAV the engine writes reads back with its rate, channels and bits") {
    import spark.implicits._
    def header(b: Array[Byte]): (String, Int, Int, Int) = {
      val r = MediaHeader.decode(b)
      (r.getUTF8String(0).toString, r.getInt(3), r.getInt(4), r.getInt(5))
    }
    val pcm = Multimodal.syntheticWav(44100, 700, 21)
    val ulaw = Multimodal.syntheticUlawWav(8000, 40, 200, 13)
    val resampled = Seq(2, 3).map { factor =>
      factor -> Multimodal.resampleAudio(Seq(MediaRow(1L, "audio", pcm)).toDS(), factor)
        .collect().head.content
    }.toMap
    // (payload, rate, channels, bits, samples)
    val written = Seq(
      (pcm, 44100, 1, 16, 21L),
      (ulaw, 8000, 1, 8, 13L),
      (resampled(2), 22050, 1, 16, 11L),
      (resampled(3), 14700, 1, 16, 7L))
    for (((b, rate, channels, bits, n), i) <- written.zipWithIndex) {
      assert(header(b) == (("wav", rate, channels, bits)), s"payload $i header")
      val st = Multimodal.audioStats(Seq(MediaRow(i.toLong, "audio", b)).toDS()).collect()
      assert(st.map(_.n_samples).toSeq == Seq(n), s"payload $i samples")
    }
  }

  test("pixelStats really decodes pixels: closed-form match, noise dropped") {
    import spark.implicits._
    // id=5 → w=7,h=5, tones from id: r=185,g=39,b=159 (5*37, 5*59, 5*83 mod 256)
    val ids = Seq(0L, 5L, 11L).toDS()
    val withNoise = graft.operators.Multimodal.plantedImages(ids)
      .union(Seq(MediaRow(99L, "image", Array[Byte](1, 2, 3))).toDS())
    val out = graft.operators.Multimodal.pixelStats(withNoise)
      .collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq == Seq(0L, 5L, 11L)) // undecodable 99 dropped
    def expected(id: Long) = {
      val (w, h) = ((id % 8 + 2).toInt, (id % 6 + 2).toInt)
      val (r, g, b) = ((id * 37 % 256).toInt, (id * 59 % 256).toInt, (id * 83 % 256).toInt)
      val la = (299 * r + 587 * g + 114 * b) / 1000
      val lb = (299 * (255 - r) + 587 * (255 - g) + 114 * (255 - b)) / 1000
      val (na, nb) = ((w / 2).toLong * h, (w - w / 2).toLong * h)
      (w, h, w.toLong * h, na * la + nb * lb,
        (0 to 3).map(k => na * (if (la / 64 == k) 1 else 0) +
          nb * (if (lb / 64 == k) 1 else 0)))
    }
    for (row <- out) {
      val (w, h, n, sum, hist) = expected(row.media_id)
      assert((row.width, row.height, row.n_pixels, row.luma_sum) == (w, h, n, sum),
        s"pixel stats diverge from planted closed form for id ${row.media_id}")
      assert(Seq(row.hist_0, row.hist_1, row.hist_2, row.hist_3) == hist)
    }
  }

  test("audioStats really decodes PCM samples: closed-form match, non-PCM dropped") {
    import spark.implicits._
    val ids = Seq(1L, 4L, 49L).toDS()
    val withNoise = graft.operators.Multimodal.plantedWavs(ids)
      .union(Seq(
        MediaRow(98L, "audio", Array[Byte](9, 9, 9)), // not RIFF
        MediaRow(99L, "image", pngBytes(4, 4, 0))).toDS()) // not audio at all
    val out = graft.operators.Multimodal.audioStats(withNoise)
      .collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq == Seq(1L, 4L, 49L))
    for (row <- out) {
      val id = row.media_id
      val (a, l) = ((id * 31 % 2000) + 100, (id % 50) + 10)
      assert((row.n_samples, row.peak_abs, row.sum_abs, row.sum_sq) ==
        (l, a, l * a, l * a * a),
        s"PCM stats diverge from the planted square wave for id $id")
    }
    // corrupt chunk sizes inside a RIFF container stop the walk, not the task
    val bad = java.nio.ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("ASCII")).putInt(20).put("WAVE".getBytes("ASCII"))
      .put("junk".getBytes("ASCII")).putInt(0x7ffffff0)
      .put(Array.fill[Byte](8)(0)).array()
    assert(graft.operators.Multimodal.audioStats(
      Seq(MediaRow(1L, "audio", bad)).toDS()).count() == 0)

    // non-canonical chunk ORDER ([data][fmt ]) still decodes — the walk
    // covers the whole container like MediaHeader's scanner, so the two
    // decode surfaces agree on what is PCM16
    val swapped = java.nio.ByteBuffer.allocate(44 + 4).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("ASCII")).putInt(40).put("WAVE".getBytes("ASCII"))
      .put("data".getBytes("ASCII")).putInt(4)
      .putShort(100.toShort).putShort((-100).toShort) // two samples ±100
      .put("fmt ".getBytes("ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16).array()
    val sw = graft.operators.Multimodal.audioStats(
      Seq(MediaRow(7L, "audio", swapped)).toDS()).collect()
    assert(sw.length == 1 && sw(0).n_samples == 2 && sw(0).peak_abs == 100 &&
      sw(0).sum_abs == 200 && sw(0).sum_sq == 20000,
      s"data-before-fmt layout mishandled: ${sw.toSeq}")
  }

  test("audioStats decodes µ-law through the same seam: closed-form match") {
    import spark.implicits._
    val ids = Seq(2L, 17L, 38L).toDS()
    val out = graft.operators.Multimodal.audioStats(
      graft.operators.Multimodal.plantedUlawWavs(ids))
      .collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq == Seq(2L, 17L, 38L))
    for (row <- out) {
      val id = row.media_id
      val l = (id % 40) + 8
      val v1 = graft.operators.Multimodal.ulawToLinear((id * 29 % 256).toInt).toLong
      val v2 = graft.operators.Multimodal.ulawToLinear(((id * 53 + 7) % 256).toInt).toLong
      val (n1, n2) = ((l + 1) / 2, l / 2)
      assert((row.n_samples, row.peak_abs, row.sum_abs, row.sum_sq) ==
        (l, math.max(math.abs(v1), math.abs(v2)),
          n1 * math.abs(v1) + n2 * math.abs(v2),
          n1 * v1 * v1 + n2 * v2 * v2),
        s"µ-law stats diverge from the decode formula for id $id")
    }
    // spot-check the decode table against known G.711 anchor points
    assert(graft.operators.Multimodal.ulawToLinear(0xff) == 0) // positive zero
    assert(graft.operators.Multimodal.ulawToLinear(0x7f) == 0) // negative zero
    assert(graft.operators.Multimodal.ulawToLinear(0x80) == 32124) // max magnitude
    assert(graft.operators.Multimodal.ulawToLinear(0x00) == -32124)
  }

  test("multi-fmt container: FIRST fmt wins, matching MediaHeader (ADVICE r6)") {
    import spark.implicits._
    // first fmt declares codec 2 (ADPCM — unsupported), a second fmt
    // declares PCM16: audioStats must NOT decode, because MediaHeader's
    // first-fmt-returns scanner reports codec 2 and the two decode
    // surfaces must agree on what the container is
    val bb = ByteBuffer.allocate(12 + 24 + 24 + 12).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ASCII")).putInt(64).put("WAVE".getBytes("ASCII"))
    bb.put("fmt ".getBytes("ASCII")).putInt(16).putShort(2).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("fmt ".getBytes("ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes("ASCII")).putInt(4)
      .putShort(100.toShort).putShort((-100).toShort)
    val twoFmt = bb.array()
    assert(graft.operators.Multimodal.audioStats(
      Seq(MediaRow(1L, "audio", twoFmt)).toDS()).count() == 0,
      "second fmt chunk overrode the first — decode surfaces disagree")
    // and MediaHeader agrees: the container reads as non-PCM (codec 2 has
    // bits_per_sample 16 but format stays 'wav' with its first fmt)
    val hdr = MediaHeader.decode(twoFmt)
    assert(hdr.getUTF8String(0).toString == "wav")
  }

  test("averageHash: scale-invariant for proportional upscales, corrupt dropped") {
    import spark.implicits._
    import Multimodal.MediaRow
    // a 2x nearest-neighbor-equivalent upscale of a two-tone image samples
    // the same 8x8 grid -> identical perceptual hash (the property that
    // makes aHash a NEAR-dup key, not an exact-bytes key)
    val rows = Seq(
      MediaRow(1L, "image", Multimodal.syntheticPng(8, 6, 200, 40, 90)),
      MediaRow(2L, "image", Multimodal.syntheticPng(16, 12, 200, 40, 90)),
      MediaRow(3L, "image", Multimodal.syntheticPng(9, 5, 10, 250, 30)),
      MediaRow(4L, "image", Array[Byte](1, 2, 3, 4))) // undecodable
    val got = Multimodal.averageHash(rows.toDS())
      .collect().map(r => r.media_id -> ((r.phash_bits, r.n_set))).toMap
    assert(got(1L) === got(2L), "2x upscale must hash identically")
    assert(got(1L) !== got(3L), "different tones must differ")
    assert(!got.contains(4L), "undecodable payload must drop")
    assert(got(1L)._1.length === 64 && got(1L)._2 ===
      got(1L)._1.count(_ == '1').toLong)
  }

  test("mm_phash_neardup finds EVERY signature pair at hamming64 <= 8 (multiprobe completeness)") {
    import graft.queries.MediaQueries
    val got = MediaQueries.queries("mm_phash_neardup")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("keeper_a"), r.getAs[Long]("keeper_b")) ->
        (r.getAs[Long]("hamming64"), r.getAs[Long]("implied_pairs"))).toMap
    // brute force over all pairs of DISTINCT row signatures
    val ids = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 3 === 0).select(col("doc_id")).as[Long](spark.implicits.newLongEncoder)
    val sigs = graft.operators.Multimodal.averageHash(
      graft.operators.Multimodal.plantedImages(ids)).toDF()
      .select(col("media_id"), substring(col("phash_bits"), 1, 8).as("sig"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val groups = sigs.groupBy(_._2).view
      .mapValues(m => (m.map(_._1).min, m.length.toLong)).toMap
    val expected = (for {
      (sa, (ka, na)) <- groups.toSeq; (sb, (kb, nb)) <- groups.toSeq if sa < sb
      h = 8L * sa.zip(sb).count { case (x, y) => x != y }
      if h <= 8L
    } yield (ka, kb) -> (h, na * nb)).toMap
    assert(got == expected,
      s"multiprobe missed or invented pairs: got ${got.size}, expected ${expected.size}")
    assert(expected.values.exists(_._1 == 8L),
      "corpus has no hamming-8 signature pair: the beyond-equality claim is vacuous")
    assert(expected.values.exists(_._2 > 1L),
      "no hot group: implied_pairs never exceeds 1, the collapse is untested")
  }
}
