package graft

import graft.operators.{JpegGray, Multimodal}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MultimodalSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  /** Fake image payload: 8-byte header (w, h big-endian shorts) + data. */
  private def fakeImage(id: Long, w: Int, h: Int): Row = {
    val header = Array[Byte](
      ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte,
      ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte, 0, 0, 0, 0)
    val data = Array.tabulate[Byte](64)(i => ((id * 31 + i) % 251).toByte)
    Row(id, "image", header ++ data,
      Row(w, h, null, null))
  }

  private def assets = spark.createDataFrame(
    Seq(fakeImage(1, 4, 3), fakeImage(2, 8, 8), fakeImage(3, 16, 2)).asJava,
    Multimodal.AssetSchema)

  test("decode stub recovers header dimensions and full plane") {
    val (w, h, plane) = Multimodal.stubDecodeImage(
      fakeImage(1, 4, 3).getAs[Array[Byte]](2))
    assert(w === 4 && h === 3 && plane.length === 12)
  }

  test("resize stub produces requested dimensions deterministically") {
    val (w, h, plane) = Multimodal.stubDecodeImage(
      fakeImage(2, 8, 8).getAs[Array[Byte]](2))
    val out = Multimodal.stubResize(plane, w, h, 4, 4)
    assert(out.length === 16)
    assert(out.toSeq === Multimodal.stubResize(plane, w, h, 4, 4).toSeq)
  }

  test("resizeNearest: floor mapping, identity at same size, corners kept") {
    val w = 16; val h = 12
    val plane = Array.tabulate(w * h)(i => (i % 256).toByte)
    // identity resize is a no-op copy
    assert(Multimodal.resizeNearest(plane, w, h, w, h).toSeq === plane.toSeq)
    val out = Multimodal.resizeNearest(plane, w, h, 7, 5)
    assert(out.length === 35)
    // hand-check the floor mapping at a few output sites
    for ((x, y) <- Seq((0, 0), (6, 4), (3, 2))) {
      val sy = y * h / 5; val sx = x * w / 7
      assert(out(y * 7 + x) === plane(sy * w + sx),
        s"pixel ($x,$y) should map to source ($sx,$sy)")
    }
    // top-left corner always survives any resize
    assert(Multimodal.resizeNearest(plane, w, h, 1, 1)(0) === plane(0))
    intercept[IllegalArgumentException] {
      Multimodal.resizeNearest(plane, w, h + 1, 7, 5)
    }
  }

  test("downsampleBox2: truncating 2x2 means, rejects odd geometry") {
    val w = 4; val h = 2
    val plane = Array[Byte](10, 20, 30, 41, 50, 60, 70, 80)
    val out = Multimodal.downsampleBox2(plane, w, h)
    // (10+20+50+60)/4 = 35 ; (30+41+70+80)/4 = 221/4 = 55 (truncated)
    assert(out.toSeq === Seq[Byte](35, 55))
    // high bytes stay unsigned through the mean
    val bright = Array.fill[Byte](4)(0xFF.toByte)
    assert((Multimodal.downsampleBox2(bright, 2, 2)(0) & 0xFF) === 255)
    intercept[IllegalArgumentException] {
      Multimodal.downsampleBox2(plane, 4, 4) // length mismatch
    }
    intercept[IllegalArgumentException] {
      Multimodal.downsampleBox2(Array.fill[Byte](9)(0), 3, 3) // odd dims
    }
  }

  test("PCM resample: floor-mean downsample, linear upsample, negatives floor") {
    val pcm = Array[Short](100, 200, -3, -4, 7, 8)
    // down: (100+200)/2=150, (-3-4)/2=floor(-3.5)=-4, (7+8)/2=7
    assert(Multimodal.downsamplePcm2(pcm).toSeq === Seq[Short](150, -4, 7))
    // odd trailing sample drops
    assert(Multimodal.downsamplePcm2(Array[Short](1, 2, 3)).toSeq === Seq[Short](1))
    val up = Multimodal.upsamplePcm2Linear(Array[Short](10, 20, -5))
    // evens copy; odds are floor midpoints; final repeats
    assert(up.toSeq === Seq[Short](10, 15, 20, 7, -5, -5))
    // down∘up is identity on even-length inputs whose pairs average
    // exactly (midpoint of (a,a) is a)
    val const = Array[Short](42, 42, 42, 42)
    assert(Multimodal.downsamplePcm2(Multimodal.upsamplePcm2Linear(const)).toSeq
      === const.toSeq)
    intercept[IllegalArgumentException] {
      Multimodal.upsamplePcm2Linear(Array.empty[Short])
    }
  }

  test("frame sampling slices every k-th frame") {
    val payload = Array.tabulate[Byte](100)(_.toByte)
    val frames = Multimodal.stubSampleFrames(payload, frameBytes = 10, everyK = 3)
    assert(frames.length === 4) // frames 0,3,6,9
    assert(frames.head.toSeq === (0 until 10).map(_.toByte))
  }

  test("chunking partitions payloads exactly and reassembles") {
    val chunked = Multimodal.chunk(assets, 16)
    // 72-byte payloads → 5 chunks (4×16 + 8)
    val counts = chunked.groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 5L, 2L -> 5L, 3L -> 5L))
    val reassembled = chunked.orderBy("asset_id", "chunk_idx")
      .groupBy("asset_id")
      .agg(sum(expr("octet_length(chunk)")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reassembled.values.toSet === Set(72L))
  }

  test("batch feature extraction: decoded dims + 16-bin histogram") {
    val feats = Multimodal.extractFeatures(spark, assets).collect()
    assert(feats.length === 3)
    val byId = feats.map(r => r.getLong(0) ->
      (r.getInt(2), r.getInt(3), r.getSeq[Long](4))).toMap
    assert(byId(1L)._1 === 4 && byId(1L)._2 === 3)
    assert(byId(2L)._1 === 8 && byId(2L)._2 === 8)
    // histogram over the w*h plane sums to plane size
    assert(byId(1L)._3.sum === 12)
    assert(byId(2L)._3.sum === 64)
    assert(byId(1L)._3.length === 16)
  }

  test("metadata filters avoid touching payload bytes (cheap predicate)") {
    val wide = assets.filter(col("meta.width") >= 8)
    assert(wide.count() === 2)
  }

  test("WAV: 16-bit PCM encode/decode round-trip is sample-exact") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345, 7)
    val wav = Multimodal.encodeWavPcm16(8000, samples)
    // canonical RIFF layout: magic, WAVE tag, 44-byte header
    assert(new String(wav.slice(0, 4)) === "RIFF")
    assert(new String(wav.slice(8, 12)) === "WAVE")
    assert(wav.length === 44 + samples.length * 2)
    val (rate, channels, decoded) = Multimodal.decodeWavPcm16(wav)
    assert(rate === 8000 && channels === 1)
    assert(decoded.toSeq === samples.toSeq)
  }

  test("WAV: decoder walks chunks, skips unknown ones, rejects non-PCM") {
    val samples = Array[Short](5, -6, 7)
    val wav = Multimodal.encodeWavPcm16(44100, samples)
    // splice an unknown word-aligned chunk between WAVE tag and fmt
    val junk = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0, 9, 9, 9, 9)
    val spliced = wav.slice(0, 12) ++ junk ++ wav.slice(12, wav.length)
    val (rate, _, decoded) = Multimodal.decodeWavPcm16(spliced)
    assert(rate === 44100 && decoded.toSeq === samples.toSeq)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWavPcm16("RIFFxxxxWAVE".getBytes ++ new Array[Byte](40))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWavPcm16(Array[Byte](1, 2, 3))
    }
  }

  test("BMP: 24bpp encode/decode identity on gray planes, both row orders") {
    val w = 5; val h = 3 // odd width exercises row padding
    val luma = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val bmp = Multimodal.encodeBmp24(w, h, luma)
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    val (dw, dh, decoded) = Multimodal.decodeBmp24(bmp)
    assert(dw === w && dh === h)
    // BT.601 weights sum to 256, so gray pixels decode bit-exactly
    assert(decoded.toSeq === luma.toSeq)
    // top-down variant (negative height) must decode to the same plane
    val buf = java.nio.ByteBuffer.wrap(bmp.clone())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(22, -h)
    val flipped = buf.array()
    val rowBytes = (w * 3 + 3) & ~3
    val rows = (0 until h).map(r => bmp.slice(54 + r * rowBytes, 54 + (r + 1) * rowBytes))
    rows.reverse.zipWithIndex.foreach { case (row, r) =>
      System.arraycopy(row, 0, flipped, 54 + r * rowBytes, rowBytes)
    }
    val (_, _, decodedTd) = Multimodal.decodeBmp24(flipped)
    assert(decodedTd.toSeq === luma.toSeq)
  }

  test("image dispatch: real BMP payloads take the real decoder, others the stub") {
    val luma = Array.tabulate(16)(i => (i * 16).toByte)
    val bmp = Multimodal.encodeBmp24(4, 4, luma)
    val (w, h, plane) = Multimodal.decodeImage(bmp)
    assert((w, h) === (4, 4) && plane.toSeq === luma.toSeq)
    // a non-BMP payload goes through the stub's fake 8-byte header
    val fake = Array[Byte](0, 2, 0, 3) ++ new Array[Byte](12)
    val (fw, fh, _) = Multimodal.decodeImage(fake)
    assert((fw, fh) === (2, 3))
  }

  test("PNG: gray8 encode/decode identity under every RFC 2083 filter type") {
    val w = 7; val h = 5 // odd width: a/c references cross row boundaries
    val luma = Array.tabulate(w * h)(i => ((i * 89 + 3) % 256).toByte)
    for (filter <- 0 to 4) {
      val png = Multimodal.encodePngGray8(w, h, luma, filter)
      // signature + the compressed stream actually differs per filter
      assert((png(1), png(2), png(3)) === ('P'.toByte, 'N'.toByte, 'G'.toByte))
      val (dw, dh, decoded) = Multimodal.decodePngGray8(png)
      assert(dw === w && dh === h, s"filter $filter")
      assert(decoded.toSeq === luma.toSeq, s"filter $filter")
    }
    // DEFLATE is really compressing: a constant plane shrinks well below raw
    val flat = Multimodal.encodePngGray8(64, 64, Array.fill(64 * 64)(7.toByte))
    assert(flat.length < 64 * 64 / 4, s"no compression: ${flat.length}")
  }

  test("PNG: decoder rejects unsupported shapes, dispatch sniffs the signature") {
    val luma = Array.tabulate(12)(i => (i * 21).toByte)
    val png = Multimodal.encodePngGray8(4, 3, luma)
    // dispatch: PNG magic routes to the real decoder
    val (w, h, plane) = Multimodal.decodeImage(png)
    assert((w, h) === (4, 3) && plane.toSeq === luma.toSeq)
    // corrupt the color type: decoder must refuse, dispatch falls to stub
    val rgb = png.clone(); rgb(25) = 2 // IHDR color type: sig8 + len4 + tag4 + 9
    intercept[IllegalArgumentException](Multimodal.decodePngGray8(rgb))
    // truncated IDAT: refuse rather than return a short plane
    val cut = png.take(png.length - 13)
    intercept[IllegalArgumentException](Multimodal.decodePngGray8(cut))
  }

  test("JPEG: constant even-offset tiles round-trip bit-exactly (DC path)") {
    val (w, h) = (24, 16)
    val luma = Array.tabulate(w * h) { i =>
      val tile = (i / w / 8) * 3 + (i % w / 8)
      (128 + 2 * ((tile * 17) % 50) - 48).toByte
    }
    val jpg = JpegGray.encode(w, h, luma)
    val (dw, dh, out) = JpegGray.decode(jpg)
    assert((dw, dh) === (w, h))
    assert(out.toSeq === luma.toSeq,
      "DC-only blocks with even offsets must survive quantization exactly")
  }

  test("JPEG: lossy gradient round-trip stays above 30 dB PSNR, odd dimensions crop") {
    val (w, h) = (41, 23) // neither a multiple of 8
    val img = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val v = 96 + x * 2 + (math.sin(x * 0.7) * 20).toInt + ((y % 5) * 6)
      math.max(0, math.min(255, v)).toByte
    }
    val jpg = JpegGray.encode(w, h, img)
    val (dw, dh, out) = JpegGray.decode(jpg)
    assert((dw, dh) === (w, h))
    var se = 0.0
    img.indices.foreach { i =>
      val d = (img(i) & 0xFF) - (out(i) & 0xFF); se += d.toDouble * d
    }
    val psnr = 10 * math.log10(255.0 * 255.0 / (se / img.length))
    assert(psnr >= 30.0, f"PSNR $psnr%.1f dB below the 30 dB gate")
    // the DCT is really compacting energy: the stream beats raw bytes
    assert(jpg.length < w * h / 2, s"no compression: ${jpg.length}")
  }

  test("JPEG: decoder rejects progressive/multi-component, dispatch sniffs SOI") {
    val luma = Array.tabulate(64)(i => (i * 3).toByte)
    val jpg = JpegGray.encode(8, 8, luma)
    // dispatch: FFD8 routes to the real decoder
    val (w, h, _) = Multimodal.decodeImage(jpg)
    assert((w, h) === (8, 8))
    // SOF0 -> SOF2 (progressive): refuse loudly
    val sofAt = {
      var p = 2
      while (!((jpg(p) & 0xFF) == 0xFF && (jpg(p + 1) & 0xFF) == 0xC0)) p += 1
      p
    }
    val prog = jpg.clone(); prog(sofAt + 1) = 0xC2.toByte
    intercept[IllegalArgumentException](JpegGray.decode(prog))
    // truncated scan: refuse rather than emit a partial plane
    intercept[IllegalArgumentException](
      JpegGray.decode(jpg.take(jpg.length - 6)))
  }

  test("m7 audio frames: 32-sample framing, boundary crossings uncounted") {
    import spark.implicits._
    // one user, 70 samples: frames of 32/32/6. Values alternate sign by
    // event_id parity, so crossings happen at almost every step — but the
    // first sample of each frame has no predecessor inside the frame.
    val events = (0L until 70L).map(i => (1L, i, 2.0)) // s = ±100/50*2...
      .toDF("user_id", "event_id", "value")
    val dir = tempDir("m7").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("m7_audio_frames")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // s_i = ±100 (value*50 = 100; sign alternates with event parity)
    assert(out.toSeq === Seq(
      (0L, 32L, 32L * 100L * 100L, 31L),
      (1L, 32L, 32L * 100L * 100L, 31L),
      (2L, 6L, 6L * 100L * 100L, 5L)))
  }

  test("m8 scene cuts: SAD at the planted boundary, partial frame dropped") {
    import spark.implicits._
    // 64 'a' + 64 'z' + 64 'a' + 10 trailing bytes (partial frame dropped):
    // cuts at both boundaries with SAD = 64*25; below-threshold twin
    // asset (aaab pattern) has zero cuts
    val docs = Seq(
      (1L, "a" * 64 + "z" * 64 + "a" * 64 + "x" * 10, "en", "s", 0L),
      (2L, "a" * 64 + "b" * 64, "en", "s", 0L),
      (3L, "a" * 63, "en", "s", 0L) // < 2 frames: excluded
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("m8").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("m8_scene_cuts")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val sad = 64L * ('z' - 'a') // 64*25 = 1600 > threshold 1536
    val sadAb = 64L * ('b' - 'a') // 64 < threshold
    assert(out.toSeq === Seq(
      (1L, 3L, 2L, 2 * sad, sad),
      (2L, 2L, 0L, sadAb, sadAb)))
  }

  test("RGB8 PNG round-trips losslessly under all five filters") {
    val rnd = new scala.util.Random(19L)
    for (filter <- 0 to 4) {
      val (w, h) = (9, 5) // odd width: pixel-offset filters cross rows
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val png = graft.operators.Multimodal.encodePngRgb8(w, h, rgb, filter)
      val (dw, dh, dec) = graft.operators.Multimodal.decodePngRgb8(png)
      assert(dw === w && dh === h)
      assert(dec.toSeq === rgb.toSeq, s"filter $filter")
    }
    // a gray stream is NOT a truecolor stream: color-type check bites
    val gray = graft.operators.Multimodal.encodePngGray8(4, 4,
      Array.fill(16)(7.toByte))
    val ex = intercept[IllegalArgumentException](
      graft.operators.Multimodal.decodePngRgb8(gray))
    assert(ex.getMessage.contains("color type"))
    // fixed-point luma: pure channels hit exactly their weights
    val pure = Array[Byte](255.toByte, 0, 0, 0, 255.toByte, 0, 0, 0, 255.toByte)
    val g = graft.operators.Multimodal.rgbToGray8(pure).map(_ & 0xFF)
    assert(g.toSeq === Seq(77 * 255 >> 8, 150 * 255 >> 8, 29 * 255 >> 8))
  }

  test("FWHT butterfly matches the direct popcount definition + Parseval") {
    val rnd = new scala.util.Random(33L)
    (0 until 50).foreach { _ =>
      val n = 32
      val x = Array.fill(n)(rnd.nextInt(40001).toLong - 20000)
      val c = graft.operators.Multimodal.fwht(x.clone())
      val direct = Array.tabulate(n) { k =>
        (0 until n).map(i =>
          (if (Integer.bitCount(k & i) % 2 == 0) 1L else -1L) * x(i)).sum
      }
      assert(c.toSeq === direct.toSeq)
      // unnormalized orthogonality: sum c^2 = N * sum x^2
      assert(c.map(v => v * v).sum === 32L * x.map(v => v * v).sum)
    }
    intercept[IllegalArgumentException](
      graft.operators.Multimodal.fwht(new Array[Long](12)))
  }

  test("m44 fingerprint: gain copies dedup together, keeper/count are consistent") {
    val spark = SparkTestSession.spark
    val out = graft.SparkEntry.queries("m44_audio_fingerprint")(
      spark, "/root/testdata/sf0.001").cache()
    val rows = out.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // contract: every group's role-1 doc (2x gain) shares the role-0
    // doc's fingerprint — the g^2 energy scale cancels in the integer
    // ratio — so it is ALWAYS marked duplicate with the lower keeper
    val groups = rows.keys.map(_ / 4).toSeq.distinct
    groups.foreach { g =>
      val (orig, gain) = (g * 4, g * 4 + 1)
      if (rows.contains(orig) && rows.contains(gain)) {
        assert(rows(gain)._1 === rows(orig)._1, s"group $g fp mismatch")
        assert(rows(gain)._4, s"group $g gain copy not marked duplicate")
      }
    }
    // keeper is the min doc_id of its fingerprint class; n_dups counts it
    val byFp = rows.toSeq.groupBy(_._2._1)
    byFp.foreach { case (fp, ds) =>
      val minId = ds.map(_._1).min
      assert(ds.forall(_._2._2 == minId), s"fp $fp keeper wrong")
      assert(ds.forall(_._2._3 == ds.size), s"fp $fp count wrong")
    }
    // the fingerprint must actually SEPARATE content: more distinct
    // fingerprints than groups (roles 2/3 mostly diverge from role 0)
    assert(byFp.size > groups.size)
  }

  test("m45 video phash: brightness copies dedup together, content " +
      "separates, keeper/count consistent") {
    val spark = SparkTestSession.spark
    val out = graft.SparkEntry.queries("m45_video_phash_dedup")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    // brightness invariance: doc g and g+200 share group content at a
    // different constant offset — identical fingerprints, the higher
    // id always marked duplicate of the lower keeper
    out.keys.filter(id => out.contains(id + 200)).foreach { id =>
      val (a, b) = (out(id), out(id + 200))
      assert((a._1, a._2) === (b._1, b._2),
        s"brightness copy $id/${id + 200} fingerprints diverged")
      assert(b._6, s"${id + 200} not marked duplicate")
    }
    // content separation: adjacent groups differ
    out.keys.filter(id => id < 199 && out.contains(id + 1)).take(50)
      .foreach { id =>
        assert((out(id)._1, out(id)._2) !== (out(id + 1)._1, out(id + 1)._2),
          s"different-content $id/${id + 1} collided")
      }
    // keeper = min id of the fingerprint class, n_dups = class size,
    // frame count rides the group key only
    out.toSeq.groupBy(t => (t._2._1, t._2._2)).foreach { case (fp, ds) =>
      val minId = ds.map(_._1).min
      assert(ds.forall(_._2._4 == minId), s"fp $fp keeper wrong")
      assert(ds.forall(_._2._5 == ds.size), s"fp $fp count wrong")
      assert(ds.map(_._2._3).distinct.size === 1)
    }
  }
}
