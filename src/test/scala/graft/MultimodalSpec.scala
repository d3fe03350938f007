package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal plumbing: binary payload schema, partition-wise stub decode,
  * determinism, and compatibility of the feature output with the
  * similarity operators. */
class MultimodalSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = Tables.t(spark, Sf, "documents").cache()

  test("payload column is real binary with correct byte length") {
    val media = Multimodal.withPayload(docs, "doc_id", "text")
    assert(media.schema("payload").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val bad = media.join(docs, col("media_id") === col("doc_id"))
      .filter(octet_length(col("payload")) =!= length(col("text"))) // ASCII corpus
    assert(bad.count() === 0)
  }

  test("stub decode emits fixed-width features, deterministically") {
    val f1 = Multimodal.documentFeatures(spark, docs)
    assert(f1.count() === docs.count())
    val widths = f1.select(size(col("features"))).distinct().collect().map(_.getInt(0))
    assert(widths.toSeq === Seq(Multimodal.FeatureDim))
    val f2 = Multimodal.documentFeatures(spark, docs)
    val a = f1.orderBy("media_id").collect().map(_.toString)
    val b = f2.orderBy("media_id").collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
  }

  test("checksum matches the SQL-side md5 of the text payload") {
    val feats = Multimodal.documentFeatures(spark, docs)
      .select(col("media_id"), col("checksum"))
    val sqlSide = docs.select(col("doc_id").as("media_id"), md5(col("text")).as("m"))
    val mismatch = feats.join(sqlSide, "media_id")
      .filter(col("checksum") =!= col("m"))
    assert(mismatch.count() === 0)
  }

  test("frame sampling: chunk boundaries, stride, cap, and byte content") {
    val media = Multimodal.withPayload(docs, "doc_id", "text")
      .as[Multimodal.MediaRecord]
    val frames = Multimodal.sampleFrames(media, 256, 3, 5).collect()
    val payloads = media.collect().map(r => r.media_id -> r.payload).toMap
    assert(frames.nonEmpty)
    frames.foreach { f =>
      val p = payloads(f.media_id)
      assert(f.frame_idx % 3 === 0) // stride respected
      val from = (f.frame_idx * 256).toInt
      val until = math.min(from + 256, p.length)
      assert(f.frame_bytes === (until - from).toLong)
      assert(java.util.Arrays.equals(f.frame,
        java.util.Arrays.copyOfRange(p, from, until))) // exact byte slice
    }
    val perMedia = frames.groupBy(_.media_id).values
    assert(perMedia.forall(_.length <= 5)) // cap respected
  }

  test("resize stub normalizes every payload to the target size") {
    val media = Multimodal.withPayload(docs, "doc_id", "text")
      .as[Multimodal.MediaRecord]
    // text payloads are non-raster: resizedImages byte-normalizes them to
    // the fixed-resolution size w·h·3
    val (w, h) = (8, 5)
    val target = w * h * 3
    val out = Multimodal.resizedImages(media, w, h).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.payload.length === target && r.n_bytes === target.toLong))
    // truncation keeps the original prefix; padding is zeros
    val orig = media.collect().map(r => r.media_id -> r.payload).toMap
    out.foreach { r =>
      val p = orig(r.media_id)
      val n = math.min(target, p.length)
      assert(java.util.Arrays.equals(r.payload.take(n), p.take(n)))
      assert(r.payload.drop(n).forall(_ === 0.toByte))
    }
  }

  test("real image resize: nearest-neighbor mapping exact, up and down") {
    // 4x2 source, left 2 columns red, right 2 green
    val png = Multimodal.syntheticSplitPng(4, 2, 250, 0, 0, 0, 250, 0)
    val media = Seq(Multimodal.MediaRecord(1L, "png", png, png.length.toLong)).toDS()
    // downscale to 2x1: target x=0 -> src 0 (red), x=1 -> src 2 (green)
    val down = Multimodal.resizedImages(media, 2, 1).collect().head
    val dImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(down.payload))
    assert((dImg.getWidth, dImg.getHeight) === (2, 1))
    assert((dImg.getRGB(0, 0) & 0xffffff) === (250 << 16))
    assert((dImg.getRGB(1, 0) & 0xffffff) === (250 << 8))
    // upscale to 8x4: target x -> src x*4/8 = x/2; boundary at x=4 (src 2)
    val up = Multimodal.resizedImages(media, 8, 4).collect().head
    val uImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up.payload))
    assert((uImg.getWidth, uImg.getHeight) === (8, 4))
    assert((0 until 8).map(x => (uImg.getRGB(x, 3) & 0xffffff) === (250 << 16))
      .toSeq === Seq(true, true, true, true, false, false, false, false))
    assert(up.format === "png")
  }

  test("non-raster payload takes the byte-stub resize arm") {
    val junk = Array.tabulate[Byte](50)(_.toByte)
    val media = Seq(Multimodal.MediaRecord(2L, "bin", junk, 50L)).toDS()
    val out = Multimodal.resizedImages(media, 4, 3).collect().head
    assert(out.payload.length === 4 * 3 * 3) // targetW*targetH*3 byte stub
    assert(out.payload.take(36).toSeq === junk.take(36).toSeq)
    assert(out.format === "bin") // stub arm never claims a raster format
  }

  test("decode runs partition-wise (one task per partition, no collect)") {
    val media = Multimodal.withPayload(docs, "doc_id", "text")
      .repartition(4).as[Multimodal.MediaRecord]
    val feats = Multimodal.decodeFeatures(media)
    assert(feats.rdd.getNumPartitions === 4)
    assert(feats.count() === docs.count())
  }

  test("real PNG decode: dimensions, bands, and exact channel stats") {
    val png = Multimodal.syntheticPng(12, 9, 200, 30, 77)
    val media = Seq(Multimodal.MediaRecord(1L, "png", png, png.length.toLong))
      .toDS()
    val f = Multimodal.decodeFeatures(media).head().features.map(_.toInt)
    // [w, h, bands, meanR, meanG, meanB, minLum, maxLum, pad, pad]
    assert(f.toSeq === Seq(12, 9, 3, 200, 30, 77, (200 + 30 + 77) / 3,
      (200 + 30 + 77) / 3, 0, 0))
  }

  test("real BMP decode via the magic-byte probe (format tag says otherwise)") {
    // encode a BMP but tag it "bin": the probe must route on content
    val img = new java.awt.image.BufferedImage(
      5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, (10 << 16) | (20 << 8) | 30)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val bmp = bos.toByteArray
    val media = Seq(Multimodal.MediaRecord(2L, "bin", bmp, bmp.length.toLong)).toDS()
    val f = Multimodal.decodeFeatures(media).head().features.map(_.toInt)
    assert(f.toSeq === Seq(5, 4, 3, 10, 20, 30, 20, 20, 0, 0))
  }

  test("real WAV decode: header fields and exact sample stats") {
    val wav = Multimodal.syntheticWav(5L) // frames = 64 + 2*5 = 74
    val media = Seq(Multimodal.MediaRecord(5L, "wav", wav, wav.length.toLong)).toDS()
    val f = Multimodal.decodeFeatures(media).head().features
    val samples = (0 until 74).map(i => ((i * 37 + 5) % 2001) - 1000)
    // mono: the whole sum lands in ch0, ch1 sum is 0
    assert(f.map(_.toLong).toSeq === Seq[Long](8000, 1, 16, 74,
      samples.min, samples.max, samples.sum, samples.head, samples.sum, 0))
  }

  test("real stereo WAV decode: interleave and per-channel sums") {
    val wav = Multimodal.syntheticWavEx(4L, channels = 2, bits = 16)
    val media = Seq(Multimodal.MediaRecord(4L, "wav", wav, wav.length.toLong)).toDS()
    val f = Multimodal.decodeFeatures(media).head().features
    val frames = 64 + 2 * 4
    val xs = (0 until frames * 2).map(j => ((j * 37 + 4) % 2001) - 1000)
    val ch0 = xs.grouped(2).map(_.head).sum.toLong
    val ch1 = xs.grouped(2).map(_.last).sum.toLong
    assert(f.map(_.toLong).toSeq === Seq[Long](8000, 2, 16, frames,
      xs.min, xs.max, xs.sum, xs.head, ch0, ch1))
  }

  test("real 8-bit WAV decode: unsigned samples") {
    val wav = Multimodal.syntheticWavEx(7L, channels = 1, bits = 8)
    val media = Seq(Multimodal.MediaRecord(7L, "wav", wav, wav.length.toLong)).toDS()
    val f = Multimodal.decodeFeatures(media).head().features
    val frames = 64 + 2 * 7
    val xs = (0 until frames).map(j => (j * 37 + 7) % 256) // unsigned 0..255
    assert(f.map(_.toLong).toSeq === Seq[Long](8000, 1, 8, frames,
      xs.min, xs.max, xs.sum, xs.head, xs.sum, 0))
    assert(xs.max > 127, "fixture must cover the sign-extension trap")
  }

  test("real JPEG decode via the magic-byte probe: exact dims and bands") {
    val jpg = Multimodal.syntheticJpeg(19, 11, 120, 60, 30)
    assert((jpg(0) & 0xff) === 0xFF && (jpg(1) & 0xff) === 0xD8) // JFIF magic
    val media = Seq(Multimodal.MediaRecord(8L, "bin", jpg, jpg.length.toLong)).toDS()
    val f = Multimodal.decodeFeatures(media).head().features.map(_.toInt)
    assert(f.take(3).toSeq === Seq(19, 11, 3)) // dims+bands exact; stats lossy
  }

  test("AVI demux: real frames out, stride and cap respected, JPEG-decodable") {
    val id = 6L // nFrames = 2 + 6%4 = 4, dims 22x13... (16+6%9, 16+6%7)
    val avi = Multimodal.syntheticAvi(id)
    val media = Seq(Multimodal.MediaRecord(id, "avi", avi, avi.length.toLong)).toDS()
    val all = Multimodal.sampleFrames(media, 256, 1, 10).collect().sortBy(_.frame_idx)
    assert(all.length === 4)
    assert(all.map(_.frame_idx).toSeq === Seq(0L, 1L, 2L, 3L))
    all.foreach { fr =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fr.frame))
      assert(img !== null, "every demuxed frame must be a decodable JPEG")
      assert(img.getWidth === 16 + (id % 9).toInt)
      assert(img.getHeight === 16 + (id % 7).toInt)
    }
    // stride + cap apply to the REAL frame sequence
    val sampled = Multimodal.sampleFrames(media, 256, 2, 2).collect().sortBy(_.frame_idx)
    assert(sampled.map(_.frame_idx).toSeq === Seq(0L, 2L))
  }

  test("AVI demux: frames wrapped in 'rec ' LISTs are still found in order") {
    // interleaved-AVI shape: each frame chunk nested in its own rec LIST
    val jpgA = Multimodal.syntheticJpeg(6, 5, 10, 20, 30)
    val jpgB = Multimodal.syntheticJpeg(6, 5, 40, 50, 60)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String) = s.getBytes("US-ASCII")
    def chunk(f: Array[Byte]) = {
      val c = cc("00dc") ++ le32(f.length) ++ f
      if ((f.length & 1) == 1) c :+ 0.toByte else c
    }
    def rec(f: Array[Byte]) = {
      val inner = cc("rec ") ++ chunk(f)
      cc("LIST") ++ le32(inner.length) ++ inner
    }
    val movi = cc("movi") ++ rec(jpgA) ++ rec(jpgB)
    val body = cc("AVI ") ++ cc("LIST") ++ le32(movi.length) ++ movi
    val avi = cc("RIFF") ++ le32(body.length) ++ body
    val media = Seq(Multimodal.MediaRecord(10L, "avi", avi, avi.length.toLong)).toDS()
    val frames = Multimodal.sampleFrames(media, 256, 1, 10).collect().sortBy(_.frame_idx)
    assert(frames.length === 2)
    assert(frames(0).frame.toSeq === jpgA.toSeq)
    assert(frames(1).frame.toSeq === jpgB.toSeq)
  }

  test("AVI chunk size with the top bit set terminates (no infinite walk)") {
    // sz bytes FF FF FF F8 -> -8 via .toInt: the naive step 8 + sz + (sz&1)
    // is ZERO, hanging the walk. Must be treated as malformed -> byte stub.
    def cc(s: String) = s.getBytes("US-ASCII")
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val movi = cc("movi") ++ cc("00dc") ++
      Array(0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte) ++
      Array.fill[Byte](40)(7)
    val body = cc("AVI ") ++ cc("LIST") ++ le32(movi.length) ++ movi
    val avi = cc("RIFF") ++ le32(body.length) ++ body
    val media = Seq(Multimodal.MediaRecord(11L, "avi", avi, avi.length.toLong)).toDS()
    val frames = Multimodal.sampleFrames(media, 256, 1, 10).collect() // must return
    assert(frames.length === (avi.length + 255) / 256) // stub fallback
  }

  test("malformed AVI falls back to the byte-stub pseudo-frames") {
    // valid RIFF/AVI magic but no movi LIST -> demux yields no frames
    val junk = "RIFF    AVI LIST".getBytes("US-ASCII") ++
      Array.fill[Byte](600)(42)
    val media = Seq(Multimodal.MediaRecord(9L, "avi", junk, junk.length.toLong)).toDS()
    val frames = Multimodal.sampleFrames(media, 256, 1, 10).collect()
    // stub shape: ceil(len/256) fixed-size chunks
    assert(frames.length === (junk.length + 255) / 256)
    assert(frames.map(_.frame_bytes).sum === junk.length.toLong)
  }

  test("truncated WAV payload falls back to the deterministic byte stub") {
    val junk = Multimodal.syntheticWav(5L).take(20) // valid magic, cut short
    val media = Seq(Multimodal.MediaRecord(6L, "wav", junk, junk.length.toLong)).toDS()
    val f = Multimodal.decodeFeatures(media).head()
    assert(f.features.length === Multimodal.FeatureDim)
    assert(f.features(0) === ('R'.toInt & 0xff).toFloat / 255f) // stub shape
  }

  test("corrupt raster payload falls back to the deterministic byte stub") {
    // valid PNG magic, garbage body: ImageIO returns null / throws -> stub
    val junk = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    val media = Seq(Multimodal.MediaRecord(3L, "png", junk, junk.length.toLong)).toDS()
    val f = Multimodal.decodeFeatures(media).head()
    assert(f.features.length === Multimodal.FeatureDim)
    assert(f.features(0) === (junk(0) & 0xff).toFloat / 255f) // stub shape
  }

  test("q307 image near-dup: planted twins detected through the REAL " +
    "decode at a high floor, and every reported pair is within the cut") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("q307_image_ahash_neardup")(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.nonEmpty, "no near-dup pairs found at all")
    out.foreach { case (a, b, h) =>
      assert(h >= 0 && h <= 3, s"pair ($a,$b) outside the hamming cut: $h")
    }
    val nDocs = Tables.t(spark, Sf, "documents").count()
    val nTwins = nDocs / 2
    val found = out.count { case (a, b, _) => a % 2 == 0 && b == a + 1 }
    // measured 245/250 at sf0.01 (a twin's +17 bump can move the global
    // mean and flip >3 threshold bits); floor leaves slack
    assert(found.toDouble / nTwins >= 0.8,
      s"only $found of $nTwins planted twins detected")
    // and the aHash really came from DECODED pixels: recompute one
    // twin's words from the generator arithmetic and compare
    val wd = Multimodal.imageAHashWords(spark,
        Seq(Multimodal.syntheticGradientRecord(0L)).toDS())
      .select(col("wds")).head().getSeq[Long](0)
    val bm = Array.tabulate(64) { blk =>
      val (bx, by) = (blk % 8, blk / 8)
      (0 until 2).flatMap(dy => (0 until 2).map(dx =>
        Multimodal.gradientLum(0L, bx * 2 + dx, by * 2 + dy).toLong))
        .sum / 4
    }
    val gm = bm.sum / 64
    val expect = (0 until 4).map { w =>
      (0 until 16).foldLeft(0L)((acc, b) =>
        if (bm(w * 16 + b) >= gm) acc | (1L << b) else acc)
    }
    assert(wd.toSeq === expect, "decoded aHash drifted from the generator")
  }
}
