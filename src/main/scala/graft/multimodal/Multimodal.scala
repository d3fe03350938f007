package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video carried as opaque `binary`
  * columns with typed metadata, decoded / feature-extracted partition-wise.
  *
  * The Spark-side plumbing is real — schema, partitioning, batch iteration —
  * and so are the decoders, all pure JDK: PNG/BMP/JPEG/GIF payloads (probed
  * by magic bytes) go through `javax.imageio`; PCM WAV (16-bit LE, 8-bit,
  * mono/stereo) through `javax.sound.sampled`; MJPEG-in-AVI video through a
  * RIFF demux ([[demuxAviFrames]]) + the ImageIO arm per frame. Payloads
  * that match no probe (e.g. the text modality) or no claimed codec shape
  * keep a deterministic byte-derived fallback; swap in further codecs
  * (e.g. via JNI or a sidecar process pool) without touching the dataflow.
  *
  * Scale notes: payloads stay columnar in Parquet (binary column, never
  * driver-collected); decode runs inside mapPartitions so each task
  * amortizes codec init across its whole partition; feature extraction
  * emits fixed-width vectors so downstream similarity ops (Similarity.scala)
  * apply unchanged.
  */
object Multimodal {

  // ImageIO's default stream cache backs every read/write of a
  // non-file stream with a TEMP FILE (FileCacheImageInput/OutputStream):
  // one create+write+delete per decode and per encode. All payloads
  // here are in-memory byte arrays, so at 32 concurrent decode tasks
  // the default turns a CPU-bound stage into filesystem-metadata
  // contention. Memory-cached streams are the documented alternative
  // for exactly this shape. Set once per JVM, before any codec use.
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed record for a media row: payload + metadata. */
  case class MediaRecord(
      media_id: Long,
      format: String,        // e.g. "txt", "png", "wav"
      payload: Array[Byte],
      n_bytes: Long)

  case class MediaFeatures(
      media_id: Long,
      format: String,
      n_bytes: Long,
      checksum: String,
      features: Array[Float]) // fixed width FeatureDim for EVERY arm

  /** Width of every decoded feature vector, regardless of modality arm —
    * the WAV arm defines it (10 fields); the raster and byte-stub arms
    * zero-pad up to it. A single fixed width is load-bearing: a mixed-
    * modality corpus must yield rectangular feature arrays so downstream
    * vector ops (quantize/dot/cosine in Similarity) apply unchanged. */
  val FeatureDim = 10

  /** Attach a binary payload column + metadata struct to a text table —
    * the text modality of the multimodal schema (documents fixture). */
  def withPayload(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      lit("txt").as("format"),
      encode(col(textCol), "UTF-8").as("payload"),
      octet_length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes"))

  /** Raster magic-byte probe (PNG / BMP / JPEG / GIF — all decodable by
    * `javax.imageio`) — decode is content-driven, so a lying `format` tag
    * can't route garbage into the codec or images around it. For the lossy
    * formats (JPEG) dims and band count are exact while pixel statistics
    * depend on the codec's IDCT — gated queries project only the exact
    * fields (q100). */
  private def looksRaster(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      ((b(0) == 0x89.toByte && b(1) == 'P'.toByte && b(2) == 'N'.toByte &&
        b(3) == 'G'.toByte) ||
        (b(0) == 'B'.toByte && b(1) == 'M'.toByte) ||
        (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||
        (b(0) == 'G'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte &&
          b(3) == '8'.toByte))

  /** RIFF/WAVE magic-byte probe. */
  private def looksWav(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte &&
      b(3) == 'F'.toByte && b(8) == 'W'.toByte && b(9) == 'A'.toByte &&
      b(10) == 'V'.toByte && b(11) == 'E'.toByte

  /** Real WAV decode via `javax.sound.sampled` (in the JDK): header-derived
    * format fields plus exact integer sample statistics. Claimed formats:
    * 16-bit signed little-endian PCM and 8-bit PCM (unsigned or signed),
    * mono or stereo; anything else falls back to the byte stub rather than
    * guessing. Features:
    * [sampleRate, channels, bits, frames, minSample, maxSample, sampleSum,
    * firstSample, sumCh0, sumCh1] — min/max/sum range over EVERY channel
    * sample (interleaved), sumCh0/sumCh1 are the per-channel sums (ch1 sum
    * is 0 for mono). All integers, exact in Float at these magnitudes. */
  private def decodeWav(bytes: Array[Byte]): Option[Array[Float]] = try {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    val enc = fmt.getEncoding
    val bits = fmt.getSampleSizeInBits
    val channels = fmt.getChannels
    val signed16le = enc ==
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
      bits == 16 && !fmt.isBigEndian
    val pcm8 = bits == 8 &&
      (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED ||
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
    val ok = (signed16le || pcm8) && channels >= 1 && channels <= 2
    if (!ok) None
    else {
      val pcm = ais.readAllBytes()
      val bytesPerSample = bits / 8
      val nSamples = pcm.length / bytesPerSample
      val frames = nSamples / channels
      val unsigned8 =
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      var mn = Int.MaxValue; var mx = Int.MinValue; var sum = 0L; var s0 = 0
      val chSum = new Array[Long](2)
      var i = 0
      while (i < nSamples) {
        val s =
          if (bits == 16)
            ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
          else if (unsigned8) pcm(i) & 0xff
          else pcm(i).toInt
        if (i == 0) s0 = s
        if (s < mn) mn = s
        if (s > mx) mx = s
        sum += s
        chSum(i % channels) += s
        i += 1
      }
      if (frames == 0) None
      else Some(Array(fmt.getSampleRate, channels.toFloat, bits.toFloat,
        frames.toFloat, mn.toFloat, mx.toFloat, sum.toFloat, s0.toFloat,
        chSum(0).toFloat, chSum(1).toFloat))
    }
  } catch {
    case _: java.io.IOException => None
    case _: javax.sound.sampled.UnsupportedAudioFileException => None
  }

  /** Decode one media record. Raster payloads (PNG/BMP by magic bytes) go
    * through a REAL decoder — `javax.imageio` ships in the JDK, so no new
    * dependency — producing exact integer image statistics:
    * [width, height, bands, meanR, meanG, meanB, minLum, maxLum, 0, 0]
    * (means are integer-division sums, lum = (r+g+b)/3 — all integer math,
    * so the features are engine-reproducible and oracle-checkable).
    * WAV payloads decode through `javax.sound.sampled` the same way
    * ([[decodeWav]]). Non-media payloads (e.g. the text modality) and
    * undecodable bytes keep the deterministic byte-derived fallback.
    * Every arm emits exactly [[FeatureDim]] floats (shorter arms zero-pad),
    * so mixed-modality corpora stay rectangular. */
  private def pad(a: Array[Float]): Array[Float] =
    if (a.length >= FeatureDim) a else java.util.Arrays.copyOf(a, FeatureDim)

  private def decodeOne(r: MediaRecord): MediaFeatures = {
    val bytes = r.payload
    val checksum = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    val decoded: Option[Array[Float]] =
      if (looksWav(bytes)) decodeWav(bytes)
      else if (!looksRaster(bytes)) None
      else try {
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
          .map { img =>
            val w = img.getWidth
            val h = img.getHeight
            val bands = img.getRaster.getNumBands
            var sr = 0L; var sg = 0L; var sb = 0L
            var minL = 256L; var maxL = -1L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val cr = (rgb >> 16) & 0xff; val cg = (rgb >> 8) & 0xff
                val cb = rgb & 0xff
                sr += cr; sg += cg; sb += cb
                val lum = (cr + cg + cb) / 3L
                if (lum < minL) minL = lum
                if (lum > maxL) maxL = lum
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            Array(w.toFloat, h.toFloat, bands.toFloat,
              (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
              minL.toFloat, maxL.toFloat)
          }
      } catch { case _: java.io.IOException => None }
    val feats = pad(decoded.getOrElse(
      Array.tabulate(8)(i =>
        if (bytes != null && i < bytes.length) (bytes(i) & 0xff).toFloat / 255f
        else 0f)))
    MediaFeatures(r.media_id, r.format, r.n_bytes, checksum, feats)
  }

  /** Partition-wise decode + feature extraction. Codec init happens once
    * per partition (where a real decoder would allocate its context). */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      // per-partition codec context would be created here
      it.map(decodeOne)
    }
  }

  /** End-to-end: documents -> typed media records -> features DataFrame.
    * No query calls it: its specs exercise the text-stub decode path
    * through it. */
  def documentFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val media = withPayload(docs, "doc_id", "text").as[MediaRecord]
    decodeFeatures(media).toDF()
  }

  /** Deterministic solid-color PNG — the synthetic image modality (no image
    * fixtures ship in the warehouse, so gated queries derive pixels from
    * ids). Solid color makes every decoded statistic exact arithmetic over
    * the generator parameters, which is what lets DuckDB oracle-check a
    * REAL ImageIO decode without being able to decode PNGs itself. */
  def syntheticPng(width: Int, height: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Id-keyed synthetic image record; the parameter formulas are mirrored
    * verbatim by the q98 oracle (MultimodalOps). */
  def syntheticImageRecord(id: Long): MediaRecord = {
    val payload = syntheticPng(
      8 + (id % 8).toInt, 8 + (id % 5).toInt,
      (id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
    MediaRecord(id, "png", payload, payload.length.toLong)
  }

  /** Deterministic 16×16 grayscale-gradient PNG — the structured image
    * the aHash near-dup gate (q307) needs (a solid color hashes
    * degenerately: every block mean equals the global mean). Pixel
    * luminance is pure integer arithmetic over (id, x, y), mirrored
    * verbatim by the oracle; ids 2i and 2i+1 share a base pattern and
    * differ only by a +17 bump on the top-left 2×2 pixels — a planted
    * near-dup pair per base, while different bases get genuinely
    * different gradients (base-keyed slopes + a nonlinear x·y term, so
    * a constant brightness shift can't alias two bases into one hash). */
  def gradientLum(id: Long, x: Int, y: Int): Int = {
    val base = id / 2
    val bump = if (id % 2 == 1 && x < 2 && y < 2) 17L else 0L
    // slope moduli are PRIMES (97/101/103) so the pattern family only
    // repeats every ~10^6 bases: without this, bases at lcm(small
    // moduli) apart produced identical hashes and the near-dup classes
    // (hence band buckets AND the true answer set) grew linearly with
    // the corpus — quadratic pair volume that had nothing to do with
    // the planted twins
    ((base * 31 + x * (3 + base % 97) + y * (5 + base % 101) +
      (x.toLong * y * (1 + base % 103)) % 97 + bump) % 256).toInt
  }

  def syntheticGradientRecord(id: Long): MediaRecord = {
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val l = gradientLum(id, x, y)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val payload = bos.toByteArray
    MediaRecord(id, "png", payload, payload.length.toLong)
  }

  /** REAL-decode aHash: ImageIO-decode each 16×16 PNG, average 2×2
    * pixel blocks down to the classic 8×8 aHash grid (truncating
    * integer means — exact, PNG is lossless), threshold each block
    * against the truncating mean of the 64 block means (ties → 1,
    * the `>=` rule), and pack the 64 bits as 4 words of 16 — the band
    * width is the SCALE knob: an ALL-PAIRS dedup's bucket occupancy is
    * n/2^bits per band, so 8-bit bands went quadratic at 10× (measured
    * 27×) while 16-bit buckets stay ~n/65536; and by pigeonhole 4
    * bands keep FULL recall at the report's hamming ≤ 3 cut (3 diffs
    * can dirty at most 3 of 4 words). One row per image:
    * (media_id, wds array<bigint>[4]). Any decoder deviation — wrong
    * channel, dims, gamma, resample — lands in the block means and
    * breaks the gate hash. */
  def imageAHashWords(spark: SparkSession,
                      media: Dataset[MediaRecord]): DataFrame = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null && img.getWidth == 16 && img.getHeight == 16,
          s"media ${r.media_id}: expected a 16x16 image")
        val bm = new Array[Long](64)
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 8) {
            var s = 0L
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                s += (img.getRGB(bx * 2 + dx, by * 2 + dy) & 0xff).toLong
                dx += 1
              }
              dy += 1
            }
            bm(by * 8 + bx) = s / 4
            bx += 1
          }
          by += 1
        }
        val gmean = bm.sum / 64
        val wds = (0 until 4).map { w =>
          var v = 0L
          var b = 0
          while (b < 16) {
            if (bm(w * 16 + b) >= gmean) v |= (1L << b)
            b += 1
          }
          v
        }
        (r.media_id, wds)
      }
    }.toDF("media_id", "wds")
  }

  /** Deterministic 16-bit mono PCM WAV — the synthetic audio modality.
    * The RIFF header is hand-rolled (canonical 44-byte PCM layout), so the
    * generator shares no code with the `javax.sound` decoder under test.
    * Sample i is the integer pseudo-sequence `(i*37 + id) % 2001 - 1000`,
    * which a SQL oracle replays with pure list arithmetic. */
  def syntheticWav(id: Long, sampleRate: Int = 8000): Array[Byte] =
    syntheticWavEx(id, channels = 1, bits = 16, sampleRate)

  /** [[syntheticWav]] generalized to the other claimed PCM shapes: stereo
    * and/or 8-bit (8-bit WAV is UNSIGNED per the RIFF spec). Interleaved
    * sample j (0-based over every channel value) is
    * `(j*37 + id) % 2001 - 1000` for 16-bit and `(j*37 + id) % 256` for
    * 8-bit — one flat pseudo-sequence, so per-channel values are the
    * j % channels == c strides and a SQL oracle replays everything with
    * list arithmetic. */
  def syntheticWavEx(id: Long, channels: Int, bits: Int,
                     sampleRate: Int = 8000): Array[Byte] = {
    require(channels == 1 || channels == 2, s"channels=$channels")
    require(bits == 8 || bits == 16, s"bits=$bits")
    val frames = 64 + 2 * (id % 32).toInt
    val nSamples = frames * channels
    val bytesPerSample = bits / 8
    val data = new Array[Byte](nSamples * bytesPerSample)
    var j = 0
    while (j < nSamples) {
      if (bits == 16) {
        val s = (((j.toLong * 37 + id) % 2001) - 1000).toInt
        data(2 * j) = (s & 0xff).toByte
        data(2 * j + 1) = ((s >> 8) & 0xff).toByte
      } else {
        data(j) = (((j.toLong * 37 + id) % 256) & 0xff).toByte
      }
      j += 1
    }
    val blockAlign = channels * bytesPerSample
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort)       // PCM, channel count
      .putInt(sampleRate).putInt(sampleRate * blockAlign) // byte rate
      .putShort(blockAlign.toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  /** Id-keyed synthetic audio record; formulas mirrored by the q99 oracle. */
  def syntheticWavRecord(id: Long): MediaRecord = {
    val payload = syntheticWav(id)
    MediaRecord(id, "wav", payload, payload.length.toLong)
  }

  /** Id-keyed multi-shape audio record (q101 oracle mirrors the parity
    * routing): even ids are 16-bit STEREO, odd ids are 8-bit mono. */
  def syntheticWavExRecord(id: Long): MediaRecord = {
    val payload =
      if (id % 2 == 0) syntheticWavEx(id, channels = 2, bits = 16)
      else syntheticWavEx(id, channels = 1, bits = 8)
    MediaRecord(id, "wav", payload, payload.length.toLong)
  }

  /** Deterministic solid-color JPEG — dims and band count survive the lossy
    * round-trip exactly (the q100 oracle checks only those); pixel values
    * do not, which is why JPEG never routes through the pixel-stat oracle. */
  def syntheticJpeg(width: Int, height: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Id-keyed synthetic JPEG record; dim formulas mirrored by the q100
    * oracle (deliberately different from the PNG formulas so a routing bug
    * between the two arms can't cancel out). */
  def syntheticJpegRecord(id: Long): MediaRecord = {
    val payload = syntheticJpeg(
      16 + (id % 9).toInt, 16 + (id % 7).toInt,
      (id % 256).toInt, ((id * 11) % 256).toInt, ((id * 17) % 256).toInt)
    MediaRecord(id, "jpg", payload, payload.length.toLong)
  }

  /** Deterministic solid-color GIF: palette-indexed, but a single color
    * round-trips losslessly (one exact palette entry), so — unlike JPEG —
    * the pixel statistics stay oracle-checkable. The decoded raster is
    * 1-band (palette indices); `decodeOne` reads colors via getRGB, so
    * stats are the true colors while n_bands exposes the palette layout. */
  def syntheticGif(width: Int, height: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", bos)
    bos.toByteArray
  }

  /** Id-keyed synthetic GIF record; formulas mirrored by the q104 oracle. */
  def syntheticGifRecord(id: Long): MediaRecord = {
    val payload = syntheticGif(
      12 + (id % 6).toInt, 12 + (id % 4).toInt,
      ((id * 3) % 256).toInt, ((id * 5) % 256).toInt, ((id * 19) % 256).toInt)
    MediaRecord(id, "gif", payload, payload.length.toLong)
  }

  /** One sampled frame of a media payload. */
  case class FrameRecord(
      media_id: Long,
      frame_idx: Long,  // index in the ORIGINAL frame sequence
      frame: Array[Byte],
      frame_bytes: Long)

  /** RIFF/AVI magic-byte probe. */
  private def looksAvi(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte &&
      b(3) == 'F'.toByte && b(8) == 'A'.toByte && b(9) == 'V'.toByte &&
      b(10) == 'I'.toByte && b(11) == ' '.toByte

  /** REAL AVI demux, pure JDK: walk the RIFF chunk tree, find the `movi`
    * LIST, and return the payload of every video-data chunk (`##dc` /
    * `##db` — compressed / uncompressed frame of stream ##) in stream
    * order. MJPEG-in-AVI is exactly this container shape with one JPEG per
    * `dc` chunk, so demux + the q98/q100 ImageIO arm is a complete
    * pure-JDK video decode path. Returns None for anything malformed —
    * callers fall back to the byte stub rather than guessing. */
  private[multimodal] def demuxAviFrames(b: Array[Byte]): Option[Vector[Array[Byte]]] = try {
    if (!looksAvi(b)) None
    else {
      def le32(off: Int): Long =
        (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
          ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
      def fourcc(off: Int) = new String(b, off, 4, "US-ASCII")
      val riffEnd = math.min(b.length.toLong, 8L + le32(4)).toInt
      val frames = Vector.newBuilder[Array[Byte]]
      def isVideoData(id: String): Boolean =
        id.length == 4 && id(0).isDigit && id(1).isDigit &&
          id(2) == 'd' && (id(3) == 'b' || id(3) == 'c')
      // a corrupt size with the top bit set goes negative through .toInt
      // and can zero the walk step (sz = -8) — an infinite loop on a
      // malformed payload. Treat any negative size as malformed.
      def sz32(off: Int): Int = {
        val v = le32(off)
        if (v > Int.MaxValue) throw new IndexOutOfBoundsException(s"chunk size $v")
        v.toInt
      }
      def walkMovi(start: Int, end: Int): Unit = {
        var o = start
        while (o + 8 <= end) {
          val id = fourcc(o)
          val sz = sz32(o + 4)
          if (isVideoData(id) && o + 8 + sz <= end)
            frames += java.util.Arrays.copyOfRange(b, o + 8, o + 8 + sz)
          else if (id == "LIST" && o + 12 <= end)
            // interleaved AVIs group each frame bundle in a 'rec ' LIST —
            // recurse so wrapped video chunks are still found in order
            walkMovi(o + 12, math.min(o + 8 + sz, end))
          o += 8 + sz + (sz & 1) // chunks pad to even offsets
        }
      }
      var off = 12
      while (off + 8 <= riffEnd) {
        val id = fourcc(off)
        val sz = sz32(off + 4)
        if (id == "LIST" && off + 12 <= riffEnd && fourcc(off + 8) == "movi")
          walkMovi(off + 12, math.min(off + 8 + sz, riffEnd))
        off += 8 + sz + (sz & 1)
      }
      val out = frames.result()
      if (out.isEmpty) None else Some(out)
    }
  } catch { case _: IndexOutOfBoundsException => None }

  /** Frame sampling (video modality): keep every `everyNth` frame up to
    * `maxFrames`, partition-wise, one typed row out per frame.
    *
    * AVI payloads (RIFF magic) go through the REAL demux
    * ([[demuxAviFrames]]): frames are the container's video-data chunks,
    * `frame_idx` their index in the original stream. Everything else —
    * including a malformed AVI — keeps the deterministic byte-stub
    * (fixed `frameBytes`-sized pseudo-frames), so the per-media frame
    * COUNTS stay oracle-checkable from n_bytes alone (q94). */
  def sampleFrames(media: Dataset[MediaRecord], frameBytes: Int,
                   everyNth: Int, maxFrames: Int): Dataset[FrameRecord] = {
    require(frameBytes > 0 && everyNth > 0 && maxFrames > 0,
      s"frameBytes=$frameBytes, everyNth=$everyNth, maxFrames=$maxFrames must be positive")
    implicit val enc = org.apache.spark.sql.Encoders.product[FrameRecord]
    media.flatMap { r =>
      // null payload (e.g. NULL source text) samples nothing — same row the
      // metadata oracle drops via n_bytes.
      if (r.payload == null) Iterator.empty
      else demuxAviFrames(r.payload) match {
        case Some(frames) =>
          Iterator.range(0, frames.size, everyNth)
            .take(maxFrames)
            .map(i => FrameRecord(r.media_id, i.toLong, frames(i),
              frames(i).length.toLong))
        case None =>
          // byte-stub pseudo-frames. Long math: byte arrays can reach
          // 2^31-1, where (len + frameBytes - 1) overflows Int.
          val nChunks = ((r.payload.length.toLong + frameBytes - 1) / frameBytes).toInt
          Iterator.range(0, nChunks, everyNth)
            .take(maxFrames)
            .map { i =>
              val from = i * frameBytes
              val until = math.min(from.toLong + frameBytes, r.payload.length).toInt
              FrameRecord(r.media_id, i.toLong,
                java.util.Arrays.copyOfRange(r.payload, from, until),
                (until - from).toLong)
            }
      }
    }
  }

  /** Decoded per-frame raster info (the exact, oracle-checkable fields). */
  case class FrameInfo(
      media_id: Long, frame_idx: Long, width: Int, height: Int, n_bands: Int)

  /** Decode each sampled frame's raster header via ImageIO (partition-wise,
    * same arm as still images); undecodable frames report -1s rather than
    * dropping — a silent drop would fake a lower frame count. */
  def frameInfo(frames: Dataset[FrameRecord]): Dataset[FrameInfo] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[FrameInfo]
    frames.mapPartitions(_.map { f =>
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.frame)))
        catch { case _: java.io.IOException => None }
      img match {
        case Some(i) =>
          FrameInfo(f.media_id, f.frame_idx, i.getWidth, i.getHeight,
            i.getRaster.getNumBands)
        case None => FrameInfo(f.media_id, f.frame_idx, -1, -1, -1)
      }
    })
  }

  /** Deterministic MJPEG-in-AVI — the synthetic video modality: an AVI
    * RIFF container (hdrl with a canonical 56-byte avih + a movi LIST)
    * holding `2 + id % 4` JPEG frames of `(16 + id % 9) x (16 + id % 7)`
    * pixels. Hand-rolled writer — shares no code with [[demuxAviFrames]]
    * under test. Frame count and dims are pure arithmetic over the id,
    * which is what the q102 oracle replays. */
  def syntheticAvi(id: Long): Array[Byte] = {
    val w = 16 + (id % 9).toInt
    val h = 16 + (id % 7).toInt
    val nFrames = 2 + (id % 4).toInt
    val frames = (0 until nFrames).map { i =>
      syntheticJpeg(w, h,
        ((id + i) % 256).toInt, ((id * 11 + i) % 256).toInt,
        ((id * 17 + i) % 256).toInt)
    }
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // hdrl LIST: 'hdrl' + avih chunk (56-byte main header)
    val avih = new java.io.ByteArrayOutputStream()
    avih.write(cc("avih")); avih.write(le32(56))
    val mainHdr = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    mainHdr.putInt(40000)            // dwMicroSecPerFrame (25 fps)
      .putInt(0).putInt(0).putInt(0) // dwMaxBytesPerSec, padding, flags
      .putInt(nFrames)               // dwTotalFrames
      .putInt(0).putInt(1)           // dwInitialFrames, dwStreams
      .putInt(0)                     // dwSuggestedBufferSize
      .putInt(w).putInt(h)           // dwWidth, dwHeight
    avih.write(mainHdr.array())
    val hdrl = cc("LIST") ++ le32(4 + avih.size()) ++ cc("hdrl") ++ avih.toByteArray
    // movi LIST: one '00dc' chunk per JPEG frame, even-padded
    val movi = new java.io.ByteArrayOutputStream()
    movi.write(cc("movi"))
    frames.foreach { f =>
      movi.write(cc("00dc")); movi.write(le32(f.length)); movi.write(f)
      if ((f.length & 1) == 1) movi.write(0)
    }
    val moviChunk = cc("LIST") ++ le32(movi.size()) ++ movi.toByteArray
    val body = cc("AVI ") ++ hdrl ++ moviChunk
    bos.write(cc("RIFF")); bos.write(le32(body.length)); bos.write(body)
    bos.toByteArray
  }

  /** Id-keyed synthetic video record; formulas mirrored by the q102 oracle. */
  def syntheticAviRecord(id: Long): MediaRecord = {
    val payload = syntheticAvi(id)
    MediaRecord(id, "avi", payload, payload.length.toLong)
  }

  /** REAL image resize (raster modality, pure JDK): ImageIO decode →
    * integer nearest-neighbor resample — source pixel of target (x, y) is
    * `(x*srcW/targetW, y*srcH/targetH)`, floor division, so the mapping is
    * engine-exact and a SQL oracle replays it (q103) — → LOSSLESS PNG
    * re-encode, partition-wise. Nearest-neighbor over bilinear because
    * determinism is a pipeline requirement here: no rounding-mode or
    * gamma ambiguity, byte-identical output on any JVM.
    *
    * Non-raster / undecodable payloads (no raster decoder) are
    * byte-normalized instead: truncated or zero-padded to the
    * fixed-resolution byte size (targetW·targetH·3) so the output stays
    * uniformly shaped; null media passes through undecoded. */
  def resizedImages(media: Dataset[MediaRecord], targetW: Int,
                    targetH: Int): Dataset[MediaRecord] = {
    require(targetW > 0 && targetH > 0, s"bad target ${targetW}x$targetH")
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRecord]
    media.mapPartitions { it =>
      it.map { r =>
        val img =
          if (r.payload == null || !looksRaster(r.payload)) None
          else try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload)))
          catch { case _: java.io.IOException => None }
        img match {
          case Some(src) =>
            val out = new java.awt.image.BufferedImage(
              targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val (sw, sh) = (src.getWidth, src.getHeight)
            var y = 0
            while (y < targetH) {
              var x = 0
              while (x < targetW) {
                out.setRGB(x, y, src.getRGB(x * sw / targetW, y * sh / targetH))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            val bytes = bos.toByteArray
            r.copy(format = "png", payload = bytes, n_bytes = bytes.length.toLong)
          case None =>
            if (r.payload == null) r
            else {
              val tb = targetW * targetH * 3
              r.copy(payload = java.util.Arrays.copyOf(r.payload, tb),
                n_bytes = tb.toLong)
            }
        }
      }
    }
  }

  /** Deterministic vertically-split two-color PNG: columns
    * `x < (width+1)/2` are (rl, gl, bl), the rest (rr, gr, br). Color is a
    * function of x ONLY, so the nearest-neighbor resample of any target
    * column is decided by one integer comparison — which is what lets the
    * q103 oracle check the RESAMPLING math (not just dims) with list
    * arithmetic: a half-pixel offset, a rounding-mode difference, or a
    * bilinear implementation all move the boundary column and break the
    * hash. */
  def syntheticSplitPng(width: Int, height: Int,
                        rl: Int, gl: Int, bl: Int,
                        rr: Int, gr: Int, br: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val left = ((rl & 0xff) << 16) | ((gl & 0xff) << 8) | (bl & 0xff)
    val right = ((rr & 0xff) << 16) | ((gr & 0xff) << 8) | (br & 0xff)
    val split = (width + 1) / 2
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, if (x < split) left else right)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Id-keyed split-PNG record; the color/dim formulas are mirrored by the
    * q103 oracle. */
  def syntheticSplitPngRecord(id: Long): MediaRecord = {
    val payload = syntheticSplitPng(
      8 + (id % 8).toInt, 8 + (id % 5).toInt,
      (id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt,
      ((id * 23) % 256).toInt, ((id * 29) % 256).toInt, ((id * 31) % 256).toInt)
    MediaRecord(id, "png", payload, payload.length.toLong)
  }
}
