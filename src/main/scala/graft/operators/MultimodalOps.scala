package graft.operators

import graft.{Q, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked surface of the multimodal plumbing: payload/metadata
  * derivation is pure SQL (byte length, md5 checksum, first-byte probe),
  * so DuckDB can verify it; the mapPartitions decode path is covered by
  * ScalaTest (MultimodalSpec) since a stubbed codec isn't SQL.
  */
object MultimodalOps {

  private def genMedia(s: SparkSession, d: String,
      f: Long => Multimodal.MediaRecord): Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    Tables.t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map(f))
  }

  private def featureCols(fields: Seq[(String, String)]): Seq[Column] =
    fields.zipWithIndex.map { case ((n, t), i) =>
      element_at(col("features"), i + 1).cast(t).as(n)
    }

  private val RasterFields = Seq("width", "height", "n_bands", "mean_r",
    "mean_g", "mean_b", "min_lum", "max_lum").map(_ -> "int")

  private def rasterStats(media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id") +: featureCols(RasterFields): _*)
      .orderBy("media_id")

  val defs: Seq[Q] = Seq(

    Q("q48_multimodal_meta",
      """SELECT doc_id AS media_id, 'txt' AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum,
        |  ascii(substr(text, 1, 1)) AS first_byte
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .select(
          col("doc_id").as("media_id"),
          lit("txt").as("format"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
          md5(col("text")).as("checksum"),
          ascii(substring(col("text"), 1, 1)).as("first_byte"))
        .orderBy("media_id")
    },

    // ---- multimodal fusion: text features joined to vector features by id
    //      (documents.doc_id and embeddings.vec_id share the id space) ----
    Q("q75_multimodal_join",
      """SELECT d.doc_id, d.lang,
        |  CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(list_dot_product(
        |    list_transform(e.embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS DOUBLE)),
        |    list_transform(e.embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS DOUBLE))) AS BIGINT) AS vec_norm_sq,
        |  e.label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      import graft.functions.{TextFunctions, VectorFunctions}
      Tables.t(s, d, "documents")
        .join(Tables.t(s, d, "embeddings"), col("doc_id") === col("vec_id"))
        .select(
          col("doc_id"), col("lang"),
          size(TextFunctions.tokens(col("text"))).as("n_tokens"),
          VectorFunctions.normSq(VectorFunctions.quantize(col("embedding")))
            .as("vec_norm_sq"),
          col("label"))
        .orderBy("doc_id")
    },

    // ---- REAL image decode (javax.imageio, in the JDK): synthesize one
    //      solid-color PNG per doc id, round-trip it through the actual
    //      decoder partition-wise, and emit exact integer image stats. The
    //      oracle can't decode PNGs — it replays the generator arithmetic,
    //      so any decoder deviation (wrong dims, channel order, lossy
    //      round-trip) breaks the hash. ----
    Q("q98_image_decode",
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 8 AS INTEGER) AS width,
        |  CAST(8 + doc_id % 5 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS n_bands,
        |  CAST(doc_id % 256 AS INTEGER) AS mean_r,
        |  CAST((doc_id * 7) % 256 AS INTEGER) AS mean_g,
        |  CAST((doc_id * 13) % 256 AS INTEGER) AS mean_b,
        |  CAST((doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256) // 3
        |    AS INTEGER) AS min_lum,
        |  CAST((doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256) // 3
        |    AS INTEGER) AS max_lum
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      rasterStats(genMedia(s, d, Multimodal.syntheticImageRecord))
    },

    // ---- REAL audio decode (javax.sound.sampled, in the JDK): synthesize
    //      one 16-bit mono PCM WAV per doc id, decode it through the
    //      actual audio stack, and emit header fields + exact integer
    //      sample stats. The oracle replays the generator's sample formula
    //      with list arithmetic — header misreads, byte-order or
    //      sign-extension bugs in the decode path break the hash. ----
    Q("q99_audio_decode",
      """WITH f AS (
        |  SELECT doc_id, 64 + 2 * (doc_id % 32) AS frames FROM documents),
        |s AS (
        |  SELECT doc_id, frames,
        |    list_transform(range(frames), i -> (i * 37 + doc_id) % 2001 - 1000) AS xs
        |  FROM f)
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(16 AS INTEGER) AS bits,
        |  CAST(frames AS INTEGER) AS frames,
        |  CAST(list_min(xs) AS INTEGER) AS min_s,
        |  CAST(list_max(xs) AS INTEGER) AS max_s,
        |  CAST(list_sum(xs) AS BIGINT) AS sum_s,
        |  CAST(xs[1] AS INTEGER) AS first_s
        |FROM s ORDER BY media_id""".stripMargin) { (s, d) =>
      audioStats8(genMedia(s, d, Multimodal.syntheticWavRecord))
    },

    // ---- REAL JPEG decode: same ImageIO arm as q98, lossy format — dims
    //      and band count survive the round-trip exactly (the oracle
    //      replays the generator's dim formulas); pixel stats are
    //      codec-dependent and deliberately NOT projected. A decode
    //      failure would fall back to the byte stub and break the hash. ----
    Q("q100_jpeg_decode",
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 9 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 7 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS n_bands
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      jpegDims(genMedia(s, d, Multimodal.syntheticJpegRecord))
    },

    // ---- REAL GIF decode: palette-indexed raster (n_bands = 1), but a
    //      solid color round-trips losslessly through the palette, so the
    //      pixel stats stay exact — gating both the GIF probe arm and the
    //      palette-to-RGB color resolution. ----
    Q("q104_gif_decode",
      """SELECT doc_id AS media_id,
        |  CAST(12 + doc_id % 6 AS INTEGER) AS width,
        |  CAST(12 + doc_id % 4 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_bands,
        |  CAST((doc_id * 3) % 256 AS INTEGER) AS mean_r,
        |  CAST((doc_id * 5) % 256 AS INTEGER) AS mean_g,
        |  CAST((doc_id * 19) % 256 AS INTEGER) AS mean_b,
        |  CAST(((doc_id * 3) % 256 + (doc_id * 5) % 256 + (doc_id * 19) % 256) // 3
        |    AS INTEGER) AS min_lum,
        |  CAST(((doc_id * 3) % 256 + (doc_id * 5) % 256 + (doc_id * 19) % 256) // 3
        |    AS INTEGER) AS max_lum
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      rasterStats(genMedia(s, d, Multimodal.syntheticGifRecord))
    },

    // ---- REAL multi-shape audio decode: even ids are 16-bit STEREO, odd
    //      ids 8-bit mono (unsigned, per the RIFF spec) — the two claimed
    //      PCM shapes beyond q99's 16-bit mono. One flat interleaved
    //      pseudo-sequence per doc makes per-channel sums the stride
    //      slices, all replayable with list arithmetic. Sign-extension,
    //      channel-interleave, or 8-bit-unsigned bugs break the hash. ----
    Q("q101_audio_formats",
      """WITH f AS (
        |  SELECT doc_id, 64 + 2 * (doc_id % 32) AS frames FROM documents),
        |s AS (
        |  SELECT doc_id, frames,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS channels,
        |    CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS bits,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN list_transform(range(frames * 2), j -> (j * 37 + doc_id) % 2001 - 1000)
        |      ELSE list_transform(range(frames), j -> (j * 37 + doc_id) % 256)
        |    END AS xs
        |  FROM f)
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(channels AS INTEGER) AS channels,
        |  CAST(bits AS INTEGER) AS bits,
        |  CAST(frames AS INTEGER) AS frames,
        |  CAST(list_min(xs) AS INTEGER) AS min_s,
        |  CAST(list_max(xs) AS INTEGER) AS max_s,
        |  CAST(list_sum(xs) AS BIGINT) AS sum_s,
        |  CAST(xs[1] AS INTEGER) AS first_s,
        |  CAST(list_sum(list_transform(range(len(xs) // channels),
        |    i -> xs[i * channels + 1])) AS BIGINT) AS sum_ch0,
        |  CAST(CASE WHEN channels = 2 THEN list_sum(list_transform(
        |    range(len(xs) // 2), i -> xs[i * 2 + 2])) ELSE 0 END AS BIGINT) AS sum_ch1
        |FROM s ORDER BY media_id""".stripMargin) { (s, d) =>
      audioStats10(genMedia(s, d, Multimodal.syntheticWavExRecord))
    },

    // ---- REAL video decode (MJPEG-in-AVI, pure JDK): a RIFF demux walks
    //      the container to the movi LIST and emits one row per video-data
    //      chunk, then each frame decodes through the ImageIO arm. The
    //      oracle replays the generator's frame-count and dim formulas —
    //      a chunk-walk bug (padding, nested LIST, frame order) or a
    //      frame-decode failure (-1 dims) breaks the hash. ----
    Q("q102_video_frames",
      """WITH fr AS (
        |  SELECT doc_id, unnest(range(2 + doc_id % 4)) AS f FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(f AS BIGINT) AS frame_idx,
        |  CAST(16 + doc_id % 9 AS INTEGER) AS width,
        |  CAST(16 + doc_id % 7 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS n_bands
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      videoFrames(genMedia(s, d, Multimodal.syntheticAviRecord))
    },

    // ---- REAL image resize: decode -> integer nearest-neighbor -> PNG
    //      re-encode -> decode again. The fixture is a two-color split
    //      image, so the oracle's list arithmetic checks the RESAMPLING
    //      mapping itself (the boundary column position), not just dims:
    //      a half-pixel offset, rounding-mode change, or bilinear kernel
    //      breaks the hash. ----
    Q("q103_image_resize",
      """WITH p AS (
        |  SELECT doc_id, 8 + doc_id % 8 AS w,
        |    doc_id % 256 AS rl, (doc_id * 7) % 256 AS gl, (doc_id * 13) % 256 AS bl,
        |    (doc_id * 23) % 256 AS rr, (doc_id * 29) % 256 AS gr, (doc_id * 31) % 256 AS br
        |  FROM documents),
        |n AS (
        |  SELECT *, len(list_filter(range(10),
        |    x -> (x * w) // 10 < (w + 1) // 2)) AS nl
        |  FROM p)
        |SELECT doc_id AS media_id,
        |  CAST(10 AS INTEGER) AS width,
        |  CAST(6 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS n_bands,
        |  CAST((nl * rl + (10 - nl) * rr) // 10 AS INTEGER) AS mean_r,
        |  CAST((nl * gl + (10 - nl) * gr) // 10 AS INTEGER) AS mean_g,
        |  CAST((nl * bl + (10 - nl) * br) // 10 AS INTEGER) AS mean_b,
        |  CAST(least((rl + gl + bl) // 3, (rr + gr + br) // 3) AS INTEGER) AS min_lum,
        |  CAST(greatest((rl + gl + bl) // 3, (rr + gr + br) // 3) AS INTEGER) AS max_lum
        |FROM n ORDER BY media_id""".stripMargin) { (s, d) =>
      resizeStats(genMedia(s, d, Multimodal.syntheticSplitPngRecord))
    },

    // ---- frame sampling (video-modality shape): payload as 256-byte
    //      pseudo-frames, every 3rd kept, max 5. Frame PAYLOADS are
    //      spec-checked (MultimodalSpec); the per-media sample METADATA is
    //      pure arithmetic over n_bytes, which the oracle replays. ----
    Q("q94_multimodal_frames",
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |c AS (SELECT media_id, (n_bytes + 255) // 256 AS n_chunks FROM m
        |      WHERE n_bytes > 0)
        |SELECT media_id,
        |  CAST(least(5, (n_chunks + 2) // 3) AS BIGINT) AS n_frames,
        |  CAST((least(5, (n_chunks + 2) // 3) - 1) * 3 AS BIGINT) AS last_frame_idx
        |FROM c ORDER BY media_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val media = Multimodal
        .withPayload(Tables.t(s, d, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRecord]
      Multimodal.sampleFrames(media, 256, 3, 5).toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"), max("frame_idx").as("last_frame_idx"))
        .orderBy("media_id")
    },

    // ---- IMAGE near-dup dedup (REAL decode → aHash → banded hamming):
    //      the multimodal modality gets the near-dup operator every
    //      other modality already has (text MinHash q74, SimHash q84,
    //      vectors q267, binary words q294). Structured gradient PNGs
    //      decode through the ACTUAL ImageIO stack into 8×8 block-mean
    //      aHashes (the classic perceptual hash, exact integer at a
    //      lossless 16×16 source); ids 2i/2i+1 are planted near-dup
    //      twins. Candidates come from a 4×16-bit-word band equi-join
    //      (hamming ≤ 3 ⇒ some word equal — FULL recall at the report
    //      cut by pigeonhole; 16-bit buckets keep occupancy ~n/65536,
    //      where 8-bit bands measured quadratic at 10×), so the
    //      pipeline never compares images pairwise. The oracle
    //      can't decode PNGs — it replays the generator's pixel
    //      arithmetic through block means, threshold, packing, banding
    //      and hamming, so ANY decoder deviation (channel order, dims,
    //      gamma, resample) breaks the hash. ----
    Q("q307_image_ahash_neardup",
      """WITH px AS (
        |  SELECT doc_id, tx.x AS x, ty.y AS y,
        |    ((doc_id // 2) * 31 + tx.x * (3 + (doc_id // 2) % 97)
        |      + ty.y * (5 + (doc_id // 2) % 101)
        |      + (tx.x * ty.y * (1 + (doc_id // 2) % 103)) % 97
        |      + CASE WHEN doc_id % 2 = 1 AND tx.x < 2 AND ty.y < 2
        |             THEN 17 ELSE 0 END) % 256 AS lum
        |  FROM documents, range(0,16) tx(x), range(0,16) ty(y)),
        |bm AS (SELECT doc_id, (y // 2) * 8 + (x // 2) AS blk,
        |    CAST(sum(lum) // 4 AS BIGINT) AS bmean
        |  FROM px GROUP BY doc_id, blk),
        |bg AS (SELECT doc_id, CAST(sum(bmean) // 64 AS BIGINT) AS gmean
        |  FROM bm GROUP BY doc_id),
        |wv AS (SELECT bm.doc_id, blk // 16 AS b,
        |    CAST(sum(CASE WHEN bmean >= gmean
        |      THEN CAST(1 AS BIGINT) << CAST(blk % 16 AS INTEGER)
        |      ELSE 0 END) AS BIGINT) AS v
        |  FROM bm JOIN bg ON bg.doc_id = bm.doc_id
        |  GROUP BY bm.doc_id, blk // 16),
        |wl AS (SELECT doc_id, list(v ORDER BY b) AS wds FROM wv GROUP BY doc_id),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM wv a JOIN wv b
        |  ON a.b = b.b AND a.v = b.v AND a.doc_id < b.doc_id),
        |hm AS (SELECT id_a, id_b,
        |    CAST(list_sum(list_transform(range(0,4), i ->
        |      bit_count(xor(wa.wds[CAST(i AS INTEGER)+1],
        |                    wb.wds[CAST(i AS INTEGER)+1])))) AS BIGINT) AS hamming
        |  FROM cand JOIN wl wa ON wa.doc_id = cand.id_a
        |  JOIN wl wb ON wb.doc_id = cand.id_b)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM hm WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin) {
      (s, d) =>
        imageNearDup(s, genMedia(s, d, Multimodal.syntheticGradientRecord))
    }
  )

  /** aHash words → banded candidates → hamming ≤ 3 report — the q84
    * SimHash shape over REAL-decoded image hashes. */
  private def imageNearDup(s: SparkSession,
      media: Dataset[Multimodal.MediaRecord]): DataFrame = {
    val wd = Multimodal.imageAHashWords(s, media)
    val bd = wd.select(col("media_id"),
      posexplode(col("wds")).as(Seq("b", "v")))
    val cand = bd.as("a").join(bd.as("b"),
        col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    val wa = wd.select(col("media_id").as("id_a"), col("wds").as("wa"))
    val wb = wd.select(col("media_id").as("id_b"), col("wds").as("wb"))
    cand.join(wa, "id_a").join(wb, "id_b")
      .withColumn("hamming", expr(
        "aggregate(zip_with(wa, wb, (x, y) -> bit_count(x ^ y)), " +
          "0, (acc, h) -> acc + h)"))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  private def audioStats8(media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id") +: featureCols(
        Seq("sample_rate" -> "int", "channels" -> "int", "bits" -> "int",
          "frames" -> "int", "min_s" -> "int", "max_s" -> "int",
          "sum_s" -> "bigint", "first_s" -> "int")): _*)
      .orderBy("media_id")

  private def audioStats10(media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id") +: featureCols(
        Seq("sample_rate" -> "int", "channels" -> "int", "bits" -> "int",
          "frames" -> "int", "min_s" -> "int", "max_s" -> "int",
          "sum_s" -> "bigint", "first_s" -> "int",
          "sum_ch0" -> "bigint", "sum_ch1" -> "bigint")): _*)
      .orderBy("media_id")

  private def jpegDims(media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id") +: featureCols(
        Seq("width" -> "int", "height" -> "int", "n_bands" -> "int")): _*)
      .orderBy("media_id")

  private def videoFrames(media: Dataset[Multimodal.MediaRecord]): DataFrame =
    Multimodal.frameInfo(Multimodal.sampleFrames(media, 256, 1, 10)).toDF()
      .orderBy("media_id", "frame_idx")

  private def resizeStats(media: Dataset[Multimodal.MediaRecord]): DataFrame =
    rasterStats(Multimodal.resizedImages(media, 10, 6))
}
