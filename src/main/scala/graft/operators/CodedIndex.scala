package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The serving lifecycle every persisted vector index shares — build once,
  * then derive NEW handles by `append` / `delete`, `save` as an on-disk
  * artifact, and `release` the storage. Each derived handle owns
  * independent storage, so a superseded handle may be released as soon as
  * its successor exists. Each handle is bound to the corpus it serves
  * (an append binds corpus ∪ delta, a delete anti-joins the ids out).
  * Implemented by [[IvfAdcIndex]], [[CodedIndex]] and the NSW graph
  * ([[NswGraph]]); [[AnnMaintenance]]'s canary loop runs over any of
  * them. */
trait VectorIndex[I <: VectorIndex[I]] {
  def append(delta: DataFrame): I
  def delete(ids: DataFrame, idsCol: String): I
  def save(path: String): Unit
  def release(): Unit
}

/** A coded vector index: a corpus-sized table (nid + a per-vector code)
  * plus a [[VectorCodec]] that says what the code is. One class serves
  * the three coded families — SQ8 ([[Sq8Index]]), matryoshka prefix
  * serving ([[MatryoshkaIndex]]) and binary sign-bit words
  * ([[BinaryIndex]]) — so the lifecycle exists once:
  *
  *   - the stored table is storage owned by this handle alone (a build's
  *     [[Graph.persistOwned]] rows, an append's or delete's
  *     [[Graph.snapshot]]): two builds of the same corpus never share a
  *     CacheManager entry, so releasing one handle never uncaches
  *     another;
  *   - `corpus` is the exact-rerank binding, joined BY id for candidates
  *     only (the index stores codes, not vectors — FAISS's
  *     external-storage split, as [[IvfAdcIndex]]);
  *   - `queryFiltered` semi-joins the allow-list (first column = id) into
  *     the stored table BEFORE the candidate cut, so the whole candidate
  *     budget is spent on admissible vectors — a post-filter over k
  *     results would starve under selective predicates;
  *   - `append` encodes the delta with the SAME codec (no retraining),
  *     `delete` anti-joins the ids out of the table and the binding;
  *     deleted vectors never resurface, since candidates come from the
  *     filtered table and the rerank joins the filtered corpus by id;
  *   - `save` writes the table, the codec's trained state, and the params
  *     table LAST with the table's count as written (a footer read, never
  *     an encode re-run) — a crash mid-save leaves old params beside a
  *     partial parquet, which [[CodedFamily.load]]'s torn check refuses.
  *
  * Serving is `codec.serve` — the same stage the inline routes
  * ([[Similarity.sq8Knn]], [[Similarity.matryoshkaKnn]],
  * [[Similarity.binaryHammingKnn]]) run over an unpersisted encode, so
  * handle ≡ inline holds by construction. */
final class CodedIndex private[operators] (
    val stored: DataFrame,
    releaseStorage: () => Unit,
    val codec: VectorCodec,
    corpus: DataFrame, idCol: String, vecCol: String)
    extends VectorIndex[CodedIndex] {

  /** Top-k for a bounded query frame: (qid, nid, d2, rank). */
  def query(queries: DataFrame, k: Int, candidates: Int): DataFrame =
    serve(queries, stored, k, candidates)

  /** Top-k among the ids in `allowed` (its FIRST column is the id). */
  def queryFiltered(queries: DataFrame, allowed: DataFrame, k: Int,
      candidates: Int): DataFrame =
    serve(queries, stored.join(allowed.select(col(allowed.columns.head)
      .as("nid")), Seq("nid"), "left_semi"), k, candidates)

  private def serve(queries: DataFrame, admissible: DataFrame, k: Int,
      candidates: Int): DataFrame =
    codec.serve(queries, admissible,
      Similarity.prepared(corpus, idCol, vecCol), idCol, vecCol, k,
      candidates)

  def append(delta: DataFrame): CodedIndex = {
    val enc = codec.encode(Similarity.prepared(delta, idCol, vecCol), idCol)
    val union = corpus.select(col(idCol), col(vecCol))
      .union(delta.select(col(idCol), col(vecCol)))
    CodedIndex.owned(Graph.snapshot(stored.union(enc)), codec, union,
      idCol, vecCol)
  }

  def delete(ids: DataFrame, idsCol: String): CodedIndex = {
    val rest = corpus.join(ids.select(col(idsCol).as(idCol)),
      Seq(idCol), "left_anti")
    CodedIndex.owned(Graph.snapshot(
      stored.join(ids.select(col(idsCol).as("nid")), Seq("nid"), "left_anti")),
      codec, rest, idCol, vecCol)
  }

  def release(): Unit = releaseStorage()

  def save(path: String): Unit = {
    import org.apache.spark.sql.types._
    val spark = stored.sparkSession
    val f = codec.family
    stored.write.mode("overwrite").parquet(s"$path/${f.table}")
    codec.saveState(spark, path)
    val n = spark.read.parquet(s"$path/${f.table}").count()
    val schema = StructType(
      Seq(StructField("version", IntegerType, nullable = false),
        StructField("id_col", StringType), StructField("vec_col", StringType)) ++
        f.paramCols.map(StructField(_, IntegerType, nullable = false)) :+
        StructField(f.countCol, LongType, nullable = false))
    val row = Row.fromSeq(Seq(f.FormatVersion, idCol, vecCol) ++
      codec.params :+ n)
    spark.createDataFrame(java.util.List.of(row), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }
}

private[operators] object CodedIndex {
  /** A handle over `storage` — a flat frame and the RDD that backs it,
    * owned by this handle alone ([[Graph.persistOwned]] for a build,
    * [[Graph.snapshot]] for append / delete) — materialized, so no query
    * pays encode work and the caller may release the source handle
    * right away. */
  def owned(storage: (DataFrame, org.apache.spark.rdd.RDD[_]),
      codec: VectorCodec, corpus: DataFrame, idCol: String,
      vecCol: String): CodedIndex = {
    val (flat, rdd) = storage
    flat.count()
    new CodedIndex(flat, () => Graph.release(rdd), codec, corpus, idCol,
      vecCol)
  }
}

/** What differs between the coded families — and nothing else:
  *
  *   - the trained state, if any: SQ8's per-dimension [min, max] bounds
  *     (O(dim), collected once, saved as a dim-row `bounds` table).
  *     Matryoshka slicing and binary sign-bit packing are
  *     data-independent, so their appended index serves EXACTLY what a
  *     full rebuild serves;
  *   - the extra params columns (`params`, in [[CodedFamily.paramCols]]
  *     order);
  *   - `encode`: the stored columns from a prepared (id, q, nsq) frame —
  *     one narrow map, zero shuffle at any corpus size;
  *   - `serve`: the query-side encode and the candidate stage over an
  *     admissible stored table, then the exact rerank on the original
  *     quantized dims against `corpusPrepared`.
  *
  * Output of `serve`: (qid, nid, d2, rank); the query's own id is never
  * a candidate. All integer, so the DuckDB oracles replay every stage. */
private[operators] sealed abstract class VectorCodec {
  def family: CodedFamily
  def params: Seq[Int]
  def encode(prepared: DataFrame, idCol: String): DataFrame
  def serve(queries: DataFrame, stored: DataFrame, corpusPrepared: DataFrame,
      idCol: String, vecCol: String, k: Int, candidates: Int): DataFrame
  def saveState(spark: SparkSession, path: String): Unit = ()

  /** The inline route: the same stage over an unpersisted encode of the
    * prepared corpus `p`. */
  def knn(queries: DataFrame, p: DataFrame, idCol: String, vecCol: String,
      k: Int, candidates: Int): DataFrame =
    serve(queries, encode(p, idCol), p, idCol, vecCol, k, candidates)
}

private[operators] object VectorCodec {
  /** Candidate stage for integer-vector codes (SQ8, matryoshka): integer
    * L2 on the codes ranks stage-1 candidates — the query side encoded by
    * `qEncode` over its prepared `q` and broadcast, so the corpus never
    * builds a hash table — via d²(a,b) = |a|² + |b|² − 2⟨a,b⟩, then the
    * exact rerank of the ≤ candidates survivors ([[Similarity.pqRerank]]). */
  def codeL2Serve(queries: DataFrame, stored: DataFrame,
      corpusPrepared: DataFrame, idCol: String, vecCol: String, k: Int,
      candidates: Int, codeCol: String, normCol: String,
      qEncode: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    val qcodes = Similarity.prepared(queries, idCol, vecCol)
      .select(col(idCol).as("qid"), col("q").as("qq"),
        col("nsq").as("qnsq"), qEncode.as("qcode"))
      .withColumn("qcnsq", normSq(col("qcode")))
    val wA = Window.partitionBy("qid").orderBy(col("adist"), col("nid"))
    val cand = stored.join(broadcast(qcodes), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("qq"), col("qnsq"),
        (col("qcnsq") + col(normCol)
          - lit(2L) * dot(col("qcode"), col(codeCol))).cast("long").as("adist"))
      .withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= candidates)
      .select("qid", "nid", "qq", "qnsq")
    Similarity.pqRerank(cand, corpusPrepared, idCol, k)
  }
}

/** SQ8: dim uint8 codes (`code`, `cnsq`) under trained bounds — 8× less
  * resident than the quantized floats. Bounds drift (an appended vector
  * outside the trained [min, max]) clamps to 0/255: visible as
  * code-distance recall loss, never wrong results — the exact rerank is
  * bounds-independent. Bounds describe a distribution, not a membership
  * set, so they stay exactly as valid after a delete. */
private[operators] final case class Sq8Codec(mns: IndexedSeq[Long],
    mxs: IndexedSeq[Long]) extends VectorCodec {
  def family: CodedFamily = Sq8Index
  def params: Seq[Int] = Seq(mns.length)

  /** The literal-bound div/clamp encode lane over the prepared `q`. */
  def codeCol: Column = array(mns.indices.map { i =>
    val span = mxs(i) - mns(i)
    if (span > 0L)
      least(greatest(
        expr(s"((q[$i] - ${mns(i)}L) * 255L) div ${span}L"), lit(0L)),
        lit(255L))
    else lit(0L)
  }: _*)

  def encode(prepared: DataFrame, idCol: String): DataFrame =
    prepared.select(col(idCol).as("nid"), codeCol.as("code"))
      .withColumn("cnsq", normSq(col("code")))

  def serve(queries: DataFrame, stored: DataFrame, corpusPrepared: DataFrame,
      idCol: String, vecCol: String, k: Int, candidates: Int): DataFrame =
    VectorCodec.codeL2Serve(queries, stored, corpusPrepared, idCol, vecCol,
      k, candidates, "code", "cnsq", codeCol)

  override def saveState(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    mns.indices.map(i => (i, mns(i), mxs(i))).toDF("i", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bounds")
  }
}

private[operators] object Sq8Codec {
  /** Train per-dimension bounds: ONE O(dim) agg row, collected. */
  def train(p: DataFrame, dim: Int): Sq8Codec = {
    val boundAggs = (0 until dim).flatMap(i => Seq(
      min(col("q").getItem(i)).as(s"mn$i"),
      max(col("q").getItem(i)).as(s"mx$i")))
    val row = p.agg(boundAggs.head, boundAggs.tail: _*).head()
    Sq8Codec((0 until dim).map(i => row.getLong(2 * i)),
      (0 until dim).map(i => row.getLong(2 * i + 1)))
  }
}

/** Matryoshka: the first `prefixDim` components (`pq`, `pnsq`) —
  * prefixDim/dim of the bytes resident; candidates rank by prefix L2. */
private[operators] final case class MatryoshkaCodec(prefixDim: Int)
    extends VectorCodec {
  def family: CodedFamily = MatryoshkaIndex
  def params: Seq[Int] = Seq(prefixDim)
  private def prefix: Column = slice(col("q"), 1, prefixDim)

  def encode(prepared: DataFrame, idCol: String): DataFrame =
    prepared.select(col(idCol).as("nid"), prefix.as("pq"))
      .withColumn("pnsq", normSq(col("pq")))

  def serve(queries: DataFrame, stored: DataFrame, corpusPrepared: DataFrame,
      idCol: String, vecCol: String, k: Int, candidates: Int): DataFrame =
    VectorCodec.codeL2Serve(queries, stored, corpusPrepared, idCol, vecCol,
      k, candidates, "pq", "pnsq", prefix)
}

/** Binary: `nBands` sign-bit words of `bandBits` bits (`wds`); candidates
  * come from the multi-probed band equi-join ([[Similarity.binaryServe]]). */
private[operators] final case class BinaryCodec(nBands: Int, bandBits: Int)
    extends VectorCodec {
  def family: CodedFamily = BinaryIndex
  def params: Seq[Int] = Seq(nBands, bandBits)

  def encode(prepared: DataFrame, idCol: String): DataFrame =
    prepared.select(col(idCol).as("nid"),
      Similarity.binaryWordsCol(nBands, bandBits).as("wds"))

  def serve(queries: DataFrame, stored: DataFrame, corpusPrepared: DataFrame,
      idCol: String, vecCol: String, k: Int, candidates: Int): DataFrame =
    Similarity.binaryServe(queries, stored, corpusPrepared, idCol, vecCol,
      k, candidates, nBands, bandBits)
}

/** One coded family's artifact layout (`table`/ + params columns
  * version, id_col, vec_col, `paramCols`, `countCol`), its build and load,
  * and its [[HandleCache]] (bound 8, keys prefixed by `tag`). */
sealed abstract class CodedFamily(kind: String,
    private[operators] val table: String,
    private[operators] val paramCols: Seq[String],
    private[operators] val countCol: String, countLabel: String,
    tag: String) {
  val FormatVersion = 1

  private val handles = new HandleCache[CodedIndex](8, _.release())

  /** Encode + materialize the stored table under `codec`. */
  protected def buildWith(corpus: DataFrame, idCol: String, vecCol: String,
      codec: VectorCodec): CodedIndex =
    CodedIndex.owned(Graph.persistOwned(codec.encode(
      Similarity.prepared(corpus, idCol, vecCol), idCol)), codec, corpus,
      idCol, vecCol)

  /** `build` memoized per (cacheKey, corpus plan, parameters, session).
    * Callers must NOT release a cached handle — the cache owns it. */
  protected def cached(corpus: DataFrame, cacheKey: String, idCol: String,
      vecCol: String, params: Int*)(build: => CodedIndex): CodedIndex =
    handles.get(HandleCache.key(corpus, cacheKey,
      (Seq(tag, idCol, vecCol) ++ params).mkString("|")))(build)

  /** The codec a saved artifact was written with (params validated). */
  protected def codecFrom(spark: SparkSession, path: String,
      p: ArtifactParams.Handle): VectorCodec

  /** Rebuild a serving handle from a saved artifact: one bounded params
    * read (shape, version and torn-write checks via [[ArtifactParams]])
    * plus the persisted stored table — zero training or encode jobs.
    * `corpus` must be the frame the saved index encoded (the
    * [[IvfAdcIndex.load]] contract). */
  def load(spark: SparkSession, path: String, corpus: DataFrame): CodedIndex = {
    val p = ArtifactParams.read(spark, path, kind,
      Seq("version", "id_col", "vec_col") ++ paramCols :+ countCol)
    p.requireVersion(FormatVersion.toLong)
    val codec = codecFrom(spark, path, p)
    val stored = spark.read.parquet(s"$path/$table").persist()
    val got = stored.count() // one pass: materialize + torn check
    p.verifyCounts { stored.unpersist() }(
      ArtifactParams.Count(countLabel, Some(p.long(countCol)), got))
    new CodedIndex(stored, () => { stored.unpersist(); () }, codec, corpus,
      p.string("id_col"), p.string("vec_col"))
  }
}

object Sq8Index extends CodedFamily("SQ8 index", "codes", Seq("dim"),
    "n_codes", "codes", "sq8") {
  /** Train bounds and encode — every parameter as in [[Similarity.sq8Knn]]. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int): CodedIndex =
    buildWith(corpus, idCol, vecCol,
      Sq8Codec.train(Similarity.prepared(corpus, idCol, vecCol), dim))

  def buildCached(corpus: DataFrame, cacheKey: String, idCol: String,
      vecCol: String, dim: Int): CodedIndex =
    cached(corpus, cacheKey, idCol, vecCol, dim)(
      build(corpus, idCol, vecCol, dim))

  protected def codecFrom(spark: SparkSession, path: String,
      p: ArtifactParams.Handle): VectorCodec = {
    val dim = p.int("dim")
    val bRows = spark.read.parquet(s"$path/bounds").collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Long]("mn"), r.getAs[Long]("mx")))
      .sortBy(_._1)
    require(bRows.length == dim,
      s"torn SQ8 index artifact at $path: bounds table has " +
        s"${bRows.length} rows, params records dim=$dim")
    Sq8Codec(bRows.map(_._2).toIndexedSeq, bRows.map(_._3).toIndexedSeq)
  }
}

object MatryoshkaIndex extends CodedFamily("matryoshka index", "prefix",
    Seq("prefix_dim"), "n_rows", "prefix rows", "mry") {
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      prefixDim: Int): CodedIndex =
    buildWith(corpus, idCol, vecCol, MatryoshkaCodec(prefixDim))

  def buildCached(corpus: DataFrame, cacheKey: String, idCol: String,
      vecCol: String, prefixDim: Int): CodedIndex =
    cached(corpus, cacheKey, idCol, vecCol, prefixDim)(
      build(corpus, idCol, vecCol, prefixDim))

  protected def codecFrom(spark: SparkSession, path: String,
      p: ArtifactParams.Handle): VectorCodec =
    MatryoshkaCodec(p.int("prefix_dim"))
}

object BinaryIndex extends CodedFamily("binary index", "words",
    Seq("n_bands", "band_bits"), "n_words", "words", "bin") {
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      nBands: Int = 8, bandBits: Int = 8): CodedIndex =
    buildWith(corpus, idCol, vecCol, BinaryCodec(nBands, bandBits))

  def buildCached(corpus: DataFrame, cacheKey: String, idCol: String,
      vecCol: String, nBands: Int = 8, bandBits: Int = 8): CodedIndex =
    cached(corpus, cacheKey, idCol, vecCol, nBands, bandBits)(
      build(corpus, idCol, vecCol, nBands, bandBits))

  protected def codecFrom(spark: SparkSession, path: String,
      p: ArtifactParams.Handle): VectorCodec =
    BinaryCodec(p.int("n_bands"), p.int("band_bits"))

  /** Band-bucket occupancy of a binary handle: per band index, the
    * distinct bucket count, the largest bucket and Σ bucket² — the last
    * is EXACTLY the candidate volume the band equi-join pays per probe
    * hitting that band, so it is the number a serving owner watches to
    * see whether corpus drift is making buckets hot (sign-bit buckets
    * have no retrain story — the mitigation is wider bands, which the
    * report sizes). One groupBy over the exploded words, then a
    * ≤ nBands-row agg. */
  def stats(idx: CodedIndex): DataFrame = {
    require(idx.codec.family eq this, "band stats need a binary index")
    val g = idx.stored.select(posexplode(col("wds")).as(Seq("b", "v")))
      .groupBy("b", "v").agg(count(lit(1)).as("n"))
    g.groupBy(col("b").as("band_idx"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("n")).cast("long").as("max_bucket"),
        sum(col("n") * col("n")).cast("long").as("sum_sq"))
      .orderBy("band_idx")
  }
}
