package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full corpus-release composition (round-9 advice item 2): every
  * stage a production pretraining release actually runs, chained in one
  * operator so the COMPOSITION is gated, not just the stages:
  *
  *   quality funnel (q124/q140 rules) → exact dedup (min-id keeper per
  *   normalized fingerprint, q38/q140) → near-dup keep-list (q74's
  *   LSH + Jaccard-verify + connected components) → decontamination
  *   (drop train docs sharing a df-capped 5-gram with the held-out eval
  *   split, q105's machinery pointed the production direction) → domain
  *   cap (q208's occupancy-scaled per-source winnow) → token-budget
  *   water-fill (q196's closed-form water line, applied doc-level by
  *   md5-order prefix sums) → source-weighted epoch mixing (q137) →
  *   shard count (q147's md5 sharding) — reported release-card style
  *   (q209): one row per INPUT source with every stage's survivor
  *   count, so a drift in any stage, or in how two stages hand off,
  *   breaks the q215 hash.
  *
  * Scale shape: each stage is its gated original's plan — two corpus
  * scans for quality+fingerprint stats, shingle-keyed shuffles with df
  * caps for near-dup and decontamination (never an uncapped self-join),
  * one per-source window each for domain cap and the water-fill prefix
  * sums (skewed sources salt like q177), and |sources|-row windows for
  * the water line itself. The df cap (max(4, n/300) — q97's
  * corpus-relative rule) is a 1-row broadcast aggregate riding the
  * plan, not a driver count. Nothing corpus-sized is collected or
  * broadcast; no driver-side value exists at all.
  */
/** A LOADED corpus release — the two frames a persisted release serves
  * ([[ReleaseOps.saveRelease]]/[[ReleaseOps.loadRelease]]): the kept
  * corpus (`docs`: doc_id, source, text, ntok, the q137 mixing columns
  * w_mil/u/reps, and the q147 md5 `shard` it is partitioned by) and the
  * release `card` (the q215 per-source stage report). Both are persisted
  * reads of the artifact — consuming them runs ZERO pipeline stages.
  * Neither frame may be consumed after [[release]]. */
final class ReleaseArtifact private[operators] (
    val docs: DataFrame,
    val card: DataFrame,
    releaseStorage: () => Unit) {
  def release(): Unit = releaseStorage()
}

object ReleaseArtifact {
  private[operators] val FormatVersion = 1
}

object ReleaseOps {

  /** Per-source release report over the full prep chain; see the object
    * scaladoc for the stage list. Input must carry (idCol=doc_id,
    * source, n_chars, text) — the documents schema.
    *
    * `robust = true` (round-10 advice item 1) canonicalizes text BEFORE
    * stage 1 — NFC-normalize ([[graft.plans.GraftFunctions.nfc]], the
    * q221 Expression) then re-tokenize on the separator-robust
    * [[TextFunctions.tokensRe]] word-char runs (the q218 rule), re-joined
    * on single spaces — so the fingerprints, token counts, near-dup
    * shingles and decontamination shingles that drive EVERY downstream
    * stage see one canonical token stream. A multilingual corpus where
    * near-dups differ only by separators (NBSP, U+3000, CJK punctuation)
    * or by composed-vs-decomposed accents dedups correctly; the raw
    * variant keeps those dups (q225's planted fixture demonstrates the
    * gap). Default stays raw: the single-space fixture corpus and the
    * q215 gate are byte-identical under it. */
  /** The ONE robust-mode canonicalization (q225/q235): NFC-normalize (the
    * q221 Expression) then re-tokenize on separator-robust word-char runs
    * (the q218 rule), re-joined on single spaces — snapshotted ONCE: the
    * NFC + regex re-tokenization is the pipeline's most expensive scalar
    * work, and without a materialization barrier CollapseProject folds it
    * into EVERY consuming stage's projection — measured ~2.5× the whole
    * release pipeline's wall. Lineage-truncated and Spark-managed
    * (ContextCleaner reclaims the blocks on GC — the nearDupClusters
    * convenience-form storage contract); a production release
    * materializes its canonical corpus exactly once too. */
  /** q275's semantic-stage cosine threshold, ONE owner for the Spark
    * stage (`.toDouble`) and the oracle text. The family's serving
    * default (0.45) verifies zero pairs among this fixture's RELEASE
    * SURVIVORS — the quality/dedup stages have already removed the
    * tightest twins — so the release stage uses the measured knee where
    * the stage both drops (13 docs at sf0.01) and visibly moves
    * n_final: a gate over a provably-no-op stage pins nothing. */
  private val SemanticStageThr = "0.32"

  /** Mutable list of snapshot handles a pipeline invocation owns; its
    * release thunk unpersists them once every consumer materialized. */
  private type Handles =
    scala.collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]

  private def canonicalText(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat_ws(" ",
      TextFunctions.tokensRe(graft.plans.GraftFunctions.nfc(col("text")))))

  private def canonicalized(docs: DataFrame,
      handles: Handles): DataFrame = {
    val (out, h) = Graph.snapshot(canonicalText(docs))
    if (handles != null) handles += h
    out
  }

  def prepareCorpus(docs: DataFrame, robust: Boolean = false): DataFrame = {
    val (_, card, release) = corpusPipeline(docs, robust)
    materializedCard(card, release)
  }

  /** Test-only composition probe: the release CARD frame built by the
    * exact [[corpusPipeline]] stage composition but with snapshotting
    * disabled, so the full composed plan is inspectable. The runtime
    * path truncates lineage at every shared stage (Graph.snapshot), so
    * the executed q215/q225 frames are LocalRelations of the collected
    * card — the structural guarantees (no cartesian, fp-keyed exact
    * dedup, capped decontamination shuffle) live in the stage
    * composition and are pinned HERE by PlanSpec. Never call count/
    * collect on the result: without snapshots the shared stages would
    * re-execute per branch. */
  private[graft] def cardPlanProbe(docs: DataFrame,
      robust: Boolean = false,
      semanticEmb: Option[DataFrame] = None): DataFrame =
    corpusPipeline(docs, robust, semanticEmb, planOnly = true)._2

  /** Materialize a release card (bounded: one row per source) before
    * releasing the pipeline's stage snapshots, and hand back a
    * local-relation frame — the servedCardFromArtifact stance applied
    * to the card-only pipeline consumers. */
  private def materializedCard(card: DataFrame,
      release: () => Unit): DataFrame = {
    val rows = card.collect()
    release()
    card.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), card.schema)
  }

  /** [[prepareCorpus]] with the SEMANTIC dedup stage spliced between
    * near-dup and decontamination (q275): the SemDeDup rule-(b) losers
    * over the stage-3 survivors' embeddings
    * ([[Similarity.semanticDropList]] — the q267 owners, router trained
    * on the survivors so the stage is a pure function of the release
    * input), anti-joined so docs WITHOUT an embedding survive. The card
    * gains the n_semantic stage column. The production shape: n-gram
    * near-dup can't see same-content-different-tokens redundancy, so a
    * release running both is the FineWeb/SemDeDup-era pipeline. */
  def prepareCorpusSemantic(docs: DataFrame, emb: DataFrame): DataFrame = {
    val (_, card, release) =
      corpusPipeline(docs, robust = false, semanticEmb = Some(emb))
    materializedCard(card, release)
  }

  /** The full pipeline, exposing BOTH outputs a release produces: the
    * KEPT corpus (one row per final doc: doc_id, source, text, ntok,
    * and the q137 mixing columns w_mil/u/reps plus the q147 md5 shard)
    * and the release CARD (the q215 per-source report). [[prepareCorpus]]
    * consumes only the card, so the kept frame's extra lineage (the
    * text join, the shard column) costs q215 nothing — it is never
    * executed there. [[saveRelease]] consumes both.
    *
    * Each stage output consumed by 2+ downstream branches is SNAPSHOT
    * (Graph.snapshot — lineage-truncated, storage-managed): without the
    * snapshots every per-stage card aggregate (a1..a7) and the kept
    * frame re-derives its FULL stage lineage from the raw scan, so the
    * expensive stages (near-dup keep-list, shingle df-cap) run up to
    * 8×. With them the pipeline is one linear pass plus bounded
    * aggregates over persisted blocks. The third element RELEASES all
    * stage snapshots — callers must invoke it only after every consumer
    * of `kept`/`card` has materialized (the frames reference the
    * snapshot blocks and cannot be recomputed past release). */
  private def corpusPipeline(docs: DataFrame,
      robust: Boolean,
      semanticEmb: Option[DataFrame] = None,
      planOnly: Boolean = false)
      : (DataFrame, DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    val handles =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    // planOnly: build the SAME stage composition with snapshotting
    // disabled, so the full composed plan (which the runtime snapshots
    // deliberately truncate) stays inspectable — PlanSpec pins the
    // cartesian-free / fp-keyed / capped-decontamination guarantees on
    // it. Never executed: plan inspection only.
    def snap(df: DataFrame): DataFrame =
      if (planOnly) df
      else { val (out, h) = Graph.snapshot(df); handles += h; out }
    val pre =
      if (!robust) docs
      else if (planOnly) canonicalText(docs)
      else canonicalized(docs, handles)
    // the q97 corpus-relative df cap as a PLAN-SIDE 1-row broadcast frame
    // (round-10 verdict note): no driver count(), no extra corpus action
    val capF = docs.agg(
      greatest(lit(4L), expr("count(1) div 300")).as("capdf"))

    // stage 1: quality funnel (the q140 four integer rules)
    val toks = TextFunctions.tokens(col("text"))
    val base = pre.select(col("doc_id"), col("source"), col("n_chars"),
      col("text"),
      TextFunctions.fingerprint(TextFunctions.normalized(col("text")))
        .as("fp"),
      size(toks).cast("long").as("ntok"),
      size(filter(toks, w => w === "the" || w === "a")).cast("long")
        .as("nstop"),
      size(array_distinct(toks)).cast("long").as("ndist"),
      aggregate(transform(toks, w => length(w).cast("long")),
        lit(0L), (acc, x) => acc + x).as("lensum"))
    val s1 = snap(base.filter(col("ntok") >= 20 && col("nstop") >= 2 &&
        col("ndist") * 2 >= col("ntok") &&
        col("lensum") >= col("ntok") * 3 && col("lensum") <= col("ntok") * 10)
      .select("doc_id", "source", "n_chars", "text", "fp", "ntok"))

    // stage 2: exact dedup — keeper = min doc_id per normalized fingerprint
    val k2 = s1.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val s2 = snap(s1.join(k2, Seq("fp", "doc_id")))

    // stage 3: near-dup keep-list (q74's exact pipeline over the survivors)
    val s3 = snap(s2.join(
      Dedup.nearDupKeepList(s2, "doc_id", "text", 3, 0.8), "doc_id"))

    // stage 3s (q275 only): SemDeDup rule-(b) losers over the
    // SURVIVORS' embeddings, anti-joined — docs without an embedding
    // survive, and with None the frame is the stage-3 output untouched
    val s3x = semanticEmb.fold(s3) { emb0 =>
      val se = emb0.select(col("vec_id"), col("embedding"))
        .join(s3.select(col("doc_id").as("vec_id")), "vec_id")
      snap(s3.join(
        Similarity.semanticDropList(se, "vec_id", "embedding",
            minCosine = SemanticStageThr.toDouble, k = 8)
          .withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"), "left_anti"))
    }

    // stage 4: decontamination — release = the train split, minus train
    // docs sharing any df-capped 5-gram shingle with the held-out eval
    // split (q105's machinery, pointed at the docs a release must DROP)
    val capped5 = Dedup.dfCapRowsDyn(
        Dedup.shingleRows(s3x, "doc_id", "text", 5), capF)
      .select("doc_id", "s")
    val spl = s3x.select(col("doc_id"),
      Sampling.splitLabel(col("doc_id"), 1).as("split"))
    val evs = capped5.join(spl, "doc_id")
      .filter(col("split") === "eval").select("s").distinct()
    val contam = capped5.join(spl, "doc_id")
      .filter(col("split") === "train")
      .join(evs, "s").select("doc_id").distinct()
    // narrow past stage 4: no downstream stage reads text/fp again
    // (kept re-joins text from `pre`), so the snapshot holds only the
    // integer columns the cap/water-fill stages need
    val s4 = snap(s3x.join(spl, "doc_id").filter(col("split") === "train")
      .join(contam, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "n_chars", "ntok"))

    // stage 5: domain cap (q208's occupancy-scaled per-source winnow)
    val wSrc = Window.partitionBy("source")
    val s5 = snap(s4
      .withColumn("rk", row_number().over(
        wSrc.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("nsrc", count(lit(1)).over(wSrc))
      .filter(col("rk") <= greatest(lit(8L), expr("nsrc div 4")))
      .select("doc_id", "source", "ntok"))

    // stage 6: token-budget water-fill (q196's closed form over the
    // |sources|-row aggregate), applied doc-level: within a source docs
    // are admitted in md5 order while the token prefix sum fits the
    // source's allocation
    val wOrd = Window.orderBy(col("t"), col("source"))
    val wAll = Window.partitionBy()
    val wf = snap(s5.groupBy("source").agg(sum("ntok").as("t"))
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("pk", sum("t").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum("t").over(wAll))
      .withColumn("b", expr("(total * 6) div 10"))
      .withColumn("feask",
        when(col("pk") - col("t") + (col("n") - col("k") + 1) * col("t")
          <= col("b"), col("k")).otherwise(lit(0L)))
      .withColumn("kk", max("feask").over(wAll))
      .withColumn("pkk",
        max(when(col("k") === col("kk"), col("pk"))).over(wAll))
      .withColumn("tmax", max("t").over(wAll))
      .withColumn("cap", when(col("kk") === col("n"), col("tmax"))
        .otherwise(expr("(b - coalesce(pkk, 0L)) div (n - kk)")))
      .select(col("source"), least(col("t"), col("cap")).as("allocated"),
        (col("t") > col("cap")).as("capped"), col("cap"), col("b")))
    val wCum = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s6 = snap(s5.select(col("doc_id"), col("source"), col("ntok"))
      .withColumn("cum", sum("ntok").over(wCum))
      .join(wf.select("source", "allocated"), "source")
      .filter(col("cum") <= col("allocated"))
      .select("doc_id", "source", "ntok"))

    // stage 7: source-weighted epoch mixing (q137) over the final docs
    val mx = s6
      .withColumn("w_mil", Sampling.mixWeightMil)
      .withColumn("u", Sampling.hashBucket(col("doc_id"), 1000))
      .withColumn("reps", Sampling.mixReps)

    // release report: one row per INPUT source, every stage audited
    val a0 = docs.groupBy("source").agg(count(lit(1)).as("n_input"))
    val a1 = s1.groupBy("source").agg(count(lit(1)).as("n_quality"))
    val a2 = s2.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val a3 = s3.groupBy("source").agg(count(lit(1)).as("n_neardup"))
    val a3s = semanticEmb.map(_ =>
      s3x.groupBy("source").agg(count(lit(1)).as("n_semantic")))
    val a4 = s4.groupBy("source").agg(count(lit(1)).as("n_decontam"))
    val a5 = s5.groupBy("source").agg(count(lit(1)).as("n_domcap"),
      sum("ntok").cast("long").as("tokens_domcap"))
    val a6 = s6.groupBy("source").agg(count(lit(1)).as("n_final"),
      sum("ntok").cast("long").as("tokens_final"))
    val a7 = mx.groupBy("source").agg(
        sum("reps").cast("long").as("epoch_docs"),
        sum(col("reps") * col("ntok")).cast("long").as("epoch_tokens"))
      .withColumn("n_packs", expr("(epoch_tokens + 2047) div 2048"))
    // globals: the water line + budget (identical on every wf row) and
    // the q147 shard count of the final corpus — all ≤ |sources|-sized
    val globals = wf.agg(max("cap").cast("long").as("water_cap"),
        max("b").cast("long").as("budget"))
      .crossJoin(s6.select(Sampling.hashBucket(col("doc_id"), 16)
        .as("shard")).distinct().agg(count(lit(1)).as("n_shards")))
    val preCard = a0.join(a1, Seq("source"), "left")
      .join(a2, Seq("source"), "left")
      .join(a3, Seq("source"), "left")
    val card = a3s.fold(preCard)(x => preCard.join(x, Seq("source"), "left"))
      .join(a4, Seq("source"), "left")
      .join(a5, Seq("source"), "left")
      .join(wf.select("source", "allocated", "capped"), Seq("source"), "left")
      .join(a6, Seq("source"), "left")
      .join(a7, Seq("source"), "left")
      .crossJoin(broadcast(globals))
      .select(Seq(col("source"),
        col("n_input"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup")) ++
        a3s.map(_ =>
          coalesce(col("n_semantic"), lit(0L)).as("n_semantic")).toSeq ++
        Seq(
        coalesce(col("n_decontam"), lit(0L)).as("n_decontam"),
        coalesce(col("n_domcap"), lit(0L)).as("n_domcap"),
        coalesce(col("tokens_domcap"), lit(0L)).as("tokens_domcap"),
        coalesce(col("allocated"), lit(0L)).as("allocated"),
        coalesce(col("capped"), lit(false)).as("capped"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tokens_final"), lit(0L)).as("tokens_final"),
        coalesce(col("epoch_docs"), lit(0L)).as("epoch_docs"),
        coalesce(col("epoch_tokens"), lit(0L)).as("epoch_tokens"),
        coalesce(col("n_packs"), lit(0L)).as("n_packs"),
        coalesce(col("budget"), lit(0L)).as("budget"),
        coalesce(col("water_cap"), lit(0L)).as("water_cap"),
        col("n_shards")): _*)
    // the kept corpus: the mixing frame plus the q147 md5 shard and the
    // doc text (joined back from the pipeline input — s6 is deliberately
    // narrow so the water-fill window never shuffles text bytes)
    val kept = mx
      .withColumn("shard",
        Sampling.hashBucket(col("doc_id"), 16).cast("int"))
      .join(pre.select(col("doc_id"), col("text")), "doc_id")
      .select("doc_id", "source", "text", "ntok", "w_mil", "u", "reps",
        "shard")
    (kept, card, () => handles.foreach(Graph.release))
  }

  /** PERSIST a full release as an on-disk artifact (round-12 verdict
    * item 1 — the single highest-leverage gap: the release pipeline is
    * the suite's most expensive family, and without persistence every
    * downstream consumer — q137/q222 mixing, q86 packing — re-runs all
    * eight stages). Layout:
    *
    *   `path/docs`   — the kept corpus, partitioned by the q147 md5
    *                   16-way `shard` manifest (repartitioned by shard
    *                   first, so each shard directory is ONE colocated
    *                   file set — the layout a 100 TB release ships);
    *   `path/card`   — the q215 per-source release card;
    *   `path/params` — written LAST (the NswGraph torn-artifact stance)
    *                   with the version and BOTH row counts AS WRITTEN
    *                   (counted from the parquet on disk, not the
    *                   pipeline): a crash mid-docs-write leaves the
    *                   prior params beside a partial parquet that reads
    *                   without error — [[loadRelease]] verifies both
    *                   counts and refuses a torn artifact loudly.
    *
    * Runs the pipeline ONCE (both outputs derive from one
    * [[corpusPipeline]] call); overwrites any prior save at `path`. No
    * query writes a release: this and [[saveDelta]] are the artifact
    * write API that the torn-write tests go through. */
  def saveRelease(docs0: DataFrame, path: String,
      robust: Boolean = false): Unit = {
    val (kept, card, release) = corpusPipeline(docs0, robust)
    writeArtifact(kept, card, path)
    release()
  }

  /** PERSIST an incremental (delta) release — the [[saveRelease]] twin
    * for [[prepareDelta]]'s outputs, in the SAME artifact format (docs
    * partitioned by the md5 shard manifest, card, params LAST), so
    * [[loadRelease]] loads either. The monthly-release shape ships the
    * delta corpus exactly like the full release ships the base. */
  def saveDelta(oldDocs0: DataFrame, newDocs0: DataFrame, path: String,
      robust: Boolean = false): Unit = {
    val (kept, card, release) = deltaPipeline(oldDocs0, newDocs0, robust)
    writeArtifact(kept, card, path)
    release()
  }

  private def writeArtifact(kept: DataFrame, card: DataFrame,
      path: String): Unit = {
    val spark = kept.sparkSession
    import spark.implicits._
    kept.repartition(col("shard")).write.mode("overwrite")
      .partitionBy("shard").parquet(s"$path/docs")
    // an EMPTY kept corpus is a legitimate release outcome (a delta
    // fully carried over by the shipped corpus — exactly q235's
    // fixture), but a dynamic-partition write of zero rows emits NO
    // schema-carrying files and the load would die on schema inference
    // instead of serving an empty corpus. Detected with one FREE
    // filesystem listing after the write (never an extra pipeline
    // action on the production path); the fallback appends one empty
    // schema-carrying file at the docs root.
    val docsPath = new org.apache.hadoop.fs.Path(s"$path/docs")
    val fs = docsPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val hasData = {
      val it = fs.listFiles(docsPath, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next().getPath.getName
        found = f.endsWith(".parquet") || f.startsWith("part-")
      }
      found
    }
    if (!hasData)
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], kept.schema)
        .coalesce(1).write.mode("append").parquet(s"$path/docs")
    card.coalesce(1).write.mode("overwrite").parquet(s"$path/card")
    val nDocs = spark.read.parquet(s"$path/docs").count()
    val nCard = spark.read.parquet(s"$path/card").count()
    Seq((ReleaseArtifact.FormatVersion, nDocs, nCard))
      .toDF("version", "n_docs", "n_card_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Rebuild a serving [[ReleaseArtifact]] from a [[saveRelease]] dir:
    * two parquet reads, persisted — zero pipeline stages. Verifies the
    * format version and both recorded row counts (the torn-artifact
    * check); fails with a DESIGNED message on any malformed params
    * table rather than a ClassCastException/NPE. */
  def loadRelease(spark: org.apache.spark.sql.SparkSession,
      path: String): ReleaseArtifact = {
    // shape-validate / version-gate / count-verify through the ONE
    // artifact-params owner (round-13 verdict item 4)
    val p = ArtifactParams.read(spark, path, "release",
      Seq("version", "n_docs", "n_card_rows"))
    p.requireVersion(ReleaseArtifact.FormatVersion.toLong)
    val (wantDocs, wantCard) = (p.long("n_docs"), p.long("n_card_rows"))
    val docs = spark.read.parquet(s"$path/docs").persist()
    val card = spark.read.parquet(s"$path/card").persist()
    val (gotDocs, gotCard) = (docs.count(), card.count())
    p.verifyCounts { docs.unpersist(); card.unpersist() }(
      ArtifactParams.Count("docs", Some(wantDocs), gotDocs),
      ArtifactParams.Count("card rows", Some(wantCard), gotCard))
    new ReleaseArtifact(docs, card,
      () => { docs.unpersist(); card.unpersist(); () })
  }

  /** INCREMENTAL release (round-10 verdict item 6): crawl N+1 → delta
    * release, deduplicated against EVERYTHING shipped before — the
    * production monthly-release shape, composed from the gated pieces:
    *
    *   quality funnel (q140 rules, stage-1 of [[prepareCorpus]]) →
    *   within-delta exact dedup (min-id keeper, q38) → CARRY-OVER drop
    *   vs the shipped corpus (q125's window-hash semantics, q136's
    *   Bloom ROUTING: the old corpus's window hashes become a 2^21-bit
    *   broadcast bitmap, the delta probes it as a narrow map, and only
    *   the Bloom HITS — never the whole delta — meet the exact old-hash
    *   set in a shuffle join, so false positives cost one bounded
    *   re-check and never a wrongly dropped doc) → within-delta
    *   near-dup keep-list (q74) → decontamination front door (q110):
    *   drop delta docs sharing a df-capped 5-gram with the SHIPPED
    *   corpus's eval split — per-source delta report.
    *
    * Scale shape: the only old-corpus-sized structures are the DISTINCT
    * window-hash set (shuffle-joined against the bounded Bloom hits,
    * never broadcast) and the capped eval shingle set; the Bloom bitmap
    * is m/63 words REGARDLESS of corpus size. Everything else is
    * delta-sized.
    *
    * `robust = true` (round-11 verdict item 1) canonicalizes BOTH sides
    * with the q225 front-end ([[canonicalized]]: NFC + word-char-run
    * re-tokenization) before any fingerprint, window hash, or shingle is
    * taken — the shipped corpus's window-hash set and the delta probe it
    * through the SAME token stream. Without it a multilingual delta
    * leaks separator/encoding near-dups straight past the Bloom
    * carry-over drop: the old hashes are raw-byte, the twin's bytes
    * differ (NBSP, U+3000, decomposed accents), nothing matches, and the
    * release re-ships content it already shipped (q235's planted fixture
    * demonstrates exactly that; ReleaseRobustSpec pins the raw leak). */
  def prepareDelta(oldDocs0: DataFrame, newDocs0: DataFrame,
      robust: Boolean = false): DataFrame = {
    val (_, card, release) = deltaPipeline(oldDocs0, newDocs0, robust)
    materializedCard(card, release)
  }

  /** The delta pipeline, exposing the KEPT delta corpus next to the
    * report (the [[corpusPipeline]] split): one row per final delta doc
    * (doc_id, source, text, ntok, the md5 `shard`). [[prepareDelta]]
    * consumes only the report; [[saveDelta]] consumes both. */
  private def deltaPipeline(oldDocs0: DataFrame, newDocs0: DataFrame,
      robust: Boolean): (DataFrame, DataFrame, () => Unit) = {
    val handles: Handles = scala.collection.mutable.ArrayBuffer.empty
    val oldDocs = if (robust) canonicalized(oldDocs0, handles) else oldDocs0
    val newDocs = if (robust) canonicalized(newDocs0, handles) else newDocs0
    val assets = shippedAssets(oldDocs, oldDocs0, handles)
    val s1 = deltaQualityStage(newDocs)
    val a0 = newDocs.groupBy("source").agg(count(lit(1)).as("n_input"))
    val (kept, report) = deltaTail(assets, s1, a0, carriedPre = None, handles)
    (kept, report, () => handles.foreach(Graph.release))
  }

  /** The static assets the delta stages probe — built ONCE from the
    * SHIPPED corpus, exactly how a production ingest front door holds
    * them resident across arrivals (q110's stream-static stance):
    * the distinct window-hash set (snapshot — it feeds BOTH the bitmap
    * build and the exact re-check join; lineage-truncated,
    * Spark-managed), the 2^21-bit Bloom bitmap, and the df-capped eval
    * shingle set. The df cap is sized from the RAW shipped frame (the
    * count is canonicalization-invariant, keeping the cap scan off the
    * snapshotted blocks). */
  private final case class ShippedAssets(wOld: DataFrame, bloom: DataFrame,
      evalSet: DataFrame)
  private def shippedAssets(oldDocs: DataFrame,
      oldDocs0: DataFrame, handles: Handles): ShippedAssets = {
    val capF = oldDocs0.agg(
      greatest(lit(4L), expr("count(1) div 300")).as("capdf"))
    val (wOld, hOld) = Graph.snapshot(
      Dedup.charWindowRows(oldDocs, "doc_id", "text", 40, 10)
        .select("h").distinct())
    handles += hOld
    val bloom =
      Dedup.bloomBuild(wOld, "h", DedupOps.BloomMBits, DedupOps.BloomK)
    val evalSet = Dedup.trainShingleSetDyn(
      oldDocs.filter(Sampling.splitLabel(col("doc_id"), 1) === "eval"),
      "doc_id", "text", 5, capF)
    ShippedAssets(wOld, bloom, evalSet)
  }

  /** Stage 1 of the delta pipeline: the q140 quality funnel, verbatim
    * from prepareCorpus — PER-DOC, so it runs identically on the whole
    * delta (batch path) or on each micro-batch at arrival (q253). */
  private def deltaQualityStage(newDocs: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val base = newDocs.select(col("doc_id"), col("source"), col("text"),
      TextFunctions.fingerprint(TextFunctions.normalized(col("text")))
        .as("fp"),
      size(toks).cast("long").as("ntok"),
      size(filter(toks, w => w === "the" || w === "a")).cast("long")
        .as("nstop"),
      size(array_distinct(toks)).cast("long").as("ndist"),
      aggregate(transform(toks, w => length(w).cast("long")),
        lit(0L), (acc, x) => acc + x).as("lensum"))
    base.filter(col("ntok") >= 20 && col("nstop") >= 2 &&
        col("ndist") * 2 >= col("ntok") &&
        col("lensum") >= col("ntok") * 3 && col("lensum") <= col("ntok") * 10)
      .select("doc_id", "source", "text", "fp", "ntok")
  }

  /** The Bloom-routed carry-over predicate: doc_ids of `docs` sharing a
    * window hash with the shipped corpus. PER-DOC against the static
    * assets — the bitmap routes (false positives included), only the
    * bounded hit set meets the exact old-hash set in a shuffle join, so
    * a false positive costs one re-check and never a wrongly dropped
    * doc. Identical verdict whether probed over the deduped delta
    * (batch stage 3) or per micro-batch at arrival (q253). */
  private def carriedIds(docs: DataFrame, a: ShippedAssets): DataFrame = {
    val wNew = Dedup.charWindowRows(docs, "doc_id", "text", 40, 10)
      .select("doc_id", "h").distinct()
    Dedup.bloomProbe(wNew, a.bloom,
        "h", DedupOps.BloomMBits, DedupOps.BloomK)
      .filter(col("bloom_hit")).select("doc_id", "h")
      .join(a.wOld.hint("shuffle_hash"), Seq("h"))
      .select("doc_id").distinct()
  }

  /** STREAMING delta-release ingestion (round-13 verdict item 6 — the
    * q217 pattern applied to releases): delta docs arrive as a file
    * stream in REAL micro-batches (maxFilesPerTrigger=1); per batch,
    * the front door runs the two PER-DOC stages against the static
    * shipped-corpus assets held resident across arrivals — the q140
    * quality funnel and the q110-style stream-static Bloom-routed
    * carry-over probe — and appends only the flagged survivors to the
    * ingest accumulator (junk never reaches storage, the point of a
    * front door). After the stream drains, the cross-delta stages that
    * CANNOT be per-batch (within-delta exact dedup, near-dup keep-list)
    * plus decontamination run ONCE over the accumulated survivors via
    * [[deltaTail]] — the same single owner the batch path finishes
    * through, so the final state is arrival-order-independent and
    * hash-identical to q228 by construction, not by luck. Returns the
    * (kept, report) pair ready for [[saveDelta]]'s writeArtifact. */
  private[graft] def streamedDeltaState(
      s: org.apache.spark.sql.SparkSession, oldDocs0: DataFrame,
      inSchema: org.apache.spark.sql.types.StructType,
      glob: String, robust: Boolean = false)
      : (DataFrame, DataFrame, () => Unit) = {
    val handles: Handles = scala.collection.mutable.ArrayBuffer.empty
    // robust variant (q260, the q235 composition): the shipped assets
    // are built over the CANONICAL token stream and every arriving
    // batch canonicalizes before its front-door stages — arrival
    // counts (n_input) still come from the raw batch
    val oldDocs = if (robust) canonicalized(oldDocs0, handles) else oldDocs0
    val assets = shippedAssets(oldDocs, oldDocs0, handles)
    // fresh accumulator per invocation (the round-13 shared-dir advice:
    // append-mode state must never be clobbered by a concurrent or
    // repeated invocation); delta-sized, Spark-managed temp lifecycle
    val accum = graft.TempDirs.create("graft-release-accum").toString
    graft.streaming.StreamHarness.drainFileStream(s, inSchema, glob) { b0 =>
      // batch-local snapshot, released as soon as the batch's two
      // writes land — a drained stream must not accumulate one
      // resident canonicalization block per micro-batch
      val batchHandles: Handles = scala.collection.mutable.ArrayBuffer.empty
      val b = if (robust) canonicalized(b0, batchHandles) else b0
      val s1b = deltaQualityStage(b)
      val carr = carriedIds(s1b, assets).withColumn("carried", lit(true))
      s1b.join(carr, Seq("doc_id"), "left")
        .na.fill(false, Seq("carried"))
        .write.mode("append").parquet(s"$accum/docs")
      // arrival LOG (doc_id, source), not per-batch counts: the
      // finalize dedupes by doc_id, so a redelivered batch
      // (at-least-once file delivery) can never double-count
      // n_input — see the dropDuplicates below
      b0.select("doc_id", "source")
        .write.mode("append").parquet(s"$accum/inputs")
      batchHandles.foreach(Graph.release)
    }
    // IDEMPOTENT ingest: a file stream with at-least-once delivery can
    // replay a batch, landing the same doc twice in the accumulator —
    // without this dedup a replayed doc would survive the exact-dedup
    // stage twice (both rows carry the keeper's (fp, doc_id)) and
    // double-count n_input. One doc_id-keyed dedup on each
    // delta-sized frame makes redelivery a no-op (ReleaseStreamSpec
    // pins a duplicated-arrival schedule against the batch report).
    val acc = s.read.parquet(s"$accum/docs").dropDuplicates("doc_id")
    val (kept, report) = deltaTail(assets,
      acc.select("doc_id", "source", "text", "fp", "ntok"),
      s.read.parquet(s"$accum/inputs").dropDuplicates("doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_input")),
      carriedPre = Some(acc.filter(col("carried")).select("doc_id")),
      handles)
    (kept, report, () => handles.foreach(Graph.release))
  }

  /** Stages 2–5 of the delta pipeline + report + kept corpus — the ONE
    * owner both the batch path ([[deltaPipeline]]) and the streaming
    * front door (q253) finish through. `s1` is the accumulated quality
    * survivors, `a0` the per-source arrival counts. `carriedPre`: the
    * batch path passes None (the carry-over probe runs over the deduped
    * s2, the cheapest set); the streaming path passes the doc_ids it
    * flagged per batch at arrival — the same per-doc predicate, so the
    * anti-join result is identical by construction. */
  private def deltaTail(assets: ShippedAssets, s1in: DataFrame,
      a0: DataFrame, carriedPre: Option[DataFrame],
      handles: Handles): (DataFrame, DataFrame) = {
    // Each stage below is consumed by 2+ branches (its per-source card
    // aggregate, the next stage, and for s5 the kept frame) — without
    // snapshots every branch re-derives its FULL stage lineage and the
    // near-dup keep-list runs up to 4×; with them the tail is one
    // linear pass plus bounded aggregates over persisted blocks (the
    // corpusPipeline stance).
    def snap(df: DataFrame): DataFrame = {
      val (out, h) = Graph.snapshot(df); handles += h; out
    }
    val s1 = snap(s1in)
    // stage 2: within-delta exact dedup
    val k2 = s1.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val s2 = snap(s1.join(k2, Seq("fp", "doc_id")))

    // stage 3: Bloom-routed carry-over vs the shipped corpus
    val carry = carriedPre.getOrElse(carriedIds(s2, assets))
    val s3 = snap(s2.join(carry, Seq("doc_id"), "left_anti"))

    // stage 4: within-delta near-dup keep-list (q74's pipeline)
    val s4 = snap(s3.join(
      Dedup.nearDupKeepList(s3, "doc_id", "text", 3, 0.8), "doc_id"))

    // stage 5: decontamination front door — per-doc vs the static eval
    // shingle set
    val contam = Dedup.contaminationAgainst(s4, assets.evalSet,
        "doc_id", "text", 5)
      .select("doc_id")
    val s5 = snap(s4.join(contam, Seq("doc_id"), "left_anti"))

    // per-source delta report
    val a1 = s1.groupBy("source").agg(count(lit(1)).as("n_quality"))
    val a2 = s2.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val a3 = s3.groupBy("source").agg(count(lit(1)).as("n_vs_old"))
    val a4 = s4.groupBy("source").agg(count(lit(1)).as("n_neardup"))
    val a5 = s5.groupBy("source").agg(count(lit(1)).as("n_final"),
      sum("ntok").cast("long").as("tokens_final"))
    val report = a0.join(a1, Seq("source"), "left")
      .join(a2, Seq("source"), "left")
      .join(a3, Seq("source"), "left")
      .join(a4, Seq("source"), "left")
      .join(a5, Seq("source"), "left")
      .select(col("source"), col("n_input"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_vs_old"), lit(0L)).as("n_vs_old"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tokens_final"), lit(0L)).as("tokens_final"))
    val kept = s5
      .withColumn("shard",
        Sampling.hashBucket(col("doc_id"), 16).cast("int"))
      .select("doc_id", "source", "text", "ntok", "shard")
    (kept, report)
  }

  private val md5Bucket =
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"

  /** The q215 eight-stage oracle, parameterized over its input relation
    * (`preCtes` supplies any fixture CTEs, ending with a comma) and the
    * text expression the pipeline sees — `text` for the raw pipeline,
    * the NFC + word-char-run canonicalization (q221 + q218's pinned
    * cross-engine pair) for the robust one. q215 and q225 share every
    * downstream character of this string, so the two gates differ ONLY
    * in input and canonicalization — exactly the claim under test.
    * q240/q242 reuse the full card select; q243 swaps in the epoch-mix
    * select over the SAME CTE body ([[releaseBodySql]] owns it). */
  private def releaseSql(preCtes: String, inputRel: String,
      textExpr: String, semantic: Boolean = false): String =
    releaseBodySql(preCtes, inputRel, textExpr, semantic) + "\n" +
      cardSelectSql(semantic)

  /** The q243 oracle: the SAME eight-stage CTE body, final select = the
    * q137 epoch expansion over the kept corpus (mx2) — one row per
    * (doc, epoch copy), which is exactly what a loaded release artifact
    * must serve a mixing consumer. */
  private def releaseMixSql(preCtes: String, inputRel: String,
      textExpr: String): String =
    releaseBodySql(preCtes, inputRel, textExpr) + "\n" +
      """SELECT doc_id, source, CAST(ntok AS BIGINT) AS ntok,
        |  CAST(unnest(range(1, reps + 1)) AS BIGINT) AS epoch_copy
        |FROM mx2 WHERE reps > 0 ORDER BY source, doc_id, epoch_copy""".stripMargin

  /** The q245 oracle: the SAME eight-stage CTE body, final select = the
    * q86 greedy pack over the EPOCH-EXPANDED kept corpus — per-source
    * running token offsets in (doc_id, epoch_copy) order, fixed 2048-
    * token budget. The packing a training run does over the mixed
    * stream, replayed from scratch so the artifact-served pack must
    * match it. */
  private def releasePackSql(preCtes: String, inputRel: String,
      textExpr: String): String =
    releaseBodySql(preCtes, inputRel, textExpr) + "\n" +
      """,ex AS (SELECT doc_id, source, ntok,
        |  unnest(range(1, reps + 1)) AS epoch_copy
        |  FROM mx2 WHERE reps > 0),
        |pc AS (SELECT source, ntok,
        |  SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id, epoch_copy
        |                  ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ex)
        |SELECT source, CAST((cum - ntok) // 2048 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS pack_tokens
        |FROM pc GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin

  /** The eight-stage CTE body. `semantic = true` (q275) splices ONE
    * extra stage between near-dup and decontamination: the SemDeDup
    * rule-(b) losers over the stage-3 survivors' embeddings
    * ([[SimilarityOps.semanticLosersSubquerySql]] — the q267 owners,
    * embedded as an inner WITH whose bindings shadow this body's
    * `e`/`n`/`p`), anti-joined so docs WITHOUT an embedding survive.
    * Default false leaves the text byte-identical to the pre-semantic
    * owner (every existing release gate re-verifies unchanged). */
  private def releaseBodySql(preCtes: String, inputRel: String,
      textExpr: String, semantic: Boolean = false): String = {
    val r3 = if (semantic) "s3x" else "s3"
    val semCtes = if (!semantic) "" else
      s"""sememb AS (SELECT e0.vec_id, e0.embedding FROM embeddings e0
         |  JOIN s3 ON s3.doc_id = e0.vec_id),
         |semlos AS MATERIALIZED (
         |${SimilarityOps.semanticLosersSubquerySql("sememb", SemanticStageThr)}),
         |s3x AS MATERIALIZED (SELECT s3.* FROM s3
         |  WHERE s3.doc_id NOT IN (SELECT vec_id FROM semlos)),
         |""".stripMargin
    val semAudit = if (!semantic) "" else
      s"""a3s AS (SELECT source, count(*) AS n_semantic
         |  FROM s3x GROUP BY source),
         |""".stripMargin
      s"""WITH ${preCtes}din AS (
         |  SELECT doc_id, source, n_chars, $textExpr AS text FROM $inputRel),
         |f AS (
         |  SELECT doc_id, source, n_chars, text,
         |    string_split(text, ' ') AS toks,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM din),
         |f2 AS (
         |  SELECT doc_id, source, n_chars, text, fp,
         |    CAST(len(toks) AS BIGINT) AS ntok,
         |    CAST(len(list_filter(toks, w -> w = 'the' OR w = 'a')) AS BIGINT) AS nstop,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS ndist,
         |    CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT) AS lensum
         |  FROM f),
         |s1 AS MATERIALIZED (
         |  SELECT doc_id, source, n_chars, text, fp, ntok FROM f2
         |  WHERE ntok >= 20 AND nstop >= 2 AND ndist * 2 >= ntok
         |    AND lensum >= 3 * ntok AND lensum <= 10 * ntok),
         |k2 AS (SELECT fp, min(doc_id) AS doc_id FROM s1 GROUP BY fp),
         |s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN k2 USING (fp, doc_id)),
         |${DedupOps.shingleCteN(3, "s2")},
         |${DedupOps.minhashSigSql},
         |${DedupOps.bandsSql},
         |shm AS MATERIALIZED (SELECT * FROM sh),
         |bdm AS MATERIALIZED (SELECT * FROM bands),
         |cand AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM bdm a JOIN bdm b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |n AS (SELECT doc_id, count(*) AS ns FROM shm GROUP BY doc_id),
         |p AS (
         |  SELECT cand.i, cand.j, count(*) AS inter
         |  FROM cand
         |  JOIN shm sa ON sa.doc_id = cand.i
         |  JOIN shm sb ON sb.doc_id = cand.j AND sb.s = sa.s
         |  GROUP BY 1, 2),
         |pairs AS (SELECT i, j FROM p
         |          JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
         |          WHERE CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) >= 0.8),
         |e AS MATERIALIZED (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
         |l1 AS MATERIALIZED (SELECT d.doc_id AS v, LEAST(d.doc_id, coalesce(min(e.b), d.doc_id)) AS l
         |       FROM s2 d LEFT JOIN e ON e.a = d.doc_id GROUP BY d.doc_id),
         |l2 AS MATERIALIZED (SELECT l1.v, LEAST(l1.l, coalesce(min(nb.l), l1.l)) AS l
         |       FROM l1 LEFT JOIN e ON e.a = l1.v LEFT JOIN l1 nb ON nb.v = e.b
         |       GROUP BY l1.v, l1.l),
         |l3 AS MATERIALIZED (SELECT l2.v, LEAST(l2.l, coalesce(min(nb.l), l2.l)) AS l
         |       FROM l2 LEFT JOIN e ON e.a = l2.v LEFT JOIN l2 nb ON nb.v = e.b
         |       GROUP BY l2.v, l2.l),
         |s3 AS MATERIALIZED (SELECT s2.* FROM s2
         |  JOIN (SELECT v AS doc_id FROM l3 WHERE l = v) kl USING (doc_id)),
         |${semCtes}spl AS MATERIALIZED (SELECT doc_id,
         |  CASE WHEN $md5Bucket % 10 < 9 THEN 'train' ELSE 'eval' END AS split
         |  FROM $r3),
         |${DedupOps.shingleCteN(5, r3, "sh5")},
         |cap5 AS (SELECT GREATEST(4, count(*) // 300) AS c FROM din),
         |shc AS MATERIALIZED (SELECT doc_id, s FROM (
         |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh5) t
         |  WHERE df <= (SELECT c FROM cap5)),
         |evs AS (SELECT DISTINCT shc.s FROM shc JOIN spl USING (doc_id)
         |  WHERE spl.split = 'eval'),
         |contam AS (SELECT DISTINCT shc.doc_id FROM shc JOIN spl USING (doc_id)
         |  JOIN evs ON evs.s = shc.s WHERE spl.split = 'train'),
         |s4 AS MATERIALIZED (SELECT $r3.* FROM $r3 JOIN spl USING (doc_id)
         |  WHERE spl.split = 'train'
         |    AND $r3.doc_id NOT IN (SELECT doc_id FROM contam)),
         |r5 AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY n_chars DESC, doc_id) AS rk,
         |  count(*) OVER (PARTITION BY source) AS nsrc FROM s4),
         |s5 AS MATERIALIZED (SELECT * FROM r5 WHERE rk <= GREATEST(8, nsrc // 4)),
         |ps AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS t FROM s5 GROUP BY source),
         |wr AS (SELECT source, t,
         |  row_number() OVER (ORDER BY t, source) AS k,
         |  sum(t) OVER (ORDER BY t, source ROWS UNBOUNDED PRECEDING) AS pk,
         |  count(*) OVER () AS n, sum(t) OVER () AS total FROM ps),
         |wr2 AS (SELECT *, (total * 6) // 10 AS b,
         |  CASE WHEN pk - t + (n - k + 1) * t <= (total * 6) // 10
         |    THEN k ELSE 0 END AS feask FROM wr),
         |wr3 AS (SELECT *, max(feask) OVER () AS kk FROM wr2),
         |wr4 AS (SELECT *, max(CASE WHEN k = kk THEN pk END) OVER () AS pkk,
         |  max(t) OVER () AS tmax FROM wr3),
         |wf AS (SELECT source, t,
         |  CASE WHEN kk = n THEN tmax
         |    ELSE (b - coalesce(pkk, 0)) // (n - kk) END AS cap, b FROM wr4),
         |wf2 AS MATERIALIZED (SELECT source, t, LEAST(t, cap) AS allocated,
         |  t > cap AS capped, cap, b FROM wf),
         |sel AS (SELECT s5.doc_id, s5.source, s5.ntok,
         |  sum(ntok) OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s5),
         |s6 AS MATERIALIZED (SELECT sel.* FROM sel JOIN wf2 USING (source)
         |  WHERE cum <= allocated),
         |mx AS (SELECT doc_id, source, ntok,
         |  ${Sampling.MixWeightCaseSql} AS w_mil,
         |  $md5Bucket % 1000 AS u FROM s6),
         |mx2 AS MATERIALIZED (SELECT doc_id, source, ntok,
         |  w_mil // 1000 + CASE WHEN u < w_mil % 1000 THEN 1 ELSE 0 END AS reps
         |  FROM mx),
         |a0 AS (SELECT source, count(*) AS n_input FROM din GROUP BY source),
         |a1 AS (SELECT source, count(*) AS n_quality FROM s1 GROUP BY source),
         |a2 AS (SELECT source, count(*) AS n_exact FROM s2 GROUP BY source),
         |a3 AS (SELECT source, count(*) AS n_neardup FROM s3 GROUP BY source),
         |${semAudit}a4 AS (SELECT source, count(*) AS n_decontam FROM s4 GROUP BY source),
         |a5 AS (SELECT source, count(*) AS n_domcap,
         |  CAST(sum(ntok) AS BIGINT) AS tokens_domcap FROM s5 GROUP BY source),
         |a6 AS (SELECT source, count(*) AS n_final,
         |  CAST(sum(ntok) AS BIGINT) AS tokens_final FROM s6 GROUP BY source),
         |a7 AS (SELECT source, CAST(sum(reps) AS BIGINT) AS epoch_docs,
         |  CAST(sum(reps * ntok) AS BIGINT) AS epoch_tokens,
         |  CAST((sum(reps * ntok) + 2047) // 2048 AS BIGINT) AS n_packs
         |  FROM mx2 GROUP BY source),
         |gsh AS (SELECT count(DISTINCT $md5Bucket % 16) AS n_shards FROM s6),
         |gw AS (SELECT CAST(max(cap) AS BIGINT) AS water_cap,
         |  CAST(max(b) AS BIGINT) AS budget FROM wf2)""".stripMargin
  }

  /** The release-card final select over [[releaseBodySql]]'s CTEs;
    * `semantic` adds the n_semantic stage column (q275) between
    * near-dup and decontamination — the card audits every stage the
    * variant ran, and ONLY those. */
  private def cardSelectSql(semantic: Boolean): String = {
    val semCol = if (!semantic) "" else
      "  CAST(coalesce(a3s.n_semantic, 0) AS BIGINT) AS n_semantic,\n|"
    val semJoin = if (!semantic) "" else " LEFT JOIN a3s USING (source)"
      s"""SELECT a0.source,
         |  CAST(a0.n_input AS BIGINT) AS n_input,
         |  CAST(coalesce(a1.n_quality, 0) AS BIGINT) AS n_quality,
         |  CAST(coalesce(a2.n_exact, 0) AS BIGINT) AS n_exact,
         |  CAST(coalesce(a3.n_neardup, 0) AS BIGINT) AS n_neardup,
         |${semCol}  CAST(coalesce(a4.n_decontam, 0) AS BIGINT) AS n_decontam,
         |  CAST(coalesce(a5.n_domcap, 0) AS BIGINT) AS n_domcap,
         |  CAST(coalesce(a5.tokens_domcap, 0) AS BIGINT) AS tokens_domcap,
         |  CAST(coalesce(wf2.allocated, 0) AS BIGINT) AS allocated,
         |  coalesce(wf2.capped, FALSE) AS capped,
         |  CAST(coalesce(a6.n_final, 0) AS BIGINT) AS n_final,
         |  CAST(coalesce(a6.tokens_final, 0) AS BIGINT) AS tokens_final,
         |  CAST(coalesce(a7.epoch_docs, 0) AS BIGINT) AS epoch_docs,
         |  CAST(coalesce(a7.epoch_tokens, 0) AS BIGINT) AS epoch_tokens,
         |  CAST(coalesce(a7.n_packs, 0) AS BIGINT) AS n_packs,
         |  CAST(coalesce(gw.budget, 0) AS BIGINT) AS budget,
         |  CAST(coalesce(gw.water_cap, 0) AS BIGINT) AS water_cap,
         |  CAST(gsh.n_shards AS BIGINT) AS n_shards
         |FROM a0
         |LEFT JOIN a1 USING (source) LEFT JOIN a2 USING (source)
         |LEFT JOIN a3 USING (source)$semJoin LEFT JOIN a4 USING (source)
         |LEFT JOIN a5 USING (source) LEFT JOIN wf2 USING (source)
         |LEFT JOIN a6 USING (source) LEFT JOIN a7 USING (source)
         |CROSS JOIN gw CROSS JOIN gsh
         |ORDER BY a0.source""".stripMargin
  }

  /** The planted multilingual fixture (q218's idea, re-shaped so the RAW
    * pipeline's quality funnel still ADMITS the twin): each doc gets a
    * separator twin v2 (doc_id + 1e6) that is
    *  - raw-DISTINCT in many shingles — after each standalone stopword
    *    ("the"/"a") the next two words are glued with IDEOGRAPHIC SPACE
    *    (U+3000), and the tail's café is NFC-decomposed behind an NBSP —
    *    so raw 3-shingle Jaccard lands well below the 0.8 near-dup
    *    threshold and the raw pipeline keeps BOTH twins to the end;
    *  - still quality-ADMISSIBLE raw: stopwords stay standalone and the
    *    token count barely drops (a fully-glued v2, q218's original
    *    construction, fails ntok >= 20 at stage 1 and demonstrates
    *    nothing about dedup);
    *  - token-IDENTICAL to v1 under the robust canonicalization
    *    (U+3000/NBSP are non-word separators, NFC recomposes é), so the
    *    robust pipeline collapses each pair at the exact-dedup stage.
    * Built over the FIRST TEN sources only: twinned, the fixture then
    * carries the same total volume as q215's input, so the two release
    * gates cost the same instead of q225 paying a 2× corpus. */
  private val multilingualFixtureCtes =
    """dhalf AS (SELECT * FROM documents
      |  WHERE CAST(substr(source, 4) AS INTEGER) < 10),
      |v1 AS (
      |  SELECT doc_id, source, text || ' 汉字 café' AS text
      |  FROM dhalf),
      |v2 AS (
      |  SELECT doc_id + 1000000 AS doc_id, source,
      |    regexp_replace(text, '(the|a) ([a-z]+) ([a-z]+) ',
      |                   '\1 \2　\3 ', 'g') ||
      |      '　汉字' || chr(160) || 'cafe' || chr(769) AS text
      |  FROM dhalf),
      |mfix AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars, text
      |  FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)),
      |""".stripMargin

  /** The Spark twin of [[multilingualFixtureCtes]] (replacement backrefs
    * are `$n` in Java, `\n` in DuckDB — same substitution). */
  private[graft] def multilingualFixture(docs0: DataFrame): DataFrame = {
    val docs = docs0.filter(
      substring(col("source"), 4, 8).cast("int") < 10)
    val v1 = docs.select(col("doc_id"), col("source"),
      concat(col("text"), lit(" 汉字 café")).as("text"))
    val v2 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("source"),
      concat(
        regexp_replace(col("text"), "(the|a) ([a-z]+) ([a-z]+) ",
          "$1 $2　$3 "),
        lit("　汉字 café")).as("text"))
    v1.union(v2).withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** The q235 planted fixture — the incremental-release twin of
    * [[multilingualFixtureCtes]], with the exotic separators on the
    * SHIPPED side (which has no quality funnel, so the construction is
    * free to be aggressive): the old corpus carries each doc with EVERY
    * space replaced by IDEOGRAPHIC SPACE plus an NBSP/NFC-decomposed
    * café tail; the delta is the clean-ASCII re-crawl of the same
    * content (ids + 1e6). Every 40-char window of the shipped text
    * contains at least one U+3000 (words are ≤ 8 chars, so no window
    * fits inside one word), so NO raw delta window can byte-match and
    * the raw carry-over drops nothing — the release re-ships content it
    * already shipped. Canonicalized, the two sides are string-identical,
    * so the robust carry-over drops every delta doc. First ten sources
    * only (the q225 volume rule). */
  private val shippedTwinFixtureCtes =
    """dhalf AS (SELECT * FROM documents
      |  WHERE CAST(substr(source, 4) AS INTEGER) < 10),
      |dold AS (SELECT doc_id, source,
      |  replace(text, ' ', '　') || '　汉字' || chr(160) || 'cafe' || chr(769) AS text
      |  FROM dhalf),
      |dnew AS (SELECT doc_id + 1000000 AS doc_id, source,
      |  text || ' 汉字 café' AS text FROM dhalf),
      |""".stripMargin

  /** Spark twin of [[shippedTwinFixtureCtes]]: (shipped corpus, delta). */
  private[graft] def shippedTwinFixture(
      docs0: DataFrame): (DataFrame, DataFrame) = {
    val docs = docs0.filter(
      substring(col("source"), 4, 8).cast("int") < 10)
    val old = docs.select(col("doc_id"), col("source"),
      concat(translate(col("text"), " ", "　"),
        lit("　汉字 café")).as("text"))
    val neu = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("source"), concat(col("text"), lit(" 汉字 café")).as("text"))
    (old, neu)
  }

  /** The canonicalization the robust pipeline applies, as DuckDB SQL —
    * nfc_normalize ≡ the q221 JDK-NFC Expression, regexp_extract_all of
    * word-char runs ≡ the q218 tokensRe split, both pinned cross-engine
    * by their own gates. */
  private val robustTextSql =
    """array_to_string(regexp_extract_all(nfc_normalize(text), '[\p{L}\p{N}]+'), ' ')"""

  /** The ONE raw-pipeline release oracle instance shared by q215 (run
    * the pipeline) and q240 (save → load → re-derive the card from the
    * artifact) — identical hash ⇒ the artifact round-trip loses nothing. */
  private lazy val ReleaseOracleSqlStd: String =
    releaseSql("", "documents", "text")

  /** The ONE robust-pipeline release oracle instance shared by q225 and
    * q242 (the robust save/load round-trip) — the q240↔q215 symmetry. */
  private lazy val ReleaseRobustOracleSqlStd: String =
    releaseSql(multilingualFixtureCtes, "mfix", robustTextSql)

  // (data dir, query family) -> the ONE release-artifact dir this JVM
  // round-trips through (the SimilarityOps tempDirs rule: each
  // invocation overwrite-saves — the save IS the operator — but
  // repeated passes in one JVM must not accumulate artifact copies).
  // ONE dir per (data dir, consuming query family) — round-13 advice:
  // q240/q243/q245 previously shared one dir and each overwrite-wrote
  // it, so a deferred file-backed reader from one query could see
  // another query's half-overwritten parquet under suite concurrency.
  // Every artifact-consuming query now owns its dir (the robust/delta
  // variants' stance, generalized).
  private val relArtifactDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def namedRelDir(d: String, tag: String): String =
    relArtifactDirs.computeIfAbsent(
      (new java.io.File(d).getCanonicalPath, tag),
      _ => graft.TempDirs.create(s"graft-release-$tag").toString)
  private def relDir(d: String): String = namedRelDir(d, "raw")
  private def relRobustDir(d: String): String = namedRelDir(d, "robust")
  private def relDeltaDir(d: String): String = namedRelDir(d, "delta")
  private def relDeltaRobustDir(d: String): String =
    namedRelDir(d, "delta-robust")

  // data dir -> the ONE q253 delta-arrival staging dir: the delta split
  // into three single-file parquet batches, written INSIDE the
  // computeIfAbsent lambda (same-key callers block), so repeated
  // passes in one JVM re-read one staging rather than re-writing
  private val streamStageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagedDeltaBatches(docs: DataFrame, d: String): String =
    streamStageDirs.computeIfAbsent(new java.io.File(d).getCanonicalPath,
      _ => {
        val dir = graft.TempDirs.create("graft-release-stream").toString
        val idx = substring(col("source"), 4, 8).cast("int")
        Seq((10, 13), (13, 17), (17, 20)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            docs.filter(idx >= lo && idx < hi)
              .coalesce(1).write.parquet(s"$dir/b$i")
        }
        dir
      })

  // data dir -> the ONE q260 staging dir: the q235 twin fixture's delta
  // (clean-ASCII re-crawl of shipped multilingual content) split into
  // three single-file arrival batches by source index
  private val streamRobustStageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagedRobustDeltaBatches(neu: DataFrame, d: String): String =
    streamRobustStageDirs.computeIfAbsent(
      new java.io.File(d).getCanonicalPath,
      _ => {
        val dir = graft.TempDirs.create("graft-release-stream-rb").toString
        val idx = substring(col("source"), 4, 8).cast("int")
        Seq((0, 4), (4, 7), (7, 10)).zipWithIndex.foreach {
          case ((lo, hi), i) =>
            neu.filter(idx >= lo && idx < hi)
              .coalesce(1).write.parquet(s"$dir/b$i")
        }
        dir
      })

  /** The ONE incremental-release oracle instance shared by q228 (run
    * the delta pipeline) and q244 (the delta artifact round-trip). */
  private lazy val DeltaOracleSqlStd: String =
    deltaSql("",
      "(SELECT * FROM documents WHERE CAST(substr(source, 4) AS INTEGER) < 10)",
      "(SELECT * FROM documents WHERE CAST(substr(source, 4) AS INTEGER) >= 10)",
      "text")

  /** The ONE robust-delta oracle instance shared by q235 and q246 (the
    * robust-delta artifact round-trip — an EMPTY kept corpus by fixture
    * design, so q246 also gates the empty-release artifact path). */
  private lazy val DeltaRobustOracleSqlStd: String =
    deltaSql(shippedTwinFixtureCtes, "dold", "dnew", robustTextSql)

  /** (data dir, variant) -> the ONE snapshotted (kept, card) pipeline
    * output this JVM round-trips through — the q189 `buildCached` stance
    * for the release family: the PIPELINE is the gate fixture, the
    * artifact round-trip (write + verified load + serve) is the operator
    * under test, so the pipeline materializes once per variant and every
    * save after the first pays write-IO only. Without this each artifact
    * gate re-ran the eight stages TWICE per invocation (the kept write
    * and the card write are independent actions over lazy lineage) —
    * measured 20 s for q240 vs 6 s for q215 itself. Every caller in
    * the JVM shares the memo; the outputs are deterministic, so cached ≡
    * fresh (the buildCached contract). Entries live for the JVM (≤ 3
    * dirs × 3 variants; snapshots are Spark-managed blocks). */
  private val pipelineCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (DataFrame, DataFrame)]()
  private def cachedPipeline(d: String, variant: String)(
      build: => (DataFrame, DataFrame, () => Unit)): (DataFrame, DataFrame) =
    pipelineCache.computeIfAbsent(
      (new java.io.File(d).getCanonicalPath, variant), _ => {
        val (kept0, card0, release) = build
        val (kept, _) = Graph.snapshot(kept0)
        val (card, _) = Graph.snapshot(card0)
        kept.count(); card.count()
        release() // stage snapshots superseded by the two output snapshots
        (kept, card)
      })

  /** The q240/q242 serve body: load the artifact at `dir` and emit the
    * release card with every corpus-derivable column RE-DERIVED from
    * the LOADED docs frame (n_final, tokens_final, the q137 epoch
    * columns, n_packs, n_shards), joined to the persisted card's
    * upstream stage counts — so ONE gate pins both artifact components:
    * a lost or duplicated doc row breaks five re-derived columns, a
    * drifted card breaks the rest. Materializes (bounded: |sources|
    * rows) before releasing the handle (the q187 rule). */
  private def servedCardFromArtifact(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val art = loadRelease(s, dir)
    val fromDocs = art.docs.groupBy("source").agg(
      count(lit(1)).as("n_final"),
      sum("ntok").cast("long").as("tokens_final"),
      sum("reps").cast("long").as("epoch_docs"),
      sum(col("reps") * col("ntok")).cast("long").as("epoch_tokens"))
      .withColumn("n_packs", expr("(epoch_tokens + 2047) div 2048"))
    val nsh = art.docs.select("shard").distinct()
      .agg(count(lit(1)).as("n_shards"))
    val out = art.card
      .drop("n_final", "tokens_final", "epoch_docs", "epoch_tokens",
        "n_packs", "n_shards")
      .join(fromDocs, Seq("source"), "left")
      .crossJoin(broadcast(nsh))
      .select(col("source"), col("n_input"), col("n_quality"),
        col("n_exact"), col("n_neardup"), col("n_decontam"),
        col("n_domcap"), col("tokens_domcap"), col("allocated"),
        col("capped"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tokens_final"), lit(0L)).as("tokens_final"),
        coalesce(col("epoch_docs"), lit(0L)).as("epoch_docs"),
        coalesce(col("epoch_tokens"), lit(0L)).as("epoch_tokens"),
        coalesce(col("n_packs"), lit(0L)).as("n_packs"),
        col("budget"), col("water_cap"), col("n_shards"))
      .orderBy("source")
    val served = out.collect()
    art.release()
    s.createDataFrame(java.util.Arrays.asList(served: _*), out.schema)
  }

  /** The q244/q246/q253 delta-artifact serve tail: load the artifact,
    * re-derive n_final/tokens_final from the LOADED docs, join the
    * persisted report's upstream stage counts — one owner for the
    * three delta-artifact consumers (the servedCardFromArtifact twin).
    * Materializes (bounded: |delta sources| rows) before release. */
  private def servedDeltaCardFromArtifact(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val art = loadRelease(s, dir)
    val fromDocs = art.docs.groupBy("source").agg(
      count(lit(1)).as("n_final"),
      sum("ntok").cast("long").as("tokens_final"))
    val out = art.card
      .drop("n_final", "tokens_final")
      .join(fromDocs, Seq("source"), "left")
      .select(col("source"), col("n_input"), col("n_quality"),
        col("n_exact"), col("n_vs_old"), col("n_neardup"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("tokens_final"), lit(0L)).as("tokens_final"))
      .orderBy("source")
    val served = out.collect()
    art.release()
    s.createDataFrame(java.util.Arrays.asList(served: _*), out.schema)
  }

  val defs: Seq[Q] = Seq(
    // ---- the full release composition; oracle replays ALL EIGHT stages
    //      (see prepareCorpus scaladoc). Single-owner CTE text where a
    //      stage has a gated original: shingleCteN / minhashSigSql /
    //      bandsSql (q74), MixWeightCaseSql (q137). ----
    Q("q215_corpus_release", ReleaseOracleSqlStd) { (s, d) =>
      prepareCorpus(Tables.t(s, d, "documents")).orderBy("source")
    },

    // ---- the release pipeline with a SEMANTIC dedup stage (the
    //      FineWeb/SemDeDup-era production shape: n-gram near-dup
    //      can't see same-content-different-tokens redundancy, so a
    //      release runs BOTH): stage 3s = the q267 rule-(b) losers
    //      over the stage-3 survivors' embeddings — router trained on
    //      the survivors, so the stage is a pure function of the
    //      release input — anti-joined (docs without an embedding
    //      survive). The card gains n_semantic; every other stage and
    //      column is the q215 owner's text, character for character
    //      (the oracle splices semanticLosersSubquerySql as an inner
    //      WITH whose bindings shadow the body's e/n/p CTEs). ----
    // Not a cachedPipeline memo: q275 consumes only the |sources|-row
    // card, and a resident kept-corpus snapshot (text for every final
    // doc) measurably taxed the whole suite — an A/B subset run read
    // q01–q99 at 44.9 s with the snapshot resident vs 34.6 s without.
    Q("q275_release_semantic",
      releaseSql("", "documents", "text", semantic = true)) { (s, d) =>
      prepareCorpusSemantic(Tables.t(s, d, "documents"),
        Tables.t(s, d, "embeddings")).orderBy("source")
    },

    // ---- release artifact PERSISTENCE (round-12 verdict item 1): save
    //      the full release — kept corpus sharded by the q147 md5
    //      manifest + the release card, params-written-last — LOAD it
    //      into a fresh handle, and serve the card with every column a
    //      consumer derives from the corpus RE-DERIVED from the LOADED
    //      docs frame (n_final, tokens_final, the q137 epoch columns,
    //      n_packs, n_shards), joined to the persisted card's upstream
    //      stage counts. Gated against the SAME oracle instance as
    //      q215, so the hash proves BOTH artifact components at once:
    //      the docs parquet carries exactly the final corpus (a lost or
    //      duplicated row breaks five re-derived columns) and the card
    //      parquet carries exactly the stage report — with zero
    //      pipeline re-runs on the load path. ----
    Q("q240_release_save_load", ReleaseOracleSqlStd) { (s, d) =>
      val dir = relDir(d)
      val (kept, card) = cachedPipeline(d, "raw")(
        corpusPipeline(Tables.t(s, d, "documents"), robust = false))
      writeArtifact(kept, card, dir)
      servedCardFromArtifact(s, dir)
    },

    // ---- ROBUST release artifact round-trip (the q240↔q215 symmetry
    //      applied to q225): the canonicalized pipeline's kept corpus —
    //      non-ASCII text, twin-collapsed ids — saved, loaded, and the
    //      card re-derived from the loaded docs, against the SAME
    //      oracle instance as q225. The hash proves the canonical token
    //      stream survives the parquet round-trip byte-for-byte and the
    //      shard manifest is canonicalization-stable. ----
    Q("q242_release_robust_save_load", ReleaseRobustOracleSqlStd) { (s, d) =>
      val dir = relRobustDir(d)
      val (kept, card) = cachedPipeline(d, "robust")(
        corpusPipeline(multilingualFixture(Tables.t(s, d, "documents")),
          robust = true))
      writeArtifact(kept, card, dir)
      servedCardFromArtifact(s, dir)
    },

    // ---- epoch mixing SERVED FROM the loaded artifact (the consumer
    //      composition the persistence exists for): the q137 epoch
    //      expansion — one row per (kept doc, epoch copy) — derived
    //      entirely from the artifact's persisted reps column, ZERO
    //      pipeline stages on the serve path. The oracle replays the
    //      full eight-stage chain and then the same expansion over its
    //      kept corpus (the shared releaseBodySql, mix final select) —
    //      the hash proves a mixing consumer reading the artifact gets
    //      exactly what re-running the pipeline would hand it. ----
    Q("q243_release_epoch_mix_from_artifact",
      releaseMixSql("", "documents", "text")) { (s, d) =>
      val dir = namedRelDir(d, "mix")
      val (kept, card) = cachedPipeline(d, "raw")(
        corpusPipeline(Tables.t(s, d, "documents"), robust = false))
      writeArtifact(kept, card, dir)
      // verification (version + torn counts) through the one load path,
      // then serve from a FILE-backed read: the epoch expansion is
      // corpus-sized, so it must stay lazy past this body — file-backed
      // frames need no live handle (unlike the persisted art.docs)
      loadRelease(s, dir).release()
      s.read.parquet(s"$dir/docs")
        .filter(col("reps") > 0)
        .select(col("doc_id"), col("source"), col("ntok"),
          explode(sequence(lit(1L), col("reps").cast("long")))
            .as("epoch_copy"))
        .orderBy("source", "doc_id", "epoch_copy")
    },

    // ---- sequence PACKING served from the loaded artifact (the other
    //      named consumer next to q243's mixing): the q86 greedy pack —
    //      per-source running token offsets, fixed 2048-token budget —
    //      over the EPOCH-EXPANDED kept corpus, everything derived from
    //      the artifact's persisted (ntok, reps) columns with zero
    //      pipeline stages. Packing stays PER SOURCE SHARD (window
    //      partitioned by source — no global sort at corpus scale); the
    //      oracle replays the eight stages plus the same expansion and
    //      pack over the shared CTE body. ----
    Q("q245_release_pack_from_artifact",
      releasePackSql("", "documents", "text")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dir = namedRelDir(d, "pack")
      val (kept, card) = cachedPipeline(d, "raw")(
        corpusPipeline(Tables.t(s, d, "documents"), robust = false))
      writeArtifact(kept, card, dir)
      loadRelease(s, dir).release() // torn/version verification only
      val w = Window.partitionBy("source").orderBy("doc_id", "epoch_copy")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.read.parquet(s"$dir/docs")
        .filter(col("reps") > 0)
        .select(col("doc_id"), col("source"), col("ntok"),
          explode(sequence(lit(1L), col("reps").cast("long")))
            .as("epoch_copy"))
        .withColumn("cum", sum("ntok").over(w))
        .withColumn("pack_id", expr("(cum - ntok) div 2048"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").cast("long").as("pack_tokens"))
        .orderBy("source", "pack_id")
    },

    // ---- the SAME eight stages, unicode-robust (round-10 advice item
    //      1): input is the q218 planted multilingual fixture — every
    //      doc has a byte-distinct separator twin — and the pipeline
    //      canonicalizes (NFC + word-char-run tokens) before stage 1.
    //      The robust fingerprints collapse each twin pair at the exact-
    //      dedup stage (n_exact ≈ n_quality/2 in the report), where the
    //      raw pipeline keeps both (ReleaseRobustSpec pins that gap);
    //      the oracle replays fixture, canonicalization and all eight
    //      stages from the SHARED q215 SQL body. ----
    Q("q225_corpus_release_robust",
      releaseSql(multilingualFixtureCtes, "mfix", robustTextSql)) { (s, d) =>
      prepareCorpus(multilingualFixture(Tables.t(s, d, "documents")),
        robust = true).orderBy("source")
    },

    // ---- INCREMENTAL release (round-10 verdict item 6): the crawl-N+1
    //      delta pipeline — quality → within-delta exact dedup → Bloom-
    //      routed carry-over drop vs the shipped corpus (q125/q136) →
    //      within-delta near-dup (q74) → decontamination against the
    //      shipped corpus's eval split (q110's front door) — reported
    //      per delta source. The oracle replays the OLD corpus's
    //      window-hash set, the 2^21-bit Bloom bitmap itself (false
    //      positives included — only the exact re-check keeps them from
    //      dropping docs), and every delta stage. Old = src0–src9,
    //      delta = src10–src19 (the q125 convention). ----
    Q("q228_incremental_release", DeltaOracleSqlStd) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val idx = substring(col("source"), 4, 8).cast("int")
      prepareDelta(docs.filter(idx < 10), docs.filter(idx >= 10))
        .orderBy("source")
    },

    // ---- DELTA artifact round-trip (the q240 stance for the monthly
    //      release): saveDelta persists the kept delta corpus (md5
    //      shard manifest) + the per-source report in the SAME artifact
    //      format loadRelease reads; the gate re-derives n_final and
    //      tokens_final from the LOADED docs and joins the persisted
    //      report's upstream stage counts — against the SAME oracle
    //      instance as q228, so the hash pins both components with zero
    //      pipeline re-runs on the serve path. ----
    Q("q244_delta_save_load", DeltaOracleSqlStd) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val idx = substring(col("source"), 4, 8).cast("int")
      val dir = relDeltaDir(d)
      val (kept, card) = cachedPipeline(d, "delta")(
        deltaPipeline(docs.filter(idx < 10), docs.filter(idx >= 10),
          robust = false))
      writeArtifact(kept, card, dir)
      servedDeltaCardFromArtifact(s, dir)
    },

    // ---- ROBUST incremental release (round-11 verdict item 1): the
    //      q228 delta pipeline with the q225 canonicalization in front —
    //      the SHIPPED corpus carries the multilingual formatting (every
    //      space an IDEOGRAPHIC SPACE, NBSP + NFC-decomposed café tail;
    //      the shipped side has no quality funnel, so the construction
    //      can be total), the delta is the clean-ASCII re-crawl of the
    //      same content. Robust window hashes are taken over the
    //      canonical token stream — string-identical on both sides — so
    //      EVERY delta doc Bloom-hits the shipped corpus and the
    //      carry-over stage drops it (n_vs_old = 0 in the report); the
    //      raw pipeline's byte-level hashes match nothing (every shipped
    //      window contains a U+3000; no clean 40-char window fits inside
    //      one ≤8-char word) and the release re-ships everything
    //      (ReleaseRobustSpec pins that leak). The oracle replays
    //      fixture, canonicalization, the Bloom bitmap and every delta
    //      stage from the SHARED q228 SQL body — the two gates differ
    //      only in input and canonicalization, exactly the claim under
    //      test. ----
    Q("q235_incremental_release_robust", DeltaRobustOracleSqlStd) {
      (s, d) =>
      val (old, neu) = shippedTwinFixture(Tables.t(s, d, "documents"))
      prepareDelta(old, neu, robust = true).orderBy("source")
    },

    // ---- ROBUST delta artifact round-trip — the last cell of the
    //      full/delta × raw/robust × pipeline/artifact matrix, and the
    //      EMPTY-release artifact gate: the q235 fixture's robust
    //      carry-over drops EVERY delta doc, so the persisted kept
    //      corpus has zero rows — the save must still emit a
    //      schema-carrying parquet (a dynamic-partition write of zero
    //      rows emits none and the load dies on schema inference), the
    //      load must verify counts and serve an empty frame, and the
    //      re-derived card must coalesce every docs-derived column to
    //      0 for all ten sources. Gated against the SAME oracle
    //      instance as q235. ----
    Q("q246_delta_robust_save_load", DeltaRobustOracleSqlStd) { (s, d) =>
      val dir = relDeltaRobustDir(d)
      val (kept, card) = cachedPipeline(d, "delta-robust") {
        val (old, neu) = shippedTwinFixture(Tables.t(s, d, "documents"))
        deltaPipeline(old, neu, robust = true)
      }
      writeArtifact(kept, card, dir)
      servedDeltaCardFromArtifact(s, dir)
    },

    // ---- STREAMING release front door (round-13 verdict item 6 — the
    //      q217 pattern applied to releases): the delta arrives as a
    //      file stream in three REAL micro-batches; per batch the
    //      front door runs the PER-DOC stages — quality funnel +
    //      stream-static Bloom-routed carry-over vs the resident
    //      shipped-corpus assets (q110's stance) — and accumulates only
    //      flagged survivors; the cross-delta stages (exact dedup,
    //      near-dup) run once over the drained accumulator through the
    //      SAME deltaTail the batch path uses, then saveDelta persists
    //      and the card serves from the LOADED artifact. Gated against
    //      the SAME oracle instance as q228/q244: the hash proves the
    //      streamed final state ≡ the batch pipeline ≡ the artifact
    //      round-trip, arrival-order-independent (every per-batch stage
    //      is a per-doc predicate; ReleaseStreamSpec pins two arrival
    //      orders). ----
    Q("q253_release_stream_delta", DeltaOracleSqlStd) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val idx = substring(col("source"), 4, 8).cast("int")
      val stage = stagedDeltaBatches(docs, d)
      val (kept, card, release) = streamedDeltaState(s,
        docs.filter(idx < 10), docs.schema, s"$stage/b*")
      writeArtifact(kept, card, namedRelDir(d, "stream-delta"))
      release()
      servedDeltaCardFromArtifact(s, namedRelDir(d, "stream-delta"))
    },

    // ---- ROBUST streaming release front door (the q253 × q235 cell,
    //      and the EMPTY-release STREAMING case): the delta is the
    //      clean-ASCII re-crawl of the shipped multilingual corpus, so
    //      with canonical window hashes EVERY arriving doc Bloom-hits
    //      the shipped corpus at its micro-batch and is flagged carried
    //      — the drained accumulator's kept corpus is EMPTY, the
    //      artifact write must still emit a schema-carrying parquet,
    //      and the served card coalesces every docs-derived column to
    //      0. Gated against the SAME oracle instance as q235/q246. ----
    Q("q260_release_stream_delta_robust", DeltaRobustOracleSqlStd) {
      (s, d) =>
      val (old, neu) = shippedTwinFixture(Tables.t(s, d, "documents"))
      val stage = stagedRobustDeltaBatches(neu, d)
      val (kept, card, release) = streamedDeltaState(s, old, neu.schema,
        s"$stage/b*", robust = true)
      writeArtifact(kept, card, namedRelDir(d, "stream-delta-robust"))
      release()
      servedDeltaCardFromArtifact(s, namedRelDir(d, "stream-delta-robust"))
    }
  )

  /** The q228 incremental-release oracle, parameterized over its input
    * relations and the text expression both sides see (the [[releaseSql]]
    * pattern): `preCtes` supplies fixture CTEs (ending with a comma),
    * `textExpr` is `text` for the raw pipeline and the NFC +
    * word-char-run canonicalization for the robust one. q228 and q235
    * share every downstream character of this string, so the gates
    * differ ONLY in input and canonicalization. */
  private def deltaSql(preCtes: String, oldRel: String, newRel: String,
      textExpr: String): String =
      s"""WITH ${preCtes}od AS (SELECT doc_id, source, $textExpr AS text FROM $oldRel),
         |nd AS (SELECT doc_id, source, $textExpr AS text FROM $newRel),
         |f AS (
         |  SELECT doc_id, source, text, string_split(text, ' ') AS toks,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM nd),
         |f2 AS (
         |  SELECT doc_id, source, text, fp,
         |    CAST(len(toks) AS BIGINT) AS ntok,
         |    CAST(len(list_filter(toks, w -> w = 'the' OR w = 'a')) AS BIGINT) AS nstop,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS ndist,
         |    CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT) AS lensum
         |  FROM f),
         |s1 AS MATERIALIZED (
         |  SELECT doc_id, source, text, fp, ntok FROM f2
         |  WHERE ntok >= 20 AND nstop >= 2 AND ndist * 2 >= ntok
         |    AND lensum >= 3 * ntok AND lensum <= 10 * ntok),
         |k2 AS (SELECT fp, min(doc_id) AS doc_id FROM s1 GROUP BY fp),
         |s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN k2 USING (fp, doc_id)),
         |wo AS MATERIALIZED (
         |  SELECT DISTINCT md5(substr(text, CAST(pw AS INTEGER), 40)) AS h
         |  FROM od, LATERAL (SELECT unnest(generate_series(1, length(text) - 39, 10)) AS pw) s
         |  WHERE length(text) >= 40),
         |wn AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, md5(substr(text, CAST(pw AS INTEGER), 40)) AS h
         |  FROM s2, LATERAL (SELECT unnest(generate_series(1, length(text) - 39, 10)) AS pw) s
         |  WHERE length(text) >= 40),
         |bm AS MATERIALIZED (
         |  SELECT pos // 63 AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
         |  FROM (SELECT ${DedupOps.bloomPosSql("j", "h")} AS pos
         |        FROM wo, range(0, ${DedupOps.BloomK}) t(j)) q
         |  GROUP BY 1),
         |pp AS (SELECT doc_id, h, ${DedupOps.bloomPosSql("j", "h")} AS pos
         |       FROM wn, range(0, ${DedupOps.BloomK}) t(j)),
         |pb AS (
         |  SELECT pp.doc_id, pp.h,
         |    sum(CASE WHEN bm.bits IS NOT NULL
         |             AND ((bm.bits >> CAST(pp.pos % 63 AS INTEGER)) & 1) = 1
         |             THEN 1 ELSE 0 END) AS nset
         |  FROM pp LEFT JOIN bm ON bm.word = pp.pos // 63
         |  GROUP BY 1, 2),
         |carry AS (SELECT DISTINCT pb.doc_id FROM pb JOIN wo USING (h)
         |          WHERE pb.nset = ${DedupOps.BloomK}),
         |s3 AS MATERIALIZED (SELECT s2.* FROM s2 ANTI JOIN carry USING (doc_id)),
         |${DedupOps.shingleCteN(3, "s3")},
         |${DedupOps.minhashSigSql},
         |${DedupOps.bandsSql},
         |shm AS MATERIALIZED (SELECT * FROM sh),
         |bdm AS MATERIALIZED (SELECT * FROM bands),
         |cand AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM bdm a JOIN bdm b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |nsh AS (SELECT doc_id, count(*) AS ns FROM shm GROUP BY doc_id),
         |p AS (
         |  SELECT cand.i, cand.j, count(*) AS inter
         |  FROM cand
         |  JOIN shm sa ON sa.doc_id = cand.i
         |  JOIN shm sb ON sb.doc_id = cand.j AND sb.s = sa.s
         |  GROUP BY 1, 2),
         |pairs AS (SELECT i, j FROM p
         |          JOIN nsh na ON na.doc_id = i JOIN nsh nb ON nb.doc_id = j
         |          WHERE CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) >= 0.8),
         |e AS MATERIALIZED (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
         |l1 AS MATERIALIZED (SELECT d.doc_id AS v, LEAST(d.doc_id, coalesce(min(e.b), d.doc_id)) AS l
         |       FROM s3 d LEFT JOIN e ON e.a = d.doc_id GROUP BY d.doc_id),
         |l2 AS MATERIALIZED (SELECT l1.v, LEAST(l1.l, coalesce(min(nb.l), l1.l)) AS l
         |       FROM l1 LEFT JOIN e ON e.a = l1.v LEFT JOIN l1 nb ON nb.v = e.b
         |       GROUP BY l1.v, l1.l),
         |l3 AS MATERIALIZED (SELECT l2.v, LEAST(l2.l, coalesce(min(nb.l), l2.l)) AS l
         |       FROM l2 LEFT JOIN e ON e.a = l2.v LEFT JOIN l2 nb ON nb.v = e.b
         |       GROUP BY l2.v, l2.l),
         |s4 AS MATERIALIZED (SELECT s3.* FROM s3
         |  JOIN (SELECT v AS doc_id FROM l3 WHERE l = v) kl USING (doc_id)),
         |cap AS (SELECT GREATEST(4, count(*) // 300) AS c FROM od),
         |oev AS (SELECT doc_id, text FROM od
         |        WHERE $md5Bucket % 10 >= 9),
         |${DedupOps.shingleCteN(5, "oev", "she")},
         |evset AS MATERIALIZED (SELECT s FROM (
         |  SELECT s, count(*) AS df FROM she GROUP BY s) t
         |  WHERE df <= (SELECT c FROM cap)),
         |${DedupOps.shingleCteN(5, "s4", "sh5n")},
         |contam AS (SELECT DISTINCT sh5n.doc_id FROM sh5n
         |           JOIN evset ON evset.s = sh5n.s),
         |s5 AS MATERIALIZED (SELECT s4.* FROM s4 ANTI JOIN contam USING (doc_id)),
         |a0 AS (SELECT source, count(*) AS n_input FROM nd GROUP BY source),
         |a1 AS (SELECT source, count(*) AS n_quality FROM s1 GROUP BY source),
         |a2 AS (SELECT source, count(*) AS n_exact FROM s2 GROUP BY source),
         |a3 AS (SELECT source, count(*) AS n_vs_old FROM s3 GROUP BY source),
         |a4 AS (SELECT source, count(*) AS n_neardup FROM s4 GROUP BY source),
         |a5 AS (SELECT source, count(*) AS n_final,
         |  CAST(sum(ntok) AS BIGINT) AS tokens_final FROM s5 GROUP BY source)
         |SELECT a0.source, CAST(a0.n_input AS BIGINT) AS n_input,
         |  CAST(coalesce(a1.n_quality, 0) AS BIGINT) AS n_quality,
         |  CAST(coalesce(a2.n_exact, 0) AS BIGINT) AS n_exact,
         |  CAST(coalesce(a3.n_vs_old, 0) AS BIGINT) AS n_vs_old,
         |  CAST(coalesce(a4.n_neardup, 0) AS BIGINT) AS n_neardup,
         |  CAST(coalesce(a5.n_final, 0) AS BIGINT) AS n_final,
         |  CAST(coalesce(a5.tokens_final, 0) AS BIGINT) AS tokens_final
         |FROM a0
         |LEFT JOIN a1 USING (source) LEFT JOIN a2 USING (source)
         |LEFT JOIN a3 USING (source) LEFT JOIN a4 USING (source)
         |LEFT JOIN a5 USING (source)
         |ORDER BY a0.source""".stripMargin
}
