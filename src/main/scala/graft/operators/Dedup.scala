package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A near-dup keep-list plus the storage handle of its drop-set snapshot.
  * The keep frame reads the source table anti-joined against the snapshot;
  * [[release]] frees the snapshot's blocks and (when reliable checkpointing
  * is configured) deletes its files — after that `keep` must not be
  * consumed. Shared by the text ([[Dedup.nearDupKeepListResult]]) and
  * embedding ([[Similarity.nearDupKeepListResult]]) pipelines. */
final case class KeepList(keep: DataFrame,
                          private val dropRdd: org.apache.spark.rdd.RDD[_]) {
  def release(): Unit = Graph.release(dropRdd)
}

/** Full near-dup cluster labeling plus the storage handle of its snapshot
  * (the cluster-analytics sibling of [[KeepList]]): [[release]] frees the
  * label snapshot's blocks and, when reliable checkpointing is configured,
  * deletes its files — Spark never deletes those on its own, so a
  * long-lived session calling [[Dedup.nearDupClusters]] per crawl would
  * otherwise leak one checkpoint dir per call. `labels` must not be
  * consumed after release. */
final case class ClusterLabels(labels: DataFrame,
                               private val labelRdd: org.apache.spark.rdd.RDD[_]) {
  def release(): Unit = Graph.release(labelRdd)
}

/** Deduplication library: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - exact dedup is a hash-groupBy on the fingerprint — one shuffle keyed
  *    by md5, uniform by construction (no skew);
  *  - near-dup never compares all pairs: candidates come from an LSH
  *    band-bucket equi-join (shuffle keyed by (band_idx, band_hash)), so
  *    cost is Σ bucket², bounded by band width choice;
  *  - the shingle→signature aggregation is a two-phase hash agg (partial
  *    min per mapper), so the shuffle carries one signature row per doc,
  *    not one row per shingle;
  *  - md5 (not murmur/xxhash) everywhere a result crosses engines.
  */
object Dedup {

  /** (id, shingle, ns) rows, one per DISTINCT word n-gram per document,
    * with the doc's distinct-shingle count on every row. Backed by the
    * WordShingleRows generator (one tight eval per document — the
    * declarative distinct/explode chain was the pipeline's hot spot). */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
      graft.plans.GraftFunctions.shingleRows(col(textCol), n).as(Seq("s", "ns")))

  /** Drop rows whose shingle `s` has document frequency above `cap` —
    * the skew-safe TWO-PHASE form (round-10 advice item 2): a
    * `groupBy("s").count` runs map-side partial aggregation, so a
    * pathological shingle (boilerplate repeated billions of times at
    * corpus scale) arrives at the reducer as a handful of partial
    * counts, never as its full posting list in one task — which is
    * exactly what the previous `count(*) over (partition by s)` window
    * did. The keep-set join is keyed on `s`, the same partitioning the
    * downstream shingle joins need, so the exchange is reused; the
    * keep-set itself is one row per surviving DISTINCT shingle.
    * Semantics identical to the window form (count of ROWS per s;
    * `shingleRows` emits distinct shingles per doc, so rows = docs). */
  /** SINGLE owner of the two-phase sub-cap keep-set: (distinct shingle)
    * rows whose df passes `capFilter` — the map-side-partial groupBy
    * count, the cap filter, and the `s`-only projection live here and
    * nowhere else (a second copy of this logic silently diverging is
    * exactly the drift bloomPosSql's extraction prevents). */
  private def subCapShingleSet(rows: DataFrame,
      capFilter: DataFrame => DataFrame): DataFrame =
    capFilter(rows.groupBy("s").agg(count(lit(1)).as("df"))).select("s")

  private def dfCapRowsBy(rows: DataFrame,
      capFilter: DataFrame => DataFrame): DataFrame =
    // shuffle-hash, never broadcast: the keep-set is the corpus's distinct
    // sub-cap shingles — vocabulary-sized, far past broadcast range at
    // corpus scale even though AQE would happily broadcast it at test SFs
    rows.join(subCapShingleSet(rows, capFilter).hint("shuffle_hash"), Seq("s"))

  private[operators] def dfCapRows(rows: DataFrame, cap: Int): DataFrame =
    dfCapRowsBy(rows, _.filter(col("df") <= cap))

  /** [[dfCapRows]] with the cap as a BROADCAST 1-row frame (column
    * `capdf`) instead of a driver-side Int — the round-10 verdict's
    * "prepareCorpus opens with docs.count()" note: a corpus-relative
    * cap sized via a driver count costs one extra full-corpus action
    * BEFORE the pipeline proper; as a 1-row aggregate it rides the
    * plan instead. */
  private[operators] def dfCapRowsDyn(rows: DataFrame, capF: DataFrame): DataFrame =
    dfCapRowsBy(rows,
      _.crossJoin(broadcast(capF)).filter(col("df") <= col("capdf")))

  /** [[trainShingleSet]] with the plan-side cap frame ([[dfCapRowsDyn]]'s
    * rationale — the shipped corpus is the BIG side in an incremental
    * release, exactly where an extra count scan hurts). */
  private[operators] def trainShingleSetDyn(trainDocs: DataFrame, idCol: String,
      textCol: String, n: Int, capF: DataFrame): DataFrame =
    subCapShingleSet(shingleRows(trainDocs, idCol, textCol, n),
      _.crossJoin(broadcast(capF)).filter(col("df") <= col("capdf")))

  /** Exact pairwise n-gram Jaccard for all pairs sharing at least one
    * shingle; keeps pairs with jaccard >= minJaccard.
    * Output: (id_a, id_b, inter, jac), id_a < id_b.
    *
    * The per-doc shingle count rides along on every shingle row (one extra
    * long) instead of being re-joined after the pair aggregation — two
    * fewer joins and one fewer shuffle than the textbook formulation.
    *
    * `maxShingleDf` is the corpus-scale skew knob: a shingle shared by m
    * documents produces m² join rows on ONE shuffle key, and stopword-heavy
    * shingles ("of the and") make m huge. Capping document frequency drops
    * those shingles from the JOIN ONLY — per-doc totals (na/nb) keep the
    * full count, so the reported jac becomes a LOWER bound and every
    * emitted pair is still genuinely >= minJaccard on the pruned overlap.
    * Default None = exact (the oracle-gated semantics). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minJaccard: Double,
                        maxShingleDf: Option[Int] = None): DataFrame = {
    val compact0 = shingleRows(docs, idCol, textCol, n)
    // No cache: both join sides are the identical subtree, so ReuseExchange
    // computes the shingle shuffle once — and unlike a cache the storage is
    // released when the query finishes (a long-lived session calling this
    // per-corpus must not accrete resident shingle tables).
    val compact = maxShingleDf match {
      case Some(cap) => dfCapRows(compact0, cap)
      case None => compact0
    }
    val a = compact.select(col(idCol).as("id_a"), col("ns").as("na"), col("s"))
    val b = compact.select(col(idCol).as("id_b"), col("ns").as("nb"), col("s"))
    // shuffle-hash, not broadcast: the shingle side is large enough that
    // collect-to-driver + rebroadcast per run dominates and is load-
    // sensitive; hash-partitioning both sides by shingle stays executor-
    // side and is also the only shape that survives at corpus scale.
    a.join(b.hint("shuffle_hash"), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jac") >= minJaccard)
      .select("id_a", "id_b", "inter", "jac")
  }

  /** Exact n-gram Jaccard partners of a BOUNDED probe set — the small-N
    * exact verifier (the q43 brute-force-kNN precedent): for each probe doc
    * (rows of `docs` matching `probePred`), every other doc sharing >= 1
    * shingle is scored exactly; pairs with jaccard >= minJaccard survive.
    * Output: (id_a = probe id, id_b = partner id, inter, jac) — BOTH
    * directions appear when both endpoints are probes.
    *
    * Scale shape: the probe side is a fixed small set, so its shingle rows
    * BROADCAST and the corpus side is a narrow scan — no shuffle of the
    * corpus, no self-join. A shingle shared by m docs contributes
    * |probes ∩ holders| × m join rows spread across the corpus side's
    * partitions (linear in m, the brute-scan bound), never the m² single
    * hot key of an uncapped shingle self-join. */
  def ngramJaccardProbePairs(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, minJaccard: Double,
                             probePred: Column): DataFrame = {
    val compact = shingleRows(docs, idCol, textCol, n)
    val a = compact.filter(probePred)
      .select(col(idCol).as("id_a"), col("ns").as("na"), col("s"))
    val b = compact.select(col(idCol).as("id_b"), col("ns").as("nb"), col("s"))
    broadcast(a).join(b, Seq("s"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jac") >= minJaccard)
      .select("id_a", "id_b", "inter", "jac")
  }

  /** Rotation amounts and xor seeds for the derived minhash family:
    * hash_i = rot60(base, Rot(i)) XOR Seed(i), a bijection of the 60-bit
    * base hash per i (rotation and xor are both bijections), so each i is
    * an independent-enough permutation for MinHash while costing bit-ops
    * instead of a fresh md5. Constants are inlined literals so the DuckDB
    * oracle reproduces them exactly. */
  def mhRot(i: Int): Int = i * 7 % 59 + 1
  def mhSeed(i: Int): Long = {
    // splitmix-style fixed constants, precomputed (no runtime multiply —
    // DuckDB BIGINT multiplication would overflow-error on these)
    var x = i.toLong + 0x9E3779B9L
    x ^= x >>> 13; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 27; x *= 0x94D049BB133111EBL
    x ^= x >>> 31
    x & 0x0FFFFFFFFFFFFFFL // keep < 2^56 so xor stays within 60 bits
  }

  /** DuckDB SQL fragment for hash_i: 60-bit left rotation of `base` by r,
    * then xor with seed. Masks before shifting so no intermediate exceeds
    * 62 bits (DuckDB errors on BIGINT overflow); `xor()` because `^` is
    * POWER in DuckDB. */
  def mhExprDuck(base: String, i: Int): String = {
    val r = mhRot(i); val seed = mhSeed(i)
    s"xor((($base % ${1L << (60 - r)}) << $r) | ($base >> ${60 - r}), $seed)"
  }

  /** MinHash signature: numHashes minima per doc over a derived hash
    * family — ONE md5 per shingle (60-bit base from the first 15 hex
    * chars), then numHashes-1 bijective rotate-xor variants. Long minima
    * keep the aggregation in two-phase HashAggregate (string buffers would
    * force SortAggregate) and the shuffle carries signatures, not
    * shingles. One row per doc with columns mh0..mh{k-1}. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame =
    signaturesFromShingles(shingleRows(docs, idCol, textCol, n), idCol, numHashes)

  /** Signature stage over pre-computed (id, s, ns) shingle rows, so
    * pipelines that also need the raw shingles (e.g. candidate
    * verification) reuse ONE cached shingle scan instead of re-shingling
    * the corpus per stage. */
  def signaturesFromShingles(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val withBase = sh
      .withColumn("h0", expr("CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)"))
    // whole signature in one TypedImperativeAggregate buffer (see
    // plans.MinHashSigAgg) instead of numHashes separate min expressions
    val sig = withBase.groupBy(col(idCol))
      .agg(graft.plans.GraftFunctions.minhashSig(col("h0"), numHashes).as("sig"))
    sig.select(col(idCol) +:
      (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** LSH banding over a MinHash signature: (id, band_idx, band_hash) rows.
    * rowsPerBand minhashes are concatenated and re-hashed per band. */
  def lshBands(signatures: DataFrame, idCol: String,
               numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      // ':'-separated so adjacent minhash values can't alias across docs
      struct(lit(b).as("band_idx"),
        md5(concat_ws(":", cols: _*)).as("band_hash"))
    }
    signatures.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  /** Candidate near-dup pairs: docs sharing >= 1 LSH band.
    * Output: (id_a, id_b, shared_bands), id_a < id_b. The equi-join on
    * (band_idx, band_hash) is the whole point at scale: cost tracks bucket
    * occupancy, never n². */
  def minhashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
                           n: Int, numHashes: Int, rowsPerBand: Int): DataFrame =
    // no cache: the band self-join's two sides canonicalize identically, so
    // ReuseExchange shares the signature+band shuffle (verified in PlanSpec);
    // a cache here outlived the query and leaked storage for the session
    candidatesFromBands(
      lshBands(minhashSignatures(docs, idCol, textCol, n, numHashes),
        idCol, numHashes, rowsPerBand),
      idCol)

  /** Band-bucket equi-join over precomputed (id, band_idx, band_hash) rows:
    * (id_a, id_b, shared_bands), id_a < id_b. */
  def candidatesFromBands(bands: DataFrame, idCol: String): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared_bands"))

  /** Exact Jaccard verification restricted to candidate pairs: joins the
    * candidate list back to the shingle rows BY DOC ID (uniform keys — a's
    * side fans out one row per candidate×shingle, b's side is an equi-join
    * on (id_b, s)), never shingle-vs-shingle. Output matches
    * [[ngramJaccardPairs]]: (id_a, id_b, inter, jac). */
  def verifyCandidates(candidates: DataFrame, sh: DataFrame, idCol: String,
                       minJaccard: Double): DataFrame = {
    val shA = sh.select(col(idCol).as("id_a"), col("ns").as("na"), col("s"))
    val shB = sh.select(col(idCol).as("id_b"), col("ns").as("nb"), col("s"))
    candidates.select("id_a", "id_b")
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b", "s"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jac") >= minJaccard)
      .select("id_a", "id_b", "inter", "jac")
  }

  /** LSH band-geometry sweep — the q224-nprobe-sweep analog for the
    * dedup family: for each rows-per-band setting, the candidate-pair
    * count (the COST the banding pays — every candidate is one
    * verification join row) next to the verified-pair count (the
    * RECALL it buys at the exact-Jaccard threshold). Fewer rows per
    * band ⇒ more, smaller bands ⇒ more candidates and ≥ the verified
    * pairs of any coarser setting — the tuning table a pipeline owner
    * reads before fixing the geometry for a 100 TB run, produced
    * from ONE shingle scan and ONE signature pass (signatures are
    * geometry-independent; only the cheap band re-hash and the
    * bucket equi-join re-run per setting). */
  def lshBandSweep(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, numHashes: Int, rowsPerBandSettings: Seq[Int],
                   minJaccard: Double): DataFrame = {
    require(rowsPerBandSettings.nonEmpty &&
      rowsPerBandSettings.forall(r => r > 0 && numHashes % r == 0),
      s"every rows-per-band in $rowsPerBandSettings must divide numHashes=$numHashes")
    val sh = shingleRows(docs, idCol, textCol, n).persist()
    val sig = signaturesFromShingles(sh, idCol, numHashes).persist()
    sig.count()
    val frames = rowsPerBandSettings.map { rpb =>
      val cand = candidatesFromBands(
        lshBands(sig, idCol, numHashes, rpb), idCol)
      val nCand = cand.agg(count(lit(1)).cast("long").as("n_candidates"))
      val nVer = verifyCandidates(cand, sh, idCol, minJaccard)
        .agg(count(lit(1)).cast("long").as("n_verified"))
      nCand.crossJoin(nVer) // two 1-row aggregates — the scalar-broadcast pattern
        .select(lit(rpb).as("rows_per_band"),
          lit(numHashes / rpb).as("n_bands"),
          col("n_candidates"), col("n_verified"))
    }
    // the sweep result is exactly |settings| rows — materialize it as a
    // LOCAL frame so the shingle/signature caches can be dropped with no
    // storage handle outliving the call (round-15 advice: the previous
    // Graph.snapshot here discarded its RDD handle, leaking the persisted
    // blocks — and the reliable-checkpoint dir when configured — for the
    // session lifetime)
    val merged = frames.reduce(_.unionByName(_)).orderBy("rows_per_band")
    val local = merged.collect().toSeq
    val out = docs.sparkSession.createDataFrame(
      docs.sparkSession.sparkContext.parallelize(local, 1), merged.schema)
    sh.unpersist(); sig.unpersist()
    out
  }

  /** MinHash fidelity audit — the q188-recall-canary analog for the dedup
    * family: for every LSH candidate pair, the signature-estimated
    * Jaccard (matching minhash components / numHashes, in exact ppm)
    * next to the TRUE shingle Jaccard, with the absolute error. This is
    * the calibration a production dedup monitors: if estimate and truth
    * drift apart (bad hash family, wrong band geometry for the corpus's
    * similarity profile), thresholds silently mis-cut. Cost shape: the
    * candidate list comes from the banded equi-join (bucket occupancy,
    * never n²); signatures and shingle intersections join candidates BY
    * DOC ID — the corpus is never self-joined. All integer (ppm via
    * truncating div), so both engines agree bit-for-bit. */
  def minhashFidelity(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n)
    val sig = signaturesFromShingles(sh, idCol, numHashes)
    val cand = candidatesFromBands(lshBands(sig, idCol, numHashes, rowsPerBand),
      idCol)
    val sigA = sig.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
    val sigB = sig.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
    val matchSig = (0 until numHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val shA = sh.select(col(idCol).as("id_a"), col("s"))
    val shB = sh.select(col(idCol).as("id_b"), col("s"))
    val inter = cand.select("id_a", "id_b")
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b", "s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    // per-doc shingle counts from the SAME sh scan (always present, so a
    // zero-intersection candidate still gets jac_ppm = 0, not null)
    val nDoc = sh.groupBy(col(idCol)).agg(count(lit(1)).as("ns"))
    val ppmPerMatch = 1000000L / numHashes
    cand.join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared_bands"),
        matchSig.as("match_sig"))
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(nDoc.select(col(idCol).as("id_a"), col("ns").as("na")), Seq("id_a"))
      .join(nDoc.select(col(idCol).as("id_b"), col("ns").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared_bands"), col("match_sig"),
        (col("match_sig") * lit(ppmPerMatch)).as("est_ppm"),
        expr("coalesce(inter, 0L) * 1000000L div (na + nb - coalesce(inter, 0L))")
          .as("jac_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("jac_ppm")))
  }

  /** End-to-end near-dup removal, LSH-routed (the 100 TB shape): shingles →
    * MinHash signatures → LSH band-bucket candidates → exact Jaccard on the
    * CANDIDATE pairs only → transitive clusters (connected components) →
    * keep the minimum doc id per cluster plus all unpaired docs.
    *
    * Never self-joins raw shingle rows: a stopword shingle shared by m docs
    * would emit m² join rows on one key. Candidate generation is the banded
    * equi-join (cost tracks bucket occupancy); verification re-joins
    * candidates to shingles keyed by doc id — both stages stay linear in
    * data volume for a fixed near-dup rate. */
  def nearDupKeepList(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minJaccard: Double,
                      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame =
    nearDupKeepListResult(docs, idCol, textCol, n, minJaccard,
      numHashes, rowsPerBand).keep

  /** [[nearDupKeepList]] with an explicit release handle for the drop-set
    * snapshot — the form long-lived sessions should call ([[KeepList]]).
    * The convenience form's snapshot blocks are reclaimed by the
    * ContextCleaner when the frame is GC'd, but reliable-checkpoint files
    * (when a dir is configured) are only deleted via [[KeepList.release]]. */
  def nearDupKeepListResult(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, minJaccard: Double,
                            numHashes: Int = 16, rowsPerBand: Int = 4): KeepList = {
    val sh = shingleRows(docs, idCol, textCol, n).cache()
    val bands = lshBands(signaturesFromShingles(sh, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
    val pairs = verifyCandidates(candidatesFromBands(bands, idCol), sh, idCol, minJaccard)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    // verifyCandidates ends in a groupBy keyed by (id_a, id_b) with
    // id_a < id_b, so the edge list is distinct ordered pairs — CC can
    // skip its symmetrize-dedup exchange
    val cc = Graph.connectedComponentsResult(pairs, edgesAreDistinctPairs = true)
    // snapshot only the SMALL drop-set (one id per dropped doc), then free
    // everything upstream: the shingle cache and the CC label storage +
    // checkpoint files. Graph.snapshot upgrades to RELIABLE checkpointing
    // when the context has a checkpoint dir (same policy as CC's own
    // per-round snapshots — executor loss on a long 100 TB job must not
    // force a recompute of a released pipeline); the count() materializes
    // it BEFORE cc.release() frees the labels it derives from.
    val (dropped, droppedRdd) = Graph.snapshot(
      cc.labels
        .filter(col("component") =!= col("v"))
        .select(col("v").as(idCol)))
    dropped.count()
    sh.unpersist()
    cc.release()
    KeepList(docs.select(col(idCol)).join(dropped, Seq(idCol), "left_anti"),
      droppedRdd)
  }

  /** Train/eval decontamination — the standard pre-training hygiene check:
    * for each EVAL document, count its distinct word n-gram shingles that
    * also appear in ANY train document; emit contaminated eval docs with
    * the shared-shingle count and the contaminated fraction of the doc's
    * total shingles. Long shingles (n ~ 8+) are the industry-standard
    * overlap unit: rare enough that a match means real leakage.
    *
    * Scale shape: everything keys by shingle — the df cap is the
    * two-phase [[dfCapRows]] (map-side partial counts, skew-safe), and
    * the train side's distinct and the train⋈eval join reuse the same
    * s-partitioning. `maxShingleDf`
    * bounds any bucket at cap² (boilerplate shared by both splits is not
    * leakage evidence anyway); per-doc totals keep the FULL count, so
    * `frac` is a lower bound — every reported doc is genuinely
    * contaminated.
    *
    * @param split column labeling each row 'train' / 'eval' — must derive
    *   from columns of `docs` (e.g. [[Sampling.splitLabel]] of the id). */
  def crossSplitContamination(docs: DataFrame, idCol: String, textCol: String,
                              n: Int, split: Column,
                              maxShingleDf: Int): DataFrame = {
    val capped = dfCapRows(shingleRows(docs, idCol, textCol, n), maxShingleDf)
      .withColumn("split", split)
    val train = capped.filter(col("split") === "train")
      .select("s").dropDuplicates("s")
    val ev = capped.filter(col("split") === "eval")
      .select(col(idCol), col("ns"), col("s"))
    ev.join(train.hint("shuffle_hash"), Seq("s"))
      .groupBy(col(idCol), col("ns"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col(idCol), col("n_shared"), col("ns").cast("long").as("ns"),
        (col("n_shared").cast("double") / col("ns").cast("double")).as("frac"))
  }

  /** Near-dup cluster labels for EVERY document (LSH-routed, same pipeline
    * as [[nearDupKeepList]]): paired docs carry their connected-component
    * label, unpaired docs label themselves. The full labeling is what
    * cluster-level corpus analytics (size histograms, per-cluster
    * representatives, dedup-rate reporting) consume — the keep-list is
    * just its `component = id` slice. Storage hygiene matches the
    * keep-list: the label snapshot is materialized, then the shingle
    * cache and CC storage are freed. */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, minJaccard: Double,
                      numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame =
    // convenience form: the snapshot is Spark-managed (ContextCleaner
    // reclaims blocks on GC) but checkpoint FILES are not — a long-lived
    // session with a checkpoint dir should use [[nearDupClustersResult]]
    // and release() after consuming the labels
    nearDupClustersResult(docs, idCol, textCol, n, minJaccard,
      numHashes, rowsPerBand).labels

  /** [[nearDupClusters]] with an explicit release handle for the label
    * snapshot (see [[ClusterLabels]] / the [[KeepList]] pattern). */
  def nearDupClustersResult(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, minJaccard: Double,
                            numHashes: Int = 16, rowsPerBand: Int = 4): ClusterLabels = {
    val sh = shingleRows(docs, idCol, textCol, n).cache()
    val bands = lshBands(signaturesFromShingles(sh, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
    val pairs = verifyCandidates(candidatesFromBands(bands, idCol), sh, idCol, minJaccard)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val cc = Graph.connectedComponentsResult(pairs, edgesAreDistinctPairs = true)
    val (labels, labelsRdd) = Graph.snapshot(
      docs.select(col(idCol))
        .join(cc.labels.withColumnRenamed("v", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("component"), col(idCol).cast("long")).as("component")))
    labels.count()
    sh.unpersist()
    cc.release()
    ClusterLabels(labels, labelsRdd)
  }

  /** Verified near-dup pairs with BOTH endpoints' connected-component
    * labels attached: (id_a, id_b, comp_a, comp_b). This is the evidence
    * table behind the leakage-safe-split audit (q281): a pair whose
    * endpoints land in different train/eval splits under a DOC-keyed
    * split is eval-set leakage; under a CLUSTER-keyed split (hash the
    * component, not the doc) the cross count is zero BY CONSTRUCTION —
    * both endpoints of a verified pair share a component, so they hash
    * together. Cost shape: the pair list is LSH-bounded (never all-pairs),
    * the label join is pairs-vs-labels on the doc id (uniform keys), and
    * the CC runs on the pair edges only — same machinery, same bounds as
    * [[nearDupClustersResult]]. The returned frame is a managed snapshot
    * (ContextCleaner reclaims it); intermediates are freed here. */
  def nearDupPairLabels(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minJaccard: Double,
                        numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, n).cache()
    val bands = lshBands(signaturesFromShingles(sh, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
    val pairs = verifyCandidates(candidatesFromBands(bands, idCol), sh, idCol, minJaccard)
      .select("id_a", "id_b").persist()
    pairs.count()
    sh.unpersist()
    val cc = Graph.connectedComponentsResult(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      edgesAreDistinctPairs = true)
    val (out, _) = Graph.snapshot(pairs
      .join(cc.labels.select(col("v").as("id_a"), col("component").as("comp_a")),
        Seq("id_a"))
      .join(cc.labels.select(col("v").as("id_b"), col("component").as("comp_b")),
        Seq("id_b"))
      .select("id_a", "id_b", "comp_a", "comp_b"))
    out.count()
    pairs.unpersist()
    cc.release()
    out
  }

  /** The STATIC asset for ingest-time decontamination: the distinct
    * n-gram shingles of the train corpus, with hot shingles (df over the
    * TRAIN rows > maxDf) dropped — boilerplate shared across many train
    * docs is not leakage evidence, and the cap bounds the set. Built
    * batch-side once; [[contaminationAgainst]] then checks any batch OR
    * stream of documents against it. */
  def trainShingleSet(trainDocs: DataFrame, idCol: String, textCol: String,
                      n: Int, maxDf: Int): DataFrame =
    // the two-phase cap's keep-set IS the answer here: distinct surviving
    // shingles — no join-back needed
    subCapShingleSet(shingleRows(trainDocs, idCol, textCol, n),
      _.filter(col("df") <= maxDf))

  /** Ingest-time contamination check of `docs` against a precomputed
    * [[trainShingleSet]]: per incoming doc, the count of its distinct
    * shingles present in the train set, plus the contaminated fraction.
    *
    * Written on plain DataFrames, so the SAME function runs in batch
    * (oracle-gated, q110) and behind `readStream`: the shingle explode is
    * stateless, the train-set join is a stream-static join, and the only
    * stateful op is the per-doc aggregation — the Structured Streaming
    * shape for guarding a training pipe's front door. */
  def contaminationAgainst(docs: DataFrame, trainSet: DataFrame,
                           idCol: String, textCol: String, n: Int): DataFrame =
    shingleRows(docs, idCol, textCol, n)
      .join(trainSet, Seq("s"))
      .groupBy(col(idCol), col("ns"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col(idCol), col("n_shared"), col("ns").cast("long").as("ns"),
        (col("n_shared").cast("double") / col("ns").cast("double")).as("frac"))

  /** SimHash banded near-dup pairs: split each `bits`-bit signature into
    * `bands` equal slices; docs sharing ANY slice are candidates, then
    * exact hamming distance is verified on candidates only. Pigeonhole
    * gives FULL recall at radius bands-1: hamming <= bands-1 errors cannot
    * dirty all `bands` slices, so at least one matches. The band equi-join
    * is the same scale shape as MinHash-LSH banding — never n². */
  def simhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    require(maxHamming <= bands - 1,
      s"banding only has full recall up to hamming ${bands - 1}")
    // signature packs into one BIGINT and (1L << width) wraps at 64 — both
    // cap the usable width at 63 bits
    require(bits > 0 && bits <= 63, s"bits=$bits must be in 1..63")
    val width = bits / bands
    val mask = (1L << width) - 1
    val bandRows = simhash(docs, idCol, textCol, bits)
      .select(col(idCol), col("simhash"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_idx"),
            shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))
              .as("band_val"))): _*)).as("band"))
      .select(col(idCol), col("simhash"), col("band.band_idx"), col("band.band_val"))
    val a = bandRows.select(col(idCol).as("id_a"), col("simhash").as("sig_a"),
      col("band_idx"), col("band_val"))
    val b = bandRows.select(col(idCol).as("id_b"), col("simhash").as("sig_b"),
      col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sig_a", "sig_b")
      .agg(count(lit(1)).as("shared_bands"))
      .withColumn("hamming",
        expr("CAST(bit_count(sig_a ^ sig_b) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "shared_bands", "hamming")
  }

  /** SimHash over tokens: `bits`-bit signature from md5-derived token
    * hashes; each token occurrence votes ±1 per bit. All-integer math —
    * engine-exact. One shuffle (groupBy doc). */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits > 0 && bits <= 63,
      s"bits=$bits must be in 1..63 (signature packs into one BIGINT)")
    val tok = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .withColumn("h", expr("CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)"))
    val votes = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"v$b"))
    val sig = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val packed = (0 until bits).map(b =>
      when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    sig.select(col(idCol), packed.as("simhash"))
  }

  /** One md5 per fixed-length character window at the given stride —
    * the exact-substring-dedup shape of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): a duplicated passage
    * shows up as a shared window hash even when the enclosing documents
    * differ. Docs shorter than the window emit no rows (the sequence bound
    * would be invalid, and a partial window is not a window).
    *
    * Scale: the explode fan-out is len/stride per document and stays
    * partition-local; everything downstream keys on the md5 hash, which is
    * uniform by construction — no skew regardless of corpus repetition. */
  def charWindowRows(docs: DataFrame, idCol: String, textCol: String,
      windowLen: Int, stride: Int, carryCols: Seq[String] = Nil): DataFrame = {
    require(windowLen > 0 && stride > 0, s"windowLen=$windowLen stride=$stride")
    val t = col(textCol)
    docs.filter(length(t) >= windowLen)
      .select((col(idCol) +: carryCols.map(col)) :+
        explode(transform(
          sequence(lit(1), length(t) - (windowLen - 1), lit(stride)),
          p => md5(t.substr(p, lit(windowLen))))).as("h"): _*)
  }

  /** Per-document duplicated-substring stats: of the doc's windows, how
    * many hash-collide with a window of ANOTHER document. Output
    * (id, n_windows, n_dup_windows, dup_ratio), one row per doc of
    * >= windowLen chars.
    *
    * Two shuffles, both keyed by the uniform window hash: the
    * count-distinct-docs aggregate, and the join of windows against the
    * duplicated-hash set (the dup set is corpus-sized at 100 TB, so it is
    * NOT broadcast — AQE may still choose to at toy SFs). */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
      windowLen: Int, stride: Int): DataFrame = {
    val w = charWindowRows(docs, idCol, textCol, windowLen, stride)
    val dup = w.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1).as("is_dup"))
    w.join(dup, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        count(col("is_dup")).as("n_dup_windows"))
      .withColumn("dup_ratio",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
  }

  /** Exact-substring RUN dedup (token-granular diagonal consolidation —
    * the suffix-array-free form of Lee et al. 2021's "Deduplicating
    * Training Data Makes Language Models Better"): for every doc pair
    * sharing at least one k-token shingle, the LONGEST verbatim shared
    * token span. Matching shingles at positions (pa, pb) lie on the
    * diagonal pa − pb; c consecutive shingles on one diagonal are ONE
    * verbatim run of c + k − 1 tokens. Output (da, db, max_run_tokens,
    * n_runs) for pairs whose longest run >= minRunTokens — the pairs a
    * span-level deduper would actually cut, where q114's window stats
    * only say "some 40-char window collided".
    *
    * Scale shape: candidates come ONLY from the shingle equi-join, and
    * shingles occurring in more than dfCap docs are dropped FIRST (the
    * q97/q105 df-cap rule — one stop-shingle pairs every doc with every
    * doc; pair fan-out is bounded by Σ_h df(h)² ≤ dfCap · Σ df). The
    * run-consolidation window partitions by (pair, diagonal) — never
    * wider than one pair's matches — and the uniform md5 shingle key
    * spreads both shuffles. Nothing touches the driver. */
  def substringRunStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int, dfCap: Int, minRunTokens: Int): DataFrame = {
    require(minRunTokens >= k, s"minRunTokens=$minRunTokens < k=$k")
    substringRuns(docs, idCol, textCol, k, dfCap)
      .groupBy("da", "db")
      .agg((max("rs") + (k - 1)).cast("long").as("max_run_tokens"),
        count(lit(1)).as("n_runs"))
      .filter(col("max_run_tokens") >= minRunTokens)
  }

  /** Shared diagonal-run detector behind [[substringRunStats]] (q195) and
    * [[substringRunCut]] (q214): one row per verbatim shared token run —
    * (da, db, diag, rs = consecutive shingles, a_start = min pos in da,
    * b_start = min pos in db), candidates from the df-capped shingle
    * equi-join only (see the q195 scaladoc for the scale argument). */
  private def substringRuns(docs: DataFrame, idCol: String, textCol: String,
      k: Int, dfCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k=$k too small for a shingle")
    val sh = docs.select(col(idCol), split(col(textCol), " ").as("sp"))
      .filter(size(col("sp")) >= k)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("sp")) - (k - 1)),
        i => struct(i.as("pos"),
          md5(concat_ws(" ",
            (0 until k).map(o => element_at(col("sp"), i + lit(o))): _*))
            .as("h"))))
        .as("s"))
      .select(col(idCol), col("s.pos").as("pos"), col("s.h").as("h"))
    val keep = sh.groupBy("h")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") <= dfCap && col("nd") >= 2)
      .select("h")
    val shk = sh.join(keep, Seq("h"))
    val a = shk.select(col("h"), col(idCol).as("da"), col("pos").as("pa"))
    val b = shk.select(col("h"), col(idCol).as("db"), col("pos").as("pb"))
    val w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    a.join(b, Seq("h")).filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("da", "db", "diag", "grp")
      .agg(count(lit(1)).as("rs"),
        min("pa").as("a_start"), min("pb").as("b_start"))
      .drop("grp")
  }

  /** Exact-substring span CUTTER — the other half of [[substringRunStats]]
    * (round-9 advice item 1, Lee et al. 2022's actual output): emit the
    * corpus with the longest verbatim shared span removed from the
    * NON-CANONICAL doc of each offending pair. Canonical per pair by the
    * q153 representative rule applied in-operator: more tokens wins,
    * smaller id on ties — the victim is the shorter doc (db on equal
    * length, since da < db). Per pair exactly ONE span is cut (its
    * longest run; ties → smallest b-side start, then smallest a-side
    * start — a fixed, victim-AGNOSTIC order, so both engines pick the
    * same winning run before the victim side is known; when the victim
    * is da the tie-break is therefore NOT the victim-side start, by
    * design — round-10 advice pinned the doc to the implementation); a
    * doc victimized by
    * several pairs accumulates several intervals, and every token inside
    * ANY interval is dropped. Output only the REWRITTEN docs:
    * (id, n_before, n_after, text), tokens re-joined on single spaces.
    *
    * Scale: run detection is the df-capped q195 pipeline; per-victim
    * interval lists are bounded by the df-capped pair fan-out and ride
    * one equi-join onto the docs; the rebuild is a narrow map (no
    * range join — the interval test is an array `exists` per token). */
  def substringRunCut(docs: DataFrame, idCol: String, textCol: String,
      k: Int, dfCap: Int, minRunTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minRunTokens >= k, s"minRunTokens=$minRunTokens < k=$k")
    val runs = substringRuns(docs, idCol, textCol, k, dfCap)
      .filter(col("rs") + (k - 1) >= minRunTokens)
    val nt = docs.select(col(idCol),
      size(split(col(textCol), " ")).as("ntok"))
    val wBest = Window.partitionBy("da", "db")
      .orderBy(col("rs").desc, col("b_start"), col("a_start"))
    val best = runs.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
    val cuts = best
      .join(nt.select(col(idCol).as("da"), col("ntok").as("na")), "da")
      .join(nt.select(col(idCol).as("db"), col("ntok").as("nb")), "db")
      .select(
        when(col("na") < col("nb"), col("da")).otherwise(col("db"))
          .as(idCol),
        when(col("na") < col("nb"), col("a_start")).otherwise(col("b_start"))
          .as("s"),
        (when(col("na") < col("nb"), col("a_start"))
          .otherwise(col("b_start")) + col("rs") + (k - 2)).as("e"))
    val iv = cuts.groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
    docs.select(col(idCol), split(col(textCol), " ").as("sp"))
      .join(iv, Seq(idCol))
      .select(col(idCol), col("sp"),
        transform(
          filter(sequence(lit(1), size(col("sp"))),
            p => !exists(col("iv"),
              i => i.getField("s") <= p && p <= i.getField("e"))),
          p => element_at(col("sp"), p)).as("keep"))
      .select(col(idCol),
        size(col("sp")).cast("long").as("n_before"),
        size(col("keep")).cast("long").as("n_after"),
        concat_ws(" ", col("keep")).as(textCol))
  }

  /** Separator-robust exact-dedup stats (round-9 advice item 5 — the
    * gated dedup family tokenizes on single spaces, which is right for
    * the fixture and wrong for real corpora): fingerprints are md5 over
    * the [[graft.functions.TextFunctions.tokensRe]] token stream re-joined
    * on single spaces, so two docs identical up to SEPARATORS — NBSP,
    * ideographic space U+3000, CJK punctuation, any non-letter/number run
    * — collapse to one fingerprint where the raw md5 sees distinct
    * documents. Output per group: (n_docs, n_unique_raw, n_unique_re,
    * n_re_dups); the raw-vs-re gap is exactly the dedup mass a
    * space-tokenized pipeline would miss on multilingual text. One
    * two-phase multi-distinct aggregate (Spark plans the expand), the
    * fingerprint itself a narrow codegen'd map — same scale shape as
    * q38. */
  def tokenNormalizedDedupStats(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    docs.select(col(groupCol),
        md5(col(textCol)).as("fp_raw"),
        md5(concat_ws(" ",
          graft.functions.TextFunctions.tokensRe(col(textCol))))
          .as("fp_re"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp_raw")).as("n_unique_raw"),
        countDistinct(col("fp_re")).as("n_unique_re"))
      .withColumn("n_re_dups", expr("n_docs - n_unique_re"))

  /** Cross-source substring leakage: per source, how many DISTINCT window
    * hashes it contains that also occur in at least one other source — the
    * "is snapshot B contaminated with snapshot A's text?" audit. Output
    * (src, n_shared_hashes), sources with zero shared hashes omitted.
    *
    * The distinct is keyed (source, h) and the share count by h — both
    * uniform md5 keys, two-phase aggregates. */
  def crossSourceWindowLeakage(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, windowLen: Int, stride: Int): DataFrame = {
    val w = charWindowRows(docs, idCol, textCol, windowLen, stride,
      carryCols = Seq(srcCol))
      .select(col(srcCol), col("h")).distinct()
    val shared = w.groupBy(col("h"))
      .agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2)
      .select("h")
    w.join(shared, Seq("h"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_shared_hashes"))
  }

  /** Incremental (cross-snapshot) substring dedup: probe a NEW crawl
    * against the window-hash set of the EXISTING corpus — the shape of
    * deduplicating snapshot N+1 against snapshot N without re-pairing the
    * old corpus with itself (old×old and new×new pairs are never formed).
    * `oldPred` splits the corpus on `srcCol`. Output one row per NEW
    * source: (src, n_new_docs, n_carryover_docs) where a carryover doc
    * shares >= 1 windowLen-char window hash with the old snapshot.
    *
    * Scale: the old side collapses to DISTINCT hashes (corpus-sized — NOT
    * broadcast; the probe is a shuffle equi-join on the uniform md5 key,
    * both sides pre-partitioned by it), then per-doc hits collapse via a
    * (src, doc) distinct before the per-source count. */
  // ---- deterministic Bloom membership sketch, DATA-shaped (the q128
  //      count-min precedent): m bits live as m/64 bigint words, bit
  //      functions are md5-derived — so the sketch is engine-reproducible
  //      and a SQL oracle replays it bit for bit, false positives
  //      included. At 100 TB the bitmap is m/64 rows REGARDLESS of corpus
  //      size — broadcast-legal where the exact distinct-hash set is a
  //      corpus-sized shuffle join (q125's correctly-never-broadcast
  //      probe), cutting the incremental-crawl membership check to a
  //      narrow map per window. ----

  /** Build the bitmap of a hash-string set: (word, bits) rows, word =
    * bit-position div 63 (63 bits per word — the sign bit stays clear).
    * Input need not be distinct (duplicate hashes OR the same bits). */
  def bloomBuild(hashes: DataFrame, hCol: String, mBits: Int, k: Int): DataFrame = {
    require(mBits >= 63, s"mBits=$mBits too small")
    require(k >= 1 && k <= 8, s"k=$k out of range")
    hashes.select(col(hCol).as("h"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(expr(("CAST(conv(substring(md5(concat(CAST(j AS STRING), ':', h)), " +
        s"1, 8), 16, 10) AS BIGINT) % $mBits")).as("pos"))
      // 63 bits per word: bit 63 is never set, so the packing stays clear
      // of the sign bit (DuckDB overflow-checks BIGINT << 63; Spark wraps)
      .select(expr("pos div 63").as("word"), expr("CAST(pos % 63 AS INT)").as("bit"))
      .groupBy("word").agg(expr("bit_or(shiftleft(1L, bit))").as("bits"))
  }

  /** Probe: append `bloom_hit` (all k bits set) to DISTINCT probe rows.
    * The bitmap broadcasts; the probe is a narrow map + one re-aggregation
    * keyed by the probe row — no corpus-sized shuffle join. No false
    * negatives by construction; false-positive rate is governed by the
    * caller's m/n sizing. */
  def bloomProbe(probes: DataFrame, bloom: DataFrame, hCol: String,
                 mBits: Int, k: Int): DataFrame = {
    val keyCols = probes.columns.map(col).toSeq
    probes
      .withColumn("_j", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("_pos", expr(("CAST(conv(substring(md5(concat(CAST(_j AS STRING), " +
        s"':', $hCol)), 1, 8), 16, 10) AS BIGINT) % $mBits")))
      .withColumn("_word", expr("_pos div 63"))
      .withColumn("_bit", expr("CAST(_pos % 63 AS INT)"))
      .join(broadcast(bloom.withColumnRenamed("word", "_word")), Seq("_word"), "left")
      .withColumn("_set",
        when(col("bits").isNotNull &&
          expr("shiftright(bits, _bit) & 1L") === 1L, 1).otherwise(0))
      .groupBy(keyCols: _*)
      .agg((sum(col("_set")) === k).as("bloom_hit"))
  }

  /** Gate-check form of Bloom-routed incremental dedup (q136; the
    * estimate-vs-exact pattern of q57/q89/q96): the Bloom path flags each
    * NEW doc whose windows hit crawl N's bitmap, the exact q125 join runs
    * beside it, and the per-source verdicts assert the sketch's two
    * defining properties — no false negatives, and false positives inside
    * the `fprBudget` share of new docs. In production only the Bloom
    * branch runs (build the bitmap once per crawl, probe the next crawl as
    * a narrow map); the exact join is the oracle twin. */
  def crossSnapshotCarryoverBloom(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, oldPred: Column, windowLen: Int,
      stride: Int, mBits: Int, k: Int, fprBudget: Double): DataFrame = {
    val w = charWindowRows(docs, idCol, textCol, windowLen, stride,
      carryCols = Seq(srcCol))
    val old = w.filter(oldPred).select(col("h")).distinct()
    val newW = w.filter(!oldPred)
      .select(col(srcCol), col(idCol), col("h")).distinct()
    val bloomCarry = bloomProbe(newW, bloomBuild(old, "h", mBits, k),
        "h", mBits, k)
      .filter(col("bloom_hit"))
      .select(col(srcCol), col(idCol)).distinct()
      .groupBy(col(srcCol)).agg(count(lit(1)).as("n_carry_bloom"))
    val exactCarry = newW.join(old.hint("shuffle_hash"), Seq("h"))
      .select(col(srcCol), col(idCol)).distinct()
      .groupBy(col(srcCol)).agg(count(lit(1)).as("n_carry_exact"))
    docs.filter(!oldPred)
      .groupBy(col(srcCol)).agg(count(lit(1)).as("n_new_docs"))
      .join(exactCarry, Seq(srcCol), "left")
      .join(bloomCarry, Seq(srcCol), "left")
      .select(col(srcCol), col("n_new_docs"),
        coalesce(col("n_carry_exact"), lit(0L)).as("n_carry_exact"),
        coalesce(col("n_carry_bloom"), lit(0L)).as("n_carry_bloom"),
        (coalesce(col("n_carry_bloom"), lit(0L)) >=
          coalesce(col("n_carry_exact"), lit(0L))).as("no_false_negatives"),
        ((coalesce(col("n_carry_bloom"), lit(0L)) -
          coalesce(col("n_carry_exact"), lit(0L))).cast("double") <=
          col("n_new_docs").cast("double") * fprBudget).as("fpr_ok"))
  }

  def crossSnapshotCarryover(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, oldPred: Column, windowLen: Int, stride: Int): DataFrame = {
    val w = charWindowRows(docs, idCol, textCol, windowLen, stride,
      carryCols = Seq(srcCol))
    val old = w.filter(oldPred).select(col("h")).distinct()
    val hits = w.filter(!oldPred)
      .join(old.hint("shuffle_hash"), Seq("h"))
      .select(col(srcCol), col(idCol)).distinct()
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_carryover_docs"))
    docs.filter(!oldPred)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_new_docs"))
      .join(hits, Seq(srcCol), "left")
      .select(col(srcCol), col("n_new_docs"),
        coalesce(col("n_carryover_docs"), lit(0L)).as("n_carryover_docs"))
  }
}
