package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction over word types — the tokenizer-
  * TRAINING step adjacent to q111's vocabulary ranking (the Sennrich-style
  * iterative top-pair merge every subword tokenizer pipeline runs) — plus
  * the APPLY step ([[encoded]]) that re-segments the corpus with the
  * trained merges.
  *
  * Scale shape: ONE corpus scan builds the word-TYPE table (distinct token
  * × frequency — vocab-sized, millions of rows at 100 TB, never
  * corpus-sized); every round then runs over types only: one two-phase
  * pair-count aggregation (map-side partial over the per-type symbol
  * arrays) and one top-1 TakeOrdered. The winning merge is collected
  * driver-side — one (left, right) row per round, the k-means-centroid
  * argument — and applied as a LITERAL fold expression over the PREVIOUS
  * round's MATERIALIZED symbol arrays (each round persists its frame; the
  * round's own pair-count action populates the cache, then the prior
  * round's cache is released). Round r+1 therefore evaluates exactly ONE
  * fold per type, not r nested folds — without the per-round cache the
  * accumulated Column expression re-runs every prior merge on every round,
  * O(rounds²) fold work that dominated the measured wall-clock.
  *
  * Determinism (cross-engine, see Q.scala): greedy left-to-right merge
  * application as a fold over a '|'-delimited accumulator string —
  * `ends_with(acc, '|' + left)` tests the accumulator's LAST SYMBOL
  * exactly (the delimiter can't occur inside a symbol), which reproduces
  * BPE's standard single-pass greedy semantics ("aaa" + (a,a) → "aa","a");
  * ties in pair frequency break by (left, right) ascending.
  */
object Bpe {

  // Per-round state snapshotting — why BOTH lineages must be cut:
  //
  //  - LOGICAL: the plan accretes every prior round's fold expressions,
  //    and each action pays O(plan) in driver-side plan-STRING
  //    generation alone (SparkListenerSQLExecutionStart renders the
  //    plan whether or not the UI is on) — measured: 32 sequential
  //    rounds spent >20 CPU-minutes inside TreeNode.generateTreeString
  //    before rebasing; after, each round's plan is one LogicalRDD scan.
  //  - PHYSICAL: a persist-only rebase (createDataFrame(df.rdd, schema))
  //    leaves the RDD DEPENDENCY chain growing one link per round, and
  //    task serialization walks it recursively — measured: a 64-pass
  //    batched run died with StackOverflowError at ~pass 45
  //    (BASELINE.md, round-8 deep-BPE record). Real tokenizer depth is 100s-1000s of
  //    passes, so the chain must be truncated, not just cached.
  //
  // Graph.snapshot cuts both (checkpoint-style truncation; reliable
  // checkpoint when a dir is configured, else localCheckpoint) and
  // returns the storage handle Graph.release frees. The superseded
  // round is released only AFTER the current round's action has
  // materialized the new snapshot — a truncated snapshot cannot be
  // recomputed, so releasing its predecessor early would strand it.

  /** Word-TYPE table for `textCol`: (freq, syms) with syms the per-
    * character initial segmentation. ASCII-alnum tokens only (see
    * [[merges]]' cross-engine character-counting note). */
  private def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(graft.functions.TextFunctions.tokensRe(col(textCol))).as("tok"))
      .filter(col("tok").rlike("^[A-Za-z0-9]+$"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(col("freq"), transform(
        sequence(lit(1), length(col("tok"))),
        i => col("tok").substr(i, lit(1))).as("syms"))

  /** Greedy left-to-right application of ONE merge (l, rt) to a symbol
    * array, as a literal fold; symbols are alnum-only, so embedding the
    * pair in the expression is safe.
    *
    * The leading-delimiter strip MUST reference `folded` exactly once
    * (substr to MaxValue, not substr(2, length(folded))): [[encoded]]
    * chains `rounds` of these in ONE expression, and a second reference
    * per level doubles the tree each round — 2^rounds expression blowup
    * that analysis and codegen never come back from. */
  private def applyMerge(syms: Column, l: String, rt: String): Column = {
    val folded = aggregate(syms, lit(""), (acc, x) =>
      when(x === lit(rt) && acc.endsWith(s"|$l"),
        concat(acc.substr(lit(1), length(acc) - lit(l.length + 1)),
          lit("|" + l + rt)))
        .otherwise(concat(acc, lit("|"), x)))
    split(folded.substr(lit(2), lit(Int.MaxValue)), "[|]")
  }

  /** The first `rounds` BPE merges: (round, lft, rgt, pair_freq).
    *
    * `tokens` must yield symbols free of `'|'` and of any character whose
    * UTF-16 unit count differs from its codepoint count — the gated query
    * restricts to ASCII alphanumeric tokens (Spark `length` counts UTF-16
    * units, DuckDB codepoints; astral-plane symbols would diverge).
    * Stops early if the corpus runs out of adjacent pairs. */
  def merges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds > 0 && rounds <= 256, s"rounds=$rounds out of range")
    val spark = docs.sparkSession
    import spark.implicits._
    var (cur, curSnap) = Graph.snapshot(wordTypes(docs, textCol))
    // previous round's snapshot: held until the current round's
    // pair-count action has materialized cur (see the snapshot note)
    var prevSnap: Option[org.apache.spark.rdd.RDD[_]] = None
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val best = cur.select(col("freq"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum("freq").as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r")).limit(1)
        .collect()
      prevSnap.foreach(Graph.release)
      prevSnap = None
      if (best.isEmpty) dry = true
      else {
        val l = best.head.getString(0)
        val rt = best.head.getString(1)
        val pf = best.head.getLong(2)
        out += ((r, l, rt, pf))
        if (r < rounds) {
          val (nextDf, nextSnap) = Graph.snapshot(cur
            .select(col("freq"), applyMerge(col("syms"), l, rt).as("syms")))
          prevSnap = Some(curSnap)
          cur = nextDf
          curSnap = nextSnap
        }
      }
      r += 1
    }
    Graph.release(curSnap)
    prevSnap.foreach(Graph.release)
    out.toSeq.toDF("round", "lft", "rgt", "pair_freq")
  }

  /** The APPLY step: the word-type table re-segmented by the first
    * `rounds` trained merges — (freq, syms) with syms the trained subword
    * segmentation. Trains via [[merges]] (collecting the tiny merge list
    * driver-side), then applies all merges IN ORDER as one lazy fold
    * chain evaluated in a single pass over types — `rounds` folds total,
    * once, unlike training where each round must re-aggregate (so there
    * is nothing to cache here). A corpus encode at scale is this exact
    * plan: vocab-sized input, narrow map out. */
  def encoded(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    applyMerges(docs, textCol,
      merges(docs, textCol, rounds).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** All trained merges applied IN ORDER to every word type — as a typed
    * map, not a chain of [[applyMerge]] HOFs: ten nested `aggregate`
    * lambdas cost ~5–6 s of driver-side analysis + codegen PER RUN
    * (measured at sf0.1 — fixed cost, independent of data size), while
    * this plan is one deserialize/map/serialize over the vocab-sized type
    * table. The Scala fold reproduces [[applyMerge]]'s greedy
    * left-to-right semantics exactly (merge the pair when the
    * accumulator's LAST symbol is `l`; "aaa" + (a,a) → "aa","a") — the
    * q141 oracle replays the HOF formulation, so any drift between the
    * two breaks the hash. */
  private def applyMerges(docs: DataFrame, textCol: String,
      ms: Seq[(String, String)]): DataFrame =
    applyToTypes(wordTypes(docs, textCol), ms)

  /** The same greedy in-order merge application over an existing
    * (freq, syms) type table — shared by [[applyMerges]] and the batched
    * trainer's per-pass state transition. */
  private def applyToTypes(types: DataFrame,
      ms: Seq[(String, String)]): DataFrame = {
    val spark = types.sparkSession
    import spark.implicits._
    types.as[(Long, Seq[String])].map { case (freq, syms0) =>
      var cur: Seq[String] = syms0
      ms.foreach { case (l, rt) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        cur.foreach { x =>
          if (x == rt && out.nonEmpty && out.last == l)
            out(out.size - 1) = l + rt
          else out += x
        }
        cur = out.toSeq
      }
      (freq, cur)
    }.toDF("freq", "syms")
  }

  /** BATCHED merge induction — the 100 TB-scale trainer (round-5 verdict
    * item 3). [[merges]] launches one pair-count Spark job PER merge; a
    * real tokenizer runs ~30k merges, which would be 30k jobs. This
    * variant runs `passes` corpus passes and selects UP TO `batchSize`
    * merges per pass, cutting jobs-per-merge by ~batchSize×
    * (BpeBatchedSpec measures the reduction).
    *
    * Selection rule per pass (deterministic, oracle-replayed by q174):
    * rank pairs by (pair_freq DESC, lft, rgt); window to the top
    * K = 4·batchSize; walk the window in rank order keeping a pair iff
    * it has no ADJACENT conflict with any already-kept pair — its left
    * symbol equals no kept pair's right, and its right equals no kept
    * pair's left — stopping at `batchSize` kept; the kept pairs are
    * applied greedily IN RANK ORDER (the oracle replays the walk as a
    * recursive CTE carrying the kept-left/kept-right lists). Adjacency is
    * the exact interaction criterion for merge SITES: (x,y) then (y,z)
    * overlap on "x y z", but two pairs sharing only a left (or only a
    * right) symbol can never claim the same occurrence, so they commute
    * and the batch equals the same merges run sequentially on the pass's
    * counts. (A kept pair's PRODUCED symbol can create fresh sites for a
    * later kept pair whose left is the concatenation — deterministic in
    * both engines since application order is fixed; a mild, documented
    * drift from pure one-merge-per-count-refresh Sennrich training.)
    * Full batches survive selection until the corpus's top-pair supply
    * thins (measured 16/16 kept for the first 5 passes at batchSize 16).
    *
    * Output: (batch, j, lft, rgt, pair_freq) with j the within-batch
    * apply order. The pass count is FIXED (not "until totalMerges"):
    * conflict-heavy passes keep fewer than batchSize merges, and a fixed
    * pass count is what a static SQL oracle can replay. */
  def mergesBatched(docs: DataFrame, textCol: String, passes: Int,
      batchSize: Int): DataFrame = {
    // caps sized for real tokenizer training (~30k merges = 256 passes
    // × 128, or any equivalent split) — BASELINE.md's round-8 deep-BPE
    // record has the measured wall/jobs-per-merge curve that makes the
    // 30k cost arithmetic, and the per-pass cost model
    require(passes > 0 && passes <= 1024, s"passes=$passes out of range")
    require(batchSize > 0 && batchSize <= 256, s"batchSize=$batchSize out of range")
    val spark = docs.sparkSession
    import spark.implicits._
    val topK = batchSize * 4
    var (cur, curSnap) = Graph.snapshot(wordTypes(docs, textCol))
    var prevSnap: Option[org.apache.spark.rdd.RDD[_]] = None
    val out = scala.collection.mutable.ListBuffer
      .empty[(Int, Int, String, String, Long)]
    var b = 1
    var dry = false
    while (b <= passes && !dry) {
      val ranked = cur.select(col("freq"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (x, y) => struct(x.as("l"), y.as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum("freq").as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r")).limit(topK)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      prevSnap.foreach(Graph.release)
      prevSnap = None
      if (ranked.isEmpty) dry = true
      else {
        val keptLefts = scala.collection.mutable.Set.empty[String]
        val keptRights = scala.collection.mutable.Set.empty[String]
        val kept = scala.collection.mutable.ListBuffer
          .empty[(String, String, Long)]
        for ((l, rt, pf) <- ranked) {
          // ADJACENT-conflict rule: candidate (l,rt) interacts with a kept
          // pair (jl,jr) only through chain adjacency — l == jr ("jl jr
          // rt" overlaps at jr) or rt == jl ("l jl jr" overlaps at jl).
          // Sharing a LEFT (or a RIGHT) symbol is site-disjoint: one
          // occurrence of 'a' cannot head both "a b" and "a c", so such
          // pairs can't steal each other's merge sites.
          if (kept.size < batchSize && !keptRights.contains(l) &&
              !keptLefts.contains(rt)) {
            kept += ((l, rt, pf))
            keptLefts += l
            keptRights += rt
          }
        }
        out ++= kept.zipWithIndex.map { case ((l, rt, pf), j) =>
          (b, j + 1, l, rt, pf)
        }
        if (b < passes && kept.nonEmpty) {
          val (nextDf, nextSnap) = Graph.snapshot(
            applyToTypes(cur, kept.map(k => (k._1, k._2)).toSeq))
          prevSnap = Some(curSnap)
          cur = nextDf
          curSnap = nextSnap
        }
      }
      b += 1
    }
    Graph.release(curSnap)
    prevSnap.foreach(Graph.release)
    out.toSeq.toDF("batch", "j", "lft", "rgt", "pair_freq")
  }

  /** Decode (pieces → text) round-trip gate (round-5 verdict item 6):
    * re-concatenating every encoded type's symbols must reproduce the
    * original word-type table exactly — same words, same frequencies,
    * corpus-wide. Returns ONE row (n_types, n_roundtrip); the gate holds
    * iff they're equal. Full outer join so a lost OR invented word both
    * surface as a non-matching row. */
  def decodeRoundTrip(docs: DataFrame, textCol: String,
      rounds: Int): DataFrame = {
    val rec = encoded(docs, textCol, rounds)
      .groupBy(concat_ws("", col("syms")).as("w"))
      .agg(sum("freq").as("f_rec"))
    val orig = wordTypes(docs, textCol)
      .groupBy(concat_ws("", col("syms")).as("w"))
      .agg(sum("freq").as("f_orig"))
    rec.join(orig, Seq("w"), "full")
      .agg(count(lit(1)).cast("long").as("n_types"),
        sum(when(col("f_rec") === col("f_orig"), 1).otherwise(0)).cast("long")
          .as("n_roundtrip"))
  }

  // cacheKey -> trained merge list (tiny: `rounds` string pairs). Values
  // are small but the map must not grow without bound across arbitrary
  // caller keys (TempDirs/KeepList lifecycle convention): bounded at
  // MaxCacheEntries; when full, ONE arbitrary entry is evicted rather
  // than clearing wholesale (IvfAdcIndex.buildCached's rule — hot
  // entries survive). Re-training after an eviction is correct (the
  // merge list is deterministic per dataset), just un-memoized once.
  private val MaxCacheEntries = 64
  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  /** The trained merge list itself, memoized per `cacheKey` — the
    * driver-side artifact [[saveMerges]] persists and every encode
    * applies. Deterministic per dataset (the [[merges]] contract). */
  def trainedMerges(docs: DataFrame, textCol: String, rounds: Int,
      cacheKey: String): Seq[(String, String)] = {
    // cacheKey is a data dir in practice — canonicalize so '/x' and '/x/'
    // share one entry
    val k = s"${new java.io.File(cacheKey).getCanonicalPath}|$textCol|$rounds"
    if (mergeCache.size >= MaxCacheEntries && !mergeCache.containsKey(k))
      mergeCache.remove(mergeCache.keys().nextElement())
    mergeCache.computeIfAbsent(k, _ =>
      merges(docs, textCol, rounds).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
  }

  /** ---- tokenizer-artifact persistence (the tokenizer.json analog of
    * IvfAdcIndex.save/load): a trained BPE tokenizer IS its ordered
    * merge list — rounds-many string pairs, driver-sized by definition —
    * so the artifact is a small versioned text file: one header line,
    * then one TAB-separated `lft<TAB>rgt` line per merge IN TRAINING
    * ORDER (application order is the semantics; a reordered list is a
    * different tokenizer). Symbols are the corpus's word characters —
    * the gated queries restrict to ASCII alnum, and [[merges]] already
    * excludes '|'; a TAB can never appear inside a symbol because
    * [[wordTypes]] tokenizes on non-word boundaries. UTF-8 on both
    * sides. ---- */
  private val ArtifactHeader = "graft-bpe-merges v1"

  /** Persist a trained merge list at `path` (a plain file). */
  def saveMerges(ms: Seq[(String, String)], path: String): Unit = {
    val body = (ArtifactHeader +: ms.map { case (l, r) => s"$l\t$r" })
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Load a [[saveMerges]] artifact; refuses an unversioned/foreign file
    * rather than silently mis-encoding with a wrong merge list. */
  def loadMerges(path: String): Seq[(String, String)] = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8)
    require(!lines.isEmpty && lines.get(0) == ArtifactHeader,
      s"$path is not a $ArtifactHeader artifact")
    import scala.jdk.CollectionConverters._
    lines.asScala.drop(1).filter(_.nonEmpty).map { ln =>
      val i = ln.indexOf('\t')
      require(i > 0 && ln.indexOf('\t', i + 1) < 0,
        s"malformed merge line in $path: '$ln'")
      (ln.substring(0, i), ln.substring(i + 1))
    }.toSeq
  }

  /** Encode with a LOADED artifact (no training): the word-type table
    * re-segmented by the artifact's merges in order — what a production
    * corpus encode runs nightly against a tokenizer trained once. */
  def encodedWith(docs: DataFrame, textCol: String,
      ms: Seq[(String, String)]): DataFrame =
    applyMerges(docs, textCol, ms)
}
