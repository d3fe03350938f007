package graft

import graft.operators.{IvfAdcIndex, Similarity}
import org.apache.spark.sql.functions._

/** Gates for the [[IvfAdcIndex]] build-once/query-many serving lifecycle
  * (round-7 verdict item 1): the handle must serve EXACTLY what the
  * inline one-shot q184 pipeline computes, must never re-pay build work
  * on later queries, and must actually free its storage on release().
  * The q185 gate complements this spec cross-engine: handle-served rows
  * hash-match the same DuckDB oracle as q184 at three SFs.
  */
class AnnIndexSpec extends SparkTestBase {

  private lazy val emb = Tables.t(spark, Sf, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  // one handle shared by the serving tests; the lifecycle test below
  // builds (and releases) its own
  private lazy val idx = IvfAdcIndex.build(emb, "vec_id", "embedding",
    nlist = 8, trainRounds = 2, m = 16, ksub = 8, dim = 64,
    pqTrainRounds = 2)

  // the q190 maintenance loop's index: build over a corpus, serve the
  // canary sample
  private def ivfBuild(corpus: org.apache.spark.sql.DataFrame) =
    IvfAdcIndex.build(corpus, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
  private def ivfRows(i: IvfAdcIndex, qs: org.apache.spark.sql.DataFrame) =
    i.query(qs, k = 5, candidates = 50, nprobe = 2).collect()

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "nid", "d2", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet

  private def jobsIn(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("handle-served query() ≡ the inline ivfAdcKnn pipeline row-for-row") {
    val served = rows(idx.query(queries, k = 5, candidates = 50, nprobe = 2))
    val inline = rows(Similarity.ivfAdcKnn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 50, nlist = 8, nprobe = 2,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2))
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("the handle's index plan is a flat scan; query() never re-encodes " +
    "the corpus") {
    // the flat-lineage rebase must leave the index a bare scan of the
    // materialized RDD — if CollapseProject ever folded the m·ksub encode
    // argmins back in, both plans would carry `least(` expression trees
    // (encode is the ONLY least() user on this route: routing is a
    // window, ADC tables are plain arrays)
    assert(idx.codes.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      s"index plan is not a flat RDD scan:\n${idx.codes.queryExecution.optimizedPlan}")
    val plan = idx.query(queries, k = 5, candidates = 50, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("least("),
      s"query plan re-encodes the corpus (encode argmin present):\n$plan")
  }

  test("second query() launches no more jobs than the first (no hidden rebuild)") {
    def serve(): Unit =
      idx.query(queries, k = 5, candidates = 50, nprobe = 2).count()
    serve() // ensure the shared lazy handle's build cost is fully paid
    val first = jobsIn("ann-serve-1")(serve())
    val second = jobsIn("ann-serve-2")(serve())
    assert(second <= first,
      s"second query launched MORE jobs ($second) than the first ($first)")
  }

  test("release() frees every block the build persisted") {
    // drop the suite's shared handle first: an identical analyzed plan
    // would otherwise dedupe in the CacheManager and register no new
    // block, leaving this test nothing to observe
    idx.release()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val own = IvfAdcIndex.build(emb, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "build() persisted nothing")
    // results materialized before release stay valid afterwards
    val served = rows(own.query(queries, k = 5, candidates = 50, nprobe = 2))
    own.release()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((added & after).isEmpty,
      s"release() left blocks persisted: ${added & after}")
    assert(served.nonEmpty)
  }

  test("append: frozen-quantizer delta encode — empty delta is a no-op, " +
    "counts add up, the base handle is untouched") {
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val baseIdx = IvfAdcIndex.build(base, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val baseRows = rows(baseIdx.query(queries, k = 5, candidates = 50,
      nprobe = 2))
    // empty delta: same inverted lists, same answers
    val noop = baseIdx.append(delta.filter(lit(false)))
    assert(rows(noop.query(queries, k = 5, candidates = 50, nprobe = 2))
      === baseRows)
    noop.release()
    // real delta: the index holds base + delta codes (no row lost or
    // re-encoded twice), and the ORIGINAL handle still serves the
    // base-only answers — append returns a new handle, never mutates
    val appended = baseIdx.append(delta)
    assert(appended.codes.count() === emb.count())
    assert(appended.codes.filter(col("nid") >= 400).count() === delta.count())
    assert(rows(baseIdx.query(queries, k = 5, candidates = 50, nprobe = 2))
      === baseRows)
    appended.release()
    baseIdx.release()
  }

  test("compact: serving is row-for-row identical, storage is independent " +
    "of the fragmented source, release frees the compacted blocks") {
    val base = emb.filter(col("vec_id") < 400)
    val baseIdx = IvfAdcIndex.build(base, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val appended = baseIdx.append(emb.filter(col("vec_id") >= 400))
    baseIdx.release()
    val appendedRows = rows(appended.query(queries, k = 5, candidates = 50,
      nprobe = 2))
    val compacted = appended.compact()
    // pure storage reorganization: same rows served
    assert(rows(compacted.query(queries, k = 5, candidates = 50, nprobe = 2))
      === appendedRows)
    assert(compacted.codes.count() === emb.count())
    // storage independence: releasing the fragmented source must not
    // invalidate the compacted handle (its blocks were materialized by
    // compact() itself)
    appended.release()
    assert(rows(compacted.query(queries, k = 5, candidates = 50, nprobe = 2))
      === appendedRows)
    // lineage truncation (the round-9 advice fix): the compacted handle's
    // storage must not be a cache whose lineage still threads through the
    // released source — after Graph.snapshot the dependency chain is a
    // shallow checkpoint scan, so recovery never replays the source's
    // (now-deleted) snapshot storage
    val lineage = compacted.codes.rdd.toDebugString
    assert(lineage.contains("CheckpointRDD"),
      s"compacted lineage not checkpoint-terminated:\n$lineage")
    assert(!lineage.toLowerCase.contains("union"),
      s"compacted lineage still threads the source's union legs:\n$lineage")
    // release accounting: the compacted blocks disappear from the
    // persistent-RDD registry
    val held = spark.sparkContext.getPersistentRDDs.keySet
    compacted.release()
    val freed = held -- spark.sparkContext.getPersistentRDDs.keySet
    assert(freed.nonEmpty, "compacted.release() freed no blocks")
  }

  test("append chains stay serviceable at nightly-delta depth (60 appends)") {
    // a year of nightly deltas is ~365 sequential appends — the same
    // depth regime where the BPE trainer's persist chain overflowed the
    // stack (BASELINE.md round 8). Each append must truncate, not grow,
    // the serialized lineage; superseded handles release as they go.
    val base = emb.filter(col("vec_id") < 140)
    var idx = IvfAdcIndex.build(base, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val expected = rows(Similarity.ivfAdcKnn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 50, nlist = 8, nprobe = 2,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2))
    for (i <- 0 until 60) {
      val lo = 140 + i * 6
      val next = idx.append(
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 6))
      idx.release()
      idx = next
    }
    // after 60 appends the index serves base ∪ all deltas = vec_id < 500
    assert(idx.codes.count() === emb.filter(col("vec_id") < 500).count())
    val served = rows(idx.query(queries, k = 5, candidates = 50, nprobe = 2))
    // NOTE the quantizers differ (trained on 140 rows, not the corpus),
    // so only sanity is asserted on results, not equality with `expected`
    assert(served.nonEmpty && served.map(_._1).toSet === expected.map(_._1).toSet)
    // compaction at depth: 60 appends leave the lists spread over 61
    // union legs' partitions — compact collapses storage to ONE shuffle's
    // worth of partitions and serving is unchanged (the regime compact()
    // exists for; q205 gates the single-append case hash-exactly)
    val fragParts = idx.codes.rdd.getNumPartitions
    val compacted = idx.compact()
    idx.release()
    val compactParts = compacted.codes.rdd.getNumPartitions
    assert(compactParts < fragParts,
      s"compact did not reduce partitions: $fragParts -> $compactParts")
    assert(compactParts <=
      spark.sessionState.conf.numShufflePartitions)
    assert(rows(compacted.query(queries, k = 5, candidates = 50, nprobe = 2))
      === served)
    compacted.release()
  }

  test("delete: removed ids never resurface, the source handle is " +
    "unaffected, storage is independent") {
    val idx = IvfAdcIndex.build(emb, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val before = rows(idx.query(queries, k = 5, candidates = 50, nprobe = 2))
    val delIds = emb.filter(col("vec_id") % 10 === 3)
    val nDel = delIds.count()
    val pruned = idx.delete(delIds, "vec_id")
    // codes shrink by exactly the deleted set; nothing else moves
    assert(pruned.codes.count() === emb.count() - nDel)
    assert(pruned.codes.filter(col("nid") % 10 === 3).count() === 0)
    // served results never contain a deleted id — candidate AND rerank
    val after = rows(pruned.query(queries, k = 5, candidates = 50,
      nprobe = 2))
    assert(after.nonEmpty && after.forall(_._2 % 10 != 3))
    // the source handle still serves the full corpus (delete = new handle)
    assert(rows(idx.query(queries, k = 5, candidates = 50, nprobe = 2))
      === before)
    // independent storage: release the source, the pruned handle survives
    idx.release()
    assert(rows(pruned.query(queries, k = 5, candidates = 50, nprobe = 2))
      === after)
    pruned.release()
  }

  test("persisted lifecycle chain: load → append → compact → save → load " +
    "serves identically to the in-memory append path") {
    // the q216 nightly path: every hop goes through the on-disk artifact
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    // reference: pure in-memory append (the q187-gated shape)
    val refBase = IvfAdcIndex.build(base, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val refIdx = refBase.append(delta)
    refBase.release()
    val expected = rows(refIdx.query(queries, k = 5, candidates = 50,
      nprobe = 2))
    refIdx.release()
    // chain: build → save → load → append → compact → save → load → serve
    val night0 = TempDirs.create("graft-annchain-spec0").toString
    val night1 = TempDirs.create("graft-annchain-spec1").toString
    val built = IvfAdcIndex.build(base, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    built.save(night0)
    built.release()
    val loaded = IvfAdcIndex.load(spark, night0, base)
    val appended = loaded.append(delta)
    loaded.release()
    val compacted = appended.compact()
    appended.release()
    compacted.save(night1)
    compacted.release()
    val serving = IvfAdcIndex.load(spark, night1, emb)
    assert(rows(serving.query(queries, k = 5, candidates = 50, nprobe = 2))
      === expected)
    // the night-1 artifact is complete (all four tables present)
    for (part <- Seq("codes", "codebook", "centroids", "params"))
      assert(new java.io.File(s"$night1/$part").isDirectory, part)
    serving.release()
  }

  test("save→load round-trip: the loaded handle serves row-for-row " +
    "identical results with zero training/encode work, and releases cleanly") {
    val own = IvfAdcIndex.build(emb, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val expected = rows(own.query(queries, k = 5, candidates = 50, nprobe = 2))
    val dir = TempDirs.create("graft-annidx-spec").toString
    own.save(dir)
    own.release()
    // the load path must never train or encode: a build is ~20 jobs of
    // Lloyd/PQ collects plus a corpus encode; a load is four bounded
    // artifact reads plus one materializing count
    var loaded: IvfAdcIndex = null
    val loadJobs = jobsIn("ann-load")({
      loaded = IvfAdcIndex.load(spark, dir, emb)
    })
    assert(loadJobs <= 10,
      s"load launched $loadJobs jobs — artifact reads should be bounded")
    val plan = loaded.query(queries, k = 5, candidates = 50, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("least("),
      s"loaded-handle query plan re-encodes the corpus:\n$plan")
    val served = rows(loaded.query(queries, k = 5, candidates = 50, nprobe = 2))
    assert(served === expected)
    // release frees the cache blocks; the on-disk artifact survives, so
    // a second load serves the same answers again
    val before = spark.sparkContext.getPersistentRDDs.keySet
    loaded.release()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((before -- after).nonEmpty, "release() freed no loaded blocks")
    val reloaded = IvfAdcIndex.load(spark, dir, emb)
    assert(rows(reloaded.query(queries, k = 5, candidates = 50, nprobe = 2))
      === expected)
    reloaded.release()
  }

  test("save is idempotent: a second save overwrites in place and a load " +
    "of the re-saved artifact still matches") {
    val own = IvfAdcIndex.build(emb, "vec_id", "embedding", nlist = 8,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
    val expected = rows(own.query(queries, k = 5, candidates = 50, nprobe = 2))
    val dir = TempDirs.create("graft-annidx-spec2").toString
    own.save(dir)
    own.save(dir)
    own.release()
    val loaded = IvfAdcIndex.load(spark, dir, emb)
    assert(rows(loaded.query(queries, k = 5, candidates = 50, nprobe = 2))
      === expected)
    loaded.release()
  }

  test("buildCached memoizes per (cacheKey, corpus plan, params) — a " +
    "different corpus under the same key gets its OWN index") {
    val a = IvfAdcIndex.buildCached(emb, Sf, "vec_id", "embedding",
      nlist = 8, trainRounds = 2, m = 16, ksub = 8, dim = 64)
    val b = IvfAdcIndex.buildCached(emb, Sf, "vec_id", "embedding",
      nlist = 8, trainRounds = 2, m = 16, ksub = 8, dim = 64)
    assert(a eq b, "identical build args did not share one handle")
    // the ADVICE hazard: same cacheKey, filtered corpus — silently
    // sharing a's index would answer with neighbors the filtered corpus
    // doesn't contain
    val half = emb.filter(col("vec_id") % 2 === 0)
    val c = IvfAdcIndex.buildCached(half, Sf, "vec_id", "embedding",
      nlist = 8, trainRounds = 2, m = 16, ksub = 8, dim = 64)
    assert(!(c eq a), "a filtered corpus silently shared the full-corpus index")
    val odd = c.query(queries, k = 5, candidates = 50, nprobe = 2)
      .filter(col("nid") % 2 =!= 0).count()
    assert(odd === 0, "index built on the even-id corpus served odd-id neighbors")
  }

  test("adaptiveNlist scales by occupancy (power-of-two, clamped) and the " +
    "adaptive route equals the fixed route at the computed cell count") {
    import graft.operators.Similarity.adaptiveNlist
    // smallest power-of-two k with 64·k >= n, floor 8 — the integer
    // formula the q192 nl CTE replays
    assert(adaptiveNlist(1) === 8)
    assert(adaptiveNlist(512) === 8)
    assert(adaptiveNlist(513) === 16)
    assert(adaptiveNlist(2000) === 32)
    assert(adaptiveNlist(64L << 19) === 1 << 19)
    assert(adaptiveNlist(Long.MaxValue) === 1 << 20) // cap
    assert(adaptiveNlist(100, targetCell = 4) === 32)
    val n = emb.count()
    val k = adaptiveNlist(n)
    val adaptive = rows(Similarity.ivfAdcKnnAdaptive(queries, emb,
      "vec_id", "embedding", k = 5, candidates = 50, nprobe = 2,
      trainRounds = 2, m = 16, ksub = 8, dim = 64))
    val fixed = rows(Similarity.ivfAdcKnn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 50, nlist = k, nprobe = 2,
      trainRounds = 2, m = 16, ksub = 8, dim = 64))
    assert(adaptive === fixed)
    assert(adaptive.nonEmpty)
  }

  test("streaming maintenance: three real micro-batches each append and " +
    "record a canary verdict; the final state matches the one-shot loop") {
    import graft.operators.AnnMaintenance
    val base = emb.filter(col("vec_id") < 400)
      .select(col("vec_id"), col("embedding"))
    val delta = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(0.0625f)).as("embedding"))
    val qs = base.union(delta).filter(col("vec_id") < 5 ||
      (col("vec_id") >= 400 && col("vec_id") < 405))
    val stage = TempDirs.create("graft-annmaint-spec").toString
    val (served, recalls) = AnnMaintenance.streamMaintain(base, delta,
      stage, groups = 3, qs, "vec_id", "embedding", k = 5,
      minRecallPct = 80)(ivfBuild, ivfRows)
    // the monitoring trail: one genuine verdict per staged micro-batch
    assert(recalls.length === 3, s"expected 3 per-batch verdicts: $recalls")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0), recalls.toString)
    val got = served.collect()
    // planted 2^-4 drift: the final canary trips and the serve retrains
    assert(got.nonEmpty && got.forall(_.getAs[Boolean]("retrained")))
    // stream-maintained ≡ one-shot maintained (the q190 body), row for row
    val oneShot = AnnMaintenance.appendServeWithCanary(base, delta, qs,
      "vec_id", "embedding", k = 5, minRecallPct = 80)(ivfBuild, ivfRows)
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getBoolean(5))
    assert(got.map(key).sortBy(k => (k._1, k._4)).toSeq
      === oneShot.map(key).sortBy(k => (k._1, k._4)).toSeq)
  }

  test("maintenance loop: an in-distribution delta passes the canary and " +
    "serves the appended index; a drifted delta trips it and retrains") {
    import graft.operators.AnnMaintenance
    val base = emb.filter(col("vec_id") < 400).select(col("vec_id"), col("embedding"))
    val cleanDelta = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding"))
    val driftDelta = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id"),
        // 2^-4 scale: collapses the delta toward the origin — a real
        // distribution shift (an isometry like negation preserves every
        // intra-delta distance and leaves recall untouched)
        transform(col("embedding"), x => x * lit(0.0625f)).as("embedding"))
    val canary = (u: org.apache.spark.sql.DataFrame) =>
      u.filter(col("vec_id") < 5 ||
        (col("vec_id") >= 400 && col("vec_id") < 405))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def run(delta: org.apache.spark.sql.DataFrame, pct: Int) =
      AnnMaintenance.appendServeWithCanary(base, delta,
        canary(base.union(delta)), "vec_id", "embedding", k = 5,
        minRecallPct = pct)(ivfBuild, ivfRows)
    // no drift, permissive threshold: the cheap append path serves
    val clean = run(cleanDelta, 50).collect()
    assert(clean.nonEmpty && clean.forall(!_.getAs[Boolean]("retrained")))
    val cleanRecall = clean.head.getAs[Double]("mean_recall")
    assert(cleanRecall > 0.5, s"undrifted canary recall $cleanRecall")
    // planted drift, the q190 threshold: the canary trips and retrains
    val drifted = run(driftDelta, 80).collect()
    assert(drifted.nonEmpty && drifted.forall(_.getAs[Boolean]("retrained")))
    val driftRecall = drifted.head.getAs[Double]("mean_recall")
    assert(driftRecall < 0.8, s"drifted canary recall $driftRecall")
    assert(driftRecall < cleanRecall,
      "planted drift did not reduce canary recall")
    // decision audit columns are constant across the served rows, and
    // every query in the sample is answered with a full top-5
    assert(drifted.map(_.getAs[Double]("mean_recall")).distinct.length === 1)
    assert(drifted.groupBy(_.getAs[Long]("qid")).forall(_._2.length == 5))
    // an empty query sample has no gold to judge recall by: refused,
    // not served as an empty frame with a NaN recall
    val ex = intercept[IllegalArgumentException] {
      AnnMaintenance.appendServeWithCanary(base, cleanDelta,
        base.filter(col("vec_id") < 0), "vec_id", "embedding", k = 5,
        minRecallPct = 50)(ivfBuild, ivfRows)
    }
    assert(ex.getMessage.contains("empty exact-gold"), ex.getMessage)
    // all intermediate handles released: the loop must not leak index
    // storage beyond whatever was resident before it ran
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore)
  }

  test("streaming query batches served via foreachBatch against the " +
    "resident index match batch serving") {
    // the online-ANN serving composition: query vectors ARRIVE as a
    // stream, each micro-batch is answered against the memoized
    // build-once index — per-query top-k is independent of co-arriving
    // queries, so the union over micro-batches must equal one batch
    // serve of the same queries
    val sidx = IvfAdcIndex.buildCached(emb, Sf, "vec_id", "embedding",
      nlist = 8, trainRounds = 2, m = 16, ksub = 8, dim = 64)
    val expected = rows(sidx.query(queries, k = 5, candidates = 50,
      nprobe = 2))
    val dir = java.nio.file.Files.createTempDirectory("graft-annserve")
    dir.toFile.deleteOnExit()
    // three single-file arrivals; maxFilesPerTrigger=1 → 3 micro-batches
    Seq((0L, 3L), (3L, 6L), (6L, 10L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(1).write.parquet(s"$dir/b$i")
    }
    val served = scala.collection.mutable.Set.empty[(Long, Long, Long, Int)]
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/b*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val r = rows(sidx.query(batch, k = 5, candidates = 50, nprobe = 2))
        served.synchronized { served ++= r }
        nBatches.incrementAndGet()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(nBatches.get() >= 3, s"expected ≥3 micro-batches, got ${nBatches.get()}")
    assert(served.toSet === expected)
  }

  test("SQ8 index: save→load round-trip serves row-for-row what the " +
    "inline funnel computes; torn and future-version artifacts refused") {
    import graft.operators.Sq8Index
    import spark.implicits._
    val built = Sq8Index.build(emb, "vec_id", "embedding", dim = 64)
    val inline = rows(Similarity.sq8Knn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 100, dim = 64))
    assert(rows(built.query(queries, k = 5, candidates = 100)) === inline)
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8")
    dir.toFile.deleteOnExit()
    built.save(dir.toString)
    built.release()
    val loaded = Sq8Index.load(spark, dir.toString, emb)
    assert(rows(loaded.query(queries, k = 5, candidates = 100)) === inline)
    loaded.release()
    // torn: params records more codes than codes/ holds
    val pf = spark.read.parquet(s"$dir/params").collect().head
    Seq((pf.getAs[Int]("version"), pf.getAs[String]("id_col"),
        pf.getAs[String]("vec_col"), pf.getAs[Int]("dim"), 999999L))
      .toDF("version", "id_col", "vec_col", "dim", "n_codes")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exTorn = intercept[IllegalArgumentException] {
      Sq8Index.load(spark, dir.toString, emb)
    }
    assert(exTorn.getMessage.contains("torn"),
      s"wrong failure for a torn artifact: ${exTorn.getMessage}")
    // future version: refused with the version message
    Seq((99, "vec_id", "embedding", 64, 600L))
      .toDF("version", "id_col", "vec_col", "dim", "n_codes")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exV = intercept[IllegalArgumentException] {
      Sq8Index.load(spark, dir.toString, emb)
    }
    assert(exV.getMessage.contains("version"),
      s"wrong failure for a v99 artifact: ${exV.getMessage}")
  }

  test("matryoshka index: save→load round-trip serves row-for-row what " +
    "the inline funnel computes; torn artifact refused") {
    import graft.operators.MatryoshkaIndex
    import spark.implicits._
    val built = MatryoshkaIndex.build(emb, "vec_id", "embedding",
      prefixDim = 16)
    val inline = rows(Similarity.matryoshkaKnn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 100, prefixDim = 16))
    assert(rows(built.query(queries, k = 5, candidates = 100)) === inline)
    val dir = java.nio.file.Files.createTempDirectory("graft-mry")
    dir.toFile.deleteOnExit()
    built.save(dir.toString)
    built.release()
    val loaded = MatryoshkaIndex.load(spark, dir.toString, emb)
    assert(rows(loaded.query(queries, k = 5, candidates = 100)) === inline)
    loaded.release()
    Seq((1, "vec_id", "embedding", 16, 999999L))
      .toDF("version", "id_col", "vec_col", "prefix_dim", "n_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exTorn = intercept[IllegalArgumentException] {
      MatryoshkaIndex.load(spark, dir.toString, emb)
    }
    assert(exTorn.getMessage.contains("torn"),
      s"wrong failure for a torn artifact: ${exTorn.getMessage}")
  }

  test("binary index: save→load round-trip serves row-for-row what the " +
    "inline route computes; appended ≡ full build exactly (nothing " +
    "trained); torn and future-version artifacts refused") {
    import graft.operators.BinaryIndex
    import spark.implicits._
    val built = BinaryIndex.build(emb, "vec_id", "embedding")
    val inline = rows(Similarity.binaryHammingKnn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 100))
    assert(rows(built.query(queries, k = 5, candidates = 100)) === inline)
    // append ≡ rebuild, bit-exact: the encode has no trained state
    val base = BinaryIndex.build(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding")
    val appended = base.append(emb.filter(col("vec_id") >= 400))
    base.release()
    assert(rows(appended.query(queries, k = 5, candidates = 100)) === inline)
    appended.release()
    val dir = java.nio.file.Files.createTempDirectory("graft-binspec")
    dir.toFile.deleteOnExit()
    built.save(dir.toString)
    built.release()
    val loaded = BinaryIndex.load(spark, dir.toString, emb)
    assert(rows(loaded.query(queries, k = 5, candidates = 100)) === inline)
    loaded.release()
    // torn: params records more words than words/ holds
    Seq((1, "vec_id", "embedding", 8, 8, 999999L))
      .toDF("version", "id_col", "vec_col", "n_bands", "band_bits",
        "n_words")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exTorn = intercept[IllegalArgumentException] {
      BinaryIndex.load(spark, dir.toString, emb)
    }
    assert(exTorn.getMessage.contains("torn"),
      s"wrong failure for a torn artifact: ${exTorn.getMessage}")
    // future version: refused with the version message
    Seq((99, "vec_id", "embedding", 8, 8, 500L))
      .toDF("version", "id_col", "vec_col", "n_bands", "band_bits",
        "n_words")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exV = intercept[IllegalArgumentException] {
      BinaryIndex.load(spark, dir.toString, emb)
    }
    assert(exV.getMessage.contains("version"),
      s"wrong failure for a v99 artifact: ${exV.getMessage}")
  }

  test("SQ8/matryoshka append: appended handle serves base ∪ delta with " +
    "independent storage (source releasable first); matryoshka appended " +
    "≡ full build exactly") {
    import graft.operators.{MatryoshkaIndex, Sq8Index}
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    // SQ8: bounds frozen from the base — the appended handle must rank
    // with base-trained codes but serve ids from the union
    val sBase = Sq8Index.build(base, "vec_id", "embedding", dim = 64)
    val sApp = sBase.append(delta)
    sBase.release() // independence: appended must keep serving
    val sRows = rows(sApp.query(queries, k = 5, candidates = 100))
    sApp.release()
    assert(sRows.nonEmpty)
    assert(sRows.exists(_._2 >= 400L),
      "appended SQ8 serve never surfaces a delta id — the delta was lost")
    // matryoshka: no trained state, so appended ≡ full build row-for-row
    val mBase = MatryoshkaIndex.build(base, "vec_id", "embedding",
      prefixDim = 16)
    val mApp = mBase.append(delta)
    mBase.release()
    val mFull = MatryoshkaIndex.build(emb, "vec_id", "embedding",
      prefixDim = 16)
    assert(rows(mApp.query(queries, k = 5, candidates = 100)) ===
      rows(mFull.query(queries, k = 5, candidates = 100)))
    mApp.release(); mFull.release()
  }

  test("SQ8/matryoshka delete and filtered serving: deleted ids never " +
    "resurface, filtered results stay inside the allow-list") {
    import graft.operators.{MatryoshkaIndex, Sq8Index}
    val del = emb.filter(col("vec_id") % 10 === 3)
    val allow = emb.filter(col("label") < 5).select("vec_id")
    val allowIds = allow.collect().map(_.getLong(0)).toSet
    val sIdx = Sq8Index.build(emb, "vec_id", "embedding", dim = 64)
    val sPruned = sIdx.delete(del, "vec_id")
    sIdx.release() // independent storage: pruned must keep serving
    val sDel = rows(sPruned.query(queries, k = 5, candidates = 100))
    sPruned.release()
    assert(sDel.nonEmpty && !sDel.exists(_._2 % 10 == 3),
      "a deleted id resurfaced from the SQ8 index")
    val sIdx2 = Sq8Index.build(emb, "vec_id", "embedding", dim = 64)
    val sFil = rows(sIdx2.queryFiltered(queries, allow, k = 5,
      candidates = 100))
    sIdx2.release()
    assert(sFil.nonEmpty && sFil.forall(r => allowIds.contains(r._2)),
      "SQ8 filtered serve leaked an id outside the allow-list")
    val mIdx = MatryoshkaIndex.build(emb, "vec_id", "embedding",
      prefixDim = 16)
    val mDel = rows(mIdx.delete(del, "vec_id")
      .query(queries, k = 5, candidates = 100))
    assert(mDel.nonEmpty && !mDel.exists(_._2 % 10 == 3),
      "a deleted id resurfaced from the matryoshka index")
    val mFil = rows(mIdx.queryFiltered(queries, allow, k = 5,
      candidates = 100))
    mIdx.release()
    assert(mFil.nonEmpty && mFil.forall(r => allowIds.contains(r._2)),
      "matryoshka filtered serve leaked an id outside the allow-list")
  }

  test("IVF-ADC load now torn-checks the codes count (column-keyed): a " +
    "params/codes mismatch is refused, a pre-count artifact still loads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-adctorn")
    dir.toFile.deleteOnExit()
    idx.save(dir.toString)
    val pf = spark.read.parquet(s"$dir/params").collect().head
    // tamper the recorded count
    Seq((pf.getAs[Int]("version"), pf.getAs[String]("id_col"),
        pf.getAs[String]("vec_col"), pf.getAs[Int]("sub"),
        pf.getAs[Int]("m"), 999999L))
      .toDF("version", "id_col", "vec_col", "sub", "m", "n_codes")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exTorn = intercept[IllegalArgumentException] {
      IvfAdcIndex.load(spark, dir.toString, emb)
    }
    assert(exTorn.getMessage.contains("torn"),
      s"wrong failure for a torn artifact: ${exTorn.getMessage}")
    // a pre-round-14 artifact (params without n_codes) loads unchecked —
    // the column-keyed stance
    Seq((pf.getAs[Int]("version"), pf.getAs[String]("id_col"),
        pf.getAs[String]("vec_col"), pf.getAs[Int]("sub"),
        pf.getAs[Int]("m")))
      .toDF("version", "id_col", "vec_col", "sub", "m")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val legacy = IvfAdcIndex.load(spark, dir.toString, emb)
    assert(rows(legacy.query(queries, k = 5, candidates = 50, nprobe = 2))
      .nonEmpty)
    legacy.release()
  }

  test("semantic router artifact: lossless round-trip (loaded delta dedup " +
    "== trained delta dedup), torn and future-version artifacts refused") {
    import graft.operators.SemanticRouter
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val cent = Similarity.kmeansTrain(base, "vec_id", "embedding",
      k = 8, rounds = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-semrouter")
    dir.toFile.deleteOnExit()
    SemanticRouter.save(cent, k = 8, dir.toString)
    val (loaded, k) = SemanticRouter.load(spark, dir.toString)
    assert(k === 8)
    // exact-integer centroids round-trip losslessly: identical rows
    assert(loaded.orderBy("cid").collect().toSeq ===
      cent.orderBy("cid").collect().toSeq,
      "centroid frame changed across the parquet round-trip")
    val fromTrained = Similarity.semanticDedupDeltaWithRouter(base, delta,
      "vec_id", "embedding", 0.45, cent, 8)
    val wantKeep = fromTrained.keep.collect().map(_.getLong(0)).toSet
    fromTrained.release()
    val fromLoaded = Similarity.semanticDedupDeltaWithRouter(base, delta,
      "vec_id", "embedding", 0.45, loaded, k)
    val gotKeep = fromLoaded.keep.collect().map(_.getLong(0)).toSet
    fromLoaded.release()
    assert(gotKeep === wantKeep,
      "loaded router routes differently from the trained one")
    // torn: params records more centroids than the table holds
    Seq((SemanticRouter.FormatVersion, 8, 999L))
      .toDF("version", "k", "n_centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exTorn = intercept[IllegalArgumentException] {
      SemanticRouter.load(spark, dir.toString)
    }
    assert(exTorn.getMessage.contains("torn"),
      s"wrong failure for a torn artifact: ${exTorn.getMessage}")
    // future version: refused with the version message
    Seq((99, 8, 8L)).toDF("version", "k", "n_centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val exV = intercept[IllegalArgumentException] {
      SemanticRouter.load(spark, dir.toString)
    }
    assert(exV.getMessage.contains("version"),
      s"wrong failure for a v99 artifact: ${exV.getMessage}")
  }

  test("SQ8/matryoshka MIPS from the persisted artifact serves row-for-row " +
    "what the in-memory augmented build serves (load is metric-free)") {
    // the q265/q266 contract checked in-repo: the artifact carries no
    // metric state (bounds + codes / the prefix slice over whatever
    // geometry they were built in), so the gated artifact route must
    // reproduce the gated in-memory route EXACTLY — any drift means the
    // round-trip touched the geometry
    def served(q: String) =
      SparkEntry.queries(q)(spark, Sf)
        .select("qid", "nid", "d2", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
    assert(served("q265_sq8_mips_from_artifact") === served("q263_sq8_mips"),
      "SQ8 MIPS artifact round-trip diverges from the in-memory build")
    assert(served("q266_matryoshka_mips_from_artifact") ===
      served("q264_matryoshka_mips"),
      "matryoshka MIPS artifact round-trip diverges from the in-memory build")
  }

  test("binary delete and filtered serving: deleted ids never resurface, " +
    "filtered results stay inside the allow-list") {
    import graft.operators.BinaryIndex
    val del = emb.filter(col("vec_id") % 10 === 3)
    val allow = emb.filter(col("label") < 5).select("vec_id")
    val allowIds = allow.collect().map(_.getLong(0)).toSet
    val idx = BinaryIndex.build(emb, "vec_id", "embedding")
    val pruned = idx.delete(del, "vec_id")
    val fil = rows(idx.queryFiltered(queries, allow, k = 5,
      candidates = 100))
    idx.release() // independent storage: pruned must keep serving
    val deleted = rows(pruned.query(queries, k = 5, candidates = 100))
    pruned.release()
    assert(deleted.nonEmpty && !deleted.exists(_._2 % 10 == 3),
      "a deleted id resurfaced from the binary index")
    assert(fil.nonEmpty && fil.forall(r => allowIds.contains(r._2)),
      "binary filtered serve leaked an id outside the allow-list")
  }

  test("a fresh build of the same corpus and parameters never releases " +
    "the storage of the resident buildCached handle") {
    import graft.operators.{BinaryIndex, MatryoshkaIndex, Sq8Index}
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    // the persisted RDDs a frame's plan reads — the handle's storage
    def storage(df: org.apache.spark.sql.DataFrame): Set[Int] = {
      def walk(r: RDD[_]): Seq[RDD[_]] =
        r +: r.dependencies.flatMap(d => walk(d.rdd))
      walk(df.queryExecution.toRdd)
        .filter(_.getStorageLevel != StorageLevel.NONE).map(_.id).toSet
    }
    val key = s"$Sf/fresh-build-isolation"
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(family: String, resident: org.apache.spark.sql.DataFrame)(
        freshBuildAndRelease: => Unit): Unit = {
      val held = storage(resident)
      assert(held.nonEmpty, s"$family: the cached handle holds no storage")
      freshBuildAndRelease
      val live = spark.sparkContext.getPersistentRDDs.keySet
      if (!held.subsetOf(live)) dropped += s"$family ${held -- live}"
    }
    check("IVF-ADC", IvfAdcIndex.buildCached(emb, key, "vec_id",
        "embedding", nlist = 8, trainRounds = 2, m = 16, ksub = 8,
        dim = 64).codes) {
      IvfAdcIndex.build(emb, "vec_id", "embedding", nlist = 8,
        trainRounds = 2, m = 16, ksub = 8, dim = 64).release()
    }
    check("SQ8", Sq8Index.buildCached(emb, key, "vec_id", "embedding",
        dim = 64).stored) {
      Sq8Index.build(emb, "vec_id", "embedding", dim = 64).release()
    }
    check("matryoshka", MatryoshkaIndex.buildCached(emb, key, "vec_id",
        "embedding", prefixDim = 16).stored) {
      MatryoshkaIndex.build(emb, "vec_id", "embedding", prefixDim = 16)
        .release()
    }
    check("binary", BinaryIndex.buildCached(emb, key, "vec_id",
        "embedding").stored) {
      BinaryIndex.build(emb, "vec_id", "embedding").release()
    }
    assert(dropped.isEmpty, "releasing a fresh build dropped the resident " +
      s"handle's storage: ${dropped.mkString(", ")}")
  }
}
