package graft

/** Storage-hygiene gate: a long-lived session (the 100 TB serving shape)
  * calls gated queries repeatedly, so no query may leave a Dataset cache
  * resident after it has been materialized. Operators may cache internally
  * only if they unpersist before returning (the keep-list pattern) — a
  * cache that survives the query accretes executor storage on every call.
  *
  * One DELIBERATE exception: q185's operator IS a resident artifact (the
  * [[graft.operators.IvfAdcIndex]] build-once/query-many handle). The
  * hazard this gate exists to catch is per-call ACCRETION, which the
  * companion test pins for q185 directly: repeated calls share one
  * memoized index, adding zero storage.
  *
  * NSW search results are covered at the RDD level too: every query
  * whose name contains `nsw`, called warm while its result is held, may
  * add no persisted RDD — a result frame over an unreleased search
  * snapshot keeps its blocks for as long as the frame lives.
  */
class CacheHygieneSpec extends SparkTestBase {

  // q188 serves from the SAME memoized handle as q185 (identical
  // cacheKey + corpus plan + params). Since round 17 the SQ8 /
  // matryoshka / binary serving families build through the same
  // HandleCache stance in their RUN bodies (the q185 precedent), so
  // every cached-serving query in those families is resident by design
  // too: whichever one runs first builds (and persists) its family's
  // handle. The accretion companions below pin the bound for every
  // family: repeated calls share one memoized handle, adding zero
  // storage.
  private val IvfResident = Seq("q185_ann_index_serve",
    "q188_ann_recall_canary")
  // one representative per DISTINCT handle key (plain / MIPS-augmented
  // corpus per family) — these are the queries a fresh JVM charges with
  // the build's persist entry
  private val QuantFirstBuilders = Seq(
    "q251_sq8_save_load", "q263_sq8_mips", "q265_sq8_mips_from_artifact",
    "q252_matryoshka_save_load", "q264_matryoshka_mips",
    "q266_matryoshka_mips_from_artifact",
    "q297_binary_save_load", "q302_binary_mips")
  // the remaining cached-serving consumers of those handles
  private val QuantConsumers = Seq(
    "q257_sq8_filtered_search", "q261_sq8_stream_serve",
    "q262_matryoshka_stream_serve", "q259_matryoshka_filtered_search",
    "q300_binary_filtered_search", "q301_binary_stream_serve",
    "q305_binary_band_stats")
  private val ResidentByDesign =
    (IvfResident ++ QuantFirstBuilders ++ QuantConsumers).toSet

  test("no gated query leaves a resident Dataset cache after running") {
    val cm = spark.sharedState.cacheManager
    // pre-warm every resident-by-design handle: in a fresh JVM the first
    // handle CONSUMER in defs order would otherwise be charged with the
    // build's persist entry — an order-dependence, not a leak
    // (reproduced on a bare `testOnly CacheHygieneSpec` before this
    // block existed). After the warm + clearCache the handles stay
    // memoized (serving recomputes from lineage), so no query in the
    // loop re-persists them. Accretion is pinned below.
    (IvfResident.take(1) ++ QuantFirstBuilders)
      .foreach(n => SparkEntry.queries(n)(spark, Sf).count())
    cm.clearCache()
    val leaks = SparkEntry.allQueries
      .filterNot(q => ResidentByDesign(q.name))
      .flatMap { q =>
        q.run(spark, Sf).count()
        if (cm.isEmpty) None
        else { cm.clearCache(); Some(q.name) }
      }
    assert(leaks.isEmpty, s"queries leaking caches: $leaks")
  }

  test("the resident index is bounded: repeat q185 and q188 calls " +
    "accrete no storage") {
    SparkEntry.queries("q185_ann_index_serve")(spark, Sf).count()
    val after1 = spark.sparkContext.getPersistentRDDs.keySet
    for (name <- IvfResident; _ <- 1 to 2)
      SparkEntry.queries(name)(spark, Sf).count()
    val after2 = spark.sparkContext.getPersistentRDDs.keySet
    assert(after2 === after1,
      s"resident-index queries accreted storage: ${after2 -- after1}")
    // release semantics (handle ≡ inline, release frees the blocks) are
    // AnnIndexSpec's gates; the suite-shared session keeps the memoized
    // handle — by design, it is the serving artifact
  }

  test("the SQ8/matryoshka/binary resident handles are bounded: repeat " +
    "calls across every cached-serving query accrete no storage") {
    // warm every distinct handle once, then demand a fixed point: a
    // second full round over builders AND consumers may not add one
    // persisted block (each family memoizes per (dir, params, corpus
    // plan, session) — the q185/q188 rule applied family-wide)
    val all = QuantFirstBuilders ++ QuantConsumers
    all.foreach(n => SparkEntry.queries(n)(spark, Sf).count())
    val after1 = spark.sparkContext.getPersistentRDDs.keySet
    all.foreach(n => SparkEntry.queries(n)(spark, Sf).count())
    val after2 = spark.sparkContext.getPersistentRDDs.keySet
    assert(after2 === after1,
      s"quant-family queries accreted storage: ${after2 -- after1}")
  }

  test("NSW queries release their search snapshots: a warm call adds no " +
    "persisted RDD while its result is held") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val nsw = SparkEntry.allQueries.filter(_.name.contains("nsw"))
    // warm: the memoized graphs are resident by design
    nsw.foreach(q => q.run(spark, Sf).count())
    val before = persisted
    // getPersistentRDDs holds its RDDs weakly, so every result stays
    // referenced until the census is taken
    val held = nsw.map { q =>
      val at = persisted
      val out = q.run(spark, Sf)
      out.count()
      (q.name, persisted -- at, out)
    }
    val leaks = held.collect { case (n, added, _) if added.nonEmpty => n }
    assert(leaks.isEmpty && persisted === before,
      s"NSW queries left persisted RDDs behind: $leaks")
  }
}
