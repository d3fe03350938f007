package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics over edge DataFrames — the OSM model encodes a graph
  * (ways reference nodes through way_nodes, SURVEY.md §1.1), and a
  * training-data pipeline needs connected components for e.g. transitive
  * dedup clusters (near-dup pairs → groups).
  *
  * Connected components by iterative min-label propagation WITH pointer
  * jumping: each round every vertex adopts the smallest label among
  * itself, its neighbors, and its label's label (path halving). The jump
  * doubles the distance a label travels per round, so convergence is
  * O(log diameter) rounds instead of O(diameter) — the difference between
  * ~30 and ~6 shuffle rounds on a 10⁹-vertex chain-shaped dup cluster.
  *
  * Scale hygiene for iterative Spark jobs, applied here:
  *  - each round's labels are snapshotted (lineage truncated) so the plan
  *    doesn't double per round;
  *  - the SUPERSEDED round's storage is unpersisted as soon as the next
  *    round is materialized — executor storage stays O(1) rounds, not
  *    O(iterations);
  *  - when the SparkContext has a checkpoint dir configured, snapshots use
  *    RELIABLE checkpointing (survives executor loss — required for long
  *    100 TB jobs); otherwise localCheckpoint semantics (executor-local
  *    blocks) via RDD.localCheckpoint.
  */
object Graph {

  /** Snapshot an iteration frame: truncate lineage and persist, keeping the
    * RDD handle so the PREVIOUS round can be unpersisted and its reliable-
    * checkpoint files deleted (Dataset.localCheckpoint exposes neither).
    * Stays at the InternalRow layer end to end (graftbridge) — no external
    * Row encoding per round. The map(_.copy()) is required before
    * persisting: the scan reuses UnsafeRow buffers. */
  private[operators] def snapshot(df: DataFrame): (DataFrame, RDD[_]) = {
    import org.apache.spark.sql.graftbridge.InternalRowBridge
    val rdd = InternalRowBridge.toRdd(df).map(_.copy())
    if (rdd.context.getCheckpointDir.isDefined) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else {
      rdd.localCheckpoint()
    }
    (InternalRowBridge.ofInternalRows(df.sparkSession, rdd, df.schema), rdd)
  }

  /** Persist a frame's rows (a built index's table) into storage the
    * caller alone owns: an RDD-level persist of
    * the rows, never a CacheManager entry — two builds with identical
    * plans would share one, and releasing either would uncache both.
    * Lineage is kept (unlike [[snapshot]]), so a lost block, or a lazy
    * frame read after [[release]], recomputes. Returns the flat frame over
    * the rows and the handle [[release]] frees. */
  private[operators] def persistOwned(df: DataFrame): (DataFrame, RDD[_]) = {
    import org.apache.spark.sql.graftbridge.InternalRowBridge
    val rdd = InternalRowBridge.toRdd(df).map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    (InternalRowBridge.ofInternalRows(df.sparkSession, rdd, df.schema), rdd)
  }

  /** Release a superseded snapshot: unpersist its blocks AND delete its
    * reliable-checkpoint files (Spark never cleans those by default —
    * without this a long job leaks one checkpoint dir per round). */
  private[operators] def release(rdd: RDD[_]): Unit = {
    rdd.unpersist()
    rdd.getCheckpointFile.foreach { path =>
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true)
      } catch { case _: Throwable => () } // best-effort cleanup
    }
  }

  /** Labels plus the storage handle of the FINAL round's snapshot. Without
    * an explicit [[CcResult.release]] a long-lived session holds one
    * persisted RDD (until the DataFrame is GC'd and the ContextCleaner
    * reclaims its blocks) and — when reliable checkpointing is configured —
    * one checkpoint directory that Spark never deletes on its own. Callers
    * that materialize something downstream (the keep-list pattern: snapshot
    * the small derived frame, then release) should always release. */
  final case class CcResult(labels: DataFrame, rounds: Int,
                            private val finalRdd: RDD[_]) {
    /** Unpersist the final snapshot and delete its reliable-checkpoint
      * files. `labels` must not be consumed afterwards. */
    def release(): Unit = Graph.release(finalRdd)
  }

  /** Both directions of each (src, dst) edge as (a, b) rows, produced in
    * ONE upstream pass: each edge explodes into two structs, instead of
    * union-ing two selects over `edges` — the union's branches are distinct
    * plans, so the first materialization would execute the whole
    * (potentially expensive — candidate-generation + verification in the
    * keep-list pipelines) edge subtree TWICE before CC's persist catches
    * it. The explode is a narrow map over a single scan of that subtree
    * (PlanSpec gates the single-scan shape). */
  def symmetrized(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(
        struct(col("src").cast("long").as("a"), col("dst").cast("long").as("b")),
        struct(col("dst").cast("long").as("a"), col("src").cast("long").as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))

  /** Connected components of an undirected edge list (columns src, dst —
    * any integral type). Returns (v, component) where component is the
    * minimum vertex id in the component.
    *
    * Convenience form of [[connectedComponentsResult]]: the final round's
    * snapshot stays persisted until the returned frame is GC'd (blocks are
    * then reclaimed by the ContextCleaner); reliable-checkpoint files, when
    * configured, are only deleted via [[CcResult.release]]. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsResult(edges, maxIter).labels

  /** See [[connectedComponents]]; also exposes the round count (scale
    * evidence: pointer jumping keeps it O(log diameter)) and the release
    * handle for the final snapshot.
    *
    * @param edgesAreDistinctPairs caller guarantees the edge list is
    *   duplicate-free with src < dst (the keep-list pipelines' shape —
    *   their pair stages end in groupBy/dropDuplicates). Then the
    *   symmetrized union is disjoint by construction and the dedup
    *   shuffle is skipped — on a corpus-scale pair table that is a full
    *   exchange of the edge set saved. Duplicate edges would not corrupt
    *   results (min is idempotent), only inflate join work. */
  def connectedComponentsResult(edges: DataFrame, maxIter: Int = 20,
                                edgesAreDistinctPairs: Boolean = false): CcResult = {
    val sym0 = symmetrized(edges)
    val sym = (if (edgesAreDistinctPairs) sym0 else sym0.distinct()).persist()
    var (labels, labelsRdd) = snapshot(
      sym.select(col("a").as("v"), col("b"))
        .groupBy("v").agg(least(min(col("b")), col("v")).as("component")))
    // Convergence via the exact label sum: per-vertex labels only ever
    // DECREASE under min-propagation, so the sum is strictly monotone until
    // the fixpoint — equal consecutive sums iff no vertex changed. One
    // aggregate per round (which also materializes the snapshot), replacing
    // a labels⋈labels join + count that cost two extra shuffles per round.
    // decimal(38,0): exact at any vertex-id scale, no Long wraparound.
    // null-safe: sum over an EMPTY label frame is NULL — an edge list with
    // no pairs at all (a delta crawl with zero near-dups, q228's shape)
    // must converge to the empty fixpoint, not NPE the compareTo
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      // neighbor labels: for each edge (a,b), a can adopt b's label
      val neighborLabels = sym
        .join(labels.withColumnRenamed("v", "b2"), col("b") === col("b2"))
        .select(col("a").as("v"), col("component"))
      // pointer jump (path halving): v can also adopt its LABEL's label —
      // every component id is itself a vertex with a labels row, so this
      // join always resolves; it is what makes rounds logarithmic. Root
      // rows (component == v) jump to themselves and are excluded. The
      // join key IS the component id — a near-converged giant component
      // makes it a hot key by construction; AQE's skew-join splitting
      // (on by default) is the runtime mitigation, the same one every
      // star-contraction CC formulation relies on.
      val jumped = labels.as("x")
        .filter(col("component") =!= col("v"))
        .join(labels.select(col("v").as("cv"), col("component").as("cc")),
          col("x.component") === col("cv"))
        .select(col("x.v").as("v"), col("cc").as("component"))
      val (next, nextRdd) = snapshot(
        labels.select(col("v"), col("component"))
          .union(neighborLabels)
          .union(jumped)
          .groupBy("v").agg(min("component").as("component")))
      // materializes nextRdd (and the reliable checkpoint, when configured)
      val nextSum = labelSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      release(labelsRdd)
      labels = next
      labelsRdd = nextRdd
      iter += 1
    }
    sym.unpersist()
    CcResult(labels, iter, labelsRdd)
  }

  /** Component summary: size and representative per component. */
  def componentSizes(components: DataFrame): DataFrame =
    components.groupBy("component")
      .agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("n_vertices").desc, col("component"))
}
