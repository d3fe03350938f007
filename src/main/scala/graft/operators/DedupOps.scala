package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-checked dedup queries over `documents` (which contains ~25 planted
  * near-duplicate pairs at 3-gram Jaccard ≈ 0.98, marked by a 'dup' token).
  * The operator implementations live in [[Dedup]]; these defs wire them to
  * the driver gate with programmatically generated DuckDB oracles.
  */
object DedupOps {

  private[operators] val NumHashes = 16
  private[operators] val RowsPerBand = 4
  private val SimhashBits = 16
  // Corpus-relative df cap for the gated skew-path query: max(4, n/300) —
  // high enough that planted dup pairs (shingles at df ~ 2) survive with
  // jac >= 0.8, low enough that template shingles are genuinely pruned at
  // every SF (sf0.01: cap 4 prunes 151 shingles, 20 of 25 pairs survive;
  // sf0.1: cap 16 prunes the df 17..25 tail, 178 of 256 survive). A FIXED
  // cap can't do both: 4 empties the result at sf0.1, anything >= 8 prunes
  // nothing at sf0.01. Integer arithmetic on both sides, any engine.
  private def jaccardCapDf(nDocs: Long): Int = math.max(4L, nDocs / 300L).toInt
  private val JaccardCapSql = "GREATEST(4, count(*) // 300)"

  /** DuckDB n-gram shingle CTE (1-based list indexing; matches
    * Dedup.shingleRows(n) incl. the <n-token empty case: the range is
    * empty when len(sp) < n). Parametrized by source CTE/table
    * and emitted CTE name so the q215 release composition can run the
    * SAME text over mid-pipeline survivor sets (single-owner rule). */
  private[operators] def shingleCteN(n: Int, from: String = "documents",
      name: String = "sh"): String = {
    val terms = (0 until n).map(k => if (k == 0) "sp[i]" else s"sp[i+$k]")
      .mkString(" || ' ' || ")
    s"""$name AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(sp) - ${n - 2}),
       |      i -> $terms)) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM $from) t) u)""".stripMargin
  }

  /** The 3-gram instance used by most dedup oracles. */
  private val ShingleCte = shingleCteN(3)

  /** Bloom geometry shared by q136 and the incremental-release gate
    * (q228) — single owner so the two oracles can never drift from
    * [[Dedup.bloomBuild]]'s md5("j:h") position rule and 2^21-bit map. */
  private[operators] val BloomMBits: Int = 1 << 21
  private[operators] val BloomK: Int = 3
  private[operators] def bloomPosSql(j: String, h: String): String =
    s"CAST(('0x' || substr(md5(CAST($j AS VARCHAR) || ':' || $h), 1, 8)) AS BIGINT) % $BloomMBits"

  private[operators] val minhashSigSql = {
    val mins = (0 until NumHashes)
      .map(i => s"min(${Dedup.mhExprDuck("h0", i)}) AS mh$i")
      .mkString(", ")
    s"""shb AS (SELECT doc_id,
       |  CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h0 FROM sh),
       |sig AS (SELECT doc_id, $mins FROM shb GROUP BY doc_id)""".stripMargin
  }

  private[operators] def bandsSqlFor(rowsPerBand: Int,
      name: String = "bands"): String = {
    val numBands = NumHashes / rowsPerBand
    val hashes = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => s"mh$i")
      s"md5(concat_ws(':', ${cols.mkString(", ")}))"
    }
    s"""$name AS (SELECT doc_id,
       |  unnest([${hashes.mkString(", ")}]) AS band_hash,
       |  unnest(range($numBands)) AS band_idx FROM sig)""".stripMargin
  }

  private[operators] val bandsSql = bandsSqlFor(RowsPerBand)

  /** Candidate→verify CTE chain (expects `sh` and `bands` in scope),
    * ending in `pairs(i, j)` — the verified near-dup pairs at 3-gram
    * Jaccard ≥ 0.8. ONE owner for the q74/q113/q153 text and the
    * leakage-split gates (q280/q281), so the near-dup evidence can never
    * drift between the keep-list, the cluster analytics, and the split
    * audit. */
  private[operators] val verifiedPairsCtes: String =
    """cand AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM bands a JOIN bands b
      |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
      |p AS (
      |  SELECT cand.i, cand.j, count(*) AS inter
      |  FROM cand
      |  JOIN sh sa ON sa.doc_id = cand.i
      |  JOIN sh sb ON sb.doc_id = cand.j AND sb.s = sa.s
      |  GROUP BY 1, 2),
      |pairs AS (SELECT i, j FROM p
      |          JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
      |          WHERE CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) >= 0.8)""".stripMargin

  /** 3-round min-label propagation over `pairs(i, j)`, ending in
    * `l3(v, l)` — EVERY row of `table` labeled, singletons label
    * themselves (cluster diameter ≤ 2 in the fixture; the Spark side
    * iterates to an exact fixpoint regardless). Parameterized on the
    * vertex table so the semantic modality (q287, embeddings/vec_id)
    * replays the same propagation text. */
  private[operators] def labelPropCtesFor(table: String, idCol: String,
      edges: String = "e"): String =
    s"""$edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |l1 AS (SELECT d.$idCol AS v, LEAST(d.$idCol, coalesce(min($edges.b), d.$idCol)) AS l
       |       FROM $table d LEFT JOIN $edges ON $edges.a = d.$idCol GROUP BY d.$idCol),
       |l2 AS (SELECT l1.v, LEAST(l1.l, coalesce(min(nb.l), l1.l)) AS l
       |       FROM l1 LEFT JOIN $edges ON $edges.a = l1.v LEFT JOIN l1 nb ON nb.v = $edges.b
       |       GROUP BY l1.v, l1.l),
       |l3 AS (SELECT l2.v, LEAST(l2.l, coalesce(min(nb.l), l2.l)) AS l
       |       FROM l2 LEFT JOIN $edges ON $edges.a = l2.v LEFT JOIN l2 nb ON nb.v = $edges.b
       |       GROUP BY l2.v, l2.l)""".stripMargin

  /** The documents-table instance behind q74/q113/q153/q280/q281. */
  private[operators] val labelPropCtes: String =
    labelPropCtesFor("documents", "doc_id")

  /** Shared DuckDB CTE ending in `sm(doc_id, simhash)` — the exact SimHash
    * pipeline (md5 token hashes, ±1 votes, bit pack) at `bits` width. */
  private def simhashCte(bits: Int) = {
    val votes = (0 until bits)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val pack = (0 until bits)
      .map(b => s"CASE WHEN v$b >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM tok),
       |vt AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |sm AS (SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM vt)""".stripMargin
  }

  private val simhashOracle =
    s"WITH ${simhashCte(SimhashBits)} SELECT doc_id, simhash FROM sm ORDER BY doc_id"

  val defs: Seq[Q] = Seq(

    // ---- exact dedup: fingerprint cardinality (raw + normalized) ----
    Q("q38_dedup_exact",
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique_norm
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(fingerprint(col("text"))).as("n_unique"),
          countDistinct(fingerprint(normalized(col("text")))).as("n_unique_norm"))
    },

    // ---- exact n-gram Jaccard, PROBE-SCOPED (the small-N exact verifier,
    //      q43 precedent): partners of the bounded probe set doc_id < 50,
    //      scored exactly against the WHOLE corpus. The probe shingles
    //      broadcast, so the corpus is one narrow scan — no shingle
    //      self-join anywhere in a gated plan; the uncapped all-pairs form
    //      stays spec-tested (DedupSpec) and its skew-capped production
    //      sibling is gated as q97. ----
    Q("q39_ngram_jaccard",
      s"""WITH $ShingleCte,
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id < 50
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter,
         |  CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) AS jac
         |FROM pairs JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.ngramJaccardProbePairs(Tables.t(s, d, "documents"), "doc_id", "text",
          3, 0.8, probePred = col("doc_id") < 50)
        .orderBy("id_a", "id_b")
    },

    // ---- capped n-gram Jaccard: the corpus-scale skew path, gated. A
    //      shingle shared by m docs emits m^2 join rows on ONE key; capping
    //      document frequency bounds every bucket at cap^2. Per-doc totals
    //      (na/nb) keep the FULL count, so jac is a lower bound and every
    //      emitted pair is still genuinely >= the threshold. The oracle
    //      replays the identical semantics: df via window count, join only
    //      rows with df <= cap, totals from the uncapped shingle set. ----
    Q("q97_ngram_jaccard_capped",
      s"""WITH $ShingleCte,
         |cap AS (SELECT $JaccardCapSql AS c FROM documents),
         |shc AS (SELECT doc_id, s FROM (
         |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) t
         |  WHERE df <= (SELECT c FROM cap)),
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter,
         |  CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) AS jac
         |FROM pairs JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          3, 0.8, maxShingleDf = Some(jaccardCapDf(docs.count())))
        .orderBy("id_a", "id_b")
    },

    // ---- train/eval decontamination: eval docs sharing >= 1 five-gram
    //      shingle with any train doc (split = the q85 md5 90/10 split).
    //      The planted near-dup pairs guarantee cross-split leakage at
    //      every SF. Everything keys by shingle — the df cap is the
    //      two-phase Dedup.dfCapRows (map-side partials, skew-safe); the
    //      train-side distinct and the train-eval join reuse the same
    //      s-partitioning; the cap bounds hot shingles (frac stays a
    //      lower bound over the UNCAPPED per-doc totals, q97 semantics).
    //      The ORACLE keeps the window form — plan-equivalent semantics,
    //      and DuckDB's single-node window is not the skew surface. ----
    Q("q105_contamination",
      s"""WITH ${shingleCteN(5)},
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         |cap AS (SELECT $JaccardCapSql AS c FROM documents),
         |shc AS (SELECT doc_id, s FROM (
         |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) t
         |  WHERE df <= (SELECT c FROM cap)),
         |sp AS (SELECT doc_id, s,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 9
         |       THEN 'train' ELSE 'eval' END AS split FROM shc),
         |tr AS (SELECT DISTINCT s FROM sp WHERE split = 'train'),
         |ev AS (SELECT doc_id, s FROM sp WHERE split = 'eval'),
         |hit AS (SELECT ev.doc_id, count(*) AS n_shared
         |        FROM ev JOIN tr ON ev.s = tr.s GROUP BY 1)
         |SELECT hit.doc_id AS doc_id, n_shared, CAST(n.ns AS BIGINT) AS ns,
         |  CAST(n_shared AS DOUBLE) / CAST(n.ns AS DOUBLE) AS frac
         |FROM hit JOIN n ON n.doc_id = hit.doc_id
         |ORDER BY hit.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      Dedup.crossSplitContamination(docs, "doc_id", "text", 5,
          Sampling.splitLabel(col("doc_id"), 1),
          maxShingleDf = jaccardCapDf(docs.count()))
        .orderBy("doc_id")
    },

    // ---- MinHash + LSH banding candidates ----
    Q("q40_minhash_lsh",
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_bands
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |  AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.minhashLshCandidates(Tables.t(s, d, "documents"), "doc_id", "text",
          3, NumHashes, RowsPerBand)
        .orderBy("id_a", "id_b")
    },

    // ---- SimHash signatures ----
    Q("q41_simhash", simhashOracle) { (s, d) =>
      Dedup.simhash(Tables.t(s, d, "documents"), "doc_id", "text", SimhashBits)
        .orderBy("doc_id")
    },

    // ---- SimHash banded candidates + exact hamming verify. 32-bit
    //      signature in 4 bands of 8 bits (full recall at hamming <= 3 by
    //      pigeonhole): the wider signature keeps template-similar docs in
    //      SEPARATE band buckets unless they are genuinely near-identical —
    //      at 16 bits the fixture's shared vocabulary made band buckets hot
    //      and chance hamming-collisions common. ----
    Q("q84_simhash_bands",
      s"""WITH ${simhashCte(32)},
         |bd AS (SELECT doc_id, simhash,
         |  unnest(list_transform(range(4), b -> (simhash >> (b * 8)) & 255)) AS band_val,
         |  unnest(range(4)) AS band_idx FROM sm),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sa, b.simhash AS sb, count(*) AS shared_bands
         |  FROM bd a JOIN bd b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, shared_bands,
         |  CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      Dedup.simhashCandidatePairs(Tables.t(s, d, "documents"), "doc_id", "text",
          32, 4, 3)
        .orderBy("id_a", "id_b")
    },

    // ---- dedup-cluster size histogram: the corpus-audit view of the same
    //      LSH-routed cluster pipeline (gates Graph.componentSizes + the
    //      full labeling incl. singletons). Oracle = the q74 propagation
    //      without the keep filter, aggregated twice. ----
    Q("q113_cluster_histogram",
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql,
         |$verifiedPairsCtes,
         |$labelPropCtes,
         |sizes AS (SELECT l, count(*) AS n_vertices FROM l3 GROUP BY l)
         |SELECT n_vertices AS cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin) { (s, d) =>
      val labels = Dedup.nearDupClusters(Tables.t(s, d, "documents"),
        "doc_id", "text", 3, 0.8)
      Graph.componentSizes(labels)
        .groupBy(col("n_vertices").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },

    // ---- end-to-end dedup: LSH candidates -> exact verify -> clusters ->
    //      keep-list. The oracle replays the SAME deterministic pipeline
    //      (md5 minhash family, banded candidates, Jaccard on candidates
    //      only) and propagates the min label 3 rounds (cluster diameter
    //      <= 2 in the fixture; the Spark side iterates to an exact
    //      fixpoint regardless) ----
    Q("q74_dedup_keeplist",
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql,
         |$verifiedPairsCtes,
         |$labelPropCtes
         |SELECT v AS doc_id FROM l3 WHERE l = v ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.nearDupKeepList(Tables.t(s, d, "documents"), "doc_id", "text", 3, 0.8)
        .orderBy("doc_id")
    },

    // ---- MinHash FIDELITY canary (the q188 analog for the dedup family):
    //      per LSH candidate pair, the signature-estimated Jaccard
    //      (matching components / 16, exact ppm) next to the TRUE shingle
    //      Jaccard and the absolute error — the calibration a production
    //      dedup watches so a bad hash family or wrong band geometry
    //      can't silently mis-cut thresholds. Candidates from the banded
    //      equi-join; signatures and intersections join BY DOC ID; all
    //      integer ppm (truncating div) — the oracle replays the hash
    //      family, banding, component matching and the exact overlap. ----
    Q("q204_minhash_fidelity", {
      val matchSql = (0 until NumHashes)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql,
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_bands
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         |iv AS (
         |  SELECT cand.id_a, cand.id_b, count(*) AS inter
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = cand.id_a
         |  JOIN sh sb ON sb.doc_id = cand.id_b AND sb.s = sa.s
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT c.id_a, c.id_b, c.shared_bands, $matchSql AS match_sig
         |  FROM cand c JOIN sig a ON a.doc_id = c.id_a
         |  JOIN sig b ON b.doc_id = c.id_b)
         |SELECT m.id_a, m.id_b, CAST(m.shared_bands AS BIGINT) AS shared_bands,
         |  CAST(m.match_sig AS BIGINT) AS match_sig,
         |  CAST(m.match_sig * ${1000000 / NumHashes} AS BIGINT) AS est_ppm,
         |  CAST(coalesce(iv.inter, 0) * 1000000 // (na.ns + nb.ns - coalesce(iv.inter, 0)) AS BIGINT) AS jac_ppm,
         |  CAST(abs(m.match_sig * ${1000000 / NumHashes}
         |    - coalesce(iv.inter, 0) * 1000000 // (na.ns + nb.ns - coalesce(iv.inter, 0))) AS BIGINT) AS err_ppm
         |FROM m LEFT JOIN iv ON iv.id_a = m.id_a AND iv.id_b = m.id_b
         |JOIN n na ON na.doc_id = m.id_a JOIN n nb ON nb.doc_id = m.id_b
         |ORDER BY m.id_a, m.id_b""".stripMargin
    }) { (s, d) =>
      Dedup.minhashFidelity(Tables.t(s, d, "documents"), "doc_id", "text",
          3, NumHashes, RowsPerBand)
        .orderBy("id_a", "id_b")
    },

    // ---- exact substring dedup (Lee et al. 2022 shape): 40-char windows
    //      at stride 10, md5'd; a window shared by >= 2 docs is duplicated
    //      text. Per-doc duplicated-window counts + ratio. All md5/integer
    //      math, so the oracle replays it exactly. ----
    Q("q114_substring_dedup",
      """WITH w AS (
        |  SELECT doc_id, md5(substr(text, CAST(p AS INTEGER), 40)) AS h
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 39, 10)) AS p) s
        |  WHERE length(text) >= 40),
        |dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        |SELECT w.doc_id, count(*) AS n_windows,
        |  count(d.h) AS n_dup_windows,
        |  CAST(count(d.h) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_ratio
        |FROM w LEFT JOIN dup d ON w.h = d.h
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin) { (s, d) =>
      Dedup.substringDupStats(Tables.t(s, d, "documents"), "doc_id", "text",
          windowLen = 40, stride = 10)
        .orderBy("doc_id")
    },

    // ---- cross-source substring leakage: distinct window hashes per
    //      source that also occur in another source (the cross-snapshot
    //      contamination audit). ----
    Q("q117_cross_source_leakage",
      """WITH w AS (
        |  SELECT DISTINCT source, md5(substr(text, CAST(p AS INTEGER), 40)) AS h
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 39, 10)) AS p) s
        |  WHERE length(text) >= 40),
        |x AS (SELECT h, count(*) AS ns FROM w GROUP BY h)
        |SELECT w.source, count(*) AS n_shared_hashes
        |FROM w JOIN x ON w.h = x.h AND x.ns >= 2
        |GROUP BY w.source ORDER BY w.source""".stripMargin) { (s, d) =>
      Dedup.crossSourceWindowLeakage(Tables.t(s, d, "documents"), "doc_id",
          "text", "source", windowLen = 40, stride = 10)
        .orderBy("source")
    },

    // ---- incremental (cross-snapshot) dedup: probe the NEW crawl
    //      (src10-src19) against the EXISTING corpus's (src0-src9)
    //      window-hash set — old×old and new×new pairs are never formed,
    //      the crawl-N+1-vs-crawl-N production shape. ----
    Q("q125_incremental_dedup",
      """WITH w AS (
        |  SELECT doc_id, source, md5(substr(text, CAST(p AS INTEGER), 40)) AS h
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 39, 10)) AS p) s
        |  WHERE length(text) >= 40),
        |old AS (SELECT DISTINCT h FROM w WHERE CAST(substr(source, 4) AS INTEGER) < 10),
        |hits AS (
        |  SELECT w.source, w.doc_id FROM w JOIN old USING (h)
        |  WHERE CAST(substr(w.source, 4) AS INTEGER) >= 10
        |  GROUP BY w.source, w.doc_id),
        |hc AS (SELECT source, count(*) AS n_carry FROM hits GROUP BY source),
        |tot AS (SELECT source, count(*) AS n_new_docs FROM documents
        |        WHERE CAST(substr(source, 4) AS INTEGER) >= 10 GROUP BY source)
        |SELECT tot.source, CAST(tot.n_new_docs AS BIGINT) AS n_new_docs,
        |  CAST(coalesce(hc.n_carry, 0) AS BIGINT) AS n_carryover_docs
        |FROM tot LEFT JOIN hc ON tot.source = hc.source
        |ORDER BY tot.source""".stripMargin) { (s, d) =>
      Dedup.crossSnapshotCarryover(Tables.t(s, d, "documents"), "doc_id",
          "text", "source",
          oldPred = substring(col("source"), 4, 8).cast("int") < 10,
          windowLen = 40, stride = 10)
        .orderBy("source")
    },

    // ---- Bloom-routed incremental dedup (the sketch path for q125's
    //      shape): crawl N's window-hash set becomes a 2^21-bit md5 Bloom
    //      bitmap (~33k bigint words, 63 bits each — broadcast-legal at ANY corpus
    //      size, where the exact distinct-hash set must stay a shuffle
    //      join); crawl N+1 docs probe it as a narrow map. The oracle
    //      replays the BITMAP itself — bit functions, word packing, and
    //      every false positive — plus the exact join, so both counts and
    //      both verdicts (no false negatives / FP share within budget)
    //      are hash-gated, the q128 full-sketch-replay pattern. ----
    Q("q136_incremental_bloom", {
      val pos = (j: String, h: String) => bloomPosSql(j, h)
      s"""WITH w AS (
         |  SELECT doc_id, source, md5(substr(text, CAST(p AS INTEGER), 40)) AS h
         |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 39, 10)) AS p) s
         |  WHERE length(text) >= 40),
         |old AS (SELECT DISTINCT h FROM w WHERE CAST(substr(source, 4) AS INTEGER) < 10),
         |nw AS (SELECT DISTINCT source, doc_id, h FROM w
         |       WHERE CAST(substr(w.source, 4) AS INTEGER) >= 10),
         |bm AS (
         |  SELECT pos // 63 AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
         |  FROM (SELECT ${pos("j", "h")} AS pos FROM old, range(0, 3) t(j)) q
         |  GROUP BY 1),
         |pp AS (SELECT source, doc_id, h, ${pos("j", "h")} AS pos
         |       FROM nw, range(0, 3) t(j)),
         |pb AS (
         |  SELECT pp.source, pp.doc_id, pp.h,
         |    sum(CASE WHEN bm.bits IS NOT NULL
         |             AND ((bm.bits >> CAST(pp.pos % 63 AS INTEGER)) & 1) = 1
         |             THEN 1 ELSE 0 END) AS nset
         |  FROM pp LEFT JOIN bm ON bm.word = pp.pos // 63
         |  GROUP BY 1, 2, 3),
         |bc AS (SELECT source, count(DISTINCT doc_id) AS n_bloom FROM pb
         |       WHERE nset = 3 GROUP BY source),
         |ec AS (SELECT nw.source, count(DISTINCT nw.doc_id) AS n_exact
         |       FROM nw JOIN old USING (h) GROUP BY nw.source),
         |tot AS (SELECT source, count(*) AS n_new FROM documents
         |        WHERE CAST(substr(source, 4) AS INTEGER) >= 10 GROUP BY source)
         |SELECT tot.source, CAST(tot.n_new AS BIGINT) AS n_new_docs,
         |  CAST(coalesce(ec.n_exact, 0) AS BIGINT) AS n_carry_exact,
         |  CAST(coalesce(bc.n_bloom, 0) AS BIGINT) AS n_carry_bloom,
         |  coalesce(bc.n_bloom, 0) >= coalesce(ec.n_exact, 0) AS no_false_negatives,
         |  CAST(coalesce(bc.n_bloom, 0) - coalesce(ec.n_exact, 0) AS DOUBLE)
         |    <= CAST(tot.n_new AS DOUBLE) * 0.05 AS fpr_ok
         |FROM tot LEFT JOIN ec ON tot.source = ec.source
         |LEFT JOIN bc ON tot.source = bc.source
         |ORDER BY tot.source""".stripMargin
    }) { (s, d) =>
      Dedup.crossSnapshotCarryoverBloom(Tables.t(s, d, "documents"), "doc_id",
          "text", "source",
          oldPred = substring(col("source"), 4, 8).cast("int") < 10,
          windowLen = 40, stride = 10, mBits = 1 << 21, k = 3,
          fprBudget = 0.05)
        .orderBy("source")
    },

    // ---- canonical-representative selection: the step AFTER clustering —
    //      each near-dup cluster keeps its BEST document (longest n_chars,
    //      smallest doc_id on ties), not the arbitrary min-id the q74
    //      keep-list uses. This is how production dedup actually chooses
    //      survivors (quality-ranked canonicalization, not id order).
    //      Oracle = the q113 label propagation + a per-cluster rank.
    //      Scale: labels come from the LSH+CC pipeline (never all-pairs);
    //      the rank windows per CLUSTER — bounded by cluster size, the
    //      corpus never passes through one task. ----
    Q("q153_canonical_selection",
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql,
         |$verifiedPairsCtes,
         |$labelPropCtes,
         |j AS (SELECT l3.l, d.doc_id, d.n_chars FROM l3
         |      JOIN documents d ON d.doc_id = l3.v),
         |r AS (SELECT l, doc_id, n_chars,
         |        row_number() OVER (PARTITION BY l
         |          ORDER BY n_chars DESC, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY l) AS cs
         |      FROM j)
         |SELECT l AS cluster_label, CAST(cs AS BIGINT) AS cluster_size,
         |  doc_id AS canonical_doc, CAST(n_chars AS BIGINT) AS canonical_chars
         |FROM r WHERE rn = 1 ORDER BY cluster_label""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.t(s, d, "documents")
      // labels: (doc_id, component) — singletons labeled by their own id
      val labels = Dedup.nearDupClusters(docs, "doc_id", "text", 3, 0.8)
      val w = Window.partitionBy("l").orderBy(col("n_chars").desc, col("doc_id"))
      labels.join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(col("component").as("l"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cs", count(lit(1)).over(Window.partitionBy("l")))
        .filter(col("rn") === 1)
        .select(col("l").as("cluster_label"), col("cs").as("cluster_size"),
          col("doc_id").as("canonical_doc"),
          col("n_chars").as("canonical_chars"))
        .orderBy("cluster_label")
    },

    // ---- SEGMENT-level dedup profile (the fixed-width analog of
    //      CCNet/C4 paragraph dedup: these docs are single-line token
    //      streams, so the "paragraph" is an 8-token aligned segment).
    //      Segmentation is a NARROW per-row transform (no posexplode →
    //      re-group round trip: the segment list is built inside the row,
    //      then exploded once); a segment is "duplicated" when its md5
    //      appears in ≥ 2 DISTINCT docs, found by one hash-aggregate over
    //      (segh, doc) pairs. Per-source output: share of segments that
    //      are corpus-duplicates and docs whose dup share exceeds 1/2 —
    //      the rows a pretrain pipeline would drop or re-weight. Scale:
    //      segment cardinality ~ token count / 8; the dup-set join is a
    //      plain equi-join on the hash (never broadcast — at 100 TB the
    //      dup set is corpus-scale), and no stage regroups per doc more
    //      rows than the doc's own segments. ----
    Q("q178_segment_dedup",
      """WITH tokd AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(CAST(ceil(len(toks) / 8.0) AS BIGINT)),
        |      i -> md5(array_to_string(
        |        toks[CAST(i * 8 + 1 AS INTEGER):CAST(i * 8 + 8 AS INTEGER)],
        |        ' ')))) AS segh
        |  FROM tokd),
        |dup AS (
        |  SELECT segh FROM segs GROUP BY segh
        |  HAVING count(DISTINCT doc_id) >= 2),
        |per AS (
        |  SELECT s.doc_id, s.source, count(*) AS ns,
        |    sum(CASE WHEN d.segh IS NOT NULL THEN 1 ELSE 0 END) AS nd
        |  FROM segs s LEFT JOIN dup d USING (segh)
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(ns) AS BIGINT) AS n_segs,
        |  CAST(sum(nd) AS BIGINT) AS n_dup_segs,
        |  CAST(sum(CASE WHEN CAST(nd AS DOUBLE) / CAST(ns AS DOUBLE) > 0.5
        |      THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
        |  CAST(sum(nd) AS DOUBLE) / CAST(sum(ns) AS DOUBLE) AS dup_ratio
        |FROM per GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val segs = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(expr(
            """transform(
              |  sequence(0, CAST(ceil(size(split(text, ' ')) / 8.0) AS INT) - 1),
              |  i -> md5(array_join(slice(split(text, ' '), i * 8 + 1, 8), ' ')))"""
              .stripMargin)).as("segh"))
      val dup = segs.groupBy("segh")
        .agg(count_distinct(col("doc_id")).as("docs"))
        .filter(col("docs") >= 2)
        .select(col("segh"), lit(1).as("is_dup"))
      segs.join(dup, Seq("segh"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("ns"),
          sum(coalesce(col("is_dup"), lit(0))).as("nd"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ns")).cast("long").as("n_segs"),
          sum(col("nd")).cast("long").as("n_dup_segs"),
          sum(when(col("nd").cast("double") / col("ns").cast("double") > 0.5,
            1L).otherwise(0L)).cast("long").as("flagged_docs"),
          (sum(col("nd")).cast("double") / sum(col("ns")).cast("double"))
            .as("dup_ratio"))
        .orderBy("source")
    },

    // ---- exact-substring RUN dedup (Lee et al. 2021, suffix-array-free):
    //      per doc pair, the LONGEST verbatim shared token span —
    //      consecutive matching 4-token shingles on one (posA − posB)
    //      diagonal consolidate into a run of shingles + 3 tokens. The
    //      span-level answer q114's window stats can't give: WHICH pairs
    //      share HOW LONG a verbatim stretch (the thing a span cutter
    //      actually removes). df-capped at 8 docs per shingle (the
    //      q97/q105 rule) so a template shingle never drives the pair
    //      fan-out; the run windows partition by (pair, diagonal). The
    //      oracle replays shingling, cap, diagonals, island grouping and
    //      the threshold — a one-token drift in any stage breaks the
    //      hash. ----
    Q("q195_substring_run_dedup",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |    md5(sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) AS h
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(sp) - 2)) AS i) s
        |  WHERE len(sp) >= 4),
        |dfc AS (SELECT h FROM sh GROUP BY h
        |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 8),
        |shk AS (SELECT sh.* FROM sh JOIN dfc USING (h)),
        |mt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
        |    a.pos - b.pos AS diag
        |  FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id < b.doc_id),
        |isl AS (SELECT da, db, diag, pa,
        |  pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
        |  FROM mt),
        |runs AS (SELECT da, db, diag, grp, count(*) AS rs
        |  FROM isl GROUP BY 1, 2, 3, 4),
        |agg AS (SELECT da, db, CAST(max(rs) + 3 AS BIGINT) AS max_run_tokens,
        |  CAST(count(*) AS BIGINT) AS n_runs FROM runs GROUP BY 1, 2)
        |SELECT da, db, max_run_tokens, n_runs FROM agg
        |WHERE max_run_tokens >= 8 ORDER BY da, db""".stripMargin) { (s, d) =>
      Dedup.substringRunStats(Tables.t(s, d, "documents"), "doc_id", "text",
          k = 4, dfCap = 8, minRunTokens = 8)
        .orderBy("da", "db")
    },

    // ---- exact-substring span CUT (round-9 advice item 1): q195 finds
    //      the pairs and their longest verbatim span; this EMITS the
    //      deduplicated corpus — Lee et al. 2022's actual output. Per
    //      offending pair the longest run is cut from the NON-CANONICAL
    //      doc (q153's rule in-operator: more tokens keeps, smaller id
    //      on ties); a doc hit by several pairs loses every interval.
    //      Only rewritten docs are emitted, and the hash covers the CUT
    //      TEXT itself — the oracle replays shingling, df-cap, diagonal
    //      islands, per-pair argmax (rs DESC, b_start, a_start — a fixed
    //      victim-agnostic tie order on both engines), victim selection,
    //      interval union and the token-level rebuild;
    //      one token off anywhere breaks it. ----
    Q("q214_substring_run_cut",
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |    md5(sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]) AS h
        |  FROM tk, LATERAL (SELECT unnest(range(1, len(sp) - 2)) AS i) s
        |  WHERE len(sp) >= 4),
        |dfc AS (SELECT h FROM sh GROUP BY h
        |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 8),
        |shk AS (SELECT sh.* FROM sh JOIN dfc USING (h)),
        |mt AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
        |    a.pos - b.pos AS diag
        |  FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id < b.doc_id),
        |isl AS (SELECT da, db, diag, pa, pb,
        |  pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
        |  FROM mt),
        |runs AS (SELECT da, db, diag, grp, count(*) AS rs,
        |  min(pa) AS a_start, min(pb) AS b_start
        |  FROM isl GROUP BY 1, 2, 3, 4),
        |best AS (SELECT da, db, rs, a_start, b_start,
        |  row_number() OVER (PARTITION BY da, db
        |    ORDER BY rs DESC, b_start, a_start) AS rk
        |  FROM runs WHERE rs + 3 >= 8),
        |nt AS (SELECT doc_id, len(sp) AS ntok FROM tk),
        |cuts AS (
        |  SELECT CASE WHEN na.ntok < nb.ntok THEN da ELSE db END AS doc_id,
        |    CASE WHEN na.ntok < nb.ntok THEN a_start ELSE b_start END AS s,
        |    CASE WHEN na.ntok < nb.ntok THEN a_start ELSE b_start END + rs + 2 AS e
        |  FROM best JOIN nt na ON na.doc_id = best.da
        |  JOIN nt nb ON nb.doc_id = best.db
        |  WHERE rk = 1),
        |cl AS (SELECT doc_id, list(s ORDER BY s, e) AS ss,
        |  list(e ORDER BY s, e) AS es FROM cuts GROUP BY doc_id),
        |reb AS (
        |  SELECT tk.doc_id, len(sp) AS n_before,
        |    list_transform(
        |      list_filter(range(1, len(sp) + 1), p ->
        |        len(list_filter(range(1, len(ss) + 1), j ->
        |          ss[CAST(j AS INTEGER)] <= p AND p <= es[CAST(j AS INTEGER)])) = 0),
        |      p -> sp[CAST(p AS INTEGER)]) AS keep
        |  FROM tk JOIN cl USING (doc_id))
        |SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
        |  CAST(len(keep) AS BIGINT) AS n_after,
        |  coalesce(array_to_string(keep, ' '), '') AS text
        |FROM reb ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.substringRunCut(Tables.t(s, d, "documents"), "doc_id", "text",
          k = 4, dfCap = 8, minRunTokens = 8)
        .orderBy("doc_id")
    },

    // ---- UNICODE separator robustness (round-9 advice item 5): exact
    //      dedup over the tokensRe token stream, gated on a PLANTED
    //      multilingual fixture derived deterministically from the
    //      corpus — each doc appears twice, once space-separated with a
    //      CJK/diacritic tail (。汉字<id>№ café), once with every space
    //      replaced by ideographic space U+3000 plus an NBSP before the
    //      tail. The token-normalized fingerprint collapses each pair
    //      (n_unique_re = n_docs/2) while the raw fingerprint sees all
    //      docs distinct — the gap IS the dedup mass a space-tokenized
    //      pipeline misses on real text. The oracle replays the fixture
    //      construction AND the regexp_extract_all identity behind
    //      tokensRe (q95's RE2 ≡ Java \p{L}\p{N} agreement, extended to
    //      CJK, NBSP, U+3000, №, é). ----
    Q("q218_unicode_token_dedup",
      """WITH v1 AS (
        |  SELECT doc_id, source,
        |    text || ' ' || '。汉字' || CAST(doc_id % 100 AS VARCHAR) || '№ café' AS text
        |  FROM documents),
        |v2 AS (
        |  SELECT doc_id + 1000000 AS doc_id, source,
        |    replace(text, ' ', '　') || chr(160) ||
        |      '。汉字' || CAST(doc_id % 100 AS VARCHAR) || '№ café' AS text
        |  FROM documents),
        |m AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
        |n AS (SELECT source, md5(text) AS fp_raw,
        |  md5(array_to_string(regexp_extract_all(text, '[\p{L}\p{N}]+'), ' ')) AS fp_re
        |  FROM m)
        |SELECT source, count(*) AS n_docs,
        |  count(DISTINCT fp_raw) AS n_unique_raw,
        |  count(DISTINCT fp_re) AS n_unique_re,
        |  CAST(count(*) - count(DISTINCT fp_re) AS BIGINT) AS n_re_dups
        |FROM n GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val tail = concat(lit("。汉字"), (col("doc_id") % 100).cast("string"),
        lit("№ café"))
      val v1 = docs.select(col("doc_id"), col("source"),
        concat(col("text"), lit(" "), tail).as("text"))
      val v2 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("source"),
        concat(regexp_replace(col("text"), " ", "\u3000"), lit("\u00A0"),
          tail).as("text"))
      Dedup.tokenNormalizedDedupStats(v1.union(v2), "text", "source")
        .orderBy("source")
    },

    // ---- LEAKAGE-SAFE train/eval split: hash the near-dup CLUSTER label,
    //      not the doc id, so every near-dup cluster lands whole on one
    //      side — the split a real eval set needs (a doc-keyed split
    //      leaks near-copies of eval docs into train; see q281 for the
    //      measured count). Composition: the q113 cluster labeling (LSH
    //      candidates → exact verify → CC, never all-pairs) + the q85
    //      md5 split applied to the component. Per-split n_docs /
    //      n_clusters / total_tokens — the composition report a release
    //      publishes next to the split. Scale: one labels-vs-corpus
    //      equi-join on the doc id + a 2-group agg; the only new work
    //      over q113 is a narrow md5 map. ----
    Q("q280_leakage_safe_split",
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql,
         |$verifiedPairsCtes,
         |$labelPropCtes,
         |t AS (SELECT ${Sampling.splitLabelSql("l3.l", 1)} AS split,
         |        l3.l AS component, len(string_split(d.text, ' ')) AS ntok
         |      FROM l3 JOIN documents d ON d.doc_id = l3.v)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT component) AS n_clusters,
         |  CAST(sum(ntok) AS BIGINT) AS total_tokens
         |FROM t GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val labels = Dedup.nearDupClusters(docs, "doc_id", "text", 3, 0.8)
      docs.join(labels, "doc_id")
        .select(Sampling.splitLabel(col("component"), 1).as("split"),
          col("component"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("ntok"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_clusters"),
          sum(col("ntok").cast("long")).as("total_tokens"))
        .orderBy("split")
    },

    // ---- split-leakage AUDIT: for every VERIFIED near-dup pair, would a
    //      doc-keyed split separate its endpoints (train/eval leakage),
    //      and does the cluster-keyed split (q280) keep them together?
    //      The cluster-keyed cross count is zero BY CONSTRUCTION (both
    //      endpoints share a component, so they hash together) — the gate
    //      proves the property end-to-end, and the doc-keyed count is the
    //      leakage a naive split would have shipped. Scale: the pair list
    //      is LSH-bounded; labels join pairs on the doc id; the report is
    //      2 rows. ----
    Q("q281_split_leakage_audit",
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql,
         |$verifiedPairsCtes,
         |$labelPropCtes,
         |pl AS (SELECT p.i, p.j, la.l AS li, lb.l AS lj
         |       FROM pairs p JOIN l3 la ON la.v = p.i
         |       JOIN l3 lb ON lb.v = p.j),
         |sp AS (SELECT
         |    ${Sampling.splitLabelSql("i", 1)} AS si,
         |    ${Sampling.splitLabelSql("j", 1)} AS sj,
         |    ${Sampling.splitLabelSql("li", 1)} AS ci,
         |    ${Sampling.splitLabelSql("lj", 1)} AS cj
         |  FROM pl)
         |SELECT 'cluster_level' AS strategy, count(*) AS n_pairs,
         |  CAST(coalesce(sum(CASE WHEN ci <> cj THEN 1 END), 0) AS BIGINT) AS n_cross
         |FROM sp
         |UNION ALL
         |SELECT 'doc_level', count(*),
         |  CAST(coalesce(sum(CASE WHEN si <> sj THEN 1 END), 0) AS BIGINT)
         |FROM sp
         |ORDER BY strategy""".stripMargin) { (s, d) =>
      val pl = Dedup.nearDupPairLabels(Tables.t(s, d, "documents"),
        "doc_id", "text", 3, 0.8)
      def sl(c: String) = Sampling.splitLabel(col(c), 1)
      val sp = pl.select(sl("id_a").as("si"), sl("id_b").as("sj"),
        sl("comp_a").as("ci"), sl("comp_b").as("cj"))
      val cross = (a: Column, b: Column) =>
        coalesce(sum(when(a =!= b, 1L)), lit(0L)).cast("long").as("n_cross")
      sp.agg(count(lit(1)).as("n_pairs"), cross(col("ci"), col("cj")))
        .select(lit("cluster_level").as("strategy"), col("n_pairs"), col("n_cross"))
        .unionAll(
          sp.agg(count(lit(1)).as("n_pairs"), cross(col("si"), col("sj")))
            .select(lit("doc_level").as("strategy"), col("n_pairs"), col("n_cross")))
        .orderBy("strategy")
    },

    // ---- dedup SAVINGS report: per source, what near-dup dedup keeps
    //      vs drops, in docs AND tokens — the accounting a corpus owner
    //      reads before paying for a crawl refresh (a source whose
    //      tokens are mostly duplicates of what's already shipped is a
    //      source to deprioritize). Composition: the q74 keep rule
    //      (component representative ⟺ l = v) aggregated by source.
    //      Scale: the labels-vs-corpus equi-join q280 already runs +
    //      one |sources|-group agg. ----
    Q("q288_dedup_savings_by_source",
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |$bandsSql,
         |$verifiedPairsCtes,
         |$labelPropCtes,
         |t AS (SELECT d.source,
         |        CASE WHEN l3.l = l3.v THEN 1 ELSE 0 END AS kept,
         |        len(string_split(d.text, ' ')) AS ntok
         |      FROM l3 JOIN documents d ON d.doc_id = l3.v)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(sum(ntok) AS BIGINT) AS tokens_total,
         |  CAST(sum(kept * ntok) AS BIGINT) AS tokens_kept
         |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val labels = Dedup.nearDupClusters(docs, "doc_id", "text", 3, 0.8)
      docs.join(labels, "doc_id")
        .select(col("source"),
          when(col("component") === col("doc_id"), 1L).otherwise(0L)
            .as("kept"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("ntok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).cast("long").as("n_kept"),
          sum(col("ntok")).cast("long").as("tokens_total"),
          sum(col("kept") * col("ntok")).cast("long").as("tokens_kept"))
        .orderBy("source")
    },

    // ---- LSH band-geometry sweep (the q224 nprobe-sweep / q248
    //      beam-sweep cell for the DEDUP family): per rows-per-band
    //      setting, the candidate-pair count (the verification cost
    //      the banding pays) next to the verified-pair count (the
    //      recall it buys at Jaccard ≥ 0.8) — the knob table a
    //      pipeline owner reads before fixing the geometry for a
    //      100 TB run. Signatures are geometry-independent, so ONE
    //      shingle scan and ONE signature pass feed all three
    //      settings; only the band re-hash and the bucket equi-join
    //      re-run. The oracle replays each setting through the SAME
    //      band/verify text the q74 family uses. ----
    Q("q304_lsh_band_sweep", {
      val settings = Seq(2, 4, 8)
      val ctes = settings.map { rpb =>
        s"""${bandsSqlFor(rpb, s"bands$rpb")},
           |cand$rpb AS (
           |  SELECT a.doc_id AS i, b.doc_id AS j
           |  FROM bands$rpb a JOIN bands$rpb b
           |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           |    AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |ver$rpb AS (
           |  SELECT count(*) AS nv FROM (
           |    SELECT c.i, c.j, count(*) AS inter
           |    FROM cand$rpb c
           |    JOIN sh sa ON sa.doc_id = c.i
           |    JOIN sh sb ON sb.doc_id = c.j AND sb.s = sa.s
           |    GROUP BY 1, 2) p
           |  JOIN nsh na ON na.doc_id = p.i
           |  JOIN nsh nb ON nb.doc_id = p.j
           |  WHERE CAST(inter AS DOUBLE)
           |    / CAST(na.ns + nb.ns - inter AS DOUBLE) >= 0.8)""".stripMargin
      }.mkString(",\n")
      val rows = settings.map { rpb =>
        s"""SELECT CAST($rpb AS INTEGER) AS rows_per_band,
           |  CAST(${NumHashes / rpb} AS INTEGER) AS n_bands,
           |  (SELECT count(*) FROM cand$rpb) AS n_candidates,
           |  (SELECT nv FROM ver$rpb) AS n_verified""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $ShingleCte,
         |$minhashSigSql,
         |nsh AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         |$ctes
         |$rows
         |ORDER BY rows_per_band""".stripMargin
    }) { (s, d) =>
      Dedup.lshBandSweep(Tables.t(s, d, "documents"), "doc_id", "text",
          3, NumHashes, Seq(2, 4, 8), minJaccard = 0.8)
        .orderBy("rows_per_band")
    }
  )
}
