package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: the generator /
  * flatten shapes of the reference (SURVEY.md §2.4 G1/G2 — explode and
  * posexplode) plus the training-data-pipeline text ops (language ID,
  * quality scoring, token counting, fingerprinting).
  *
  * Scale: every op is a narrow map + (optionally) a hash agg — explode
  * fan-out stays partition-local, aggregation is two-phase, and nothing
  * collects to the driver. At 100 TB the explode output is salted only by
  * the natural parallelism of the input splits.
  */
object TextOps {

  private val LangMarkers = Seq("the", "a", "data", "spark", "fast")

  /** DuckDB replica of Bpe.wordTypes: the ASCII-alnum word-TYPE table and
    * its per-character initial segmentation — ONE definition shared by the
    * q134 (train) and q141 (encode) oracles. */
  private val bpeBaseCte =
    """t0 AS (
      |  SELECT tok, count(*) AS freq FROM (
      |    SELECT unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS tok
      |    FROM documents) u
      |  WHERE regexp_matches(tok, '^[A-Za-z0-9]+$') GROUP BY tok),
      |s0 AS (SELECT freq, list_transform(range(1, length(tok)+1),
      |  i -> substr(tok, CAST(i AS INTEGER), 1)) AS syms FROM t0)""".stripMargin

  /** One DuckDB BPE round (the oracle replica of [[Bpe.merges]]'s loop):
    * pair counts from s(r-1), deterministic top-1, greedy merge via the
    * same '|'-delimited list_reduce fold. */
  private def bpeRoundCte(r: Int): String =
    s"""p$r AS (
       |  SELECT lft, rgt, sum(freq) AS pf FROM (
       |    SELECT freq,
       |      unnest(list_transform(range(1, len(syms)), i -> syms[CAST(i AS INTEGER)])) AS lft,
       |      unnest(list_transform(range(1, len(syms)), i -> syms[CAST(i AS INTEGER)+1])) AS rgt
       |    FROM s${r - 1}) u GROUP BY lft, rgt),
       |b$r AS (SELECT lft, rgt, pf FROM p$r ORDER BY pf DESC, lft, rgt LIMIT 1),
       |s$r AS (
       |  SELECT freq,
       |    string_split(substr(list_reduce(list_prepend('', syms), (acc, x) ->
       |      CASE WHEN x = b.rgt AND ends_with(acc, '|' || b.lft)
       |           THEN substr(acc, 1, length(acc) - length(b.lft) - 1) || '|' || b.lft || b.rgt
       |           ELSE acc || '|' || x END), 2, 2147483647), '|') AS syms
       |  FROM s${r - 1}, b$r b)""".stripMargin

  /** One DuckDB BATCHED-BPE pass (the oracle replica of
    * [[Bpe.mergesBatched]]'s loop): pair counts from state g(b-1), rank
    * by (pf DESC, lft, rgt) windowed to top-K, then a RECURSIVE CTE walks
    * the window in rank order carrying the kept-left/kept-right lists —
    * keep a pair iff its lft is in no kept pair's rights and its rgt in
    * no kept pair's lefts (the adjacency-conflict rule, list_contains),
    * stop growing at m kept — and the kept pairs are applied greedily in
    * rank order. Each apply step pairs the
    * state with a 1-row (min-agg) merge helper whose lft/rgt coalesce to
    * '' when the j-th kept merge doesn't exist — '' can't equal any
    * (non-empty) symbol, so the fold is the identity for missing js,
    * exactly the engine's "fewer than batchSize kept" behavior. */
  private def bpeBatchCte(b: Int, m: Int, k: Int): String = {
    val prev = if (b == 1) "s0" else s"g${b - 1}"
    val applies = (1 to m).map { j =>
      val in = if (j == 1) prev else s"ga${b}_${j - 1}"
      s"""mj${b}_$j AS (SELECT coalesce(min(lft), '') AS lft,
         |  coalesce(min(rgt), '') AS rgt FROM bk$b WHERE j = $j),
         |ga${b}_$j AS (
         |  SELECT freq,
         |    string_split(substr(list_reduce(list_prepend('', syms), (acc, x) ->
         |      CASE WHEN x = b.rgt AND ends_with(acc, '|' || b.lft)
         |           THEN substr(acc, 1, length(acc) - length(b.lft) - 1) || '|' || b.lft || b.rgt
         |           ELSE acc || '|' || x END), 2, 2147483647), '|') AS syms
         |  FROM $in, mj${b}_$j b)""".stripMargin
    }.mkString(",\n")
    s"""bp$b AS (
       |  SELECT lft, rgt, sum(freq) AS pf FROM (
       |    SELECT freq,
       |      unnest(list_transform(range(1, len(syms)), i -> syms[CAST(i AS INTEGER)])) AS lft,
       |      unnest(list_transform(range(1, len(syms)), i -> syms[CAST(i AS INTEGER)+1])) AS rgt
       |    FROM $prev) u GROUP BY lft, rgt),
       |bt$b AS (SELECT * FROM (
       |    SELECT lft, rgt, pf, row_number() OVER (ORDER BY pf DESC, lft, rgt) AS rk
       |    FROM bp$b) w WHERE rk <= $k),
       |w$b AS (
       |  SELECT 0 AS rk, CAST([] AS VARCHAR[]) AS kl,
       |    CAST([] AS VARCHAR[]) AS kr, CAST([] AS BIGINT[]) AS kf
       |  UNION ALL
       |  SELECT t.rk,
       |    CASE WHEN len(w.kl) < $m AND NOT list_contains(w.kr, t.lft)
       |           AND NOT list_contains(w.kl, t.rgt)
       |      THEN w.kl || [t.lft] ELSE w.kl END,
       |    CASE WHEN len(w.kl) < $m AND NOT list_contains(w.kr, t.lft)
       |           AND NOT list_contains(w.kl, t.rgt)
       |      THEN w.kr || [t.rgt] ELSE w.kr END,
       |    CASE WHEN len(w.kl) < $m AND NOT list_contains(w.kr, t.lft)
       |           AND NOT list_contains(w.kl, t.rgt)
       |      THEN w.kf || [t.pf] ELSE w.kf END
       |  FROM w$b w JOIN bt$b t ON t.rk = w.rk + 1),
       |bk$b AS (
       |  SELECT s.j, f.kl[CAST(s.j AS INTEGER)] AS lft,
       |    f.kr[CAST(s.j AS INTEGER)] AS rgt,
       |    f.kf[CAST(s.j AS INTEGER)] AS pf
       |  FROM (SELECT kl, kr, kf FROM w$b ORDER BY rk DESC LIMIT 1) f,
       |       (SELECT unnest(range(1, $m + 1)) AS j) s
       |  WHERE s.j <= len(f.kl)),
       |$applies,
       |g$b AS (SELECT * FROM ga${b}_$m)""".stripMargin
  }

  /** q141/q191's shared oracle: the full train-then-apply replay rolled
    * up to the top-50 subword vocabulary — ONE definition, so the
    * artifact-round-trip gate (q191) proves save→load loses nothing
    * against EXACTLY the statement the direct encode (q141) is held to. */
  private lazy val BpeEncodeTop50Sql: String = {
    val R = 10
    s"""WITH $bpeBaseCte,
       |${(1 to R).map(bpeRoundCte).mkString(",\n")}
       |SELECT sym, CAST(sum(freq) AS BIGINT) AS total FROM (
       |  SELECT freq, unnest(syms) AS sym FROM s$R) u
       |GROUP BY sym ORDER BY total DESC, sym LIMIT 50""".stripMargin
  }

  /** The shared q141/q191 rollup over an encoded type table. */
  private def subwordTop50(enc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    enc.select(explode(col("syms")).as("sym"), col("freq"))
      .groupBy("sym").agg(sum("freq").cast("long").as("total"))
      .orderBy(col("total").desc, col("sym"))
      .limit(50)

  // data dir -> the ONE tokenizer-artifact file this JVM round-trips
  // through (overwrite per invocation — the save is the operator under
  // test; the SimilarityOps.tempDirs rule)
  private val bpeArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bpeArtifact(d: String): String =
    bpeArtifacts.computeIfAbsent(new java.io.File(d).getCanonicalPath,
      _ => graft.TempDirs.create("graft-bpe").resolve("merges.txt").toString)

  val defs: Seq[Q] = Seq(

    // ---- BPE merge induction (tokenizer training, Sennrich shape): 10
    //      iterative top-pair merges over the word-TYPE table. The oracle
    //      replays every round — pair counting over the evolving symbol
    //      arrays, the (freq DESC, left, right) tie-break, and the greedy
    //      left-to-right merge fold — so a drift in ANY round (not just
    //      the last) breaks the hash. ASCII-alnum token filter pins
    //      cross-engine character counting (see Bpe.merges). ----
    Q("q134_bpe_merges", {
      val R = 10
      s"""WITH $bpeBaseCte,
         |${(1 to R).map(bpeRoundCte).mkString(",\n")}
         |${(1 to R).map(r =>
             s"SELECT $r AS round, lft, rgt, CAST(pf AS BIGINT) AS pair_freq FROM b$r")
             .mkString("\nUNION ALL\n")}
         |ORDER BY round""".stripMargin
    }) { (s, d) =>
      Bpe.merges(Tables.t(s, d, "documents"), "text", rounds = 10)
        .orderBy("round")
    },

    // ---- the BPE APPLY step (tokenizer encode): the word-type table
    //      re-segmented by the 10 trained merges, rolled up to the top-50
    //      subword vocabulary by corpus frequency. The oracle replays the
    //      FULL train-then-apply loop (every round's pair count, tie-break
    //      and greedy fold), so a drift in training order or merge
    //      application resurfaces here even if q134's merge LIST happens
    //      to match. Scale: train cost is q134; the apply itself is
    //      `rounds` folds over the vocab-sized type table in ONE pass,
    //      then a two-phase subword agg + top-k. ----
    Q("q141_bpe_encode", BpeEncodeTop50Sql) { (s, d) =>
      subwordTop50(Bpe.encoded(Tables.t(s, d, "documents"), "text",
        rounds = 10))
    },

    // ---- tokenizer-ARTIFACT round-trip (the tokenizer.json analog of
    //      q189's index persistence): the trained merge list is saved to
    //      a versioned text artifact, loaded back, and the corpus is
    //      encoded FROM THE LOADED ARTIFACT — the nightly corpus-encode
    //      a production pipeline runs against a tokenizer trained once.
    //      Gated against the SAME oracle as q141, so the hash proves the
    //      artifact round-trip loses nothing (order, symbols, count).
    //      Training memoizes per dataset (Bpe.trainedMerges); the timed
    //      work is save + load + the one-pass encode fold. ----
    Q("q191_bpe_artifact_roundtrip", BpeEncodeTop50Sql) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val path = bpeArtifact(d)
      Bpe.saveMerges(
        Bpe.trainedMerges(docs, "text", rounds = 10, cacheKey = d), path)
      subwordTop50(Bpe.encodedWith(docs, "text", Bpe.loadMerges(path)))
    },

    // ---- BATCHED BPE training (the 100 TB trainer shape): 4 corpus
    //      passes × up-to-5 merges per pass instead of one pass per
    //      merge — ~batchSize× fewer Spark jobs per merge (BpeBatchedSpec
    //      measures the reduction; Bpe.mergesBatched documents the
    //      conflict rule). The oracle replays EVERY pass: pair counting,
    //      the top-20 rank window, the recursive adjacent-conflict keep
    //      walk, and the greedy in-rank-order application — so a drift
    //      in any pass's selection OR application breaks the hash. ----
    Q("q174_bpe_batched", {
      val B = 4; val M = 5; val K = 20
      val raw = s"""WITH RECURSIVE $bpeBaseCte,
         |${(1 to B).map(b => bpeBatchCte(b, M, K)).mkString(",\n")}
         |SELECT CAST(batch AS INTEGER) AS batch, CAST(j AS INTEGER) AS j,
         |  lft, rgt, CAST(pair_freq AS BIGINT) AS pair_freq FROM (
         |${(1 to B).map(b =>
             s"  SELECT $b AS batch, j, lft, rgt, pf AS pair_freq FROM bk$b")
             .mkString("\n  UNION ALL\n")})
         |ORDER BY batch, j""".stripMargin
      // force single evaluation of every CTE: DuckDB inlines CTE
      // references, and this chain references each batch state from both
      // the next batch's pair count and m apply steps — un-materialized,
      // evaluation compounds exponentially across batches (measured:
      // >120 s un-hinted vs 0.9 s materialized at sf0.001)
      raw.replaceAll(
        """\b(t0|s0|bp\d+|bt\d+|w\d+|bk\d+|mj\d+_\d+|ga\d+_\d+|g\d+) AS \(""",
        "$1 AS MATERIALIZED (")
    }) { (s, d) =>
      Bpe.mergesBatched(Tables.t(s, d, "documents"), "text",
        passes = 4, batchSize = 5).orderBy("batch", "j")
    },

    // ---- DEEP batched BPE: the q174 selection/application rules run
    //      3.2× deeper — 8 passes × up-to-8 merges, 64 of this corpus's
    //      ~107-merge total pair supply (31 word types, 138 type-chars),
    //      so the late passes train against a substantially merged state
    //      q174's 20 merges never reach. Rank window K = 4·batchSize =
    //      32, as in the engine. Depth beyond the fixture's supply was
    //      timed on a derived corpus with ~600k-merge supply (≥1k-merge
    //      runs — BASELINE.md's round-8 deep-BPE record). ----
    Q("q186_bpe_batched_deep", {
      val B = 8; val M = 8; val K = 32
      val raw = s"""WITH RECURSIVE $bpeBaseCte,
         |${(1 to B).map(b => bpeBatchCte(b, M, K)).mkString(",\n")}
         |SELECT CAST(batch AS INTEGER) AS batch, CAST(j AS INTEGER) AS j,
         |  lft, rgt, CAST(pair_freq AS BIGINT) AS pair_freq FROM (
         |${(1 to B).map(b =>
             s"  SELECT $b AS batch, j, lft, rgt, pf AS pair_freq FROM bk$b")
             .mkString("\n  UNION ALL\n")})
         |ORDER BY batch, j""".stripMargin
      // same single-evaluation hint as q174 (see the comment there)
      raw.replaceAll(
        """\b(t0|s0|bp\d+|bt\d+|w\d+|bk\d+|mj\d+_\d+|ga\d+_\d+|g\d+) AS \(""",
        "$1 AS MATERIALIZED (")
    }) { (s, d) =>
      Bpe.mergesBatched(Tables.t(s, d, "documents"), "text",
        passes = 8, batchSize = 8).orderBy("batch", "j")
    },

    // ---- BPE DECODE round-trip (pieces → text, the inverse of q141):
    //      re-concatenating every encoded type's symbols must reproduce
    //      the original word-type table exactly — same words, same
    //      frequencies, corpus-wide (n_types = n_roundtrip). Full outer
    //      join, so a lost AND an invented word both surface. The oracle
    //      replays the full 10-round train+apply chain before
    //      decoding. ----
    Q("q173_bpe_decode", {
      val R = 10
      s"""WITH $bpeBaseCte,
         |${(1 to R).map(bpeRoundCte).mkString(",\n")},
         |rec AS (SELECT array_to_string(syms, '') AS w, sum(freq) AS f_rec
         |        FROM s$R GROUP BY 1),
         |orig AS (SELECT array_to_string(syms, '') AS w, sum(freq) AS f_orig
         |         FROM s0 GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(CASE WHEN rec.f_rec = orig.f_orig THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_roundtrip
         |FROM rec FULL JOIN orig USING (w)""".stripMargin
    }) { (s, d) =>
      Bpe.decodeRoundTrip(Tables.t(s, d, "documents"), "text", rounds = 10)
    },

    // ---- Tokenizer FERTILITY by source: pieces-per-token and
    //      pieces-per-char under the q134-trained vocab — the number a
    //      data team reads before committing a tokenizer to a corpus mix
    //      (a source with high fertility pays proportionally more compute
    //      per character of signal). The per-TYPE piece counts come from
    //      the one-pass q141 encode fold over the vocab-sized type table;
    //      the corpus-sized side is a narrow explode joined to that
    //      broadcast type table — the token stream itself is never
    //      re-encoded or shuffled by word. Oracle replays the full
    //      10-round train + apply chain, then the same join + ratios. ----
    Q("q181_bpe_fertility", {
      val R = 10
      s"""WITH $bpeBaseCte,
         |${(1 to R).map(bpeRoundCte).mkString(",\n")},
         |typ AS (SELECT array_to_string(syms, '') AS w, len(syms) AS np
         |        FROM s$R),
         |tokf AS (
         |  SELECT source, tok AS w FROM (
         |    SELECT source,
         |      unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS tok
         |    FROM documents) u
         |  WHERE regexp_matches(tok, '^[A-Za-z0-9]+${"$"}'))
         |SELECT source, count(*) AS ntok,
         |  CAST(sum(t.np) AS BIGINT) AS pieces,
         |  CAST(sum(length(f.w)) AS BIGINT) AS chars,
         |  CAST(sum(t.np) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS fertility,
         |  CAST(sum(t.np) AS DOUBLE) / CAST(sum(length(f.w)) AS DOUBLE)
         |    AS pieces_per_char
         |FROM tokf f JOIN typ t USING (w)
         |GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      val enc = Bpe.encoded(Tables.t(s, d, "documents"), "text",
        rounds = 10)
      val typ = enc.select(array_join(col("syms"), "").as("w"),
        size(col("syms")).cast("long").as("np"))
      val tok = Tables.t(s, d, "documents").select(col("source"),
          explode(tokensRe(col("text"))).as("w"))
        .filter(col("w").rlike("^[A-Za-z0-9]+$"))
      tok.join(broadcast(typ), Seq("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("ntok"),
          sum(col("np")).cast("long").as("pieces"),
          sum(length(col("w"))).cast("long").as("chars"),
          (sum(col("np")).cast("double") / count(lit(1)).cast("double"))
            .as("fertility"),
          (sum(col("np")).cast("double")
            / sum(length(col("w"))).cast("double")).as("pieces_per_char"))
        .orderBy("source")
    },

    // ---- G1: explode + top-k over generated rows ----
    Q("q31_explode_tokens",
      """SELECT word, count(*) AS num
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY num DESC, word LIMIT 20""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("num"))
        .orderBy(col("num").desc, col("word"))
        .limit(20)
    },

    // ---- G2: posexplode — 0-based position within the document ----
    Q("q32_posexplode",
      """SELECT doc_id, CAST(pos AS INTEGER) AS pos, word FROM (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS word,
        |    unnest(range(len(string_split(text, ' ')))) AS pos
        |  FROM documents) t
        |WHERE pos < 3 ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
        .filter(col("pos") < 3)
        .select(col("doc_id"), col("pos"), col("word"))
        .orderBy("doc_id", "pos")
    },

    // ---- token counting per source ----
    Q("q33_token_count",
      """SELECT source, count(*) AS ndocs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(MIN(len(string_split(text, ' '))) AS INTEGER) AS min_tokens,
        |  CAST(MAX(len(string_split(text, ' '))) AS INTEGER) AS max_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .select(col("source"), tokenCount(col("text")).as("ntok"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("ndocs"),
          sum("ntok").cast("long").as("total_tokens"),
          min("ntok").as("min_tokens"),
          max("ntok").as("max_tokens"))
        .orderBy("source")
    },

    // ---- language ID: marker-token histogram + deterministic argmax ----
    Q("q34_lang_id",
      """WITH m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text,' '), w -> w = 'the')) AS INTEGER) AS c_the,
        |    CAST(len(list_filter(string_split(text,' '), w -> w = 'a')) AS INTEGER) AS c_a,
        |    CAST(len(list_filter(string_split(text,' '), w -> w = 'data')) AS INTEGER) AS c_data,
        |    CAST(len(list_filter(string_split(text,' '), w -> w = 'spark')) AS INTEGER) AS c_spark,
        |    CAST(len(list_filter(string_split(text,' '), w -> w = 'fast')) AS INTEGER) AS c_fast
        |  FROM documents)
        |SELECT doc_id, lang, c_the, c_a, c_data, c_spark, c_fast,
        |  CASE WHEN c_the >= c_a AND c_the >= c_data THEN 'en'
        |       WHEN c_a >= c_data THEN 'es' ELSE 'de' END AS predicted
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val counts = LangMarkers.map(w => markerCount(col("text"), w).as(s"c_$w"))
      Tables.t(s, d, "documents")
        .select(Seq(col("doc_id"), col("lang")) ++ counts: _*)
        .withColumn("predicted",
          when(col("c_the") >= col("c_a") && col("c_the") >= col("c_data"), "en")
            .when(col("c_a") >= col("c_data"), "es")
            .otherwise("de"))
        .orderBy("doc_id")
    },

    // ---- quality scoring: lengths, ratios, quality band ----
    Q("q35_quality_score",
      """WITH q AS (
        |  SELECT doc_id, n_chars,
        |    CAST(length(text) AS INTEGER) AS text_len,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS ntok,
        |    CAST(len(list_filter(string_split(text,' '), w -> w = 'the' OR w = 'a')) AS INTEGER) AS nstop
        |  FROM documents)
        |SELECT doc_id, n_chars, text_len, ntok, nstop,
        |  CAST(text_len AS DOUBLE) / CAST(ntok AS DOUBLE) AS avg_tok_len,
        |  CAST(nstop AS DOUBLE) / CAST(ntok AS DOUBLE) AS stop_ratio,
        |  CASE WHEN ntok >= 50 AND CAST(nstop AS DOUBLE) / CAST(ntok AS DOUBLE) < 0.1
        |       THEN 'good'
        |       WHEN ntok >= 20 THEN 'ok' ELSE 'short' END AS band
        |FROM q ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      val ntok = size(toks)
      val nstop = size(filter(toks, w => w === "the" || w === "a"))
      Tables.t(s, d, "documents")
        .select(
          col("doc_id"), col("n_chars"),
          length(col("text")).as("text_len"),
          ntok.as("ntok"), nstop.as("nstop"))
        .withColumn("avg_tok_len", col("text_len").cast("double") / col("ntok").cast("double"))
        .withColumn("stop_ratio", col("nstop").cast("double") / col("ntok").cast("double"))
        .withColumn("band",
          when(col("ntok") >= 50 && col("stop_ratio") < 0.1, "good")
            .when(col("ntok") >= 20, "ok")
            .otherwise("short"))
        .orderBy("doc_id")
    },

    // ---- document fingerprinting (md5 raw + normalized) ----
    Q("q36_fingerprint",
      """SELECT doc_id, md5(text) AS fp,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_norm,
        |  substr(md5(text), 1, 8) AS fp_short
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .select(
          col("doc_id"),
          fingerprint(col("text")).as("fp"),
          fingerprint(normalized(col("text"))).as("fp_norm"),
          substring(fingerprint(col("text")), 1, 8).as("fp_short"))
        .orderBy("doc_id")
    },

    // ---- word bigrams (shingle generator) + top-k ----
    Q("q37_bigrams",
      """SELECT bg, count(*) AS num FROM (
        |  SELECT unnest(list_transform(range(1, len(string_split(text,' '))),
        |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bg
        |  FROM documents) t
        |GROUP BY bg ORDER BY num DESC, bg LIMIT 20""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .select(graft.plans.GraftFunctions.shingleRows(col("text"), 2, distinct = false)
          .as(Seq("bg", "nbg")))
        .groupBy("bg")
        .agg(count(lit(1)).as("num"))
        .orderBy(col("num").desc, col("bg"))
        .limit(20)
    },

    // ---- per-doc repetition ratio (Gopher-style quality signal): the
    //      fraction of a document's bigrams that are repeats, plus the
    //      hottest bigram's count. Two two-phase hash aggs — (doc, bigram)
    //      then doc — both map-side combined; the generator emits bigram
    //      OCCURRENCES (distinct = false), unlike the dedup pipelines. ----
    Q("q106_repetition_ratio",
      """WITH b AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(sp)),
        |    i -> sp[i] || ' ' || sp[i+1])) AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) t),
        |c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  count(*) AS n_distinct,
        |  CAST(max(cnt) AS BIGINT) AS max_rep,
        |  CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.shingleRows(col("text"), 2, distinct = false)
            .as(Seq("bg", "nbg")))
        .groupBy("doc_id", "bg")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_bigrams"), count(lit(1)).as("n_distinct"),
          max("cnt").as("max_rep"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"), col("max_rep"),
          ((col("n_bigrams") - col("n_distinct")).cast("double") /
            col("n_bigrams").cast("double")).as("dup_frac"))
        .orderBy("doc_id")
    },

    // ---- vocabulary induction (tokenizer prep): rank tokens by corpus
    //      frequency, keep the top 200 with rank ids + the cumulative
    //      coverage fraction each prefix of the vocab buys. Two-phase
    //      count agg, then a top-k ordering and one running-sum window
    //      over the TINY ranked set (the only full-order op touches 200
    //      rows, never the corpus). ----
    Q("q111_vocab_induction",
      """WITH c AS (
        |  SELECT tok, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        |tot AS (SELECT sum(freq) AS n FROM c),
        |r AS (SELECT tok, freq,
        |        row_number() OVER (ORDER BY freq DESC, tok) AS rank
        |      FROM c ORDER BY rank LIMIT 200)
        |SELECT CAST(rank AS INTEGER) AS rank, tok, freq,
        |  CAST(CAST(sum(freq) OVER (ORDER BY rank) AS DOUBLE)
        |    / CAST((SELECT n FROM tot) AS DOUBLE) AS DOUBLE) AS coverage
        |FROM r ORDER BY rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.t(s, d, "documents")
      val counts = docs
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val total = counts.agg(sum("freq")).head.getLong(0)
      val top = counts
        .orderBy(col("freq").desc, col("tok")).limit(200)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
      top.withColumn("coverage",
          (sum("freq").over(Window.orderBy("rank")).cast("double") /
            lit(total).cast("double")))
        .select(col("rank"), col("tok"), col("freq"), col("coverage"))
        .orderBy("rank")
    },

    // ---- per-language corpus rollup (stratified quality summary): doc
    //      and token counts, exact mean token count (DECIMAL path), and
    //      the dup-marked share per lang — ordinary two-phase agg over a
    //      handful of group keys. ----
    Q("q112_lang_rollup",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_tokens,
        |  CAST(sum(CASE WHEN text LIKE '%dup%' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_marked
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text")))).cast("long").as("total_tokens"),
          // double division of two EXACT integers — correctly rounded and
          // identical in both engines (decimal division would round at
          // engine-specific result scales first)
          (sum(size(tokens(col("text")))).cast("double") /
            count(lit(1)).cast("double")).as("avg_tokens"),
          sum(when(col("text").contains("dup"), 1).otherwise(0)).cast("long")
            .as("n_dup_marked"))
        .orderBy("lang")
    },

    // ---- regex (BPE-ish pre-tokenization) token stats: tokensRe splits on
    //      non-letter/number runs; the oracle uses the extract-all identity
    //      (tokens == matches of the complement class), RE2 and Java agree
    //      on \p{L}/\p{N} ----
    Q("q95_token_regex",
      """SELECT source, count(*) AS ndocs,
        |  CAST(SUM(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))) AS BIGINT) AS total_re_tokens,
        |  CAST(MAX(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))) AS INTEGER) AS max_re_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.t(s, d, "documents")
        // guard NULL text: size(NULL array) is -1 under the legacy default,
        // which would poison the sums; null here is skipped by SUM/MAX in
        // both engines
        .select(col("source"),
          when(col("text").isNotNull, size(tokensRe(col("text")))).as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("ndocs"),
          sum(col("n").cast("long")).as("total_re_tokens"),
          max("n").as("max_re_tokens"))
        .orderBy("source")
    },

    // ---- CDC-style latest snapshot: newest record per key (ts desc,
    //      id desc tie-break) — the latest-record-wins compaction every
    //      incremental pipeline runs; one shuffle, rank inside window ----
    Q("q92_latest_snapshot",
      """SELECT user_id, event_id AS last_event_id, ts AS last_ts,
        |  event_type AS last_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("event_type").as("last_type"))
        .orderBy("user_id")
    },

    // ---- winnowing fingerprints (k-gram hash + window-min selection, the
    //      MOSS document-fingerprinting scheme): per char position a hashed
    //      k-gram; each w-window contributes its MIN hash; the distinct
    //      selected hashes are the document's fingerprints. All md5-integer
    //      math — engine-exact; narrow explode + two-phase agg. ----
    Q("q93_winnow_fingerprints", {
      val k = 8; val w = 4
      s"""WITH g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, CAST(len(text) - ${k - 1} AS BIGINT) + 1),
         |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), $k)), 1, 8)) AS BIGINT))) AS h,
         |    unnest(range(1, CAST(len(text) - ${k - 1} AS BIGINT) + 1)) AS pos
         |  FROM documents WHERE len(text) >= $k),
         |wmin AS (
         |  SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp,
         |    pos, count(*) OVER (PARTITION BY doc_id) AS ng
         |  FROM g),
         |fps AS (
         |  SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= ng - ${w - 1})
         |SELECT doc_id, count(*) AS n_fp, CAST(SUM(fp) AS BIGINT) AS fp_sum
         |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // whole winnow (gram hash + window min + dedupe) runs inside the
      // narrow WinnowRows generator — the only shuffle is the per-doc
      // aggregation of the selected fingerprints
      Tables.t(s, d, "documents")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.winnowRows(col("text"), 8, 4).as("fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"), sum("fp").as("fp_sum"))
        .orderBy("doc_id")
    },

    // ---- character-diversity quality signals: distinct-char count and
    //      top-char frequency ratio (catches the "aaaa…" / single-char
    //      spam a token-level filter misses). Entirely per-row array math
    //      — zero shuffle; O(len · distinct_chars) per document. Integer
    //      counts + one exact integer ratio, so engine-exact. ----
    Q("q116_char_diversity",
      """WITH c AS (
        |  SELECT doc_id, length(text) AS text_len,
        |    list_transform(generate_series(1, length(text)),
        |      i -> substr(text, CAST(i AS INTEGER), 1)) AS chars
        |  FROM documents),
        |d AS (SELECT doc_id, text_len, chars, list_distinct(chars) AS dchars FROM c),
        |t AS (
        |  SELECT doc_id, CAST(text_len AS INTEGER) AS text_len,
        |    CAST(len(dchars) AS INTEGER) AS n_distinct_chars,
        |    CAST(list_max(list_transform(dchars,
        |      ch -> len(list_filter(chars, x -> x = ch)))) AS INTEGER) AS top_char_count
        |  FROM d)
        |SELECT doc_id, text_len, n_distinct_chars, top_char_count,
        |  CAST(top_char_count AS DOUBLE) / CAST(text_len AS DOUBLE) AS top_char_ratio
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val chars = transform(sequence(lit(1), length(col("text"))),
        i => col("text").substr(i, lit(1)))
      Tables.t(s, d, "documents")
        .select(col("doc_id"), length(col("text")).as("text_len"),
          chars.as("chars"))
        .withColumn("dchars", array_distinct(col("chars")))
        .select(col("doc_id"), col("text_len"),
          size(col("dchars")).as("n_distinct_chars"),
          array_max(transform(col("dchars"),
            c => size(filter(col("chars"), x => x === c)))).as("top_char_count"))
        .withColumn("top_char_ratio",
          col("top_char_count").cast("double") / col("text_len").cast("double"))
        .orderBy("doc_id")
    },

    // ---- unigram-commonness score: a unigram-LM perplexity proxy that
    //      stays engine-exact. Each doc scores the mean corpus frequency
    //      of its tokens (with multiplicity): docs built from rare
    //      vocabulary score low — the shape of an LM-based quality
    //      filter, with integer-exact sums (Q.scala ratio rule) instead
    //      of float log-prob accumulation (whose addition order is not
    //      reproducible across engines). Corpus-frequency table grows
    //      with the VOCABULARY, so it is never broadcast: shuffle
    //      equi-join on the token, both sides pre-hashed by the same key
    //      from their aggregations (the q59 TF-IDF shape). Bottom-50 is
    //      TakeOrderedAndProject, not a full sort. ----
    // ---- text canonicalization: lowercase, strip non-alnum/space,
    //      collapse runs of whitespace, trim — the normalization EVERY
    //      fingerprint/dedup stage should run first (q36/q114 hash raw
    //      text; a canonicalizer drift silently decorrelates them from
    //      a normalized pipeline). Gate hashes the normalized text plus
    //      a changed? flag; pure per-row expression chain, zero
    //      exchange, streaming-safe. ----
    Q("q172_text_canonicalize",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g')) AS canon,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    ' +', ' ', 'g')) <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val canon = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " "))
      Tables.t(s, d, "documents")
        .select(col("doc_id"), canon.as("canon"),
          (canon =!= col("text")).as("changed"))
        .orderBy("doc_id")
    },

    // ---- tokenizer-coverage / OOV audit: fix the vocabulary at the
    //      top-100 corpus tokens (freq desc, token tie-break) and report
    //      each source's out-of-vocabulary token rate. The per-source OOV
    //      rate is the go/no-go number when a tokenizer trained on one
    //      mixture is applied to a new source — a high-OOV source inflates
    //      sequence lengths (everything falls back to byte/char pieces).
    //      Scale: the vocab here is a FIXED top-k (bounded constant), so
    //      unlike q120's vocabulary-sized frequency table it is broadcast-
    //      legal — the probe side stays a narrow map + one two-phase agg;
    //      counts are exact integers, the rate is one double division
    //      (Q.scala ratio rule). ----
    Q("q146_vocab_oov",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT w FROM (
        |    SELECT w, count(*) AS c FROM tok GROUP BY w
        |    ORDER BY c DESC, w LIMIT 100)),
        |j AS (SELECT t.source, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM tok t LEFT JOIN v ON t.w = v.w)
        |SELECT source, count(*) AS ntok,
        |  CAST(sum(oov) AS BIGINT) AS oov_tokens,
        |  CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
        .select(col("w"), lit(1).as("in_v"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .select(col("source"),
          when(col("in_v").isNull, 1).otherwise(0).as("oov"))
        .groupBy("source")
        .agg(count(lit(1)).as("ntok"),
          sum(col("oov")).cast("long").as("oov_tokens"),
          (sum(col("oov")).cast("double") / count(lit(1)).cast("double"))
            .as("oov_rate"))
        .orderBy("source")
    },

    // ---- SALTED skew join: the portable hot-key remedy, demonstrated
    //      end-to-end. The exploded token stream is Zipf-skewed — one
    //      hash partition inherits every 'the' — and when the other side
    //      is corpus-sized (df table: can't broadcast) AND the key is a
    //      single hot VALUE, AQE's skew-join can't help either (it splits
    //      oversized shuffle FILES of a sort-merge join; a hot build KEY
    //      in a hash join is indivisible). Remedy: probe rows carry
    //      salt = token_position mod R (deterministic, no rand), the df
    //      table is exploded into R copies (salt 0..R-1), and the join
    //      key becomes (w, salt) — the hot key's rows spread over R
    //      partitions, build side grows R×|vocab| (bounded), result set
    //      IDENTICAL to the unsalted join, which is exactly what the
    //      oracle replays (plain join, no salt: the gate proves salting
    //      is semantics-free). PlanSpec pins the (w, salt) join key. ----
    Q("q177_salted_join",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |cf AS (SELECT w, count(*) AS dfc FROM tok GROUP BY w)
        |SELECT t.source, count(*) AS ntok,
        |  CAST(sum(cf.dfc) AS BIGINT) AS sum_df,
        |  CAST(sum(cf.dfc) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df
        |FROM tok t JOIN cf ON t.w = cf.w
        |GROUP BY t.source ORDER BY t.source""".stripMargin) { (s, d) =>
      val R = 8
      val tok = Tables.t(s, d, "documents")
        .select(col("source"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      val df0 = tok.groupBy("w").agg(count(lit(1)).as("dfc"))
      val salted = df0.select(col("w"), col("dfc"),
        explode(sequence(lit(0), lit(R - 1))).as("salt"))
      tok.withColumn("salt", pmod(col("pos"), lit(R)))
        .join(salted.hint("shuffle_hash"), Seq("w", "salt"))
        .groupBy("source")
        .agg(count(lit(1)).as("ntok"),
          sum(col("dfc")).cast("long").as("sum_df"),
          (sum(col("dfc")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_df"))
        .orderBy("source")
    },

    // ---- Vocabulary GROWTH curve (Heaps' law audit): cumulative
    //      distinct types vs cumulative tokens at each corpus decile
    //      (doc_id order) — the saturation read that tells a data team
    //      whether more corpus still buys new vocabulary. The single-pass
    //      trick: distinct types at threshold t == count of types whose
    //      FIRST-occurrence doc is <= t, so one groupBy(w).min(doc_id)
    //      (vocab-sized) replaces 10 count-distinct passes over the
    //      corpus; per-doc token counts aggregate the token side the same
    //      way. Thresholds derive from max(doc_id) IN-PLAN (broadcast
    //      1-row aggregate, the q156 pattern — no driver action) with
    //      truncating integer division, exact in both engines. ----
    Q("q182_vocab_growth",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |mx AS (SELECT max(doc_id) AS m FROM documents),
        |dec AS (SELECT unnest(range(1, 11)) AS d),
        |thr AS (SELECT d, (d * m) // 10 AS t FROM dec, mx),
        |firsts AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
        |ty AS (
        |  SELECT thr.d, count(*) AS cum_types
        |  FROM thr JOIN firsts ON firsts.fd <= thr.t GROUP BY thr.d),
        |dt AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |tk AS (
        |  SELECT thr.d, CAST(sum(dt.ntok) AS BIGINT) AS cum_tokens
        |  FROM thr JOIN dt ON dt.doc_id <= thr.t GROUP BY thr.d)
        |SELECT CAST(ty.d AS INTEGER) AS decile, tk.cum_tokens,
        |  CAST(ty.cum_types AS BIGINT) AS cum_types,
        |  CAST(ty.cum_types AS DOUBLE) / CAST(tk.cum_tokens AS DOUBLE)
        |    AS type_token_ratio
        |FROM ty JOIN tk ON tk.d = ty.d ORDER BY decile""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val mx = docs.agg(max(col("doc_id")).as("m"))
      val thr = mx.select(explode(sequence(lit(1), lit(10))).as("d"), col("m"))
        .select(col("d"), expr("d * m div 10").cast("long").as("t"))
      val firsts = tok.groupBy("w").agg(min(col("doc_id")).as("fd"))
      val ty = firsts.join(broadcast(thr), col("fd") <= col("t"))
        .groupBy("d").agg(count(lit(1)).as("cum_types"))
      val dt = tok.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
      val tk = dt.join(broadcast(thr), col("doc_id") <= col("t"))
        .groupBy("d").agg(sum(col("ntok")).cast("long").as("cum_tokens"))
      ty.join(tk, "d")
        .select(col("d").cast("int").as("decile"), col("cum_tokens"),
          col("cum_types").cast("long").as("cum_types"),
          (col("cum_types").cast("double") / col("cum_tokens").cast("double"))
            .as("type_token_ratio"))
        .orderBy("decile")
    },

    // ---- Collocation mining by LIFT (PMI's monotone integer-safe core:
    //      lift = c_xy·N / (c_x·c_y), the exp of PMI — same ranking, no
    //      logs): the classic corpus-analysis pass that surfaces
    //      multiword units ("New York") a tokenizer or vocab induction
    //      should treat as one symbol. Both frequency tables are
    //      corpus-derived, so the unigram joins are ShuffledHashJoin by
    //      hint (the q175 rule: vocab tables at web scale never
    //      broadcast); the 1-row total N crosses in broadcast (q156
    //      pattern); min-support c_xy ≥ 5 prunes the noise tail before
    //      the joins. Lift is computed by the identical exact-int→double
    //      formula in both engines; top-20 is a TakeOrderedAndProject. ----
    Q("q183_collocation_lift",
      """WITH tokd AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents),
        |tok AS (SELECT unnest(toks) AS w FROM tokd),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM tokd),
        |bc AS (SELECT bg, count(*) AS cxy FROM bg GROUP BY bg),
        |uc AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |nn AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM bc)
        |SELECT b.bg, CAST(b.cxy AS BIGINT) AS cxy,
        |  CAST(b.cxy AS DOUBLE) * CAST(nn.n AS DOUBLE)
        |    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
        |FROM bc b
        |CROSS JOIN nn
        |JOIN uc u1 ON u1.w = string_split(b.bg, ' ')[1]
        |JOIN uc u2 ON u2.w = string_split(b.bg, ' ')[2]
        |WHERE b.cxy >= 5
        |ORDER BY lift DESC, bg LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val bi = docs.select(graft.plans.GraftFunctions
          .shingleRows(col("text"), 2, distinct = false).as(Seq("bg", "nbg")))
        .groupBy("bg").agg(count(lit(1)).as("cxy"))
      val uc = docs.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      // total bigrams N == Σ per-doc (ntok - 1) — a NARROW aggregate, not
      // a second pass through the bigram explode+shuffle (every doc emits
      // exactly ntok-1 bigram occurrences, so this equals the oracle's
      // sum(cxy))
      val nn = docs.select(
          greatest(size(tokens(col("text"))) - 1, lit(0)).as("nb"))
        .agg(sum(col("nb")).cast("long").as("n"))
      bi.filter(col("cxy") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .join(uc.select(col("w").as("w1"), col("c").as("c1"))
          .hint("shuffle_hash"), Seq("w1"))
        .join(uc.select(col("w").as("w2"), col("c").as("c2"))
          .hint("shuffle_hash"), Seq("w2"))
        .crossJoin(broadcast(nn))
        .select(col("bg"), col("cxy").cast("long").as("cxy"),
          (col("cxy").cast("double") * col("n").cast("double")
            / (col("c1").cast("double") * col("c2").cast("double")))
            .as("lift"))
        .orderBy(col("lift").desc, col("bg")).limit(20)
    },

    // ---- Stopword INDUCTION + density gating: the corpus derives its
    //      own stopword list (top-8 tokens by document frequency, the
    //      language-agnostic trick behind CCNet/Gopher-style filters —
    //      no hand-curated list survives 100 languages), then every doc
    //      is scored by stopword density; docs under the floor are the
    //      "unnatural text" candidates a quality funnel drops. The
    //      induced list is LIMIT-bounded (8 rows) so the membership join
    //      broadcasts by construction at any corpus size; density is an
    //      exact-integer ratio. The df cut is totally ordered (df DESC,
    //      token ASC) so the induced list — and therefore the hash — is
    //      deterministic even with df ties. ----
    Q("q180_stopword_density",
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |stop AS (
        |  SELECT w FROM (
        |    SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w
        |    ORDER BY df DESC, w LIMIT 8)),
        |per AS (
        |  SELECT t.doc_id, t.source, count(*) AS ntok,
        |    sum(CASE WHEN s.w IS NOT NULL THEN 1 ELSE 0 END) AS nstop
        |  FROM tok t LEFT JOIN stop s USING (w)
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nstop) AS BIGINT) AS stop_tokens,
        |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |  CAST(sum(nstop) AS DOUBLE) / CAST(sum(ntok) AS DOUBLE)
        |    AS stop_density,
        |  CAST(sum(CASE WHEN CAST(nstop AS DOUBLE) / CAST(ntok AS DOUBLE)
        |      < 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS low_density_docs
        |FROM per GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          explode(tokens(col("text"))).as("w"))
      val stop = tok.groupBy("w")
        .agg(count_distinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("w")).limit(8)
        .select(col("w"), lit(1).as("is_stop"))
      tok.join(broadcast(stop), Seq("w"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("ntok"),
          sum(coalesce(col("is_stop"), lit(0))).as("nstop"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nstop")).cast("long").as("stop_tokens"),
          sum(col("ntok")).cast("long").as("total_tokens"),
          (sum(col("nstop")).cast("double") / sum(col("ntok")).cast("double"))
            .as("stop_density"),
          sum(when(col("nstop").cast("double") / col("ntok").cast("double")
            < 0.25, 1L).otherwise(0L)).cast("long").as("low_density_docs"))
        .orderBy("source")
    },

    Q("q120_unigram_commonness",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |sc AS (SELECT t.doc_id, count(*) AS ntok,
        |         CAST(sum(cf.c) AS BIGINT) AS sum_cf
        |       FROM tok t JOIN cf ON t.w = cf.w GROUP BY t.doc_id)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS ntok, sum_cf,
        |  CAST(sum_cf AS DOUBLE) / CAST(ntok AS DOUBLE) AS mean_cf
        |FROM sc ORDER BY mean_cf ASC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      val tok = Tables.t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val cf = tok.groupBy("w").agg(count(lit(1)).as("c"))
      tok.join(cf.hint("shuffle_hash"), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("ntok"), sum(col("c")).cast("long").as("sum_cf"))
        .select(col("doc_id"), col("ntok"), col("sum_cf"),
          (col("sum_cf").cast("double") / col("ntok").cast("double"))
            .as("mean_cf"))
        .orderBy(col("mean_cf").asc, col("doc_id"))
        .limit(50)
    },

    // ---- bigram coherence (the second-order companion to q120's
    //      unigram commonness): score each doc by how often its ADJACENT
    //      token pairs recur corpus-wide, relative to how common the
    //      pairs' lead tokens are — sum(bigram_freq) / sum(unigram_freq)
    //      over the doc's bigrams. Shuffled/garbled text has common
    //      unigrams but rare bigrams, so it scores low; the 50 least
    //      coherent docs are the degenerate-text review queue a quality
    //      pipeline feeds to a human (or a perplexity model) before
    //      filtering. Both frequency tables are corpus-sized — NEVER
    //      broadcast (the q120 rule); the exploded bigram stream is
    //      hash-joined to each (shuffle_hash: building a hash map of the
    //      frequency table beats sorting the much larger probe stream),
    //      then one two-phase agg keyed by doc_id. Counts are exact
    //      integers; the score is one double division (Q.scala ratio
    //      rule); total order (coherence, doc_id). ----
    Q("q175_bigram_coherence",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[CAST(i AS INTEGER)])) AS l,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[CAST(i AS INTEGER)+1])) AS r
        |  FROM t WHERE len(toks) >= 2),
        |uf AS (SELECT w, count(*) AS uc FROM (
        |         SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
        |bf AS (SELECT l, r, count(*) AS bc FROM bg GROUP BY l, r),
        |sc AS (SELECT g.doc_id, count(*) AS nbg,
        |         sum(bf.bc) AS sum_bf, sum(uf.uc) AS sum_uf
        |       FROM bg g
        |       JOIN bf ON g.l = bf.l AND g.r = bf.r
        |       JOIN uf ON g.l = uf.w
        |       GROUP BY g.doc_id)
        |SELECT doc_id, CAST(nbg AS BIGINT) AS nbg,
        |  CAST(sum_bf AS BIGINT) AS sum_bf, CAST(sum_uf AS BIGINT) AS sum_uf,
        |  CAST(sum_bf AS DOUBLE) / CAST(sum_uf AS DOUBLE) AS coherence
        |FROM sc ORDER BY coherence ASC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      val docs = Tables.t(s, d, "documents")
      val bg = docs
        .filter(size(toks) >= 2)
        .select(col("doc_id"), explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (x, y) => struct(x.as("l"), y.as("r")))).as("pr"))
        .select(col("doc_id"), col("pr.l").as("l"), col("pr.r").as("r"))
      val uf = docs.select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("uc"))
      val bf = bg.groupBy("l", "r").agg(count(lit(1)).as("bc"))
      bg.join(bf.hint("shuffle_hash"), Seq("l", "r"))
        .join(uf.hint("shuffle_hash"), col("l") === col("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nbg"),
          sum(col("bc")).cast("long").as("sum_bf"),
          sum(col("uc")).cast("long").as("sum_uf"))
        .select(col("doc_id"), col("nbg"), col("sum_bf"), col("sum_uf"),
          (col("sum_bf").cast("double") / col("sum_uf").cast("double"))
            .as("coherence"))
        .orderBy(col("coherence").asc, col("doc_id"))
        .limit(50)
    },

    // ---- bigram-LM LOG-likelihood filter (the CCNet shape: train an
    //      n-gram LM on the corpus, perplexity-score every doc, keep the
    //      fluent half) in cross-engine-exact integer math: per doc
    //      bigram, ll = bit_length(floor(2^20 · P(r|l))) — an integer
    //      log2 of the conditional probability at 1-bit resolution
    //      (bit_length(floor(2^20·p)) = 21 + floor(log2 p)); the doc
    //      score is the summed log-likelihood, per-bigram-averaged in
    //      integer millis; kept = score ≥ the corpus integer MEAN (one
    //      1-row agg cross-joined back — deliberately NOT a global
    //      median, which would need a single-partition rank over every
    //      doc; the mean is shuffle-free and replayable). Differs from
    //      q175's coherence (linear-domain frequency ratio): the log
    //      domain is what perplexity filters actually threshold, and the
    //      summed-ll form weights rare continuations the way an LM does.
    //      Freq tables are corpus-sized → shuffle_hash, never broadcast
    //      (the q124 rule). ----
    Q("q200_lm_loglik_filter",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[CAST(i AS INTEGER)])) AS l,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[CAST(i AS INTEGER)+1])) AS r
        |  FROM t WHERE len(toks) >= 2),
        |uf AS (SELECT w, count(*) AS uc FROM (
        |         SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
        |bf AS (SELECT l, r, count(*) AS bc FROM bg GROUP BY l, r),
        |sc AS (SELECT g.doc_id, count(*) AS nbg,
        |        sum(CASE WHEN (bf.bc * 1048576) // uf.uc > 0
        |                 THEN length(bin((bf.bc * 1048576) // uf.uc)) ELSE 0 END) AS ll_sum
        |      FROM bg g
        |      JOIN bf ON g.l = bf.l AND g.r = bf.r
        |      JOIN uf ON g.l = uf.w
        |      GROUP BY g.doc_id),
        |x AS (SELECT doc_id, CAST(nbg AS BIGINT) AS nbg, CAST(ll_sum AS BIGINT) AS ll_sum,
        |        CAST((ll_sum * 1000) // nbg AS BIGINT) AS ll_milli FROM sc),
        |m AS (SELECT CAST(sum(ll_milli) // count(*) AS BIGINT) AS mu FROM x)
        |SELECT doc_id, nbg, ll_sum, ll_milli, ll_milli >= mu AS kept
        |FROM x, m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      val docs = Tables.t(s, d, "documents")
      val bg = docs
        .filter(size(toks) >= 2)
        .select(col("doc_id"), explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (x, y) => struct(x.as("l"), y.as("r")))).as("pr"))
        .select(col("doc_id"), col("pr.l").as("l"), col("pr.r").as("r"))
      val uf = docs.select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("uc"))
      val bf = bg.groupBy("l", "r").agg(count(lit(1)).as("bc"))
      val ll = expr("(bc * 1048576L) div uc")
      val x = bg.join(bf.hint("shuffle_hash"), Seq("l", "r"))
        .join(uf.hint("shuffle_hash"), col("l") === col("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nbg"),
          sum(when(ll > 0, length(conv(ll, 10, 2))).otherwise(0))
            .cast("long").as("ll_sum"))
        .select(col("doc_id"), col("nbg"), col("ll_sum"),
          expr("(ll_sum * 1000) div nbg").as("ll_milli"))
      val mu = x.agg(expr("sum(ll_milli) div count(*)").as("mu"))
      x.crossJoin(broadcast(mu))
        .select(col("doc_id"), col("nbg"), col("ll_sum"), col("ll_milli"),
          (col("ll_milli") >= col("mu")).as("kept"))
        .orderBy("doc_id")
    },

    // ---- DSIR-style importance selection (Xie et al. 2023,
    //      arXiv:2302.03169 — public): score every RAW doc by how much
    //      more likely its hashed-unigram profile is under a TARGET
    //      distribution than under the raw one, and keep the
    //      above-mean half. TWO distributions where q200 has one — the
    //      data-SELECTION recipe (pull docs toward a target domain),
    //      not the fluency filter. Target here = the lang='en' subset
    //      (the q197 label column); features = token occurrences
    //      md5-hashed into 256 buckets (the DSIR hashing trick — the
    //      bucket table is CONSTANT-sized at any corpus, so both
    //      distributions broadcast and the corpus is never
    //      self-joined). All math cross-engine exact:
    //      the smoothed ratio ((ct+1)/(Nt+B)) / ((cr+1)/(Nr+B)) is
    //      integer-log2'd at 1/16-BIT resolution: fixed-point mantissa
    //      in the OVERFLOW-SAFE association
    //      mm = ((ct+1)·2^20 // (cr+1)) — ≤ 2^20 always, target ⊆ raw —
    //      then ·((Nr+B)·2^10 // (Nt+B)) // 2^10, LEAST-capped at 2^40
    //      (fits 2^63 under the later ·2^19; both engines evaluate the
    //      SAME association, so truncation points agree); then
    //      lr16 = 16·(bitlen(mm)−21) + the fractional rung of the
    //      normalized mantissa y0 = mm·2^19 // 2^(bitlen−1) against 16
    //      PRECOMPUTED thresholds floor(2^19·2^(i/16)) (the q200
    //      bit_length identity, refined — 1 bit of resolution loses
    //      the shared-vocabulary frequency signal entirely; the rung
    //      CASE text is built from ONE Scala constant list for both
    //      engines). Per-doc weight = token-summed lr16,
    //      per-token-averaged in integer millis; selected = weight ≥
    //      the corpus integer mean (the q200 shuffle-free stance — no
    //      global median rank). ----
    Q("q276_dsir_select",
      s"""WITH ${dsirModelCtes()},
         |${dsirScoreCtes("x", "tb")},
         |m AS (SELECT CAST(sum(lw_milli) // count(*) AS BIGINT) AS mu FROM x2)
         |${dsirFinalSelect("x2")}""".stripMargin) { (s, d) =>
      dsirSelect(Tables.t(s, d, "documents"), col("lang") === "en")
        .orderBy("doc_id")
    },

    // ---- INCREMENTAL DSIR (the frozen-model stance, q269/q274's for
    //      this family): distributions AND the mean threshold train on
    //      the SHIPPED base (the md5 'train' split), arrivals (the
    //      'eval' split) are scored against that frozen state only —
    //      a doc's verdict is a pure function of (base, doc), never of
    //      what co-arrives. The oracle is ONE instance shared with
    //      q278's streaming front door (identical hash ⇒ streamed ≡
    //      batch) and q279's artifact serve (≡ load preserves the
    //      model bit-for-bit). ----
    Q("q277_dsir_delta", DsirDeltaOracleSql) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      dsirSelectDelta(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "train"),
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "eval"),
        col("lang") === "en").orderBy("doc_id")
    },

    // ---- STREAMING DSIR front door (the q110 stance: a REAL
    //      file-source stream of arrivals, stream-static join against
    //      the broadcast 256-row model, per-doc agg in complete mode;
    //      the threshold is the base model's 1-row mean collected once
    //      — driver-sized by definition). Per-arrival work is a
    //      stateless explode + a constant-size join, so arrival order
    //      and batch boundaries are invisible by construction; the
    //      SAME oracle instance as q277 proves it. ----
    Q("q278_dsir_stream", DsirDeltaOracleSql) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val m = dsirTrain(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "train"),
        col("lang") === "en")
      val muVal = m.mu
      val stream = graft.streaming.EventStreams
        .readParquetStream(s, s"$d/documents.parquet")
        .filter(Sampling.splitLabel(col("doc_id"), 1) === "eval")
      val scored = dsirScore(stream, m.lr)
        .withColumn("selected", col("lw_milli") >= lit(muVal))
      graft.streaming.StreamHarness
        .runToTable(scored, "q278_sink", "complete")
        .select("doc_id", "lang", "n_tok", "lw_sum", "lw_milli", "selected")
        .orderBy("doc_id")
    },

    // ---- DSIR from the PERSISTED model (the q274 stance): train on
    //      the base, save the 256-row lr table + the mean threshold
    //      through the shared artifact-params owner, load into fresh
    //      frames, and score the delta with ZERO training jobs on the
    //      load path — same oracle instance as q277, so the hash
    //      proves load ≡ train. ----
    Q("q279_dsir_from_artifact", DsirDeltaOracleSql) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val dir = dsirArtifactDir(d)
      val m = dsirTrain(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "train"),
        col("lang") === "en")
      DsirStore.save(m, dir)
      val (lr, mu) = DsirStore.load(s, dir)
      dsirScore(
          docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "eval"), lr)
        .withColumn("selected", col("lw_milli") >= lit(mu))
        .orderBy("doc_id")
    },

    // ---- document-length drift between the train/eval split — q210's
    //      χ² monitor applied to a TEXT feature (the generic
    //      scalarDriftChi2 core, thresholds from the train side): the
    //      split is random by md5, so a drifted verdict here would mean
    //      the split itself is biased — the split-health audit a
    //      pipeline runs before trusting any train/eval comparison. The
    //      oracle shares q210's tail fragment verbatim (single-owner
    //      rule) over the q110 split rule. ----
    Q("q211_doclen_drift_chi2",
      s"""WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v FROM documents
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 9),
         |delta AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v FROM documents
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 >= 9),
         |${SimilarityOps.driftChi2TailSql("doc_id")}""".stripMargin) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      def side(lbl: String) = docs
        .filter(Sampling.splitLabel(col("doc_id"), 1) === lbl)
        .select(col("doc_id"), col("n_chars").cast("long").as("v"))
      Similarity.scalarDriftChi2(side("train"), side("eval"), "doc_id")
        .orderBy("bucket")
    },

    // ---- Gopher-style composite quality filter as a funnel report:
    //      four rules (length, stopword presence, distinct-token
    //      repetition, mean word length) evaluated per doc, per-source
    //      pass count + per-rule failure counts (non-exclusive). Every
    //      rule is an INTEGER comparison (ndist*2 >= ntok, 3·ntok <=
    //      lensum <= 10·ntok) — no ratio rounding to reconcile across
    //      engines. One narrow map + one two-phase agg; the funnel shows
    //      which rule bites before any doc is dropped. ----
    Q("q124_quality_funnel",
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT source,
        |   CAST(len(toks) AS BIGINT) AS ntok,
        |   CAST(len(list_filter(toks, w -> w = 'the' OR w = 'a')) AS BIGINT) AS nstop,
        |   CAST(len(list_distinct(toks)) AS BIGINT) AS ndist,
        |   CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT) AS lensum
        | FROM t),
        |v AS (SELECT source,
        |   CASE WHEN ntok >= 20 THEN 1 ELSE 0 END AS ok_len,
        |   CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS ok_stop,
        |   CASE WHEN ndist * 2 >= ntok THEN 1 ELSE 0 END AS ok_rep,
        |   CASE WHEN lensum >= 3 * ntok AND lensum <= 10 * ntok THEN 1 ELSE 0 END AS ok_wlen
        | FROM f)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(ok_len * ok_stop * ok_rep * ok_wlen) AS BIGINT) AS n_pass,
        |  CAST(sum(1 - ok_len) AS BIGINT) AS n_fail_len,
        |  CAST(sum(1 - ok_stop) AS BIGINT) AS n_fail_stop,
        |  CAST(sum(1 - ok_rep) AS BIGINT) AS n_fail_rep,
        |  CAST(sum(1 - ok_wlen) AS BIGINT) AS n_fail_wordlen
        |FROM v GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val toks = tokens(col("text"))
      val df = Tables.t(s, d, "documents")
        .select(col("source"),
          size(toks).cast("long").as("ntok"),
          size(filter(toks, w => w === "the" || w === "a")).cast("long").as("nstop"),
          size(array_distinct(toks)).cast("long").as("ndist"),
          aggregate(transform(toks, w => length(w).cast("long")),
            lit(0L), (acc, x) => acc + x).as("lensum"))
      val okLen = when(col("ntok") >= 20, 1).otherwise(0)
      val okStop = when(col("nstop") >= 2, 1).otherwise(0)
      val okRep = when(col("ndist") * 2 >= col("ntok"), 1).otherwise(0)
      val okWlen = when(col("lensum") >= col("ntok") * 3 &&
        col("lensum") <= col("ntok") * 10, 1).otherwise(0)
      df.select(col("source"), okLen.as("ok_len"), okStop.as("ok_stop"),
          okRep.as("ok_rep"), okWlen.as("ok_wlen"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ok_len") * col("ok_stop") * col("ok_rep") * col("ok_wlen"))
            .cast("long").as("n_pass"),
          sum(lit(1) - col("ok_len")).cast("long").as("n_fail_len"),
          sum(lit(1) - col("ok_stop")).cast("long").as("n_fail_stop"),
          sum(lit(1) - col("ok_rep")).cast("long").as("n_fail_rep"),
          sum(lit(1) - col("ok_wlen")).cast("long").as("n_fail_wordlen"))
        .orderBy("source")
    },

    // ---- per-source signature tokens: top-3 by lift, where lift =
    //      (tf_src/total_src) / (tf_corpus/total_corpus) rearranged to ONE
    //      division of two exact integer products (c·ctot)/(tot·cc) — the
    //      corpus-audit "what is over-represented in this source" report
    //      (a KL-contribution proxy without logs). Products stay below
    //      2^53 up to ~10^26 token-occurrence pairs, far past any corpus.
    //      The vocab-sized corpus-frequency side joins shuffle-hash on the
    //      token; only the per-source totals (|sources| rows) and the
    //      1-row corpus total broadcast. ----
    Q("q129_source_signature",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sf AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, sum(c) AS tot FROM sf GROUP BY 1),
        |cf AS (SELECT w, sum(c) AS cc FROM sf GROUP BY 1),
        |ct AS (SELECT sum(c) AS ctot FROM sf),
        |lifted AS (
        |  SELECT sf.source, sf.w,
        |    CAST(sf.c * ct.ctot AS DOUBLE) / CAST(st.tot * cf.cc AS DOUBLE) AS lift
        |  FROM sf JOIN st USING (source) JOIN cf USING (w) CROSS JOIN ct),
        |r AS (SELECT source, w, lift,
        |  row_number() OVER (PARTITION BY source ORDER BY lift DESC, w) AS rn
        |  FROM lifted)
        |SELECT source, CAST(rn AS INTEGER) AS rn, w AS token, lift
        |FROM r WHERE rn <= 3 ORDER BY source, rn""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.t(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("w"))
      val sfc = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
      val st = sfc.groupBy("source").agg(sum("c").as("tot"))
      val cf = sfc.groupBy("w").agg(sum("c").as("cc"))
      val ct = sfc.agg(sum("c").as("ctot"))
      val w = Window.partitionBy("source").orderBy(col("lift").desc, col("w"))
      sfc.join(broadcast(st), "source")
        .join(cf.hint("shuffle_hash"), "w")
        .crossJoin(broadcast(ct))
        .select(col("source"), col("w"),
          ((col("c") * col("ctot")).cast("double") /
            (col("tot") * col("cc")).cast("double")).as("lift"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn"), col("w").as("token"), col("lift"))
        .orderBy("source", "rn")
    },

    // ---- sparse cosine retrieval via the inverted index: top-3 lexical
    //      neighbors for each probe doc, scored on bag-of-words tf
    //      vectors. The dot product rides the token-keyed join — only
    //      docs SHARING a token with a probe are ever scored (the
    //      all-pairs-similarity shape, probe-scoped like q39/q43) — and
    //      stays a pure integer sum (Σ tf_q·tf_d, order-independent);
    //      norms are integer Σ tf², so the only float ops are one
    //      multiply, one sqrt, one divide per candidate. The bounded
    //      probe postings broadcast; the corpus posting list is one
    //      narrow scan + one candidate-keyed aggregation. ----
    Q("q130_sparse_cosine_retrieve",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |nsq AS (SELECT doc_id, sum(c * c) AS n2 FROM tf GROUP BY 1),
        |probes AS (SELECT doc_id AS qid, w, c AS qc FROM tf WHERE doc_id < 30),
        |dots AS (
        |  SELECT p.qid, t.doc_id AS nid, CAST(sum(p.qc * t.c) AS BIGINT) AS dp
        |  FROM probes p JOIN tf t ON t.w = p.w AND t.doc_id <> p.qid
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.qid, d.nid,
        |    CAST(d.dp AS DOUBLE) / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cos
        |  FROM dots d JOIN nsq a ON a.doc_id = d.qid JOIN nsq b ON b.doc_id = d.nid),
        |r AS (SELECT qid, nid, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
        |  FROM scored)
        |SELECT qid, CAST(rn AS INTEGER) AS rank, nid, cos
        |FROM r WHERE rn <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tf = Tables.t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val nsq = tf.groupBy("doc_id").agg(sum(col("c") * col("c")).as("n2"))
      val probes = tf.filter(col("doc_id") < 30)
        .select(col("doc_id").as("qid"), col("w"), col("c").as("qc"))
      val dots = tf.join(broadcast(probes), Seq("w"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id").as("nid"))
        .agg(sum(col("qc") * col("c")).cast("long").as("dp"))
      val nsqQ = broadcast(nsq.filter(col("doc_id") < 30)
        .select(col("doc_id").as("qid"), col("n2").as("qn2")))
      val rw = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      dots.join(nsqQ, Seq("qid"))
        .join(nsq.withColumnRenamed("doc_id", "nid"), Seq("nid"))
        .select(col("qid"), col("nid"),
          (col("dp").cast("double") /
            sqrt((col("qn2") * col("n2")).cast("double"))).as("cos"))
        .withColumn("rank", row_number().over(rw))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("nid"), col("cos"))
        .orderBy("qid", "rank")
    },

    // ---- BM25 lexical retrieval (Okapi k1=1.2, b=0.75), engine-exact
    //      WITHOUT libm: with k1 = 6/5 and b = 3/4 the tf saturation term
    //      is the rational 44·tf·A / (20·tf·A + 6·A + 18000·dl), where A
    //      = avgdl in thousandths — an INTEGER bounded by document length
    //      at ANY corpus size (1000·T div N never rides corpus totals into
    //      overflow). The idf is the log-free rational (2N−2df+1)/(2df+1)
    //      (the same monotone ln-argument q59/q129 use). Each factor is
    //      one correctly-rounded double division of exact integers, the
    //      product is one correctly-rounded multiply, and per-doc scores
    //      sum exactly through DECIMAL(18,4) — bit-identical cross-engine
    //      per Q.scala's rules. Shapes: probe terms broadcast onto the
    //      postings (q130), df is vocab-sized and SHUFFLE-joined on the
    //      token (q129 — never broadcast), dl is corpus-keyed and
    //      equi-joined, and the 1-row corpus constants broadcast. ----
    Q("q142_bm25_retrieve",
      s"""WITH ${bm25Ctes("doc_id < 30")}
        |SELECT qid, CAST(rn AS INTEGER) AS rank, nid, score
        |FROM bmr WHERE rn <= 3 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      bm25Ranked(s, d, col("doc_id") < 30)
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("nid"), col("score"))
        .orderBy("qid", "rank")
    },

    // ---- TRAINED quality/language classifier: a batch perceptron over
    //      integer marker-token counts (bias + 5 features), y = ±1 on
    //      lang = 'en'. Each round computes the misclassified-set update
    //      Σ y·x per feature as ONE two-phase agg over the corpus —
    //      integer adds, order-independent (the Lloyd rounding rule) —
    //      collects the |features|+1 row driver-side (the
    //      collectTrainedCentroids pattern) and re-embeds the weights as
    //      literals for the next round. The oracle replays all 3 rounds,
    //      the final margins, predictions AND the corpus accuracy, so
    //      the hash pins the whole training trajectory — the in-engine
    //      analog of training a fastText-style quality filter on the
    //      corpus it will filter. Scale: each round is one narrow map +
    //      one 6-column agg; the model is O(features) on the driver by
    //      definition; nothing shuffles but the agg's partials. ----
    Q("q197_perceptron_langid", perceptronOracleSql) { (s, d) =>
      val nf = PerceptronMarkers.length
      val featCols = PerceptronMarkers.zipWithIndex.map { case (m, i) =>
        size(filter(split(col("text"), " "), t => t === m)).as(s"x${i + 1}")
      }
      val feats = Tables.t(s, d, "documents")
        .select(Seq(col("doc_id"),
          when(col("lang") === "en", 1).otherwise(-1).as("y"),
          lit(1).as("x0")) ++ featCols: _*)
        .persist() // 3 training rounds + final scoring reread it
      try {
        var w = Array.fill(nf + 1)(0L)
        for (_ <- 1 to PerceptronRounds) {
          val margin = perceptronMarginCol(w)
          val aggs = (0 to nf).map(i =>
            coalesce(sum(col("y") * col(s"x$i")), lit(0L)).cast("long")
              .as(s"u$i"))
          val upd = feats.filter((col("y") * margin) <= 0)
            .agg(aggs.head, aggs.tail: _*).collect()(0)
          w = (0 to nf).map(i => w(i) + upd.getLong(i)).toArray
        }
        val scored = feats.select(col("doc_id"), col("y"),
            perceptronMarginCol(w).cast("long").as("margin"))
          .withColumn("pred", when(col("margin") > 0, 1).otherwise(-1))
        val acc = scored.agg(
            sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("c"),
            count(lit(1)).as("n"))
          .select(expr("(1000000 * c) div n").cast("long").as("acc_ppm"))
        val wCols = (0 to nf).map(i => lit(w(i)).as(s"w$i"))
        scored.filter(col("doc_id") < 30)
          .select(Seq(col("doc_id"), col("y").as("label"), col("margin"),
            col("pred")) ++ wCols: _*)
          .crossJoin(broadcast(acc))
          .orderBy("doc_id")
      } finally { feats.unpersist(); () }
    },

    // ---- classifier CALIBRATION curve (the q282 companion of q197 — the
    //      step a production quality filter runs before picking its
    //      threshold): per normalized-margin bin, how often is the
    //      classifier's positive class actually positive? The margin is
    //      normalized by the weights' L1 mass in integer thousandths
    //      (nm = 1000·margin div ‖w‖₁ — invariant to the trainer's step
    //      scale and round count, so the bin ladder survives retuning),
    //      then binned against ONE shared edge ladder. Scale: training is PerceptronRounds narrow
    //      agg passes; the calibration itself is one 6-column map + a
    //      ≤|edges|+1-group agg. ----
    Q("q282_margin_calibration", {
      val binSql = CalibrationEdges
        .map(e => s"CASE WHEN nm >= $e THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH ${qualityFCteSql("f")},
         |${qualityTrainCtes("f")},
         |wn AS (SELECT ${perceptronL1Sql} AS l1 FROM w$QualityRounds),
         |nb AS (SELECT f.doc_id, f.y,
         |  CAST((1000 * (${perceptronMarginSql("f")})) // GREATEST(wn.l1, 1)
         |    AS BIGINT) AS nm
         |  FROM f, w$QualityRounds w, wn),
         |b AS (SELECT CAST($binSql AS INTEGER) AS bin, y FROM nb)
         |SELECT bin, count(*) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN y = 1 THEN 1 END), 0) AS BIGINT) AS n_pos,
         |  CAST((1000000 * coalesce(sum(CASE WHEN y = 1 THEN 1 END), 0))
         |    // count(*) AS BIGINT) AS pos_ppm
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin
    }) { (s, d) =>
      val feats = qualityFeats(Tables.t(s, d, "documents")).persist()
      try {
        val w = qualityTrain(feats)
        val bin = CalibrationEdges
          .map(e => when(col("nm") >= e, 1).otherwise(0))
          .reduce(_ + _).cast("int")
        perceptronNormMargin(feats, w)
          .select(bin.as("bin"), col("y"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(when(col("y") === 1, 1L)), lit(0L)).cast("long")
              .as("n_pos"))
          .withColumn("pos_ppm", expr("(1000000 * n_pos) div n_docs")
            .cast("long"))
          .orderBy("bin")
      } finally { feats.unpersist(); () }
    },

    // ---- PRECISION-TARGETED threshold sweep (the q224/q248 tuning-sweep
    //      stance for the trained filter): ONE training, every candidate
    //      normalized-margin threshold scored — selected count, positives
    //      among selected, precision ppm — and the smallest threshold
    //      meeting the 90% precision target flagged `chosen`. This is how
    //      a filter threshold is actually picked: sweep once, read the
    //      curve, ship the cheapest cut that meets the precision bar.
    //      Scale: the sweep joins the per-doc nm row to a |thresholds|-row
    //      broadcast — |thresholds|× the corpus in narrow rows, grouped to
    //      |thresholds| output rows; the chosen flag joins the sweep to
    //      its own 1-row min. ----
    Q("q283_calibrated_select", {
      val thrList = ClassifierThresholds.mkString(", ")
      s"""WITH ${qualityFCteSql("f")},
         |${qualityTrainCtes("f")},
         |wn AS (SELECT ${perceptronL1Sql} AS l1 FROM w$QualityRounds),
         |nb AS (SELECT f.doc_id, f.y,
         |  CAST((1000 * (${perceptronMarginSql("f")})) // GREATEST(wn.l1, 1)
         |    AS BIGINT) AS nm
         |  FROM f, w$QualityRounds w, wn),
         |t AS (SELECT unnest([$thrList]) AS thr),
         |g AS (SELECT t.thr,
         |    coalesce(sum(CASE WHEN nb.nm > t.thr THEN 1 END), 0) AS n_sel,
         |    coalesce(sum(CASE WHEN nb.nm > t.thr AND nb.y = 1 THEN 1 END), 0) AS n_pos
         |  FROM t, nb GROUP BY t.thr),
         |g2 AS (SELECT CAST(thr AS INTEGER) AS thr,
         |    CAST(n_sel AS BIGINT) AS n_sel, CAST(n_pos AS BIGINT) AS n_pos,
         |    CAST(CASE WHEN n_sel = 0 THEN 0
         |      ELSE (1000000 * n_pos) // n_sel END AS BIGINT) AS prec_ppm
         |  FROM g),
         |m AS (SELECT min(thr) AS mt FROM g2
         |      WHERE prec_ppm >= $PrecisionTargetPpm)
         |SELECT g2.thr, g2.n_sel, g2.n_pos, g2.prec_ppm,
         |  coalesce(g2.thr = m.mt, FALSE) AS chosen
         |FROM g2, m ORDER BY thr""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val feats = qualityFeats(Tables.t(s, d, "documents")).persist()
      try {
        val w = qualityTrain(feats)
        val thr = broadcast(ClassifierThresholds.toDF("thr"))
        val sweep = perceptronNormMargin(feats, w)
          .crossJoin(thr)
          .groupBy("thr")
          .agg(
            coalesce(sum(when(col("nm") > col("thr"), 1L)), lit(0L))
              .cast("long").as("n_sel"),
            coalesce(sum(when(col("nm") > col("thr") && col("y") === 1, 1L)),
              lit(0L)).cast("long").as("n_pos"))
          .withColumn("prec_ppm",
            when(col("n_sel") === 0L, 0L)
              .otherwise(expr("(1000000 * n_pos) div n_sel")).cast("long"))
        // the sweep is |thresholds| rows — its own min is driver-sized
        val chosen = sweep.filter(col("prec_ppm") >= PrecisionTargetPpm)
          .agg(min(col("thr")).as("mt"))
        sweep.crossJoin(broadcast(chosen))
          .select(col("thr"), col("n_sel"), col("n_pos"), col("prec_ppm"),
            coalesce(col("thr") === col("mt"), lit(false)).as("chosen"))
          .orderBy("thr")
      } finally { feats.unpersist(); () }
    },

    // ---- FROZEN-CLASSIFIER delta scoring (the q277 stance for this
    //      family): weights train on the SHIPPED base (the md5 'train'
    //      split) only; arrivals (the 'eval' split) are scored against
    //      that frozen model — a doc's verdict is a pure function of
    //      (base, doc), never of what co-arrives. ONE oracle instance
    //      shared with q285 (streamed ≡ batch) and q286 (load ≡ train). ----
    Q("q284_classifier_delta", ClassifierDeltaOracleSql) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val w = trainQualityFilter(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "train"))
      scoreQualityFilter(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "eval"), w)
    },

    // ---- STREAMING classifier front door (the q278 stance): a REAL
    //      file-source stream of arrivals scored statelessly against the
    //      frozen broadcast weights — per-arrival work is a narrow map
    //      (6 literal multiplies), so arrival order and batch boundaries
    //      are invisible by construction; the SAME oracle instance as
    //      q284 proves it. ----
    Q("q285_classifier_stream", ClassifierDeltaOracleSql) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val w = trainQualityFilter(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "train"))
      val stream = graft.streaming.EventStreams
        .readParquetStream(s, s"$d/documents.parquet")
        .filter(Sampling.splitLabel(col("doc_id"), 1) === "eval")
      val scored = scoreQualityFilter(stream, w, ordered = false)
      graft.streaming.StreamHarness
        .runToTable(scored, "q285_sink", "append")
        .select("doc_id", "label", "margin", "pred")
        .orderBy("doc_id")
    },

    // ---- ANNEAL schedule (the midtraining two-phase mix): phase 'main'
    //      trains one epoch over the whole corpus; phase 'anneal'
    //      re-visits ONLY the docs the trained quality filter passes at
    //      the q283-CHOSEN threshold, twice — the sweep's decision
    //      (smallest threshold meeting the 90% precision bar, strictest
    //      rung as the designed fallback) is APPLIED, not just reported:
    //      sweep once, choose, ship the phase plan. Per (phase, source):
    //      docs, tokens, epoch factor — the token-budget sheet a
    //      training run is provisioned from. Scale: the q283 machinery
    //      + one corpus equi-join to pick up source/ntok + two
    //      |sources|-group aggs. ----
    Q("q290_anneal_schedule", {
      val thrList = ClassifierThresholds.mkString(", ")
      val maxThr = ClassifierThresholds.max
      s"""WITH ${qualityFCteSql("f")},
         |${qualityTrainCtes("f")},
         |wn AS (SELECT ${perceptronL1Sql} AS l1 FROM w$QualityRounds),
         |nb AS (SELECT f.doc_id, f.y,
         |  CAST((1000 * (${perceptronMarginSql("f")})) // GREATEST(wn.l1, 1)
         |    AS BIGINT) AS nm
         |  FROM f, w$QualityRounds w, wn),
         |t AS (SELECT unnest([$thrList]) AS thr),
         |g AS (SELECT t.thr,
         |    coalesce(sum(CASE WHEN nb.nm > t.thr THEN 1 END), 0) AS n_sel,
         |    coalesce(sum(CASE WHEN nb.nm > t.thr AND nb.y = 1 THEN 1 END), 0) AS n_pos
         |  FROM t, nb GROUP BY t.thr),
         |g2 AS (SELECT thr,
         |    CAST(CASE WHEN n_sel = 0 THEN 0
         |      ELSE (1000000 * n_pos) // n_sel END AS BIGINT) AS prec_ppm
         |  FROM g),
         |m AS (SELECT CAST(coalesce(
         |    min(CASE WHEN prec_ppm >= $PrecisionTargetPpm THEN thr END),
         |    $maxThr) AS BIGINT) AS mt FROM g2),
         |d2 AS (SELECT nb.doc_id, nb.nm, d.source,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok
         |  FROM nb JOIN documents d USING (doc_id))
         |SELECT 'anneal' AS phase, source, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
         |  CAST(2 AS BIGINT) AS epochs
         |FROM d2, m WHERE d2.nm > m.mt GROUP BY source
         |UNION ALL
         |SELECT 'main', source, count(*), CAST(sum(ntok) AS BIGINT),
         |  CAST(1 AS BIGINT)
         |FROM d2 GROUP BY source
         |ORDER BY phase, source""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val docs = Tables.t(s, d, "documents")
      val feats = qualityFeats(docs).persist()
      try {
        val w = qualityTrain(feats)
        val nb = perceptronNormMargin(feats, w)
        val swept = nb.crossJoin(broadcast(ClassifierThresholds.toDF("thr")))
          .groupBy("thr")
          .agg(
            coalesce(sum(when(col("nm") > col("thr"), 1L)), lit(0L))
              .as("n_sel"),
            coalesce(sum(when(col("nm") > col("thr") && col("y") === 1, 1L)),
              lit(0L)).as("n_pos"))
          .select(col("thr"),
            when(col("n_sel") === 0L, 0L)
              .otherwise(expr("(1000000 * n_pos) div n_sel")).as("prec_ppm"))
        // the sweep is |thresholds| rows — its min is driver-sized (the
        // dsirMu stance); designed fallback: the strictest rung
        val mtRow = swept.filter(col("prec_ppm") >= PrecisionTargetPpm)
          .agg(min(col("thr"))).head
        val mt: Int =
          if (mtRow.isNullAt(0)) ClassifierThresholds.max else mtRow.getInt(0)
        val d2 = nb.join(docs.select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("ntok")), "doc_id")
        def phaseAgg(src: DataFrame, phase: String, epochs: Int) =
          src.groupBy("source")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("ntok")).cast("long").as("total_tokens"))
            .select(lit(phase).as("phase"), col("source"), col("n_docs"),
              col("total_tokens"), lit(epochs.toLong).as("epochs"))
        phaseAgg(d2.filter(col("nm") > mt), "anneal", 2)
          .unionAll(phaseAgg(d2, "main", 1))
          .orderBy("phase", "source")
      } finally { feats.unpersist(); () }
    },

    // ---- classifier from the PERSISTED model (the q279 stance): train
    //      on the base, save the weight row through the shared
    //      artifact-params owner, load into a fresh array, and score the
    //      delta with ZERO training jobs on the load path — same oracle
    //      instance as q284, so the hash proves load ≡ train. ----
    Q("q286_classifier_from_artifact", ClassifierDeltaOracleSql) { (s, d) =>
      val docs = Tables.t(s, d, "documents")
      val w = trainQualityFilter(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "train"))
      val dir = classifierArtifactDir(d)
      PerceptronStore.save(s, w, dir)
      val loaded = PerceptronStore.load(s, dir)
      scoreQualityFilter(
        docs.filter(Sampling.splitLabel(col("doc_id"), 1) === "eval"), loaded)
    }
  )

  /** floor(2^19 · 2^(i/16)) for i = 0..15 — the 1/16-bit log2 rungs the
    * DSIR scorer reads the normalized mantissa against (q276). ONE
    * constant list feeding BOTH the Spark expression and the DuckDB
    * oracle text via [[dsirFracCaseSql]] — portable CASE syntax, so the
    * rung table cannot drift between engines. */
  private lazy val DsirLog16Thresholds: Seq[Long] = Seq(
    524288L, 547500L, 571740L, 597053L, 623487L, 651091L, 679917L,
    710019L, 741455L, 774282L, 808562L, 844360L, 881743L, 920781L,
    961548L, 1004119L)

  /** The fractional-rung CASE over a column named `y0` ∈ [2^19, 2^20). */
  private def dsirFracCaseSql: String =
    (15 to 1 by -1)
      .map(i => s"WHEN y0 >= ${DsirLog16Thresholds(i)} THEN $i")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** The DSIR model CTE chain, ending in `lr` (b, lr16): tokenize,
    * md5-bucket (with the q110 md5 split label riding along), restrict
    * the DISTRIBUTION sources by `baseWhere` (empty = the full corpus,
    * q276; " WHERE split = 'train'" = the frozen-model paths
    * q277/q278/q279), then the 1/16-bit integer log2 of the smoothed
    * ratio — ONE owner for every DSIR oracle. */
  private def dsirModelCtes(baseWhere: String = ""): String =
    s"""t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |tok AS (SELECT doc_id, lang, unnest(toks) AS w FROM t WHERE len(toks) >= 1),
       |tb AS (SELECT doc_id, lang,
       |  CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 256 AS b,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 9
       |       THEN 'train' ELSE 'eval' END AS split
       |  FROM tok),
       |tbb AS (SELECT * FROM tb$baseWhere),
       |ctt AS (SELECT b, count(*) AS ct FROM tbb WHERE lang = 'en' GROUP BY b),
       |crr AS (SELECT b, count(*) AS cr FROM tbb GROUP BY b),
       |nn AS (SELECT (SELECT count(*) FROM tbb WHERE lang = 'en') AS nt,
       |              (SELECT count(*) FROM tbb) AS nr),
       |lrm AS (SELECT crr.b, LEAST(
       |    ((((coalesce(ctt.ct, 0) + 1) * 1048576) // (crr.cr + 1))
       |      * (((nn.nr + 256) * 1024) // (nn.nt + 256))) // 1024,
       |    1099511627776) AS mm
       |  FROM crr LEFT JOIN ctt USING (b), nn),
       |ln0 AS (SELECT b, mm,
       |  CASE WHEN mm > 0 THEN length(bin(mm)) - 1 ELSE 0 END AS e0 FROM lrm),
       |ln1 AS (SELECT b, mm, e0,
       |  (mm * 524288) // (CAST(1 AS BIGINT) << e0) AS y0 FROM ln0),
       |lr AS (SELECT b, CASE WHEN mm <= 0 THEN CAST(-336 AS BIGINT)
       |    ELSE CAST(16 * (e0 - 20) + $dsirFracCaseSql AS BIGINT)
       |  END AS lr FROM ln1)""".stripMargin

  /** The per-doc scoring pair of CTEs (`p`, `p`2) over token-bucket
    * relation `rel` — the oracle twin of [[dsirScoreTb]]. */
  private def dsirScoreCtes(p: String, rel: String): String =
    s"""$p AS (SELECT $rel.doc_id, $rel.lang, count(*) AS n_tok,
       |    CAST(sum(lr.lr) AS BIGINT) AS lw_sum
       |  FROM $rel JOIN lr USING (b) GROUP BY $rel.doc_id, $rel.lang),
       |${p}2 AS (SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok, lw_sum,
       |    CAST((lw_sum * 1000) // n_tok AS BIGINT) AS lw_milli FROM $p)""".stripMargin

  private def dsirFinalSelect(x2: String): String =
    s"""SELECT doc_id, lang, n_tok, lw_sum, lw_milli, lw_milli >= mu AS selected
       |FROM $x2, m ORDER BY doc_id""".stripMargin

  /** The ONE frozen-model DSIR oracle instance shared by q277 (batch
    * delta), q278 (streaming front door) and q279 (artifact-served) —
    * the q269/q271/q274 twin discipline: model CTEs restricted to the
    * 'train' split, threshold = the BASE docs' mean weight, output =
    * the scored 'eval' arrivals. */
  private lazy val DsirDeltaOracleSql: String =
    s"""WITH ${dsirModelCtes(" WHERE split = 'train'")},
       |${dsirScoreCtes("xb", "tbb")},
       |m AS (SELECT CAST(sum(lw_milli) // count(*) AS BIGINT) AS mu FROM xb2),
       |dl AS (SELECT * FROM tb WHERE split = 'eval'),
       |${dsirScoreCtes("xd", "dl")}
       |${dsirFinalSelect("xd2")}""".stripMargin

  // data dir -> the ONE q279 artifact dir this JVM round-trips through
  // (the SimilarityOps tempDirs rule: each invocation overwrite-saves —
  // the save IS the operator — but repeated passes in one JVM must
  // not accumulate artifact copies).
  private val dsirDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dsirArtifactDir(d: String): String =
    dsirDirs.computeIfAbsent(new java.io.File(d).getCanonicalPath,
      _ => graft.TempDirs.create("graft-dsir").toString)

  /** DSIR-style importance selection (q276; Xie et al. 2023,
    * arXiv:2302.03169): hashed-unigram importance weights of every doc
    * under a TARGET token distribution vs the RAW one, above-mean kept.
    * `isTarget` is a row predicate over `docs`' columns (the gate uses
    * lang = 'en'). All math integer-exact — see the q276 comment for
    * the overflow-safe association of the smoothed log2 ratio.
    *
    * Scale shape: the only corpus-sized work is one token explode
    * feeding two aggregations (the 256-bucket histograms collapse
    * map-side) and the per-doc weight agg; both distribution tables
    * and the 1-row totals BROADCAST (constant-sized at any corpus), so
    * the corpus is never self-joined and no join key is
    * corpus-cardinality. */
  def dsirSelect(docs: DataFrame, isTarget: Column): DataFrame = {
    val tb = dsirBuckets(docs)
    val lr = dsirLocalModel(tb, isTarget)
    // snapshot the per-doc scores (one narrow row per doc — output-
    // sized) so the mean job and the final select share ONE scoring
    // pass instead of re-running the token explode each
    val (x, _) = Graph.snapshot(dsirScoreTb(tb, lr))
    x.withColumn("selected", col("lw_milli") >= lit(dsirMu(x)))
  }

  /** The trained DSIR state: the 256-row log-ratio table as a
    * MATERIALIZED local relation and the base corpus's mean weight —
    * the frozen selection threshold the delta/stream/artifact paths
    * score arrivals against. Driver-sized by the hashing trick (256
    * longs + one long), the kmeansTrain-centroid stance. */
  final case class DsirModel(lr: DataFrame, mu: Long)

  /** Train the DSIR model on a BASE corpus: distributions AND the mean
    * threshold come from the base only — the frozen-router stance
    * (q269/q274) for this family: arrivals are scored against shipped
    * state, never against themselves, so a doc's verdict is independent
    * of what co-arrives. Exactly TWO corpus passes: the fused bucket
    * histogram, then the base scoring that yields the threshold. */
  def dsirTrain(docs: DataFrame, isTarget: Column): DsirModel = {
    val tb = dsirBuckets(docs)
    val lr = dsirLocalModel(tb, isTarget)
    DsirModel(lr, dsirMu(dsirScoreTb(tb, lr)))
  }

  /** Per-doc importance weights under an EXPLICIT lr table (the scoring
    * half every path shares — batch, delta, streaming micro-batch,
    * artifact-served). */
  def dsirScore(docs: DataFrame, lr: DataFrame): DataFrame =
    dsirScoreTb(dsirBuckets(docs), lr)

  /** Score a DELTA under a model trained on the BASE (q277): frozen
    * distributions, frozen threshold. */
  def dsirSelectDelta(base: DataFrame, delta: DataFrame,
                      isTarget: Column): DataFrame = {
    val m = dsirTrain(base, isTarget)
    dsirScore(delta, m.lr)
      .withColumn("selected", col("lw_milli") >= lit(m.mu))
  }

  /** (doc_id, lang, b) token-bucket rows — one per token occurrence. */
  private def dsirBuckets(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.filter(size(toks) >= 1)
      .select(col("doc_id"), col("lang"), explode(toks).as("w"))
      .withColumn("b", Sampling.hashBucket(col("w"), 256)).drop("w")
  }

  /** The 256-row (b, lr16) model from base token-bucket rows — see the
    * q276 comment for the integer log2 scheme. ONE fused histogram pass
    * (per-bucket raw + target counts; the totals derive from the 256
    * local rows), then the lr16 math runs over the LocalRelation and
    * the result is collected: the model is driver-sized BY DESIGN (the
    * hashing trick), and materializing it here is what keeps every
    * downstream consumer from re-running corpus aggregations as nested
    * broadcast-build subtrees (the first cut left the model lazy and
    * measured 35× at 10× data from exactly that — each broadcast build
    * re-ran the scan inside the branch that used it). */
  private def dsirLocalModel(tb: DataFrame, isTarget: Column): DataFrame = {
    val spark = tb.sparkSession
    import spark.implicits._
    val h = tb.groupBy("b").agg(count(lit(1)).as("cr"),
        sum(when(isTarget, lit(1L)).otherwise(lit(0L))).as("ct"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val nr = h.map(_._2).sum
    val nt = h.map(_._3).sum
    val local = h.toSeq.toDF("b", "cr", "ct")
      .withColumn("nt", lit(nt)).withColumn("nr", lit(nr))
      .select(col("b"), expr(
        "least((((coalesce(ct, 0) + 1) * 1048576) div (cr + 1))" +
          " * (((nr + 256) * 1024) div (nt + 256)) div 1024," +
          " 1099511627776)").as("mm"))
      .withColumn("e0", expr(
        "CASE WHEN mm > 0 THEN length(conv(mm, 10, 2)) - 1 ELSE 0 END"))
      .withColumn("y0", expr(
        "(mm * 524288) div shiftleft(CAST(1 AS BIGINT), e0)"))
      .select(col("b"), expr(
        s"""CASE WHEN mm <= 0 THEN CAST(-336 AS BIGINT)
           |  ELSE CAST(16 * (e0 - 20) + $dsirFracCaseSql AS BIGINT) END"""
          .stripMargin).as("lr"))
      .as[(Long, Long)].collect().toSeq
    local.toDF("b", "lr")
  }

  private def dsirScoreTb(tb: DataFrame, lr: DataFrame): DataFrame =
    tb.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum(col("lr")).cast("long").as("lw_sum"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("lw_sum"),
        expr("(lw_sum * 1000) div n_tok").as("lw_milli"))

  /** The corpus mean weight (one 1-row aggregation job — the q200
    * threshold stance), as a driver scalar. */
  private def dsirMu(x: DataFrame): Long = {
    val r = x.agg(expr("sum(lw_milli) div count(*)").as("mu")).head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  // ---- q197 batch-perceptron helpers ----
  /** The 5 marker-token count features (plus bias) behind q197 — ONE
    * list so the Spark body and the oracle builder cannot drift. */
  // defs, not vals: referenced from inside `defs`'s eager Q construction,
  // which runs before this point in the object initializer
  private def PerceptronMarkers = Seq("the", "a", "data", "spark", "fast")
  private def PerceptronRounds = 3

  // ---- q282–q286 QUALITY-classifier family constants (distinct from
  //      q197's langid: that gate pins the RAW batch-perceptron
  //      trajectory; this family trains a USABLE filter — see
  //      [[qualityTrain]] for why the update rule differs) ----

  /** Marker-count features x2..x5 of the quality classifier. */
  private def QualityMarkers = Seq("the", "data", "spark", "fast")

  /** x1 = tokenCount − this (CENTERED length): with raw counts the
    * length feature's magnitude (~55) dwarfs the bias's (1), so the
    * separating hyperplane's offset can never catch up and batch
    * training oscillates at chance (measured: acc stuck at 0.49–0.51
    * over 8 rounds). Centering puts the boundary near the origin. */
  private def QualityTokCenter = 55

  /** The label: y = +1 iff n_chars ≥ this — the long-doc quality proxy.
    * Chars correlate with (but aren't determined by) the token
    * features, so the learned filter is good-but-imperfect — exactly
    * what a calibration curve (q282) and threshold sweep (q283) are
    * for. */
  private def QualityCharBar = 300

  private def QualityRounds = 4

  /** Damped batch rounds: w += (1000·Σ_mis y·x) div max(|mis|, 1) —
    * the misclassified-set MEAN in milli-units, not the raw sum q197
    * pins. The raw-sum update scales with corpus size (at sf0.1 the
    * round-1 step is 10× sf0.01's), so the same 3-round program lands
    * at wildly different weights per SF and oscillates (measured:
    * round 3 flips every sign). The mean step is corpus-size-FREE:
    * bounded by feature magnitude, identical shape at any SF — the
    * Lloyd-rounds stance applied to a linear model. */
  private def QualityStepMilli = 1000L

  /** Normalized-margin bin edges (thousandths of the L1-normalized
    * margin) — ONE ladder for the q282 calibration bins, Spark and
    * oracle sides. */
  private def CalibrationEdges = Seq(-200L, -50L, 0L, 50L, 200L)

  /** Candidate thresholds for the q283 precision-targeted sweep, same
    * nm units as [[CalibrationEdges]] but reaching further into the
    * negative cloud so the sweep shows sub-bar rows. */
  private def ClassifierThresholds = Seq(-20000, -5000, -2000, -1000, -200, 0, 200)

  /** The q283 precision bar (ppm): ship the cheapest threshold whose
    * selected set is ≥ 90% positive. */
  private def PrecisionTargetPpm = 900000L

  /** ‖w‖₁ over the trained weight row — the q282/q283 normalizer. */
  private def perceptronL1Sql: String =
    (0 to QualityMarkers.length + 1).map(i => s"abs(b$i)").mkString(" + ")

  /** Quality-feature frame (doc_id, y, x0..x5): bias, centered token
    * count, marker counts; y = ±1 on the n_chars bar. */
  private def qualityFeats(docs: DataFrame): DataFrame = {
    val featCols = QualityMarkers.zipWithIndex.map { case (m, i) =>
      size(filter(split(col("text"), " "), t => t === m)).as(s"x${i + 2}")
    }
    docs.select(Seq(col("doc_id"),
      when(col("n_chars") >= QualityCharBar, 1).otherwise(-1).as("y"),
      lit(1).as("x0"),
      (graft.functions.TextFunctions.tokenCount(col("text"))
        - QualityTokCenter).as("x1")) ++ featCols: _*)
  }

  /** The SQL image of [[qualityFeats]], optionally filtered (`where`
    * includes the leading " WHERE "). */
  private def qualityFCteSql(name: String, where: String = ""): String = {
    val feats = QualityMarkers.zipWithIndex.map { case (m, i) =>
      s"len(list_filter(string_split(text, ' '), t -> t = '$m')) AS x${i + 2}"
    }.mkString(",\n  ")
    s"""$name AS (
       |  SELECT doc_id, CASE WHEN n_chars >= $QualityCharBar THEN 1 ELSE -1 END AS y,
       |  1 AS x0,
       |  len(string_split(text, ' ')) - $QualityTokCenter AS x1,
       |  $feats
       |  FROM documents$where)""".stripMargin
  }

  /** One damped training round (see [[QualityStepMilli]]): the update
    * CTE also counts the misclassified set, and the weight add divides
    * by it — both engines truncate toward zero. */
  private def qualityRoundCte(r: Int, fName: String): String = {
    val nf = QualityMarkers.length + 1
    val m = perceptronMarginSql(fName)
    val upd = (0 to nf).map(i =>
      s"CAST(coalesce(sum(CASE WHEN $fName.y * ($m) <= 0 " +
        s"THEN $fName.y * $fName.x$i ELSE 0 END), 0) AS BIGINT) AS b$i")
      .mkString(",\n    ")
    val add = (0 to nf).map(i =>
      s"w.b$i + ($QualityStepMilli * u.b$i) // GREATEST(u.nmis, 1) AS b$i")
      .mkString(", ")
    s"""u$r AS (SELECT
       |    $upd,
       |    CAST(coalesce(sum(CASE WHEN $fName.y * ($m) <= 0 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS nmis
       |  FROM $fName, w${r - 1} w),
       |w$r AS (SELECT $add FROM w${r - 1} w, u$r u)""".stripMargin
  }

  /** w0 + QualityRounds damped training CTEs over feature CTE `fName`,
    * ending in `w$QualityRounds(b0..b5)`. */
  private def qualityTrainCtes(fName: String): String = {
    val nf = QualityMarkers.length + 1
    val w0 = (0 to nf).map(i => s"CAST(0 AS BIGINT) AS b$i").mkString(", ")
    val rounds = (1 to QualityRounds)
      .map(r => qualityRoundCte(r, fName)).mkString(",\n")
    s"""w0 AS (SELECT $w0),
       |$rounds""".stripMargin
  }

  /** Damped batch training over a [[qualityFeats]] frame: each round is
    * ONE two-phase agg (integer adds, order-independent) collecting the
    * |features|+2-row update driver-side — the model is O(features) on
    * the driver by definition. Update rule: see [[QualityStepMilli]]. */
  private def qualityTrain(feats: DataFrame): Array[Long] = {
    val nf = QualityMarkers.length + 1
    var w = Array.fill(nf + 1)(0L)
    for (_ <- 1 to QualityRounds) {
      val margin = perceptronMarginCol(w)
      val aggs = (0 to nf).map(i =>
        coalesce(sum(col("y") * col(s"x$i")), lit(0L)).cast("long")
          .as(s"u$i")) :+ count(lit(1)).as("nmis")
      val upd = feats.filter((col("y") * margin) <= 0)
        .agg(aggs.head, aggs.tail: _*).collect()(0)
      val nmis = math.max(upd.getLong(nf + 1), 1L)
      w = (0 to nf).map(i => w(i) + (QualityStepMilli * upd.getLong(i)) / nmis)
        .toArray
    }
    w
  }

  /** Σ wᵢ·xᵢ as literal weights over x0..xN columns. */
  private def perceptronMarginCol(w: Array[Long]): Column =
    w.indices.map(i => lit(w(i)) * col(s"x$i")).reduce(_ + _)

  /** Per-doc L1-normalized margin in thousandths: nm = 1000·margin div
    * max(‖w‖₁, 1) — scale-free across weight magnitudes, integer-exact
    * (both engines truncate toward zero). Returns (doc_id, y, nm). */
  private def perceptronNormMargin(feats: DataFrame, w: Array[Long]): DataFrame = {
    val l1 = math.max(w.map(math.abs).sum, 1L)
    feats.select(col("doc_id"), col("y"),
      perceptronMarginCol(w).cast("long").as("margin"))
      .select(col("doc_id"), col("y"),
        expr(s"(1000 * margin) div $l1").cast("long").as("nm"))
  }

  /** Train the quality filter on a document frame: the public surface
    * of the q282–q286 family (persist hygiene included — the feature
    * frame is re-read once per damped round). */
  def trainQualityFilter(docs: DataFrame): Array[Long] = {
    val f = qualityFeats(docs).persist()
    try qualityTrain(f) finally { f.unpersist(); () }
  }

  /** Score a document frame (batch OR stream — plain DataFrame ops)
    * with frozen [[trainQualityFilter]] weights:
    * (doc_id, label, margin, pred). */
  def scoreQualityFilter(docs: DataFrame, w: Array[Long],
      ordered: Boolean = true): DataFrame =
    perceptronScoreDelta(qualityFeats(docs), w, ordered)

  /** Score a quality-feature frame (batch OR stream — plain DataFrame
    * ops) with frozen weights: (doc_id, label, margin, pred), ordered
    * for the gate unless `ordered = false` (streaming sinks sort after
    * collection). */
  private def perceptronScoreDelta(feats: DataFrame, w: Array[Long],
      ordered: Boolean): DataFrame = {
    val scored = feats
      .select(col("doc_id"), col("y").as("label"),
        perceptronMarginCol(w).cast("long").as("margin"))
      .withColumn("pred", when(col("margin") > 0, 1).otherwise(-1))
    if (ordered) scored.orderBy("doc_id") else scored
  }

  /** ONE oracle instance for q284 (batch delta), q285 (streamed ≡ batch)
    * and q286 (load ≡ train): weights train on the md5 'train' split,
    * the 'eval' split is scored against that frozen model. */
  private lazy val ClassifierDeltaOracleSql: String = {
    val split = Sampling.splitLabelSql("doc_id", 1)
    s"""WITH ${qualityFCteSql("f", s" WHERE ($split) = 'train'")},
       |${qualityTrainCtes("f")},
       |${qualityFCteSql("fe", s" WHERE ($split) = 'eval'")},
       |scored AS (SELECT fe.doc_id, fe.y,
       |  CAST(${perceptronMarginSql("fe")} AS BIGINT) AS margin
       |  FROM fe, w$QualityRounds w)
       |SELECT doc_id, y AS label, margin,
       |  CASE WHEN margin > 0 THEN 1 ELSE -1 END AS pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // data dir -> the ONE q286 artifact dir this JVM round-trips through
  // (the dsirDirs rule: each invocation overwrite-saves — the save IS
  // the operator — but repeated passes in one JVM must not accumulate
  // artifact copies).
  private val classifierDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def classifierArtifactDir(d: String): String =
    classifierDirs.computeIfAbsent(new java.io.File(d).getCanonicalPath,
      _ => graft.TempDirs.create("graft-classifier").toString)

  /** The weighted margin Σ wᵢ·xᵢ with the feature table aliased `fa` and
    * the weight row aliased `w` — parameterized so the delta gates can
    * score an EVAL feature table against weights trained on the train
    * split (q284–q286). */
  private def perceptronMarginSql(fa: String): String =
    (0 to PerceptronMarkers.length)
      .map(i => s"w.b$i * $fa.x$i").mkString(" + ")

  /** One DuckDB batch-perceptron round over feature CTE `fName`:
    * misclassified-set update sums under the previous round's weights,
    * then the integer weight add — the Lloyd-style oracle replay of an
    * iterative trainer. */
  private def perceptronRoundCte(r: Int, fName: String): String = {
    val nf = PerceptronMarkers.length
    val m = perceptronMarginSql(fName)
    val upd = (0 to nf).map(i =>
      s"CAST(coalesce(sum(CASE WHEN $fName.y * ($m) <= 0 " +
        s"THEN $fName.y * $fName.x$i ELSE 0 END), 0) AS BIGINT) AS b$i")
      .mkString(",\n    ")
    val add = (0 to nf).map(i => s"w.b$i + u.b$i AS b$i").mkString(", ")
    s"""u$r AS (SELECT
       |    $upd
       |  FROM $fName, w${r - 1} w),
       |w$r AS (SELECT $add FROM w${r - 1} w, u$r u)""".stripMargin
  }

  /** Feature CTE `name(doc_id, y, x0..x5)` over documents, optionally
    * filtered (`where` includes the leading " WHERE "). ONE builder for
    * the full-corpus (q197/q282/q283) and split-filtered (q284–q286)
    * instances. */
  private def perceptronFCteSql(name: String, where: String = ""): String = {
    val feats = PerceptronMarkers.zipWithIndex.map { case (m, i) =>
      s"len(list_filter(string_split(text, ' '), t -> t = '$m')) AS x${i + 1}"
    }.mkString(",\n  ")
    s"""$name AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |  1 AS x0,
       |  $feats
       |  FROM documents$where)""".stripMargin
  }

  /** The w0 + PerceptronRounds training CTEs over feature CTE `fName`,
    * ending in `w$PerceptronRounds(b0..b5)`. */
  private def perceptronTrainCtes(fName: String): String = {
    val nf = PerceptronMarkers.length
    val w0 = (0 to nf).map(i => s"CAST(0 AS BIGINT) AS b$i").mkString(", ")
    val rounds = (1 to PerceptronRounds)
      .map(r => perceptronRoundCte(r, fName)).mkString(",\n")
    s"""w0 AS (SELECT $w0),
       |$rounds""".stripMargin
  }

  private def perceptronOracleSql: String = {
    val nf = PerceptronMarkers.length
    val wOut = (0 to nf).map(i => s"w.b$i AS w$i").mkString(", ")
    s"""WITH ${perceptronFCteSql("f")},
       |${perceptronTrainCtes("f")},
       |scored AS (SELECT f.doc_id, f.y,
       |  CAST(${perceptronMarginSql("f")} AS BIGINT) AS margin
       |  FROM f, w$PerceptronRounds w),
       |pred AS (SELECT doc_id, y, margin,
       |  CASE WHEN margin > 0 THEN 1 ELSE -1 END AS pred FROM scored),
       |acc AS (SELECT CAST(1000000 * sum(CASE WHEN pred = y THEN 1 ELSE 0 END)
       |  // count(*) AS BIGINT) AS acc_ppm FROM pred)
       |SELECT p.doc_id, p.y AS label, p.margin, p.pred, $wOut, a.acc_ppm
       |FROM pred p, w$PerceptronRounds w, acc a
       |WHERE p.doc_id < 30 ORDER BY p.doc_id""".stripMargin
  }

  /** BM25 ranking CTE chain ending in `bmr` (qid, nid, score, rn) —
    * ONE definition shared by the q142 oracle and SimilarityOps' q194
    * hybrid-RRF oracle, so the lexical ranker cannot drift between its
    * standalone and fused uses. All term math in exact 100ths
    * (k1=1.2, b=0.75) over integer tf/df/len, per-term value cast to
    * DECIMAL(18,4) before the sum (the decimal-sum determinism rule). */
  private[operators] def bm25Ctes(probeWhere: String): String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |cfg AS (SELECT n, (1000 * t) // n AS a FROM (
       |  SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl)),
       |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |probes AS (SELECT doc_id AS qid, w FROM tf WHERE $probeWhere),
       |terms AS (
       |  SELECT p.qid, t.doc_id AS nid,
       |    CAST(CAST(44 * t.c * cfg.a AS DOUBLE)
       |           / CAST(20 * t.c * cfg.a + 6 * cfg.a + 18000 * d.dl AS DOUBLE)
       |         * (CAST(2 * cfg.n - 2 * f.df + 1 AS DOUBLE)
       |           / CAST(2 * f.df + 1 AS DOUBLE))
       |      AS DECIMAL(18,4)) AS term
       |  FROM probes p
       |  JOIN tf t ON t.w = p.w AND t.doc_id <> p.qid
       |  JOIN dfq f ON f.w = p.w
       |  JOIN dl d ON d.doc_id = t.doc_id
       |  CROSS JOIN cfg),
       |scored AS (
       |  SELECT qid, nid, CAST(sum(term) AS DOUBLE) AS score
       |  FROM terms GROUP BY 1, 2),
       |bmr AS (SELECT qid, nid, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn
       |  FROM scored)""".stripMargin

  /** The Spark twin of [[bm25Ctes]]: full BM25 ranking (qid, nid, score,
    * rank — uncut) for the probe docs selected by `probeFilter`. Probes
    * and the tiny cfg frame broadcast; the corpus-sized df table joins
    * shuffle-hash (never broadcast); candidates come only from
    * shared-token postings — the corpus text is never self-joined. */
  private[operators] def bm25Ranked(s: org.apache.spark.sql.SparkSession,
      d: String, probeFilter: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.t(s, d, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val dl = tf.groupBy("doc_id").agg(sum("c").cast("long").as("dl"))
    val cfg = dl.agg(count(lit(1)).as("n"), sum("dl").cast("long").as("t"))
      .withColumn("a", expr("(1000 * t) div n"))
      .select("n", "a")
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val probes = tf.filter(probeFilter)
      .select(col("doc_id").as("qid"), col("w"))
    val tfp = (lit(44) * col("c") * col("a")).cast("double") /
      (lit(20) * col("c") * col("a") + lit(6) * col("a") +
        lit(18000) * col("dl")).cast("double")
    val idf = (lit(2) * col("n") - lit(2) * col("df") + lit(1)).cast("double") /
      (lit(2) * col("df") + lit(1)).cast("double")
    val rw = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    tf.join(broadcast(probes), Seq("w"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dfq.hint("shuffle_hash"), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(cfg))
      .select(col("qid"), col("doc_id").as("nid"),
        (tfp * idf).cast("decimal(18,4)").as("term"))
      .groupBy("qid", "nid")
      .agg(sum("term").cast("double").as("score"))
      .withColumn("rank", row_number().over(rw))
  }
}
