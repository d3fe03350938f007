package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** Custom-expression equivalence + similarity sanity tests. */
class VectorSpec extends SparkTestBase {

  private lazy val emb = Tables.t(spark, Sf, "embeddings").cache()

  /** The q226 graph over `corpus`: occupancy-scaled planes, m = 16. */
  private def nswBuild(corpus: org.apache.spark.sql.DataFrame) =
    graft.operators.GraphAnn.nswGraphResult(corpus, "vec_id", "embedding",
      m = 16, planes = Similarity.adaptivePlanes(corpus.count(), 64),
      dim = 64, refineRounds = 1)

  test("LongArrayDot codegen == declarative zip_with/aggregate on real data") {
    val q = emb.select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
    val both = q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(
        VectorFunctions.dot(col("a.q"), col("b.q")).as("fast"),
        VectorFunctions.dotHof(col("a.q"), col("b.q")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("FloatArrayQuantize codegen == declarative transform/floor on real data") {
    val both = emb.select(
      VectorFunctions.quantize(col("embedding")).as("fast"),
      VectorFunctions.quantizeHof(col("embedding")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("quantized ingestion path: SQL graft_quantize round-trips and keep-list matches the float path") {
    // the q135 gated path, property-checked: a corpus materialized once
    // through graft_quantize(v, 1000) must (a) satisfy floor's defining
    // round-trip inequality on every component and (b) produce the SAME
    // keep-list as the quantize-per-query float path (q83's)
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_rt")
    val quant = spark.sql(
      "SELECT vec_id, embedding, graft_quantize(embedding, 1000) AS q FROM emb_rt")
    val bad = quant.filter(!expr(
      """forall(zip_with(q, embedding, (qi, x) ->
        |  CAST(qi AS DOUBLE) <= CAST(x AS DOUBLE) * 1000D AND
        |  CAST(x AS DOUBLE) * 1000D < CAST(qi AS DOUBLE) + 1D), b -> b)""".stripMargin))
    assert(bad.count() === 0)
    val fromQuantized = Similarity
      .nearDupKeepListQuantized(quant, "vec_id", "q", 0.45, 64)
      .collect().map(_.getLong(0)).toSet
    val fromFloat = Similarity
      .nearDupKeepListAdaptive(emb, "vec_id", "embedding", 0.45, 64)
      .collect().map(_.getLong(0)).toSet
    assert(fromQuantized === fromFloat)
  }

  test("graft_dot is SQL-callable after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").head()
    assert(r.getLong(0) === 32L)
  }

  test("LongArrayDot returns null on length-mismatched arrays (zip_with parity)") {
    GraftFunctions.register(spark)
    // interpreted + codegen paths both null; equal lengths still exact
    val r = spark.sql(
      """SELECT graft_dot(array(1L, 2L), array(1L, 2L, 3L)) AS mismatch,
        |       graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS ok,
        |       aggregate(zip_with(array(1L, 2L), array(1L, 2L, 3L),
        |         (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS hof_mismatch
        |""".stripMargin).head()
    assert(r.isNullAt(0), "length mismatch must be null")
    assert(r.getLong(1) === 32L)
    assert(r.isNullAt(2), "declarative form nulls too — semantics agree")
  }

  test("bruteForceKnn: rank-1 neighbor is the true argmax") {
    val knn = Similarity.bruteForceKnn(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", 1).collect()
    assert(knn.length === 1)
    val best = Similarity.allPairsCosine(emb, "vec_id", "embedding")
      .filter(col("id_a") === 0 || col("id_b") === 0)
      .orderBy(col("cos").desc)
      .select(when(col("id_a") === 0, col("id_b")).otherwise(col("id_a")))
      .head().getLong(0)
    assert(knn.head.getAs[Long]("nid") === best)
  }

  test("IVF k-NN recall vs brute force (routing can be deterministic-but-wrong)") {
    // the q109 oracle gates determinism; this gates QUALITY — a routing
    // bug (wrong list assignment, wrong probe ranking) that is still
    // deterministic would pass the hash gate but crater recall.
    // Measured 0.86 @ nlist=8, nprobe=2 on this fixture; floor leaves slack.
    val queries = emb.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfKnn(queries, emb, "vec_id", "embedding", 5, 8, 2)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall@5 collapsed: $recall")
  }

  test("Lloyd training improves the seeded quantizer at sf0.1: WCSS, balance, recall") {
    // all metrics below are fully deterministic (integer math end to end),
    // so exact comparisons are stable run to run. Measured at sf0.1:
    // WCSS 3.27e9 seeded -> 1.91e9 after 2 rounds (0.58x); balance
    // (max cell / mean cell) 1.168 -> 1.056; recall@5 over 50 probes
    // 0.512 seeded, 0.500 @2 rounds (flat on the uniform synthetic
    // fixture), 0.528 @4 rounds. Gate what training guarantees: the
    // quantization objective and cell balance strictly improve, recall
    // improves by 4 rounds and never collapses at 2.
    val d = "/root/testdata/sf0.1"
    val emb01 = Tables.t(spark, d, "embeddings")
    def stats(asg: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val wcss = asg.agg(sum("dist_sq")).head.getLong(0)
      val sizes = asg.groupBy("cid").count().collect().map(_.getLong(1))
      (wcss, sizes.max.toDouble / (sizes.sum.toDouble / sizes.length))
    }
    val (w0, b0) = stats(Similarity.kmeansAssign(emb01, "vec_id", "embedding", 8))
    val (w2, b2) = stats(
      Similarity.kmeansAssignTrained(emb01, "vec_id", "embedding", 8, 2))
    assert(w2 < w0 * 3 / 4, s"WCSS did not improve: seeded=$w0 trained=$w2")
    assert(b2 < b0, s"cluster balance did not improve: seeded=$b0 trained=$b2")
    val queries = emb01.filter(col("vec_id") < 50)
    val brute = Similarity.bruteForceKnn(queries, emb01, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rounds: Int): Double = {
      val ivf = Similarity.ivfKnn(queries, emb01, "vec_id", "embedding", 5, 8, 2,
          trainRounds = rounds)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (ivf & brute).size.toDouble / brute.size
    }
    val r0 = recallOf(0)
    assert(recallOf(4) > r0, s"4-round recall did not improve on seeded $r0")
    assert(recallOf(2) >= r0 - 0.05, s"2-round recall collapsed vs seeded $r0")
  }

  test("projected-kNN candidates beat random candidate selection at sf0.1") {
    // The q139 funnel: top-100 candidates by 16-dim projected cosine,
    // exact rerank on the original 64 dims. On this near-isotropic
    // synthetic fixture (2000 vectors), picking 100 candidates at RANDOM
    // recovers 100/2000 = 5% of the true top-5; the projection measured
    // 0.37 over all 2000 probes — gate at >= 0.2 (4x random), the claim
    // that makes the width cut worth running. Fully deterministic
    // (integer projection, exact rerank), so the number is stable.
    val d = "/root/testdata/sf0.1"
    val emb = Tables.t(spark, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 50)
    val brute = Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val proj = Similarity.projectedKnn(queries, emb, "vec_id", "embedding",
        k = 5, candidates = 100)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (proj & brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"projected recall@5 under 4x random baseline: $recall")
  }

  test("embedding near-dup keep-list drops one vector per over-threshold pair") {
    val pairs = Similarity.allPairsCosine(emb, "vec_id", "embedding")
      .filter(col("cos") >= 0.45)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val keep = Similarity.nearDupKeepListExact(emb, "vec_id", "embedding", 0.45)
      .collect().map(_.getLong(0)).toSet
    assert(pairs.nonEmpty)
    // no over-threshold pair survives intact (both kept is the only bug case)
    pairs.foreach { case (a, b) =>
      assert(!(keep.contains(a) && keep.contains(b)), s"pair ($a,$b) both kept")
    }
    assert(keep.size < emb.count())
  }

  test("LSH keep-list is sound: its drops are a subset of the exact drops") {
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val exactKeep = Similarity.nearDupKeepListExact(emb, "vec_id", "embedding", 0.45)
      .collect().map(_.getLong(0)).toSet
    val lshKeep = Similarity.nearDupKeepList(emb, "vec_id", "embedding", 0.45, 4, 64)
      .collect().map(_.getLong(0)).toSet
    // every LSH drop is exact-verified (cos >= threshold on a candidate
    // pair), so it must also be dropped by the exhaustive path; recall may
    // be lower (LSH misses pairs), never precision
    assert((all -- lshKeep).subsetOf(all -- exactKeep),
      s"LSH dropped a vector the exact path kept: ${(all -- lshKeep) -- (all -- exactKeep)}")
  }

  test("LshBucket codegen == declarative nested-aggregate HOF on real data") {
    val q = emb.select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
    for (planes <- Seq(4, 6, 12)) {
      val both = q.select(
        VectorFunctions.lshBucketExpr("q", planes, 64).as("fast"),
        VectorFunctions.lshBucketHof("q", planes, 64).as("ref"))
      assert(both.filter(col("fast") =!= col("ref")).count() === 0, s"planes=$planes")
    }
    // and SQL-callable
    GraftFunctions.register(spark)
    q.limit(5).createOrReplaceTempView("lsh_probe")
    val viaSql = spark.sql("SELECT graft_lsh_bucket(q, 12, 64) AS b FROM lsh_probe")
      .collect().map(_.getLong(0))
    val viaCol = q.limit(5).select(VectorFunctions.lshBucketExpr("q", 12, 64))
      .collect().map(_.getLong(0))
    assert(viaSql.toSeq === viaCol.toSeq)
    // shorter-than-dim arrays: under ANSI the subscripting HOF ERRORS, so
    // the expression extends it totally — bucket 0, matching what the
    // null-tolerant get() formulation null-poisons to
    val shortArr = spark.sql(
      """SELECT graft_lsh_bucket(array(5L, -3L), 4, 64) AS fast,
        |  aggregate(sequence(0, 3), CAST(0 AS BIGINT), (acc, p) -> acc +
        |    IF(aggregate(sequence(0, 63), CAST(0 AS BIGINT),
        |         (a2, d) -> a2 + get(array(5L, -3L), d) *
        |           ((CAST(p AS BIGINT) * 73856093 + CAST(d AS BIGINT) * 19349663) % 2001 - 1000)) >= 0,
        |       shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT))) AS ref
        |""".stripMargin).head()
    assert(shortArr.getLong(0) === 0L)
    assert(shortArr.getLong(0) === shortArr.getLong(1))
  }

  test("adaptivePlanes tracks corpus size (q83's oracle replays the formula)") {
    assert(Similarity.adaptivePlanes(500) === 4) // = q83's pl CTE at sf0.01
    assert(Similarity.adaptivePlanes(32) === 2) // clamped floor
    assert(Similarity.adaptivePlanes(2000) === 6)
    assert(Similarity.adaptivePlanes(1000000000L) === 24) // clamped ceiling
    // occupancy stays near target across 6 orders of magnitude
    for (n <- Seq(1000L, 100000L, 10000000L)) {
      val occ = n.toDouble / (1L << Similarity.adaptivePlanes(n))
      assert(occ >= 8 && occ <= 64, s"n=$n occupancy=$occ")
    }
  }

  test("clusterNearDupStats: planted near-dup pairs in-cluster; singleton cluster gets the sentinel") {
    import spark.implicits._
    // v0/v1 are the k=2 centroids; v2 is a near-copy of v0 (cos ≈ 0.99995
    // after ×1000 quantization) so cluster 0 = {0,2} with one dup pair,
    // cluster 1 = {1} alone — pairless, so max_cos falls back to -2
    val fixture = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.01f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.clusterNearDupStats(fixture, "vec_id", "embedding",
        k = 2, tau = 0.99)
      .collect().map(r => r.getAs[Long]("cid") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("n_dup"), r.getAs[Double]("max_cos")))).toMap
    assert(out(0L)._1 === 2 && out(0L)._2 === 1 && out(0L)._3 === 1, out)
    assert(out(0L)._4 > 0.999, out)
    assert(out(1L) === ((1L, 0L, 0L, -2.0)), out)
  }

  test("LSH buckets are deterministic across runs") {
    val b1 = Similarity.lshBuckets(emb, "vec_id", "embedding", 12, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b2 = Similarity.lshBuckets(emb, "vec_id", "embedding", 12, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b1 === b2)
    assert(b1.values.toSet.size > 1) // buckets actually partition the space
  }

  test("PQ ANN recall vs exact L2 (ADC compression must stay informative)") {
    // PQ approximates SQUARED-L2 ranking (not cosine), so the gold
    // standard is the exact L2 top-5 over the same integer-quantized
    // space. The ADC stage alone cannot rank top-5 on this isotropic
    // fixture (measured 0.04 at m=4, 0.15 at m=16 — quantization noise
    // swamps the tiny true-neighbor margins), which is exactly why
    // production PQ reranks: the funnel keeps the top-100 by ADC then
    // exact-reranks. Picking 100 of 2000 at random recovers 5% of the
    // true top-5. TRAINING IS THE RECALL LEVER (the round-6 verdict's
    // top item): with seeded codebooks (pqTrainRounds = 0, codewords =
    // arbitrary corpus points) the funnel measured 0.656 over 50 probes
    // at sf0.1; 2 rounds of per-subspace Lloyd lift it to 0.792 —
    // codewords that fit each subspace's distribution make ADC distances
    // informative. Gated both ways: trained strictly above the seeded
    // 0.656 watermark AND strictly above the same run's measured seeded
    // recall. Fully deterministic (integer math end to end).
    import org.apache.spark.sql.expressions.Window
    val d = "/root/testdata/sf0.1"
    val e = Tables.t(spark, d, "embeddings")
    val queries = e.filter(col("vec_id") < 50)
    val qp = Similarity.prepared(queries, "vec_id", "embedding")
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nsq").as("qnsq"))
    val cp = Similarity.prepared(e, "vec_id", "embedding")
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("nid"))
    val gold = qp.join(cp, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        (col("qnsq") + col("nsq")
          - lit(2L) * VectorFunctions.dot(col("qq"), col("q"))).as("d2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def flatRecall(rounds: Int): Double = {
      val pq = Similarity.pqKnn(queries, e, "vec_id", "embedding",
          k = 5, candidates = 100, m = 16, ksub = 8, dim = 64,
          pqTrainRounds = rounds)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (pq & gold).size.toDouble / gold.size
    }
    val seeded = flatRecall(0)
    val recall = flatRecall(2)
    info(s"PQ recall@5 over 50 probes: seeded $seeded, trained $recall")
    assert(recall > seeded, s"training did not lift recall: $seeded -> $recall")
    assert(recall > 0.656, s"trained PQ recall@5 below seeded watermark: $recall")

    // the composed IVFADC route prunes to nprobe/nlist of the corpus
    // BEFORE the ADC funnel — recall must not collapse vs flat PQ.
    // Measured 0.464 trained (0.436 seeded; vs 0.792 flat PQ: the
    // 2-of-8-cells routing loss, exactly the nprobe/recall trade IVF
    // sells — the nprobe-sweep spec below shows the knob recovering it).
    val ivfadc = Similarity.ivfAdcKnn(queries, e, "vec_id", "embedding",
        k = 5, candidates = 100, nlist = 8, nprobe = 2, trainRounds = 2,
        m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallIvf = (ivfadc & gold).size.toDouble / gold.size
    info(s"IVFADC recall@5 over 50 probes: $recallIvf")
    assert(recallIvf > 0.436,
      s"trained IVFADC recall@5 below seeded watermark: $recallIvf")
  }

  test("IVFADC nprobe sweep: recall recovers monotonically to flat PQ") {
    // nprobe is THE production knob a 100 TB operator turns: probing more
    // cells reads more inverted lists (cost ∝ nprobe/nlist of the corpus)
    // and buys recall. This pins the knob actually working: recall@5 is
    // non-decreasing across nprobe ∈ {1, 2, 4, 8}, and at nprobe = nlist
    // the route degenerates to flat PQ by construction (every cell
    // probed → same ADC funnel), so recall must MATCH the flat-PQ recall
    // exactly — routing loss fully recovered.
    import org.apache.spark.sql.expressions.Window
    val d = "/root/testdata/sf0.1"
    val e = Tables.t(spark, d, "embeddings")
    val queries = e.filter(col("vec_id") < 50)
    val qp = Similarity.prepared(queries, "vec_id", "embedding")
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nsq").as("qnsq"))
    val cp = Similarity.prepared(e, "vec_id", "embedding")
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("nid"))
    val gold = qp.join(cp, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        (col("qnsq") + col("nsq")
          - lit(2L) * VectorFunctions.dot(col("qq"), col("q"))).as("d2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int): Double = {
      val r = Similarity.ivfAdcKnn(queries, e, "vec_id", "embedding",
          k = 5, candidates = 100, nlist = 8, nprobe = nprobe,
          trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (r & gold).size.toDouble / gold.size
    }
    val flat = {
      val pq = Similarity.pqKnn(queries, e, "vec_id", "embedding",
          k = 5, candidates = 100, m = 16, ksub = 8, dim = 64,
          pqTrainRounds = 2)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (pq & gold).size.toDouble / gold.size
    }
    val sweep = Seq(1, 2, 4, 8).map(np => np -> recallAt(np))
    info(s"nprobe sweep: ${sweep.map { case (np, r) => s"$np:$r" }.mkString(", ")} (flat $flat)")
    // per-step trend is EMPIRICAL, not structural: with a fixed
    // candidates=100 ADC cut, probing more cells can displace a true
    // neighbor from the candidate set, so a small step-to-step dip is
    // legitimate — assert the trend within a tolerance, not strictly
    // (measured on this fixture: 0.356/0.464/0.656/0.792, no dips)
    val StepTol = 0.05
    sweep.sliding(2).foreach { case Seq((npA, rA), (npB, rB)) =>
      assert(rB >= rA - StepTol,
        s"recall fell raising nprobe $npA->$npB beyond tolerance: $rA -> $rB")
    }
    // the nprobe = nlist endpoint IS structural: every cell probed means
    // the ADC funnel sees the whole corpus — identical to flat PQ
    assert(sweep.last._2 === flat,
      s"nprobe=nlist did not equal flat-PQ recall: ${sweep.last._2} vs $flat")
  }

  test("PQ ANN is id-space invariant (codebook seeds by order statistic, " +
    "not by literal id filter)") {
    // an offset id space must yield the SAME neighbor structure shifted —
    // the regression this pins: an `id < ksub` seed filter finds zero
    // seeds at offset 1000 and throws, while seedCentroids' order-
    // statistic rule is invariant
    val base = Similarity.pqKnn(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 5, candidates = 50, m = 16, ksub = 8,
        dim = 64)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1000L)
    val off = Similarity.pqKnn(shifted.filter(col("vec_id") < 1005), shifted,
        "vec_id", "embedding", k = 5, candidates = 50, m = 16, ksub = 8,
        dim = 64)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0) - 1000L, r.getLong(1) - 1000L, r.getInt(2)))
      .toSet
    assert(base === off)
  }

  test("SQ8 k-NN recall vs exact L2 (8-bit codes must be near-lossless)") {
    // the q198 oracle gates determinism; this gates QUALITY — per-dim
    // 8-bit quantization keeps ~8 significant bits per component, so the
    // code-distance candidate stage should rarely evict a true top-5
    // neighbor before the exact rerank. Measured 1.00 on this fixture;
    // the floor leaves slack for fixture reshuffles.
    val queries = emb.filter(col("vec_id") < 10)
    val sq = Similarity.sq8Knn(queries, emb, "vec_id", "embedding",
        k = 5, candidates = 100, dim = 64)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.exactL2Knn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@5 collapsed: $recall")
  }

  test("IVF-RADC: residual encoding matches or beats raw-vector ADC " +
    "recall at identical code size") {
    // the q223 oracle gates determinism; this gates the POINT of
    // residual encoding (Jégou et al. 2011 §IV): codebooks that only
    // cover within-cell spread quantize finer at the same m·ksub budget,
    // so ADC candidate quality — hence recall after the exact rerank —
    // must not drop vs the raw route, and usually rises.
    val queries = emb.filter(col("vec_id") < 10)
    def recallOf(f: => org.apache.spark.sql.DataFrame): Double = {
      val got = f.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.exactL2Knn(queries, emb, "vec_id",
          "embedding", 5)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & exact).size.toDouble / exact.size
    }
    val raw = recallOf(Similarity.ivfAdcKnn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 50, nlist = 8, nprobe = 2,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2))
    val res = recallOf(Similarity.ivfRadcKnn(queries, emb, "vec_id",
      "embedding", k = 5, candidates = 50, nlist = 8, nprobe = 2,
      trainRounds = 2, m = 16, ksub = 8, dim = 64, pqTrainRounds = 2))
    assert(res >= raw - 1e-9, s"residual ADC recall $res < raw $raw")
    assert(res >= 0.5, s"residual ADC recall collapsed: $res")
  }

  test("matryoshka prefix candidates beat random candidate selection") {
    // the q206 oracle gates determinism; this gates QUALITY — with 100
    // candidates from 1/4 of the dims, the exact rerank should recover
    // well above the ~100/500 random-candidate baseline. Measured 0.72
    // on this fixture (synthetic embeddings carry no MRL prefix
    // structure, so this is the adversarial case for prefix routing —
    // floor 0.3 still separates it from random's ~0.2).
    val queries = emb.filter(col("vec_id") < 10)
    val mat = Similarity.matryoshkaKnn(queries, emb, "vec_id", "embedding",
        k = 5, candidates = 100, prefixDim = 16)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.exactL2Knn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (mat & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"matryoshka recall@5 collapsed: $recall")
  }

  test("MIPS: IVF-routed inner-product serve recalls the exact-IP gold " +
    "and IP order differs from L2 order") {
    val queries = emb.filter(col("vec_id") < 10)
    val gold = Similarity.exactIpKnn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = Similarity.ivfIpKnn(queries, emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 2, trainRounds = 2)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (served & gold).size.toDouble / gold.size
    assert(recall >= 0.5, s"MIPS IVF recall@5 collapsed: $recall")
    // MIPS is its own metric — but the synthetic fixture is near-constant
    // norm, so IP and L2 orders coincide on it. Plant norm skew (double a
    // slice of the corpus: direction unchanged, norm doubled): under IP
    // the scaled vectors jump INTO the top-k, under L2 they move away —
    // the metrics must now disagree, or the metric flag is decoration.
    val skewed = emb.withColumn("embedding",
      when(col("vec_id") >= 450,
        transform(col("embedding"), x => x * lit(2.0f)))
        .otherwise(col("embedding")))
    val goldSk = Similarity.exactIpKnn(queries, skewed, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val l2Sk = Similarity.exactL2Knn(queries, skewed, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(goldSk != l2Sk,
      "exact-IP and exact-L2 top-5 coincide under planted norm skew")
  }

  test("NSW graph ANN: beam search recalls at least the IVF route at " +
    "equal candidate budget") {
    import graft.operators.GraphAnn
    val queries = emb.filter(col("vec_id") < 10)
    val gold = Similarity.exactL2Knn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the q226 operating point: measured 190 distinct visited candidates
    // per query (probe: run with k=1e6 so the output IS the visited pool)
    val g = GraphAnn.nswGraphResult(emb, "vec_id", "embedding",
      m = 16, planes = 3, dim = 64, refineRounds = 1)
    val nsw = g.query(queries, k = 5, beamWidth = 8, searchRounds = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    g.release()
    // IVF at nprobe=3 of nlist=8 scans ~3n/8 ≈ 187 candidates — the same
    // budget as the beam's measured visited pool
    val ivf = Similarity.ivfKnn(queries, emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3, trainRounds = 2)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rNsw = (nsw & gold).size.toDouble / gold.size
    val rIvf = (ivf & gold).size.toDouble / gold.size
    assert(rNsw >= rIvf,
      s"NSW recall@5 $rNsw below the IVF route's $rIvf at equal budget")
    assert(rNsw >= 0.5, s"NSW recall@5 collapsed: $rNsw")
  }

  test("NSW filtered search: allow-list constrains the beam, recall holds " +
    "vs exact gold over the allowed set under a 20% predicate") {
    import graft.operators.GraphAnn
    val queries = emb.filter(col("vec_id") < 10)
    val allowed = emb.filter(col("vec_id") % 5 === 1)
    val gold = Similarity.exactL2Knn(queries, allowed, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = GraphAnn.nswGraphResult(emb, "vec_id", "embedding",
      m = 16, planes = 3, dim = 64, refineRounds = 1)
    val got = g.queryFiltered(queries, allowed.select("vec_id"), k = 5,
        beamWidth = 8, searchRounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the contract: nothing disallowed is ever returned
    got.foreach { case (_, nid) =>
      assert(nid % 5 === 1L, s"disallowed id $nid returned") }
    val rFiltered = (got.toSet & gold).size.toDouble / gold.size
    // the gap the filtered walk exists to close: post-filtering the
    // UNFILTERED top-k starves recall (≈1 allowed row in a k=5 cut
    // under a 20% predicate)
    val post = g.query(queries, k = 5, beamWidth = 8, searchRounds = 3)
    val rPost = (post.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 % 5 == 1L).toSet & gold).size.toDouble / gold.size
    g.release()
    info(s"filtered-walk recall@5 = $rFiltered, post-filter recall = $rPost")
    assert(rFiltered > rPost,
      s"filtered walk $rFiltered not above post-filter $rPost")
    // ABSOLUTE floor, calibrated on the fixture (measured 1.0; the
    // unfiltered NSW test's style): the relative beat alone is
    // tautology-adjacent — post-filter recall is ~0.18 under the 20%
    // predicate, so a collapsed filtered walk could still "win"
    assert(rFiltered >= 0.8, s"filtered-walk recall collapsed: $rFiltered")
  }

  test("NSW filtered search fails loudly when the allow-list shares no " +
    "ids with the corpus") {
    import graft.operators.GraphAnn
    val g = GraphAnn.nswGraphResult(emb, "vec_id", "embedding",
      m = 16, planes = 3, dim = 64, refineRounds = 0)
    val disjoint = emb.select((col("vec_id") + 1000000L).as("vec_id"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val ex = intercept[IllegalArgumentException] {
      g.queryFiltered(emb.filter(col("vec_id") < 3), disjoint, k = 5,
        beamWidth = 8, searchRounds = 2)
    }
    // the designed failure must not leak its persisted corpus frame
    // (round-13 advice): cached-RDD census back to the pre-call level
    assert(spark.sparkContext.getPersistentRDDs.size === cachedBefore,
      "designed failure leaked a persisted frame")
    g.release()
    assert(ex.getMessage.contains("allow-list"),
      s"wrong failure for a disjoint allow-list: ${ex.getMessage}")
  }

  test("SQ8 MIPS: the norm-augmented funnel recalls the exact-IP gold") {
    import graft.operators.Similarity
    val queries = emb.filter(col("vec_id") < 10)
    val served = SparkEntry.queries("q263_sq8_mips")(spark, Sf)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ipGold = Similarity.exactIpKnn(queries, emb, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = served.intersect(ipGold).size.toDouble / ipGold.size
    info(s"SQ8-MIPS recall@5 vs exact-IP gold = $recall")
    assert(recall >= 0.8, s"SQ8-MIPS recall collapsed: $recall")
  }

  test("matryoshka MIPS: the norm-augmented prefix funnel recalls the " +
    "exact-IP gold") {
    import graft.operators.Similarity
    val queries = emb.filter(col("vec_id") < 10)
    val served = SparkEntry.queries("q264_matryoshka_mips")(spark, Sf)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ipGold = Similarity.exactIpKnn(queries, emb, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = served.intersect(ipGold).size.toDouble / ipGold.size
    info(s"matryoshka-MIPS recall@5 vs exact-IP gold = $recall")
    assert(recall >= 0.8, s"matryoshka-MIPS recall collapsed: $recall")
  }

  test("NSW MIPS: the norm-augmented beam serve recalls the exact-IP " +
    "gold, and the IP gold differs from the L2 gold") {
    import graft.operators.Similarity
    val queries = emb.filter(col("vec_id") < 10)
    val served = SparkEntry.queries("q249_nsw_mips")(spark, Sf)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ipGold = Similarity.exactIpKnn(queries, emb, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = served.intersect(ipGold).size.toDouble / ipGold.size
    info(s"NSW-MIPS recall@5 vs exact-IP gold = $recall")
    assert(recall >= 0.8, s"NSW-MIPS recall collapsed: $recall")
    // MIPS is its own metric — but the synthetic fixture is
    // near-constant norm, so IP and L2 orders coincide on it. Plant
    // norm skew (the q227 spec's construction: double a corpus slice —
    // direction unchanged, norm doubled) and the two golds must
    // disagree, or the metric distinction is decoration.
    val skewed = emb.withColumn("embedding",
      when(col("vec_id") >= 450,
        transform(col("embedding"), x => x * lit(2.0f)))
        .otherwise(col("embedding")))
    val ipSk = Similarity.exactIpKnn(queries, skewed, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val l2Sk = Similarity.exactL2Knn(queries, skewed, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ipSk != l2Sk, "norm skew must separate the IP and L2 orders")
  }

  test("NSW stats: degree histogram, reciprocity and component count " +
    "discriminate on a planted two-component graph") {
    import graft.operators.{GraphAnn, NswGraph}
    import spark.implicits._
    // component A: a fully reciprocal triangle (out-degree 2 each);
    // component B: a directed 3-cycle (undirected-connected, zero
    // reciprocal edges, out-degree 1 each) — built as an artifact so
    // the test drives the same load path production stats would
    val dir = java.nio.file.Files.createTempDirectory("graft-nswstats")
    dir.toFile.deleteOnExit()
    Seq((1L, 2L, 5L), (2L, 1L, 5L), (1L, 3L, 7L), (3L, 1L, 7L),
        (2L, 3L, 9L), (3L, 2L, 9L),
        (10L, 11L, 4L), (11L, 12L, 6L), (12L, 10L, 8L))
      .toDF("src", "dst", "d2")
      .write.mode("overwrite").parquet(s"$dir/edges")
    Seq((2, 9L)).toDF("version", "n_edges")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    // the planted graph is not built over a corpus: an empty binding
    def load(path: String) = NswGraph.load(spark, path, emb.limit(0),
      "vec_id", "embedding", m = 16, dim = 64)
    val g = load(dir.toString)
    val rows = GraphAnn.nswStats(g).orderBy("out_degree").collect()
    g.release()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 3L), (2L, 3L)), "degree histogram")
    val r0 = rows.head
    assert(r0.getLong(2) === 9L, "n_edges")
    assert(r0.getLong(3) === 6L, "reciprocal_edges")
    assert(r0.getLong(4) === 666666L, "reciprocity_ppm (truncating)")
    assert(r0.getLong(5) === 2L, "n_components")
    // empty graph: fail loudly, never a silent zero-row stats frame
    Seq.empty[(Long, Long, Long)].toDF("src", "dst", "d2")
      .write.mode("overwrite").parquet(s"$dir/empty/edges")
    Seq((2, 0L)).toDF("version", "n_edges")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/empty/params")
    val ge = load(s"$dir/empty")
    val ex = intercept[IllegalArgumentException] { GraphAnn.nswStats(ge) }
    ge.release()
    assert(ex.getMessage.contains("empty graph"))
  }

  test("NSW compact: edge set identical, every src colocated in one " +
    "partition, compacted storage independent of the source handle") {
    import graft.operators.GraphAnn
    val g = GraphAnn.nswGraphResult(emb, "vec_id", "embedding",
      m = 8, planes = 3, dim = 64, refineRounds = 1)
    val compacted = g.compact()
    // pure storage reorganization: the edge SET is untouched
    assert(compacted.edges.exceptAll(g.edges).count() === 0L)
    assert(g.edges.exceptAll(compacted.edges).count() === 0L)
    val n = g.edges.count()
    g.release() // independence: compacted must keep serving
    assert(compacted.edges.count() === n)
    // colocation: after the src shuffle no node's out-edge list spans
    // partitions (the LSM-merge property the compaction exists for)
    val spread = compacted.edges
      .withColumn("p", org.apache.spark.sql.functions.spark_partition_id())
      .groupBy("src")
      .agg(countDistinct("p").as("np"))
      .agg(max("np")).head.getLong(0)
    compacted.release()
    assert(spread === 1L, s"some src spans $spread partitions")
  }

  test("NSW handle serves multiple query batches without rebuilding, " +
    "batch-composition-independent") {
    import graft.operators.GraphAnn
    val g = GraphAnn.nswGraphResult(emb, "vec_id", "embedding",
      m = 16, planes = 3, dim = 64, refineRounds = 1)
    val b1 = g.query(emb.filter(col("vec_id") < 5), k = 5, beamWidth = 8,
      searchRounds = 3)
    val b2 = g.query(emb.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      k = 5, beamWidth = 8, searchRounds = 3)
    val both = (b1.collect() ++ b2.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    g.release()
    val fresh = GraphAnn.nswGraphResult(emb, "vec_id", "embedding",
      m = 16, planes = 3, dim = 64, refineRounds = 1)
    val oneShot = fresh.query(emb.filter(col("vec_id") < 10), k = 5,
        beamWidth = 8, searchRounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    fresh.release()
    assert(both === oneShot,
      "batched serving from one handle differs from the one-shot search")
  }

  test("NSW append: the appended graph's recall tracks the full rebuild") {
    import graft.operators.GraphAnn
    val queries = emb.filter(col("vec_id") < 10)
    val gold = Similarity.exactL2Knn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val g = GraphAnn.nswGraphResult(base, "vec_id", "embedding",
      m = 16, planes = Similarity.adaptivePlanes(400, 64), dim = 64,
      refineRounds = 1)
    val appended = g.append(delta)
    g.release()
    val app = appended.query(queries, k = 5, beamWidth = 8, searchRounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    appended.release()
    val full = nswBuild(emb)
    val rebuilt = full.query(queries, k = 5, beamWidth = 8, searchRounds = 3)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    full.release()
    val rApp = (app & gold).size.toDouble / gold.size
    val rReb = (rebuilt & gold).size.toDouble / gold.size
    // the insert path's edges come from a bounded search + an unrefined
    // delta seed, so some recall give-up vs the rebuild is expected —
    // but it must stay in the same serving class, not collapse
    assert(rApp >= rReb - 0.15,
      s"appended recall $rApp collapsed vs rebuilt $rReb")
    assert(rApp >= 0.5, s"appended recall floor broken: $rApp")
  }

  test("NSW maintenance: a tripped canary rebuilds and serves the rebuilt graph") {
    import graft.operators.{AnnMaintenance, NswGraph}
    // the q234 oracle gates the pass branch; this gates the DECISION —
    // minRecallPct=100 must trip (appended recall < 1.0 on this fixture)
    // and the served rows must equal the full rebuild's serve
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val queries = emb.filter(col("vec_id") < 10)
    def serve(g: NswGraph, q: org.apache.spark.sql.DataFrame) =
      g.query(q, k = 5, beamWidth = 8, searchRounds = 3).collect()
    def maintain(qs: org.apache.spark.sql.DataFrame) =
      AnnMaintenance.appendServeWithCanary(base, delta, qs, "vec_id",
        "embedding", k = 5, minRecallPct = 100)(nswBuild, serve)
    val rows = maintain(queries).collect()
    assert(rows.nonEmpty && rows.forall(_.getBoolean(5)),
      "minRecallPct=100 did not trip the canary")
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val full = nswBuild(emb)
    val rebuilt = serve(full, queries)
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    full.release()
    assert(got === rebuilt, "tripped-canary serve differs from the full rebuild")
    // an empty query sample has no gold to judge recall by: refused,
    // with every graph the loop built released
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      maintain(emb.filter(col("vec_id") < 0))
    }
    assert(ex.getMessage.contains("empty exact-gold"), ex.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet === persistedBefore)
  }

  test("MIPS ADC serving: the persisted artifact is metric-free — a loaded " +
    "index serves IP identically to the in-memory handle, with gold recall") {
    import graft.operators.IvfAdcIndex
    val queries = emb.filter(col("vec_id") < 10)
    val idx = IvfAdcIndex.build(emb, "vec_id", "embedding",
      nlist = 8, trainRounds = 2, m = 16, ksub = 8, dim = 64,
      pqTrainRounds = 2)
    val served = idx.queryIp(queries, k = 5, candidates = 50, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val dir = java.nio.file.Files.createTempDirectory("mips-artifact").toString
    idx.save(dir)
    idx.release()
    val loaded = IvfAdcIndex.load(spark, dir, emb)
    val reServed = loaded.queryIp(queries, k = 5, candidates = 50, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    loaded.release()
    assert(served.toSeq === reServed.toSeq,
      "IP serving differs across the save/load round-trip")
    val gold = Similarity.exactIpKnn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = served.count(t => gold.contains((t._1, t._2)))
    assert(hits.toDouble / gold.size >= 0.5,
      s"MIPS ADC recall collapsed: ${hits.toDouble / gold.size}")
  }

  test("norm-drift χ²: in-distribution delta stays quiet, planted scale " +
    "drift trips the verdict") {
    // the q210 oracle gates determinism; this gates the DECISION —
    // a monitor that never fires (or always fires) would still hash
    val base = emb.filter(col("vec_id") < 400)
    val inDist = emb.filter(col("vec_id") >= 400)
    val quiet = Similarity.normDriftChi2(base, inDist, "vec_id", "embedding")
      .select("drifted", "chi2_total_ppm").head()
    assert(!quiet.getBoolean(0),
      s"in-distribution delta flagged drifted (chi2=${quiet.getLong(1)} ppm)")
    // planted drift: scale every component 1.5x — norms shift one-sided,
    // the decile histogram collapses into the top bucket
    val drifted = inDist.withColumn("embedding",
      transform(col("embedding"), x => x * lit(1.5f)))
    val loud = Similarity.normDriftChi2(base, drifted, "vec_id", "embedding")
      .select("drifted", "chi2_total_ppm").head()
    assert(loud.getBoolean(0),
      s"planted 1.5x scale drift NOT flagged (chi2=${loud.getLong(1)} ppm)")
  }

  test("semantic dedup (SemDeDup): drop set equals the brute-force " +
    "within-cell keep-the-outlier rule, composed from public blocks") {
    // cross-check the COMPOSITION, not a replay: expected drops come from
    // kmeansAssignTrained (cells + the dist_sq keep statistic) and the
    // exact allPairsCosine — independent public building blocks — with
    // the drop rule applied driver-side on the small verified-pair set
    val minCos = 0.45
    val asg = Similarity.kmeansAssignTrained(emb, "vec_id", "embedding",
        k = 8, rounds = 2)
      .select(col("vec_id"), col("cid"), col("dist_sq")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val pairs = Similarity.allPairsCosine(emb, "vec_id", "embedding")
      .filter(col("cos") >= minCos).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedDrops = pairs.flatMap { case (a, b) =>
      val (ca, da) = asg(a); val (cb, db) = asg(b)
      if (ca != cb) None // cross-cell pairs are invisible to the router
      else if (da < db) Some(a)
      else if (db < da) Some(b)
      else Some(math.max(a, b))
    }.toSet
    assert(expectedDrops.nonEmpty,
      "fixture has no within-cell eps-pairs at 0.45 — the gate is vacuous")
    val kept = Similarity.semanticDedupKeepList(emb, "vec_id", "embedding",
        minCosine = minCos, k = 8)
      .collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- expectedDrops,
      s"keep list diverges from the brute-force rule: " +
        s"extra=${(kept -- (all -- expectedDrops)).take(5)} " +
        s"missing=${((all -- expectedDrops) -- kept).take(5)}")
    // keep-the-outlier direction: at least one verified pair must have
    // its FARTHER-from-centroid member kept (the rule's whole point —
    // a min-id rule would get this backwards about half the time)
    val outlierKept = pairs.exists { case (a, b) =>
      val (ca, da) = asg(a); val (cb, db) = asg(b)
      ca == cb && da != db &&
        kept.contains(if (da > db) a else b) &&
        !kept.contains(if (da > db) b else a)
    }
    assert(outlierKept, "no pair kept its farther-from-centroid member")
  }

  test("semantic dedup adaptive == fixed k when adaptiveNlist lands on 8 " +
    "(500-vector fixture), and the router is occupancy-scaled") {
    assert(Similarity.adaptiveNlist(emb.count(), 64) === 8,
      "fixture grew past 512 vectors — pick a new equivalence point")
    val fixed = Similarity.semanticDedupKeepList(emb, "vec_id", "embedding",
        minCosine = 0.45, k = 8)
      .collect().map(_.getLong(0)).toSet
    val kl = Similarity.semanticDedupResultAdaptive(emb, "vec_id",
      "embedding", minCosine = 0.45)
    val adaptive = kl.keep.collect().map(_.getLong(0)).toSet
    kl.release()
    assert(adaptive === fixed,
      "adaptive keep list diverges from fixed-k at the same cell count")
    // the sizing rule itself scales: 100x the corpus -> 128x the cells
    assert(Similarity.adaptiveNlist(50000, 64) === 1024)
  }

  test("delta semantic dedup: a re-crawled base clone always drops " +
    "(shipped corpus wins), and a planted clone never changes the " +
    "natural delta's verdicts") {
    val base = emb.filter(col("vec_id") < 400)
    val natural = emb.filter(col("vec_id") >= 400)
    // an exact clone of base vector 0, re-identified as a new arrival —
    // the re-crawl case: rule (a) must drop it (cos = 1.0, same cell as
    // its source by construction)
    val clone = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(1000L))
    val kNat = Similarity.semanticDedupDeltaResult(base, natural,
      "vec_id", "embedding", minCosine = 0.45, k = 8)
    val keptNat = kNat.keep.collect().map(_.getLong(0)).toSet
    kNat.release()
    val kAug = Similarity.semanticDedupDeltaResult(base,
      natural.unionByName(clone), "vec_id", "embedding",
      minCosine = 0.45, k = 8)
    val keptAug = kAug.keep.collect().map(_.getLong(0)).toSet
    kAug.release()
    assert(!keptAug.contains(1000L), "base clone survived the delta dedup")
    // independence: any natural vector the clone could pair with is
    // eps-close to BASE vector 0 in the same cell, so rule (a) already
    // decided it — the clone adds no new information about the naturals
    assert(keptAug === keptNat,
      "planted clone changed natural delta verdicts: " +
        s"diff=${(keptAug diff keptNat) ++ (keptNat diff keptAug)}")
    // non-vacuous: the natural delta must both keep and drop something
    val naturalIds = natural.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(keptNat.nonEmpty && keptNat.size < naturalIds.size,
      s"vacuous fixture: kept ${keptNat.size} of ${naturalIds.size}")
  }

  test("sampled-training semantic dedup: the drop rule is exact under " +
    "the sampled router's own cells, and sampling only moves centroids") {
    // expected drops re-derived from public blocks GIVEN the sampled
    // router's cells — proves sampling changes where centroids land,
    // never how the rule decides
    val minCos = 0.45
    val sample = emb.filter(
      graft.operators.Sampling.hashBucket(col("vec_id"), 4) < 1)
    assert(sample.count() > 8, "md5 sample too small to seed 8 centroids")
    val cent = Similarity.kmeansTrain(sample, "vec_id", "embedding",
      k = 8, rounds = 2)
    val asg = Similarity.semanticCells(emb, "vec_id", "embedding",
        cent, k = 8)
      .select(col("vec_id"), col("cid"), col("dist_sq")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val pairs = Similarity.allPairsCosine(emb, "vec_id", "embedding")
      .filter(col("cos") >= minCos).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectedDrops = pairs.flatMap { case (a, b) =>
      val (ca, da) = asg(a); val (cb, db) = asg(b)
      if (ca != cb) None
      else if (da < db) Some(a)
      else if (db < da) Some(b)
      else Some(math.max(a, b))
    }.toSet
    val kl = Similarity.semanticDedupSampledResult(emb, "vec_id",
      "embedding", minCosine = minCos, k = 8)
    val kept = kl.keep.collect().map(_.getLong(0)).toSet
    kl.release()
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- expectedDrops,
      "sampled-router keep list diverges from the rule over its own cells")
    assert(expectedDrops.nonEmpty, "sampled router found no dups — vacuous")
  }

  test("semantic dedup stats: totals reconcile with the dedup itself " +
    "(members partition the corpus, drops sum to the keep-list gap)") {
    val stats = Similarity.semanticDedupStats(emb, "vec_id", "embedding",
        minCosine = 0.45, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val n = emb.count()
    assert(stats.map(_._2).sum === n,
      "per-cell members do not partition the corpus")
    val kept = Similarity.semanticDedupKeepList(emb, "vec_id",
      "embedding", minCosine = 0.45, k = 8).count()
    // losers live in exactly one cell (both pair members share it), so
    // per-cell distinct drops sum to the global drop count
    assert(stats.map(_._4).sum === n - kept,
      s"drop totals diverge: stats=${stats.map(_._4).sum} global=${n - kept}")
    assert(stats.forall { case (_, m, p, dr) => dr <= p && dr < m || (dr == 0) },
      "a cell reports more drops than pairs or members")
  }

  test("streaming semantic dedup: reversed arrival order and a replayed " +
    "micro-batch both drain to the batch result (idempotent ingest)") {
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val batchKl = Similarity.semanticDedupDeltaResult(base, delta,
      "vec_id", "embedding", minCosine = 0.45, k = 8)
    val want = batchKl.keep.collect().map(_.getLong(0)).toSet
    batchKl.release()
    val cent = Similarity.kmeansTrain(base, "vec_id", "embedding",
      k = 8, rounds = 2)
    val cb = Similarity.semanticCells(base, "vec_id", "embedding",
      cent, k = 8).persist()
    cb.count()
    def drain(schedule: Seq[org.apache.spark.sql.DataFrame]): Set[Long] = {
      val stage =
        java.nio.file.Files.createTempDirectory("graft-semstream-t")
      stage.toFile.deleteOnExit()
      schedule.zipWithIndex.foreach { case (b, i) =>
        b.coalesce(1).write.parquet(s"$stage/b$i")
      }
      val accum =
        java.nio.file.Files.createTempDirectory("graft-semaccum-t")
      accum.toFile.deleteOnExit()
      val stream = spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$stage/b*")
      val query = stream.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            val cdB = Similarity.semanticCells(batch.toDF(), "vec_id",
              "embedding", cent, k = 8)
            val flagged = Similarity
              .semanticDropVsBase(cdB, cb, "vec_id", 0.45)
              .withColumn("drop_a", lit(true))
            cdB.join(flagged, Seq("vec_id"), "left")
              .na.fill(false, Seq("drop_a"))
              .write.mode("append").parquet(s"$accum/cells")
            ()
        }
        .start()
      try query.processAllAvailable() finally query.stop()
      val acc = spark.read.parquet(s"$accum/cells")
        .dropDuplicates("vec_id")
      val kl = Similarity.semanticDeltaTail(acc,
        acc.filter(col("drop_a")).select("vec_id"), "vec_id", 0.45)
      val got = kl.keep.collect().map(_.getLong(0)).toSet
      kl.release()
      got
    }
    val lo = delta.filter(col("vec_id") < 430)
    val mid = delta.filter(col("vec_id") >= 430 && col("vec_id") < 460)
    val hi = delta.filter(col("vec_id") >= 460)
    assert(drain(Seq(hi, mid, lo)) === want,
      "reversed arrival schedule diverged from the batch result")
    assert(drain(Seq(lo, mid, lo, hi)) === want,
      "a replayed micro-batch changed the drained result")
    cb.unpersist()
  }

  test("semantic contamination: planted train clone flagged, report " +
    "covers every eval row with zeros included") {
    val train = emb.filter(col("vec_id") < 400)
    val evalNat = emb.filter(col("vec_id") >= 400)
    val clone = emb.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(2000L))
    val rep = Similarity.semanticContamination(train,
        evalNat.unionByName(clone), "vec_id", "embedding",
        minCosine = 0.45, k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(rep.size === evalNat.count().toInt + 1,
      "report does not cover every eval row")
    val (nClone, vClone) = rep(2000L)
    assert(vClone && nClone >= 1L,
      s"planted train clone not flagged (n=$nClone)")
    assert(rep.exists { case (_, (n, v)) => !v && n === 0L },
      "no clean eval rows at all — threshold degenerate on this fixture")
  }

  test("q289 outlier report: a planted off-distribution vector spikes its " +
    "cell's max-ratio and trips the outlier count") {
    import spark.implicits._
    // 64-dim concentration keeps NATURAL cells near ratio 1000 with
    // zero outliers (the q289 gate hashes exactly that shape); a vector
    // ~3× the natural norm must land SOMEWHERE, and wherever it lands
    // its cell's worst-member ratio spikes and the 2×-mean flag trips —
    // the operator's defining property, unreachable from the natural
    // fixture alone. (NOT a huge plant: a 30× vector drags its cell's
    // centroid onto itself in the M-step and ends a singleton at
    // distance 0 — k-means chases extreme outliers; 3× is far enough
    // to flag, close enough that one vector among ~60 barely moves
    // the mean.)
    val base = Similarity.semanticOutliers(emb, "vec_id", "embedding", k = 8)
      .collect()
    assert(base.forall(_.getAs[Long]("max_ratio_milli") < 1200), base.toSeq)
    assert(base.map(_.getAs[Long]("n_outliers")).sum === 0L, base.toSeq)
    val far = Seq((3000L, Array.fill(64)(0.35f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticOutliers(
        emb.select("vec_id", "embedding").unionByName(far),
        "vec_id", "embedding", k = 8)
      .collect()
    assert(out.exists(r => r.getAs[Long]("max_ratio_milli") > 2000 &&
      r.getAs[Long]("n_outliers") >= 1L),
      s"planted far vector not flagged: ${out.toSeq}")
  }

  test("q287: the component-keyed split never separates a verified " +
    "semantic pair") {
    val pl = Similarity.semanticPairLabels(emb, "vec_id", "embedding",
      minCosine = 0.45, k = 8)
    assert(pl.count() > 0, "fixture must contain semantic pairs")
    assert(pl.filter(col("comp_a") =!= col("comp_b")).count() === 0L)
    def sl(c: String) = graft.operators.Sampling.splitLabel(col(c), 1)
    assert(pl.filter(sl("comp_a") =!= sl("comp_b")).count() === 0L)
  }

  /** Exact d2 top-k INCLUDING self — the q295 MMR anchors (the NN via
    * rank-2, the plain top-5 via ranks 2..6). */
  private def exactD2TopK(queries: org.apache.spark.sql.DataFrame,
      k: Int): Set[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val qp = Similarity.prepared(queries, "vec_id", "embedding")
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nsq").as("qnsq"))
    val cp = Similarity.prepared(emb, "vec_id", "embedding")
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("nid"))
    qp.join(cp)
      .select(col("qid"), col("vec_id").as("nid"),
        (col("qnsq") + col("nsq") -
          lit(2L) * VectorFunctions.dot(col("qq"), col("q")))
          .cast("long").as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("q294 binary-hamming ANN: recall floor vs exact (1-bit routing " +
    "can be deterministic-but-wrong — the hash gate can't see quality)") {
    val queries = emb.filter(col("vec_id") < 10)
    val bin = Similarity.binaryHammingKnn(queries, emb, "vec_id",
        "embedding", k = 5, candidates = 100)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.exactL2Knn(queries, emb, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bin & exact).size.toDouble / exact.size
    info(s"binary-hamming recall@5 vs exact-L2 gold = $recall")
    // measured 0.70 with 1-flip multiprobe on this fixture (0.36
    // exact-band-only); floor leaves slack
    assert(recall >= 0.5, s"binary-hamming recall@5 collapsed: $recall")
  }

  test("q306 λ sweep: λ=0 degenerates to ranked top-5 and per-query " +
    "pick spread is monotone non-decreasing in λ (the knob provably " +
    "reaches the selection rule)") {
    val queries = emb.filter(col("vec_id") < 10)
    val out = SparkEntry.queries("q306_mmr_lambda_sweep")(spark, Sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val p = Similarity.prepared(emb, "vec_id", "embedding")
      .select(col("vec_id"), col("q")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def picks(l: Int, q: Long): Seq[Long] =
      out.filter(r => r._1 == l && r._2 == q).sortBy(_._4).map(_._3).toSeq
    def minPair(ids: Seq[Long]): Long =
      (for (i <- ids.indices; j <- i + 1 until ids.size) yield {
        val (a, b) = (p(ids(i)), p(ids(j)))
        a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum
      }).min
    // λ=0 (pure relevance) = the exact top-5 in rank order
    val gold = Similarity.exactL2Knn(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    var sums = (0L, 0L, 0L)
    for (q <- 0L until 10L) {
      val l0 = picks(0, q)
      assert(l0 === (1 to 5).map(s => gold((q, s))),
        s"λ=0 for query $q is not the ranked top-5: $l0")
      val (a, b, c) = (minPair(l0), minPair(picks(50, q)),
        minPair(picks(100, q)))
      // per query: any diversity weight beats pure relevance. λ=1 vs
      // λ=1/2 is NOT pointwise-monotone (greedy MMR maximizes marginal
      // score, not the min pairwise distance — measured one inversion
      // at sf0.001), so the 50→100 step is pinned in aggregate below.
      assert(a <= b && a <= c,
        s"diversity weight did not spread query $q: $a / $b / $c")
      sums = (sums._1 + a, sums._2 + b, sums._3 + c)
    }
    assert(sums._1 <= sums._2 && sums._2 <= sums._3,
      s"aggregate spread not monotone in λ: $sums")
  }

  test("binary MIPS: the norm-augmented hamming funnel recalls the " +
    "exact-IP gold (1-bit words carry no norm at all — the rerank does " +
    "all the metric work, so this floor is the one that catches a " +
    "broken augmentation)") {
    val queries = emb.filter(col("vec_id") < 10)
    val served = SparkEntry.queries("q302_binary_mips")(spark, Sf)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ipGold = Similarity.exactIpKnn(queries, emb, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = served.intersect(ipGold).size.toDouble / ipGold.size
    info(s"binary-MIPS recall@5 vs exact-IP gold = $recall")
    // measured 0.68 on this fixture — lower than SQ8's 0.8+ because
    // sign bits quantize direction only; floor leaves slack
    assert(recall >= 0.5, s"binary-MIPS recall collapsed: $recall")
  }

  test("q295 MMR: step 1 is the nearest neighbor and the 5 picks are " +
    "STRICTLY more spread than plain top-5 on every fixture query " +
    "(diversification must actually diversify)") {
    val queries = emb.filter(col("vec_id") < 10)
    val mmr = Similarity.mmrRerank(queries, emb, "vec_id", "embedding",
      k = 5, candidates = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(mmr.length === 50, s"expected 10×5 picks, got ${mmr.length}")
    // per query: 5 distinct picks
    mmr.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).distinct.length === 5, s"dup pick for $q")
    }
    // step 1 = most relevant (exact NN excluding self — MMR's anchor)
    val nn = exactD2TopK(queries, 2).groupBy(_._1)
    val p = Similarity.prepared(emb, "vec_id", "embedding")
      .select(col("vec_id"), col("q")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    mmr.filter(_._3 == 1).foreach { case (q, nid, _) =>
      val exp = nn(q).map(_._2).filter(_ != q)
      assert(exp.contains(nid), s"step-1 pick $nid for $q not the NN $exp")
    }
    def minPairD2(ids: Seq[Long]): Long =
      (for (i <- ids.indices; j <- i + 1 until ids.size) yield {
        val (a, b) = (p(ids(i)), p(ids(j)))
        a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum
      }).min
    val plain = exactD2TopK(queries, 6) // self + 5 real neighbors
    mmr.groupBy(_._1).foreach { case (q, rows) =>
      val mmrMin = minPairD2(rows.map(_._2).toSeq)
      val plainMin = minPairD2(
        plain.filter(t => t._1 == q && t._2 != q).map(_._2).toSeq)
      assert(mmrMin > plainMin,
        s"MMR picks for $q not more spread: $mmrMin <= $plainMin")
    }
  }

  test("mmr greedy generator: picks equal an independent reference " +
    "greedy step for step, and fewer candidates than k emits one step " +
    "per candidate (round-17 single-eval rewrite of the step loop)") {
    val queries = emb.filter(col("vec_id") < 10)
    val picks = Similarity.mmrRerank(queries, emb, "vec_id", "embedding",
        k = 5, candidates = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // independent reference: exact integer d2 over the prepared
    // quantized vectors, candidates by (d2, nid), greedy by
    // (msd − d2, nid) — plain Scala, no Spark past the collect
    val cp = Similarity.prepared(emb, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val byId = cp.map(t => t._1 -> t).toMap
    def d2(a: Long, b: Long): Long = {
      val (_, qa, na) = byId(a); val (_, qb, nb) = byId(b)
      na + nb - 2L * qa.zip(qb).map { case (x, y) => x * y }.sum
    }
    for (q <- 0L until 10L) {
      val cands = cp.map(_._1).filter(_ != q).map(id => (id, d2(q, id)))
        .sortBy(t => (t._2, t._1)).take(20)
      var sel = List(cands.minBy(t => (t._2, t._1))._1)
      while (sel.size < 5) {
        val next = cands.filter(c => !sel.contains(c._1)).map {
          case (id, rd) => (id, sel.map(s => d2(id, s)).min - rd)
        }.sortBy(t => (-t._2, t._1)).head._1
        sel = sel :+ next
      }
      val got = picks.filter(_._1 == q).sortBy(_._3).map(_._2).toList
      assert(got === sel, s"greedy sequence for query $q diverged")
    }
    // short candidate set: 3 candidates, k = 5 → exactly steps 1..3
    val small = emb.filter(col("vec_id") < 4)
    val sp = Similarity.mmrRerank(small.filter(col("vec_id") === 0),
        small, "vec_id", "embedding", k = 5, candidates = 5).collect()
    assert(sp.map(_.getInt(2)).sorted === Array(1, 2, 3),
      "3-candidate query must emit exactly steps 1..3")
  }
}
