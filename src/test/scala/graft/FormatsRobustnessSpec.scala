package graft

import graft.osm.{OsmCsv, OsmIngest, OsmModel}
import graft.sources.Tuning
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink breadth beyond parquet+CSV+XML (ORC, JSON round-trips),
  * malformed-input behavior, and sizing helpers. */
class FormatsRobustnessSpec extends SparkTestBase {

  test("ORC and JSON sinks round-trip the lineitem slice losslessly") {
    val dir = Files.createTempDirectory("graft-fmt"); dir.toFile.deleteOnExit()
    val li = Tables.t(spark, Sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      .filter(col("l_orderkey") <= 100)
    li.write.orc(s"$dir/orc")
    li.write.json(s"$dir/json")
    val orc = spark.read.orc(s"$dir/orc")
    val json = spark.read.schema(li.schema).json(s"$dir/json")
    val ref = li.orderBy("l_orderkey", "l_linenumber").collect().toSeq
    assert(orc.orderBy("l_orderkey", "l_linenumber").collect().toSeq === ref)
    assert(json.orderBy("l_orderkey", "l_linenumber").collect().toSeq === ref)
  }

  test("malformed XML elements degrade to nulls, not job failure") {
    val dir = Files.createTempDirectory("graft-bad"); dir.toFile.deleteOnExit()
    val f = dir.resolve("bad.osm")
    Files.write(f,
      """<osm>
        |<node id="1" lat="52.1" lon="4.1" user="u" uid="1" version="1" changeset="1" timestamp="2016-01-01T00:00:00Z"/>
        |<node id="notanumber" lat="bad" lon="4.2" user="u" uid="2" version="1" changeset="1" timestamp="2016-01-01T00:00:00Z"/>
        |</osm>""".stripMargin.getBytes("UTF-8"))
    val nodes = OsmIngest.nodes(OsmIngest.readNodesRaw(spark, f.toString)).collect()
    assert(nodes.length === 2) // both rows survive (PERMISSIVE)
    assert(nodes.count(r => !r.isNullAt(0)) === 1) // bad id parsed as null
  }

  test("malformed CSV rows degrade to nulls under the pinned schema") {
    val dir = Files.createTempDirectory("graft-badcsv"); dir.toFile.deleteOnExit()
    Files.write(dir.resolve("ways.csv"),
      """id,user,uid,version,changeset,timestamp
        |1,alice,10,1,5,2016-01-01T00:00:00Z
        |oops,bob,x,y,z,not-a-date
        |""".stripMargin.getBytes("UTF-8"))
    val df = OsmCsv.read(spark, dir.toString, OsmModel.waysSchema)
    assert(df.count() === 2)
    assert(df.filter(col("id").isNull).count() === 1)
  }

  test("NSW artifact versioning: v1 (no n_edges) loads as legacy, torn v2 " +
    "refused, unknown version refused") {
    import graft.operators.NswGraph
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nswv"); dir.toFile.deleteOnExit()
    val edges = Seq((1L, 2L, 10L), (2L, 1L, 10L), (1L, 3L, 20L))
      .toDF("src", "dst", "d2")
    // the planted graphs are not built over a corpus: an empty binding
    def load(path: String) = NswGraph.load(spark, path, spark.emptyDataFrame,
      "vec_id", "embedding", m = 16, dim = 64)

    // v1: a pre-round-12 writer emitted (version) only — documented to
    // stay loadable across sessions, so it must load WITHOUT the
    // torn-write check instead of being rejected as malformed
    edges.write.mode("overwrite").parquet(s"$dir/v1/edges")
    Seq(Tuple1(1)).toDF("version")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v1/params")
    val g1 = load(s"$dir/v1")
    assert(g1.edges.count() === 3L)
    g1.release()

    // torn v2: params records more edges than edges/ holds (a crash
    // mid-save leaves a partial parquet that reads without error)
    edges.write.mode("overwrite").parquet(s"$dir/torn/edges")
    Seq((2, 99L)).toDF("version", "n_edges")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/torn/params")
    val exTorn = intercept[IllegalArgumentException] {
      load(s"$dir/torn")
    }
    assert(exTorn.getMessage.contains("torn"),
      s"wrong failure for a torn artifact: ${exTorn.getMessage}")

    // torn v1 WITH a recorded n_edges (round-13 advice: historical v1
    // writers here also emitted the count) — the check keys on the
    // column, not the version, so this must be refused too
    edges.write.mode("overwrite").parquet(s"$dir/tornv1/edges")
    Seq((1, 99L)).toDF("version", "n_edges")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/tornv1/params")
    val exTorn1 = intercept[IllegalArgumentException] {
      load(s"$dir/tornv1")
    }
    assert(exTorn1.getMessage.contains("torn"),
      s"wrong failure for a torn v1-with-count artifact: ${exTorn1.getMessage}")

    // unknown future version: refused with the version message, not a
    // cast error or a silent serve
    edges.write.mode("overwrite").parquet(s"$dir/v9/edges")
    Seq((9, 3L)).toDF("version", "n_edges")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v9/params")
    val exV = intercept[IllegalArgumentException] {
      load(s"$dir/v9")
    }
    assert(exV.getMessage.contains("version"),
      s"wrong failure for a v9 artifact: ${exV.getMessage}")
  }

  test("release artifact: save/load round-trips both frames; torn, " +
    "malformed and future-version artifacts are refused loudly") {
    import graft.operators.ReleaseOps
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rel"); dir.toFile.deleteOnExit()
    val docs = Tables.t(spark, Sf, "documents")

    // happy path: loaded docs/card agree with each other and with a
    // fresh pipeline run (the q240 oracle pins the full hash; this pin
    // is the storage-contract subset that must hold for ANY input)
    ReleaseOps.saveRelease(docs, s"$dir/ok")
    val art = ReleaseOps.loadRelease(spark, s"$dir/ok")
    val cardFinal = art.card.agg(sum("n_final")).head.getLong(0)
    assert(art.docs.count() === cardFinal,
      "loaded corpus row count != card's summed n_final")
    val fresh = ReleaseOps.prepareCorpus(docs).orderBy("source").collect()
    assert(art.card.orderBy("source").collect().toSeq === fresh.toSeq,
      "loaded card != freshly derived card")
    // the shard partition column survives the round-trip (16-way q147)
    assert(art.docs.select("shard").distinct().count() <= 16)
    art.release()

    // torn: params records more docs than docs/ holds
    ReleaseOps.saveRelease(docs.limit(200), s"$dir/torn")
    Seq((1, 999999L, 20L)).toDF("version", "n_docs", "n_card_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/torn/params")
    val exTorn = intercept[IllegalArgumentException] {
      ReleaseOps.loadRelease(spark, s"$dir/torn")
    }
    assert(exTorn.getMessage.contains("torn"),
      s"wrong failure for a torn artifact: ${exTorn.getMessage}")

    // malformed: params missing a required column
    Seq(Tuple1(1)).toDF("version")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bad/params")
    val exBad = intercept[IllegalArgumentException] {
      ReleaseOps.loadRelease(spark, s"$dir/bad")
    }
    assert(exBad.getMessage.contains("malformed"),
      s"wrong failure for a malformed artifact: ${exBad.getMessage}")

    // unknown future version: refused with the version message
    Seq((9, 1L, 1L)).toDF("version", "n_docs", "n_card_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v9/params")
    val exV = intercept[IllegalArgumentException] {
      ReleaseOps.loadRelease(spark, s"$dir/v9")
    }
    assert(exV.getMessage.contains("version"),
      s"wrong failure for a v9 artifact: ${exV.getMessage}")

    // EMPTY release (a delta fully carried over — q235's fixture): the
    // production saveDelta path must still write a schema-carrying docs
    // parquet (a dynamic-partition write of zero rows emits none), and
    // the load must verify counts and serve an empty frame, not die on
    // schema inference
    val (old, neu) = graft.operators.ReleaseOps
      .shippedTwinFixture(docs)
    ReleaseOps.saveDelta(old, neu, s"$dir/emptyrel", robust = true)
    val empty = ReleaseOps.loadRelease(spark, s"$dir/emptyrel")
    assert(empty.docs.count() === 0L, "carried-over delta must keep 0 docs")
    assert(empty.docs.columns.contains("shard"), "schema must survive")
    assert(empty.card.count() === 10L, "card keeps one row per source")
    assert(empty.card.agg(sum("n_final")).head.getLong(0) === 0L)
    empty.release()
  }

  test("deterministic sampling: same seed same rows, different seed differs") {
    val li = Tables.t(spark, Sf, "lineitem")
    val s1 = li.sample(0.1, seed = 42).count()
    val s2 = li.sample(0.1, seed = 42).count()
    val s3 = li.sample(0.1, seed = 7).count()
    assert(s1 === s2)
    assert(s1 > 0 && math.abs(s1 - li.count() / 10.0) < li.count() * 0.05)
    assert((s3 != s1) ||
      li.sample(0.1, 7).collect().toSet != li.sample(0.1, 42).collect().toSet)
  }

  test("execution metrics surface scan cardinality and operator counts") {
    import graft.sources.Metrics
    val df = Tables.t(spark, Sf, "lineitem")
      .filter(col("l_quantity") > 45).groupBy("l_returnflag").count()
    df.collect()
    val m = Metrics.all(df)
    assert(m.nonEmpty)
    assert(Metrics.scanOutputRows(df) > 0)
    // the scan feeds fewer rows than the table after pushdown... (pushed
    // filters still scan row-groups; assert it's bounded by table size)
    assert(Metrics.scanOutputRows(df) <= Tables.t(spark, Sf, "lineitem").count())
  }

  test("state-partition advice floors at 2 (NOT parallelism) and scales " +
    "with bytes; the scoped shuffle-partition override restores the conf") {
    // streaming state stores pay a fixed per-partition-per-batch cost and
    // AQE cannot coalesce them — the batch floor is wrong there
    assert(Tuning.adviseStatePartitions(0L) === 2)
    assert(Tuning.adviseStatePartitions(4L << 20) === 2)   // 4 MiB replay
    assert(Tuning.adviseStatePartitions(1L << 40) === 8192) // 1 TiB state
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = Tuning.withShufflePartitions(spark, 3) { spark.conf.get(key) }
    assert(inside === "3")
    assert(spark.conf.get(key) === before, "conf must be restored")
    intercept[IllegalArgumentException] {
      Tuning.withShufflePartitions(spark, 0) { () }
    }
    assert(Tuning.pathBytes(s"$Sf/events.parquet") > 0)
  }

  test("corrupt JSONL lines quarantine into _corrupt_record, valid rows survive") {
    // the PERMISSIVE-mode contract a 100 TB JSONL ingest relies on: one
    // torn line must not fail the job OR silently vanish — it lands in
    // the corrupt-record column for a quarantine count
    val dir = Files.createTempDirectory("graft-badjson"); dir.toFile.deleteOnExit()
    Files.write(dir.resolve("part-0.jsonl"),
      ("""{"doc_id": 1, "text": "ok one"}
        |{"doc_id": 2 "text": "TORN LINE"
        |{"doc_id": 3, "text": "ok three"}
        |""").stripMargin.getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString).cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    assert(df.filter(col("doc_id").isin(1L, 3L)).count() === 2)
    df.unpersist()
  }

  test("ORC schema evolution: mergeSchema unions batches with added columns") {
    // crawl N writes (doc_id, text); crawl N+1 adds a lang column — the
    // combined read must surface the union schema with nulls backfilled,
    // not fail or drop the new column
    val dir = Files.createTempDirectory("graft-evo"); dir.toFile.deleteOnExit()
    import spark.implicits._
    Seq((1L, "old row")).toDF("doc_id", "text")
      .write.orc(s"$dir/batch=0")
    Seq((2L, "new row", "en")).toDF("doc_id", "text", "lang")
      .write.orc(s"$dir/batch=1")
    val merged = spark.read.option("mergeSchema", "true").orc(dir.toString)
    assert(merged.columns.toSet === Set("doc_id", "text", "lang", "batch"))
    val rows = merged.orderBy("doc_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("lang") == null)
    assert(rows(1).getAs[String]("lang") === "en")
  }
}
