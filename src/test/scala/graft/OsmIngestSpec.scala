package graft

import graft.osm.{OsmCsv, OsmIngest, OsmModel}
import java.nio.file.Files

/** End-to-end ETL test over a synthetic OSM extract covering the fixture
  * matrix in FIXTURES.md §1: tagged/untagged nodes, nd ordering, plain /
  * single-colon / multi-colon / uppercase / digit keys, phone + postcode
  * cleaning (node branch only), a dropped <relation>, unicode values. */
class OsmIngestSpec extends SparkTestBase {

  private val osmXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6" generator="test">
      |  <node id="1001" lat="52.37" lon="4.89" user="ałice" uid="42" version="2" changeset="111" timestamp="2015-01-01T10:00:00Z">
      |    <tag k="addr:postcode" v="1074CM"/>
      |    <tag k="phone" v="020-555 1234"/>
      |    <tag k="contact:phone" v="020-555 9999"/>
      |    <tag k="name" v="Café Früh"/>
      |  </node>
      |  <node id="1002" lat="52.38" lon="4.90" user="bob" uid="43" version="1" changeset="112" timestamp="2015-02-01T11:30:00Z"/>
      |  <node id="1003" lat="52.39" lon="4.91" user="carol" uid="44" version="3" changeset="113" timestamp="2015-03-01T12:00:00Z">
      |    <tag k="CEMT" v="II"/>
      |  </node>
      |  <way id="2001" user="dave" uid="45" version="5" changeset="114" timestamp="2016-10-06T10:16:56Z">
      |    <nd ref="1001"/>
      |    <nd ref="1003"/>
      |    <nd ref="1002"/>
      |    <tag k="cycleway:right:surface:color" v="red"/>
      |    <tag k="highway" v="residential"/>
      |    <tag k="addr:postcode" v="1091GC"/>
      |    <tag k="phone" v="020-5954700"/>
      |  </way>
      |  <way id="2002" user="erin" uid="46" version="1" changeset="115" timestamp="2016-01-01T00:00:00Z">
      |    <nd ref="1002"/>
      |  </way>
      |  <relation id="3001" user="frank" uid="47" version="1" changeset="116" timestamp="2016-01-01T00:00:00Z">
      |    <member type="way" ref="2001" role="outer"/>
      |    <tag k="type" v="multipolygon"/>
      |  </relation>
      |</osm>
      |""".stripMargin

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-osm").toFile
    d.deleteOnExit()
    val f = new java.io.File(d, "test.osm")
    Files.write(f.toPath, osmXml.getBytes("UTF-8"))
    d
  }
  private lazy val nodesRaw = OsmIngest.readNodesRaw(spark, s"$dir/test.osm").cache()
  private lazy val waysRaw = OsmIngest.readWaysRaw(spark, s"$dir/test.osm").cache()

  test("S1/S2: row-tag scan yields nodes and ways, drops relations") {
    assert(OsmIngest.nodes(nodesRaw).count() === 3)
    assert(OsmIngest.ways(waysRaw).count() === 2)
  }

  test("P1: node projection carries the 8 pinned attributes with types") {
    val n = OsmIngest.nodes(nodesRaw).orderBy("id").collect()
    val first = n.head
    assert(first.getLong(0) === 1001L)
    assert(first.getDouble(1) === 52.37)
    assert(first.getString(3) === "ałice") // unicode user survives
    assert(first.getInt(5) === 2)
    assert(first.getTimestamp(7).toInstant.toString === "2015-01-01T10:00:00Z")
  }

  test("G1+T1+T2/T3: node tags split and clean (node branch only rules)") {
    val tags = OsmIngest.nodeTags(nodesRaw).orderBy("id", "key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(tags.contains((1001L, "postcode", "1074 CM", "addr")))   // T2 applied
    assert(tags.contains((1001L, "phone", "+31205551234", "regular"))) // T3 applied
    // contact:phone splits but is NOT phone-cleaned (raw-key predicate, py:188)
    assert(tags.contains((1001L, "phone", "020-555 9999", "contact")))
    assert(tags.contains((1001L, "name", "Café Früh", "regular")))
    assert(tags.contains((1003L, "CEMT", "II", "regular")))         // uppercase unsplit
  }

  test("way tags split but values stay RAW (py:160–173, golden-verified rule)") {
    val tags = OsmIngest.wayTags(waysRaw).orderBy("id", "key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(tags.contains((2001L, "right:surface:color", "red", "cycleway"))) // first-colon split
    assert(tags.contains((2001L, "highway", "residential", "regular")))
    assert(tags.contains((2001L, "postcode", "1091GC", "addr")))    // NOT cleaned
    assert(tags.contains((2001L, "phone", "020-5954700", "regular"))) // NOT cleaned
  }

  test("G2: way_nodes positions are dense 0-based document order") {
    val wn = OsmIngest.wayNodes(waysRaw).orderBy("id", "position").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(wn.toSeq === Seq(
      (2001L, 1001L, 0), (2001L, 1003L, 1), (2001L, 1002L, 2),
      (2002L, 1002L, 0)))
  }

  test("PROBLEMCHARS drop rule is opt-in; default replicates actual behavior") {
    import graft.functions.Cleaners
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // default: nothing dropped (the reference compiles the regex but never
    // applies it — py:88 vs py:33)
    val defaults = OsmIngest.nodeTags(nodesRaw).count()
    assert(defaults === 5)
    // opt-in: a key with a problem char would be dropped
    val probe = Seq("addr:postcode", "bad key", "bad=key", "ok_key").toDF("k")
    val flagged = probe.filter(Cleaners.hasProblemChars(col("k")))
      .collect().map(_.getString(0)).toSet
    assert(flagged === Set("bad key", "bad=key"))
    assert(OsmIngest.nodeTags(nodesRaw, dropProblemTags = true).count() === 5)
  }

  test("typed Dataset surface + SQL views run the EP3 workload") {
    // Dataset[T] accessors give compile-time row types
    val ways = OsmIngest.waysDs(spark, waysRaw)
    assert(ways.collect().map(_.id).sorted.toSeq === Seq(2001L, 2002L))
    val tags = OsmIngest.nodeTagsDs(spark, nodesRaw)
    assert(tags.filter(_.`type` == "addr").count() === 1)
    // SQL-text surface (the reference's sqlite> shell, EP3)
    OsmIngest.registerViews(spark, nodesRaw, waysRaw)
    val n = spark.sql(
      """SELECT count(DISTINCT alles.uid) FROM
        |  (SELECT uid FROM nodes UNION ALL SELECT uid FROM ways) alles""".stripMargin)
      .head().getLong(0)
    assert(n === 5) // uids 42,43,44,45,46
    val pos = spark.sql(
      "SELECT node_id FROM way_nodes WHERE id = 2001 ORDER BY position")
      .collect().map(_.getLong(0))
    assert(pos.toSeq === Seq(1001L, 1003L, 1002L))
  }

  test("S3/S4: CSV sink/source round-trips with pinned order and ISO timestamps") {
    val out = Files.createTempDirectory("graft-csv").toFile
    out.deleteOnExit()
    OsmIngest.runEtl(spark, s"$dir/test.osm", out.toString)
    val ways = OsmCsv.read(spark, s"$out/ways", OsmModel.waysSchema)
    assert(ways.columns.toSeq === OsmModel.columnOrder("ways"))
    assert(ways.count() === 2)
    val ts = ways.orderBy("id").collect().head.getTimestamp(5)
    assert(ts.toInstant.toString === "2016-10-06T10:16:56Z")
    val nodeTags = OsmCsv.read(spark, s"$out/node_tags", OsmModel.tagsSchema)
    assert(nodeTags.count() === 5)
  }

  test("OsmEtlMain with the wrong number of arguments prints its usage " +
    "and exits non-zero") {
    for (args <- Seq(Seq(), Seq("only.osm"), Seq("a.osm", "out", "extra"))) {
      val r = ChildJvm.run("graft.osm.OsmEtlMain", args: _*)
      assert(r.exitCode !== 0, args)
      assert(r.err.contains(graft.osm.OsmEtlMain.Usage), r.err)
      assert(!r.err.contains("MatchError"), r.err)
    }
  }
}
