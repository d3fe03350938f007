package graft

import graft.osm.{OsmIngest, OsmXml}
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.PartitionedFile

/** Edge cases of the splittable OSM reader (`OsmXml`): split boundaries at
  * every byte, compressed input, truncated and malformed elements,
  * comments, nesting, encodings and column pruning. */
class OsmXmlSpec extends SparkTestBase {

  private val head = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">\n"
  private def node(id: Int, attrs: String = "lat=\"52.1\" lon=\"4.1\"") =
    s"""  <node id="$id" $attrs user="u" uid="1" version="1" changeset="1" timestamp="2016-01-01T00:00:00Z"/>\n"""
  private def way(id: Int) =
    s"""  <way id="$id" user="w" uid="2" version="1" changeset="1" timestamp="2016-01-01T00:00:00Z">
       |    <nd ref="1"/>
       |    <nd ref="2"/>
       |    <tag k="highway" v="residential"/>
       |  </way>
       |""".stripMargin

  /** Multibyte UTF-8, entities, tag and nd children, a relation, bounds. */
  private val rich = head +
    """  <bounds minlat="52.3" minlon="4.7" maxlat="52.4" maxlon="5.0"/>
      |  <node id="1001" lat="52.37" lon="4.89" user="ałice" uid="42" version="2" changeset="111" timestamp="2015-01-01T10:00:00Z">
      |    <tag k="addr:postcode" v="1074CM"/>
      |    <tag k="name" v="Café Früh &amp; &quot;Zon&quot; &#233;"/>
      |  </node>
      |  <node id="1002" lat="52.38" lon="4.90" user="Jörg" uid="43" version="1" changeset="112" timestamp="2015-02-01T11:30:00Z"/>
      |  <node id="1003" lat="52.39" lon="4.91" user="bert &amp; ernie" uid="44" version="3" changeset="113" timestamp="2015-03-01T12:00:00Z">
      |    <tag k="CEMT" v="II"/>
      |  </node>
      |  <way id="2001" user="Ünal" uid="45" version="5" changeset="114" timestamp="2016-10-06T10:16:56Z">
      |    <nd ref="1001"/>
      |    <nd ref="1003"/>
      |    <nd ref="1002"/>
      |    <tag k="cycleway:right:surface:color" v="red"/>
      |    <tag k="name" v="Prinsengracht"/>
      |  </way>
      |  <way id="2002" user="Smith, J" uid="46" version="1" changeset="115" timestamp="2016-01-01T00:00:00Z">
      |    <nd ref="1002"/>
      |  </way>
      |  <relation id="3001" user="frank" uid="47" version="1" changeset="116" timestamp="2016-01-01T00:00:00Z">
      |    <member type="way" ref="2001" role="outer"/>
      |    <tag k="type" v="multipolygon"/>
      |  </relation>
      |</osm>
      |""".stripMargin

  private def write(body: Array[Byte], name: String = "t.osm"): String = {
    val dir = Files.createTempDirectory("graft-osmxml")
    dir.toFile.deleteOnExit()
    val f = dir.resolve(name)
    Files.write(f, body)
    f.toString
  }
  private def write(body: String): String = write(body.getBytes("UTF-8"))

  private val toRow = CatalystTypeConverters.createToScalaConverter(OsmXml.schema)

  /** Rows of the byte range [start, start + length) read as one split. */
  private def split(path: String, start: Long, length: Long): Seq[String] = {
    val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(new Path(path)), start, length)
    new OsmXml.SplitReader(file, new Configuration(), OsmXml.schema.fieldNames)
      .map(r => toRow(r).toString).toSeq
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs `body` with Spark's file splits at most `bytes` long. */
  private def withSplitBytes[T](bytes: Long)(body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes" -> bytes.toString,
      "spark.sql.files.openCostInBytes" -> bytes.toString)(body)

  private def nullRow(kind: String) = Row(kind +: Seq.fill(10)(null): _*).toString

  test("one row per node and way: kind, trimmed attributes, tag and nd lists; " +
    "relations and bounds are not read") {
    val p = write(rich)
    val got = OsmIngest.readOsm(spark, p).orderBy("_id").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("node", "node", "node", "way", "way"))
    val n = got.head
    assert(n.getAs[String]("_user") === "ałice")
    assert(n.getAs[String]("_lat") === "52.37")
    assert(n.getAs[Seq[Row]]("tag").map(t => (t.getString(0), t.getString(1))) ===
      Seq("addr:postcode" -> "1074CM", "name" -> "Café Früh & \"Zon\" é"))
    assert(n.isNullAt(n.fieldIndex("nd")))
    assert(got(1).isNullAt(got(1).fieldIndex("tag"))) // no children: null, as before
    val w = got(3)
    assert(w.isNullAt(w.fieldIndex("_lat")))
    assert(w.getAs[Seq[Row]]("nd").map(_.getString(0)) === Seq("1001", "1003", "1002"))
    // the shapers' inputs keep their names and types
    assert(OsmIngest.readNodesRaw(spark, p).schema === OsmIngest.nodeReadSchema)
    assert(OsmIngest.readWaysRaw(spark, p).schema === OsmIngest.wayReadSchema)
    val padded = write(head + node(1, "lat=\" 52.1 \" lon=\"4.1\"")
      .replace("/>", "><tag k=\" k \" v=\" padded \"/></node>") + "</osm>\n")
    val t = OsmIngest.readOsm(spark, padded).head()
    assert(t.getAs[String]("_lat") === "52.1")
    assert(t.getAs[Seq[Row]]("tag").head === Row("k", "padded"))
  }

  test("split-boundary sweep: a boundary at every byte reads the rows of one split") {
    for (doc <- Seq(rich, head + node(1) + way(2) + node(3) + "</osm>\n")) {
      val p = write(doc)
      val len = Files.size(java.nio.file.Paths.get(p))
      val whole = split(p, 0, len)
      assert(whole.length === doc.split("<node |<way ").length - 1)
      for (k <- 1L until len) {
        val two = split(p, 0, k) ++ split(p, k, len - k)
        assert(two === whole, s"boundary at byte $k")
      }
      // three splits, boundaries k and k + 7, through every start tag
      for (k <- 1L until len - 8 by 3) {
        val three = split(p, 0, k) ++ split(p, k, 7) ++ split(p, k + 7, len - k - 7)
        assert(three === whole, s"boundaries at bytes $k and ${k + 7}")
      }
    }
  }

  test("small Spark splits read the same rows in several tasks") {
    val p = write(rich)
    val one = rows(OsmIngest.readOsm(spark, p))
    for (bytes <- Seq(64L, 100L, 257L)) withSplitBytes(bytes) {
      val df = OsmIngest.readOsm(spark, p)
      assert(df.rdd.getNumPartitions > 1)
      assert(rows(df) === one, s"split bytes $bytes")
    }
  }

  test(".osm.gz is read through the Hadoop codec, as one split") {
    val bytes = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bytes)
    gz.write(rich.getBytes("UTF-8")); gz.close()
    val p = write(bytes.toByteArray, "t.osm.gz")
    withSplitBytes(64L) {
      val df = OsmIngest.readOsm(spark, p)
      assert(df.rdd.getNumPartitions === 1)
      assert(rows(df) === rows(OsmIngest.readOsm(spark, write(rich))))
    }
  }

  test("a truncated file keeps its complete elements; the cut one is a null row") {
    val full = head + node(1) + node(2) + way(7) + node(3)
    for ((cut, kind) <- Seq(full.indexOf("<tag k") -> "way", full.length - 20 -> "node")) {
      val p = write(full.take(cut))
      for (bytes <- Seq(1L << 20, 90L)) withSplitBytes(bytes) {
        val got = rows(OsmIngest.readOsm(spark, p).select("kind", "_id"))
        val want = (Seq("[node,1]", "[node,2]") ++
          (if (kind == "node") Seq("[way,7]") else Nil) :+ s"[$kind,null]").sorted
        assert(got === want, s"cut at $cut, split bytes $bytes")
      }
    }
  }

  test("PERMISSIVE: a malformed element becomes a null row, parsing resumes " +
    "at the next element") {
    val doc = head + node(1) + node(2, "lat=\"52.1\" lon=4.2") + node(3) +
      "  <node id=\"4\" lat=\"1\" lon=\"2\"><tag k=\"a\" v=b/></node>\n" + node(5) +
      way(6).replace("<nd ref=\"2\"/>", "<nd ref=\"2\">") + way(7) + "</osm>\n"
    val p = write(doc)
    for (bytes <- Seq(1L << 20, 70L, 131L)) withSplitBytes(bytes) {
      val got = OsmIngest.readOsm(spark, p).collect().map(_.toString).toSeq
      assert(got.sorted === (Seq(nullRow("node"), nullRow("node"), nullRow("way")) ++
        OsmIngest.readOsm(spark, write(head + node(1) + node(3) + node(5) + way(7) + "</osm>\n"))
          .collect().map(_.toString)).sorted, s"split bytes $bytes")
    }
    // the shaped tables keep the null row (as the built-in XML source did)
    val nodes = OsmIngest.nodes(OsmIngest.readNodesRaw(spark, p)).collect()
    assert(nodes.length === 5 && nodes.count(_.isNullAt(0)) === 2)
  }

  test("comments, CDATA and processing instructions are not elements: a " +
    "leading commented-out node is no row") {
    val doc = "<?xml version=\"1.0\"?>\n<!-- <node id=\"99\" lat=\"1\" lon=\"1\"/> -->\n" +
      "<osm version=\"0.6\">\n" + node(1) + "<!-- <way id=\"98\"> -->\n" + way(2) +
      "<![CDATA[ <node id=\"97\"/> ]]>\n<?pi <node id=\"96\"/> ?>\n" + node(3) + "</osm>\n"
    val p = write(doc)
    assert(rows(OsmIngest.readOsm(spark, p).select("_id")) === Seq("[1]", "[2]", "[3]"))
    // every split boundary reads the same rows, except one inside a
    // comment, CDATA section or processing instruction (OsmXml's stated
    // limit: a split cannot see that it starts inside one)
    val skipped = Seq("<!--" -> "-->", "<![CDATA[" -> "]]>", "<?" -> "?>").flatMap {
      case (open, close) =>
        Iterator.iterate(doc.indexOf(open))(i => doc.indexOf(open, i + 1)).takeWhile(_ >= 0)
          .map(i => (i, doc.indexOf(close, i) + close.length)).toSeq
    }
    val whole = split(p, 0, doc.length)
    assert(whole.length === 3)
    for (k <- 1 until doc.length if !skipped.exists { case (a, b) => k > a && k < b })
      assert(split(p, 0, k) ++ split(p, k, doc.length - k) === whole, s"boundary at byte $k")
  }

  test("osmChange and nested elements are refused with an error that names them") {
    val change = "<?xml version=\"1.0\"?>\n<osmChange version=\"0.6\">\n<create>\n" +
      node(1) + way(2) + "</create>\n<delete>\n" + node(3) + "</delete>\n</osmChange>\n"
    val nested = head + "<create>\n" + node(1) + "</create>\n</osm>\n"
    for ((doc, word) <- Seq(change -> "osmChange", nested -> "nested");
         bytes <- Seq(1L << 20, 50L)) withSplitBytes(bytes) {
      val e = intercept[Exception](OsmIngest.readOsm(spark, write(doc)).collect())
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" / ")
      assert(msg.contains(word), msg)
    }
  }

  test("a file declared in another encoding is refused; empty and " +
    "relation-only files give no rows") {
    val latin = head.replace("UTF-8", "ISO-8859-1") + node(1) + "</osm>\n"
    val e = intercept[Exception](OsmIngest.readOsm(spark, write(latin)).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("ISO-8859-1")), e.toString)
    assert(OsmIngest.readOsm(spark, write("")).count() === 0)
    val relOnly = head + "<relation id=\"1\"><member type=\"node\" ref=\"1\"/></relation>\n</osm>\n"
    assert(OsmIngest.readOsm(spark, write(relOnly)).count() === 0)
  }

  test("the reader gets only the columns asked for") {
    val ids = OsmIngest.readOsm(spark, write(rich)).select("_id")
    val scan = ids.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.requiredSchema.fieldNames.toSeq === Seq("_id"))
    assert(rows(ids) === Seq("[1001]", "[1002]", "[1003]", "[2001]", "[2002]"))
  }
}
