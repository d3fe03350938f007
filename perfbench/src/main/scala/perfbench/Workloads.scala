package perfbench

import graft.SparkEntry
import graft.functions.Cleaners
import graft.operators.{Dedup, Graph, IvfAdcIndex, Similarity}
import graft.osm.{OsmCsv, OsmIngest, Workload}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Util {
  /** Order-independent digest of a result: md5 over the sorted row
    * renderings. Used to compare a repeated operation with its first,
    * oracle-checked answer. */
  def digest(rows: Seq[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def rowDigest(rows: Array[Row]): String = digest(rows.map(_.toString).toSeq)

  /** Rows the executed plan's leaf scans produced, over the leaves whose
    * output has `column`. */
  def scannedRows(df: DataFrame, column: String): Long = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case s: QueryStageExec => leaves(s.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    leaves(df.queryExecution.executedPlan).filter(_.output.exists(_.name == column))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def p50(xs: Seq[Double]): Double = Main.median(xs)
  def p95(xs: Seq[Double]): Double = Main.quantile(xs, 0.95)

  /** Median over operations of a per-operation sum of the named spans. */
  def perOpMedian(tr: Tracer, ops: Seq[(OpRec, Span)], name: String)(f: Seq[Span] => Double): Double =
    p50(ops.map { case (_, root) => f(tr.subtree(root).filter(_.name == name)) })

  def spanSeconds(tr: Tracer, ops: Seq[(OpRec, Span)], name: String): Double =
    perOpMedian(tr, ops, name)(_.map(_.ms).sum / 1e3)
}

import Util._

/** Stage 1 of the paper: OSM XML to five CSV tables. Each operation is one
  * `OsmIngest.runEtl` pass into its own output directory; the Python side
  * checks every pass's tables against the generator's expectation. In
  * traced mode a pass is decomposed into the ingest steps, each in its own
  * span, and its CSVs come from the traced `OsmCsv.write` step. */
final class OsmEtlBench(p: Params, work: String, tr: Tracer) extends Bench {
  private val xml = p.str("xml_path")
  private val xmlBytes = new java.io.File(xml).length().toDouble

  def load(spark: SparkSession): Unit = ()

  def warmup(spark: SparkSession): Unit =
    tr.span("osm.OsmIngest.runEtl") { OsmIngest.runEtl(spark, xml, s"$work/etl_warmup") }

  def op(spark: SparkSession, i: Int): OpRec = {
    val out = s"$work/etl_out/pass_$i"
    val (_, ms) = Main.timed {
      if (tr.enabled) tracedPass(spark, out) else OsmIngest.runEtl(spark, xml, out)
    }
    OpRec("etl", ms, extra = Map("out" -> out))
  }

  private def tracedPass(spark: SparkSession, out: String): Unit = {
    val (n, w) = tr.span("osm.OsmIngest.read_raw") {
      val n = OsmIngest.readNodesRaw(spark, xml).cache()
      val w = OsmIngest.readWaysRaw(spark, xml).cache()
      n.count(); w.count()
      (n, w)
    }
    tr.span("osm.OsmIngest.shape") {
      Seq(OsmIngest.nodes(n), OsmIngest.nodeTags(n), OsmIngest.ways(w),
        OsmIngest.wayTags(w), OsmIngest.wayNodes(w)).foreach(noop)
    }
    val tags = tr.span("osm.OsmIngest.explode_tags") {
      val t = n.select(explode(col("tag")).as("t"))
        .select(col("t._k").as("k"), col("t._v").as("v")).cache()
      t.count()
      t
    }
    tr.span("functions.Cleaners.clean") {
      noop(tags.select(Cleaners.keyTail(col("k")), Cleaners.keyType(col("k")),
        Cleaners.nlPostcode(col("v")), Cleaners.nlPhone(col("v"))))
    }
    tr.span("osm.OsmCsv.write") {
      OsmCsv.write(OsmIngest.nodes(n), s"$out/nodes", "nodes")
      OsmCsv.write(OsmIngest.nodeTags(n), s"$out/node_tags", "node_tags")
      OsmCsv.write(OsmIngest.ways(w), s"$out/ways", "ways")
      OsmCsv.write(OsmIngest.wayTags(w), s"$out/way_tags", "way_tags")
      OsmCsv.write(OsmIngest.wayNodes(w), s"$out/way_nodes", "way_nodes")
    }
    n.unpersist(); w.unpersist(); tags.unpersist()
  }

  def perLayer(ops: Seq[(OpRec, Span)]): Map[String, Double] = {
    def perByte(name: String)(f: Span => Long) =
      perOpMedian(tr, ops, name)(_.map(f).sum.toDouble) / xmlBytes
    Map(
      "osm.OsmIngest.read_raw_s" -> spanSeconds(tr, ops, "osm.OsmIngest.read_raw"),
      "osm.OsmIngest.shape_s" -> spanSeconds(tr, ops, "osm.OsmIngest.shape"),
      "functions.Cleaners.clean_s" -> spanSeconds(tr, ops, "functions.Cleaners.clean"),
      "osm.OsmCsv.write_s" -> spanSeconds(tr, ops, "osm.OsmCsv.write"),
      "osm.xml_scan_tasks" -> perOpMedian(tr, ops, "osm.OsmIngest.read_raw")(_.map(_.tasks).sum.toDouble),
      "osm.xml_bytes_read_per_input_byte" -> perByte("osm.OsmIngest.read_raw")(_.inBytes),
      "osm.csv_bytes_per_input_byte" -> perByte("osm.OsmCsv.write")(_.outBytes))
  }
}

/** Stage 2 of the paper: one client running a seeded sequence of short
  * analytic queries — star-schema queries from `SparkEntry.queries` and
  * the Readme queries (`osm.Workload`) over the OSM tables set-up loads.
  * The first answer of each star query is written as Parquet for the
  * DuckDB comparison and every repeat must match it; every Readme answer
  * is returned to the Python side, which checks it against DuckDB. */
final class SqlMixBench(p: Params, work: String, tr: Tracer) extends Bench {
  private val star = p.str("star_dir")
  private val xml = p.str("xml_path")
  private val seq = p.list("ops")
  private val warm = p.list("warmup")
  private val first = mutable.Map[String, (String, Array[Row])]()
  private var osm: Map[String, DataFrame] = Map.empty

  def load(spark: SparkSession): Unit = {
    osm = tr.span("osm.OsmIngest.load") {
      val n = OsmIngest.readNodesRaw(spark, xml)
      val w = OsmIngest.readWaysRaw(spark, xml)
      val m = Map("nodes" -> OsmIngest.nodes(n), "node_tags" -> OsmIngest.nodeTags(n),
        "ways" -> OsmIngest.ways(w), "way_tags" -> OsmIngest.wayTags(w))
        .map { case (k, df) => k -> df.cache() }
      m.values.foreach(_.count())
      m
    }
  }

  def warmup(spark: SparkSession): Unit = warm.foreach { o =>
    val (rows, _, name) = run(spark, o)
    if (o.has("q")) check(name, rows)
  }

  /** Name of the engine object defining a star query, for its span. */
  private def owner(q: String): String =
    if (q.startsWith("q28") || q.startsWith("q29") || q.startsWith("q30")) "operators.CleanerOps"
    else "operators.Relational"

  private def readme(o: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
    val tags = osm("node_tags")
    o.get("fn").asText() match {
      case "distinctContributors" => Workload.distinctContributors(osm("nodes"), osm("ways"))
      case "nameLikeCount" => Workload.nameLikeCount(tags, o.get("pattern").asText())
      case "busiestPostcodes" =>
        Workload.busiestPostcodes(tags.unionByName(osm("way_tags")), o.get("k").asInt())
      case "topAmenities" => Workload.topAmenities(tags, o.get("k").asInt())
      case "valueShare" => Workload.valueShare(tags, o.get("key").asText(),
        o.get("values").elements().asScala.map(_.asText()).toSeq)
      case other => throw new IllegalArgumentException(other)
    }
  }

  /** Runs one query; returns its rows and wall time. */
  private def run(spark: SparkSession, o: com.fasterxml.jackson.databind.JsonNode): (Array[Row], Double, String) = {
    val t0 = System.nanoTime()
    val (name, rows) = if (o.has("q")) {
      val q = o.get("q").asText()
      val rows = tr.span(s"${owner(q)}.$q") {
        val df = SparkEntry.queries(q)(spark, star)
        execute(df)
      }
      (q, rows)
    } else {
      val fn = o.get("fn").asText()
      val rows = tr.span(s"osm.Workload.$fn") {
        if (fn == "tableCount")
          tr.span("sql.exec") { Array(Row(Workload.tableCount(osm(o.get("table").asText())))) }
        else execute(readme(o))
      }
      (fn, rows)
    }
    (rows, Main.ms(t0), name)
  }

  private def execute(df: DataFrame): Array[Row] = {
    tr.span("sql.plan") { df.queryExecution.executedPlan }
    tr.span("sql.exec") { df.collect() }
  }

  def op(spark: SparkSession, i: Int): OpRec = {
    val o = seq(i % seq.size)
    val (rows, ms, name) = run(spark, o)
    if (o.has("q")) {
      val same = check(name, rows)
      OpRec("star", ms, ok = same, err = if (same) "" else "answer changed",
        extra = Map("q" -> name, "rows" -> rows.length))
    } else
      OpRec("readme", ms, extra = Map("seq" -> (i % seq.size), "fn" -> name,
        "rows" -> rows.length, "answer" -> rows.map(_.toSeq.map(jsonValue)).toSeq))
  }

  /** True when a star query's answer equals its first answer in this run
    * (the one compared with DuckDB); remembers the first answer. */
  private def check(name: String, rows: Array[Row]): Boolean = {
    val d = rowDigest(rows)
    first.getOrElseUpdate(name, (d, rows))._1 == d
  }

  /** Writes each star query's first answer as Parquet for the DuckDB
    * comparison, after the timed loop. */
  override def finish(spark: SparkSession): Map[String, Any] =
    Map("oracle" -> first.map { case (name, (_, rows)) =>
      val schema = SparkEntry.queries(name)(spark, star).schema
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/sql_results/$name")
      name -> SparkEntry.oracleSql(name)
    }.toMap)

  private def jsonValue(v: Any): Any = v match {
    case null => null
    case s: String => s
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => d
    case other => other.toString
  }

  def perLayer(ops: Seq[(OpRec, Span)]): Map[String, Double] = {
    val queries = ops.map { case (_, root) => tr.subtree(root) }
    val n = math.max(1, queries.size).toDouble
    val returned = ops.map(_._1.extra.getOrElse("rows", 0).asInstanceOf[Int].toLong).sum
    val scanned = queries.map(_.map(_.inRecords).sum).sum
    val named = (name: String) => queries.map(_.filter(_.name == name).map(_.ms).sum)
    val exec = named("sql.exec")
    // codegen counters are inclusive, so read them at the query spans
    // (the children of each op's root span)
    val top = ops.map { case (_, root) => tr.subtree(root).filter(_.parent == root.id) }
    Map(
      "sql.plan_ms_p50" -> p50(named("sql.plan")),
      "sql.exec_ms_p50" -> p50(exec),
      "sql.exec_ms_p95" -> p95(exec),
      "spark.jobs_per_query" -> queries.map(_.map(_.jobs).sum).sum / n,
      "spark.tasks_per_query" -> queries.map(_.map(_.tasks).sum).sum / n,
      "spark.shuffle_bytes_per_query" -> queries.map(_.map(_.shuffleBytes).sum).sum / n,
      "tables.rows_scanned_per_row_returned" -> scanned.toDouble / math.max(1L, returned),
      "codegen.compiles_per_query" -> top.map(_.map(_.compiles).sum).sum / n,
      "codegen.compile_ms_per_query" -> top.map(_.map(_.compileMs).sum).sum / n)
  }
}

/** North-star dedup: one near-duplicate keep list over a seeded corpus with
  * planted clusters per operation (`Dedup.nearDupKeepListResult`). The
  * first keep list goes to the Python side, which checks it and scores F1
  * against the planted clusters; every repeat must match it. In traced
  * mode the same pipeline runs stage by stage, each stage materialized in
  * its own span. */
final class DedupBench(p: Params, work: String, tr: Tracer) extends Bench {
  private val n = p.int("shingle")
  private val minJ = p.dbl("min_jaccard")
  private val hashes = p.int("num_hashes")
  private val rows = p.int("rows_per_band")
  private var docs: DataFrame = _
  private var first: String = _
  // (candidate pairs, verified pairs) of the last traced keep list
  private var counts = (0L, 0L)

  def load(spark: SparkSession): Unit = {
    docs = spark.read.parquet(p.str("docs_path")).cache()
    docs.count()
  }

  def warmup(spark: SparkSession): Unit = keepList()

  private def keepList(): Array[Long] =
    if (!tr.enabled) {
      val r = Dedup.nearDupKeepListResult(docs, "doc_id", "text", n, minJ, hashes, rows)
      val ids = r.keep.collect().map(_.getLong(0))
      r.release()
      ids
    } else tracedKeepList()

  private def tracedKeepList(): Array[Long] = {
    def stage(name: String)(df: => DataFrame): (DataFrame, Long) =
      tr.span(name) { val d = df.cache(); (d, d.count()) }
    val (sh, _) = stage("operators.Dedup.shingle")(Dedup.shingleRows(docs, "doc_id", "text", n))
    val (sig, _) = stage("operators.Dedup.signature")(Dedup.signaturesFromShingles(sh, "doc_id", hashes))
    val (bands, _) = stage("operators.Dedup.band")(Dedup.lshBands(sig, "doc_id", hashes, rows))
    val (cand, nCand) = stage("operators.Dedup.candidate")(Dedup.candidatesFromBands(bands, "doc_id"))
    val (ver, nVer) = stage("operators.Dedup.verify")(Dedup.verifyCandidates(cand, sh, "doc_id", minJ))
    val dropped = tr.span("operators.Graph.components") {
      val cc = Graph.connectedComponentsResult(
        ver.select(col("id_a").as("src"), col("id_b").as("dst")), edgesAreDistinctPairs = true)
      val d = cc.labels.filter(col("component") =!= col("v")).select(col("v")).collect()
        .map(_.getLong(0)).toSet
      cc.release()
      d
    }
    val ids = tr.span("harness.keep") {
      docs.select("doc_id").collect().map(_.getLong(0)).filterNot(dropped)
    }
    Seq(sh, sig, bands, cand, ver).foreach(_.unpersist())
    counts = (nCand, nVer)
    ids
  }

  def op(spark: SparkSession, i: Int): OpRec = {
    val (ids, ms) = Main.timed(keepList())
    val d = digest(ids.map(_.toString).toSeq)
    if (first == null) {
      first = d
      OpRec("keep_list", ms, extra = Map("keep" -> ids.sorted.toSeq, "candidates" -> counts._1,
        "verified" -> counts._2))
    } else OpRec("keep_list", ms, ok = d == first, err = if (d == first) "" else "keep list changed",
      extra = Map("candidates" -> counts._1, "verified" -> counts._2))
  }

  def perLayer(ops: Seq[(OpRec, Span)]): Map[String, Double] = {
    val cand = p50(ops.map(_._1.extra("candidates").asInstanceOf[Long].toDouble))
    val ver = p50(ops.map(_._1.extra("verified").asInstanceOf[Long].toDouble))
    Seq("shingle", "signature", "band", "candidate", "verify")
      .map(s => s"operators.Dedup.${s}_s" -> spanSeconds(tr, ops, s"operators.Dedup.$s")).toMap ++ Map(
      "operators.Graph.components_s" -> spanSeconds(tr, ops, "operators.Graph.components"),
      "dedup.candidate_pairs" -> cand,
      "dedup.verify_yield" -> (if (cand > 0) ver / cand else 0.0))
  }
}

/** North-star similarity search: an `IvfAdcIndex` built once in set-up,
  * then a seeded sequence of k-NN query batches with append / delete
  * write batches (and periodic compaction) interleaved, one client. Every
  * answer is checked for shape and for deleted or unknown ids here; the
  * Python side scores recall@k against exact brute force. */
final class AnnServeBench(p: Params, work: String, tr: Tracer) extends Bench {
  private val k = p.int("k")
  private val candidates = p.int("candidates")
  private val nprobe = p.int("nprobe")
  private val seq = p.list("ops")
  private var corpus, queries, appends, deletes: DataFrame = _
  private var idx: IvfAdcIndex = _
  private var queryIds, appendIds, deleteIds: Map[Int, Array[Long]] = Map.empty
  private val live = mutable.HashSet[Long]()
  private var indexBytes = 0.0

  override def maxOps: Int = seq.size

  private def byBatch(df: DataFrame): Map[Int, Array[Long]] =
    df.select("batch", "vec_id").collect().groupBy(_.getInt(0)).map { case (b, rs) =>
      b -> rs.map(_.getLong(1))
    }

  def load(spark: SparkSession): Unit = {
    def read(name: String) = {
      val df = spark.read.parquet(s"${p.str("dir")}/$name.parquet").cache()
      df.count()
      df
    }
    corpus = read("corpus"); queries = read("queries")
    appends = read("appends"); deletes = read("deletes")
    queryIds = byBatch(queries); appendIds = byBatch(appends); deleteIds = byBatch(deletes)
    live.clear()
    live ++= corpus.select("vec_id").collect().map(_.getLong(0))
    val before = storedBytes(spark)
    idx = tr.span("operators.IvfAdcIndex.build") {
      IvfAdcIndex.build(corpus, "vec_id", "embedding", p.int("nlist"), p.int("train_rounds"),
        p.int("m"), p.int("ksub"), p.int("dim"), p.int("pq_train_rounds"))
    }
    indexBytes = (storedBytes(spark) - before) / live.size
  }

  private def storedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble

  def warmup(spark: SparkSession): Unit = search(0)

  private var codesScanned = 0L

  private def search(b: Int): Array[Row] = tr.span("operators.IvfAdcIndex.query") {
    val df = idx.query(queries.filter(col("batch") === b), k, candidates, nprobe)
      .select("qid", "nid", "rank")
    val rows = df.collect()
    if (tr.enabled) codesScanned = scannedRows(df, "code0")
    rows
  }

  private def swap(name: String)(next: => IvfAdcIndex): Unit = {
    val n = tr.span(name)(next)
    idx.release()
    idx = n
  }

  def op(spark: SparkSession, i: Int): OpRec = {
    val o = seq(i)
    val b = o.get("batch").asInt()
    o.get("kind").asText() match {
      case "search" =>
        val (rows, ms) = Main.timed(search(b))
        val byQ = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
        }
        val bad = byQ.collect {
          case (q, ns) if ns.size != k || ns.distinct.size != k => s"query $q: ${ns.size} neighbours"
          case (q, ns) if !ns.forall(live) => s"query $q: deleted or unknown id"
        }
        val nq = queryIds(b).length
        val err = (if (byQ.size != nq) Seq(s"${byQ.size} of $nq queries answered") else Nil) ++ bad
        OpRec("search", ms, ok = err.isEmpty, err = err.mkString("; "),
          extra = Map("seq" -> i, "batch" -> b, "rows" -> rows.length, "codes_scanned" -> codesScanned,
            "answer" -> byQ.toSeq.sortBy(_._1).map { case (q, ns) => q.toString -> ns }.toMap))
      case "append" =>
        val (_, ms) = Main.timed(swap("operators.IvfAdcIndex.append") {
          idx.append(appends.filter(col("batch") === b).drop("batch"))
        })
        live ++= appendIds(b)
        OpRec("append", ms, extra = Map("seq" -> i))
      case "delete" =>
        val (_, ms) = Main.timed(swap("operators.IvfAdcIndex.delete") {
          idx.delete(deletes.filter(col("batch") === b), "vec_id")
        })
        live --= deleteIds(b)
        OpRec("delete", ms, extra = Map("seq" -> i))
      case "compact" =>
        val (_, ms) = Main.timed(swap("operators.IvfAdcIndex.compact")(idx.compact()))
        OpRec("compact", ms, extra = Map("seq" -> i))
    }
  }

  /** Exact neighbours of the first query batch over the base corpus from
    * the engine's own brute force, so the Python recall reference can be
    * checked against it. */
  override def finish(spark: SparkSession): Map[String, Any] = {
    val exact = Similarity.bruteForceKnn(queries.filter(col("batch") === 0), corpus,
        "vec_id", "embedding", k)
      .select("qid", "nid", "rank").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q.toString -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      }
    Map("brute_force_batch0" -> exact)
  }

  def perLayer(ops: Seq[(OpRec, Span)]): Map[String, Double] = {
    def kindMs(kind: String) = ops.map(_._1).filter(_.kind == kind).map(_.ms)
    val searches = ops.filter(_._1.kind == "search").map { case (_, root) => tr.subtree(root) }
    val n = math.max(1, searches.size).toDouble
    val results = ops.filter(_._1.kind == "search").map(_._1.extra("rows").asInstanceOf[Int]).sum
    val query = kindMs("search")
    val build = tr.named("operators.IvfAdcIndex.build")
    Map(
      "operators.IvfAdcIndex.build_s" -> (if (build.isEmpty) 0.0 else build.last.ms / 1e3),
      "operators.IvfAdcIndex.query_ms_p50" -> p50(query),
      "operators.IvfAdcIndex.query_ms_p95" -> p95(query),
      "operators.IvfAdcIndex.append_ms_p50" -> p50(kindMs("append")),
      "operators.IvfAdcIndex.delete_ms_p50" -> p50(kindMs("delete")),
      "operators.IvfAdcIndex.compact_ms" -> p50(kindMs("compact")),
      "spark.jobs_per_search" -> searches.map(_.map(_.jobs).sum).sum / n,
      "spark.tasks_per_search" -> searches.map(_.map(_.tasks).sum).sum / n,
      "ann.codes_scanned_per_result" -> ops.filter(_._1.kind == "search")
        .map(_._1.extra("codes_scanned").asInstanceOf[Long]).sum.toDouble / math.max(1, results),
      "ann.index_bytes_per_vector" -> indexBytes)
  }
}
