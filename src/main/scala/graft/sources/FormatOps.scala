package graft.sources

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Columnar / line-oriented interchange round-trips, oracle-gated.
  *
  * The reference's only interchange surface is CSV (Readme.md:11, covered
  * byte-exactly by OsmCsv + GoldenWaysSpec); a training-data pipeline adds
  * two more staples: ORC (the second columnar format next to parquet) and
  * JSONL (the de-facto corpus interchange format — one JSON object per
  * line). Both gates push the FULL documents table through the format and
  * hash every value that comes back, so any fidelity loss — encoding,
  * integer widening, partition-column round-trip, null handling — breaks
  * the md5 compare against the parquet-derived oracle.
  *
  * Scale shape: writes are per-partition parallel (one file per task, no
  * coordination), reads are splittable scans. ORC is written PARTITIONED
  * BY source, so the read-back also exercises directory-partition pruning
  * — the layout a 100 TB corpus store actually uses. JSONL is written
  * plain and read with an EXPLICIT schema: schema inference over JSON is a
  * full extra pass over the data and is the classic accidental 2× scan at
  * scale.
  */
object FormatOps {

  private val DocsSql =
    "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"

  private def docCols = Seq(
    col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))

  // dir|format -> the ONE temp dir this JVM writes that round-trip into
  // (each invocation overwrite-writes the same dir — the write is the
  // operator under test — but repeated passes in one JVM must not
  // accumulate a fresh full-table copy per call)
  private val rtDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def rtDir(d: String, fmt: String): String =
    // canonical path, not the raw string: '/x/sf0.1' and '/x/sf0.1/' must
    // hit the SAME cache entry, or each variant materializes its own
    // full-table copy in /tmp
    rtDirs.computeIfAbsent(s"${new java.io.File(d).getCanonicalPath}|$fmt",
      _ => graft.TempDirs.create(s"graft-$fmt").toString)

  val defs: Seq[Q] = Seq(

    // ---- ORC round-trip, partitioned by source: the partition column
    //      leaves the row payload on write (becomes a directory key) and
    //      must come back value-identical on read; doc_id/n_chars must
    //      come back as the same int64. ----
    Q("q144_orc_roundtrip", DocsSql) { (s, d) =>
      val tmp = rtDir(d, "orc")
      Tables.t(s, d, "documents")
        .write.mode("overwrite").partitionBy("source").orc(tmp)
      s.read.orc(tmp)
        // partition-column type inference would read 'src0' back as a
        // string anyway, but pin it: a numeric-looking partition value
        // (source='123') would otherwise silently come back as INT
        .withColumn("source", col("source").cast("string"))
        .select(docCols: _*)
        .orderBy("doc_id")
    },

    // ---- JSONL round-trip: one JSON object per line, read back with the
    //      writer's schema (NO inference — that is a second full scan at
    //      corpus scale). Gates string escaping and int64 fidelity
    //      (doc_id must not round-trip through a double). ----
    Q("q145_jsonl_roundtrip", DocsSql) { (s, d) =>
      val tmp = rtDir(d, "jsonl")
      val docs = Tables.t(s, d, "documents")
      docs.write.mode("overwrite").json(tmp)
      s.read.schema(docs.schema).json(tmp)
        .select(docCols: _*)
        .orderBy("doc_id")
    }
  )
}
