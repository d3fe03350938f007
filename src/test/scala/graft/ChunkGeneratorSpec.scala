package graft

import graft.operators.ChunkingOps
import org.apache.spark.sql.functions._

/** Token chunking (sequence/slice/posexplode) on edge documents, and the
  * q296 packing audit. */
class ChunkGeneratorSpec extends SparkTestBase {

  test("generator handles edge documents (single token, exact multiple)") {
    import spark.implicits._
    val edge = Seq((1L, "solo"), (2L, (1 to 32).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = edge.select(col("doc_id"),
        posexplode(ChunkingOps.chunks(col("text"), 32, 16)).as(Seq("chunk_idx", "chunk_text")))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // doc 1: one chunk; doc 2: starts at 0 and 16 (16 < 32 tokens)
    assert(rows.count(_._1 == 1L) === 1)
    assert(rows.count(_._1 == 2L) === 2)
  }

  test("q296 packing audit: token totals reconcile with the corpus and " +
    "every span is sane (the hash gate can't see the invariants)") {
    import graft.functions.TextFunctions
    val docs = Tables.t(spark, Sf, "documents")
    val out = SparkEntry.queries("q296_pack_sequences")(spark, Sf).collect()
    val totalTok = docs
      .select(sum(size(TextFunctions.tokens(col("text")))).cast("long"))
      .head().getLong(0)
    assert(out.map(_.getAs[Long]("n_tokens")).sum === totalTok,
      "per-source token totals must reconcile with the corpus")
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count())
    out.foreach { r =>
      assert(r.getAs[Long]("n_split_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("max_windows_spanned") >= 1L)
    }
    // the packing order is md5-keyed, not source-keyed: at least one
    // source must actually have a boundary-split doc on this fixture
    assert(out.map(_.getAs[Long]("n_split_docs")).sum > 0L,
      "fixture should produce at least one split doc")
  }
}
