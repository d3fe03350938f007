package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-level and SQL-level surface for graft's custom Catalyst
  * expressions. */
object GraftFunctions {

  /** Codegen'd exact dot product of two array<bigint> columns. */
  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(
      LongArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd float→long quantization (floor(x*scale)) of an array<float>. */
  def quantizeFloat(v: Column, scale: Int): Column =
    ColumnBridge.column(FloatArrayQuantize(ColumnBridge.expression(v), scale))

  /** Distinct word-shingle generator — use with multi-alias:
    * df.select(col("id"), shingleRows(col("text"), 3).as(Seq("s", "ns"))) */
  def shingleRows(text: Column, n: Int, distinct: Boolean = true): Column =
    ColumnBridge.column(WordShingleRows(ColumnBridge.expression(text), n, distinct))

  /** Winnowing fingerprint generator — one row per distinct fingerprint:
    * df.select(col("id"), winnowRows(col("text"), 8, 4).as("fp")) */
  def winnowRows(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowRows(ColumnBridge.expression(text), k, w))

  /** Greedy-MMR pick generator over ONE query's collected candidate
    * array — use with multi-alias:
    * df.select(col("qid"), mmrGreedy(col("cands"), 5, 1L, 1L)
    *   .as(Seq("nid", "step"))) */
  def mmrGreedy(cands: Column, k: Int, wRel: Long, wDiv: Long): Column =
    ColumnBridge.column(
      MmrGreedyRows(ColumnBridge.expression(cands), k, wRel, wDiv))

  /** Codegen'd hyperplane-LSH bucket of a quantized array<bigint> vector. */
  def lshBucket(q: Column, planes: Int, dim: Int): Column =
    ColumnBridge.column(LshBucket(ColumnBridge.expression(q), planes, dim))

  /** Codegen'd Unicode NFC normalization (zero-alloc on normalized input). */
  def nfc(s: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(s)))

  /** Whole-MinHash-signature aggregate over a BIGINT base-hash column. */
  def minhashSig(baseHash: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSigAgg(ColumnBridge.expression(baseHash), numHashes)
        .toAggregateExpression())

  /** Register the SQL surface: graft_dot(a, b), graft_quantize(v, scale). */
  def register(spark: SparkSession): Unit = {
    val reg = ColumnBridge.functionRegistry(spark)
    reg.createOrReplaceTempFunction("graft_dot",
      exprs => LongArrayDot(exprs.head, exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_quantize",
      exprs => FloatArrayQuantize(exprs.head,
        exprs(1).eval(null).asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("graft_lsh_bucket",
      exprs => LshBucket(exprs.head,
        exprs(1).eval(null).asInstanceOf[Number].intValue(),
        exprs(2).eval(null).asInstanceOf[Number].intValue()), "built-in")
    reg.createOrReplaceTempFunction("graft_nfc",
      exprs => NfcNormalize(exprs.head), "built-in")
  }
}
