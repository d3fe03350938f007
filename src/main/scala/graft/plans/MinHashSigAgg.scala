package graft.plans

import graft.operators.Dedup
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** TypedImperativeAggregate computing a whole MinHash signature in ONE
  * aggregation buffer: an Array[Long] of `numHashes` minima over the
  * rotate-xor hash family (Dedup.mhRot/mhSeed — identical values to the 16
  * separate `min(...)` expressions it replaces).
  *
  * Why a custom aggregate: one fixed-width object buffer per group instead
  * of numHashes separate aggregation expressions — the planner runs it in
  * ObjectHashAggregateExec with a single update call per row, and the
  * partial-merge shuffle carries one array column. This is the
  * `TypedImperativeAggregate` slot of SURVEY.md §2.12's extension table
  * (sketch-style aggregates for 100 TB dedup).
  *
  * Input: the 60-bit base hash (BIGINT) per shingle row. Output:
  * array<bigint> of length numHashes.
  */
case class MinHashSigAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  private val rots = Array.tabulate(numHashes)(Dedup.mhRot)
  private val seeds = Array.tabulate(numHashes)(Dedup.mhSeed)

  override def children: Seq[Expression] = Seq(child)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires a BIGINT base hash, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val base = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val r = rots(i)
        // 60-bit rotate-left by r, then xor — matches Dedup.mhExprDuck
        val h = (((base % (1L << (60 - r))) << r) | (base >> (60 - r))) ^ seeds(i)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    if (buf.forall(_ == Long.MaxValue)) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(numHashes * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashSigAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashSigAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSigAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_minhash"
}
