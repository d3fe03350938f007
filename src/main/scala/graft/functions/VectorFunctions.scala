package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math for similarity search over `array<float>` embedding columns.
  *
  * Cross-engine determinism strategy: quantize floats to integers
  * (`floor(x * 1000)`) first. Integer-valued accumulation is exact and
  * order-independent, so dot products / norms are bit-identical regardless
  * of engine or partitioning; the final cosine is then a fixed sequence of
  * correctly-rounded IEEE ops (double multiply, sqrt, divide) on identical
  * inputs. This also makes LSH bucket assignment exactly reproducible — a
  * float-accumulation LSH could flip sign bits between engines.
  *
  * Scale: quantize/norm are narrow per-row maps computed once per vector;
  * pairwise scoring joins should pre-project (id, qvec, norm) so the shuffle
  * carries 8·dim bytes per row and nothing recomputes norms per pair.
  */
object VectorFunctions {

  /** Quantize an array<float> to array<long> at fixed scale. floor (not
    * round) — floor is unambiguous on every non-integral double in every
    * engine. Codegen'd (FloatArrayQuantize); the declarative form is kept
    * as quantizeHof for equivalence tests. */
  def quantize(v: Column, scale: Int = 1000): Column =
    graft.plans.GraftFunctions.quantizeFloat(v, scale)

  /** Declarative reference implementation of [[quantize]] (kept for
    * equivalence testing of the custom expression). */
  def quantizeHof(v: Column, scale: Int = 1000): Column =
    transform(v, x => floor(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two array<long> columns — backed by the
    * codegen'd LongArrayDot expression (tight Java loop in whole-stage
    * codegen; ~10× the declarative zip_with+aggregate form on the n²
    * similarity path). */
  def dot(a: Column, b: Column): Column = graft.plans.GraftFunctions.dotLong(a, b)

  /** Declarative reference implementation of [[dot]] (kept for equivalence
    * testing of the custom expression). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact squared L2 norm of an array<long> column. */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine from a precomputed exact dot and squared norms: one double
    * multiply, one sqrt, one divide — bit-identical across engines. */
  def cosine(dotAB: Column, normSqA: Column, normSqB: Column): Column =
    dotAB.cast("double") / sqrt(normSqA.cast("double") * normSqB.cast("double"))

  /** Deterministic ±1 random-projection matrix (`rows` × `dim`), the
    * signed-pool sketch that cuts embedding width before ANN (Achlioptas-
    * style database-friendly projection: E[⟨Rx, Ry⟩] ∝ ⟨x, y⟩). Sign(j, i)
    * comes from the first hex digit of md5(j·dim + i) (< '8' → +1), so the
    * matrix is reproducible in ANY engine from the same decimal string —
    * DuckDB's md5 of CAST(j*dim+i AS VARCHAR) yields the same digit. The
    * matrix is O(rows·dim) — driver-held and embedded as literals, the
    * k-means-centroid argument; the projection itself is then a NARROW
    * per-row map (no join against a matrix table, no fan-out). */
  def signMatrix(rows: Int, dim: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until rows).map { j =>
      (0 until dim).map { i =>
        val h = md.digest(String.valueOf(j * dim + i).getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
      }
    }
  }

  /** Project a quantized array<long> vector onto [[signMatrix]] rows: one
    * codegen'd exact integer dot per output component (LongArrayDot with a
    * literal row — a tight Java loop inside whole-stage codegen). */
  def randomProject(q: Column, rows: Int, dim: Int): Column =
    array(signMatrix(rows, dim).map(row =>
      dot(q, org.apache.spark.sql.functions.typedlit(row))): _*)

  /** Random-hyperplane LSH bucket over a quantized vector column named
    * `qCol` (array<bigint>): `planes` sign bits packed into a BIGINT.
    * Hyperplane weights are a deterministic integer pseudo-sequence
    * `(p*73856093 + d*19349663) % 2001 - 1000`, so bucket assignment is
    * exactly reproducible in any engine (all-integer math). Backed by the
    * codegen'd [[graft.plans.LshBucket]] (tight planes×dim loop; the
    * declarative form below runs planes×dim interpreted lambdas per row —
    * per-vector cost that multiplies by 10⁹ at corpus scale). */
  def lshBucketExpr(qCol: String, planes: Int, dim: Int): Column =
    graft.plans.GraftFunctions.lshBucket(expr(qCol), planes, dim)

  /** Declarative reference implementation of [[lshBucketExpr]] (kept for
    * equivalence testing of the custom expression). Expressed as one SQL
    * expression because lambda-bound variables can't cross the Scala-DSL
    * `shiftleft` signature (Int-only); still a pure Catalyst tree. */
  def lshBucketHof(qCol: String, planes: Int, dim: Int): Column =
    expr(
      s"""aggregate(sequence(0, ${planes - 1}), CAST(0 AS BIGINT), (acc, p) -> acc +
         |  IF(aggregate(sequence(0, ${dim - 1}), CAST(0 AS BIGINT),
         |       (a2, d) -> a2 + $qCol[d] *
         |         ((CAST(p AS BIGINT) * 73856093 + CAST(d AS BIGINT) * 19349663) % 2001 - 1000)) >= 0,
         |     shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))""".stripMargin)
}
