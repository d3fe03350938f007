package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.StructType

/** One table's shaper as a chain of row operators, bound without query
  * planning. It is the analyzed plan of a frame built by the table's Column
  * code over an empty `LocalRelation`, so that code stays the only
  * definition of the table. The plan may hold only `Project`, `Filter`,
  * `Generate` (not outer) and `SubqueryAlias` nodes; any other node is
  * refused.
  *
  * The analyzed plan is used, not the optimized one: the optimizer folds
  * any plan over an empty relation into an empty relation. Two of its
  * rules are applied: `ReplaceExpressions`, because a runtime-replaceable
  * expression cannot be evaluated as analyzed, and `CollapseProject`,
  * which merges adjacent projections. Each projection is one generated
  * class and one row copy, and the merge halves both (15 → 8 classes for
  * the five tables).
  *
  * A task binds the chain once ([[bind]]) and pushes each input row, in
  * the relation's column order, through it to a sink of rows of `schema`. */
private[graft] final class Shaper private (steps: List[Shaper.Step], val schema: StructType)
    extends Serializable {

  /** A function that pushes every shaped row of one input row to `out`.
    * A shaped row is valid only until `out` returns. */
  def bind(partition: Int, out: InternalRow => Unit): InternalRow => Unit =
    steps.foldRight(out)(_.bind(partition, _))
}

private[graft] object Shaper {

  def apply(df: DataFrame): Shaper = {
    val plan = CollapseProject(ReplaceExpressions(df.queryExecution.analyzed))
    // leaf first: a node's step is consed on before its child is walked
    def walk(p: LogicalPlan, above: List[Step]): List[Step] = p match {
      case _: LocalRelation => above
      case Project(list, child) => walk(child, Select(list, child.output) :: above)
      case Filter(cond, child) => walk(child, Where(cond, child.output) :: above)
      case Generate(gen, Nil, false, _, _, child) => walk(child, Explode(gen, child.output) :: above)
      case SubqueryAlias(_, child) => walk(child, above)
      case other => throw new IllegalArgumentException(
        s"a shaper is Project, Filter and Generate over a LocalRelation; found ${other.nodeName} in\n$plan")
    }
    new Shaper(walk(plan, Nil), df.schema)
  }

  sealed trait Step extends Serializable {
    def bind(partition: Int, next: InternalRow => Unit): InternalRow => Unit
  }

  final case class Select(exprs: Seq[Expression], in: Seq[Attribute]) extends Step {
    def bind(partition: Int, next: InternalRow => Unit): InternalRow => Unit = {
      val p = UnsafeProjection.create(exprs, in)
      p.initialize(partition)
      r => next(p(r))
    }
  }

  final case class Where(cond: Expression, in: Seq[Attribute]) extends Step {
    def bind(partition: Int, next: InternalRow => Unit): InternalRow => Unit = {
      val p = Predicate.create(cond, in)
      p.initialize(partition)
      r => if (p.eval(r)) next(r)
    }
  }

  /** Each generated row after its input row's columns, as `Generate`
    * outputs them. */
  final case class Explode(gen: Generator, in: Seq[Attribute]) extends Step {
    def bind(partition: Int, next: InternalRow => Unit): InternalRow => Unit = {
      val g = BindReferences.bindReference(gen, in)
      val joined = new JoinedRow
      r => g.eval(r).iterator.foreach(x => next(joined(r, x)))
    }
  }
}
