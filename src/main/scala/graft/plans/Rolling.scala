package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ExpandExec, FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** One trailing-window statistic of a [[Rolling]] node: `how` over the
  * last `window` rows of `child` in the node's row order, output as
  * `name`. `how` is one of sum, count, min, max, mean, var, std, median
  * or quantile (`q` is the quantile's fraction; median is SQL MEDIAN's
  * even-n midpoint), or one of the two value hows:
  *   - lag: the value `window − 1` rows back, of the input's type;
  *     `fill` (a Catalyst value of that type, null for none) where that
  *     row does not exist — a null value stays null;
  *   - array: the window's values oldest first as `array<type>`, always
  *     `window` long, the slots before the first row set to `fill`.
  * Named like an Alias, but never evaluated itself:
  * [[graft.operators.RollingExec]] computes it. */
case class RollingSpec(child: Expression, how: String, window: Int, q: Double, fill: Any,
                       name: String)(val exprId: ExprId = NamedExpression.newExprId)
  extends UnaryExpression with NamedExpression with Unevaluable {

  override def qualifier: Seq[String] = Nil
  override def nullable: Boolean = how != "count" && how != "array"
  override def dataType: DataType = RollingSpec.outType(how, child.dataType)
  override def toAttribute: Attribute = AttributeReference(name, dataType, nullable)(exprId)
  override def newInstance(): NamedExpression = copy()(NamedExpression.newExprId)
  override protected final def otherCopyArgs: Seq[AnyRef] = exprId :: Nil
  override def equals(other: Any): Boolean = other match {
    case s: RollingSpec => child == s.child && how == s.how && window == s.window &&
      q == s.q && fill == s.fill && name == s.name && exprId == s.exprId
    case _ => false
  }
  override def hashCode(): Int = (child, how, window, q, fill, name, exprId).##
  override def toString: String = {
    val arg = if (how == "quantile") s", $q" else if (fill != null) s", fill $fill" else ""
    s"$how($child, $window$arg) AS $name#${exprId.id}"
  }
  override protected def withNewChildInternal(newChild: Expression): RollingSpec =
    copy(child = newChild)(exprId)
}

object RollingSpec {
  val Hows: Set[String] =
    Set("sum", "count", "min", "max", "mean", "var", "std", "median", "quantile", "lag", "array")

  /** Spark's `Sum` result type: decimal(min(p+10, 38), s), long for
    * integrals, double otherwise. */
  def sumType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(math.min(d.precision + 10, 38), d.scale)
    case ByteType | ShortType | IntegerType | LongType => LongType
    case _ => DoubleType
  }

  def outType(how: String, in: DataType): DataType = how match {
    case "sum" => sumType(in)
    case "count" => LongType
    case "min" | "max" | "lag" => in
    case "array" => ArrayType(in, containsNull = true)
    case _ => DoubleType
  }
}

/** Trailing-window statistics over a dense 0-based `rowIndex`:
  * `child.output ++ specs` per row, rows and child columns unchanged.
  * The windows trail in ascending index order, or with `descending`
  * in descending order, where a trailing window is a leading one of
  * the index: a lag is then a lead, and an array the rows from the
  * current one forward (set by the call, e.g. a negative shift). Planned
  * by [[RollingStrategy]] as one streaming pass
  * ([[graft.operators.RollingExec]]). Spark pushes no filter, limit or
  * sample through a node it does not know, which is what keeps a
  * predicate on any column above this one: below it, it would change
  * the windows. */
case class Rolling(specs: Seq[RollingSpec], rowIndex: Expression, blockSize: Long,
                   validate: Boolean, descending: Boolean, child: LogicalPlan)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ specs.map(_.toAttribute)
  override def producedAttributes: AttributeSet = AttributeSet(specs.map(_.toAttribute))
  override def maxRows: Option[Long] = child.maxRows

  /** Rows each block takes from its predecessor: max(window) − 1. */
  def carryRows: Int = specs.map(_.window).max - 1

  // QueryPlan normalizes the exprIds of Aliases only: renumber the
  // specs' too, so that two equal nodes are sameResult (cache lookup)
  override protected def doCanonicalize(): LogicalPlan = {
    val c = super.doCanonicalize().asInstanceOf[Rolling]
    c.copy(specs = c.specs.zipWithIndex.map { case (s, i) => s.copy()(ExprId(i)) })
  }

  override protected def withNewChildInternal(newChild: LogicalPlan): Rolling =
    copy(child = newChild)
}

/** Merges `Rolling(s2, Rolling(s1, c))`, optionally with a projection
  * of plain attributes in between, into one `Rolling(s1 ++ s2, c)`
  * (after Spark's CollapseWindow): same row index, block size,
  * validation and direction, and no `s2` spec reads an `s1` output.
  * Windows may differ; the merged node carries max(window) − 1 rows
  * per block. */
object CollapseRolling extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r2 @ Rolling(_, _, _, _, _, r1: Rolling) if mergeable(r1, r2) =>
      r1.copy(specs = r1.specs ++ r2.specs)
    case r2 @ Rolling(_, _, _, _, _, Project(list, r1: Rolling))
        if list.forall(_.isInstanceOf[Attribute]) && mergeable(r1, r2) =>
      Project(list ++ r2.specs.map(_.toAttribute), r1.copy(specs = r1.specs ++ r2.specs))
  }

  private def mergeable(r1: Rolling, r2: Rolling): Boolean =
    r1.rowIndex.semanticEquals(r2.rowIndex) && r1.blockSize == r2.blockSize &&
      r1.validate == r2.validate && r1.descending == r2.descending &&
      r2.specs.forall(_.references.intersect(r1.producedAttributes).isEmpty)
}

/** Plans [[Rolling]] as [[graft.operators.RollingExec]] over a framed
  * child: every row is tagged with its block `__blk = rowIndex div
  * blockSize`, and the max(window) − 1 rows of each block nearest its
  * successor in the node's order are duplicated into that successor as
  * carry rows (one Expand, one Filter): ascending, the LAST rows of
  * block b go to b + 1; descending, the FIRST rows of block b go to
  * b − 1, kept only for blocks ≥ 0. The exec's required distribution
  * and ordering then make EnsureRequirements add one hash exchange on
  * `__blk` and one local sort on (`__blk`, rowIndex in the node's
  * direction). */
object RollingStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: Rolling =>
      val child = planLater(r.child)
      val ri = if (r.rowIndex.dataType == LongType) r.rowIndex else Cast(r.rowIndex, LongType)
      val bs = Literal(r.blockSize)
      val own = IntegralDivide(ri, bs)
      val blk = AttributeReference("__blk", LongType)()
      val framed =
        if (r.carryRows == 0) ProjectExec(child.output :+ Alias(own, blk.name)(blk.exprId), child)
        else {
          val isCarry = AttributeReference("__carry", BooleanType, nullable = false)()
          val pos = Remainder(ri, bs)
          val (to, sends) =
            if (r.descending) (Subtract(own, Literal(1L)),
              And(LessThan(pos, Literal(r.carryRows.toLong)), GreaterThanOrEqual(blk, Literal(0L))))
            else (Add(own, Literal(1L)),
              GreaterThanOrEqual(pos, Literal(r.blockSize - r.carryRows)))
          val expand = ExpandExec(Seq(
              child.output ++ Seq(own, Literal(false)),
              child.output ++ Seq(to, Literal(true))),
            child.output ++ Seq(blk, isCarry), child)
          ProjectExec(child.output :+ blk, FilterExec(Or(Not(isCarry), sends), expand))
        }
      graft.operators.RollingExec(r.specs, r.rowIndex, r.blockSize, r.validate, r.descending,
        blk, framed) :: Nil
    case _ => Nil
  }
}
