package graft.functions

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Block-array generators for the OrderedOps rolling operators.
  *
  * Trailing-window statistics are computed with ONE row per BLOCK: the
  * block's rows arrive as a collected array (`collect_list` over the
  * `__blk` hash exchange), the previous block's w−1 boundary rows
  * arrive as a second tiny array joined on the block id (nBlocks rows,
  * not nRows), and a flat JVM loop emits every output row with its
  * statistics — per-block sort paid once, per-row work O(window), no
  * WindowExec, no per-row carry join.
  *
  * Memory: one block's rows are materialized per task — the same bound
  * as a WindowExec over `__blk`, which buffers the whole partition
  * before emitting; callers bound it via blockSize.
  *
  * Aggregation semantics are those of Spark's sliding-frame window
  * aggregates (`rowsBetween(-(w-1), 0)`):
  *   - sum: frame values accumulated left-to-right in window order
  *     (what SlidingWindowFunctionFrame replays); DECIMAL sums are
  *     exact (java BigDecimal, result re-capped to the sum result type
  *     with HALF_UP like CheckOverflow); integral sums widen to long;
  *     float/double sums accumulate in double. Null inputs are
  *     skipped; an all-null window yields null.
  *   - count: non-null count, never null.
  *   - min/max: Spark's interpreted ordering for the input type
  *     (NaN greatest for floats), nulls skipped, all-null window
  *     yields null.
  *
  * Validation (validate = true) preserves the OrderedOps dense-index
  * contract and FAILS LOUDLY on sparse/duplicated indexes, with
  * per-row coverage: every item of block b must sit at exactly
  * `b·blockSize + position` (per-row contiguity — gaps, shifts and
  * duplicates all break it), and a non-first block must receive
  * exactly window−1 carried rows with exactly the indexes
  * `b·blockSize − (window−1) … b·blockSize − 1` (carry provenance —
  * a short, gapped or duplicated predecessor tail is caught, including
  * a duplicate arranged to keep the block max aligned). Residual
  * undetectable case: TRAILING whole blocks missing — indistinguishable
  * from the end of the data.
  */
object RollingBlocks {

  val ReindexMsg: String =
    "OrderedOps.rolling: row_index is not a dense 0-based index " +
      "(filtered or sparse frame) — re-index (extract()) before ordered ops"

  private[functions] def die(): Nothing = throw new IllegalStateException(ReindexMsg)

  /** Materialize + sort a collected struct array by its long `__i`
    * field (ordinal 0). collect_list order is nondeterministic, so
    * the sort re-establishes the block's row order once per block. */
  private[functions] def sortedByIndex(a: ArrayData, arity: Int,
                                       validate: Boolean): Array[InternalRow] = {
    val n = a.numElements()
    val rows = new Array[InternalRow](n)
    var k = 0
    while (k < n) {
      rows(k) = a.getStruct(k, arity)
      if (validate && rows(k).isNullAt(0)) die()
      k += 1
    }
    java.util.Arrays.sort(rows, new java.util.Comparator[InternalRow] {
      override def compare(x: InternalRow, y: InternalRow): Int =
        java.lang.Long.compare(x.getLong(0), y.getLong(0))
    })
    rows
  }

  /** Dense-index checks for one block (see class doc). */
  private[functions] def validateBlock(rows: Array[InternalRow],
                                       carry: Array[InternalRow],
                                       blkId: Long, blockSize: Long,
                                       window: Int): Unit = {
    val start = blkId * blockSize
    var k = 0
    while (k < rows.length) {
      if (rows(k).getLong(0) != start + k) die()
      k += 1
    }
    if (window > 1 && blkId > 0L) {
      if (carry.length != window - 1) die()
      var j = 0
      while (j < carry.length) {
        if (carry(j).isNullAt(0) || carry(j).getLong(0) != start - (window - 1) + j) die()
        j += 1
      }
    }
  }

  /** Interpolated quantile of vals[0, n) (sorted in place), boxed;
    * null for n == 0. `midpoint = true` is SQL MEDIAN's even-n
    * (a+b)/2 with q pinned 0.5; `false` is numpy-linear
    * `lov + (hiv - lov) * frac` at position q·(n−1). NaN sorts last,
    * matching Spark's NaN-greatest double ordering. */
  def quantileOfSorted(vals: Array[Double], n: Int, q: Double,
                       midpoint: Boolean): Any = {
    if (n == 0) return null
    java.util.Arrays.sort(vals, 0, n)
    if (midpoint) {
      val half = n / 2
      if (n % 2 == 1) java.lang.Double.valueOf(vals(half))
      else java.lang.Double.valueOf((vals(half - 1) + vals(half)) / 2.0)
    } else {
      val pos = q * (n - 1).toDouble
      val lo = math.floor(pos).toInt
      val frac = pos - lo.toDouble
      val lov = vals(lo)
      val hiv = vals(math.min(lo + 1, n - 1))
      java.lang.Double.valueOf(lov + (hiv - lov) * frac)
    }
  }

  /** Per-spec sliding-window aggregation kernels over the virtual
    * sequence carry ++ items; `get(j)` yields the (boxed catalyst)
    * value at virtual position j or null. */
  sealed trait AggKernel {
    def compute(get: Int => Any, lo: Int, hi: Int): Any
  }

  /** Overflow follows the session's ANSI setting: ansi on (the Spark 4
    * default this engine runs with) -> SparkArithmeticException like
    * CheckOverflow; ansi off -> null. */
  final class SumDecimalKernel(resP: Int, resS: Int, ansi: Boolean) extends AggKernel {
    def compute(get: Int => Any, lo: Int, hi: Int): Any = {
      var acc: JBigDecimal = null
      var j = lo
      while (j <= hi) {
        val v = get(j)
        if (v != null) {
          val b = v.asInstanceOf[Decimal].toJavaBigDecimal
          acc = if (acc == null) b else acc.add(b)
        }
        j += 1
      }
      if (acc == null) null
      else org.apache.spark.sql.graftbridge.Bridge.decimalToPrecision(
        Decimal(acc), resP, resS, nullOnOverflow = !ansi)
    }
  }

  /** Accumulator starts from the FIRST non-null value (not 0.0) like
    * Sum's null-initialized buffer — preserves a -0.0 first value. */
  final class SumDoubleKernel extends AggKernel {
    def compute(get: Int => Any, lo: Int, hi: Int): Any = {
      var acc = 0.0; var seen = false
      var j = lo
      while (j <= hi) {
        val v = get(j)
        if (v != null) {
          val d = v.asInstanceOf[Number].doubleValue()
          if (seen) acc += d else { acc = d; seen = true }
        }
        j += 1
      }
      if (seen) java.lang.Double.valueOf(acc) else null
    }
  }

  final class SumLongKernel(ansi: Boolean) extends AggKernel {
    def compute(get: Int => Any, lo: Int, hi: Int): Any = {
      var acc = 0L; var seen = false
      var j = lo
      while (j <= hi) {
        val v = get(j)
        if (v != null) {
          val l = v.asInstanceOf[Number].longValue()
          acc = if (ansi) Math.addExact(acc, l) else acc + l
          seen = true
        }
        j += 1
      }
      if (seen) java.lang.Long.valueOf(acc) else null
    }
  }

  final class CountKernel extends AggKernel {
    def compute(get: Int => Any, lo: Int, hi: Int): Any = {
      var c = 0L
      var j = lo
      while (j <= hi) { if (get(j) != null) c += 1; j += 1 }
      java.lang.Long.valueOf(c)
    }
  }

  final class MinMaxKernel(dt: DataType, isMin: Boolean) extends AggKernel {
    private val ord = TypeUtils.getInterpretedOrdering(dt)
    def compute(get: Int => Any, lo: Int, hi: Int): Any = {
      var best: Any = null
      var j = lo
      while (j <= hi) {
        val v = get(j)
        if (v != null && (best == null ||
          (if (isMin) ord.lt(v, best) else ord.gt(v, best)))) best = v
        j += 1
      }
      best
    }
  }

  /** Rolling sum result type for an input type. Decimals get Sum's
    * bounded precision+10, plus ONE more digit for window>1
    * (`widened`, both capped at 38) — the output type the rolling
    * sums have always had, kept stable for readers of stored results.
    * Integrals -> long, float/double -> double. */
  def sumResultType(dt: DataType, widened: Boolean): DataType = dt match {
    case d: DecimalType =>
      val p = math.min(d.precision + 10, 38)
      DecimalType(if (widened) math.min(p + 1, 38) else p, d.scale)
    case LongType | IntegerType | ShortType | ByteType => LongType
    case _ => DoubleType
  }

  def kernelFor(how: String, inType: DataType, widened: Boolean,
                ansi: Boolean): AggKernel = how match {
    case "sum" => inType match {
      case d: DecimalType =>
        val rt = sumResultType(d, widened).asInstanceOf[DecimalType]
        new SumDecimalKernel(rt.precision, rt.scale, ansi)
      case LongType | IntegerType | ShortType | ByteType => new SumLongKernel(ansi)
      case _ => new SumDoubleKernel
    }
    case "count" => new CountKernel
    case "min" => new MinMaxKernel(inType, isMin = true)
    case "max" => new MinMaxKernel(inType, isMin = false)
    case other => throw new IllegalArgumentException(s"unknown rolling agg: $other")
  }

  def outTypeFor(how: String, inType: DataType, widened: Boolean): (DataType, Boolean) = how match {
    case "sum" => (sumResultType(inType, widened), true)
    case "count" => (LongType, false)
    case "min" | "max" => (inType, true)
    case other => throw new IllegalArgumentException(s"unknown rolling agg: $other")
  }
}

/** Shared base: items/carry/blk children, block sort + validation,
  * virtual-sequence access. Item struct = (__i: long, payload
  * fields...); carry struct = (__i: long, value fields...). */
abstract class RollingBlockGenerator
    extends Expression with Generator with CodegenFallback {
  def items: Expression
  def carry: Expression
  def blk: Expression
  def window: Int
  def blockSize: Long
  def validate: Boolean
  /** Payload fields of the item struct, EXCLUDING the leading __i. */
  def itemFields: StructType

  override def children: Seq[Expression] = Seq(items, carry, blk)
  override def checkInputDataTypes(): TypeCheckResult = (items.dataType, blk.dataType) match {
    case (ArrayType(s: StructType, _), LongType)
        if s.length == itemFields.length + 1 && s.head.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<__i:long,...>>, array<struct>, long)")
  }

  protected def itemArity: Int = itemFields.length + 1
  protected def carryArity: Int

  /** (sorted items, sorted carry, carry length). */
  protected def stage(input: InternalRow): (Array[InternalRow], Array[InternalRow]) = {
    val itemsData = items.eval(input).asInstanceOf[ArrayData]
    val carryData = carry.eval(input).asInstanceOf[ArrayData]
    val blkId = blk.eval(input).asInstanceOf[Long]
    val rows = RollingBlocks.sortedByIndex(itemsData, itemArity, validate)
    val cr =
      if (carryData == null) Array.empty[InternalRow]
      else RollingBlocks.sortedByIndex(carryData, carryArity, validate)
    if (validate) RollingBlocks.validateBlock(rows, cr, blkId, blockSize, window)
    (rows, cr)
  }
}

/** N trailing rolling aggregates over block arrays — the generator
  * behind OrderedOps.rollingAggMulti.
  * Emits, per block row: the payload fields, then one column per
  * spec. `itemOrds`/`carryOrds` locate each spec's source field
  * inside the item / carry structs (0-based INCLUDING the leading
  * __i field). */
case class RollingBlockAgg(
    items: Expression, carry: Expression, blk: Expression,
    window: Int, blockSize: Long,
    hows: Seq[String], itemOrds: Seq[Int], carryOrds: Seq[Int],
    outNames: Seq[String], itemFields: StructType, carrySchema: StructType,
    validate: Boolean, ansi: Boolean)
  extends RollingBlockGenerator {

  require(hows.length == itemOrds.length && hows.length == carryOrds.length &&
    hows.length == outNames.length, "rolling block agg: spec arity mismatch")

  override protected def carryArity: Int = carrySchema.length

  private def widened: Boolean = window > 1
  private lazy val inTypes: Seq[DataType] = itemOrds.map(o => itemFields(o - 1).dataType)
  private lazy val kernels: Array[RollingBlocks.AggKernel] =
    hows.zip(inTypes).map { case (h, t) =>
      RollingBlocks.kernelFor(h, t, widened, ansi) }.toArray

  override def elementSchema: StructType = StructType(
    itemFields.fields ++ hows.zip(inTypes).zip(outNames).map { case ((h, t), n) =>
      val (dt, nullable) = RollingBlocks.outTypeFor(h, t, widened)
      StructField(n, dt, nullable)
    })

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val (rows, cr) = stage(input)
    val nF = itemFields.length
    val nOut = kernels.length
    val L = cr.length
    val fieldTypes = itemFields.fields.map(_.dataType)
    val inT = inTypes.toArray
    val iOrd = itemOrds.toArray
    val cOrd = carryOrds.toArray
    Iterator.tabulate(rows.length) { k =>
      val out = new Array[Any](nF + nOut)
      val r = rows(k)
      var f = 0
      while (f < nF) {
        out(f) = if (r.isNullAt(f + 1)) null else r.get(f + 1, fieldTypes(f))
        f += 1
      }
      val hi = L + k
      val lo = math.max(0, hi - window + 1)
      var s = 0
      while (s < nOut) {
        val io = iOrd(s); val co = cOrd(s); val dt = inT(s)
        val get: Int => Any = j =>
          if (j < L) { val c = cr(j); if (c.isNullAt(co)) null else c.get(co, dt) }
          else { val it = rows(j - L); if (it.isNullAt(io)) null else it.get(io, dt) }
        out(nF + s) = kernels(s).compute(get, lo, hi)
        s += 1
      }
      new GenericInternalRow(out)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RollingBlockAgg =
    copy(items = newChildren(0), carry = newChildren(1), blk = newChildren(2))
}

/** Trailing rolling interpolated quantile/median over block arrays —
  * the generator behind OrderedOps.rollingMedian/rollingQuantile.
  * The value field (double) sits at `itemOrd`/`carryOrd` in the
  * respective structs; per row the kernel gathers the window's
  * non-null values into a scratch array and applies
  * [[RollingBlocks.quantileOfSorted]]. */
case class RollingBlockQuantile(
    items: Expression, carry: Expression, blk: Expression,
    window: Int, blockSize: Long,
    q: Double, midpoint: Boolean, itemOrd: Int, carryOrd: Int,
    outName: String, itemFields: StructType, carrySchema: StructType,
    validate: Boolean)
  extends RollingBlockGenerator {

  require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")

  override protected def carryArity: Int = carrySchema.length

  override def elementSchema: StructType = StructType(
    itemFields.fields :+ StructField(outName, DoubleType, nullable = true))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val (rows, cr) = stage(input)
    val nF = itemFields.length
    val L = cr.length
    val fieldTypes = itemFields.fields.map(_.dataType)
    val scratch = new Array[Double](window)
    Iterator.tabulate(rows.length) { k =>
      val out = new Array[Any](nF + 1)
      val r = rows(k)
      var f = 0
      while (f < nF) {
        out(f) = if (r.isNullAt(f + 1)) null else r.get(f + 1, fieldTypes(f))
        f += 1
      }
      val hi = L + k
      val lo = math.max(0, hi - window + 1)
      var m = 0
      var j = lo
      while (j <= hi) {
        if (j < L) {
          if (!cr(j).isNullAt(carryOrd)) { scratch(m) = cr(j).getDouble(carryOrd); m += 1 }
        } else {
          val it = rows(j - L)
          if (!it.isNullAt(itemOrd)) { scratch(m) = it.getDouble(itemOrd); m += 1 }
        }
        j += 1
      }
      out(nF) = RollingBlocks.quantileOfSorted(scratch, m, q, midpoint)
      new GenericInternalRow(out)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RollingBlockQuantile =
    copy(items = newChildren(0), carry = newChildren(1), blk = newChildren(2))
}
