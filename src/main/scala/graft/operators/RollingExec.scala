package graft.operators

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.plans.RollingSpec

/** The streaming physical operator behind [[graft.plans.Rolling]].
  *
  * Its child is the framed input of [[graft.plans.RollingStrategy]]:
  * every row tagged with its block `blk`, plus max(window) − 1 carry
  * rows from the neighbouring block. It requires the rows clustered by
  * `blk` and sorted by `blk`, then rowIndex ascending (or descending
  * for a `descending` node, whose carries come from the next block),
  * so one pass sees each block's carries first and then its own rows
  * in stream order; a partition may hold several blocks (AQE
  * coalescing), and all state resets at each block change. Per
  * distinct input it keeps a ring of the last max(window) values —
  * memory is O(window), not O(block) — and it emits only the block's
  * own rows: the child's columns, then one column per spec. Windows
  * trail in stream order, so a descending node computes leading
  * windows of the index with the same kernels.
  *
  * Statistics, over the non-null values of the trailing window:
  *   - sum: accumulated in window order from the first non-null value,
  *     like Spark's sliding-frame `Sum` (a leading -0.0 survives);
  *     integrals sum exactly to long (`Math.addExact` under ANSI);
  *     decimals sum exactly and are capped to decimal(min(p+10, 38), s)
  *     with HALF_UP — overflow raises under ANSI, is null otherwise;
  *   - count: non-null values, never null;
  *   - min/max: Spark's ordering for the type (NaN greatest, the first
  *     of equal values kept);
  *   - mean: sum cast to double, divided by count;
  *   - var/std: population variance by two passes over the window
  *     (mean, then squared deviations) — stable at any offset;
  *   - median/quantile: [[RollingExec.quantileOfSorted]] over the
  *     window's values as doubles, kept sorted as the window slides
  *     (one removal and one insertion per row instead of a sort).
  * Every statistic but count is null over an all-null window. The value
  * hows read the ring itself: lag is the value window − 1 rows back in
  * stream order (`fill` when the stream has fewer rows, so a lag of the
  * row index is null exactly where the source row is missing); array
  * is the window oldest first with `fill` in the slots before the
  * stream's first row, reversed for a descending node so that it reads
  * in index order.
  *
  * Validation (`validate`) keeps the dense-index contract per row and
  * raises [[RollingExec.ReindexMsg]] on any gap, shift or duplicate.
  * Ascending, the k-th own row of block b must sit at exactly
  * `b·blockSize + k`, and a non-first block must receive exactly
  * max(window) − 1 carries at `b·blockSize − (window−1) …
  * b·blockSize − 1`. Descending, the next block may be the short last
  * one, so the carries are a contiguous run of at most max(window) − 1
  * that must end at `(b+1)·blockSize`; a block that received carries
  * starts its own rows at `(b+1)·blockSize − 1`; own rows step by −1 and
  * must end at `b·blockSize`; and a block holding carries but no own
  * rows is a missing block whose successor exists. Residual undetectable
  * case, both directions: TRAILING whole blocks missing, which is
  * indistinguishable from the end of the data.
  */
case class RollingExec(specs: Seq[RollingSpec], rowIndex: Expression, blockSize: Long,
                       validate: Boolean, descending: Boolean, blk: Attribute,
                       child: SparkPlan)
  extends UnaryExecNode {

  private def results: Seq[Attribute] = specs.map(_.toAttribute)

  override def output: Seq[Attribute] =
    child.output.filterNot(_.exprId == blk.exprId) ++ results
  override def producedAttributes: AttributeSet = AttributeSet(results)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(blk)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(blk, Ascending),
      SortOrder(rowIndex, if (descending) Descending else Ascending)))
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val ansi = conf.ansiEnabled
    val numOutputRows = longMetric("numOutputRows")
    val specInputs = specs.map(RollingExec.inputOf)
    val inputs = specInputs.foldLeft(Vector.empty[Expression]) { (acc, e) =>
      if (acc.exists(_.semanticEquals(e))) acc else acc :+ e }
    val ringOf = specInputs.map(e => inputs.indexWhere(_.semanticEquals(e))).toArray
    val ri = if (rowIndex.dataType == LongType) rowIndex else Cast(rowIndex, LongType)
    val (childOut, out, all) = (child.output, output, child.output ++ results)
    val carry = specs.map(_.window).max - 1
    child.execute().mapPartitions { rows =>
      new RollingExec.Pass(rows, specs, ringOf,
        UnsafeProjection.create(Seq(ri, blk) ++ inputs, childOut),
        UnsafeProjection.create(out, all), inputs.map(_.dataType),
        blockSize, carry, validate, descending, ansi, numOutputRows)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RollingExec =
    copy(child = newChild)
}

object RollingExec {

  val ReindexMsg: String =
    "OrderedOps.rolling: row_index is not a dense 0-based index " +
      "(filtered or sparse frame) — re-index (extract()) before ordered ops"

  private def die(): Nothing = throw new IllegalStateException(ReindexMsg)

  /** Interpolated quantile of sorted vals[0, n), n > 0.
    * `midpoint = true` is SQL MEDIAN's even-n (a+b)/2 with q pinned
    * 0.5; `false` is numpy-linear `lov + (hiv - lov) * frac` at
    * position q·(n−1). NaN sorts last, matching Spark's NaN-greatest
    * double ordering. */
  def quantileOfSorted(vals: Array[Double], n: Int, q: Double, midpoint: Boolean): Double =
    if (midpoint) {
      val half = n / 2
      if (n % 2 == 1) vals(half) else (vals(half - 1) + vals(half)) / 2.0
    } else {
      val pos = q * (n - 1).toDouble
      val lo = math.floor(pos).toInt
      val lov = vals(lo)
      val hiv = vals(math.min(lo + 1, n - 1))
      lov + (hiv - lov) * (pos - lo.toDouble)
    }

  /** The value a spec reads: doubles for the float statistics, longs for
    * integral sums and min/max (narrowed back on output), the column
    * itself for lag, array, decimal sums and other min/max types, and for
    * a count of any other type a long that is null exactly where the
    * column is. */
  private def inputOf(s: RollingSpec): Expression = {
    val c = s.child
    def as(dt: DataType): Expression = if (c.dataType == dt) c else Cast(c, dt)
    (s.how, c.dataType) match {
      case ("lag" | "array", _) => c
      case ("sum" | "mean", _: DecimalType) => c
      case (_, ByteType | ShortType | IntegerType | LongType)
          if Set("sum", "mean", "count", "min", "max")(s.how) => as(LongType)
      case ("count", DoubleType) | ("min" | "max", _) => c
      case ("count", _) => If(IsNull(c), Literal(null, LongType), Literal(0L))
      case _ => as(DoubleType)
    }
  }

  /** The last `cap` values of one input, oldest first: doubles and longs
    * in primitive arrays, anything else copied out of the row. */
  private final class Ring(cap: Int, dt: DataType) {
    val kind: Char = dt match { case DoubleType => 'D'; case LongType => 'L'; case _ => 'O' }
    val d: Array[Double] = if (kind == 'D') new Array[Double](cap) else null
    val l: Array[Long] = if (kind == 'L') new Array[Long](cap) else null
    val o: Array[Any] = if (kind == 'O') new Array[Any](cap) else null
    private val nul = new Array[Boolean](cap)
    private lazy val ord = TypeUtils.getInterpretedOrdering(dt)
    private var size = 0
    private var next = 0

    def clear(): Unit = { size = 0; next = 0 }

    /** The value in slot `p`, null if it is null. */
    def value(p: Int): Any =
      if (nul(p)) null else kind match { case 'D' => d(p); case 'L' => l(p); case _ => o(p) }

    def push(row: InternalRow, i: Int): Unit = {
      val isNull = row.isNullAt(i)
      nul(next) = isNull
      if (!isNull) kind match {
        case 'D' => d(next) = row.getDouble(i)
        case 'L' => l(next) = row.getLong(i)
        case _ => o(next) = InternalRow.copyValue(row.get(i, dt))
      }
      next = if (next + 1 == cap) 0 else next + 1
      if (size < cap) size += 1
    }

    // Each statistic walks the slots of the last min(w, size) values,
    // oldest first: from `first`, wrapping at cap.
    private def len(w: Int): Int = math.min(w, size)
    private def first(n: Int): Int = if (next >= n) next - n else next - n + cap

    def nonNull(w: Int): Long = {
      val n = len(w); var p = first(n); var k = 0; var c = 0L
      while (k < n) { if (!nul(p)) c += 1; p += 1; if (p == cap) p = 0; k += 1 }
      c
    }

    def sumD(w: Int): Double = {
      val n = len(w); var p = first(n); var k = 0
      var acc = 0.0; var seen = false
      while (k < n) {
        if (!nul(p)) { if (seen) acc += d(p) else { acc = d(p); seen = true } }
        p += 1; if (p == cap) p = 0; k += 1
      }
      acc
    }

    def sumL(w: Int, ansi: Boolean): Long = {
      val n = len(w); var p = first(n); var k = 0; var acc = 0L
      while (k < n) {
        if (!nul(p)) acc = if (ansi) Math.addExact(acc, l(p)) else acc + l(p)
        p += 1; if (p == cap) p = 0; k += 1
      }
      acc
    }

    def sumDec(w: Int): JBigDecimal = {
      val n = len(w); var p = first(n); var k = 0; var acc: JBigDecimal = null
      while (k < n) {
        if (!nul(p)) {
          val b = o(p).asInstanceOf[Decimal].toJavaBigDecimal
          acc = if (acc == null) b else acc.add(b)
        }
        p += 1; if (p == cap) p = 0; k += 1
      }
      acc
    }

    /** Population variance of the window's `c` > 0 non-null values. */
    def varPop(w: Int, c: Long): Double = {
      val mean = sumD(w) / c
      val n = len(w); var p = first(n); var k = 0; var m2 = 0.0
      while (k < n) {
        if (!nul(p)) { val e = d(p) - mean; m2 += e * e }
        p += 1; if (p == cap) p = 0; k += 1
      }
      m2 / c
    }

    /** Slot of the value `w − 1` rows back, -1 when fewer than `w`
      * values were pushed. */
    def back(w: Int): Int = if (size < w) -1 else first(w)

    /** The last `w` values, oldest first (newest first if `reversed`),
      * with `fill` in the slots before the first pushed value. */
    def window(w: Int, fill: Any, reversed: Boolean): Array[Any] = {
      val out = Array.fill[Any](w)(fill)
      val n = len(w); var p = first(n); var k = w - n
      while (k < w) {
        out(if (reversed) w - 1 - k else k) = value(p)
        p += 1; if (p == cap) p = 0; k += 1
      }
      out
    }

    /** Slot of the value that leaves a full window of `w` on the next
      * push, -1 when the window is not full or that value is null. */
    def leaving(w: Int): Int =
      if (size < w) -1 else { val p = first(w); if (nul(p)) -1 else p }

    /** Slot of the window's least (`isMin`) or greatest value, the first
      * of equal values; -1 when all are null. Doubles compare like
      * Spark's SQLOrderingUtil.compareDoubles (NaN greatest, -0.0 = 0.0). */
    def best(w: Int, isMin: Boolean): Int = {
      val n = len(w); var p = first(n); var k = 0; var b = -1
      while (k < n) {
        if (!nul(p)) {
          val better = b < 0 || {
            val c = kind match {
              case 'D' => if (d(p) == d(b)) 0 else java.lang.Double.compare(d(p), d(b))
              case 'L' => java.lang.Long.compare(l(p), l(b))
              case _ => ord.compare(o(p), o(b))
            }
            if (isMin) c < 0 else c > 0
          }
          if (better) b = p
        }
        p += 1; if (p == cap) p = 0; k += 1
      }
      b
    }
  }

  /** The non-null values of a double input's last `w` rows, in the
    * order `Arrays.sort` gives (-0.0 before 0.0, NaN last): as the
    * window slides, the leaving value is removed and the new one
    * inserted by binary search, so no row sorts its window. */
  private final class SortedWindow(w: Int) {
    val vals = new Array[Double](w)
    var n = 0

    def clear(): Unit = n = 0

    /** Before `r` takes the row's value at `in(i)`. */
    def slide(r: Ring, in: InternalRow, i: Int): Unit = {
      val out = r.leaving(w)
      if (out >= 0) {
        val k = java.util.Arrays.binarySearch(vals, 0, n, r.d(out))
        System.arraycopy(vals, k + 1, vals, k, n - k - 1)
        n -= 1
      }
      if (!in.isNullAt(i)) {
        val x = in.getDouble(i)
        val found = java.util.Arrays.binarySearch(vals, 0, n, x)
        val k = if (found >= 0) found else -(found + 1)
        System.arraycopy(vals, k, vals, k + 1, n - k)
        vals(k) = x
        n += 1
      }
    }
  }

  private type Stat = (SpecificInternalRow, Int) => Unit

  private def stat(s: RollingSpec, r: Ring, ansi: Boolean, sorted: SortedWindow,
                   descending: Boolean): Stat = {
    val w = s.window
    def whenAny(f: (SpecificInternalRow, Int, Long) => Unit): Stat = (o, i) => {
      val c = r.nonNull(w)
      if (c == 0) o.setNullAt(i) else f(o, i, c)
    }
    lazy val decType = RollingSpec.sumType(s.child.dataType).asInstanceOf[DecimalType]
    def decSum(): Decimal = Bridge.decimalToPrecision(Decimal(r.sumDec(w)),
      decType.precision, decType.scale, nullOnOverflow = !ansi)
    (s.how, r.kind) match {
      case ("count", _) => (o, i) => o.setLong(i, r.nonNull(w))
      case ("lag", _) => (o, i) => {
        val p = r.back(w)
        val v = if (p < 0) s.fill else r.value(p)
        if (v == null) o.setNullAt(i) else o.update(i, v)
      }
      case ("array", _) => (o, i) =>
        o.update(i, new GenericArrayData(r.window(w, s.fill, descending)))
      case ("sum", 'D') => whenAny((o, i, _) => o.setDouble(i, r.sumD(w)))
      case ("sum", 'L') => whenAny((o, i, _) => o.setLong(i, r.sumL(w, ansi)))
      case ("sum", _) => whenAny((o, i, _) => o.update(i, decSum()))
      case ("mean", 'D') => whenAny((o, i, c) => o.setDouble(i, r.sumD(w) / c))
      case ("mean", 'L') => whenAny((o, i, c) => o.setDouble(i, r.sumL(w, ansi).toDouble / c))
      case ("mean", _) => whenAny { (o, i, c) =>
        val sum = decSum()
        if (sum == null) o.setNullAt(i) else o.setDouble(i, sum.toDouble / c)
      }
      case ("var", _) => whenAny((o, i, c) => o.setDouble(i, r.varPop(w, c)))
      case ("std", _) => whenAny((o, i, c) => o.setDouble(i, math.sqrt(r.varPop(w, c))))
      case ("median" | "quantile", _) => (o, i) =>
        if (sorted.n == 0) o.setNullAt(i)
        else o.setDouble(i, quantileOfSorted(sorted.vals, sorted.n, s.q, s.how == "median"))
      case (minMax, kind) =>
        val isMin = minMax == "min"
        (o, i) => {
          val b = r.best(w, isMin)
          if (b < 0) o.setNullAt(i)
          else if (kind == 'D') o.setDouble(i, r.d(b))
          else if (kind == 'O') o.update(i, r.o(b))
          else s.dataType match {
            case IntegerType => o.setInt(i, r.l(b).toInt)
            case ShortType => o.setShort(i, r.l(b).toShort)
            case ByteType => o.setByte(i, r.l(b).toByte)
            case _ => o.setLong(i, r.l(b))
          }
        }
    }
  }

  /** One partition's pass. `inProj` yields (rowIndex as long, block,
    * distinct inputs...); carry rows feed the rings only, own rows are
    * emitted through `outProj` over (row, results). */
  private final class Pass(rows: Iterator[InternalRow], specs: Seq[RollingSpec],
                           ringOf: Array[Int], inProj: UnsafeProjection,
                           outProj: UnsafeProjection, inputTypes: Seq[DataType],
                           bs: Long, carry: Int, validate: Boolean, descending: Boolean,
                           ansi: Boolean, numOutputRows: SQLMetric)
    extends Iterator[InternalRow] {
    private val rings = inputTypes.map(t => new Ring(carry + 1, t)).toArray
    private val sorted = specs.map(s =>
      if (s.how == "median" || s.how == "quantile") new SortedWindow(s.window) else null).toArray
    private val stats = specs.indices.map(k =>
      stat(specs(k), rings(ringOf(k)), ansi, sorted(k), descending)).toArray
    private val result = new SpecificInternalRow(specs.map(_.dataType))
    private val joined = new JoinedRow
    private var started = false
    private var block = 0L
    private var own = 0L
    private var carries = 0
    private var last = 0L
    private var closed = false
    private var pending: InternalRow = null

    override def hasNext: Boolean = {
      while (pending == null && rows.hasNext) pending = step(rows.next())
      if (pending == null && !closed) { closed = true; endBlock() }
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }

    private def step(row: InternalRow): InternalRow = {
      val in = inProj(row)
      val noIndex = in.isNullAt(0)
      if (validate && noIndex) die()
      val ri = in.getLong(0)
      val b = in.getLong(1)
      if (!started || b != block) {
        endBlock()
        started = true; block = b; own = 0L; carries = 0
        rings.foreach(_.clear())
        sorted.foreach(w => if (w != null) w.clear())
      }
      var k = 0
      while (k < sorted.length) {
        if (sorted(k) != null) sorted(k).slide(rings(ringOf(k)), in, ringOf(k) + 2)
        k += 1
      }
      k = 0
      while (k < rings.length) { rings(k).push(in, k + 2); k += 1 }
      val isCarry = !noIndex && ri / bs != b
      if (validate && !dense(ri, isCarry)) die()
      last = ri
      if (isCarry) {
        carries += 1
        null
      } else {
        own += 1
        k = 0
        while (k < stats.length) { stats(k)(result, k); k += 1 }
        numOutputRows += 1
        outProj(joined(row, result))
      }
    }

    /** The dense-index contract at row `ri` of the current block, given
      * the rows already seen in it (`last` is the previous one). */
    private def dense(ri: Long, isCarry: Boolean): Boolean = {
      val start = block * bs
      if (!descending) {
        if (isCarry) block > 0 && own == 0 && carries < carry && ri == start - carry + carries
        else (own > 0 || block == 0 || carries == carry) && ri == start + own
      } else {
        val next = start + bs
        if (isCarry) own == 0 && carries < carry && (carries == 0 || ri == last - 1)
        else if (own == 0) carries == 0 || (last == next && ri == next - 1)
        else ri == last - 1
      }
    }

    /** Descending, a block ends its own rows at its first index, and a
      * block with carries but no own rows is missing while its
      * successor exists. */
    private def endBlock(): Unit =
      if (validate && descending && started && (own == 0 || last != block * bs)) die()
  }
}
