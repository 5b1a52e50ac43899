package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, IsNotNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

import graft.plans.{Rolling, RollingSpec, RollingStrategy}

/** Scale-safe ordered operators: shift / diff / rolling over a total
  * order WITHOUT a global single-reducer `Window.orderBy`.
  *
  * A plain `Window.orderBy(row_index)` funnels every row through ONE
  * task — fine on 60k rows, fatal at 100 TB. Instead we re-express the
  * reference's chunk-stream realignment (reference:
  * packages/vaex-core/vaex/shift.py:204-340 — shift is "re-align chunk
  * streams and carry the boundary rows") in Spark terms: rows are
  * bucketed into ordered blocks (`row_index div blockSize`), each block
  * takes its neighbour's window − 1 boundary rows as carries, and one
  * streaming pass per block computes every row's window.
  *
  * shift, diff, rollingArray and every rolling statistic build that
  * plan as one [[graft.plans.Rolling]] node — one hash exchange on the
  * block id, one local sort, one ring-buffer pass ([[RollingExec]]) —
  * whose specs are the statistics, a `lag` (shift) or an `array`
  * (rollingArray). Lead shifts and left-edge arrays set the node's
  * `descending` direction, which makes them trailing windows of the
  * reversed stream. Chained calls with the same row index, block size,
  * validation and direction collapse into one node
  * ([[graft.plans.CollapseRolling]]).
  *
  * Column contract, shared by the whole family: the input columns in
  * input order (`rowIndex` is never moved), then the new outputs in
  * spec order; an output whose name is already an input column
  * replaces that column in place, and an output named like `rowIndex`
  * is rejected.
  *
  * Requirements: `rowIndex` must be a DENSE 0-based index (what
  * [[graft.sources.Tables.withRowIndex]] produces) so that block `b`
  * holds exactly `blockSize` rows (except the last). With
  * `validate = true` (default) the node checks it per row, in both
  * directions, in the same pass ([[RollingExec]]): a filtered, sparse
  * or duplicated index raises [[RollingExec.ReindexMsg]] instead of
  * returning silently wrong results.
  *
  * cumsum is the exception: a two-phase prefix scan over a MONOTONE
  * (not necessarily dense) index, with its own plan.
  */
object OrderedOps {
  val DefaultBlockSize: Long = 1L << 20

  /** Callers that tune blockSize keep it; the default scales with the
    * carry width so carried rows stay <= ~1/64 of the input. */
  private def effectiveBlockSize(blockSize: Long, carryRows: Int): Long =
    if (blockSize == DefaultBlockSize) math.max(blockSize, carryRows.toLong * 64L)
    else blockSize

  /** Column `c` of `df` as an attribute of its logical plan. */
  private def attr(df: DataFrame, c: String): Expression =
    Bridge.logicalPlan(df).output(df.schema.fieldIndex(c))

  /** `specs` over `df`'s columns as one [[graft.plans.Rolling]] node
    * under the column contract. `present`, when given, is a spec that is
    * null exactly on the rows to drop; the same node computes it, and it
    * is not output. */
  private def rolling(df: DataFrame, specs: Seq[RollingSpec], rowIndex: String,
                      blockSize: Long, validate: Boolean, descending: Boolean,
                      present: Option[RollingSpec] = None): DataFrame = {
    require(!specs.exists(_.name == rowIndex),
      s"OrderedOps: an output must not replace the row index '$rowIndex'")
    val window = specs.map(_.window).max
    val bs = effectiveBlockSize(blockSize, window - 1)
    require(bs >= window - 1, s"blockSize=$bs must be >= window-1=${window - 1}")
    val child = Bridge.logicalPlan(df)
    val node = Rolling(specs ++ present, attr(df, rowIndex), bs, validate, descending, child)
    val kept = present.fold[LogicalPlan](node)(p => Filter(IsNotNull(p.toAttribute), node))
    val outs = specs.map(_.toAttribute)
    val replacing = outs.filter(o => df.columns.contains(o.name))
    val plan = if (replacing.isEmpty && present.isEmpty) node else Project(
      child.output.map(a => replacing.find(_.name == a.name).getOrElse(a)) ++
        outs.filterNot(replacing.contains), kept)
    Bridge.ensureStrategy(df.sparkSession, RollingStrategy)
    Bridge.ofRows(df.sparkSession, plan)
  }

  /** `v` as a Catalyst value of type `dt`, for a spec's `fill`. */
  private def fillOf(v: Option[Any], dt: DataType): Any = v.map(x =>
    Cast(Literal(x), dt, Option(SQLConf.get.sessionLocalTimeZone)).eval()).orNull

  /** Shifted value of `column` by `periods` (positive = lag, negative =
    * lead) in `rowIndex` order; out-of-range rows become null, or
    * `fill` when given, and `trim = true` drops them instead
    * (reference: core/dataframe.py:4781 shift(periods, fill_value,
    * trim)). One `lag` spec over |periods| + 1 rows, descending for a
    * lead. `fill`/`trim` act on a missing source ROW, never on a null
    * source VALUE: the node reports the missing row itself (the lag
    * has fewer rows behind it than it needs), and `trim` filters on a
    * lag of the row index computed by the same node. */
  def shift(df: DataFrame, column: String, periods: Int,
            rowIndex: String = "row_index", as: Option[String] = None,
            blockSize: Long = DefaultBlockSize,
            validate: Boolean = true,
            fill: Option[Any] = None, trim: Boolean = false): DataFrame = {
    val out = as.getOrElse(column)
    if (periods == 0) return df.withColumn(out, col(column))
    val w = math.abs(periods) + 1
    val fillValue = fillOf(fill, df.schema(column).dataType)
    rolling(df, Seq(RollingSpec(attr(df, column), "lag", w, 0.5, fillValue, out)()),
      rowIndex, blockSize, validate, descending = periods < 0,
      present = if (!trim) None
        else Some(RollingSpec(attr(df, rowIndex), "lag", w, 0.5, null, "__present")()))
  }

  /** diff = x - shift(x, periods) (reference: core/dataframe.py:4749). */
  def diff(df: DataFrame, column: String, periods: Int = 1,
           rowIndex: String = "row_index",
           blockSize: Long = DefaultBlockSize): DataFrame =
    shift(df, column, periods, rowIndex, Some("__shifted"), blockSize)
      .withColumn(column, col(column) - col("__shifted"))
      .drop("__shifted")

  /** Trailing rolling aggregate over `window` rows in `rowIndex` order
    * (reference: core/dataframe.py:5656 rolling, core/rolling.py:4-31 —
    * the reference exposes sum/array over the sliding matrix; here any
    * [[graft.plans.RollingSpec]] statistic). Partial windows at the
    * global head match rowsBetween(-(w-1), 0) edge behavior.
    *
    * One-spec [[rollingAggMulti]]. */
  def rollingAgg(df: DataFrame, column: String, window: Int, as: String, how: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize,
                 validate: Boolean = true): DataFrame =
    rollingAggMulti(df, Seq(RollSpec(column, how, as)), window, rowIndex,
      blockSize, validate)

  /** One rolling request for [[rollingAggMulti]]: statistic `how` of
    * `column` as `as`; `q` is the fraction for how = "quantile". */
  final case class RollSpec(column: String, how: String, as: String, q: Double = 0.5)

  /** N trailing rolling statistics (sum, count, min, max, mean, var,
    * std, median, quantile) as one [[graft.plans.Rolling]] node, run as
    * one streaming pass ([[RollingExec]]), under the family's column
    * contract. */
  def rollingAggMulti(df: DataFrame, specs: Seq[RollSpec], window: Int,
                      rowIndex: String = "row_index",
                      blockSize: Long = DefaultBlockSize,
                      validate: Boolean = true): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(specs.nonEmpty, "rollingAggMulti: no specs")
    require(specs.map(_.as).distinct.size == specs.size,
      "rollingAggMulti: duplicate output names")
    specs.find(s => !RollingStats(s.how)).foreach(s =>
      throw new IllegalArgumentException(s"unknown rolling agg: ${s.how}"))
    specs.foreach(s =>
      if (!Set("count", "min", "max")(s.how)) requireNumeric(df, s.column, s"rolling ${s.how}"))
    rolling(df, specs.map(s => RollingSpec(attr(df, s.column), s.how, window, s.q, null, s.as)()),
      rowIndex, blockSize, validate, descending = false)
  }

  /** The statistics [[rollingAggMulti]] takes; lag and array are
    * [[shift]] and [[rollingArray]]. */
  private val RollingStats: Set[String] = RollingSpec.Hows -- Set("lag", "array")

  def rollingSum(df: DataFrame, column: String, window: Int, as: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize): DataFrame =
    rollingAgg(df, column, window, as, "sum", rowIndex, blockSize)

  /** Rolling mean: the rolling sum cast to double over the rolling
    * non-null count. */
  def rollingMean(df: DataFrame, column: String, window: Int, as: String,
                  rowIndex: String = "row_index",
                  blockSize: Long = DefaultBlockSize): DataFrame =
    rollingAgg(df, column, window, as, "mean", rowIndex, blockSize)

  /** Rolling population variance, two-pass over each window (stable at
    * any offset). All-null windows yield null like the other rolling
    * aggregates. */
  def rollingVar(df: DataFrame, column: String, window: Int, as: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize): DataFrame =
    rollingAgg(df, column, window, as, "var", rowIndex, blockSize)

  /** Rolling population standard deviation (√[[rollingVar]]). */
  def rollingStd(df: DataFrame, column: String, window: Int, as: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize): DataFrame =
    rollingAgg(df, column, window, as, "std", rowIndex, blockSize)

  /** Sliding-window ARRAY — the reference's `rolling(...).array`
    * accessor (core/rolling.py:4-31: `edge="right"` exposes, for each
    * row, the raw window [i−window+1, i] as a fixed-length vector with
    * `fill_value` in the out-of-range head slots; `edge="left"` the
    * window [i, i+window−1] with the fill in the tail slots). One
    * `array` spec; the left edge runs descending, so its window trails
    * the reversed stream, and is reversed back into index order. Null
    * values stay null elements; the fill (null by default) only takes
    * the slots of rows that do not exist. */
  def rollingArray(df: DataFrame, column: String, window: Int, as: String,
                   rowIndex: String = "row_index",
                   blockSize: Long = DefaultBlockSize,
                   validate: Boolean = true,
                   fillValue: Option[Any] = None,
                   edge: String = "right"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(edge == "right" || edge == "left",
      s"""edge must be "right" or "left", not "$edge"""")
    val fill = fillOf(fillValue, df.schema(column).dataType)
    rolling(df, Seq(RollingSpec(attr(df, column), "array", window, 0.5, fill, as)()),
      rowIndex, blockSize, validate, descending = edge == "left")
  }

  /** Cumulative (prefix) sum of `column` in `rowIndex` order — the
    * classic two-phase parallel scan, NO global per-row window:
    *
    *   1. intra-block running sum with a partitioned window;
    *   2. per-block totals (one row per block) get an exclusive prefix
    *      via a window over the BLOCK-SUMMARY frame — nBlocks rows
    *      through one task (1e12 rows / 2^20 block = ~1e6 summary
    *      rows), not the data;
    *   3. offsets broadcast-join back onto the blocks.
    *
    * Unlike shift/rolling, cumsum is purely order-based — it needs a
    * MONOTONE rowIndex, not a dense one (block b = idx div blockSize
    * still partitions a sparse index in order), so there is no density
    * validation. Null values are skipped (sum semantics); rows before
    * the first non-null carry null, matching a global
    * `sum(...).over(orderBy)`. */
  def cumsum(df: DataFrame, column: String, as: String,
             rowIndex: String = "row_index",
             blockSize: Long = DefaultBlockSize): DataFrame = {
    require(blockSize >= 1, "blockSize must be >= 1")
    val asc = Window.partitionBy(col("__blk")).orderBy(col(rowIndex).asc)
    val st = df.withColumn("__blk", (col(rowIndex) / lit(blockSize)).cast("long"))
      .withColumn("__intra",
        sum(col(column)).over(asc.rowsBetween(Window.unboundedPreceding, 0)))
    val offs = st.groupBy(col("__blk")).agg(sum(col(column)).as("__bsum"))
      .withColumn("__off", sum(col("__bsum")).over(
        Window.orderBy(col("__blk").asc).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__blk"), col("__off"))
    st.join(broadcast(offs), Seq("__blk"), "left")
      .withColumn(as, when(col("__intra").isNull && col("__off").isNull, lit(null))
        .otherwise(coalesce(col("__intra"), lit(0)) + coalesce(col("__off"), lit(0))))
      .drop("__blk", "__intra", "__off")
  }

  /** Rolling MEDIAN over the trailing `window` rows: interpolated
    * (quantile_cont 0.5) over the window's non-null values, null for
    * an all-null window — matching DuckDB/NumPy median semantics.
    * Median is not decomposable into carried partial aggregates, so
    * the operator keeps each window's values sorted as it slides
    * (O(window) per row, exact, still block-partitioned: no global
    * window). */
  def rollingMedian(df: DataFrame, column: String, window: Int, as: String,
                    rowIndex: String = "row_index",
                    blockSize: Long = DefaultBlockSize): DataFrame = {
    requireNumeric(df, column, "rollingMedian")
    rollingAgg(df, column, window, as, "median", rowIndex, blockSize)
  }

  /** Order statistics and moments over non-numeric columns are
    * ill-defined here (the value column is cast to double); fail fast. */
  private def requireNumeric(df: DataFrame, column: String, op: String): Unit =
    df.schema(column).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
           org.apache.spark.sql.types.NullType => ()
      case dt => throw new IllegalArgumentException(
        s"OrderedOps.$op: numeric column required, got ${dt.catalogString} for '$column'")
    }

  /** Trailing rolling exact quantile with linear interpolation (numpy
    * 'linear' / SQL percentile_cont semantics): position q·(n−1) over
    * the sorted non-null window values, interpolated between the two
    * bracketing elements. Generalizes [[rollingMedian]] (which keeps
    * the (a+b)/2 midpoint formula for bit-parity with SQL MEDIAN).
    * O(window) per row, no global window. */
  def rollingQuantile(df: DataFrame, column: String, window: Int, q: Double,
                      as: String, rowIndex: String = "row_index",
                      blockSize: Long = DefaultBlockSize): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    requireNumeric(df, column, "rollingQuantile")
    rollingAggMulti(df, Seq(RollSpec(column, "quantile", as, q)), window, rowIndex,
      blockSize)
  }
}
