package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions}

/** Boolean combination modes for selections and filters
  * (reference: packages/vaex-core/vaex/selections.py:11-27). */
object SelectionMode {
  sealed trait Mode { def combine(old: Column, nw: Column): Column }
  case object Replace extends Mode { def combine(old: Column, nw: Column): Column = nw }
  case object And extends Mode { def combine(old: Column, nw: Column): Column = old && nw }
  case object Or extends Mode { def combine(old: Column, nw: Column): Column = old || nw }
  case object Xor extends Mode { def combine(old: Column, nw: Column): Column = old =!= nw }
  case object Subtract extends Mode { def combine(old: Column, nw: Column): Column = old && !nw }

  def parse(s: String): Mode = s.toLowerCase match {
    case "replace" => Replace; case "and" => And; case "or" => Or
    case "xor" => Xor; case "subtract" => Subtract
    case other => throw new IllegalArgumentException(s"unknown selection mode: $other")
  }
  /** SQL-string form, so selection state stays serializable. */
  def combineSql(mode: Mode, old: Option[String], nw: String): String = (mode, old) match {
    case (_, None) | (Replace, _) => nw
    case (And, Some(o)) => s"(($o) AND ($nw))"
    case (Or, Some(o)) => s"(($o) OR ($nw))"
    case (Xor, Some(o)) => s"(($o) != ($nw))"
    case (Subtract, Some(o)) => s"(($o) AND NOT ($nw))"
  }
}

/** The vaex-shaped DataFrame facade (SURVEY.md §7.0): a thin immutable
  * wrapper over `org.apache.spark.sql.DataFrame` carrying the state the
  * reference keeps outside the plan —
  *
  *   - virtual columns: name -> expression *string*
  *     (reference: core/dataframe.py:3783 add_virtual_column)
  *   - variables: named scalars usable in expressions
  *     (reference: core/dataframe.py:3052 set_variable)
  *   - named selections with boolean algebra + history
  *     (reference: core/selections.py:38, undo at core/dataframe.py:5010)
  *   - the current (possibly *widened*) filter predicate
  *     (reference: core/dataframe.py:5332 filter(mode='and'/'or'/...))
  *   - category metadata (reference: core/dataframe.py:5858 categorize)
  *
  * All expressions are Spark SQL strings (the analog of vaex's Python
  * expression strings) parsed with `expr()` after variable substitution,
  * so the whole facade state serializes to JSON (`stateGet`/`stateSet`,
  * reference: core/dataframe.py:2502 state_get) and every computation
  * lowers to one Catalyst plan — filters/virtual columns stay inside
  * whole-stage codegen and reach parquet pushdown at any scale.
  *
  * Selections deliberately do NOT filter the plan: aggregations take a
  * `selection=` argument lowered to conditional aggregation
  * (`agg(when(sel, x))`), so one job can aggregate many selections in a
  * single pass over the data — vaex's multi-selection grid semantics
  * (reference: core/tasks.py:431) without extra scans.
  */
final case class VxFrame(
    base: DataFrame,
    virtualColumns: ListMap[String, String] = ListMap.empty,
    variables: ListMap[String, String] = ListMap("pi" -> math.Pi.toString, "e" -> math.E.toString),
    selections: ListMap[String, String] = ListMap.empty,
    selectionHistory: List[ListMap[String, String]] = Nil, // undo stack
    selectionRedoHistory: List[ListMap[String, String]] = Nil, // redo stack
    filterExpression: Option[String] = None,
    categories: Map[String, Seq[String]] = Map.empty) {

  import SelectionMode.Mode

  // ---------------------------------------------------------------- expressions

  /** Substitute variable names (word-boundary) by parenthesized values.
    * Real columns SHADOW variables: a column literally named `e` or
    * `pi` resolves to the column, never to the default constant
    * (round-2 bug: every `e` in every expression became 2.718…). */
  private def substituteVariables(e: String): String = {
    val cols = base.schema.fieldNames.toSet ++ virtualColumns.keySet
    variables.foldLeft(e) { case (acc, (name, value)) =>
      if (cols.contains(name)) acc
      else acc.replaceAll("\\b" + java.util.regex.Pattern.quote(name) + "\\b",
        java.util.regex.Matcher.quoteReplacement(s"($value)"))
    }
  }

  /** Boolean-typed base columns, fed to the translator so bare boolean
    * columns under `&`/`|`/`^`/`~` get logical (not bitwise) ops. */
  private lazy val boolColumns: Set[String] = base.schema.fields.collect {
    case f if f.dataType == org.apache.spark.sql.types.BooleanType => f.name
  }.toSet

  /** Parse an expression string to a Column (variables substituted).
    * Accepts BOTH vaex's Python-expression syntax (`x**2 // 3`,
    * `(x > 3) & (y < 2)` — translated by
    * [[graft.functions.ExprLang]]; reference grammar whitelist
    * core/expresso.py:33-41) and plain Spark SQL (used as-is when the
    * Python grammar doesn't match, e.g. CASE/CAST/IS NULL). A string
    * valid in BOTH grammars gets vaex's semantics — notably `%` is
    * Python mod (PMOD), not SQL remainder. */
  def parse(e: String): Column = {
    val sub = substituteVariables(e)
    expr(graft.functions.ExprLang.translate(sub, boolColumns).getOrElse(sub))
  }

  // ---------------------------------------------------------------- resolution

  /** The resolved Spark DataFrame: base + virtual columns + filter.
    * Virtual columns are applied in insertion order so later ones can
    * reference earlier ones (vaex allows chained virtual columns). */
  def df: DataFrame = {
    val withVirtual = virtualColumns.foldLeft(base) { case (d, (n, e)) =>
      d.withColumn(n, parse(e))
    }
    filterExpression.fold(withVirtual)(f => withVirtual.where(parse(f)))
  }

  def columnNames: Seq[String] = df.schema.fieldNames.toSeq
  def count(): Long = df.count()

  /** Column-name combinations of the given dimension — the subspace
    * enumerator behind the reference's pairwise stats/plot helpers
    * (reference: core/dataframe.py:3016 combinations). Driver-side
    * metadata only. */
  def combinations(dimension: Int = 2, exclude: Seq[String] = Nil): Seq[Seq[String]] =
    columnNames.filterNot(exclude.contains).combinations(dimension).toSeq

  // ---------------------------------------------------------------- virtual columns / variables

  /** reference: core/dataframe.py:3783 `add_virtual_column`. */
  def withVirtualColumn(name: String, expression: String): VxFrame =
    copy(virtualColumns = virtualColumns + (name -> expression))

  /** reference: core/dataframe.py:3052 `set_variable`. */
  def withVariable(name: String, value: Double): VxFrame =
    copy(variables = variables + (name -> value.toString))
  def withVariableStr(name: String, value: String): VxFrame =
    copy(variables = variables + (name -> ("'" + value.replace("'", "''") + "'")))

  /** Materialize a virtual column into the plan (reference:
    * core/dataframe.py materialize) — keeps the name, drops virtuality. */
  def materialize(name: String): VxFrame = {
    val e = virtualColumns(name)
    copy(base = base.withColumn(name, parse(e)), virtualColumns = virtualColumns - name)
  }

  def drop(names: String*): VxFrame = {
    val (virt, real) = names.partition(virtualColumns.contains)
    copy(base = if (real.nonEmpty) base.drop(real: _*) else base,
      virtualColumns = virtualColumns -- virt)
  }

  def rename(from: String, to: String): VxFrame =
    if (virtualColumns.contains(from))
      copy(virtualColumns = ListMap(virtualColumns.toSeq.map {
        case (n, e) if n == from => to -> e
        case kv => kv
      }: _*))
    else copy(base = base.withColumnRenamed(from, to))

  // ---------------------------------------------------------------- filter (widening!)

  /** Widening filter (reference: core/dataframe.py:5332): unlike Spark's
    * stacking `.where`, mode='or' can *widen* the current filter, so the
    * combined predicate is tracked here and applied once. */
  def filter(expression: String, mode: String = "and"): VxFrame =
    copy(filterExpression =
      Some(SelectionMode.combineSql(SelectionMode.parse(mode), filterExpression, expression)))

  def dropFilter(): VxFrame = copy(filterExpression = None)

  /** Materialize the current filter into the base plan
    * (reference: core/dataframe.py:4484 `extract`). */
  def extract(): VxFrame = copy(base = df, virtualColumns = ListMap.empty, filterExpression = None)

  /** Content fingerprint of this frame's computation (reference:
    * core/dataframe.py:229 `fingerprint` — state + dataset hash).
    * See [[graft.operators.ResultCache.fingerprint]]. */
  def fingerprint(): String = graft.operators.ResultCache.fingerprint(df)

  /** Disk-backed result memoization keyed by [[fingerprint]]
    * (reference: core/cache.py:110-371 task-result cache): first call
    * computes and persists, later calls — in this session or any
    * other — read the cached parquet instead of the inputs. */
  def resultCache(cacheDir: String): VxFrame =
    VxFrame(graft.operators.ResultCache.cached(df, cacheDir))

  // ---------------------------------------------------------------- selections

  /** Named selection with boolean algebra
    * (reference: core/dataframe.py:5041 `select`). */
  def select(expression: String, mode: String = "replace", name: String = "default"): VxFrame =
    copy(
      selections = selections + (name ->
        SelectionMode.combineSql(SelectionMode.parse(mode), selections.get(name), expression)),
      selectionHistory = selections :: selectionHistory,
      selectionRedoHistory = Nil) // new action invalidates redo

  def selectNothing(name: String = "default"): VxFrame =
    copy(selections = selections - name,
      selectionHistory = selections :: selectionHistory,
      selectionRedoHistory = Nil)

  /** reference: core/dataframe.py:5010 `selection_undo` (+ redo :5024). */
  def selectionUndo(): VxFrame = selectionHistory match {
    case prev :: rest => copy(selections = prev, selectionHistory = rest,
      selectionRedoHistory = selections :: selectionRedoHistory)
    case Nil => this
  }

  def selectionRedo(): VxFrame = selectionRedoHistory match {
    case next :: rest => copy(selections = next, selectionRedoHistory = rest,
      selectionHistory = selections :: selectionHistory)
    case Nil => this
  }

  def selectionCanUndo: Boolean = selectionHistory.nonEmpty
  def selectionCanRedo: Boolean = selectionRedoHistory.nonEmpty

  def hasSelection(name: String = "default"): Boolean = selections.contains(name)

  /** The selection predicate as a Column (true/false per row). */
  def selectionColumn(name: String = "default"): Column =
    selections.get(name).map(parse).getOrElse(lit(true))

  /** Geometric selections (reference: core/dataframe.py:5142-5244) as
    * plain column algebra — rectangle/circle/ellipse need no UDF. */
  def selectRectangle(x: String, y: String, xmin: Double, xmax: Double,
                      ymin: Double, ymax: Double, mode: String = "replace",
                      name: String = "default"): VxFrame =
    select(s"(($x) >= $xmin AND ($x) < $xmax AND ($y) >= $ymin AND ($y) < $ymax)", mode, name)

  def selectCircle(x: String, y: String, xc: Double, yc: Double, r: Double,
                   mode: String = "replace", name: String = "default"): VxFrame =
    select(s"((($x)-($xc))*(($x)-($xc)) + (($y)-($yc))*(($y)-($yc)) <= ${r * r})", mode, name)

  /** reference: core/dataframe.py:5201 `select_ellipse` — inside an
    * ellipse of full width/height, rotated by `degrees` around the
    * center. Constants folded driver-side; the predicate is plain
    * column arithmetic. */
  def selectEllipse(x: String, y: String, xc: Double, yc: Double,
                    width: Double, height: Double, degrees: Double = 0.0,
                    mode: String = "replace", name: String = "default"): VxFrame = {
    val (a, b) = (width / 2.0, height / 2.0)
    val (c0, s0) = (math.cos(math.toRadians(degrees)), math.sin(math.toRadians(degrees)))
    val dx = s"(($x) - ($xc))"
    val dy = s"(($y) - ($yc))"
    val u = s"($dx * ($c0) + $dy * ($s0))"
    val v = s"(-($dx) * ($s0) + $dy * ($c0))"
    select(s"(($u*$u)/(${a * a}) + ($v*$v)/(${b * b}) <= 1.0)", mode, name)
  }

  /** reference: core/dataframe.py:5156 `select_box` — n-dimensional
    * rectangular selection: AND of closed range predicates, one per
    * (expression, (min, max)) pair. Limit order is normalized like the
    * reference (min/max swapped when reversed). */
  def selectBox(spaces: Seq[String], limits: Seq[(Double, Double)],
                mode: String = "replace", name: String = "default"): VxFrame = {
    require(spaces.length == limits.length, "spaces and limits must align")
    val preds = spaces.zip(limits).map { case (e, (l1, l2)) =>
      val (lo, hi) = (math.min(l1, l2), math.max(l1, l2))
      s"(($e) >= $lo AND ($e) <= $hi)"
    }
    select(preds.mkString(" AND "), mode, name)
  }

  /** reference: core/dataframe.py:5261 `select_inverse` — negate the
    * current named selection (no selection = everything selected, so
    * the inverse is nothing: FALSE). */
  def selectInverse(name: String = "default"): VxFrame =
    selections.get(name) match {
      case Some(e) => copy(
        selections = selections + (name -> s"(NOT ($e))"),
        selectionHistory = selections :: selectionHistory,
        selectionRedoHistory = Nil)
      case None => select("false", "replace", name)
    }

  /** reference: core/dataframe.py:5061 `select_non_missing` — rows with
    * no missing (and optionally no NaN) values across `columns`, AS A
    * SELECTION (nothing dropped; composes with selection algebra). */
  def selectNonMissing(columns: Seq[String] = Nil, dropNan: Boolean = true,
                       mode: String = "replace", name: String = "default"): VxFrame = {
    val cols = if (columns.nonEmpty) columns else columnNames
    val preds = cols.map { c =>
      val notNull = s"($c IS NOT NULL)"
      if (dropNan && df.schema.find(_.name == c).exists(f =>
        f.dataType == org.apache.spark.sql.types.DoubleType ||
          f.dataType == org.apache.spark.sql.types.FloatType))
        s"($notNull AND NOT isnan($c))"
      else notNull
    }
    select(preds.mkString(" AND "), mode, name)
  }

  /** reference: core/dataframe.py:5244 `select_lasso` — named selection
    * of points inside the free-drawn polygon (xs, ys). Lowered to the
    * pnpoly predicate as SQL TEXT so the selection serializes into
    * state like every other selection. */
  def selectLasso(x: String, y: String, xs: Seq[Double], ys: Seq[Double],
                  mode: String = "replace", name: String = "default"): VxFrame = {
    require(xs.length == ys.length, "xs and ys must have equal length")
    select(graft.functions.GeoFunctions.insidePolygonSql(s"($x)", s"($y)", xs.zip(ys)),
      mode, name)
  }

  // ---------------------------------------------------------------- na handling

  /** reference: core/dataframe.py:5079-5123 dropna family. */
  def dropMissing(columns: Seq[String] = Nil): VxFrame = {
    val cols = if (columns.nonEmpty) columns else columnNames
    filter(cols.map(c => s"($c IS NOT NULL)").mkString(" AND "), "and")
  }
  def dropNaN(columns: Seq[String]): VxFrame =
    filter(columns.map(c => s"(NOT (isnan($c)))").mkString(" AND "), "and")
  /** reference: core/dataframe.py:5123 `dropinf` — drop rows where any
    * of the given float columns is ±Infinity. Null-safe: NULL is not
    * Inf, so null rows SURVIVE (round-2 bug: the bare `!=` predicate
    * evaluated to NULL on null input and dropped the row). */
  def dropInf(columns: Seq[String]): VxFrame =
    filter(columns.map(c =>
      s"($c IS NULL OR ($c != CAST('Infinity' AS DOUBLE) AND $c != CAST('-Infinity' AS DOUBLE)))")
      .mkString(" AND "), "and")

  def dropNA(columns: Seq[String]): VxFrame = {
    val floats = columns.filter { c =>
      val dt = df.schema(c).dataType
      dt == org.apache.spark.sql.types.DoubleType || dt == org.apache.spark.sql.types.FloatType
    }
    val d = dropMissing(columns)
    if (floats.nonEmpty) d.dropNaN(floats) else d
  }

  // ---------------------------------------------------------------- aggregation (selection-aware)

  private[graft] def maybeSelected(e: String, selection: Option[String]): Column =
    selection match {
      case Some(sel) => when(parse(selections.getOrElse(sel, sel)), parse(e))
      case None => parse(e)
    }

  /** One fused aggregation pass — the analog of vaex's multi-task fusion
    * (reference: core/execution.py:130-170 merged TaskAggregations):
    * every requested aggregate runs in a single scan. */
  def aggregate(aggs: (String, Column)*): Row =
    df.agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (n, c) => c.as(n) }: _*).head()

  /** The `delay=True` idiom (reference: core/delayed.py, promise layer
    * core/promise.py; SURVEY §3.1 "multi-agg fusion" is the one
    * executor behavior to replicate deliberately): queue any number of
    * statistic requests across statements, then `execute()` runs them
    * all in ONE fused scan. Each request returns a thunk that is valid
    * after execute(). */
  def delayed(): DelayedStats = new DelayedStats(this)

  def countExpr(e: String = "*", selection: Option[String] = None): Long =
    if (e == "*") selection match {
      case None => df.count()
      case Some(_) => df.agg(sum(when(maybeSelected("true", selection), 1L)).cast("long")).head().getLong(0)
    }
    else df.agg(functions.count(maybeSelected(e, selection))).head().getLong(0)

  def sumExpr(e: String, selection: Option[String] = None): Double =
    df.agg(sum(maybeSelected(e, selection).cast("double"))).head() match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }
  def meanExpr(e: String, selection: Option[String] = None): Double =
    df.agg(avg(maybeSelected(e, selection).cast("double"))).head() match {
      case r if r.isNullAt(0) => Double.NaN // empty frame (numpy mean-of-empty)
      case r => r.getDouble(0)
    }
  def minExpr(e: String, selection: Option[String] = None): Any =
    df.agg(min(maybeSelected(e, selection))).head().get(0)
  def maxExpr(e: String, selection: Option[String] = None): Any =
    df.agg(max(maybeSelected(e, selection))).head().get(0)
  /** Single-pass min+max (reference: core/dataframe.py:1487 minmax). */
  def minmax(e: String, selection: Option[String] = None): (Any, Any) = {
    val r = df.agg(min(maybeSelected(e, selection)), max(maybeSelected(e, selection))).head()
    (r.get(0), r.get(1))
  }
  /** Population variance, vaex's default ddof=0
    * (reference: core/agg.py:421-457). */
  def varExpr(e: String, selection: Option[String] = None): Double =
    df.agg(var_pop(maybeSelected(e, selection).cast("double"))).head() match {
      case r if r.isNullAt(0) => Double.NaN
      case r => r.getDouble(0)
    }
  def stdExpr(e: String, selection: Option[String] = None): Double = math.sqrt(varExpr(e, selection))

  /** Population skewness from exact moment sums (the same m3/m2^1.5
    * decomposition as the reference, core/agg.py:476; matches the
    * oracle-gated q_agg_skew_kurt formula). */
  def skewExpr(e: String, selection: Option[String] = None): Double =
    momentStats(e, selection) match {
      case (n, m1, m2, m3, _) if n > 0 && m2 / n - m1 * m1 > 0 =>
        val c2 = m2 / n - m1 * m1
        val c3 = m3 / n - 3 * m1 * (m2 / n) + 2 * m1 * m1 * m1
        c3 / math.pow(c2, 1.5)
      case _ => Double.NaN
    }

  /** Population excess kurtosis (reference: core/agg.py:497). */
  def kurtosisExpr(e: String, selection: Option[String] = None): Double =
    momentStats(e, selection) match {
      case (n, m1, m2, m3, m4) if n > 0 && m2 / n - m1 * m1 > 0 =>
        val c2 = m2 / n - m1 * m1
        val c4 = m4 / n - 4 * m1 * (m3 / n) + 6 * m1 * m1 * (m2 / n) - 3 * m1 * m1 * m1 * m1
        c4 / (c2 * c2) - 3.0
      case _ => Double.NaN
    }

  /** One pass: (n, mean, sum x², sum x³, sum x⁴) raw moments. */
  private def momentStats(e: String, selection: Option[String])
  : (Long, Double, Double, Double, Double) = {
    val x = maybeSelected(e, selection).cast("double")
    val r = df.agg(functions.count(x), avg(x), sum(x * x), sum(x * x * x), sum(x * x * x * x)).head()
    if (r.isNullAt(1)) (0L, 0, 0, 0, 0)
    else (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
  }
  /** Distinct values pulled to the driver (reference: unique with
    * `limit=` raising RowLimitException past it, core/dataframe.py:575,
    * core/__init__.py:870). Two-stage guard against the unbounded
    * driver collect a high-cardinality column would cause at scale:
    * a cheap HLL precheck (same idiom as [[checkRowLimit]]) refuses
    * before any shuffle when clearly over, and an exact `limit(n+1)`
    * backstop catches HLL undercounting near the threshold — the
    * collect is then provably bounded at `limit+1` rows. */
  def uniqueValues(e: String, limit: Long = VxFrame.DefaultUniqueLimit): Seq[Any] = {
    require(limit > 0 && limit <= Int.MaxValue - 1, s"unique limit out of range: $limit")
    // rsd 0.02 (the default 0.05 at ~2 sigma would spuriously refuse
    // legitimate just-under-limit cardinalities)
    val approx = df.agg(approx_count_distinct(parse(e), 0.02)).head().getLong(0)
    // only refuse outright when clearly over; near-limit undercounts
    // fall through to the exact limit+1 backstop below
    if (approx > (limit * 1.1).toLong + 16)
      throw new IllegalStateException(
        s"unique($e): ~$approx distinct values > row_limit=$limit; raise the limit or aggregate instead")
    val vals = df.select(parse(e)).distinct().limit(limit.toInt + 1).collect()
    if (vals.length > limit)
      throw new IllegalStateException(
        s"unique($e): more than row_limit=$limit distinct values; raise the limit or aggregate instead")
    vals.toSeq.map(_.get(0))
  }
  def nunique(e: String, selection: Option[String] = None): Long =
    df.agg(count_distinct(maybeSelected(e, selection))).head().getLong(0)

  /** df.apply analog (reference: core/dataframe.py:440): attach a
    * user function as a column. Deliberately the documented SLOW path —
    * a UDF breaks codegen and does not serialize into state; prefer
    * expression strings / Column compositions everywhere possible. */
  def withApplied(name: String,
                  f: org.apache.spark.sql.expressions.UserDefinedFunction,
                  inputs: String*): VxFrame =
    copy(base = df.withColumn(name, f(inputs.map(parse): _*)),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** Full covariance matrix in ONE aggregation pass (reference:
    * core/dataframe.py:1402 cov) — all pairwise covar_pop fused into a
    * single scan, the multi-agg fusion idiom. */
  def covMatrix(cols: Seq[String]): Array[Array[Double]] = {
    val pairs = for (i <- cols.indices; j <- i until cols.size)
      yield covar_pop(parse(cols(i)).cast("double"), parse(cols(j)).cast("double"))
        .as(s"c_${i}_$j")
    val row = df.agg(pairs.head, pairs.tail: _*).head()
    val m = Array.ofDim[Double](cols.size, cols.size)
    var k = 0
    for (i <- cols.indices; j <- i until cols.size) {
      m(i)(j) = row.getDouble(k); m(j)(i) = row.getDouble(k); k += 1
    }
    m
  }

  /** to_records (reference: core/dataframe.py:3168): driver-side
    * row-oriented pull. Bounded by `limit` — the interop surface for
    * handing small results to other ecosystems; large frames should
    * export Parquet/Arrow instead. `limit < 0` pulls everything. */
  def toRecords(limit: Int = -1): Seq[Map[String, Any]] = {
    val d = if (limit >= 0) df.limit(limit) else df
    val names = d.columns
    d.collect().toSeq.map(r => names.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** to_items / to_dict (reference: core/dataframe.py:3206/:3251):
    * column-oriented driver-side pull, insertion-ordered. */
  def toItems(limit: Int = -1): Seq[(String, Seq[Any])] = {
    val d = if (limit >= 0) df.limit(limit) else df
    val names = d.columns
    val rows = d.collect()
    names.zipWithIndex.map { case (c, i) => c -> rows.map(_.get(i)).toSeq }.toSeq
  }

  /** to_arrow_table analog (reference: core/dataframe.py:3358): write
    * the frame as one Arrow IPC file for zero-copy handoff to
    * pandas/polars/R. */
  def toArrowFile(path: String): Unit = graft.sources.ArrowIpc.write(df, path)

  /** df.export(path) — extension-dispatched export of the CURRENT
    * view (virtual columns materialized, active filter applied;
    * reference: core/dataframe.py:6731). Covers
    * parquet/csv/json/arrow/feather/arrows/hdf5/fits/ascii. */
  def export(path: String): Unit = graft.sources.Export.export(df, path)

  /** export_csv / export_json — SINGLE-file variants (the Spark
    * directory forms are `export` with .csv/.json). */
  def exportCsv(path: String, header: Boolean = true, sep: String = ","): Unit =
    graft.sources.Export.toCsvFile(df, path, header, sep)
  def exportJson(path: String): Unit = graft.sources.Export.toJsonFile(df, path)

  /** Write this frame as a Delta table commit (beyond the reference —
    * `export('x.delta')` is the overwrite shorthand; this form adds
    * append mode + partitioning). */
  def exportDelta(path: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit =
    graft.sources.DeltaLake.toDelta(df, path, mode, partitionBy)

  /** MERGE this frame into an existing Delta table by key (rows
    * sharing `keys` are replaced, new keys insert; only key-matching
    * files rewrite). Returns the committed version. */
  def upsertInto(path: String, keys: Seq[String]): Long =
    graft.sources.DeltaLake.upsert(df.sparkSession, path, df, keys)

  /** Distributed GD model fits over this frame (ml.GradientDescent):
    * linear least squares / squared-hinge classifier, each returning
    * the 1-row weights frame. Persist the frame first when fitting
    * with many iterations — it is scanned once per step. */
  def fitLinear(features: Seq[String], label: String,
      iters: Int = 10, lr: Double = 0.125): org.apache.spark.sql.DataFrame =
    graft.ml.GradientDescent.linearFit(df, features, label, iters, lr)
  def fitClassifier(features: Seq[String], label: String,
      iters: Int = 10, lr: Double = 0.125): org.apache.spark.sql.DataFrame =
    graft.ml.GradientDescent.squaredHingeFit(df, features, label, iters, lr)

  // ------------------------------------------------- corpus curation

  /** ftfy-style text cleanup of `column` IN PLACE (the q_text_clean
    * pipeline): single-layer mojibake repair, control-char strip
    * (keeps tab/newline/formfeed/CR for the whitespace collapse),
    * NBSP/zero-width-space normalization, whitespace collapse + trim.
    * Pure projection — zero shuffle at any corpus size. */
  def textClean(column: String = "text"): VxFrame =
    // ONE cleanup-chain definition shared with q_text_clean
    // (TextFunctions.textCleanCol); state-preserving copy like every
    // sibling transform — variables/selections/categories survive
    copy(base = df.withColumn(column,
        graft.functions.TextFunctions.textCleanCol(col(column))),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** Hashed-feature quality score over `column` (the
    * q_quality_classifier pipeline): distinct unigram+bigram features,
    * one codegen'd FeatureWeightSum pass, adds `as` (the logit sum in
    * weight units) and `{as}_label` (its sign). Deterministic
    * placeholder weights — swap in trained ones by replacing the
    * (a, b) derivation with a lookup table (same kernel shape). */
  def qualityScore(column: String = "text", as: String = "quality_score",
                   nBuckets: Int = graft.functions.TextFunctions.ClassifierBuckets): VxFrame = {
    Seq(as, s"${as}_label", "__qs").foreach { n =>
      require(!df.columns.contains(n), s"qualityScore: column $n already exists")
    }
    // ONE pipeline definition shared with q_quality_classifier
    val staged = df.withColumn("__qs",
      graft.functions.TextFunctions.classifierScoreStruct(col(column), nBuckets))
    copy(base = staged
        .withColumn(as, col("__qs.wsum_milli").cast("double") / 1000.0)
        .withColumn(s"${as}_label", (col("__qs.wsum_milli") > 0L).cast("long"))
        .drop("__qs"),
      virtualColumns = ListMap.empty, filterExpression = None)
  }


  /** Incremental (cross-snapshot) dedup: keep only rows whose
    * `column` content hash does not appear in `old` (the
    * q_incremental_dedup / RETRO shape — dedup the increment against
    * the previous snapshot, never against itself). Production
    * xxhash64 lane; only 8-byte hashes join. */
  def dedupAgainst(old: VxFrame, column: String = "text"): VxFrame = {
    require(!df.columns.contains("__h"),
      "dedupAgainst: column __h already exists — rename it first")
    import graft.functions.TextFunctions
    val h = TextFunctions.portableHash(col(column), TextFunctions.Xx64Hash)
    val oldH = old.df.select(
      TextFunctions.portableHash(col(column), TextFunctions.Xx64Hash).as("__h"))
      .distinct()
    copy(base = df.withColumn("__h", h)
        .join(oldH, Seq("__h"), "left_anti").drop("__h"),
      virtualColumns = ListMap.empty, filterExpression = None)
  }


  /** Deterministic epoch shard assignment (the q_shard_assign shape):
    * adds `as` = salted-hash shard in [0, nShards). Reshuffle an
    * epoch by changing `salt`. */
  def shardAssign(nShards: Int, idColumn: String, as: String = "shard",
                  salt: String = "shard:"): VxFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(!df.columns.contains(as), s"shardAssign: column $as already exists")
    import graft.functions.TextFunctions
    copy(base = df.withColumn(as, pmod(TextFunctions.portableHash(
        org.apache.spark.sql.functions.concat(
          lit(salt), col(idColumn).cast("string")), TextFunctions.Xx64Hash),
        lit(nShards.toLong))),
      virtualColumns = ListMap.empty, filterExpression = None)
  }


  /** End-to-end BPE tokenization of a text column: the GPT-2-style
    * pre-tokenizer (TextFunctions.bpePretokens — the q_token_bpe
    * algebra) feeds the greedy learned-vocab merge kernel
    * (TextKernels.bpeApply — the q_bpe_apply algebra), adding `as` =
    * array<string> of tokens. `merges` is an ordered merge list
    * (rank = position), e.g. q_bpe_learn's output or a parsed
    * merges.txt. Pure projection — one codegen'd pass, zero shuffle
    * at any corpus size. */
  def bpeTokenize(merges: Seq[(String, String)], column: String = "text",
                  as: String = "tokens"): VxFrame = {
    require(!df.columns.contains(as), s"bpeTokenize: column $as already exists")
    copy(base = df.withColumn(as,
        graft.functions.TextFunctions.bpeApply(
          graft.functions.TextFunctions.bpePretokens(col(column)), merges)),
      virtualColumns = ListMap.empty, filterExpression = None)
  }

  /** Ordered conversion funnel over an event frame: one output row
    * per stage with the users reaching it (first qualifying event
    * strictly later than the previous stage's) and the total
    * stage-to-stage lag in exact integer microseconds. ONE algebra
    * definition with the q_event_funnel oracle lane
    * (operators.EventOps.funnel); aggregation result — a fresh frame,
    * like groupby. */
  def funnel(stages: Seq[String], user: String = "user_id",
             eventType: String = "event_type", ts: String = "ts"): VxFrame =
    VxFrame(graft.operators.EventOps.funnel(df, user, eventType, ts, stages))

  /** Cohort retention matrix: cohort = period of a user's first
    * event (days since `anchor` floor-divided by `periodDays`), cell
    * = distinct users active at each period offset. Shares its
    * algebra with the q_cohort_retention oracle lane
    * (operators.EventOps.cohortRetention). */
  def cohortRetention(anchor: String, periodDays: Int = 7,
                      user: String = "user_id", ts: String = "ts"): VxFrame =
    VxFrame(graft.operators.EventOps.cohortRetention(
      df, user, ts, anchor, periodDays))

  /** Chunked pull iteration (reference: core/dataframe.py:3112
    * evaluate_iterator; chunk_iterator core/dataset.py:528):
    * driver-side iterator of row chunks, streaming one partition at a
    * time — never materializes the full frame. */
  def evaluateIterator(exprs: Seq[String], chunkSize: Int = 10000): Iterator[Seq[Row]] =
    df.select(exprs.map(parse): _*).toLocalIterator().asScala.grouped(chunkSize)

  private def asScalaIt[T](it: java.util.Iterator[T]): Iterator[T] =
    new Iterator[T] { def hasNext = it.hasNext; def next() = it.next() }
  implicit private class JIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = asScalaIt(it)
  }

  // ---------------------------------------------------------------- ordering / slicing

  /** Nulls/NaN always last regardless of direction
    * (reference: core/dataframe.py:4698). */
  def sort(by: Seq[String], ascending: Boolean = true): VxFrame = {
    val cols = by.map(c => if (ascending) parse(c).asc_nulls_last else parse(c).desc_nulls_last)
    copy(base = df.orderBy(cols: _*), virtualColumns = ListMap.empty, filterExpression = None)
  }

  def head(n: Int): VxFrame = copy(base = df.limit(n), virtualColumns = ListMap.empty, filterExpression = None)
  /** df[a:b] slice (reference: core/dataframe.py:5386). */
  def slice(a: Int, b: Int): VxFrame =
    copy(base = df.offset(a).limit(b - a), virtualColumns = ListMap.empty, filterExpression = None)

  /** Last n rows in row_index order when present, else by count-offset
    * (reference: core/dataframe.py:3970 tail). */
  def tail(n: Int): VxFrame =
    if (df.columns.contains("row_index")) {
      val maxRow = df.agg(max(col("row_index"))).head()
      if (maxRow.isNullAt(0)) // empty frame: max(row_index) is null
        copy(base = df.limit(0), virtualColumns = ListMap.empty, filterExpression = None)
      else
        copy(base = df.where(col("row_index") > maxRow.getLong(0) - n),
          virtualColumns = ListMap.empty, filterExpression = None)
    } else {
      val total = count()
      slice(math.max(total - n, 0).toInt, total.toInt)
    }

  /** Positional row selection by index list (reference:
    * core/dataframe.py:4444 take) — a broadcast semi-join on
    * row_index, no driver materialization of data rows. */
  def takeIndices(indices: Seq[Long], rowIndex: String = "row_index"): VxFrame =
    copy(base = df.where(col(rowIndex).isin(indices: _*)),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** DataFrame-level fillna (reference: core/dataframe.py:4888):
    * fill NaN AND missing in the given columns. */
  def fillNA(value: Any, columns: Seq[String]): VxFrame = {
    val filled = columns.foldLeft(df) { (d, c) =>
      val isFloat = d.schema(c).dataType == org.apache.spark.sql.types.DoubleType ||
        d.schema(c).dataType == org.apache.spark.sql.types.FloatType
      val base = if (isFloat) when(isnan(col(c)), lit(value)).otherwise(col(c)) else col(c)
      d.withColumn(c, coalesce(base, lit(value)))
    }
    copy(base = filled, virtualColumns = ListMap.empty, filterExpression = None)
  }

  /** Exact per-expression distinct count with vaex's NA flags
    * (reference: core/expression.py:1067 nunique(dropna/dropnan/
    * dropmissing)): by default nulls and NaN each count as ONE distinct
    * value (numpy-set semantics); flags drop them. */
  def nuniqueFlags(e: String, dropMissing: Boolean = false,
                   dropNan: Boolean = false): Long = {
    val c = parse(e)
    val dt = df.select(c).schema.head.dataType
    val isFloat = dt == org.apache.spark.sql.types.DoubleType ||
      dt == org.apache.spark.sql.types.FloatType
    // count_distinct ignores nulls and counts NaN once (Spark's agg
    // NaN-normalization), exactly vaex's dropmissing+keep-NaN default
    val valueCol = if (dropNan && isFloat) when(!isnan(c), c) else c
    val r = df.agg(
      count_distinct(valueCol).as("d"),
      coalesce(functions.max(c.isNull.cast("int")), lit(0)).as("has_null")).head()
    r.getLong(0) + (if (!dropMissing && r.getInt(1) == 1) 1L else 0L)
  }

  /** [min, max] of an expression (reference: core/dataframe.py:1844
    * limits) and percentage-trimmed limits (reference: :1795
    * limits_percentage — central `percentage`% interval). */
  def limits(e: String): (Double, Double) = {
    val r = df.agg(min(parse(e)).cast("double"), max(parse(e)).cast("double")).head()
    if (r.isNullAt(0) || r.isNullAt(1)) (Double.NaN, Double.NaN)
    else (r.getDouble(0), r.getDouble(1))
  }

  /** Percentile of an expression. The PUBLIC default is the sketch-
    * based `percentile_approx` — the reference's percentile is itself
    * approximate (grid-interpolated, core/dataframe.py:1632-1781).
    * `exact=true` uses Spark's builtin exact `percentile` (collects a
    * value->count map on one reducer — fine up to medium scale, OOM
    * territory on a 100 TB fact table); `scaleSafe=true` additionally
    * routes the exact computation through
    * [[graft.operators.GroupedPercentile]]'s distributed selection
    * (4 memory-bounded passes, bit-identical result) — the form that
    * survives a 100 TB column. */
  def percentile(e: String, q: Double, exact: Boolean = false,
                 scaleSafe: Boolean = false): Double = {
    val c = substituteVariables(e)
    if (exact && scaleSafe) {
      import graft.operators.GroupedPercentile
      val r = GroupedPercentile.exact(df, Nil,
        Seq(GroupedPercentile.Spec(c, q, "__p"))).head()
      return if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    }
    val aggExpr =
      if (exact) expr(s"percentile($c, $q)")
      else expr(s"percentile_approx($c, $q, 10000)").cast("double")
    df.agg(aggExpr).head() match {
      case r if r.isNullAt(0) => Double.NaN
      case r => r.getDouble(0)
    }
  }
  def limitsPercentage(e: String, percentage: Double = 99.73): (Double, Double) = {
    val tailFrac = (100.0 - percentage) / 200.0
    val r = df.agg(
      expr(s"percentile(${substituteVariables(e)}, $tailFrac)"),
      expr(s"percentile(${substituteVariables(e)}, ${1 - tailFrac})")).head()
    (r.getDouble(0), r.getDouble(1))
  }

  def sample(frac: Double, seed: Long = 42L): VxFrame =
    copy(base = df.sample(frac, seed), virtualColumns = ListMap.empty, filterExpression = None)
  /** Weighted sample without replacement (reference:
    * core/dataframe.py:4550 `sample(n, weights=)` — inclusion chance
    * proportional to a weight column/expression). One scalar
    * aggregation computes Σw, then a pure-Column rejection filter
    * keeps row i with probability n·wᵢ/Σw (capped at 1) — expected
    * size n, no shuffle, no driver-side data. Non-positive/null
    * weights never sample (the reference errors on negatives; nulls
    * are excluded like its dropna-on-weights behavior). */
  def sampleWeighted(n: Long, weights: String, seed: Long = 42L): VxFrame = {
    require(n > 0, "sampleWeighted: n must be positive")
    val w = parse(weights).cast("double")
    val pos = when(w.isNotNull && !isnan(w) && w > 0, w).otherwise(lit(0.0))
    // coalesce: sum over an empty frame is null -> clear error, not NPE
    val sumW = df.agg(coalesce(sum(pos), lit(0.0))).head().getDouble(0)
    require(sumW > 0, "sampleWeighted: weights sum to zero")
    val p = least(lit(1.0), pos * (n.toDouble / sumW))
    copy(base = df.where(rand(seed) < p),
      virtualColumns = ListMap.empty, filterExpression = None)
  }

  /** EXACT-size weighted sample without replacement
    * (Efraimidis-Spirakis A-ES): each row draws key = U^(1/w) and the
    * n largest keys win — provably the weighted-without-replacement
    * distribution, in one pass with no Σw pre-aggregation. The plan is
    * a TakeOrdered (per-partition top-n, then merge of n-row partials)
    * — no global sort, safe at any scale for driver-bounded n. Use
    * [[sampleWeighted]] when n is too large to order (expected-size,
    * fully streaming). */
  def sampleWeightedExact(n: Int, weights: String, seed: Long = 42L): VxFrame = {
    require(n > 0, "sampleWeightedExact: n must be positive")
    val w = parse(weights).cast("double")
    val ok = w.isNotNull && !isnan(w) && w > 0
    val key = pow(rand(seed), lit(1.0) / w)
    copy(base = df.where(ok).withColumn("__es_key", key)
        .orderBy(col("__es_key").desc).limit(n).drop("__es_key"),
      virtualColumns = ListMap.empty, filterExpression = None)
  }

  /** Random permutation. vaex's shuffle promises random ROW ORDER, not
    * a total sort, so at scale this avoids the range-partitioned global
    * sort of `orderBy(rand)`: hash-repartition on a random key (the
    * shuffle that actually randomizes placement) and sort only within
    * partitions (parallel, no single range exchange). */
  def shuffle(seed: Long = 42L): VxFrame = {
    val keyed = df.withColumn("__shuffle_key", rand(seed))
    copy(base = keyed.repartition(col("__shuffle_key"))
        .sortWithinPartitions(col("__shuffle_key")).drop("__shuffle_key"),
      virtualColumns = ListMap.empty, filterExpression = None)
  }
  def split(fracs: Seq[Double], seed: Long = 42L): Seq[VxFrame] =
    df.randomSplit(fracs.toArray, seed).toSeq.map(d => VxFrame(d))

  /** reference: core/dataframe.py:4608 `split_random` — randomized
    * split; `into < 1` means (into, 1-into) fractions, else equal-ish
    * parts. Spark's randomSplit shuffles assignment, matching the
    * reference's permuted split. */
  def splitRandom(into: Double, seed: Long = 42L): Seq[VxFrame] = {
    require(into > 0, "into must be positive")
    if (into < 1.0) split(Seq(into, 1.0 - into), seed)
    else split(Seq.fill(into.toInt)(1.0 / into.toInt), seed)
  }
  def splitRandom(fracs: Seq[Double], seed: Long): Seq[VxFrame] = split(fracs, seed)

  // ---------------------------------------------------------------- categories

  /** reference: core/dataframe.py:5858 `categorize` — declare an int
    * column categorical with labels; metadata only, no data pass. */
  def categorize(column: String, labels: Seq[String]): VxFrame =
    copy(categories = categories + (column -> labels))
  /** Declare an int column ordinal with codes [0, domain) without
    * materializing label strings — the labels are a constant-space
    * view (label i = "i"), so a surrogate-key domain in the millions
    * costs nothing until a label is actually read. */
  def categorizeOrdinal(column: String, domain: Int): VxFrame =
    categorize(column, new scala.collection.immutable.IndexedSeq[String] {
      def length: Int = domain
      def apply(i: Int): String = i.toString
    })
  def isCategory(column: String): Boolean = categories.contains(column)
  def categoryLabels(column: String): Seq[String] = categories(column)
  /** Virtual label column from category metadata (CASE chain). */
  def withCategoryLabels(column: String, as: String): VxFrame = {
    val labels = categories(column)
    val cases = labels.zipWithIndex
      .map { case (l, i) => s"WHEN $column = $i THEN '${l.replace("'", "''")}'" }
      .mkString("CASE ", " ", " ELSE NULL END")
    withVirtualColumn(as, cases)
  }

  // ---------------------------------------------------------------- uncertainty

  /** First-order uncertainty propagation (reference:
    * core/dataframe.py:3648 propagate_uncertainties, symbolic
    * differentiation in core/expresso.py:262): adds the value as a
    * virtual column and its propagated sigma as another —
    * sigma_f = sqrt(Σ (∂f/∂x_i)² σ_i²). `sigmas` maps variable name ->
    * sigma expression (usually the error column's name). */
  def propagateUncertainties(name: String, expression: String,
                             sigmas: Map[String, String],
                             covariances: Map[(String, String), String] = Map.empty): VxFrame =
    withVirtualColumn(name, expression)
      .withVirtualColumn(s"${name}_uncertainty",
        graft.functions.Symbolic.propagatedSigma(expression, sigmas, covariances))

  // ---------------------------------------------------------------- joins / set ops

  /** Equi-join with vaex's collision mangling (reference: core/join.py:
    * 125-297; suffix handling :225-256). The right side gets a
    * `broadcast` hint when `rightSmall` — the exact analog of the
    * reference's "right side is always the build side" hash join
    * (core/join.py:169), but Catalyst/AQE can still override. */
  def join(other: VxFrame, on: Seq[String], how: String = "left",
           rprefix: String = "", rsuffix: String = "_r",
           rightSmall: Boolean = true): VxFrame = {
    val left = df
    var right = other.df
    val collisions = right.columns.filter(c => left.columns.contains(c) && !on.contains(c))
    collisions.foreach { c => right = right.withColumnRenamed(c, s"$rprefix$c$rsuffix") }
    // dense fast path (the reference's join design — core/join.py:36
    // builds a lookup index array and reads right columns through it):
    // a single join key the right frame has categorize'd declares a
    // bounded ordinal domain, so the dim lowers to flat arrays probed
    // by a codegen'd array read (operators.DenseLookupJoin) — zero
    // shuffle, zero hash probes, row-identical to the hash join.
    // Like the reference, this path materializes the (bounded) dim at
    // join() time. Any build precondition failure (duplicate/null/
    // out-of-domain keys, unsupported value type) falls back to the
    // hash join, which handles all of those.
    if ((how == "inner" || how == "left") && on.length == 1 &&
        other.categories.contains(on.head) &&
        other.categories(on.head).length <= graft.operators.DenseLookupJoin.MaxDomain) {
      try {
        val dense = graft.operators.DenseLookupJoin.lookupJoin(
          left, right, col(on.head), on.head,
          other.categories(on.head).length, how)
        // match the hash path's USING-join schema exactly (key column
        // hoisted first) — which path served a call must never be
        // observable through column order
        val usingOrder = on ++ left.columns.filterNot(on.contains) ++
          right.columns.filterNot(on.contains)
        return VxFrame(dense.select(usingOrder.map(col): _*))
      } catch { case _: IllegalArgumentException => () }
    }
    val r = if (rightSmall) broadcast(right) else right
    VxFrame(left.join(r, on, how))
  }

  /** As-of (backward) join through the facade — for each row of this
    * frame, the latest strictly-earlier `other` row by the same keys
    * (operators.AsOfJoin: union + per-key window, O(n log n) per key,
    * never materializes candidate pairs). Payload columns attach as
    * `asof_<name>`. */
  def joinAsof(other: VxFrame, on: Seq[String], leftTs: String,
               rightTs: String, payload: Seq[String]): VxFrame =
    VxFrame(graft.operators.AsOfJoin.asofBackward(
      df, other.df, on, leftTs, rightTs, payload))

  /** Range join through the facade — rows of this frame paired with
    * `intervals` rows whose `[start, end]` contains `point`
    * (operators.RangeJoin binned equi-join; never a nested loop).
    * Interval columns colliding with ours get `rsuffix`; pass the
    * ORIGINAL start/end names — renames are resolved here. `how` may
    * be "inner" or "left" (keep rows matching no interval,
    * null-extended — the enrich shape, and the reference's default
    * join direction). */
  def joinRange(intervals: VxFrame, point: String, start: String,
                end: String, binWidth: Long, rsuffix: String = "_r",
                maxBinsPerInterval: Int = 4096,
                inclusiveEnd: Boolean = true, how: String = "inner"): VxFrame = {
    require(rsuffix.nonEmpty, "joinRange: rsuffix must be non-empty")
    val left = df
    var right = intervals.df
    // the suffixed name can itself collide (e.g. with a column from a
    // previous suffixed join) — cascade the suffix until free
    val renames = scala.collection.mutable.Map[String, String]()
    intervals.df.columns.filter(left.columns.contains).foreach { c =>
      var nc = s"$c$rsuffix"
      while (left.columns.contains(nc) || right.columns.contains(nc))
        nc += rsuffix
      right = right.withColumnRenamed(c, nc)
      renames(c) = nc
    }
    def resolved(c: String) = renames.getOrElse(c, c)
    VxFrame(graft.operators.RangeJoin.pointInInterval(
      left, right, point, resolved(start), resolved(end), binWidth,
      maxBinsPerInterval = maxBinsPerInterval, inclusiveEnd = inclusiveEnd,
      joinType = how))
  }

  /** Positional join (reference: core/join.py:164 `on=None` row paste):
    * zip by an explicit row-index column present on both sides. */
  def joinPositional(other: VxFrame, rowIndex: String = "row_index",
                     rsuffix: String = "_r"): VxFrame = {
    val left = df
    var right = other.df
    right.columns.filter(c => left.columns.contains(c) && c != rowIndex).foreach { c =>
      right = right.withColumnRenamed(c, s"$c$rsuffix")
    }
    VxFrame(left.join(right, Seq(rowIndex), "left"))
  }

  /** Row-wise concat with the 'flexible' schema resolver (reference:
    * core/dataframe.py:6269, core/dataset.py:687 DatasetConcatenated):
    * missing columns become nulls, shared columns upcast. */
  def concat(others: VxFrame*): VxFrame = {
    val frames = (this +: others).map(_.df)
    VxFrame(frames.reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  def isin(e: String, values: Seq[Any]): Column = parse(e).isin(values: _*)

  /** reference: core/dataframe.py:6587 `compare` — schema + value diff
    * of two frames. Spark-idiomatic rewrite: the reference compares
    * positionally after an argsort; here rows align on the `key`
    * column (unique in both frames) through ONE equi-join, and every
    * shared column's mismatches are counted in the SAME aggregation
    * pass with null-safe equality (no driver loop, one shuffle). */
  def compare(other: VxFrame, key: String): CompareResult = {
    val mineCols = columnNames.toSet
    val theirCols = other.columnNames.toSet
    val missingInThis = (theirCols -- mineCols).toSeq.sorted
    val missingInOther = (mineCols -- theirCols).toSeq.sorted
    val shared = (mineCols intersect theirCols) - key
    val typeOf = df.schema.map(f => f.name -> f.dataType).toMap
    val otherTypeOf = other.df.schema.map(f => f.name -> f.dataType).toMap
    val (typeMismatch, comparable) = shared.toSeq.sorted
      .partition(c => typeOf(c) != otherTypeOf(c))
    val l = df.as("l"); val r = other.df.as("r")
    val joined = l.join(r, col(s"l.$key") === col(s"r.$key"), "full_outer")
    val aggs = functions.sum(when(col(s"l.$key").isNull || col(s"r.$key").isNull, 1L)
      .otherwise(0L)).as("__unmatched") +:
      comparable.map(c => functions.sum(
        when(col(s"l.$key").isNotNull && col(s"r.$key").isNotNull &&
          !(col(s"l.$c") <=> col(s"r.$c")), 1L).otherwise(0L)).as(c))
    val row = joined.agg(aggs.head, aggs.tail: _*).head()
    val unmatched = if (row.isNullAt(0)) 0L else row.getLong(0)
    val diffs = comparable.zipWithIndex
      .map { case (c, i) => c -> (if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)) }
      .filter(_._2 > 0).toMap
    CompareResult(missingInThis, missingInOther, typeMismatch, diffs, unmatched)
  }

  /** reference: core/expression.py:994 value_counts. */
  def valueCounts(e: String): DataFrame =
    df.groupBy(parse(e).as("value")).count()
      .orderBy(col("count").desc_nulls_last, col("value").asc_nulls_last)

  // ---------------------------------------------------------------- ordered ops

  /** Shift a column by `periods` in row_index order (reference:
    * core/dataframe.py:4781 shift). Requires a DENSE `row_index`
    * column (Tables.withRowIndex). Lowered to one block-partitioned
    * streaming pass — no global single-reducer window
    * (graft.operators.OrderedOps). */
  def shift(column: String, periods: Int, rowIndex: String = "row_index",
            fill: Option[Any] = None, trim: Boolean = false): VxFrame =
    copy(base = graft.operators.OrderedOps.shift(df, column, periods, rowIndex,
      fill = fill, trim = trim),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** diff = x - shift(x) (reference: core/dataframe.py:4749). */
  def diff(column: String, periods: Int = 1, rowIndex: String = "row_index"): VxFrame =
    copy(base = graft.operators.OrderedOps.diff(df, column, periods, rowIndex),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** Trailing rolling sum over `window` rows
    * (reference: core/dataframe.py:5656 rolling). */
  def rollingSum(column: String, window: Int, as: String,
                 rowIndex: String = "row_index"): VxFrame =
    copy(base = graft.operators.OrderedOps.rollingSum(df, column, window, as, rowIndex),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** Rolling min/max/count via the same block-partitioned machinery. */
  def rollingAgg(column: String, window: Int, as: String, how: String,
                 rowIndex: String = "row_index"): VxFrame =
    copy(base = graft.operators.OrderedOps.rollingAgg(df, column, window, as, how, rowIndex),
      virtualColumns = ListMap.empty, filterExpression = None)

  def rollingMean(column: String, window: Int, as: String,
                  rowIndex: String = "row_index"): VxFrame =
    copy(base = graft.operators.OrderedOps.rollingMean(df, column, window, as, rowIndex),
      virtualColumns = ListMap.empty, filterExpression = None)

  def rollingVar(column: String, window: Int, as: String,
                 rowIndex: String = "row_index"): VxFrame =
    copy(base = graft.operators.OrderedOps.rollingVar(df, column, window, as, rowIndex),
      virtualColumns = ListMap.empty, filterExpression = None)

  def rollingStd(column: String, window: Int, as: String,
                 rowIndex: String = "row_index"): VxFrame =
    copy(base = graft.operators.OrderedOps.rollingStd(df, column, window, as, rowIndex),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** Raw sliding-window matrix — the reference's `rolling(...).array`
    * (core/rolling.py:4-31): fixed-length window arrays; `edge`
    * "right" (trailing, default) or "left" (leading), partial windows
    * padded with `fillValue` (null by default). */
  def rollingArray(column: String, window: Int, as: String,
                   rowIndex: String = "row_index",
                   fillValue: Option[Any] = None,
                   edge: String = "right"): VxFrame =
    copy(base = graft.operators.OrderedOps.rollingArray(df, column, window, as, rowIndex,
      fillValue = fillValue, edge = edge),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** Exact interpolated rolling median over the collected window. */
  def rollingMedian(column: String, window: Int, as: String,
                    rowIndex: String = "row_index"): VxFrame =
    copy(base = graft.operators.OrderedOps.rollingMedian(df, column, window, as, rowIndex),
      virtualColumns = ListMap.empty, filterExpression = None)

  // ---------------------------------------------------------------- groupby / binby

  /** groupby with agg-spec normalization (reference:
    * core/dataframe.py:7133, spec normalization core/groupby.py:700-747).
    * Spec values: "count"|"sum"|"mean"|"min"|"max"|"std"|"var"|
    * "nunique"|"first"|"last" (first/last use row_index order when
    * present — vaex's file-order semantics, SURVEY §2.6 caveat). */
  /** RowLimitException analog (reference: core/__init__.py:870,
    * row_limit guard on hashmaps core/cpu.py:353): cheap HLL precheck
    * before a groupby that must not explode. */
  def checkRowLimit(by: Seq[String], rowLimit: Long): Unit = {
    val approx = df.agg(approx_count_distinct(struct(by.map(parse): _*))).head().getLong(0)
    if (approx > rowLimit)
      throw new IllegalStateException(
        s"groupby on ${by.mkString(",")} would produce ~$approx groups > row_limit=$rowLimit")
  }

  def groupby(by: Seq[String], agg: Map[String, String], sort: Boolean = false,
              rowLimit: Option[Long] = None): VxFrame = {
    rowLimit.foreach(checkRowLimit(by, _))
    denseGroupby(by, agg, sort).getOrElse {
      val aggCols = hashAggColumns(agg)
      val grouped = df.groupBy(by.map(parse): _*).agg(aggCols.head, aggCols.tail: _*)
      VxFrame(if (sort) grouped.orderBy(by.map(c => col(c).asc_nulls_last): _*) else grouped)
    }
  }

  private def hashAggColumns(agg: Map[String, String]): Seq[Column] = {
    val hasRowIndex = df.columns.contains("row_index")
    agg.toSeq.map { case (c, how) =>
      val a = how match {
        case "count" => functions.count(parse(c))
        case "sum" => sum(parse(c))
        case "mean" => avg(parse(c))
        case "min" => min(parse(c))
        case "max" => max(parse(c))
        case "std" => stddev_pop(parse(c))
        case "var" => var_pop(parse(c))
        case "nunique" => count_distinct(parse(c))
        case "list" => collect_list(parse(c))
        case "first" if hasRowIndex => min_by(parse(c), col("row_index"))
        case "last" if hasRowIndex => max_by(parse(c), col("row_index"))
        case "first" => first(parse(c))
        case "last" => last(parse(c))
        case other => throw new IllegalArgumentException(s"unknown agg: $other")
      }
      a.as(s"${c}_$how")
    }
  }

  /** The reference's categorical fast path AS THE DEFAULT (reference:
    * core/dataframe.py:5858 `categorize` makes ordinal-array groupby
    * the default; README.md:60's >1e9 rows/s is measured on it): when
    * every `by` key has `categories` metadata — an integral code
    * column with a known domain — and every agg is one the dense
    * kernel supports over a numeric column, lower to
    * [[graft.operators.DenseCatAgg]]: flat per-task arrays over the
    * codegen'd scan, treeReduce merge, no hash probe, no shuffle.
    * Multi-key lowers to ONE composite ordinal (row-major over the
    * per-key domains, product capped at `MaxDomain`) decoded back on
    * the (domain-bounded) result.
    *
    * Semantics deltas vs the hash path, both inherited from the
    * reference's categorize contract (missing values carry code -1 and
    * are dropped): rows whose code is null or outside [0, domain) are
    * dropped rather than grouped; and sums/means of integral columns
    * accumulate in float64, exact while |sum| < 2^53 (the reference's
    * own accumulator type, src/agg_sum.cpp). Result columns are cast
    * back to the hash path's exact output schema so callers cannot
    * observe which path ran. Returns None (→ hash path) when any
    * eligibility check fails. */
  private def denseGroupby(by: Seq[String], agg: Map[String, String],
                           sort: Boolean): Option[VxFrame] = {
    import graft.operators.DenseCatAgg
    import org.apache.spark.sql.types._
    val denseOps = Set("sum", "count", "mean", "min", "max")
    if (by.isEmpty || agg.isEmpty) return None
    if (!by.forall(categories.contains)) return None
    if (!agg.values.forall(denseOps)) return None
    val domains = by.map(k => categories(k).length)
    if (domains.exists(_ <= 0)) return None
    if (domains.map(_.toLong).product > DenseCatAgg.MaxDomain) return None
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    val keyTypes = df.select(by.map(parse): _*).schema.map(_.dataType)
    if (!keyTypes.forall(integral)) return None
    val aggSeq = agg.toSeq
    val valTypes = df.select(aggSeq.map(a => parse(a._1)): _*).schema.map(_.dataType)
    if (!aggSeq.zip(valTypes).forall { case ((_, op), t) =>
      denseValueEligible(op, t) }) return None

    // the hash path's exact output schema (resolved lazily — no job)
    val aggCols = hashAggColumns(agg)
    val hashSchema = df.groupBy(by.map(parse): _*).agg(aggCols.head, aggCols.tail: _*).schema

    // composite row-major ordinal; an out-of-range or null key nulls
    // the whole code → the kernel drops the row (categorize missing
    // semantics). strides(i) = product of the domains after i.
    val strides = domains.scanRight(1L)(_ * _).tail
    val code = by.zip(domains).zip(strides).map { case ((k, d), s) =>
      val c = parse(k).cast("bigint")
      when(c >= 0 && c < d, c * lit(s))
    }.reduce(_ + _)
    val denseAggs = aggSeq.map { case (c, how) =>
      // count must see null-ness, not a lossy numeric cast: the kernel
      // casts values to double, which would null-out strings (silent
      // undercount) and is illegal for dates/arrays entirely
      val v = if (how == "count") when(parse(c).isNotNull, lit(1.0)) else parse(c)
      DenseCatAgg.Agg(v, how, s"${c}_$how")
    }
    val domain = domains.map(_.toLong).product.toInt
    val raw = DenseCatAgg.groupByOrdinal(df, code, domain, denseAggs, codeAs = "__code")
    // decode keys (exact: code < 2^20 << 2^53) and cast every column
    // back to the hash path's types
    val keyCols = by.zip(domains).zip(strides).zipWithIndex.map {
      case (((k, d), s), i) =>
        (floor(col("__code") / lit(s.toDouble)).cast("bigint") % lit(d.toLong))
          .cast(hashSchema(i).dataType).as(k)
    }
    val outAggCols = aggSeq.zipWithIndex.map { case ((c, how), j) =>
      val f = hashSchema(by.length + j)
      col(s"${c}_$how").cast(f.dataType).as(f.name)
    }
    val out = raw.select(keyCols ++ outAggCols: _*)
    Some(VxFrame(
      if (sort) out.orderBy(by.map(c => col(c).asc_nulls_last): _*) else out))
  }

  /** The dense tensor is assembled DRIVER-side, so its cell count —
    * the product over dimensions, any number of them — must stay
    * bounded regardless of data size. 2^26 doubles = 512 MB, already
    * generous for a grid someone plots or post-processes; beyond that
    * the distributed groupBy (sparse cells) is the right tool. */
  private val MaxGridCells: Long = 1L << 26

  private def checkGridCells(shapes: Seq[Int]): Unit = {
    require(shapes.forall(_ > 0), s"binby shapes must be positive: $shapes")
    val cells = shapes.foldLeft(1L) { (acc, s) =>
      val next = acc * s
      require(next <= MaxGridCells,
        s"binby grid ${shapes.mkString("x")} exceeds $MaxGridCells cells — " +
          "reduce the shape or use groupby (sparse) instead")
      next
    }
    require(cells > 0, s"empty binby grid: $shapes")
  }

  /** N-d dense-grid aggregation — vaex's signature `binby` primitive
    * (reference: core/dataframe.py:7208, grid layout
    * src/binner_ordinal.cpp:9). Executes as ONE distributed groupBy on
    * computed bin keys; only the final (shape-bounded, user-chosen)
    * dense tensor is assembled on the driver. Cells: values inside
    * [vmin, vmax) in `shape` equal bins; out-of-range/null rows are
    * dropped (edges=False semantics).
    *
    * Returns a flat row-major Array[Double] of size shape_1*...*shape_n.
    */
  def binby(specs: Seq[(String, Double, Double, Int)], agg: Column): Array[Double] = {
    checkGridCells(specs.map(_._4))
    val keys = specs.zipWithIndex.map { case ((e, vmin, vmax, shape), i) =>
      val c = parse(e)
      val width = (vmax - vmin) / shape
      // clamp: width rounding can floor a value just under vmax to
      // exactly `shape`; the row passed c < vmax, so it belongs in the
      // last bin (unclamped it would corrupt driver-side indexing)
      least(floor((c - lit(vmin)) / lit(width)).cast("int"), lit(shape - 1))
        .as(s"__bin$i")
    }
    val inRange = specs.map { case (e, vmin, vmax, _) =>
      val c = parse(e)
      c >= lit(vmin) && c < lit(vmax)
    }.reduce(_ && _)
    val shapes = specs.map(_._4)
    // dense path: the whole N-d bin -> composite ordinal as ONE
    // codegen'd kernel (GridOrdinal — bit-parity with the `keys` +
    // `inRange` formulation the hash path keeps, spec-pinned); nulls
    // drop in the accumulate exactly where the filter dropped rows
    val kernelCode = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.GridOrdinal(
        specs.map(s => org.apache.spark.sql.graftbridge.Bridge.expression(
          parse(s._1).cast("double"))),
        specs.map(_._2), specs.map(_._3), specs.map(_._4)))
    denseGrid(keys, shapes, agg, Some(inRange),
        precomposed = Some(kernelCode)).getOrElse {
      val binned = df.where(inRange)
        .groupBy(keys: _*)
        .agg(agg.cast("double").as("__v"))
        .collect()
      val out = new Array[Double](shapes.product)
      binned.foreach { r =>
        val idx = specs.indices.foldLeft(0) { (acc, i) => acc * shapes(i) + r.getInt(i) }
        out(idx) = if (r.isNullAt(specs.size)) 0.0 else r.getDouble(specs.size)
      }
      out
    }
  }

  /** Recognize a simple single-child aggregate Column —
    * sum/count/mean/min/max — as (value column, op). Anything else
    * (distinct, filtered, composite expressions like covariance)
    * stays on the hash path. */
  private def simpleAggOf(agg: Column): Option[(Column, String)] =
    org.apache.spark.sql.graftbridge.Bridge.simpleAgg(agg)

  /** Can the dense kernel's float64 accumulators reproduce the hash
    * path EXACTLY for this (op, value type)? count needs only null
    * flags; mean matches because Spark's own Average sums in double
    * for every non-decimal type; min/max are exact iff every value is
    * exactly double-representable — true for byte/short/int/float,
    * NOT for long (a ~9e18 id would come back rounded to a multiple
    * of 1024); sum must match the hash path's exact integral
    * accumulator, so only float/double (where the hash path also
    * reassociates double addition) qualify. */
  private def denseValueEligible(op: String,
      t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    op match {
      case "count" => true
      case "mean" => t match {
        case _: NumericType => !t.isInstanceOf[DecimalType]
        case _ => false
      }
      case "sum" => t == FloatType || t == DoubleType
      case "min" | "max" =>
        t == ByteType || t == ShortType || t == IntegerType ||
          t == FloatType || t == DoubleType
      case _ => false
    }
  }

  /** The reference's binby IS its ordinal kernel (src/binner_ordinal
    * .cpp:9 — bin indices are computed per row, then a flat per-thread
    * grid accumulates): when the aggregate is simple and the grid fits
    * the dense domain cap, lower the N-d grid to ONE
    * [[graft.operators.DenseCatAgg]] pass over the composite row-major
    * bin ordinal — no hash probe, no shuffle, grid merge by
    * treeReduce. The result is assembled exactly like the hash path
    * (empty cells 0.0, values as double), so callers cannot observe
    * which path ran; None falls back to hash groupBy. */
  private def denseGrid(bins: Seq[Column], shapes: Seq[Int], agg: Column,
                        filter: Option[Column],
                        precomposed: Option[Column] = None): Option[Array[Double]] = {
    import graft.operators.DenseCatAgg
    val cells = shapes.map(_.toLong).product
    if (cells > DenseCatAgg.MaxDomain) return None
    simpleAggOf(agg).flatMap { case (vcol, op) =>
      val eligible =
        try denseValueEligible(op, df.select(vcol).schema.head.dataType)
        catch { case _: Exception => return None } // unresolvable child
      if (!eligible) return None
      // count must see null-ness, not a lossy numeric cast (a string
      // column would cast to null and under-count)
      val value =
        if (op == "count") when(vcol.isNotNull, lit(1.0)) else vcol.cast("double")
      val (code, base) = precomposed match {
        // kernel ordinal: out-of-range/null rows carry a NULL code and
        // drop in the accumulate — no separate filter pass
        case Some(pc) => (pc, df)
        case None =>
          val strides = shapes.scanRight(1L)(_ * _).tail
          (bins.zip(strides)
            .map { case (b, s) => b.cast("bigint") * lit(s) }.reduce(_ + _),
            filter.fold(df)(df.where))
      }
      val rows = DenseCatAgg.groupByOrdinal(base, code, cells.toInt,
        Seq(DenseCatAgg.Agg(value, op, "v")), codeAs = "code").collect()
      val out = new Array[Double](cells.toInt)
      rows.foreach { r =>
        out(r.getInt(0)) =
          if (r.isNullAt(1)) 0.0
          else r.get(1) match {
            case l: java.lang.Long => l.toDouble
            case d: java.lang.Double => d.doubleValue()
          }
      }
      Some(out)
    }
  }

  /** binby with coordinate labels — the reference returns an xarray
    * DataArray whose coordinates are the BIN CENTERS (reference:
    * core/groupby.py:841-871 result assembly); consumers plotting or
    * post-processing the grid need them. Returns (centers-per-dim,
    * shape, row-major tensor). */
  def binbyLabeled(specs: Seq[(String, Double, Double, Int)],
                   agg: Column): (Seq[Array[Double]], Seq[Int], Array[Double]) = {
    val centers = specs.map { case (_, vmin, vmax, shape) =>
      val width = (vmax - vmin) / shape
      Array.tabulate(shape)(i => vmin + (i + 0.5) * width)
    }
    (centers, specs.map(_._4), binby(specs, agg))
  }

  /** binby with edge slots — the reference's full grid layout
    * `[bins..., outside, null, nan]` per dimension (reference:
    * src/binner_ordinal.cpp:11-13, edges=True in core/agg.py:90).
    * Each dimension gets shape+3 slots; out-of-range rows land in
    * `outside`, null/NaN rows in their own slots, so the grid's total
    * equals the row count (nothing silently dropped). */
  def binbyEdges(specs: Seq[(String, Double, Double, Int)], agg: Column): Array[Double] = {
    // positivity must be checked on the RAW shapes — the +3 edge slots
    // would let shape 0/-1/-2 through and divide by a non-positive bin
    // count below
    require(specs.forall(_._4 > 0),
      s"binby shapes must be positive: ${specs.map(_._4)}")
    checkGridCells(specs.map(_._4 + 3))
    val keys = specs.zipWithIndex.map { case ((e, vmin, vmax, shape), i) =>
      val c = parse(e)
      val width = (vmax - vmin) / shape
      when(c.isNull, lit(shape + 1))
        .otherwise(when(coalesce(isnan(c.cast("double")), lit(false)), lit(shape + 2))
          .otherwise(when(c < lit(vmin) || c >= lit(vmax), lit(shape))
            // clamp the FP bin-edge case (value just under vmax
            // flooring to shape) into the last real bin, not the
            // `outside` slot — the row IS in range
            .otherwise(least(floor((c - lit(vmin)) / lit(width)), lit(shape - 1)))))
        .cast("int").as(s"__bin$i")
    }
    val shapes = specs.map(_._4 + 3)
    denseGrid(keys, shapes, agg, None).getOrElse {
      val binned = df.groupBy(keys: _*).agg(agg.cast("double").as("__v")).collect()
      val out = new Array[Double](shapes.product)
      binned.foreach { r =>
        val idx = specs.indices.foldLeft(0) { (acc, i) => acc * shapes(i) + r.getInt(i) }
        out(idx) = if (r.isNullAt(specs.size)) 0.0 else r.getDouble(specs.size)
      }
      out
    }
  }

  /** Dense-array variant of [[binby]] — executes through the
    * [[graft.functions.GridAggregates]] kernels (the reference's
    * per-thread grid + elementwise merge model, src/agg_count.cpp).
    * Same contract as binby (row-major tensor, [vmin, vmax) bins,
    * out-of-range/null rows dropped), with two deliberate refinements
    * over the generic path: `Mean` of an empty cell is NaN (not 0.0 —
    * 0/0, the reference's convention) and `Min`/`Max` of an empty
    * cell is NaN.
    *
    * NOT a throughput fast path — Spark's codegen'd HashAggregate
    * already array-indexes small key domains and measures faster (see
    * GridAggregates scaladoc for numbers). Use this form when the
    * hard per-task memory/shuffle bound or the NaN empty-cell
    * semantics matter; use [[binby]] otherwise.
    *
    * Per-task memory is one primitive array of `cells` doubles, so
    * the grid is capped at 2^22 cells (32 MB/task); bigger grids
    * belong on [[binby]]'s hash path, whose footprint tracks occupied
    * cells only. */
  def binbyGrid(specs: Seq[(String, Double, Double, Int)],
                stat: VxFrame.GridStat = VxFrame.GridCount): Array[Double] = {
    import graft.functions.GridAggregates._
    val shapes = specs.map(_._4)
    checkGridCells(shapes)
    val cells = shapes.foldLeft(1L)(_ * _.toLong)
    require(cells <= VxFrame.DenseGridMaxCells,
      s"binbyGrid dense grid $cells cells exceeds ${VxFrame.DenseGridMaxCells} " +
        "(32 MB per task) — use binby (hash path) for large/sparse grids")
    val n = cells.toInt
    // flattened row-major ordinal; all arithmetic stays in the
    // codegen'd projection feeding the aggregate
    val bins = specs.map { case (e, vmin, vmax, shape) =>
      val width = (vmax - vmin) / shape
      // clamp the FP bin-edge case (see binby) — unclamped, a non-last
      // dimension's bin==shape silently lands in the NEXT dimension's
      // cell 0 of the flattened ordinal
      least(floor((parse(e) - lit(vmin)) / lit(width)).cast("int"),
        lit(shape - 1))
    }
    val flat = bins.zip(shapes).tail.foldLeft(bins.head) {
      case (acc, (b, shape)) => (acc * shape + b).cast("int")
    }
    val inRange = specs.map { case (e, vmin, vmax, _) =>
      val c = parse(e)
      c >= lit(vmin) && c < lit(vmax)
    }.reduce(_ && _)
    def run(value: Option[String], aggs: (Column, Column) => Seq[Column]): Row = {
      val base = df.where(inRange)
        .select(flat.as("__ord") +: value.map(v => parse(v).as("__v")).toSeq: _*)
      val as = aggs(col("__ord"), col("__v"))
      base.agg(as.head, as.tail: _*).head()
    }
    stat match {
      case VxFrame.GridCount =>
        run(None, (o, _) => Seq(gridCount(o, n)))
          .getSeq[Long](0).iterator.map(_.toDouble).toArray
      case VxFrame.GridSum(e) =>
        run(Some(e), (o, v) => Seq(gridSum(o, v, n))).getSeq[Double](0).toArray
      case VxFrame.GridMean(e) =>
        val r = run(Some(e), (o, v) => Seq(gridSum(o, v, n), gridCount(o, n)))
        val sums = r.getSeq[Double](0); val counts = r.getSeq[Long](1)
        Array.tabulate(n)(i => if (counts(i) == 0L) Double.NaN else sums(i) / counts(i))
      case VxFrame.GridMin(e) =>
        run(Some(e), (o, v) => Seq(gridMin(o, v, n))).getSeq[Double](0).toArray
      case VxFrame.GridMax(e) =>
        run(Some(e), (o, v) => Seq(gridMax(o, v, n))).getSeq[Double](0).toArray
    }
  }

  // ---------------------------------------------------------------- healpix

  /** reference: core/dataframe.py:3541 add_column_healpix — healpix
    * index from lon/lat (RING scheme, Column-math ang2pix in
    * GeoFunctions; the reference shells out to healpy). */
  def withColumnHealpix(name: String = "healpix", longitude: String = "ra",
                        latitude: String = "dec", degrees: Boolean = true,
                        healpixOrder: Int = 12): VxFrame =
    copy(base = df.withColumn(name, graft.functions.GeoFunctions.healpixAng2pixRing(
        1 << healpixOrder, parse(longitude), parse(latitude), degrees)),
      virtualColumns = ListMap.empty, filterExpression = None)

  /** reference: core/dataframe.py:2060 healpix_count — counts over a
    * healpix-indexed column (e.g. Gaia source_id/34359738368), reduced
    * from `maxLevel` to `level`, as a dense binby grid of 12·4^level
    * cells. Pure arithmetic + one distributed binby pass. */
  def healpixCount(healpixExpression: String, healpixMaxLevel: Int = 12,
                   healpixLevel: Int = 8): Array[Double] = {
    val reduceLevel = healpixMaxLevel - healpixLevel
    val nside = 1L << healpixLevel
    val nmax = 12L * nside * nside
    // must agree with binby's MaxGridCells or the call passes here and
    // dies inside binby: 12*4^level <= 2^26 holds through level 11
    // (50.3M cells); level 12's 201M-cell grid needs the sparse
    // groupby path instead
    require(nmax <= MaxGridCells,
      s"healpix level $healpixLevel grid ($nmax cells) exceeds the dense " +
        s"driver tensor bound $MaxGridCells — use healpixLevel <= 11 or groupby")
    val scaling = math.pow(4, reduceLevel).toLong
    val eps = 1.0 / scaling / 2.0
    binby(Seq((s"($healpixExpression)/$scaling", -eps, nmax - eps, nmax.toInt)),
      functions.count(lit(1)))
  }

  // ---------------------------------------------------------------- state (pipelines)

  /** Serialize facade state to JSON (reference: core/dataframe.py:2502
    * `state_get`; pipelines are "just state"). */
  def stateGet(): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def obj(m: Iterable[(String, String)]): JObject =
      JObject(m.toList.map { case (k, v) => JField(k, JString(v)) })
    val json = JObject(List(
      JField("virtual_columns", obj(virtualColumns)),
      JField("variables", obj(variables)),
      JField("selections", obj(selections)),
      JField("filter", filterExpression.map(JString).getOrElse(JNull)),
      JField("categories", JObject(categories.toList.map { case (k, v) =>
        JField(k, JArray(v.toList.map(JString)))
      }))))
    JsonMethods.compact(JsonMethods.render(json))
  }

  /** Apply serialized state on top of this frame's base data
    * (reference: core/dataframe.py state_set). */
  def stateSet(json: String): VxFrame = VxFrame.applyState(base, json)

  /** reference: core/dataframe.py:2814 state_write / state_load. */
  def stateWrite(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), stateGet())
  def stateLoad(path: String): VxFrame =
    stateSet(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
}

/** Deferred-statistics builder — vaex's `delay=True` (reference:
  * core/delayed.py): every request registers an aggregate and returns
  * a `() => Double` promise; `execute()` resolves all of them with a
  * single fused `agg` pass over the data (N statistics = 1 scan, the
  * merged-TaskAggregations behavior of core/execution.py:130-170). */
final class DelayedStats private[graft] (f: VxFrame) {
  import scala.collection.mutable.ArrayBuffer
  private val items = ArrayBuffer[Column]()
  private var resolved: Option[Row] = None

  /** Typed register: returns the raw aggregate value (null possible). */
  private def registerAny(c: Column): () => Any = {
    val idx = items.length
    items += c
    () => resolved.getOrElse(
      throw new IllegalStateException("call execute() before reading a delayed stat"))
      .get(idx)
  }

  private def register(c: Column): () => Double = {
    val any = registerAny(c)
    () => any() match {
      case null => Double.NaN
      case n: Number => n.doubleValue()
      case other => throw new IllegalStateException(s"non-numeric delayed stat: $other")
    }
  }

  /** Selection-aware lowering: `selection = Some(name-or-expr)` turns
    * every aggregate into its conditional form (reference:
    * core/delayed.py + core/tasks.py:431 — delayed stats accept the
    * same selection argument as their eager counterparts), so mixed
    * selected/unselected requests still fuse into the SAME single
    * scan. */
  private def sel(e: String, selection: Option[String]): Column =
    f.maybeSelected(e, selection)

  def count(selection: Option[String] = None): () => Double = selection match {
    case None => register(functions.count(lit(1)).cast("double"))
    case some => register(functions.sum(when(sel("true", some), 1L)).cast("double"))
  }
  def count(e: String): () => Double = count(e, None)
  def count(e: String, selection: Option[String]): () => Double =
    register(functions.count(sel(e, selection)).cast("double"))
  def sum(e: String, selection: Option[String] = None): () => Double =
    register(functions.sum(sel(e, selection).cast("double")))
  def mean(e: String, selection: Option[String] = None): () => Double =
    register(avg(sel(e, selection).cast("double")))
  def min(e: String, selection: Option[String] = None): () => Double =
    register(functions.min(sel(e, selection)).cast("double"))
  def max(e: String, selection: Option[String] = None): () => Double =
    register(functions.max(sel(e, selection)).cast("double"))
  def varPop(e: String, selection: Option[String] = None): () => Double =
    register(var_pop(sel(e, selection).cast("double")))
  def std(e: String, selection: Option[String] = None): () => Double = {
    val v = varPop(e, selection)
    () => math.sqrt(v())
  }
  /** Typed min/max — no double cast, so string/date/timestamp columns
    * keep their type (round-2 gap: everything was cast to double). */
  def minTyped(e: String, selection: Option[String] = None): () => Any =
    registerAny(functions.min(sel(e, selection)))
  def maxTyped(e: String, selection: Option[String] = None): () => Any =
    registerAny(functions.max(sel(e, selection)))

  private val gridReqs = ArrayBuffer[(Seq[(String, Double, Double, Int)], Column)]()
  private var gridResults: Map[Int, Array[Double]] = Map.empty

  /** Delayed dense-grid promise — the reference's delayed machinery
    * spans grid aggregations, not just scalars (core/dataframe.py:842
    * _compute_agg routes both through the same task queue). Same
    * semantics as `VxFrame.binby` (values in [vmin, vmax) over `shape`
    * equal bins, out-of-range/null dropped, row-major flat array). */
  def grid(specs: Seq[(String, Double, Double, Int)], agg: Column): () => Array[Double] = {
    val gi = gridReqs.length
    gridReqs += ((specs, agg))
    () => gridResults.getOrElse(gi,
      throw new IllegalStateException("call execute() before reading a delayed grid"))
  }

  /** Run ONE aggregation job resolving every queued request. With grid
    * promises queued, scalars and ALL grids fuse into a single
    * GROUPING SETS aggregation — (()) carries the scalar row, (bin_i)
    * one row per occupied cell of grid i — so the plan stays one scan
    * plus one partial/final hash-agg shuffle regardless of how many
    * statistics and grids were requested. */
  def execute(): Unit = {
    require(items.nonEmpty || gridReqs.nonEmpty, "no delayed statistics queued")
    if (gridReqs.isEmpty) {
      resolved = Some(f.df.agg(items.head, items.tail.toSeq: _*).head())
      return
    }
    var d = f.df
    val shapesPerGrid = gridReqs.map(_._1.map(_._4)).toSeq
    val names = gridReqs.toSeq.zipWithIndex.map { case ((specs, _), gi) =>
      // flat row-major bin index; null when any dim is out of range/null
      val idx = specs.foldLeft(lit(0L)) { case (acc, (e, vmin, vmax, shape)) =>
        val c = sel(e, None)
        val width = (vmax - vmin) / shape
        val b = when(c >= lit(vmin) && c < lit(vmax),
          floor((c - lit(vmin)) / lit(width)).cast("long"))
        acc * lit(shape) + b
      }
      val n = s"__g$gi"
      d = d.withColumn(n, idx)
      n
    }
    val k = names.length
    val scalarAggs = items.toSeq
    val gridAggs = gridReqs.toSeq.zipWithIndex.map { case ((_, agg), gi) =>
      agg.cast("double").as(s"__ga$gi") }
    val aggCols = scalarAggs ++ gridAggs :+ grouping_id().as("__gid")
    val sets: Seq[Seq[Column]] = Seq(Seq.empty[Column]) ++ names.map(n => Seq(col(n)))
    val collected = d.groupingSets(sets, names.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    // layout: [grouping cols (k)] [scalars] [grid aggs] [gid]
    val gidIdx = k + scalarAggs.length + gridAggs.length
    val allBits = (1L << k) - 1
    resolved = Some(collected.find(r => r.getLong(gidIdx) == allBits)
      .map(r => Row.fromSeq(r.toSeq.slice(k, k + scalarAggs.length)))
      // GROUPING SETS over an empty frame yields no rows at all (unlike
      // a global agg); surface nulls -> NaN like the eager empty path
      .getOrElse(Row.fromSeq(Seq.fill(scalarAggs.length)(null))))
    gridResults = gridReqs.toSeq.zipWithIndex.map { case ((specs, _), gi) =>
      val out = new Array[Double](shapesPerGrid(gi).product)
      val want = allBits & ~(1L << (k - 1 - gi)) // bit i set = col i aggregated
      collected.iterator
        .filter(r => r.getLong(gidIdx) == want && !r.isNullAt(gi))
        .foreach { r =>
          val v = r.get(k + scalarAggs.length + gi)
          out(r.getLong(gi).toInt) =
            if (v == null) 0.0 else v.asInstanceOf[Number].doubleValue()
        }
      gi -> out
    }.toMap
  }
}

/** Result of [[VxFrame.compare]]: schema gaps, type conflicts,
  * per-column mismatch counts, and rows present in only one frame. */
final case class CompareResult(
    missingInThis: Seq[String], missingInOther: Seq[String],
    typeMismatch: Seq[String], differingCounts: Map[String, Long],
    unmatchedRows: Long) {
  def identical: Boolean = missingInThis.isEmpty && missingInOther.isEmpty &&
    typeMismatch.isEmpty && differingCounts.isEmpty && unmatchedRows == 0
}

object VxFrame {
  /** Default driver-collect bound for [[VxFrame.uniqueValues]] — the
    * reference ships a 1e6-ish default in the same role (unique/
    * groupby row limits, core/cpu.py:353). */
  val DefaultUniqueLimit: Long = 1_000_000L

  /** [[VxFrame.binbyGrid]] dense-path cap: 2^22 cells = one 32 MB
    * primitive array per task. */
  val DenseGridMaxCells: Long = 1L << 22

  /** Statistic selector for [[VxFrame.binbyGrid]]. The expression
    * string goes through the same parser as every other column
    * expression (virtual columns resolve). */
  sealed trait GridStat
  case object GridCount extends GridStat
  final case class GridSum(expr: String) extends GridStat
  final case class GridMean(expr: String) extends GridStat
  final case class GridMin(expr: String) extends GridStat
  final case class GridMax(expr: String) extends GridStat

  def apply(df: DataFrame): VxFrame = new VxFrame(df)

  def applyState(base: DataFrame, json: String): VxFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(json)
    // JsonDSL renders List[(String, String)] as a JSON object
    def pairs(field: String): List[(String, JValue)] = j \ field match {
      case JObject(fields) => fields.map { case JField(k, v) => (k, v) }
      case _ => Nil
    }
    def str(v: JValue): String = v match { case JString(s) => s; case other => other.toString }
    VxFrame(
      base = base,
      virtualColumns = ListMap(pairs("virtual_columns").map { case (k, v) => k -> str(v) }: _*),
      variables = ListMap(pairs("variables").map { case (k, v) => k -> str(v) }: _*),
      selections = ListMap(pairs("selections").map { case (k, v) => k -> str(v) }: _*),
      filterExpression = j \ "filter" match { case JString(s) => Some(s); case _ => None },
      categories = pairs("categories").map {
        case (k, JArray(vs)) => k -> vs.collect { case JString(s) => s }
        case (k, _) => k -> Nil
      }.toMap)
  }
}
