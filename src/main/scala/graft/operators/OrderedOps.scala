package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Scale-safe ordered operators: shift / diff / rolling over a total
  * order WITHOUT a global single-reducer `Window.orderBy`.
  *
  * A plain `Window.orderBy(row_index)` funnels every row through ONE
  * task — fine on 60k rows, fatal at 100 TB. Instead we re-express the
  * reference's chunk-stream realignment (reference:
  * packages/vaex-core/vaex/shift.py:204-340 — shift is "re-align chunk
  * streams and carry the boundary rows") in Spark terms:
  *
  *   1. bucket rows into ordered blocks (`row_index div blockSize`);
  *   2. compute the operator *within* each block with a partitioned
  *      window (parallel, one hash exchange on the block id);
  *   3. fix up the first/last `p` rows of each block by joining back
  *      only the boundary rows of the neighbouring block (p rows per
  *      block).
  *
  * shift, rollingArray and cumsum run exactly that plan. The rolling
  * aggregates, median and quantile run the same decomposition as a
  * block-array generator instead (one collected row per block plus the
  * previous block's window−1 boundary rows, see
  * [[graft.functions.RollingBlockAgg]]).
  *
  * Carry-side join strategy: the carry has `p` (or `window-1`) rows per
  * block, so its total size is `p · nBlocks` — tiny at w=3, but ~1e10
  * rows at w=1e4 on 1e12 rows. A `broadcast()` hint there would OOM the
  * driver, so the hint is applied only when the per-block carry is
  * provably small ([[SmallCarryRowsPerBlock]]); beyond that the join
  * stays keyed on (`__blk`,`__pos`)/`rowIndex` and Spark plans a shuffle
  * join (AQE still broadcast-converts at runtime when the actual carry
  * is small). With the default block size the carry is additionally kept
  * under ~1.6 % of the input by scaling blocks with the window.
  *
  * Requirements: `rowIndex` must be a DENSE 0-based index (what
  * [[graft.sources.Tables.withRowIndex]] produces) so that block `b`
  * holds exactly `blockSize` rows (except the last). This is VALIDATED
  * in-plan (`validate = true`, default) at O(boundary) cost, not
  * O(rows): interior rows short-circuit on two integer comparisons;
  * the real checks run on at most p+1 rows per block — (a) block
  * contiguity on the block's LAST row only (its max index must sit
  * exactly count−1 above the block start, which any gap or shift
  * below it breaks), and (b) carry provenance: each received carry
  * must come from exactly `rowIndex ∓ p`, which also pins tail-aligned
  * gaps in the sending block (the max doesn't move, but the carried
  * absolute indices do). A filtered/sparse index raises a clear
  * re-index error instead of returning silently wrong results.
  * (Residual undetectable case: a gap that is an exact union of
  * whole blocks in the lead/negative-periods direction — it requires
  * an index someone constructed by hand rather than a filtered frame.
  * Duplicate index values arranged so the block max still matches —
  * formerly a second residual class — are now detected: shift
  * collapses carries per (__blk,__pos) and raises on a duplicate
  * count (r19, ADVICE r18 #1), and the rolling generator kernel
  * validates per-row block contiguity.)
  */
object OrderedOps {
  val DefaultBlockSize: Long = 1L << 20

  /** Broadcast-hint limit for the per-block carry width: at or below
    * this the carry is at most ~256·nBlocks tiny rows and the hint is
    * safe; above it the decision is left to AQE's runtime size check. */
  val SmallCarryRowsPerBlock: Int = 256

  private def hinted(carry: DataFrame, rowsPerBlock: Int): DataFrame =
    if (rowsPerBlock <= SmallCarryRowsPerBlock) broadcast(carry) else carry

  /** Callers that tune blockSize keep it; the default scales with the
    * carry width so carried rows stay <= ~1/64 of the input. */
  private def effectiveBlockSize(blockSize: Long, carryRows: Int): Long =
    if (blockSize == DefaultBlockSize) math.max(blockSize, carryRows.toLong * 64L)
    else blockSize

  private def reindexError(op: String): Column =
    raise_error(lit(s"OrderedOps.$op: row_index is not a dense 0-based index " +
      "(filtered or sparse frame) — re-index (extract()) before ordered ops"))

  /** Block ordinal of a row by index arithmetic — MUST stay the same
    * divide-cast form as [[staged]]'s `__blk` so arithmetic boundary
    * branches join the staged main branch on identical block ids. */
  private def blkOf(rowIndex: String, bs: Long): Column =
    (col(rowIndex) / lit(bs)).cast("long")

  /** 0-based position of a row inside its block, by index arithmetic
    * (valid for dense indexes; sparse ones fail the staged guards). */
  private def posIn(rowIndex: String, bs: Long): Column =
    col(rowIndex) - blkOf(rowIndex, bs) * lit(bs)

  /** Block-array frames for the generator kernels: ONE row per block —
    * `__items` collects the block's rows (leading `__i` = rowIndex as
    * long, `rowIndex` first among the payload fields), `__carry`
    * collects the previous block's window−1 boundary rows (value
    * columns only), joined on the block id (nBlocks carry rows total).
    * The boundary rows are an arithmetic projection of the raw frame
    * (rowIndex % bs), like [[shift]]'s carries. */
  private def blockGenFrames(df: DataFrame, rowIndex: String, bs: Long,
                             window: Int, carryCols: Seq[String]): DataFrame = {
    val payload = rowIndex +: df.columns.filterNot(_ == rowIndex).toSeq
    val itemStruct = struct(
      (col(rowIndex).cast("long").as("__i") +: payload.map(col)): _*)
    val items = df.groupBy(blkOf(rowIndex, bs).as("__blk"))
      .agg(collect_list(itemStruct).as("__items"))
    // r19 NEGATIVE (tried and reverted, A/B min-of-5 interleaved):
    // deriving the carries as tail slices of the items aggregation
    // (slice(sort_array(__items), -(w-1), w-1) shifted to blk+1) to
    // skip this second raw-frame branch measured 1.04x / 0.95x /
    // 0.91x on q_rolling_block/median/quantile — the duplicated
    // collect_list aggregation (the items exchange did NOT
    // ReusedExchange in the static plan) plus the per-block
    // sort_array cost as much as the raw branch's index-chain
    // recompute, and it would have added an orderability requirement
    // (sort_array over item structs) the generator itself doesn't
    // have. Keep the raw-frame carries.
    val pos = posIn(rowIndex, bs)
    val carryStruct = struct(
      (col(rowIndex).cast("long").as("__i") +: carryCols.map(col)): _*)
    val carries = df.where(pos >= lit(bs) - (window - 1))
      .groupBy((blkOf(rowIndex, bs) + 1L).as("__blk"))
      .agg(collect_list(carryStruct).as("__carry"))
    items.join(hinted(carries, window - 1), Seq("__blk"), "left")
  }

  /** Payload field order + schema fed to the generators (rowIndex
    * first, then the other input columns in order). */
  private def payloadSchema(df: DataFrame, rowIndex: String): (Seq[String], StructType) = {
    val payload = rowIndex +: df.columns.filterNot(_ == rowIndex).toSeq
    (payload, StructType(payload.map(c => df.schema(df.schema.fieldIndex(c)))))
  }

  private def staged(df: DataFrame, rowIndex: String, blockSize: Long): DataFrame = {
    val asc = Window.partitionBy(col("__blk")).orderBy(col(rowIndex).asc)
    // __rnd (position from the block end) = blockCount - __rn + 1: the
    // unordered count window rides the SAME (blk, rowIndex asc) sort as
    // the asc window — a desc row_number window cost a second full sort
    // per staged pass (r18 opt session 2; identical for any input,
    // row_number and count both see the actual rows)
    df.withColumn("__blk", (col(rowIndex) / lit(blockSize)).cast("long"))
      .withColumn("__rn", row_number().over(asc))
      .withColumn("__rnd",
        (count(lit(1)).over(Window.partitionBy(col("__blk"))) -
          col("__rn") + 1).cast("int"))
  }

  /** Block contiguity, checked on the LAST row of each block only
    * (`__rnd === 1`, where `__rn` equals the block's row count): the
    * block's max index must sit exactly `count − 1` above the block
    * start, which fails if ANY index below it in the block is missing
    * or shifted. Gaps aligned to a block's tail don't move the max —
    * those are pinned by the receivers' carry-provenance checks in the
    * next block (a partial sender block sends carries from the wrong
    * absolute indices). One arithmetic check per BLOCK, not per row —
    * the difference measured ~13-15% of shift's wall time at 20M rows. */
  private def lastRowAligned(rowIndex: String, blockSize: Long): Column =
    col(rowIndex) === col("__blk") * lit(blockSize) + col("__rn") - 1

  /** Shifted value of `column` by `periods` (positive = lag, negative =
    * lead) in `rowIndex` order; out-of-range rows become null, or
    * `fill` when given, and `trim = true` drops them instead
    * (reference: core/dataframe.py:4781 shift(periods, fill_value,
    * trim)). `fill`/`trim` distinguish a genuinely-null SOURCE value
    * (which stays null / survives trim) from a missing source ROW via
    * a shifted never-null marker riding the same window and carry —
    * no second pass. */
  def shift(df: DataFrame, column: String, periods: Int,
            rowIndex: String = "row_index", as: Option[String] = None,
            blockSize: Long = DefaultBlockSize,
            validate: Boolean = true,
            fill: Option[Any] = None, trim: Boolean = false): DataFrame = {
    val out = as.getOrElse(column)
    if (periods == 0) return df.withColumn(out, col(column))
    val p = math.abs(periods)
    val bs = effectiveBlockSize(blockSize, p)
    require(bs >= p, s"blockSize=$bs must be >= |periods|=$p")
    val asc = Window.partitionBy(col("__blk")).orderBy(col(rowIndex).asc)
    val needMarker = fill.isDefined || trim
    val st0 = staged(df, rowIndex, bs).withColumn("__intra",
      if (periods > 0) lag(col(column), p).over(asc) else lead(col(column), p).over(asc))
    val st = if (!needMarker) st0 else st0.withColumn("__intraIdx",
      if (periods > 0) lag(col(rowIndex), p).over(asc) else lead(col(rowIndex), p).over(asc))
    // receiving position within the neighbour block, and which boundary
    // rows of THIS block are carried to it:
    //   lag : last p rows of block b feed rows __rn = p-__rnd+1 of b+1
    //   lead: first p rows of block b feed rows __rnd = p-__rn+1 of b-1
    // The carry branch is an arithmetic projection of the RAW frame
    // (rowIndex % bs), not a filter over the staged windows, so only
    // the main branch pays the block-window chain and the boundary
    // filter pushes into the scan. On a dense index the selected rows
    // are identical (pos-from-end bs - idx%bs == __rnd on full blocks);
    // sparse indexes still fail the receiver-side provenance guard
    // (__cidx must equal rowIndex -/+ p exactly).
    val pos = posIn(rowIndex, bs); val blk = blkOf(rowIndex, bs)
    val recvPos = if (periods > 0) col("__rn") else col("__rnd")
    val carries0 = (
      if (periods > 0)
        df.where(pos >= lit(bs) - p)
          .select((blk + 1L).as("__blk"),
            (lit(p + 1) - (lit(bs) - pos)).cast("int").as("__pos"),
            col(column).as("__carry"), col(rowIndex).as("__cidx"))
      else
        df.where(pos <= p - 1)
          .select((blk - 1L).as("__blk"),
            (lit(p + 1) - (pos + 1)).cast("int").as("__pos"),
            col(column).as("__carry"), col(rowIndex).as("__cidx"))
      ).where(col("__blk") >= 0)
    // r19 (ADVICE r18 #1): under validate, collapse carries per
    // (__blk,__pos) and count them — a DUPLICATED index value in the
    // carry region (arranged so the block max still aligns) used to
    // emit two carries at the same key, silently DUPLICATING the
    // receiver row through the join with both copies passing the
    // __cidx===srcIdx check. Now the join can never multiply rows and
    // __cdup>1 raises through the guard. The aggregate rides the same
    // (__blk,__pos)-keyed exchange the join pays; `first` is
    // deterministic whenever the query doesn't raise (__cdup==1).
    val carries = if (!validate) carries0
      else carries0.groupBy(col("__blk"), col("__pos")).agg(
        first(col("__carry")).as("__carry"),
        first(col("__cidx")).as("__cidx"),
        count(lit(1)).as("__cdup"))
    // Lead-direction validation needs the frame's max index: a missing
    // carry is legitimate ONLY past the end (srcIdx > max) — without
    // the bound, a wholly-absent middle block (sparse frame) yields
    // null carries that look like the legitimate tail. One
    // column-pruned max() scan, broadcast as a 1-row literal; lag
    // needs no bound (its legit-missing rows are rowIndex < p).
    val needMax = validate && periods < 0
    val joined0 = st.withColumn("__pos", recvPos)
      .join(hinted(carries, p), Seq("__blk", "__pos"), "left")
    val joined = if (!needMax) joined0 else joined0.crossJoin(
      broadcast(df.groupBy().agg(max(col(rowIndex)).as("__maxIdx"))))
    val value = coalesce(col("__intra"), col("__carry"))
    val srcIdx = if (periods > 0) col(rowIndex) - p else col(rowIndex) + p
    val guarded = if (!validate) value else {
      // O(boundary) guard: interior rows short-circuit on 1-2 integer
      // comparisons; the real checks run on ≤ p+1 rows per block. A
      // received carry must come from exactly rowIndex -/+ p; in the
      // lag direction a non-first block must ALWAYS receive its carry
      // (predecessor blocks are full on a dense index); in the lead
      // direction a missing carry is only legitimate past the frame
      // end; the last row of every block re-derives the whole block's
      // contiguity ([[lastRowAligned]]).
      val noDup = coalesce(col("__cdup"), lit(1L)) === 1L
      val carryOk = noDup && (
        if (periods > 0)
          col("__blk") === 0L || (col("__cidx").isNotNull && col("__cidx") === srcIdx)
        else (col("__cidx").isNull && srcIdx > col("__maxIdx")) ||
          col("__cidx") === srcIdx)
      val ok = (recvPos > p || carryOk) &&
        (col("__rnd") > 1 || lastRowAligned(rowIndex, bs))
      when(recvPos > p && col("__rnd") > 1, value)
        .otherwise(when(ok, value).otherwise(reindexError("shift")))
    }
    if (!needMarker)
      joined.withColumn(out, guarded)
        .drop("__blk", "__rn", "__rnd", "__pos", "__intra", "__carry", "__cidx",
          "__cdup", "__maxIdx")
    else {
      // source-row existence: the shifted index marker (never null in
      // a dense frame) survives intra-block or arrives with the carry.
      // Under validate, a missing source row is acceptable ONLY at the
      // genuine boundary (before index p for lag, past max for lead);
      // anywhere else it's a sparse index and must raise exactly like
      // the plain path — fill/trim must not suppress the guard.
      val srcExists = coalesce(col("__intraIdx"), col("__cidx")).isNotNull
      val legitMissing =
        if (periods > 0) col(rowIndex) < p else srcIdx > col("__maxIdx")
      val filled = fill match {
        case Some(v) =>
          val fb = lit(v).cast(df.schema(column).dataType)
          if (validate) when(srcExists, guarded)
            .otherwise(when(legitMissing, fb).otherwise(reindexError("shift")))
          else when(srcExists, guarded).otherwise(fb)
        case None => guarded
      }
      val res = joined.withColumn(out, filled)
      val kept =
        if (!trim) res
        else if (validate) res.where(srcExists ||
          when(legitMissing, lit(false)).otherwise(reindexError("shift").isNotNull))
        else res.where(srcExists)
      kept.drop("__blk", "__rn", "__rnd", "__pos", "__intra", "__carry", "__cidx",
          "__cdup", "__intraIdx", "__maxIdx")
    }
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
    * the reference exposes sum/array over the sliding matrix; here the
    * decomposable aggregates sum/count/mean/min/max). Partial windows
    * at the global head match rowsBetween(-(w-1), 0) edge behavior.
    *
    * One-spec [[rollingAggMulti]]. */
  def rollingAgg(df: DataFrame, column: String, window: Int, as: String, how: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize,
                 validate: Boolean = true): DataFrame =
    rollingAggMulti(df, Seq(RollSpec(column, how, as)), window, rowIndex,
      blockSize, validate)

  /** One rolling aggregate request for [[rollingAggMulti]]. */
  final case class RollSpec(column: String, how: String, as: String)

  /** N trailing rolling aggregates (sum/count/min/max) in ONE pass of
    * the block-array generator ([[graft.functions.RollingBlockAgg]]):
    * every statistic is computed in one flat loop over the block's
    * rows plus the previous block's window−1 carried rows. An output
    * name that is already an input column replaces that column in
    * place (withColumn semantics). */
  def rollingAggMulti(df: DataFrame, specs: Seq[RollSpec], window: Int,
                      rowIndex: String = "row_index",
                      blockSize: Long = DefaultBlockSize,
                      validate: Boolean = true): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(specs.nonEmpty, "rollingAggMulti: no specs")
    require(specs.map(_.as).distinct.size == specs.size,
      "rollingAggMulti: duplicate output names")
    specs.find(s => !RollHows(s.how)).foreach(s =>
      throw new IllegalArgumentException(s"unknown rolling agg: ${s.how}"))
    val bs = effectiveBlockSize(blockSize, window - 1)
    require(bs >= window, s"blockSize=$bs must be >= window=$window")
    val carryCols = specs.map(_.column).distinct
    val (payload, pSchema) = payloadSchema(df, rowIndex)
    val (genNames, replace) = replacingOutputs(df.columns.toSeq, specs.map(_.as))
    val joined = blockGenFrames(df, rowIndex, bs, window, carryCols)
    val carrySchema = StructType(StructField("__i", LongType, nullable = false) +:
      carryCols.map(c => df.schema(df.schema.fieldIndex(c))))
    val gen = graft.functions.RollingBlockAgg(
      Bridge.expression(col("__items")), Bridge.expression(col("__carry")),
      Bridge.expression(col("__blk")), window, bs,
      specs.map(_.how), specs.map(s => 1 + payload.indexOf(s.column)),
      specs.map(s => 1 + carryCols.indexOf(s.column)),
      genNames, pSchema, carrySchema, validate,
      ansi = df.sparkSession.conf.get("spark.sql.ansi.enabled", "true").toBoolean)
    replace(joined.select(Bridge.column(gen)))
  }

  private val RollHows = Set("sum", "count", "min", "max")

  /** withColumn-replace semantics for the generators: an output name
    * that is already an input column is generated under a temporary
    * name, then selected back in the input's column order with the
    * output in the replaced column's position (other outputs follow).
    * Returns the names to generate and the projection to apply to the
    * generator output. */
  private def replacingOutputs(input: Seq[String], outs: Seq[String])
      : (Seq[String], DataFrame => DataFrame) = {
    val clash = outs.filter(input.contains).toSet
    if (clash.isEmpty) return (outs, identity)
    def tmp(o: String): String = if (clash(o)) s"__rollout_$o" else o
    (outs.map(tmp), g => g.select(
      input.map(c => if (clash(c)) col(tmp(c)).as(c) else col(c)) ++
        outs.filterNot(clash).map(col): _*))
  }

  def rollingSum(df: DataFrame, column: String, window: Int, as: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize): DataFrame =
    rollingAgg(df, column, window, as, "sum", rowIndex, blockSize)

  /** Rolling mean = rolling sum / rolling non-null count (one pass of
    * each; both reuse the same staged block computation shape). */
  def rollingMean(df: DataFrame, column: String, window: Int, as: String,
                  rowIndex: String = "row_index",
                  blockSize: Long = DefaultBlockSize): DataFrame =
    rollingAggMulti(df, Seq(RollSpec(column, "sum", "__rsum"),
        RollSpec(column, "count", "__rcnt")), window, rowIndex, blockSize)
      .withColumn(as, col("__rsum").cast("double") / col("__rcnt"))
      .drop("__rsum", "__rcnt")

  /** Rolling population variance from the decomposable moments
    * (Σx² /n − (Σx/n)²) — three block-partitioned passes, no global
    * window, same boundary-carry machinery. All-null windows yield
    * null like the other rolling aggregates. */
  def rollingVar(df: DataFrame, column: String, window: Int, as: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize): DataFrame = {
    val x = col(column).cast("double")
    val staged3 = rollingAggMulti(df.withColumn("__rx2", x * x),
      Seq(RollSpec(column, "sum", "__rsum"),
        RollSpec("__rx2", "sum", "__rsq"),
        RollSpec(column, "count", "__rcnt")), window, rowIndex, blockSize)
    staged3.withColumn(as,
        when(col("__rcnt") > 0,
          col("__rsq").cast("double") / col("__rcnt") -
            (col("__rsum").cast("double") / col("__rcnt")) *
              (col("__rsum").cast("double") / col("__rcnt"))))
      .drop("__rx2", "__rsum", "__rsq", "__rcnt")
  }

  /** Rolling population standard deviation (√[[rollingVar]]; tiny
    * negative variances from float cancellation clamp to 0, but an
    * all-null window stays null — `greatest` alone would turn the
    * null variance into 0.0 because Spark's greatest skips nulls). */
  def rollingStd(df: DataFrame, column: String, window: Int, as: String,
                 rowIndex: String = "row_index",
                 blockSize: Long = DefaultBlockSize): DataFrame =
    rollingVar(df, column, window, as, rowIndex, blockSize)
      .withColumn(as, when(col(as).isNotNull, sqrt(greatest(col(as), lit(0.0)))))

  /** Sliding-window ARRAY — the reference's `rolling(...).array`
    * accessor (core/rolling.py:4-31: `edge="right"` exposes, for each
    * row, the raw window [i−window+1, i] as a fixed-length vector with
    * `fill_value` in the out-of-range head slots; here fill_value is
    * null). Same block decomposition as [[shift]], but the
    * carried/intra values ride inside (index, value) structs: structs
    * are never null, so null VALUES survive `collect_list` (which
    * drops bare null elements), and the index field makes the window
    * order explicit — one `sort_array` on the merged list instead of
    * trusting collection order across the carry join. */
  def rollingArray(df: DataFrame, column: String, window: Int, as: String,
                   rowIndex: String = "row_index",
                   blockSize: Long = DefaultBlockSize,
                   validate: Boolean = true,
                   fillValue: Option[Any] = None,
                   edge: String = "right"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(edge == "right" || edge == "left",
      s"""edge must be "right" or "left", not "$edge"""")
    val right = edge == "right"
    val bs = effectiveBlockSize(blockSize, window - 1)
    require(bs >= window, s"blockSize=$bs must be >= window=$window")
    val valueType = df.schema(column).dataType
    val fillCol = fillValue.map(v => lit(v).cast(valueType))
      .getOrElse(lit(null).cast(valueType))
    val item = struct(col(rowIndex).as("i"), col(column).as("v"))
    val asc = Window.partitionBy(col("__blk")).orderBy(col(rowIndex).asc)
    val frame = if (right) asc.rowsBetween(-(window - 1), 0)
      else asc.rowsBetween(0, window - 1)
    val st = staged(df, rowIndex, bs).withColumn("__intra",
      collect_list(item).over(frame))
    def finish(merged: Column): Column = {
      val values = transform(sort_array(merged), e => e.getField("v"))
      // fixed length `window`: pad the partial windows at the global
      // head (edge right) / tail (edge left) with fill_value slots
      // (reference: core/rolling.py:14-21 edge + fill_value)
      val pad = array_repeat(fillCol, lit(window) - size(values))
      if (right) concat(pad, values) else concat(values, pad)
    }
    if (window == 1) {
      val v = if (!validate) finish(col("__intra"))
      else when(col("__rnd") > 1, finish(col("__intra")))
        .otherwise(when(lastRowAligned(rowIndex, bs), finish(col("__intra")))
          .otherwise(reindexError("rollingArray")))
      return st.withColumn(as, v).drop("__blk", "__rn", "__rnd", "__intra")
    }
    // boundary carry, mirrored by edge: RIGHT — the last window−1 rows
    // of block b complete the first rows of b+1; LEFT — the first
    // window−1 rows of block b complete the last rows of b−1.
    // Both boundary branches are arithmetic projections of the RAW
    // frame (same rationale and dense-index equivalence argument as
    // [[shift]]; a short LAST block has no successor, so its
    // tail neither sends (right) nor receives (left) — matching the
    // window-based selection on a dense index, and sparse indexes
    // still fail the main branch's contiguity/provenance guards).
    val pos = posIn(rowIndex, bs); val blk = blkOf(rowIndex, bs)
    val carries =
      if (right) df.where(pos >= lit(bs) - (window - 1))
        .select((blk + 1L).as("__blk"), (lit(bs) - pos).cast("int").as("__k"),
          item.as("__citem"), col(rowIndex).as("__cidx"))
      else df.where(pos <= window - 2)
        .select((blk - 1L).as("__blk"), (pos + 1).cast("int").as("__k"),
          item.as("__citem"), col(rowIndex).as("__cidx"))
        .where(col("__blk") >= 0)
    val recvPos = if (right) col("__rn") else col("__rnd")
    // __recv = the receiver's position in the carry direction (__rn on
    // the right edge, __rnd on the left), arithmetic like the carries
    val recvSel =
      if (right) df.where(pos <= window - 2)
        .select(blk.as("__blk"), (pos + 1).cast("int").as("__recv"), col(rowIndex))
      else df.where(pos >= lit(bs) - (window - 1))
        .select(blk.as("__blk"), (lit(bs) - pos).cast("int").as("__recv"),
          col(rowIndex))
    val extra = recvSel
      .join(hinted(carries, window - 1), Seq("__blk"), "left")
      .where(col("__k") <= lit(window) - col("__recv"))
      .groupBy(col(rowIndex)).agg(collect_list(col("__citem")).as("__cext"),
        count(lit(1)).as("__cn"), min(col("__cidx")).as("__cmin"))
    val joined = st.join(hinted(extra, window - 1), Seq(rowIndex), "left")
    val value = finish(when(col("__cext").isNotNull,
      concat(col("__cext"), col("__intra"))).otherwise(col("__intra")))
    val guarded = if (!validate) value else {
      // same O(boundary) guard scheme as shift's, mirrored by direction.
      // RIGHT: predecessors of a non-first block are full on a dense
      // index, so receivers demand the exact contiguous range
      // [rowIndex−window+1, blockStart−1]. LEFT: the successor block
      // may be the (possibly short or absent) global tail, so the
      // check is lenient on count and pins provenance instead — any
      // received carry must start exactly at the next block's first
      // index (rowIndex + position offset).
      val carryOk =
        if (right) col("__blk") === 0L ||
          (coalesce(col("__cn"), lit(0L)) === lit(window).cast("long") - col("__rn") &&
            col("__cmin") === col(rowIndex) - (window - 1))
        else col("__cn").isNull ||
          col("__cmin") === (col("__blk") + 1L) * bs
      val ok = (recvPos > window - 1 || carryOk) &&
        (col("__rnd") > 1 || lastRowAligned(rowIndex, bs))
      when(recvPos > window - 1 && col("__rnd") > 1, value)
        .otherwise(when(ok, value).otherwise(reindexError("rollingArray")))
    }
    joined.withColumn(as, guarded)
      .drop("__blk", "__rn", "__rnd", "__intra", "__cext", "__cn", "__cmin")
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
    * the generator gathers and sorts each row's window (O(window) per
    * row, exact, still block-partitioned: no global window). */
  def rollingMedian(df: DataFrame, column: String, window: Int, as: String,
                    rowIndex: String = "row_index",
                    blockSize: Long = DefaultBlockSize): DataFrame = {
    requireNumeric(df, column, "rollingMedian")
    rollingOrderStat(df, column, window, as, 0.5, midpoint = true,
      rowIndex, blockSize)
  }

  /** Order statistics over non-numeric columns are ill-defined here
    * (the value column is cast to double before gathering); fail fast. */
  private def requireNumeric(df: DataFrame, column: String, op: String): Unit =
    df.schema(column).dataType match {
      case _: org.apache.spark.sql.types.NumericType |
           org.apache.spark.sql.types.NullType => ()
      case dt => throw new IllegalArgumentException(
        s"OrderedOps.$op: numeric column required, got ${dt.catalogString} for '$column'")
    }

  /** Shared generator path for rollingMedian / rollingQuantile
    * ([[graft.functions.RollingBlockQuantile]]): gather + sort +
    * interpolate per row in one flat loop over the block array. */
  private def rollingOrderStat(df: DataFrame, column: String, window: Int,
                               as: String, q: Double, midpoint: Boolean,
                               rowIndex: String, blockSize: Long): DataFrame = {
    val bs = effectiveBlockSize(blockSize, window - 1)
    require(bs >= window, s"blockSize=$bs must be >= window=$window")
    val dfd = df.withColumn("__rq_x", col(column).cast("double"))
    val (payload, pSchema) = payloadSchema(dfd, rowIndex)
    val (Seq(genName), replace) = replacingOutputs(df.columns.toSeq, Seq(as))
    val joined = blockGenFrames(dfd, rowIndex, bs, window, Seq("__rq_x"))
    val carrySchema = StructType(Seq(StructField("__i", LongType, nullable = false),
      StructField("__rq_x", DoubleType)))
    val gen = graft.functions.RollingBlockQuantile(
      Bridge.expression(col("__items")), Bridge.expression(col("__carry")),
      Bridge.expression(col("__blk")), window, bs, q, midpoint,
      1 + payload.indexOf("__rq_x"), 1, genName, pSchema, carrySchema,
      validate = true)
    replace(joined.select(Bridge.column(gen))).drop("__rq_x")
  }

  /** Trailing rolling exact quantile with linear interpolation (numpy
    * 'linear' / SQL percentile_cont semantics): position q·(n−1) over
    * the sorted non-null window values, interpolated between the two
    * bracketing elements. Generalizes [[rollingMedian]] (which keeps
    * the (a+b)/2 midpoint formula for bit-parity with SQL MEDIAN).
    * O(window·log window) per row, no global window. */
  def rollingQuantile(df: DataFrame, column: String, window: Int, q: Double,
                      as: String, rowIndex: String = "row_index",
                      blockSize: Long = DefaultBlockSize): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    requireNumeric(df, column, "rollingQuantile")
    rollingOrderStat(df, column, window, as, q, midpoint = false,
      rowIndex, blockSize)
  }
}
