package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** DataFrame-level statistics battery (SURVEY §2.4 tail): exact
  * interpolated percentiles/median (reference: core/dataframe.py:1611
  * median_approx / :1632 percentile_approx — we gate the EXACT
  * percentile so the oracle comparison is deterministic; the approx
  * variant `percentile_approx` is the scale path and is spec-tested for
  * tolerance instead), deterministic mode (reference:
  * core/dataframe.py:2006), mutual information over a 2-D histogram
  * (reference: core/dataframe.py:685, core/kld.py), and the `describe`
  * composite (reference: core/agg.py:679-738).
  */
object StatsQueries {

  /** The counts+cumulative-window exact percentile form shared by
    * q_percentile and q_percentile_grouped: one codegen'd
    * hash aggregation over (group, column, value) + one window over
    * DISTINCT values only, every stage spillable and parallel across
    * groups x columns. Interpolation mirrors Percentile.getPercentile
    * operation-for-operation (position = p * (n-1) with long->double
    * promotion; rank lookups at floor/ceil+1; same-key and
    * zero-fraction early returns; (hi-pos)*loV + (pos-lo)*hiV left to
    * right) — bit-identical to the builtin, re-proved against the
    * DuckDB oracle at sf0.001/0.01/0.1 (r18).
    *
    * (r18 A/B: feeding RAW rows with __c=1 into the window — skipping
    * the counts aggregation — measured 0.93x: even on the near-unique
    * price column the partial agg's reduction beats the bigger window
    * sort. Keep the counts form.) */
  private def countsWindowPercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Column
    // NOT th (r19 A/B, min-of-5 interleaved: q_percentile 0.82x,
    // q_percentile_grouped 0.77x) — the counts partial-agg reduces the
    // 3x-exploded rows to distinct (flag,cid,value) BEFORE any
    // exchange, so the serial single-split scan stage is cheap and the
    // round-robin repartition is pure added cost (unlike the
    // decimal-moment lanes, whose per-row BigDecimal work dominates
    // their scan stage).
    val melt = t(s, dir, "lineitem").select(col("l_returnflag"),
        posexplode(array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))).as(Seq("__cid", "__v")))
      .where(col("__v").isNotNull)
    val counts = melt.groupBy(col("l_returnflag"), col("__cid"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(col("l_returnflag"), col("__cid"))
      .orderBy(col("__v"))
    val wAll = Window.partitionBy(col("l_returnflag"), col("__cid"))
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(wAll))
    def stat(cid: Int, p: Double): Column = {
      val pos = lit(p) * (col("__n") - 1L) // double * long, as in Percentile
      val lo = floor(pos); val hi = ceil(pos) // both LONG in SQL, as .floor.toLong
      val isC = col("__cid") === cid
      val loV = min(when(isC && col("__cum") > lo, col("__v")))
      val hiV = min(when(isC && col("__cum") > hi, col("__v")))
      val posA = min(when(isC, pos))
      val loA = min(when(isC, lo)); val hiA = min(when(isC, hi))
      when(hiA === loA, loV)
        .when(loV === hiV, loV)
        .otherwise((hiA - posA) * loV + (posA - loA) * hiV)
    }
    cum.groupBy(col("l_returnflag")).agg(
        r(stat(0, 0.5), 6).as("median_qty"),
        r(stat(1, 0.25), 6).as("p25_price"),
        r(stat(1, 0.75), 6).as("p75_price"),
        r(stat(2, 0.9), 6).as("p90_disc"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ml evaluation metrics (reference: vaex-ml/metrics.py): the raw
    // confusion counts + error sums every metric derives from, in ONE
    // aggregation pass (graft.ml.Metrics exposes the scalar API; the
    // ratio derivations are spec'd against hand-computed fixtures)
    "q_ml_metrics" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        (col("user_id") % 2).cast("long").as("yt"),
        when(col("value") % 2.0 < 1.0, 1L).otherwise(0L).as("yp"),
        col("value").as("y"),
        (col("value") * 0.9 + 5.0).as("yhat"))
      ev.agg(
        count(lit(1)).as("n"),
        sum(when(col("yt") === col("yp"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("yt") === 1 && col("yp") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("yt") === 0 && col("yp") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("yt") === 1 && col("yp") === 0, 1L).otherwise(0L)).as("fn"),
        r(dsumD(abs(col("y") - col("yhat")))).as("sum_abs_err"),
        r(dsumD((col("y") - col("yhat")) * (col("y") - col("yhat")))).as("sum_sq_err"))
    }),
    // exact interpolated percentiles per group (Spark `percentile` ==
    // DuckDB `quantile_cont`, both type-7 linear interpolation),
    // computed from distinct-VALUE counts + a per-(group, column)
    // cumulative window ([[countsWindowPercentiles]]) instead of the
    // builtin Percentile aggregate — the builtin is an
    // ObjectHashAggregate that boxes every row into per-group
    // OpenHashMaps and re-serializes them between partial and final
    // (r18: 2.0x slower here). The counts form is one codegen'd hash
    // aggregation + one window over DISTINCT values only, every stage
    // spillable and parallel, and bit-identical to the builtin.
    "q_percentile" -> ((s, dir) => countsWindowPercentiles(s, dir)),

    // same statistics as q_percentile, gated against the double-cast
    // oracle, through the same counts+cumulative-window form. The
    // GroupedPercentile OPERATOR (VxFrame.percentile;
    // GroupedPercentileSpec gates it against the builtin) stays the
    // right shape when (groups x distinct values) is too large to sort
    // per (group, column) window partition: the counts form funnels
    // each (group, cid)'s distinct values through ONE window task, the
    // bucket form spreads them over `buckets` tasks. At this
    // cardinality (3 groups x 3 value columns) its 4 bounded passes
    // measured 1.14x slower (r19).
    "q_percentile_grouped" -> ((s, dir) => countsWindowPercentiles(s, dir)),

    // deterministic mode: most frequent value, ties -> smallest value
    "q_mode" -> ((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("l_returnflag"))
        .agg(max_by(col("l_quantity"), struct(col("cnt"), col("l_quantity") * -1)).as("mode_qty"),
          max(col("cnt")).as("mode_n"))
        .orderBy("l_returnflag")
    }),

    // mutual information between binned quantity and discount:
    // one groupBy for the joint histogram; marginals + MI assembled
    // with window sums (no driver loop, no re-scan)
    "q_mutual_information" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val binned = t(s, dir, "lineitem").select(
        floor(col("l_quantity") / 10).cast("int").as("qx"),
        floor(col("l_discount") * 20).cast("int").as("qy"))
      val joint = binned.groupBy(col("qx"), col("qy")).agg(count(lit(1)).as("nxy"))
      val withMarginals = joint
        .withColumn("nx", sum(col("nxy")).over(Window.partitionBy(col("qx"))))
        .withColumn("ny", sum(col("nxy")).over(Window.partitionBy(col("qy"))))
        .withColumn("n", sum(col("nxy")).over())
      withMarginals
        .select((col("nxy") / col("n") *
          log(col("nxy").cast("double") * col("n") / (col("nx") * col("ny")))).as("term"))
        .agg(r(dsumD(col("term")), 6).as("mi"))
    }),

    // describe composite: count / missing / mean / std / min / max
    "q_describe" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def one(c: String): DataFrame = li.agg(
        lit(c).as("column"),
        count(col(c)).as("n"),
        (count(lit(1)) - count(col(c))).as("n_missing"),
        dmean(col(c)).as("mean"),
        r(sqrt(dsumD(col(c) * col(c)) / count(col(c)) -
          (dsumD(col(c)) / count(col(c))) * (dsumD(col(c)) / count(col(c)))), 4).as("std"),
        r(min(col(c)).cast("double"), 4).as("min"),
        r(max(col(c)).cast("double"), 4).as("max"))
      one("l_quantity").unionAll(one("l_extendedprice")).unionAll(one("l_discount"))
        .orderBy("column")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_ml_metrics" ->
      s"""SELECT COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN yt = yp THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN yt = 1 AND yp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN yt = 0 AND yp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN yt = 1 AND yp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  ${sqlR(sqlDsum("abs(y - yhat)"))} AS sum_abs_err,
         |  ${sqlR(sqlDsum("(y - yhat) * (y - yhat)"))} AS sum_sq_err
         |FROM (
         |  SELECT user_id % 2 AS yt,
         |    CASE WHEN value % 2.0 < 1.0 THEN 1 ELSE 0 END AS yp,
         |    value AS y, value * 0.9 + 5.0 AS yhat
         |  FROM events)""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price,
        |  ROUND(quantile_cont(l_discount, 0.9), 6) AS p90_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_percentile_grouped" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS median_qty,
        |  ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 6) AS p25_price,
        |  ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 6) AS p75_price,
        |  ROUND(quantile_cont(CAST(l_discount AS DOUBLE), 0.9), 6) AS p90_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC) AS rn
        |  FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n
        |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin,

    "q_mutual_information" ->
      s"""WITH j AS (
         |  SELECT CAST(FLOOR(l_quantity / 10) AS INT) AS qx,
         |         CAST(FLOOR(l_discount * 20) AS INT) AS qy,
         |         COUNT(*) AS nxy
         |  FROM lineitem GROUP BY 1, 2),
         |m AS (
         |  SELECT nxy,
         |    SUM(nxy) OVER (PARTITION BY qx) AS nx,
         |    SUM(nxy) OVER (PARTITION BY qy) AS ny,
         |    SUM(nxy) OVER () AS n
         |  FROM j)
         |SELECT ${sqlR(sqlDsum(
            "CAST(nxy AS DOUBLE) / n * LN(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny))"), 6)} AS mi
         |FROM m""".stripMargin,

    "q_describe" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", COUNT($c) AS n,
           |  COUNT(*) - COUNT($c) AS n_missing,
           |  ${sqlDmean(c)} AS mean,
           |  ${sqlR(s"SQRT(${sqlDsum(s"$c * $c")} / COUNT($c) - (${sqlDsum(c)} / COUNT($c)) * (${sqlDsum(c)} / COUNT($c)))")} AS std,
           |  ROUND(CAST(MIN($c) AS DOUBLE), 4) AS min,
           |  ROUND(CAST(MAX($c) AS DOUBLE), 4) AS max
           |FROM lineitem""".stripMargin
      s"""${one("l_quantity")} UNION ALL ${one("l_extendedprice")} UNION ALL ${one("l_discount")}
         |ORDER BY "column"""".stripMargin
    }
  )
}
