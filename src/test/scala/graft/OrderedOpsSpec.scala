package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.OrderedOps
import graft.sources.Tables

/** Block-partitioned ordered operators must (a) bit-match the naive
  * global-window formulation across block boundaries and (b) never plan
  * a single-partition exchange — the scale property they exist for. */
class OrderedOpsSpec extends SparkSpec {
  import spark.implicits._

  // 100 rows over 8 partitions, blockSize 7 -> 15 blocks, lots of edges
  private lazy val df = spark.range(100).repartition(8)
    .select(col("id").as("row_index"), (col("id") * 3 % 17).cast("double").as("x"))
    .cache()

  private def globalShift(p: Int) = {
    val w = Window.orderBy(col("row_index"))
    df.withColumn("expect",
      if (p >= 0) lag(col("x"), p).over(w) else lead(col("x"), -p).over(w))
  }

  private def check(actualDf: org.apache.spark.sql.DataFrame, actualCol: String,
                    expectDf: org.apache.spark.sql.DataFrame): Unit = {
    val a = actualDf.select(col("row_index"), col(actualCol)).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val e = expectDf.select(col("row_index"), col("expect")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(a === e)
  }

  test("blockShift matches global-window lag/lead across boundaries") {
    for (p <- Seq(1, 3, 7, -1, -5, -7)) {
      val shifted = OrderedOps.shift(df, "x", p, as = Some("s"), blockSize = 7L)
      check(shifted, "s", globalShift(p))
    }
    // p spanning more than one default block: bigger blocks required
    check(OrderedOps.shift(df, "x", 13, as = Some("s"), blockSize = 16L), "s",
      globalShift(13))
  }

  test("blockShift p=0 and p beyond frame length") {
    check(OrderedOps.shift(df, "x", 0, as = Some("s"), blockSize = 7L), "s",
      df.withColumn("expect", col("x")))
    // 200 > 100 rows: everything null (blockSize must still exceed p)
    val far = OrderedOps.shift(df, "x", 200, as = Some("s"), blockSize = 512L)
    assert(far.where(col("s").isNotNull).count() === 0)
  }

  test("blockDiff matches global diff") {
    val expected = {
      val w = Window.orderBy(col("row_index"))
      df.withColumn("expect", col("x") - lag(col("x"), 2).over(w))
    }
    check(OrderedOps.diff(df, "x", 2, blockSize = 7L).withColumnRenamed("x", "d"),
      "d", expected)
  }

  test("blockRollingSum matches global rolling sum incl. partial head") {
    for (w <- Seq(1, 3, 7)) {
      val win = Window.orderBy(col("row_index")).rowsBetween(-(w - 1), 0)
      val expected = df.withColumn("expect", sum(col("x")).over(win))
      check(OrderedOps.rollingSum(df, "x", w, "rs", blockSize = 7L), "rs", expected)
    }
  }

  test("exact-multiple block size: last block FULL (arithmetic tail senders fire)") {
    // 100 = 10 x 10: the last block is full, so its tail rows are
    // framed as carries into a block that has no own rows — the
    // operator must drop them silently, and every other boundary must
    // still carry (with a SHORT last block those carries are never
    // framed at all)
    for (p <- Seq(1, 4, -3)) {
      check(OrderedOps.shift(df, "x", p, as = Some("s"), blockSize = 10L), "s",
        globalShift(p))
    }
    val w = 6
    val win = Window.orderBy(col("row_index")).rowsBetween(-(w - 1), 0)
    check(OrderedOps.rollingSum(df, "x", w, "rs", blockSize = 10L), "rs",
      df.withColumn("expect", sum(col("x")).over(win)))
    val expMed = df.withColumn("expect",
      expr(s"percentile(x, 0.5D) over (order by row_index rows between ${w - 1} preceding and current row)"))
    val gotMed = OrderedOps.rollingMedian(df, "x", w, "md", blockSize = 10L)
      .select(col("row_index"), col("md").as("got"))
    val j = gotMed.join(expMed.select(col("row_index"), col("expect")), "row_index")
    assert(j.where(abs(col("got") - col("expect")) > 1e-9).count() == 0)
  }

  test("rollingAggMulti: fused aggregates equal the stacked single-agg calls") {
    import OrderedOps.RollSpec
    val d = df.withColumn("y", (col("row_index") % 5).cast("double"))
    val fused = OrderedOps.rollingAggMulti(d,
      Seq(RollSpec("x", "sum", "sx"), RollSpec("y", "max", "my"),
        RollSpec("x", "count", "cx")), 4, blockSize = 7L)
    val stacked = OrderedOps.rollingAgg(OrderedOps.rollingAgg(OrderedOps.rollingAgg(
      d, "x", 4, "sx", "sum", blockSize = 7L),
      "y", 4, "my", "max", blockSize = 7L),
      "x", 4, "cx", "count", blockSize = 7L)
    val f = fused.select("row_index", "sx", "my", "cx").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    val st = stacked.select("row_index", "sx", "my", "cx").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(f === st)
  }

  test("blockRollingAgg min/max/count/mean match global windows") {
    val w = 4
    val win = Window.orderBy(col("row_index")).rowsBetween(-(w - 1), 0)
    for ((how, gfn) <- Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "min" -> (c => min(c)), "max" -> (c => max(c)), "count" -> (c => count(c)))) {
      val expected = df.withColumn("expect", gfn(col("x")).over(win))
      check(OrderedOps.rollingAgg(df, "x", w, "r", how, blockSize = 7L), "r", expected)
    }
    val expMean = df.withColumn("expect", avg(col("x")).over(win))
    check(OrderedOps.rollingMean(df, "x", w, "rm", blockSize = 7L), "rm", expMean)
  }

  test("blockRollingVar/Std match global var_pop/stddev_pop windows") {
    val w = 5
    val win = Window.orderBy(col("row_index")).rowsBetween(-(w - 1), 0)
    val expVar = df.withColumn("expect", var_pop(col("x")).over(win))
    val gotVar = OrderedOps.rollingVar(df, "x", w, "rv", blockSize = 7L)
      .select(col("row_index"), col("rv").as("got"))
    val joinedV = gotVar.join(expVar.select(col("row_index"), col("expect")), "row_index")
    assert(joinedV.where(abs(col("got") - col("expect")) > 1e-9).count() == 0)
    val expStd = df.withColumn("expect", stddev_pop(col("x")).over(win))
    val gotStd = OrderedOps.rollingStd(df, "x", w, "rs", blockSize = 7L)
      .select(col("row_index"), col("rs").as("got"))
    val joinedS = gotStd.join(expStd.select(col("row_index"), col("expect")), "row_index")
    assert(joinedS.where(abs(col("got") - col("expect")) > 1e-9).count() == 0)
  }

  test("blockRollingArray matches global collect_list incl. null slots and padding") {
    // null value at rows 10..14 exercises the struct wrapper (bare
    // collect_list would drop them and mis-align the window)
    val d = df.withColumn("x",
      when(col("row_index").between(10, 14), lit(null).cast("double"))
        .otherwise(col("x")))
    for (w <- Seq(1, 3, 7)) {
      val got = OrderedOps.rollingArray(d, "x", w, "arr", blockSize = 7L)
        .select(col("row_index"), col("arr")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      // expected: fixed-length window [i-w+1, i] with leading nulls
      val xs = d.select("row_index", "x").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      for (i <- 0L until 100L) {
        val expect = ((i - w + 1) to i).map(j =>
          if (j < 0) None else xs(j)).map(_.orNull)
        assert(got(i) == expect, s"row $i window $w")
      }
    }
  }

  test("shift fill_value and trim: missing ROWS filled/dropped, null VALUES kept") {
    // null value at row 20 must survive fill (it is a present row)
    val d = df.withColumn("x",
      when(col("row_index") === 20, lit(null).cast("double")).otherwise(col("x")))
    for (p <- Seq(3, -3)) {
      val filled = OrderedOps.shift(d, "x", p, as = Some("s"), blockSize = 7L,
          fill = Some(-1.0))
        .select(col("row_index"), col("s")).collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val oob = if (p > 0) (0L until 3L) else (97L until 100L)
      for (i <- oob) assert(filled(i) === Some(-1.0), s"p=$p row $i")
      val nullAt = 20L + p // the receiver of row 20's null value
      assert(filled(nullAt).isEmpty, s"p=$p genuine null filled at $nullAt")
      val trimmed = OrderedOps.shift(d, "x", p, as = Some("s"), blockSize = 7L,
        trim = true)
      assert(trimmed.count() === 97)
      assert(trimmed.where(col("row_index").isin(oob.map(Long.box): _*)).count() === 0)
      // trim keeps the genuine-null receiver row
      assert(trimmed.where(col("row_index") === nullAt).count() === 1)
    }
  }

  test("rollingArray edge=left and fill_value match the mirrored window") {
    val xs = df.select("row_index", "x").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (w <- Seq(3, 7)) {
      val got = OrderedOps.rollingArray(df, "x", w, "arr", blockSize = 7L,
          fillValue = Some(-9.0), edge = "left")
        .select(col("row_index"), col("arr")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      for (i <- 0L until 100L) {
        val expect = (i until i + w).map(j =>
          if (j > 99) -9.0 else xs(j))
        assert(got(i) == expect, s"row $i window $w")
      }
    }
    // right edge with fill: head slots take the fill value
    val gotR = OrderedOps.rollingArray(df, "x", 3, "arr", blockSize = 7L,
        fillValue = Some(0.0))
      .select(col("row_index"), col("arr")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(gotR(0L) == Seq(0.0, 0.0, xs(0L)))
    assert(gotR(1L) == Seq(0.0, xs(0L), xs(1L)))
  }

  test("blockRollingMedian matches a global-window interpolated median") {
    val w = 5
    // DuckDB/NumPy semantics: interpolated middle over non-null values
    // — computed exactly driver-side (100 rows)
    val xs = df.select("row_index", "x").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = OrderedOps.rollingMedian(df, "x", w, "med", blockSize = 7L)
      .select(col("row_index"), col("med")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (i <- 0L until 100L) {
      val vals = (math.max(0L, i - w + 1) to i).map(xs).sorted
      val n = vals.length
      val expect = if (n % 2 == 1) vals(n / 2) else (vals(n / 2 - 1) + vals(n / 2)) / 2.0
      assert(math.abs(got(i) - expect) < 1e-12, s"row $i: ${got(i)} vs $expect")
    }
    // all-null windows yield null medians
    val dn = spark.range(10).select(col("id").as("row_index"),
      when(col("id") < 5, lit(null).cast("double")).otherwise(col("id").cast("double")).as("x"))
    val gotN = OrderedOps.rollingMedian(dn, "x", 3, "med", blockSize = 4L)
      .select(col("row_index"), col("med")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(gotN(1L).isEmpty && gotN(4L).isEmpty)
    assert(gotN(5L) == Some(5.0) && gotN(6L) == Some(5.5)) // partial non-null windows
  }

  test("rollingQuantile: interpolated quantile, q=0/1 hit window min/max") {
    val w = 5
    val xs = df.select("row_index", "x").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q25 = OrderedOps.rollingQuantile(df, "x", w, 0.25, "q", blockSize = 7L)
      .select(col("row_index"), col("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q0 = OrderedOps.rollingQuantile(df, "x", w, 0.0, "q", blockSize = 7L)
      .select(col("row_index"), col("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q1 = OrderedOps.rollingQuantile(df, "x", w, 1.0, "q", blockSize = 7L)
      .select(col("row_index"), col("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (i <- 0L until 100L) {
      val vals = (math.max(0L, i - w + 1) to i).map(xs).sorted
      val pos = 0.25 * (vals.length - 1)
      val lo = pos.toInt
      val expect =
        if (lo + 1 < vals.length) vals(lo) + (vals(lo + 1) - vals(lo)) * (pos - lo)
        else vals(lo)
      assert(math.abs(q25(i) - expect) < 1e-12, s"row $i: ${q25(i)} vs $expect")
      assert(q0(i) == vals.head && q1(i) == vals.last, s"row $i extremes")
    }
    // all-null windows stay null
    val dn = spark.range(6).select(col("id").as("row_index"),
      when(col("id") < 3, lit(null).cast("double")).otherwise(col("id").cast("double")).as("x"))
    val gotN = OrderedOps.rollingQuantile(dn, "x", 3, 0.5, "q", blockSize = 4L)
      .select(col("row_index"), col("q")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(gotN(2L).isEmpty && gotN(3L) == Some(3.0))
  }

  test("blockRollingSum null handling: all-null window stays null") {
    val d = spark.range(10).select(col("id").as("row_index"),
      when(col("id") < 5, lit(null).cast("double")).otherwise(col("id").cast("double")).as("x"))
    val win = Window.orderBy(col("row_index")).rowsBetween(-2, 0)
    val expected = d.withColumn("expect", sum(col("x")).over(win))
    check(OrderedOps.rollingSum(d, "x", 3, "rs", blockSize = 4L), "rs", expected)
    // var/std: all-null windows stay null (not 0.0 — greatest() alone
    // would swallow the null), non-null windows match stddev_pop
    val gotStd = OrderedOps.rollingStd(d, "x", 3, "rstd", blockSize = 4L)
      .select(col("row_index"), col("rstd")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val expStd = d.withColumn("expect", stddev_pop(col("x")).over(win))
      .select(col("row_index"), col("expect")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(gotStd.keySet == expStd.keySet)
    for ((k, e) <- expStd) (gotStd(k), e) match {
      case (None, None) => ()
      case (Some(a: Double), Some(b: Double)) => assert(math.abs(a - b) < 1e-9, s"row $k")
      case other => fail(s"row $k: $other")
    }
    assert(expStd(1L).isEmpty && gotStd(1L).isEmpty) // all-null window -> null
  }

  test("blockCumsum matches a global running sum; offsets join is broadcast") {
    val win = Window.orderBy(col("row_index"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val expected = df.withColumn("expect", sum(col("x")).over(win))
    val got = OrderedOps.cumsum(df, "x", "cs", blockSize = 7L)
    val a = got.select(col("row_index"), col("cs")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val e = expected.select(col("row_index"), col("expect")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (i <- 0L until 100L) assert(math.abs(a(i) - e(i)) < 1e-9, s"row $i")
    // the single-partition stage is confined to the block-SUMMARY
    // window (nBlocks rows); the per-row side joins the offsets via
    // broadcast, so the data path itself never funnels into one task
    assert(got.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    // null handling: leading nulls stay null, later rows skip them
    val dn = spark.range(10).select(col("id").as("row_index"),
      when(col("id") < 3 || col("id") === 5, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("x"))
    val gotN = OrderedOps.cumsum(dn, "x", "cs", blockSize = 4L)
      .select(col("row_index"), col("cs")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val expN = dn.withColumn("expect", sum(col("x")).over(win))
      .select(col("row_index"), col("expect")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(gotN === expN)
    // cumsum is order-based, not density-based: a sparse (filtered)
    // index is legal and sums the present rows in index order
    val sparse = spark.range(40).where(col("id") % 3 =!= 1)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    val aS = OrderedOps.cumsum(sparse, "x", "cs", blockSize = 7L)
      .select(col("row_index"), col("cs")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val eS = sparse.withColumn("expect", sum(col("x")).over(win))
      .select(col("row_index"), col("expect")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(aS === eS)
  }

  test("ordered-op plans contain no single-partition exchange") {
    for (plan <- Seq(
      OrderedOps.shift(df, "x", 3, as = Some("s"), blockSize = 7L),
      OrderedOps.rollingSum(df, "x", 3, "rs", blockSize = 7L),
      OrderedOps.rollingArray(df, "x", 3, "arr", blockSize = 7L),
      OrderedOps.rollingMedian(df, "x", 3, "med", blockSize = 7L),
      VxFrame(df).shift("x", 2).df)) {
      val p = plan.queryExecution.executedPlan.toString
      assert(!p.contains("SinglePartition"), p.take(2000))
    }
  }

  test("large-window carry (400 rows) is correct across 600-row blocks") {
    // the carries of a wide window ride the node's own exchange (no
    // carry join), so the only thing to pin is correctness
    val d = spark.range(2000)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    val w = 400
    val win = Window.orderBy(col("row_index")).rowsBetween(-(w - 1), 0)
    check(OrderedOps.rollingSum(d, "x", w, "rs", blockSize = 600L), "rs",
      d.withColumn("expect", sum(col("x")).over(win)))
    val ws = Window.orderBy(col("row_index"))
    check(OrderedOps.shift(d, "x", 400, as = Some("s"), blockSize = 600L), "s",
      d.withColumn("expect", lag(col("x"), 400).over(ws)))
  }

  test("sparse row_index fails loudly instead of returning wrong results") {
    // a filtered frame keeps its original (now sparse) index — the old
    // implementation silently pulled carries from the wrong rows
    val sparse = spark.range(100).where(col("id") % 7 =!= 3)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    for (bad <- Seq(
      () => OrderedOps.shift(sparse, "x", 2, as = Some("s"), blockSize = 10L).collect(),
      () => OrderedOps.shift(sparse, "x", -2, as = Some("s"), blockSize = 10L).collect(),
      () => OrderedOps.rollingSum(sparse, "x", 3, "rs", blockSize = 10L).collect())) {
      val e = intercept[Exception](bad())
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("dense")), e.getMessage)
    }
    // tail-aligned gap (whole tail of block 1 missing, block 2 present):
    // invisible to per-row alignment, caught by the carry checks
    val tailGap = spark.range(30).where(col("id") < 17 || col("id") >= 20)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    val e2 = intercept[Exception](
      OrderedOps.shift(tailGap, "x", 2, as = Some("s"), blockSize = 10L).collect())
    def msgs2(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs2(x.getCause))
    assert(msgs2(e2).exists(m => m != null && m.contains("dense")))
  }

  test("fill/trim do not suppress sparse-index validation") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    // block 1's tail (5..9) missing entirely: fewer than p carries
    // reach block 2, whose head rows then lack their source row — fill
    // must not route them to the fill value without the index check
    val tailGap = spark.range(30).where(col("id") < 5 || col("id") >= 10)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    for (bad <- Seq(
      () => OrderedOps.shift(tailGap, "x", 7, as = Some("s"), blockSize = 10L,
        fill = Some(-1.0)).collect(),
      () => OrderedOps.shift(tailGap, "x", 7, as = Some("s"), blockSize = 10L,
        trim = true).collect())) {
      val e = intercept[Exception](bad())
      assert(msgs(e).exists(m => m != null && m.contains("dense")), e.getMessage)
    }
    // a wholly-absent middle block under lead: receivers' missing
    // carries look exactly like the legitimate frame tail; the absent
    // block itself holds the next block's carries but no own rows
    val midGap = spark.range(30).where(col("id") < 10 || col("id") >= 20)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    for (bad <- Seq(
      () => OrderedOps.shift(midGap, "x", -2, as = Some("s"),
        blockSize = 10L).collect(),
      () => OrderedOps.shift(midGap, "x", -2, as = Some("s"), blockSize = 10L,
        fill = Some(-1.0)).collect())) {
      val e = intercept[Exception](bad())
      assert(msgs(e).exists(m => m != null && m.contains("dense")), e.getMessage)
    }
    // dense frames keep the documented fill/trim semantics under the
    // same validation (boundary rows past the end legitimately fill)
    val lead = OrderedOps.shift(df, "x", -3, as = Some("s"), blockSize = 7L,
      fill = Some(-1.0))
    assert(lead.where(col("row_index") >= 97 && col("s") === -1.0).count() === 3)
    assert(OrderedOps.shift(df, "x", -3, as = Some("s"), blockSize = 7L,
      trim = true).count() === 97)
  }

  test("withRowIndex is dense 0..n-1 in partition order, columnar") {
    val d = Tables.withRowIndex(spark.range(50).repartition(6).toDF("v"))
    val idx = d.select("row_index").collect().map(_.getLong(0)).sorted
    assert(idx === (0L until 50L).toArray)
    // no RDD round-trip: plan is still a columnar project over the scan
    assert(!d.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("withRowIndexBy equals a global ordered row_number") {
    val base = spark.range(200).select(
      (col("id") * 7 % 23).as("k"), (col("id") % 5).as("k2"), col("id").as("orig"))
      .repartition(8).cache()
    val bucketed = Tables.withRowIndexBy(base, Seq("k", "k2", "orig"), buckets = 6)
    val global = base.withColumn("expect",
      row_number().over(Window.orderBy(col("k"), col("k2"), col("orig"))).cast("long") - 1L)
    val a = bucketed.select("orig", "row_index").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = global.select("orig", "expect").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === e)
    val p = bucketed.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("withRowIndexBy handles nulls-first and ties on the leading key") {
    val base = Seq(
      (Option(3L), "a"), (Option.empty[Long], "b"), (Option(1L), "c"),
      (Option(3L), "d"), (Option.empty[Long], "a")).toDF("k", "s")
    val got = Tables.withRowIndexBy(base, Seq("k", "s"), buckets = 3)
      .orderBy("row_index").select("k", "s").collect()
      .map(r => (Option(r.get(0)), r.getString(1)))
    assert(got === Array(
      (None, "a"), (None, "b"), (Some(1L), "c"), (Some(3L), "a"), (Some(3L), "d")))
  }

  test("shift: duplicated index with aligned block max raises, never duplicates rows") {
    // id 17 replaced by a second 18: block 1 keeps 10 rows and its max
    // (19) still sits at count-1 above the block start, so a per-block
    // count or max check cannot see it — the per-row index checks must
    // raise instead of silently emitting a receiver row TWICE (the
    // failure mode of a join on the carries).
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    val dup = spark.range(30)
      .select(when(col("id") === 17, lit(18L)).otherwise(col("id")).as("row_index"),
        col("id").cast("double").as("x"))
    for (p <- Seq(2, -2)) {
      val shifted = if (p > 0) dup else
        // lead direction: duplicate in the HEAD carry region of block 2
        spark.range(30)
          .select(when(col("id") === 21, lit(20L)).otherwise(col("id")).as("row_index"),
            col("id").cast("double").as("x"))
      val e = intercept[Exception](
        OrderedOps.shift(shifted, "x", p, as = Some("s"), blockSize = 10L).collect())
      assert(msgs(e).exists(m => m != null && m.contains("dense")), s"p=$p: $e")
    }
    // and validate=false keeps the trusting path (no raise)
    val trusting = OrderedOps.shift(dup, "x", 2, as = Some("s"), blockSize = 10L,
      validate = false).collect()
    assert(trusting.length >= 30) // duplicated receiver row tolerated by choice
  }

  test("rollingMedian/rollingQuantile reject non-numeric input columns") {
    val strs = spark.range(20).select(col("id").as("row_index"),
      concat(lit("v"), col("id")).as("s"))
    val e1 = intercept[IllegalArgumentException](
      OrderedOps.rollingMedian(strs, "s", 3, "m", blockSize = 8L))
    assert(e1.getMessage.contains("numeric column required"))
    val e2 = intercept[IllegalArgumentException](
      OrderedOps.rollingQuantile(strs, "s", 3, 0.5, "q", blockSize = 8L))
    assert(e2.getMessage.contains("numeric column required"))
  }
}
