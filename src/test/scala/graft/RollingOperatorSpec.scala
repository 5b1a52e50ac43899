package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{OrderedOps, RollingExec}
import graft.plans.Rolling

/** The Rolling plan node and its physical operator: plan shape of a
  * collapsed chain and of shift, diff and rollingArray, predicates
  * kept above the node, the column contract shared by the ordered
  * family, and when chains collapse. */
class RollingOperatorSpec extends SparkSpec {

  /** 60 rows over 5 splits, row_index in the middle of the columns. */
  private lazy val df = spark.range(60).repartition(5)
    .select((col("id") % 4).as("a"), col("id").as("row_index"),
      when(col("id") % 9 === 4, lit(null))
        .otherwise((col("id") * 7 % 13).cast("double") - 6.0).as("v"),
      (col("id") * 3).as("b"))
    .cache()

  /** Every physical node, through adaptive wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def rollings(d: DataFrame): Seq[Rolling] =
    d.queryExecution.optimizedPlan.collect { case r: Rolling => r }

  private def values(d: DataFrame, c: String): Map[Long, Option[Any]] =
    d.select(col("row_index"), col(c)).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap

  test("a chained rollingMean/rollingStd runs as one RollingExec over one exchange") {
    val w = 5
    val rolled = VxFrame(df).rollingMean("v", w, "rm").rollingStd("v", w, "rs").df
    rolled.collect()
    assert(rollings(rolled).map(_.specs.map(_.name)) === Seq(Seq("rm", "rs")))
    val all = nodes(rolled.queryExecution.executedPlan)
    val execs = all.collect { case e: RollingExec => e }
    assert(execs.size === 1, all.mkString("\n"))
    assert(nodes(execs.head).count(_.isInstanceOf[ShuffleExchangeExec]) === 1)
    val fallbacks = all.flatMap(_.expressions).flatMap(_.collect { case f: CodegenFallback => f })
    assert(fallbacks.isEmpty, fallbacks)
    val win = Window.orderBy(col("row_index")).rowsBetween(-(w - 1), 0)
    val want = df.withColumn("rm", avg(col("v")).over(win))
      .withColumn("rs", stddev_pop(col("v")).over(win))
    for (c <- Seq("rm", "rs")) {
      val (g, e) = (values(rolled, c), values(want, c))
      assert(g.keySet === e.keySet)
      e.foreach { case (i, x) => (g(i), x) match {
        case (Some(a: Double), Some(b: Double)) => assert(math.abs(a - b) < 1e-9, s"$c row $i")
        case (a, b) => assert(a === b, s"$c row $i")
      } }
    }
  }

  test("a chain whose second call reads the first one's output stays two nodes") {
    val chained = OrderedOps.rollingSum(OrderedOps.rollingSum(df, "v", 3, "s", blockSize = 8L),
      "s", 2, "ss", blockSize = 8L)
    assert(rollings(chained).size === 2)
    val win3 = Window.orderBy(col("row_index")).rowsBetween(-2, 0)
    val win2 = Window.orderBy(col("row_index")).rowsBetween(-1, 0)
    val want = df.withColumn("s", sum(col("v")).over(win3))
      .withColumn("ss", sum(col("s")).over(win2))
    assert(values(chained, "ss") === values(want, "ss"))
    // different windows with the same block size and index do collapse
    val merged = OrderedOps.rollingMedian(OrderedOps.rollingSum(df, "v", 3, "s", blockSize = 8L),
      "v", 6, "md", blockSize = 8L)
    assert(rollings(merged).map(_.carryRows) === Seq(5))
    assert(values(merged, "s") === values(want, "s"))
  }

  test("two identically built rolling frames are sameResult and share a cache entry") {
    val a = OrderedOps.rollingMedian(df, "v", 3, "m")
    val b = OrderedOps.rollingMedian(df, "v", 3, "m")
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    assert(!a.queryExecution.analyzed.sameResult(
      OrderedOps.rollingMedian(df, "v", 4, "m").queryExecution.analyzed))
    a.cache()
    try {
      a.count()
      assert(b.queryExecution.withCachedData.toString.contains("InMemoryRelation"))
    } finally a.unpersist()
  }

  test("a predicate above a rolling call stays above the node") {
    val rolled = VxFrame(df).rollingMean("v", 4, "rm").df
    val win = Window.orderBy(col("row_index")).rowsBetween(-3, 0)
    val want = df.withColumn("rm", avg(col("v")).over(win))
    for (pred <- Seq(col("rm") > 0, col("v") > 0, col("row_index") >= 30)) {
      val filtered = rolled.where(pred)
      val plan = filtered.queryExecution.optimizedPlan
      assert(plan.collect { case f: Filter => f }.nonEmpty, plan)
      assert(plan.collect { case r: Rolling => r.child.collect { case f: Filter => f } }
        .flatten.isEmpty, plan)
      assert(values(filtered, "rm") === values(want.where(pred), "rm"), pred)
    }
  }

  test("rolling outputs keep the input columns in place, then new outputs in spec order") {
    val in = Seq("a", "row_index", "v", "b")
    for (w <- Seq(1, 4)) {
      def cols(d: DataFrame): Seq[String] = d.columns.toSeq
      assert(cols(OrderedOps.rollingSum(df, "v", w, "s")) === in :+ "s", s"w=$w")
      assert(cols(OrderedOps.rollingSum(df, "v", w, "v")) === in, s"w=$w")
      assert(cols(OrderedOps.rollingMedian(df, "v", w, "m")) === in :+ "m", s"w=$w")
      assert(cols(OrderedOps.rollingQuantile(df, "v", w, 0.25, "b")) === in, s"w=$w")
      assert(cols(VxFrame(df).rollingMean("v", w, "rm").rollingStd("v", w, "rs").df) ===
        in ++ Seq("rm", "rs"), s"w=$w")
      assert(cols(OrderedOps.rollingAggMulti(df, Seq(OrderedOps.RollSpec("v", "max", "x"),
        OrderedOps.RollSpec("b", "sum", "b"), OrderedOps.RollSpec("v", "min", "n")), w)) ===
        in ++ Seq("x", "n"), s"w=$w")
      assert(cols(OrderedOps.shift(df, "v", w, as = Some("sv"))) === in :+ "sv", s"w=$w")
      assert(cols(OrderedOps.shift(df, "v", w)) === in, s"w=$w")
      assert(cols(OrderedOps.shift(df, "v", -w, as = Some("sv"), trim = true)) === in :+ "sv",
        s"w=$w")
      assert(cols(OrderedOps.rollingArray(df, "v", w, "b", edge = "left")) === in, s"w=$w")
    }
    // the replaced column holds the rolled values
    val win = Window.orderBy(col("row_index")).rowsBetween(-3, 0)
    assert(values(OrderedOps.rollingSum(df, "v", 4, "v"), "v") ===
      values(df.withColumn("e", sum(col("v")).over(win)), "e"))
  }

  test("shift, diff and rollingArray each plan one RollingExec, one exchange, no join or aggregate") {
    val calls = Seq(
      "shift(3)" -> OrderedOps.shift(df, "v", 3, as = Some("s")),
      "shift(-3)" -> OrderedOps.shift(df, "v", -3, as = Some("s")),
      "shift(-3) fill+trim" ->
        OrderedOps.shift(df, "v", -3, as = Some("s"), fill = Some(0.0), trim = true),
      "diff" -> OrderedOps.diff(df, "v", 2),
      "rollingArray right" -> OrderedOps.rollingArray(df, "v", 4, "arr"),
      "rollingArray left" -> OrderedOps.rollingArray(df, "v", 4, "arr", edge = "left"))
    for ((what, d) <- calls) {
      d.collect()
      val all = nodes(d.queryExecution.executedPlan)
      assert(all.count(_.isInstanceOf[RollingExec]) === 1, s"$what\n${all.mkString("\n")}")
      assert(all.count(_.isInstanceOf[ShuffleExchangeExec]) === 1, s"$what\n${all.mkString("\n")}")
      assert(!all.exists(n => n.isInstanceOf[BaseJoinExec] || n.isInstanceOf[BaseAggregateExec]),
        s"$what\n${all.mkString("\n")}")
    }
  }

  test("a lag and a rolling statistic of the same input collapse into one node") {
    val win = Window.orderBy(col("row_index"))
    val both = OrderedOps.rollingMean(OrderedOps.shift(df, "v", 3, as = Some("s")), "v", 5, "rm")
    both.collect()
    assert(rollings(both).map(_.specs.map(_.name)) === Seq(Seq("s", "rm")))
    assert(nodes(both.queryExecution.executedPlan).count(_.isInstanceOf[RollingExec]) === 1)
    val want = df.withColumn("s", lag(col("v"), 3).over(win))
      .withColumn("rm", avg(col("v")).over(win.rowsBetween(-4, 0)))
    assert(values(both, "s") === values(want, "s"))
    assert(values(both, "rm") === values(want, "rm"))
    // VxFrame.shift replaces `v` in place, so the mean reads the lagged
    // column — a window over another node's output stays a second node
    val vx = VxFrame(df).shift("v", 3).rollingMean("v", 5, "rm").df
    assert(rollings(vx).size === 2)
    assert(values(vx, "rm") === values(df.withColumn("l", lag(col("v"), 3).over(win))
      .withColumn("rm", avg(col("l")).over(win.rowsBetween(-4, 0))), "rm"))
    // a lag and a lead run in opposite directions: two nodes
    val lagLead = OrderedOps.shift(OrderedOps.shift(df, "v", 2, as = Some("a")),
      "v", -2, as = Some("b"))
    assert(rollings(lagLead).map(_.descending) === Seq(true, false))
    assert(values(lagLead, "b") === values(df.withColumn("e", lead(col("v"), 2).over(win)), "e"))
  }

  test("a predicate on a shifted output stays above the node") {
    val win = Window.orderBy(col("row_index"))
    val shifted = VxFrame(df).shift("v", 2).df
    val want = df.withColumn("v", lag(col("v"), 2).over(win))
    val trimmed = OrderedOps.shift(df, "v", -2, as = Some("s"), trim = true)
    val wantTrimmed = df.withColumn("s", lead(col("v"), 2).over(win)).where(col("row_index") < 58)
    for ((got, expect, pred) <- Seq(
        (shifted, want, col("v") > 0), (shifted, want, col("row_index") >= 30),
        (trimmed, wantTrimmed, col("s") > 0))) {
      val filtered = got.where(pred)
      val plan = filtered.queryExecution.optimizedPlan
      assert(plan.collect { case f: Filter => f }.nonEmpty, plan)
      assert(plan.collect { case r: Rolling => r.child.collect { case f: Filter => f } }
        .flatten.isEmpty, plan)
      val c = if (got eq trimmed) "s" else "v"
      assert(values(filtered, c) === values(expect.where(pred), c), pred)
    }
  }

  test("descending (lead, left-edge) validation raises on every broken index") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    def dies(d: DataFrame, what: String): Unit = {
      val e = intercept[Exception](d.collect())
      assert(msgs(e).exists(m => m != null && m.contains(RollingExec.ReindexMsg)), what)
    }
    def frame(keep: org.apache.spark.sql.Column, index: org.apache.spark.sql.Column = col("id")) =
      spark.range(30).where(keep).select(index.as("row_index"), col("id").cast("double").as("x"))
    val broken = Seq(
      // block 1's carries to block 0 do not end at 10
      "next block's head row missing" -> frame(col("id") =!= 10),
      // block 0's own rows do not start right below its carries
      "own head row missing" -> frame(col("id") =!= 9),
      // block 0's own rows do not end at 0
      "first row missing" -> frame(col("id") =!= 0),
      // block 1 holds block 2's carries but no own rows
      "middle block missing" -> frame(col("id") < 10 || col("id") >= 20),
      // 21 replaced by a second 20 in block 2's carry region
      "duplicated index" -> frame(lit(true), when(col("id") === 21, lit(20L)).otherwise(col("id"))))
    for ((what, d) <- broken) {
      dies(OrderedOps.shift(d, "x", -2, as = Some("s"), blockSize = 10L), s"lead: $what")
      dies(OrderedOps.rollingArray(d, "x", 3, "a", blockSize = 10L, edge = "left"),
        s"left edge: $what")
    }
    // dense frames with a short and with a full last block pass
    for (n <- Seq(25, 30)) {
      val d = spark.range(n).select(col("id").as("row_index"), col("id").cast("double").as("x"))
      assert(OrderedOps.shift(d, "x", -2, as = Some("s"), blockSize = 10L).count() === n)
      assert(OrderedOps.rollingArray(d, "x", 3, "a", blockSize = 10L, edge = "left")
        .count() === n)
    }
  }
}
