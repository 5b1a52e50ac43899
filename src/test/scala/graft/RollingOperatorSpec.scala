package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{OrderedOps, RollingExec}
import graft.plans.Rolling

/** The Rolling plan node and its physical operator: plan shape of a
  * collapsed chain, predicates kept above the node, the column
  * contract shared by the ordered family, and when chains collapse. */
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
    }
    // the replaced column holds the rolled values
    val win = Window.orderBy(col("row_index")).rowsBetween(-3, 0)
    assert(values(OrderedOps.rollingSum(df, "v", 4, "v"), "v") ===
      values(df.withColumn("e", sum(col("v")).over(win)), "e"))
  }
}
