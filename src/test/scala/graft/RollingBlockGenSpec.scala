package graft

import org.apache.spark.sql.functions._
import graft.operators.OrderedOps
import graft.operators.OrderedOps.RollSpec

/** Focused spec for the block-array generator kernels
  * ([[graft.functions.RollingBlockAgg]] /
  * [[graft.functions.RollingBlockQuantile]]) on hostile inputs: map
  * payloads, output-name collisions, decimal overflow, and sparse /
  * duplicated indexes (including the duplicate-with-aligned-max
  * class). Random layouts and values against a naive reference are in
  * RollingPropertySpec. */
class RollingBlockGenSpec extends SparkSpec {

  /** 100 rows, 7 input splits: double with nulls, double with NaN and
    * nulls, decimal(12,2) with nulls, int with nulls. */
  private lazy val hostile = spark.range(100).repartition(7)
    .select(col("id").as("row_index"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise((col("id") * 3 % 17).cast("double")).as("d"),
      when(col("id") % 11 === 3, lit(Double.NaN))
        .when(col("id") % 7 === 2, lit(null))
        .otherwise((col("id") * 13 % 23).cast("double") - 11.0).as("dn"),
      when(col("id") % 4 === 1, lit(null))
        .otherwise(((col("id") * 7 % 19).cast("decimal(10,2)") * lit(0.25))
          .cast("decimal(12,2)")).as("dec"),
      when(col("id") % 6 === 5, lit(null))
        .otherwise((col("id") % 13).cast("int")).as("iv"))
    .cache()

  /** NaN-safe value normalization: Scala == on boxed doubles treats
    * NaN != NaN; compare floating values by their bits instead. */
  private def norm(v: Any): Any = v match {
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case f: java.lang.Float => java.lang.Float.floatToIntBits(f)
    case x => x
  }

  test("map-typed payload columns ride the generator path untouched") {
    // the generator's own index sort has no orderability requirement
    // on payload fields (unlike e.g. a sort_array formulation — the
    // r19 carry-derive negative); a map column must pass through
    val withMap = hostile.withColumn("mcol", map(lit("k"), col("d")))
    val viaMap = OrderedOps.rollingAggMulti(withMap,
      Seq(RollSpec("d", "sum", "sd")), 3, blockSize = 7L)
    val plain = OrderedOps.rollingAggMulti(hostile,
      Seq(RollSpec("d", "sum", "sd")), 3, blockSize = 7L)
    val a = viaMap.select("row_index", "sd").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(norm)).toMap
    val b = plain.select("row_index", "sd").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(norm)).toMap
    assert(a === b)
  }

  test("output-name collision replaces the input column in place") {
    // withColumn-replace semantics, computed by the generator itself:
    // values equal the global-window reference, the output keeps the
    // input's column order with the replaced column in its position
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    def generated(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case g: Generate => g.generator }
        .exists(g => g.isInstanceOf[graft.functions.RollingBlockAgg] ||
          g.isInstanceOf[graft.functions.RollingBlockQuantile])
    def values(df: org.apache.spark.sql.DataFrame, c: String): Map[Long, Option[Any]] =
      df.select(col("row_index"), col(c)).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(norm)).toMap
    val win = Window.orderBy(col("row_index")).rowsBetween(-2, 0)
    val reordered = hostile.select("d", "row_index", "dn", "dec", "iv")
    val cols = Seq("d", "row_index", "dn", "dec", "iv")
    // rollingAggMulti: one colliding output (its own source column) and
    // one new output, appended
    val agg = OrderedOps.rollingAggMulti(reordered,
      Seq(RollSpec("d", "sum", "d"), RollSpec("dn", "max", "mx")), 3, blockSize = 7L)
    assert(generated(agg))
    assert(agg.columns.toSeq === cols :+ "mx")
    assert(values(agg, "d") === values(hostile.withColumn("e", sum(col("d")).over(win)), "e"))
    assert(values(agg, "mx") === values(hostile.withColumn("e", max(col("dn")).over(win)), "e"))
    assert(values(agg, "dn") === values(hostile, "dn"))
    // rollingMedian / rollingQuantile writing over another input column
    val med = OrderedOps.rollingMedian(reordered, "d", 3, "dn", blockSize = 7L)
    assert(generated(med))
    assert(med.columns.toSeq === cols)
    assert(values(med, "dn") === values(hostile.withColumn("e",
      expr("percentile(d, 0.5D) over (order by row_index rows between 2 preceding and current row)")), "e"))
    val q = OrderedOps.rollingQuantile(reordered, "d", 3, 1.0, "d", blockSize = 7L)
    assert(generated(q))
    assert(q.columns.toSeq === cols)
    assert(values(q, "d") === values(hostile.withColumn("e", max(col("d")).over(win)), "e"))
  }

  test("decimal sum overflow: throws under ANSI, null with ANSI off") {
    val big = new java.math.BigDecimal("9" * 38)
    def frame = spark.range(10).select(col("id").as("row_index"),
      when(col("id") < 2, lit(big)).otherwise(lit(1).cast("decimal(38,0)")).as("v"))
    def run(): Map[Long, Option[Any]] =
      OrderedOps.rollingAggMulti(frame, Seq(RollSpec("v", "sum", "sv")), 2, blockSize = 7L)
        .collect().map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("sv")))).toMap
    // ANSI on (this engine's default): 2 x 1e38-ish overflows -> error
    val e = intercept[Exception](run())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null &&
      (m.contains("Decimal(38, 0)") || m.contains("overflow"))), e.toString)
    // ANSI off: overflow -> null
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val m = run()
      assert(m(1L).isEmpty, "overflow must be null with ansi off")
      assert(m(0L).contains(new java.math.BigDecimal(big.toString)))
      assert(m(3L).contains(java.math.BigDecimal.valueOf(2).setScale(0)))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("generator path: sparse, gapped and duplicated indexes fail loudly") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    def dies(f: => Unit): Unit = {
      val e = intercept[Exception](f)
      assert(msgs(e).exists(m => m != null && m.contains("dense")), e.getMessage)
    }
    // filtered frame keeps its original (sparse) index
    val sparse = spark.range(100).where(col("id") % 7 =!= 3)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    dies(OrderedOps.rollingSum(sparse, "x", 3, "rs", blockSize = 10L).collect())
    dies(OrderedOps.rollingMedian(sparse, "x", 3, "rm", blockSize = 10L).collect())
    // tail-aligned gap: whole tail of block 1 missing, block 2 present
    val tailGap = spark.range(30).where(col("id") < 17 || col("id") >= 20)
      .select(col("id").as("row_index"), col("id").cast("double").as("x"))
    dies(OrderedOps.rollingSum(tailGap, "x", 3, "rs", blockSize = 10L).collect())
    // duplicate index arranged so the block max STILL aligns (the
    // ADVICE r18 #1 residual class): id 17 replaced by a second 18 —
    // caught by the generator's per-row contiguity check
    val dup = spark.range(30)
      .select(when(col("id") === 17, lit(18L)).otherwise(col("id")).as("row_index"),
        col("id").cast("double").as("x"))
    dies(OrderedOps.rollingSum(dup, "x", 3, "rs", blockSize = 10L).collect())
    dies(OrderedOps.rollingQuantile(dup, "x", 3, 0.5, "rq", blockSize = 10L).collect())
  }
}
