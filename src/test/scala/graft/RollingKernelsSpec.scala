package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.OrderedOps

/** Pins the rolling median/quantile kernels
  * ([[graft.operators.RollingExec]]) bit-identical to the Column
  * (higher-order-function) formulation the operators were first
  * written in, kept verbatim below and applied to a window gathered by
  * a plain global Spark window — independent of the operator's ring —
  * so oracle parity of the original formulation carries over to the
  * operator. */
class RollingKernelsSpec extends SparkSpec {

  /** 600 rows over 7 splits: null values, NaN, negatives, duplicates
    * and runs of nulls long enough to make all-null windows. */
  private lazy val hostile = spark.range(600).repartition(7).select(
    col("id").as("row_index"),
    when(pmod(col("id"), lit(5)) === 0 || (col("id") >= 300 && col("id") < 310),
      lit(null).cast("double"))
      .when(pmod(col("id"), lit(11)) === 0, lit(Double.NaN))
      .otherwise(pmod(col("id") * 31, lit(100)).cast("double") - lit(50.0)).as("v"))
    .cache()

  private val layouts = Seq((1, 7L), (3, 7L), (4, 16L), (6, 6L), (7, 64L))

  /** The HOF formulation's sorted non-null window values. */
  private def hofVals = array_sort(filter(col("__rwin"), v => v.isNotNull))
    .cast("array<double>")

  private def hofMedian = {
    val vals = hofVals
    val n = size(vals)
    val half = (n.cast("double") / 2.0).cast("int") // floor(n/2)
    when(n === 0, lit(null).cast("double"))
      .when(n % 2 === 1, element_at(vals, half + 1))
      .otherwise((element_at(vals, half) + element_at(vals, half + 1)) / 2.0)
  }

  private def hofQuantile(q: Double) = {
    val vals = hofVals
    val n = size(vals)
    val pos = lit(q) * (n - 1).cast("double")
    val lo = floor(pos).cast("int")
    val frac = pos - lo.cast("double")
    val lov = element_at(vals, lo + 1)
    val hiv = element_at(vals, least(lo + 2, n))
    when(n === 0, lit(null).cast("double")).otherwise(lov + (hiv - lov) * frac)
  }

  private def assertSameBits(got: DataFrame, hof: org.apache.spark.sql.Column,
                             w: Int, bs: Long, what: String): Unit = {
    // (row_index, v) structs keep null values in the list; 600 rows
    // fit one partition
    val win = Window.orderBy("row_index").rowsBetween(-(w - 1), 0)
    val want = hostile.withColumn("__rwin", transform(
        array_sort(collect_list(struct(col("row_index"), col("v"))).over(win)),
        e => e.getField("v")))
      .select(col("row_index"), hof.as("r"))
    def bits(df: DataFrame): Map[Long, Option[Long]] = df.select("row_index", "r").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
      .toMap
    val (g, h) = (bits(got), bits(want))
    assert(g.size == 600)
    g.foreach { case (i, v) => assert(v == h(i), s"$what w=$w bs=$bs row $i: got $v hof ${h(i)}") }
  }

  test("kernel median == HOF median formulation (bit-exact)") {
    for ((w, bs) <- layouts)
      assertSameBits(OrderedOps.rollingMedian(hostile, "v", w, "r", blockSize = bs),
        hofMedian, w, bs, "median")
  }

  test("kernel linear quantile == HOF quantile formulation at q=0, 0.25, 0.5, 0.9, 1") {
    for ((w, bs) <- layouts; q <- Seq(0.0, 0.25, 0.5, 0.9, 1.0))
      assertSameBits(OrderedOps.rollingQuantile(hostile, "v", w, q, "r", blockSize = bs),
        hofQuantile(q), w, bs, s"q=$q")
  }

  test("kernel handles empty and all-null windows as null") {
    // an all-null window gathers no values: the kernel's empty case
    val allNull = hostile.where(col("row_index") >= 304 && col("row_index") < 310)
      .select(col("row_index")).collect().map(_.getLong(0)).toSet
    for (out <- Seq(OrderedOps.rollingMedian(hostile, "v", 3, "r", blockSize = 7L),
                    OrderedOps.rollingQuantile(hostile, "v", 3, 0.25, "r", blockSize = 7L))) {
      val rs = out.where(col("row_index").isin(allNull.toSeq: _*)).select("r").collect()
      assert(rs.length == allNull.size && rs.forall(_.isNullAt(0)))
    }
  }
}
