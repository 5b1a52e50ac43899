package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.OrderedOps
import graft.operators.OrderedOps.RollSpec

/** Generator-driven checks of the streaming rolling operator
  * ([[graft.operators.RollingExec]]) against a naive Scala
  * sliding window over the collected rows: random frame length,
  * window and block size (plus the fixed layouts window == 1,
  * window == blockSize, an exact-multiple last block and a single
  * block), random double columns with nulls and NaN, decimal(12,2)
  * and int columns with nulls, and a string column for the value
  * hows (shift, rollingArray). Doubles compare bitwise. */
class RollingPropertySpec extends SparkSpec {
  import RollingPropertySpec.Layout

  private val randomLayout: Gen[Layout] = for {
    bs <- Gen.choose(1, 40)
    w <- Gen.choose(1, bs)
    n <- Gen.choose(1, 150)
  } yield Layout(n, w, bs)

  private val layouts: Seq[(Layout, Long)] = Seq(
    Layout(57, 1, 8),    // window == 1
    Layout(61, 9, 9),    // window == blockSize
    Layout(60, 4, 12),   // exact-multiple last block
    Layout(23, 6, 40)    // single block
  ).zipWithIndex.map { case (l, i) => (l, 1000L + i) } ++
    (1 to 12).map(i => (randomLayout.pureApply(Gen.Parameters.default, Seed(i.toLong)),
      i.toLong))

  private val schema = StructType(Seq(
    StructField("row_index", LongType, nullable = false),
    StructField("d", DoubleType), StructField("dn", DoubleType),
    StructField("dec", DecimalType(12, 2)), StructField("iv", IntegerType)))

  /** d: doubles (incl. -0.0) with nulls; dn: doubles with NaN and
    * nulls; dec: decimal(12,2) with nulls; iv: ints with nulls. */
  private def frame(n: Int, seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    def maybe[A](pNull: Double)(v: => A): Any = if (r.nextDouble() < pNull) null else v
    val rows = (0 until n).map { i =>
      Row(i.toLong,
        maybe(0.2)(if (r.nextInt(20) == 0) -0.0 else r.nextDouble() * 200 - 100),
        maybe(0.15)(if (r.nextInt(8) == 0) Double.NaN else (r.nextInt(41) - 20) * 0.75),
        maybe(0.2)(java.math.BigDecimal.valueOf(r.nextLong() % 1000000000L, 2)),
        maybe(0.2)(r.nextInt(2001) - 1000))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema).repartition(4)
  }

  private def bits(v: Any): Any = v match {
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  }

  /** Spark's SQL ordering for min/max: NaN greatest, NaN = NaN,
    * -0.0 = 0.0; the first of equal values is kept. */
  private def sqlLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x != y && java.lang.Double.compare(x, y) < 0
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) < 0
    case (x: Int, y: Int) => x < y
    case _ => sys.error(s"unexpected values $a, $b")
  }

  private def naiveAgg(how: String, vals: Seq[Any]): Any = {
    val nn = vals.filter(_ != null)
    how match {
      case "count" => nn.size.toLong
      case _ if nn.isEmpty => null
      case "min" => nn.reduceLeft((a, b) => if (sqlLess(b, a)) b else a)
      case "max" => nn.reduceLeft((a, b) => if (sqlLess(a, b)) b else a)
      case "sum" => nn.head match {
        case _: Double => nn.map(_.asInstanceOf[Double]).reduceLeft(_ + _)
        case _: java.math.BigDecimal =>
          nn.map(_.asInstanceOf[java.math.BigDecimal]).reduceLeft(_ add _)
        case _: Int => nn.map(_.asInstanceOf[Int].toLong).sum
      }
    }
  }

  /** numpy-linear quantile at q·(n−1), or SQL MEDIAN's even-n midpoint,
    * over the non-null values sorted NaN-last. */
  private def naiveQuantile(vals: Seq[Any], q: Double, midpoint: Boolean): Any = {
    val s = vals.filter(_ != null).map(_.asInstanceOf[Double]).toArray
      .sorted(Ordering.Double.TotalOrdering)
    val n = s.length
    if (n == 0) null
    else if (midpoint) {
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    } else {
      val pos = q * (n - 1).toDouble
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, n - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo.toDouble)
    }
  }

  /** Trailing windows [i-w+1, i] of column `c` (values as collected). */
  private def windows(in: Array[Row], c: String, w: Int): IndexedSeq[Seq[Any]] = {
    val col = in.sortBy(_.getLong(0)).map(r => r.get(r.fieldIndex(c)))
    col.indices.map(i => col.slice(math.max(0, i - w + 1), i + 1).toSeq)
  }

  private def byIndex(df: DataFrame): Map[Long, Row] =
    df.collect().map(r => r.getLong(r.fieldIndex("row_index")) -> r).toMap

  private val specs = Seq(
    RollSpec("d", "sum", "sd"), RollSpec("dn", "sum", "sn"),
    RollSpec("dec", "sum", "sdec"), RollSpec("iv", "sum", "si"),
    RollSpec("d", "count", "cd"), RollSpec("dec", "count", "cdec"),
    RollSpec("dn", "min", "mn"), RollSpec("dn", "max", "mx"),
    RollSpec("d", "min", "md"), RollSpec("dec", "max", "mdec"),
    RollSpec("iv", "min", "mi"), RollSpec("iv", "max", "xi"))

  /** Spark's Sum result type, the same at every window. */
  private def sumType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(math.min(d.precision + 10, 38), d.scale)
    case IntegerType => LongType
    case _ => DoubleType
  }

  test("sum/count/min/max == naive sliding window on random layouts") {
    for ((l, seed) <- layouts) {
      val in = frame(l.n, seed)
      val inRows = in.collect()
      val out = OrderedOps.rollingAggMulti(in, specs, l.window, blockSize = l.blockSize)
      val ctx = s"$l seed=$seed"
      assert(out.columns.toSeq === schema.fieldNames.toSeq ++ specs.map(_.as), ctx)
      specs.foreach { s =>
        val want = s.how match {
          case "sum" => sumType(schema(s.column).dataType)
          case "count" => LongType
          case _ => schema(s.column).dataType
        }
        assert(out.schema(s.as).dataType === want, s"$ctx ${s.as}")
      }
      val got = byIndex(out)
      assert(got.size === l.n, ctx)
      for (s <- specs) {
        windows(inRows, s.column, l.window).zipWithIndex.foreach { case (win, i) =>
          val g = got(i.toLong).get(got(i.toLong).fieldIndex(s.as))
          assert(bits(g) === bits(naiveAgg(s.how, win)), s"$ctx ${s.as} row $i window $win")
        }
      }
      val inByIdx = inRows.map(r => r.getLong(0) -> r.toSeq.map(bits)).toMap
      got.foreach { case (i, r) =>
        assert(schema.fieldNames.toSeq.map(c => bits(r.get(r.fieldIndex(c)))) === inByIdx(i),
          s"$ctx payload row $i")
      }
    }
  }

  test("median/quantile == naive sorted window on random layouts") {
    val valueCols = Seq("dn", "d", "dec", "iv")
    for (((l, seed), k) <- layouts.zipWithIndex) {
      val c = valueCols(k % valueCols.size)
      val in = frame(l.n, seed)
      val inRows = in.select(col("row_index"), col(c).cast("double").as("x")).collect()
      val wins = windows(inRows, "x", l.window)
      val runs = ("median", 0.5, true,
          OrderedOps.rollingMedian(in, c, l.window, "r", blockSize = l.blockSize)) +:
        Seq(0.0, 0.25, 0.9, 1.0).map(q => (s"q=$q", q, false,
          OrderedOps.rollingQuantile(in, c, l.window, q, "r", blockSize = l.blockSize)))
      for ((what, q, midpoint, out) <- runs) {
        val got = byIndex(out)
        assert(got.size === l.n)
        wins.zipWithIndex.foreach { case (win, i) =>
          val g = got(i.toLong).get(got(i.toLong).fieldIndex("r"))
          assert(bits(g) === bits(naiveQuantile(win, q, midpoint)),
            s"$l seed=$seed col=$c $what row $i window $win")
        }
      }
    }
  }

  /** Naive two-pass population moments of a window's non-null values:
    * (mean, var) with the mean as a plain left-to-right sum over n. */
  private def naiveMoments(vals: Seq[Any]): Option[(Double, Double)] = {
    val xs = vals.filter(_ != null).map {
      case b: java.math.BigDecimal => b.doubleValue
      case i: Int => i.toDouble
      case d: Double => d
    }
    if (xs.isEmpty) None else {
      val mean = xs.sum / xs.size
      Some((mean, xs.map(x => (x - mean) * (x - mean)).sum / xs.size))
    }
  }

  private def close(got: Any, want: Option[Double], what: String): Unit =
    (got, want) match {
      case (null, None) => ()
      case (g: Double, Some(w)) =>
        assert(g == w || (g.isNaN && w.isNaN) || math.abs(g - w) <= 1e-9 * math.abs(w) + 1e-12,
          s"$what: $g vs $w")
      case other => fail(s"$what: $other")
    }

  test("mean/var/std == naive two-pass window, incl. offset 1e8 across carries") {
    // the offset column: values 1e8 + [0, 1) with nulls, where the old
    // Σx²/n − mean² formula was off by ~6 against a variance below 1;
    // small blocks make most windows straddle a carry
    val offsetLayouts = Seq(Layout(90, 5, 5), Layout(90, 5, 7), Layout(70, 12, 16))
    for ((l, seed) <- layouts ++ offsetLayouts.map(_ -> 77L)) {
      val in = frame(l.n, seed).withColumn("off", when(col("d").isNull, lit(null))
        .otherwise(lit(1e8) + (col("row_index") * 7919 % 1000).cast("double") / 1000.0))
      val inRows = in.collect()
      val cols = Seq("d", "dn", "dec", "iv", "off")
      val specs3 = cols.flatMap(c => Seq(RollSpec(c, "mean", s"m_$c"),
        RollSpec(c, "var", s"v_$c"), RollSpec(c, "std", s"s_$c")))
      val out = OrderedOps.rollingAggMulti(in, specs3, l.window, blockSize = l.blockSize)
      specs3.foreach(s => assert(out.schema(s.as).dataType === DoubleType))
      val got = byIndex(out)
      for (c <- cols) windows(inRows, c, l.window).zipWithIndex.foreach { case (win, i) =>
        val g = got(i.toLong)
        val want = naiveMoments(win)
        val ctx = s"$l seed=$seed $c row $i"
        close(g.get(g.fieldIndex(s"m_$c")), want.map(_._1), s"$ctx mean")
        close(g.get(g.fieldIndex(s"v_$c")), want.map(_._2), s"$ctx var")
        close(g.get(g.fieldIndex(s"s_$c")), want.map(m => math.sqrt(m._2)), s"$ctx std")
      }
    }
  }

  test("shift/diff/rollingArray == naive shifted and windowed values on random layouts") {
    for ((l, seed) <- layouts) {
      val in = frame(l.n, seed).withColumn("s", when(col("iv").isNull, lit(null))
        .otherwise(concat(lit("s"), col("iv").cast("string"))))
      val cols = Seq("d", "dn", "s")
      val rows = in.collect().sortBy(_.getLong(0))
      val xs = cols.map(c => c -> rows.map(r => r.get(r.fieldIndex(c))).toIndexedSeq).toMap
      def at(c: String, j: Int, fill: Any): Any = if (j < 0 || j >= l.n) fill else xs(c)(j)
      def fillOf(c: String): Any = if (c == "s") "f" else -1.5
      def cell(r: Row, c: String): Any = bits(r.get(r.fieldIndex(c)))
      val bs = l.blockSize.toLong
      // |periods| up to the block size: the carry is then a whole block
      for (p <- Seq(l.window, -l.window, l.blockSize, -l.blockSize)) {
        val ctx = s"$l seed=$seed p=$p"
        val shifted = byIndex(cols.foldLeft(in) { (df, c) =>
          OrderedOps.shift(OrderedOps.shift(df, c, p, as = Some(s"p_$c"), blockSize = bs),
            c, p, as = Some(s"f_$c"), blockSize = bs, fill = Some(fillOf(c)))
        })
        assert(shifted.size === l.n, ctx)
        for (c <- cols; i <- 0 until l.n) {
          val r = shifted(i.toLong)
          assert(cell(r, s"p_$c") === bits(at(c, i - p, null)), s"$ctx $c row $i")
          assert(cell(r, s"f_$c") === bits(at(c, i - p, fillOf(c))), s"$ctx $c fill row $i")
        }
        val trimmedDf = OrderedOps.shift(in, "dn", p, as = Some("t"), blockSize = bs, trim = true)
        assert(trimmedDf.columns.toSeq === in.columns.toSeq :+ "t", ctx)
        val trimmed = byIndex(trimmedDf)
        val kept = (0 until l.n).filter(i => i - p >= 0 && i - p < l.n)
        assert(trimmed.keySet === kept.map(_.toLong).toSet, s"$ctx trim")
        kept.foreach(i => assert(cell(trimmed(i.toLong), "t") === bits(at("dn", i - p, null)),
          s"$ctx trim row $i"))
        val diffed = byIndex(OrderedOps.diff(OrderedOps.diff(in, "d", p, blockSize = bs),
          "dn", p, blockSize = bs))
        for (c <- Seq("d", "dn"); i <- 0 until l.n) {
          val want = (at(c, i, null), at(c, i - p, null)) match {
            case (a: Double, b: Double) => a - b
            case _ => null
          }
          assert(cell(diffed(i.toLong), c) === bits(want), s"$ctx diff $c row $i")
        }
      }
      for (edge <- Seq("right", "left")) {
        val ctx = s"$l seed=$seed edge=$edge"
        val fills = Map("d" -> None, "dn" -> Some(-1.5), "s" -> Some("f"))
        val arrays = byIndex(cols.foldLeft(in) { (df, c) =>
          OrderedOps.rollingArray(df, c, l.window, s"a_$c", blockSize = bs,
            fillValue = fills(c), edge = edge)
        })
        assert(arrays.size === l.n, ctx)
        for (c <- cols; i <- 0 until l.n) {
          val r = arrays(i.toLong)
          val span = if (edge == "right") (i - l.window + 1) to i else i until i + l.window
          assert(r.getSeq[Any](r.fieldIndex(s"a_$c")).map(bits) ===
            span.map(j => bits(at(c, j, fills(c).orNull))), s"$ctx $c row $i")
        }
      }
    }
  }
}

object RollingPropertySpec {
  final case class Layout(n: Int, window: Int, blockSize: Int)
}
