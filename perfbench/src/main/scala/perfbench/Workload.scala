package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

import graft.VxFrame
import graft.operators.{LshDedup, OrderedOps, SimilaritySearch}
import graft.sources.Readers

/** One call kind of a workload's script. `run` gets the pass's
  * parameters and a pass tag (unique per pass, for output paths) and
  * returns the call's output, reduced to what the checks need.
  * `inAggregates = false` keeps a call out of the end-to-end
  * aggregates (its time is still recorded). */
final case class Op(kind: String, inAggregates: Boolean = true)(
    val run: (JValue, String) => JValue)

trait Workload {
  def ops: Seq[Op]
  /** Workload-level facts the checks need (oracle SQL). */
  def facts: JValue = JNothing
}

object Workload {
  implicit val formats: Formats = DefaultFormats

  def apply(name: String, spark: SparkSession, inputs: String, work: String,
            sizes: JValue): Workload =
    name match {
      case "explore" =>
        new Explore(spark, inputs, work, i(sizes, "codes"), i(sizes, "dim_keys"))
      case "timeseries" => new Timeseries(spark, inputs)
      case "curate" => new Curate(spark, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  def d(p: JValue, k: String): Double = (p \ k).extract[Double]
  def i(p: JValue, k: String): Int = (p \ k).extract[Int]

  /** Null-safe double of a row field (null -> NaN). */
  def dbl(r: Row, idx: Int): Double =
    if (r.isNullAt(idx)) Double.NaN else r.getAs[Number](idx).doubleValue()

  /** Order-sensitive checksum of one numeric column over a frame with
    * a dense index: count of non-nulls, sum, and index-weighted sum
    * (the weight catches values landing on the wrong row). */
  def checksum(value: String, index: String): Seq[Column] = {
    val v = col(value).cast("double")
    Seq(count(v), sum(v), sum(v * (col(index) % 1009).cast("double")))
  }

  def rowJson(r: Row): JArray =
    JArray((0 until r.length).map(k => JDouble(dbl(r, k)): JValue).toList)
}

import Workload._

/** Analyst calls over one wide numeric table: facade statistics under
  * named selections, a 2-D grid, dense and hash groupbys, a dense
  * lookup join, an exact percentile, a Parquet export read back, and
  * an Arrow export of the int8 code column. */
final class Explore(spark: SparkSession, inputs: String, work: String, nCodes: Int,
    dimKeys: Int) extends Workload {
  private val fact = Readers.open(spark, s"$inputs/fact.parquet")
  private val dim = Readers.open(spark, s"$inputs/dim.parquet")
  private val vx = VxFrame(fact).categorizeOrdinal("code", nCodes)
  private val dimVx = VxFrame(dim).categorizeOrdinal("key", dimKeys)

  val ops: Seq[Op] = Seq(
    Op("stats") { (p, _) =>
      val s = vx.select(s"x > ${d(p, "sel_x")}", name = "a")
        .select(s"(y < ${d(p, "sel_y")}) & (code < ${i(p, "sel_code")})", name = "b")
      val q = s.delayed()
      val r = Seq(q.count(Some("a")), q.mean("z", Some("a")), q.std("z", Some("a")),
        q.count(Some("b")), q.sum("w", Some("b")), q.max("x", Some("b")))
      q.execute()
      JArray(r.map(f => JDouble(f()): JValue).toList)
    },
    Op("binby") { (p, _) =>
      val g = vx.binby(Seq(
        ("x", d(p, "bx_min"), d(p, "bx_max"), i(p, "bx_n")),
        ("y", d(p, "by_min"), d(p, "by_max"), i(p, "by_n"))), count(lit(1)))
      JArray(g.map(v => JDouble(v): JValue).toList)
    },
    Op("groupby_cat") { (p, _) =>
      val rows = vx.filter(s"w < ${d(p, "cat_w")}")
        .groupby(Seq("code"), Map("z" -> "sum", "x" -> "mean", "y" -> "max", "w" -> "count"))
        .df.select("code", "z_sum", "x_mean", "y_max", "w_count").collect()
      JArray(rows.sortBy(_.getAs[Number](0).intValue()).map(rowJson).toList)
    },
    Op("groupby_hash") { (p, _) =>
      val rows = vx.filter(s"x > ${d(p, "hash_x")}")
        .groupby(Seq("hkey"), Map("z" -> "sum", "w" -> "count"))
        .df.select("hkey", "z_sum", "w_count").collect()
      var (s, ws, c, wc) = (0.0, 0.0, 0.0, 0.0)
      rows.foreach { r =>
        val k = (r.getLong(0) % 1009).toDouble
        s += r.getDouble(1); ws += k * r.getDouble(1)
        c += r.getLong(2); wc += k * r.getLong(2)
      }
      JArray(List(JDouble(rows.length), JDouble(s), JDouble(ws), JDouble(c), JDouble(wc)))
    },
    Op("join") { (p, _) =>
      val j = vx.filter(s"w > ${d(p, "join_w")}").join(dimVx, Seq("key"), "left")
      rowJson(j.aggregate("n" -> count(lit(1)), "nn" -> count(col("dval")),
        "s" -> sum(col("dval")), "sz" -> sum(col("dval") * col("z"))))
    },
    Op("percentile") { (p, _) =>
      JDouble(vx.filter(s"code < ${i(p, "pct_code")}")
        .percentile("y", d(p, "pct_q"), exact = true, scaleSafe = true))
    },
    Op("export") { (p, tag) =>
      val path = s"$work/export_$tag.parquet"
      VxFrame(fact.select("x", "z", "code")).filter(s"x > ${d(p, "exp_x")}").export(path)
      rowJson(Readers.open(spark, path)
        .agg(count(lit(1)), sum(col("z")), sum(col("code").cast("long"))).head())
    },
    // the .arrow writer rejects ByteType today; the call stays in the
    // script (and out of the aggregates) so mending it shows as one
    // fewer failed call per pass
    Op("export_arrow", inAggregates = false) { (_, tag) =>
      val path = s"$work/codes_$tag.arrow"
      VxFrame(fact.select("code", "x")).export(path)
      JString(path)
    })
}

/** Ordered calls over one series with a dense row_index: shift, diff,
  * rolling mean+std, rolling median and quantile, and an as-of join. */
final class Timeseries(spark: SparkSession, inputs: String) extends Workload {
  private val series = Readers.open(spark, s"$inputs/series.parquet")
  private val quotes = Readers.open(spark, s"$inputs/quotes.parquet")
  private val vs = VxFrame(series)
  private val vq = VxFrame(quotes)

  private def sums(df: DataFrame, cols: Seq[String]): JValue = {
    val cs = cols.flatMap(c => checksum(c, "row_index"))
    rowJson(df.agg(cs.head, cs.tail: _*).head())
  }

  val ops: Seq[Op] = Seq(
    Op("shift") { (p, _) => sums(vs.shift("v", i(p, "shift")).df, Seq("v")) },
    Op("diff") { (p, _) => sums(vs.diff("v", i(p, "diff")).df, Seq("v")) },
    Op("rolling_mean_std") { (p, _) =>
      val w = i(p, "win")
      sums(vs.rollingMean("v", w, "rm").rollingStd("v", w, "rs").df, Seq("rm", "rs"))
    },
    Op("rolling_median") { (p, _) =>
      sums(vs.rollingMedian("v", i(p, "win_med"), "rmed").df, Seq("rmed"))
    },
    Op("rolling_quantile") { (p, _) =>
      sums(OrderedOps.rollingQuantile(series, "v", i(p, "win_q"), d(p, "q"), "rq"), Seq("rq"))
    },
    Op("asof") { (p, _) =>
      val j = vs.filter(s"v > ${d(p, "asof_v")}")
        .joinAsof(vq, Seq("sym"), "ts", "qts", Seq("price")).df
      sums(j, Seq("asof_price"))
    })
}

/** Curation calls over a generated corpus and embedding set: semantic
  * dedup, MinHash-LSH dedup to a keep-list, tf-idf cosine,
  * decontamination and the hashed quality score. */
final class Curate(spark: SparkSession, inputs: String) extends Workload {
  private val docs = Readers.open(spark, s"$inputs/documents.parquet")
  private val emb = Readers.open(spark, s"$inputs/embeddings.parquet")
  private val lanes = Seq("q_tfidf_cosine", "q_decontaminate_fast", "q_quality_classifier")

  override def facts: JValue =
    "oracle_sql" -> JObject(lanes.map(l => l -> JString(graft.SparkEntry.oracleSql(l))): _*)

  /** A SparkEntry lane over the corpus, collected and reduced to row
    * count, per-column sums and key-weighted sums (column 0 is the key). */
  private def lane(name: String, cols: Seq[String]): JValue = {
    val rows = graft.SparkEntry.queries(name)(spark, inputs).select(cols.map(col): _*).collect()
    val sums = new Array[Double](2 * cols.length)
    rows.foreach { r =>
      val k = (r.getAs[Number](0).longValue() % 1009).toDouble
      cols.indices.foreach { j =>
        sums(j) += dbl(r, j); sums(cols.length + j) += k * dbl(r, j)
      }
    }
    JArray((JDouble(rows.length.toDouble) +: sums.map(v => JDouble(v): JValue)).toList)
  }

  val ops: Seq[Op] = Seq(
    Op("semdedup") { (p, _) =>
      val centroids = (p \ "centroids").extract[Seq[Seq[Double]]].zipWithIndex
        .map { case (v, c) => c -> v.map(_.toFloat) }
      val rows = SimilaritySearch.semDedup(emb, "vec_id", "embedding", centroids, d(p, "tau"))
        .select(col("vec_id"), col("cell"), col("dup_of")).collect().sortBy(_.getLong(0))
      ("ids" -> rows.map(_.getLong(0)).toList) ~ ("cells" -> rows.map(_.getInt(1)).toList) ~
        ("dups" -> rows.filterNot(_.isNullAt(2)).map(r => List(r.getLong(0), r.getLong(2))).toList)
    },
    Op("lsh") { (p, _) =>
      val params = LshDedup.Params(verifyThreshold = d(p, "lsh_t"))
      val rows = LshDedup.dedup(docs, "doc_id", "text", params)
        .select(col("doc_id"), col("comp"), col("keep")).collect().sortBy(_.getLong(0))
      ("ids" -> rows.map(_.getLong(0)).toList) ~ ("comps" -> rows.map(_.getLong(1)).toList) ~
        ("keeps" -> rows.map(_.getBoolean(2)).toList)
    },
    Op("tfidf") { (_, _) => lane("q_tfidf_cosine", Seq("doc_a", "doc_b", "cos")) },
    Op("decontaminate") { (_, _) =>
      lane("q_decontaminate_fast", Seq("doc_id", "n_grams", "n_matched"))
    },
    Op("quality") { (p, _) =>
      val q = VxFrame(docs).filter(s"doc_id >= ${i(p, "q_lo")}").qualityScore("text")
      rowJson(q.aggregate("n" -> count(lit(1)), "s" -> sum(col("quality_score")),
        "l" -> sum(col("quality_score_label")),
        "ws" -> sum(col("quality_score") * (col("doc_id") % 1009).cast("double"))))
    })
}
