package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Every lane also gets `<outDir>/<lane>/_status.json` —
  * `{"ok", "exception_class", "message", "ms"}` — so a failed lane is
  * named with its cause in the dump itself. The leading underscore
  * keeps parquet readers (Spark, pyarrow, DuckDB globs) from taking it
  * for a data file, like Spark's own `_SUCCESS` marker. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional tail
    // restricts the dump to named queries (local iteration; the
    // driver always passes exactly two args = full battery)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // SQL surface (kernel functions + lakehouse table-valued
      // functions) — q_delta_sql resolves delta_table() through this
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val failure =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"); None }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(e)
        }
      val ms = (System.nanoTime() - t0) / 1000000L
      def str(v: Option[String]): String = v.map(q).getOrElse("null")
      val status = s"""{"ok": ${failure.isEmpty}, """ +
        s""""exception_class": ${str(failure.map(_.getClass.getName))}, """ +
        s""""message": ${str(failure.flatMap(e => Option(e.getMessage)))}, "ms": $ms}"""
      Files.createDirectories(Paths.get(s"$outDir/$name"))
      Files.writeString(Paths.get(s"$outDir/$name/_status.json"), status)
    }
    // data-dependent oracles (q_ivf_kmeans trained centroids) are
    // resolved against THIS sfDir before dumping
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        k -> graft.queries.ScaleOpsQueries.kmeansOracleResolve(v, spark, sfDir) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal. Escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
