package graft

import org.apache.spark.sql.SparkSession

/** Interleaved same-JVM A/B of a system-property toggle (the
  * [[Toggles]] registry) or a Spark SQL conf: each rep times every
  * named query with the property "1" then "0" back-to-back, so a host
  * throttle window hits both sides of the comparison equally — the only honest protocol on this machine
  * (BENCH_AB_r* precedent; quiet-band mem_bw 42-57 GB/s has been seen
  * to collapse to 3.5 mid-session).
  *
  * Usage: SPARK_GRAFT_CPUS=32 tools/run.sh graft.AbProbe <prop> <sfDir> <reps> q1 ...
  *
  * `prop` is a JVM system property toggled "1"/"0" — or, in the form
  * `spark.conf.key=onValue:offValue`, a Spark SQL conf toggled between
  * the two given values per variant.
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    val prop = args(0)
    val sparkConf: Option[(String, String, String)] =
      if (prop.contains("=")) {
        val Array(k, vals) = prop.split("=", 2)
        val Array(on, off) = vals.split(":", 2)
        Some((k, on, off))
      } else None
    val sfDir = args(1)
    val reps = args(2).toInt
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lanes = names.map(n => n -> SparkEntry.queries(n))
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def setVariant(v: String): Unit = sparkConf match {
      case Some((k, on, off)) => spark.conf.set(k, if (v == "1") on else off)
      case None => System.setProperty(prop, v)
    }
    for ((n, fn) <- lanes; v <- Seq("1", "0")) { // warmup both variants
      setVariant(v)
      try once(fn) catch { case e: Throwable =>
        System.err.println(s"[ab] $n $prop=$v warmup: ${e.getMessage}") }
    }
    val acc = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    for (_ <- 1 to reps; (n, fn) <- lanes; v <- Seq("1", "0")) {
      setVariant(v)
      acc((n, v)) = once(fn) :: acc((n, v))
    }
    if (sparkConf.isEmpty) System.clearProperty(prop)
    for ((n, _) <- lanes) {
      val on = acc((n, "1")); val off = acc((n, "0"))
      println(f"$n%-26s on=${on.min}%.3f off=${off.min}%.3f speedup=${off.min / on.min}%.2f  " +
        f"on_all=${on.reverse.map(t => f"$t%.2f").mkString(",")} off_all=${off.reverse.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
