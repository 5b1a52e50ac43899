package graft

import org.apache.spark.sql.SparkSession

/** Targeted interleaved timing of named SparkEntry queries, for
  * iterating on individual lanes without the full [[Bench]] battery
  * (rep-major min, noop sink, one JVM — the r4 measurement protocol).
  *
  * Usage: SPARK_GRAFT_CPUS=8 tools/run.sh graft.QueryProbe <sfDir> <reps> q1 q2 ...
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryProbe <sfDir> <reps> <query>...")
    val sfDir = args(0)
    val reps = args(1).toInt
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lanes = names.map { n =>
      n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
    }
    for ((_, fn) <- lanes) // warmup
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val times = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (_ <- 1 to reps; (n, fn) <- lanes) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      times(n) = ((System.nanoTime() - t0) / 1e9) :: times(n)
    }
    for ((n, _) <- lanes)
      println(f"$n%-28s min=${times(n).min}%.3f  all=${times(n).reverse.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
