package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Isolated A/B probe for the incremental-dedup pair — exact
  * hash-dictionary join vs the bloom-prefiltered lane
  * (q_incremental_dedup / q_incremental_dedup_bloom, one oracle).
  * Interleaved pairs in one JVM, min over N pairs (the r4 protocol),
  * at 1x (sf0.1, 5k docs) and 10x (50k). Wall clock runs under the
  * default config; shuffle bytes are measured with broadcast DISABLED
  * — the giant-dictionary regime where the exact join must shuffle
  * both sides, which is the cluster-scale quantity a local box's
  * wall clock can't show.
  *
  * Usage: SPARK_GRAFT_CPUS=8 tools/run.sh graft.IncDedupProbe [pairs]
  */
object IncDedupProbe {
  private def time(run: () => Unit): Double = {
    val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
  }

  private final class ShuffleBytesListener
      extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  def main(args: Array[String]): Unit = {
    val pairs = if (args.nonEmpty) args(0).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val scaleDir = s"${System.getProperty("java.io.tmpdir")}/graft_scale10"
    Bench.writeScaled(spark, sfDir, scaleDir)

    val exact = SparkEntry.queries("q_incremental_dedup")
    val bloom = SparkEntry.queries("q_incremental_dedup_bloom")
    def lane(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             dir: String): () => Unit =
      () => fn(spark, dir).write.format("noop").mode("overwrite").save()

    val listener = new ShuffleBytesListener
    spark.sparkContext.addSparkListener(listener)
    def drained(): Long = { Bridge.drainListenerBus(spark.sparkContext); listener.bytes.get() }
    def shuffleBytesOf(run: () => Unit): Long = {
      run()
      val before = drained()
      run()
      drained() - before
    }

    val out = Seq("1x" -> sfDir, "10x" -> scaleDir).map { case (tag, dir) =>
      val e = lane(exact, dir); val b = lane(bloom, dir)
      // shuffle bytes in the no-broadcast (giant dictionary) regime;
      // doubles as warmup for the timed pairs
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val eBytes = shuffleBytesOf(e)
      val bBytes = shuffleBytesOf(b)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      val es = new Array[Double](pairs); val bs = new Array[Double](pairs)
      var i = 0
      while (i < pairs) { es(i) = time(e); bs(i) = time(b); i += 1 }
      val fmt = (xs: Array[Double]) => xs.map(x => f"$x%.3f").mkString(",")
      s""""$tag":{"exact_best":${f"${es.min}%.3f"},"bloom_best":${f"${bs.min}%.3f"},"exact_shuffle_bytes_nobc":$eBytes,"bloom_shuffle_bytes_nobc":$bBytes,"exact_reps":[${fmt(es)}],"bloom_reps":[${fmt(bs)}]}"""
    }.mkString(",")
    println(s"""{"probe":"incdedup_ab","cpus":$cpus,"pairs":$pairs,$out}""")
    spark.stop()
  }
}
