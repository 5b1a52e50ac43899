package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Isolated A/B probe for the clean-corpus decontamination pair —
  * hash-lane (explode every gram into the semi-join) vs bloom-lane
  * (broadcast bloom empties clean docs' candidate arrays before the
  * explode). Interleaved pairs in one JVM, min over N pairs — the
  * only measurement protocol that survives this host's throttle
  * windows (round-4 lesson; sequential batteries invert conclusions).
  *
  * Runs the pair at 1x (sf0.1, 5k docs — fixed bloom build cost
  * dominates, hash expected to win) and 10x (50k docs — the gram
  * shuffle dominates, bloom expected to win): the crossover is the
  * design's evidence, recorded in BENCH_AB_r09.md.
  *
  * Usage: SPARK_GRAFT_CPUS=8 tools/run.sh graft.DecontamProbe [pairs]
  */
object DecontamProbe {
  private def time(run: () => Unit): Double = {
    val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
  }

  /** Accumulates shuffle-write bytes across completed stages — the
    * cluster-scale quantity wall-clock can't show on one box (local
    * shuffle is CPU-cheap; network shuffle is not). */
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

    val hash = SparkEntry.queries("q_decontaminate_hash_clean")
    val bloom = SparkEntry.queries("q_decontaminate_bloom_clean")
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
    // one measurement protocol for every section: warmup + shuffle
    // bytes per lane (the second warmup run is the measured one), then
    // `pairs` interleaved timed pairs, min per lane
    def measurePair(tag: String, h: () => Unit, b: () => Unit): String = {
      val hBytes = shuffleBytesOf(h) // doubles as warmup (JIT/codegen)
      val bBytes = shuffleBytesOf(b)
      val hs = new Array[Double](pairs); val bs = new Array[Double](pairs)
      var i = 0
      while (i < pairs) { hs(i) = time(h); bs(i) = time(b); i += 1 }
      val fmt = (xs: Array[Double]) => xs.map(x => f"$x%.3f").mkString(",")
      s""""$tag":{"hash_best":${f"${hs.min}%.3f"},"bloom_best":${f"${bs.min}%.3f"},"hash_shuffle_bytes":$hBytes,"bloom_shuffle_bytes":$bBytes,"hash_reps":[${fmt(hs)}],"bloom_reps":[${fmt(bs)}]}"""
    }
    val out = Seq("1x" -> sfDir, "10x" -> scaleDir).map { case (tag, dir) =>
      measurePair(tag, lane(hash, dir), lane(bloom, dir))
    }.mkString(",")

    // ---- giant-dictionary regime: broadcast disabled, the exact
    // verification must SHUFFLE-join — the hash lane shuffles every
    // gram of every doc, the bloom lane only its (clean-corpus ~zero)
    // survivors. This is the configuration the bloom prefilter exists
    // for; the sections above show that with a broadcastable
    // dictionary the optimizer already collapses both lanes to the
    // same (near-zero-shuffle) plan.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import graft.queries.{PipelineQueries => PQ}
    import graft.functions.TextFunctions._
    val bigOut = {
      val docs = () => PQ.cleanCorpus(spark, scaleDir)
      val grams = org.apache.spark.sql.functions.transform(
        shingles(org.apache.spark.sql.functions.col("text"), 5),
        g => portableHash(g, Xx64Hash))
      measurePair("bigdict_10x",
        () => PQ.decontaminate(docs(), grams, evalMod = 100)
          .write.format("noop").mode("overwrite").save(),
        () => PQ.decontaminate(docs(), grams, bloomPrefilter = true,
          evalMod = 100, broadcastDict = false)
          .write.format("noop").mode("overwrite").save())
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    println(s"""{"probe":"decontam_clean_ab","cpus":$cpus,"pairs":$pairs,$out,$bigOut}""")
    spark.stop()
  }
}
