package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the oracle-gated query battery.
  *
  * Floating-point determinism strategy: Spark sums partitions in
  * arbitrary order, DuckDB sums sequentially — double addition is not
  * associative, so raw double sums hash-mismatch. Every floating
  * aggregate therefore accumulates in DECIMAL(38,10) (exact, order-
  * independent; the per-row double->decimal cast is identical in both
  * engines), and only the final scalar is cast back to double and
  * rounded. Derived statistics (mean/var/std/skew/kurtosis/covar/corr)
  * are computed from exact moment sums — the same decomposition the
  * reference uses (reference: packages/vaex-core/vaex/agg.py:386-520,
  * mean/var/skew from sum/count moments).
  */
object Q {
  val DEC = "decimal(38,10)"

  /** Table loader. The `events` table stores ts as parquet
    * TIMESTAMP(NANOS) which Spark reads only as long (with
    * spark.sql.legacy.parquet.nanosAsLong=true); normalize to
    * microsecond TIMESTAMP_NTZ — the same ns->us truncation DuckDB
    * applies. DIV keeps the arithmetic integral (ns epoch > 2^53
    * overflows double). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // The testdata files are single-row-group parquet, so Spark plans ONE
    // input split regardless of maxPartitionBytes (a row group is the
    // parquet split atom). For the per-row-HEAVY tables (documents:
    // shingling/hashing; embeddings: vector math) that serializes the
    // expensive narrow stage — repartition them when the scan
    // under-parallelizes. Fact tables stay as-is HERE: an r18
    // interleaved A/B (5 reps, same JVM) measured the blanket fact
    // repartition losing on every cheap lane (q_topk 0.30x,
    // q_binby_2d 0.30x, q_groupby_multi 0.47x, q_shift_diff 0.57x — the
    // round-robin exchange costs more than the serial partial agg it
    // parallelizes) and winning only on the decimal-moment lanes
    // (q_agg_skew_kurt 1.95x, q1_agg 1.47x). Those opt in per-lane via
    // [[th]]. At production scale scans have >= parallelism splits and
    // neither path triggers.
    val heavy = Set("documents", "embeddings")
    val target = spark.sparkContext.defaultParallelism
    val df = if (heavy(name) && raw.rdd.getNumPartitions < math.min(target, 8))
      raw.repartition(target) else raw
    df.schema.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts",
        timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case None => df
    }
  }

  /** [[t]] plus a round-robin repartition when the scan under-
    * parallelizes — the guide §2.5 "one huge unsplittable file" remedy,
    * for lanes whose per-row aggregation work dwarfs one narrow
    * exchange of the pruned columns (the DECIMAL(38,10) moment sums:
    * each row pays several Double.toString -> BigDecimal -> setScale ->
    * add chains, so the serial single-split scan task is the bottleneck,
    * measured 1.5-2x on q1_agg/q_agg_skew_kurt and ~3x on the 4-moment
    * lanes; cheap lanes LOSE under this — see the A/B note in [[t]]).
    * Column pruning and filter pushdown both cross the exchange
    * (verified in plans/r18), so the shuffle carries only needed
    * columns of surviving rows. No-op at production scale (guarded on
    * actual scan partitioning, not a core-count constant). */
  def th(spark: SparkSession, dir: String, name: String): DataFrame = {
    val base = t(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (base.rdd.getNumPartitions < math.min(target, 8))
      base.repartition(target) else base
  }

  /** Epoch microseconds for either timestamp flavor (unix_micros only
    * accepts TIMESTAMP; NTZ casts losslessly under the UTC session). */
  def epochUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** 1-row COUNT(*) of a table read RAW (no [[t]] repartition/ts
    * normalization — both are row-count-preserving, so the count is
    * identical) for lanes that only need the cardinality: the plain
    * scan answers from parquet metadata instead of re-running the
    * heavy-table repartition. Shares [[t]]'s path convention. */
  def rawCount(spark: SparkSession, dir: String, name: String,
               as: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet").agg(count(lit(1)).as(as))

  /** MEMORY_AND_DISK persist for a multi-consumer intermediate inside
    * a lane (the tfidf discipline). */
  def p(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact decimal sum of a double expression. */
  def dsum(c: Column): Column = sum(c.cast(DEC))
  /** Exact decimal sum -> double. */
  def dsumD(c: Column): Column = dsum(c).cast("double")
  /** Final presentation rounding (applied identically in the SQL oracle). */
  def r(c: Column, s: Int = 4): Column = round(c, s)

  /** Exact mean as double: sum(decimal)/count, rounded. */
  def dmean(c: Column, s: Int = 6): Column =
    r(dsumD(c) / count(c), s)

  // SQL-side equivalents (string builders keep Spark & DuckDB in sync)
  def sqlDsum(e: String): String = s"CAST(SUM(CAST(($e) AS DECIMAL(38,10))) AS DOUBLE)"
  def sqlR(e: String, s: Int = 4): String = s"ROUND($e, $s)"

  /** Carter-Wegman member j over a SQL expression — ONE rendering of
    * the universal-hash formula every CMS-style oracle must keep
    * bit-identical to TextFunctions.universalHash (Column) and
    * TextKernels JVM math. */
  def sqlUh(j: Int, e: String): String = {
    import graft.functions.TextFunctions.{uhashA, uhashB, UHASH_P}
    s"((${uhashA(j)} * $e + ${uhashB(j)}) % $UHASH_P)"
  }
  def sqlDmean(e: String, s: Int = 6): String =
    sqlR(s"${sqlDsum(e)} / COUNT($e)", s)
}
