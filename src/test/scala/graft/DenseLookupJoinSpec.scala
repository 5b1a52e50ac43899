package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.DenseLookupJoin

/** Dense-lookup join vs Spark's own hash equi-join: row-identical
  * results across the type matrix, null/out-of-domain key handling,
  * left-join padding, and fail-fast validation of every build
  * precondition. */
class DenseLookupJoinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dim = Seq(
    (0L, "a", 1.5, 10, true),
    (1L, "b", -2.25, 20, false),
    (3L, null.asInstanceOf[String], 4.0, 30, true),
    (5L, "e", Double.NaN, 40, false)
  ).toDF("k", "s", "d", "i", "b")

  private lazy val fact = Seq(Some(0L), Some(1L), Some(1L), Some(2L), Some(3L),
      Some(5L), Some(7L), None)
    .toDF("fk").withColumn("row_id", monotonically_increasing_id())

  private def hashJoin(joinType: String) =
    fact.join(dim, fact("fk") === dim("k"), joinType).drop("k")

  private def denseJoin(joinType: String) =
    DenseLookupJoin.lookupJoin(fact, dim, col("fk"), "k", 8, joinType)

  // string images so NaN compares equal to NaN
  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("fk", "row_id", "s", "d", "i", "b").collect().toSeq
      .map(r => (0 until r.length).map(r.get).mkString("|"))
      .sorted

  test("inner join matches the hash equi-join row-for-row") {
    val before = DenseLookupJoin.invocations.get()
    assert(sortedRows(denseJoin("inner")) == sortedRows(hashJoin("inner")))
    assert(DenseLookupJoin.invocations.get() == before + 1)
  }

  test("left join pads unmatched and null fact keys with nulls") {
    assert(sortedRows(denseJoin("left")) == sortedRows(hashJoin("left")))
    // unmatched keys 2 and 7 plus the null key pad ALL dim cols null
    // (fk=3 matches — its s is null but d/i/b are real values)
    val padded = denseJoin("left").where(col("s").isNull && col("d").isNull &&
      col("i").isNull && col("b").isNull)
    assert(padded.count() == 3)
  }

  test("stored null dim values stay null without hiding the match") {
    // k=3 stores a null string but real numerics: the row matches
    val r = denseJoin("inner").where(col("fk") === 3).head()
    assert(r.isNullAt(r.fieldIndex("s")) && r.getDouble(r.fieldIndex("d")) == 4.0)
  }

  test("NaN dim values round-trip") {
    val r = denseJoin("inner").where(col("fk") === 5).head()
    assert(r.getDouble(r.fieldIndex("d")).isNaN)
  }

  test("date and timestamp dim columns round-trip exactly") {
    val d2 = spark.sql("""SELECT * FROM VALUES
      (0L, DATE'2024-02-29', TIMESTAMP_NTZ'2024-02-29 12:34:56.789'),
      (2L, DATE'1969-12-31', TIMESTAMP_NTZ'1969-12-31 23:59:59.999999')
      AS t(k, dt, ts)""")
    val f2 = Seq(0L, 2L, 3L).toDF("fk")
    val dense = DenseLookupJoin.lookupJoin(f2, d2, col("fk"), "k", 4)
    val hash = f2.join(d2, f2("fk") === d2("k")).drop("k")
    assert(dense.collect().toSeq.sortBy(_.getLong(0)) ==
      hash.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("interpreted eval matches the codegen'd path") {
    // the same plan with codegen off must produce identical rows —
    // covers DenseLookupValue.eval / DenseLookupContains.nullSafeEval
    val factory = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.get(factory)
    try {
      spark.conf.set(factory, "NO_CODEGEN")
      assert(sortedRows(denseJoin("inner")) == sortedRows(hashJoin("inner")))
    } finally spark.conf.set(factory, prev)
  }

  test("build rejects duplicate keys, null keys, and out-of-domain keys") {
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    val ex1 = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(fact, dup, col("fk"), "k", 8) }
    assert(ex1.getMessage.contains("duplicate"))
    val nul = Seq((Some(1L), "x"), (None, "y"))
      .toDF("k", "v")
    val ex2 = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(fact, nul, col("fk"), "k", 8) }
    assert(ex2.getMessage.contains("null"))
    val oob = Seq((1L, "x"), (99L, "y")).toDF("k", "v")
    val ex3 = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(fact, oob, col("fk"), "k", 8) }
    assert(ex3.getMessage.contains("outside"))
  }

  test("build rejects unsupported value types and non-integral keys") {
    val arr = Seq((1L, Seq(1.0, 2.0))).toDF("k", "v")
    val ex1 = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(fact, arr, col("fk"), "k", 8) }
    assert(ex1.getMessage.contains("unsupported"))
    val skey = Seq(("1", 2.0)).toDF("k", "v")
    val ex2 = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(fact, skey, col("fk"), "k", 8) }
    assert(ex2.getMessage.contains("integral"))
    val ex3 = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(fact.withColumn("fs", col("fk").cast("string")),
        dim, col("fs"), "k", 8) }
    assert(ex3.getMessage.contains("integral"))
  }

  test("VxFrame.join auto-routes through the dense path on a categorize'd key") {
    val vd = VxFrame(dim).categorize("k", (0 until 8).map(_.toString))
    val before = DenseLookupJoin.invocations.get()
    // the facade API joins on a shared column name — rename fact's key,
    // and put it LAST so the schema-order assertion below is not
    // trivially satisfied by a key already in front
    val vf2 = VxFrame(fact.withColumnRenamed("fk", "k").select("row_id", "k"))
    val routed = vf2.join(vd, Seq("k"), how = "inner")
    assert(DenseLookupJoin.invocations.get() > before)
    val hash = vf2.join(VxFrame(dim), Seq("k"), how = "inner")
    // which path served the call must be invisible: same column ORDER
    // (the USING-join shape, key hoisted first) and same rows
    assert(routed.df.columns.toSeq == hash.df.columns.toSeq)
    assert(routed.df.collect().map(_.toString).sorted.toSeq ==
      hash.df.collect().map(_.toString).sorted.toSeq)
  }

  test("categorizeOrdinal declares a domain without materializing labels") {
    val vd = VxFrame(dim).categorizeOrdinal("k", 8)
    assert(vd.categoryLabels("k").length == 8)
    assert(vd.categoryLabels("k")(5) == "5")
    val vf2 = VxFrame(fact.withColumnRenamed("fk", "k"))
    val before = DenseLookupJoin.invocations.get()
    vf2.join(vd, Seq("k"), how = "inner").df.collect()
    assert(DenseLookupJoin.invocations.get() > before)
  }

  test("column collision fails fast, case-insensitively under default analysis") {
    // default spark.sql.caseSensitive=false: "S" vs "s" is just as
    // ambiguous downstream as an exact-name collision
    val dimUpper = dim.withColumnRenamed("s", "S")
      .withColumnRenamed("d", "d2").withColumnRenamed("i", "i2")
      .withColumnRenamed("b", "b2")
    val factWithS = fact.withColumn("s", lit("x"))
    val e = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(factWithS, dimUpper, col("fk"), "k", 8)
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("size gate rejects a dim whose tables exceed the byte budget") {
    val ex = intercept[IllegalArgumentException] {
      DenseLookupJoin.lookupJoin(fact, dim, col("fk"), "k", 8,
        maxTableBytes = 16L)
    }
    assert(ex.getMessage.contains("budget"))
  }

  test("VxFrame.join falls back to the hash join when the dense build fails") {
    import spark.implicits._
    // duplicate right keys: dense build rejects, hash join fans out
    val dup = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    val vd = VxFrame(dup).categorize("k", Seq("0", "1", "2"))
    val vf = VxFrame(Seq(1L, 2L).toDF("k"))
    val out = vf.join(vd, Seq("k"), how = "inner").df
    assert(out.count() == 3) // fan-out proves the hash path ran
  }

  test("randomized equivalence: dense join == hash join over 20 generated cases") {
    import spark.implicits._
    val rnd = new scala.util.Random(2024)
    for (case_ <- 1 to 20) {
      val domain = 1 + rnd.nextInt(40)
      // dim: random subset of [0, domain) with random nullable values
      val dimKeys = rnd.shuffle((0L until domain.toLong).toList)
        .take(1 + rnd.nextInt(domain))
      val dimRows = dimKeys.map { k =>
        (k,
          if (rnd.nextInt(5) == 0) None else Some(s"v${rnd.nextInt(100)}"),
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(1000) / 8.0))
      }
      val d = dimRows.toDF("k", "s", "x")
      // fact: random keys incl. out-of-domain, negatives and nulls
      val factKeys = Seq.fill(30 + rnd.nextInt(50)) {
        rnd.nextInt(4) match {
          case 0 => None
          case 1 => Some((domain + rnd.nextInt(10)).toLong)
          case 2 => Some(-1L - rnd.nextInt(3))
          case _ => Some(rnd.nextInt(domain).toLong)
        }
      }
      val f = factKeys.toDF("fk").withColumn("rid", monotonically_increasing_id())
      for (how <- Seq("inner", "left")) {
        val dense = DenseLookupJoin.lookupJoin(f, d, col("fk"), "k", domain, how)
          .select("fk", "rid", "s", "x").collect()
          .map(_.toString).sorted.toSeq
        val hash = f.join(d, f("fk") === d("k"), how)
          .select("fk", "rid", "s", "x").collect()
          .map(_.toString).sorted.toSeq
        assert(dense == hash, s"case $case_ how=$how domain=$domain")
      }
    }
  }

  test("probe plan is shuffle-free (pure projection over the fact scan)") {
    val plan = denseJoin("inner").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join operator in:\n$plan")
  }

  test("fixed-width dim build runs exactly ONE Spark job (r13 gate regression pin)") {
    // the r11 eligibility gate charged a second distributed job per
    // call for checks the build loop already performs — it halved the
    // bench's join_dense lane (BENCH_AB_r13.md). A dim with no string
    // columns must pay only the bounded collect; the count here fails
    // if anyone reintroduces a pre-collect pass on this path.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // the listener bus delivers asynchronously (and is private[spark]):
    // wait until it has delivered every event posted so far
    def drained(): Int = {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      jobs.get()
    }
    val fixedDim = dim.select(col("k"), col("d"), col("i"), col("b"))
    spark.sparkContext.addSparkListener(listener)
    try {
      drained()
      jobs.set(0)
      DenseLookupJoin.lookupJoin(fact, fixedDim, col("fk"), "k", 8)
      val fixedJobs = drained()
      assert(fixedJobs === 1, s"expected 1 job for the fixed-width dim build, saw $fixedJobs")
      // the string-dim path still pays its gate pass (byte measurement
      // must precede the collect) — strictly more jobs than the fixed
      // path (the exact count varies with AQE stage materialization)
      jobs.set(0)
      DenseLookupJoin.lookupJoin(fact, dim, col("fk"), "k", 8)
      val stringJobs = drained()
      assert(stringJobs > fixedJobs,
        s"expected the string-dim gate to cost extra jobs, saw $stringJobs vs $fixedJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
