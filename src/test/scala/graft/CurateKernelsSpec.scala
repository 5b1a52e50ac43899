package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.TextKernels

/** Round-12 curation kernels: mojibake repair, Luhn validation,
  * hashed-feature weight sum. Each is pinned to golden cases, to a
  * spec-local independent reference implementation (property tests
  * over random inputs), and — for FeatureWeightSum — bit-identical to
  * the interpreted Column formulation the DuckDB oracle mirrors.
  * DataFrames are RDD-backed so every assertion drives the real
  * codegen path, not constant folding.
  */
class CurateKernelsSpec extends SparkSpec {

  private def df1(rows: Seq[(Long, String)]) = {
    val rdd = spark.sparkContext.parallelize(rows, 3)
    spark.createDataFrame(rdd).toDF("id", "s")
  }

  private def runRepair(rows: Seq[(Long, String)]): Map[Long, String] =
    df1(rows).select(col("id"), TextFunctions.mojibakeRepair(col("s")).as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap

  test("mojibakeRepair golden branches") {
    val out = runRepair(Seq(
      1L -> "cafÃ©",                 // 2-byte seq -> repaired
      2L -> "it\u00E2\u0080\u0099s ok",        // 3-byte seq -> repaired
      3L -> "café proper",                // lone 0xE9: invalid utf-8 -> untouched
      4L -> "plain ascii",                     // no high chars -> untouched
      5L -> "zero\u200Bwidth",                 // >0xFF code point -> early exit
      6L -> null,                              // null -> null
      7L -> "",                                // empty -> empty
      8L -> "naÃ¯ve mixed cafÃ©" // two seqs in one string
    ))
    assert(out(1L) === "café")
    assert(out(2L) === "it’s ok")
    assert(out(3L) === "café proper")
    assert(out(4L) === "plain ascii")
    assert(out(5L) === "zero\u200Bwidth")
    assert(out(6L) === null)
    assert(out(7L) === "")
    assert(out(8L) === "naïve mixed café")
  }

  test("mojibakeRepair round-trips mangled utf-8 and never corrupts clean text") {
    val rnd = new scala.util.Random(2026)
    val pool = "abc XYZ 09 éüŁ中​’"
    val originals = (0 until 300).map { i =>
      (0 until rnd.nextInt(30)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    }
    // mangle = read the UTF-8 bytes back through latin-1 (the mojibake
    // process itself). Repair must invert it whenever the original had
    // any non-ASCII char (mangling is the identity otherwise).
    val mangled = originals.zipWithIndex.map { case (s, i) =>
      (i.toLong, new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1))
    }
    val repaired = runRepair(mangled)
    originals.zipWithIndex.foreach { case (s, i) =>
      assert(repaired(i.toLong) === s, s"row $i")
    }
    // clean inputs pass through byte-identically: anything whose chars
    // are NOT all <= 0xFF, plus pure-ASCII, plus genuine latin-1 that
    // does not happen to parse as UTF-8
    val cleanRows = originals.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val cleanOut = runRepair(cleanRows)
    originals.zipWithIndex.foreach { case (s, i) =>
      val allLatin = s.forall(_ <= 0xFF)
      val decodesShorter = allLatin && s.exists(_ >= 0x80) && (try {
        val b = s.toCharArray.map(_.toByte)
        val d = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        d.decode(java.nio.ByteBuffer.wrap(b)).toString.length < s.length
      } catch { case _: java.nio.charset.CharacterCodingException => false })
      if (!decodesShorter) assert(cleanOut(i.toLong) === s, s"clean row $i: $s")
    }
  }

  // independent Luhn reference (textbook digit-list formulation)
  private def refLuhn(s: String): Boolean = {
    if (s.length < 2 || !s.forall(_.isDigit)) false
    else {
      val digits = s.reverse.map(_ - '0')
      val sum = digits.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val dd = d * 2; if (dd > 9) dd - 9 else dd } else d
      }.sum
      sum % 10 == 0
    }
  }

  test("luhnValid golden cases") {
    val rows = Seq(
      1L -> "79927398713",      // the canonical valid example
      2L -> "79927398714",      // off by one
      3L -> "0000000000000000", // sum 0 -> valid
      4L -> "5",                // too short
      5L -> "",                 // empty
      6L -> "4242424242424242", // well-known valid test number
      7L -> "1234a678",         // non-digit
      8L -> null
    )
    val out = df1(rows).select(col("id"),
      TextFunctions.luhnValid(col("s")).as("v")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getBoolean(1))).toMap
    assert(out(1L) === true)
    assert(out(2L) === false)
    assert(out(3L) === true)
    assert(out(4L) === false)
    assert(out(5L) === false)
    assert(out(6L) === true)
    assert(out(7L) === false)
    assert(out(8L) === null)
  }

  test("luhnValid matches the reference over random digit strings") {
    val rnd = new scala.util.Random(777)
    val rows = (0 until 500).map { i =>
      val len = 2 + rnd.nextInt(20)
      (i.toLong, (0 until len).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString)
    }
    val out = df1(rows).select(col("id"),
      TextFunctions.luhnValid(col("s")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    rows.foreach { case (i, s) => assert(out(i) === refLuhn(s), s"$i: $s") }
    // ~1 in 10 random strings is Luhn-valid — make sure both classes
    // actually occurred so the property test wasn't vacuous
    assert(out.values.exists(identity) && out.values.exists(v => !v))
  }

  test("featureWeightSum kernel is bit-identical to the Column formulation") {
    val rnd = new scala.util.Random(99)
    val words = Vector("alpha", "beta", "g", "delta42", "zz", "the", "x", "")
    val texts = (0 until 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(texts, 4))
      .toDF("id", "text")
    val toks = split(col("text"), " ")
    val feats = array_distinct(concat(toks, TextFunctions.gramStrings(toks, 2)))
    val hs = TextFunctions.hashedGrams(feats, TextFunctions.Md5Hash, 60)
    // inject element nulls + a whole-null array to pin skip semantics
    val hashes = when(col("id") === 0, lit(null))
      .otherwise(transform(hs, h => when(h % 7 === 0, lit(null)).otherwise(h)))
    val (a, b) = (TextFunctions.uhashA(7), TextFunctions.uhashB(7))
    val base = docs.select(col("id"), hashes.as("hs"))
    val kOut = base.select(col("id"),
      TextFunctions.featureWeightSum(col("hs"), 4096, a, b).as("st")).collect()
    val cOut = base.select(col("id"),
      TextFunctions.featureWeightSumCols(col("hs"), 4096, a, b).as("st")).collect()
    val k = kOut.map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getStruct(1).toSeq)).toMap
    val c = cOut.map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getStruct(1).toSeq)).toMap
    assert(k === c)
    assert(k(0L) === null)
  }

  test("VxFrame curation facade: textClean / qualityScore / dedupAgainst / shardAssign") {
    val dirty = df1(Seq(
      1L -> "cafÃ©  spaced\u0007 out \r\n",
      2L -> "plain text stays put",
      3L -> "the quick brown fox",
      4L -> "plain text stays put")).toDF("id", "text")
    // textClean: repair + control strip + whitespace collapse, in place
    val cleaned = graft.VxFrame(dirty).textClean().df
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) === "café spaced out")
    assert(cleaned(2L) === "plain text stays put")
    // qualityScore: columns added, score == kernel query shape
    val scored = graft.VxFrame(dirty).qualityScore().df
    assert(scored.columns.contains("quality_score") &&
      scored.columns.contains("quality_score_label"))
    val row = scored.where(col("id") === 3L).head()
    val toks = org.apache.spark.sql.functions.split(col("text"), " ")
    val expect = dirty.where(col("id") === 3L).select(
      TextFunctions.featureWeightSum(
        TextFunctions.hashedGrams(
          array_distinct(org.apache.spark.sql.functions.concat(
            toks, TextFunctions.gramStrings(toks, 2))),
          TextFunctions.Md5Hash, 60),
        4096, TextFunctions.uhashA(7), TextFunctions.uhashB(7))
        .getField("wsum_milli")).head().getLong(0)
    assert(row.getAs[Double]("quality_score") === expect / 1000.0)
    // dedupAgainst: ids 2 and 4 share text with the old snapshot
    val old = graft.VxFrame(df1(Seq(9L -> "plain text stays put")).toDF("id", "text"))
    val kept = graft.VxFrame(dirty).dedupAgainst(old).df
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
    // shardAssign: deterministic, in range, salt changes the layout
    val sh1 = graft.VxFrame(dirty).shardAssign(4, "id").df
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh2 = graft.VxFrame(dirty).shardAssign(4, "id").df
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh1 === sh2)
    assert(sh1.values.forall(s => s >= 0 && s < 4))
    // a different salt must actually reshuffle (epoch semantics); with
    // 40 ids and 4 shards, identical layouts across salts would mean
    // the salt is ignored
    val many = df1((0 until 40).map(i => (i.toLong, s"t$i"))).toDF("id", "text")
    val a = graft.VxFrame(many).shardAssign(4, "id", salt = "epoch0:").df
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = graft.VxFrame(many).shardAssign(4, "id", salt = "epoch1:").df
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a !== b)
    // collision guards fail fast
    intercept[IllegalArgumentException] {
      graft.VxFrame(many).shardAssign(4, "id").shardAssign(4, "id")
    }
  }

  test("facade methods preserve frame state (variables, categories)") {
    val base = df1(Seq(1L -> "cafÃ© text", 2L -> "plain words"))
      .toDF("id", "text")
    val vf = graft.VxFrame(base)
      .copy(categories = Map("lang" -> Seq("en", "de")))
      .withVariable("thr", 1.0)
    val out = vf.textClean().qualityScore().shardAssign(4, "id")
    // categories/variables survive the whole facade chain (the house
    // copy(...) discipline — VxFrame(df) would reset them)
    assert(out.categories("lang") === Seq("en", "de"))
    assert(out.variables.contains("thr"))
    assert(out.df.columns.contains("quality_score"))
  }

  test("featureWeightSum matches pmod semantics on NEGATIVE hashes") {
    // the SQL surface accepts any bigint (e.g. raw xxhash64, negative
    // ~half the time); the kernel must bucket with floorMod exactly
    // like the Column formulation's pmod — a Java % would give
    // negative buckets and weights outside [-1000, 1000]
    val rows = (0 until 200).map(i => (i.toLong,
      Seq(-1L, Long.MinValue + i, i.toLong * -104729L, i.toLong * 7919L)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3))
      .toDF("id", "hs")
    val (a, b) = (TextFunctions.uhashA(3), TextFunctions.uhashB(3))
    val k = df.select(col("id"),
        TextFunctions.featureWeightSum(col("hs"), 4096, a, b).as("st"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1).toSeq).toMap
    val c = df.select(col("id"),
        TextFunctions.featureWeightSumCols(col("hs"), 4096, a, b).as("st"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1).toSeq).toMap
    assert(k === c)
    k.values.foreach { st =>
      assert(math.abs(st(1).asInstanceOf[Long]) <= 4L * 1000L, st)
    }
  }

  test("featureWeightSum weights are bounded and deterministic") {
    // every milli-weight lies in [-1000, 1000]: a doc with n features
    // can never score outside n*1000 in magnitude
    val one = spark.range(1).select(
      TextFunctions.featureWeightSum(
        array((0 until 64).map(i => lit(i.toLong * 104729L)): _*),
        4096, TextFunctions.uhashA(7), TextFunctions.uhashB(7)).as("st"))
      .select(col("st.n_feats"), col("st.wsum_milli")).head()
    assert(one.getLong(0) === 64L)
    assert(math.abs(one.getLong(1)) <= 64L * 1000L)
    // direct kernel determinism
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array.tabulate(32)(i => i.toLong * 7919L))
    val r1 = TextKernels.featureWeightSum(arr, 4096, 13L, 17L)
    val r2 = TextKernels.featureWeightSum(arr, 4096, 13L, 17L)
    assert(r1.getLong(0) === r2.getLong(0) && r1.getLong(1) === r2.getLong(1))
  }

  // ---- TfidfMapDot (the q_tfidf_cosine per-pair dot) ------------------

  /** The HOF chain the kernel replaced, verbatim: per shared
    * key round(x*y, 6), null products filtered, exact decimal(38,10)
    * left fold, cast back to double. */
  private def hofDot(ma: org.apache.spark.sql.Column,
                     mb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val DEC = "decimal(38,10)"
    val prods = filter(
      map_values(map_zip_with(ma, mb, (_, x, y) => round(x * y, 6))),
      v => v.isNotNull)
    aggregate(prods, lit(0).cast(DEC),
      (acc, v) => (acc + v.cast(DEC)).cast(DEC)).cast("double")
  }

  private def kernelDot(ma: org.apache.spark.sql.Column,
                        mb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.TfidfMapDot(
      Bridge.expression(ma), Bridge.expression(mb)))
  }

  test("TfidfMapDot == HOF map-dot chain on random weight maps (bit-exact)") {
    val rnd = new scala.util.Random(2026)
    def mk(): Map[String, Double] =
      (0 until rnd.nextInt(8)).map(_ =>
        s"t${rnd.nextInt(12)}" -> (rnd.nextDouble() * 20 - 10)).toMap
    val rows = (0 until 300).map(i => (i.toLong, mk(), mk()))
    val base = spark.createDataFrame(rows).toDF("id", "ma0", "mb0")
    // sprinkle null maps: the kernel must be null-propagating like the
    // HOF chain (map_zip_with(null, _) collapses the whole fold to null)
    val df = base.select(col("id"),
      when(col("id") % 17 === 0, lit(null)).otherwise(col("ma0")).as("ma"),
      when(col("id") % 23 === 5, lit(null)).otherwise(col("mb0")).as("mb"))
    val out = df.select(col("id"), hofDot(col("ma"), col("mb")).as("old"),
      kernelDot(col("ma"), col("mb")).as("neu")).collect()
    assert(out.length === 300)
    out.foreach { r =>
      val o = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val k = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(o.map(java.lang.Double.doubleToRawLongBits(_)) ===
        k.map(java.lang.Double.doubleToRawLongBits(_)),
        s"id=${r.getLong(0)}: old=$o kernel=$k")
    }
  }

  test("TfidfMapDot golden cases: disjoint, empty, rounding halves") {
    def dot(a: Map[String, Double], b: Map[String, Double]): (Option[Double], Option[Double]) = {
      val df = spark.createDataFrame(Seq((1L, a, b))).toDF("id", "ma", "mb")
      val r = df.select(hofDot(col("ma"), col("mb")).as("old"),
        kernelDot(col("ma"), col("mb")).as("neu")).head()
      (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    // disjoint keys and empty maps fold to exactly 0.0
    assert(dot(Map("a" -> 1.5), Map("b" -> 2.5)) === (Some(0.0), Some(0.0)))
    assert(dot(Map.empty, Map("b" -> 2.5)) === (Some(0.0), Some(0.0)))
    // a product landing on a 6dp half: 0.0000015 * 1.0 rounds HALF_UP
    val (o1, k1) = dot(Map("a" -> 0.0000015, "x" -> 3.0), Map("a" -> 1.0, "y" -> 4.0))
    assert(o1 === k1)
    // negatives and magnitude spread
    val (o2, k2) = dot(Map("a" -> -123456.789, "b" -> 1e-7),
      Map("a" -> 0.000321, "b" -> 1e7))
    assert(o2.map(java.lang.Double.doubleToRawLongBits(_)) ===
      k2.map(java.lang.Double.doubleToRawLongBits(_)))
  }
}
