package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Export, Npy, Readers}

/** Dependency-free numpy `.npy`/`.npz` source/sink. The committed
  * fixtures under `/npy` were written by numpy itself
  * (tools/npygen.py) — the independence check for the reader; the
  * writer is pinned by byte-identity against a numpy-written file and
  * by the JDK's own ZipFile reading our hand-rolled npz archives. */
class NpySpec extends SparkSpec {

  private def res(name: String): String =
    new java.io.File(getClass.getResource(s"/npy/$name").toURI).toString

  private def tmp(leaf: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_npy").toString
    s"$d/$leaf"
  }

  // ------------------------------------------------------------- fixtures

  test("plain 1-D f8 incl. IEEE specials, bit-exact") {
    val vals = Npy.fromNpy(spark, res("plain_f8.npy")).collect().map(_.getDouble(0))
    val expect = Array(1.5, -0.25, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, 1e300)
    assert(vals.length == expect.length)
    vals.zip(expect).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
        s"$a != $b")
    }
  }

  test("big-endian i4") {
    assert(Npy.fromNpy(spark, res("plain_i4_big.npy")).collect().map(_.getInt(0)).toSeq
      == Seq(1, -2, 3, 2147483647, -2147483648))
  }

  test("2-D C-order f4 matrix -> array column") {
    val rows = Npy.fromNpy(spark, res("mat_f4.npy")).collect()
    assert(rows.length == 4)
    val m = rows.map(_.getSeq[Float](0))
    assert(m(0) == Seq.tabulate(6)(j => j / 4.0f))
    assert(m(3) == Seq.tabulate(6)(j => (18 + j) / 4.0f))
  }

  test("2-D Fortran-order f8 matrix reads row-logical values") {
    // np.asfortranarray only changes the byte layout, not the logical
    // values: a[i][j] = (i*4+j)*1.5 - 2
    val rows = Npy.fromNpy(spark, res("mat_f8_fortran.npy"), numPartitions = 2).collect()
    assert(rows.length == 3)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Double](0) == Seq.tabulate(4)(j => (i * 4 + j) * 1.5 - 2.0), s"row $i")
    }
  }

  test("fixed-width S strings trim trailing NULs") {
    assert(Npy.fromNpy(spark, res("strings_S.npy")).collect().map(_.getString(0)).toSeq
      == Seq("alpha", "", "beta!", "1234567"))
  }

  test("fixed-width U strings (UTF-32, non-BMP code point)") {
    assert(Npy.fromNpy(spark, res("strings_U.npy")).collect().map(_.getString(0)).toSeq
      == Seq("héllo", "", "naïve", "x😀y", "ABCDE"))
  }

  test("datetime64[us] -> timestamp_ntz with NaT -> null") {
    val df = Npy.fromNpy(spark, res("times_us.npy"))
    assert(df.schema.head.dataType == TimestampNTZType && df.schema.head.nullable)
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got(0).contains("2024-01-02T03:04:05.123456"))
    assert(got(1).isEmpty)
    assert(got(2).contains("1969-12-31T23:59:59.000001"))
    assert(got(3).contains("2262-01-01T00:00"))
  }

  test("datetime64[ns] floor-divides to micros (negative epochs too)") {
    val got = Npy.fromNpy(spark, res("times_ns.npy")).collect().map(_.get(0).toString)
    assert(got(0) == "2024-01-02T03:04:05.123456")
    // -1 ns before the epoch floors to -1 us, not 0
    assert(got(1) == "1969-12-31T23:59:59.999999")
  }

  test("datetime64[D] -> date with NaT -> null") {
    val df = Npy.fromNpy(spark, res("dates_D.npy"))
    assert(df.schema.head.dataType == DateType)
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got.toSeq == Seq(Some("2024-02-29"), Some("1969-07-20"), None))
  }

  test("u8 -> DECIMAL(20,0) above Long.MaxValue") {
    val df = Npy.fromNpy(spark, res("u8.npy"))
    assert(df.schema.head.dataType == DecimalType(20, 0))
    assert(df.collect().map(_.getDecimal(0).toBigInteger.toString).toSeq
      == Seq("0", "1", "9223372036854775807", "9223372036854775808",
        "18446744073709551615"))
  }

  test("bool") {
    assert(Npy.fromNpy(spark, res("bool.npy")).collect().map(_.getBoolean(0)).toSeq
      == Seq(true, false, true))
  }

  test("structured array: mixed endianness, packed offsets, pruning") {
    val df = Npy.fromNpy(spark, res("struct.npy"))
    assert(df.schema.fieldNames.toSeq == Seq("id", "score", "tag", "n"))
    assert(df.schema("n").dataType == LongType) // >u4 widens to long
    val r = df.collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(10L, -20L, 30L, 9007199254740993L))
    assert(r.map(_.getFloat(1)).toSeq == Seq(1.5f, -2.25f, 0.0f, 3.75f))
    assert(r.map(_.getString(2)).toSeq == Seq("aa", "", "ccccc", "dd"))
    assert(r.map(_.getLong(3)).toSeq == Seq(0L, 7L, 4294967295L, 42L))
    // column pruning reorders and drops
    val pruned = Npy.fromNpy(spark, res("struct.npy"), columns = Seq("n", "id"))
    assert(pruned.schema.fieldNames.toSeq == Seq("n", "id"))
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(0L, 7L, 4294967295L, 42L))
  }

  test("version-2.0 header") {
    assert(Npy.fromNpy(spark, res("v2_header.npy")).collect().map(_.getLong(0)).toSeq
      == Seq(11L, 22L, 33L))
  }

  private def npzExpected: (Seq[Long], Int => Seq[Float]) = {
    val ids = (0 until 40).map(i => i.toLong * 3 + 1)
    val emb = (i: Int) => (0 until 6).map(j => ((i * 6 + j) % 17) * 0.25f - 1.0f)
    (ids, emb)
  }

  test("npz STORED (np.savez): distributed row-aligned members") {
    val df = Npy.fromNpz(spark, res("table_stored.npz"), numPartitions = 3)
    assert(df.schema.fieldNames.sorted.toSeq == Seq("v", "vec_id"))
    val (ids, emb) = npzExpected
    val got = df.orderBy("vec_id").collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == ids)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Float](r.fieldIndex("v")) == emb(i), s"row $i misaligned")
    }
  }

  test("npz DEFLATE (np.savez_compressed): single-task decode, same values") {
    val df = Npy.fromNpz(spark, res("table_deflate.npz"))
    val (ids, emb) = npzExpected
    val got = df.orderBy("vec_id").collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == ids)
    assert(got(39).getSeq[Float](got(39).fieldIndex("v")) == emb(39))
    // member pruning
    val one = Npy.fromNpz(spark, res("table_deflate.npz"), columns = Seq("vec_id"))
    assert(one.schema.fieldNames.toSeq == Seq("vec_id"))
    assert(one.count() == 40)
  }

  test("npz with MIXED stored+deflate members (per-member compress_type)") {
    // stored members carry file-absolute metas; the single-task regime
    // decodes member-relative buffers — the rebase must hold
    val df = Npy.fromNpz(spark, res("table_mixed.npz")).orderBy("vec_id").collect()
    assert(df.length == 25)
    assert(df.map(_.getAs[Long]("vec_id")).take(4).toSeq == Seq(2L, 7L, 12L, 17L))
    assert(df.map(_.getAs[Double]("x")).take(4).toSeq == Seq(-3.0, -2.25, -1.5, -0.75))
  }

  test("npz DEFLATE member whose header compresses past the 64 KiB probe still reads") {
    // a v2 npy header padded to ~200 KiB, deflated at level 0 (stored
    // blocks) so the COMPRESSED header region exceeds the reader's
    // first-guess prefix — the probe must grow, not reject with
    // 'header overruns file'
    val dict = "{'descr': '<i8', 'fortran_order': False, 'shape': (5,), }"
    val hlen = 200000
    val header = dict + " " * (hlen - dict.length - 1) + "\n"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x93.toByte, 'N'.toByte, 'U'.toByte, 'M'.toByte,
      'P'.toByte, 'Y'.toByte, 2.toByte, 0.toByte))
    val lenB = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(hlen)
    bos.write(lenB.array())
    bos.write(header.getBytes("ISO-8859-1"))
    val data = java.nio.ByteBuffer.allocate(40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(10L, -20L, 30L, -40L, 50L).foreach(data.putLong)
    bos.write(data.array())
    val member = bos.toByteArray

    val path = tmp("bighdr.npz")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    zos.setMethod(java.util.zip.ZipOutputStream.DEFLATED)
    zos.setLevel(0) // stored-type deflate blocks: compressed ~= raw size
    zos.putNextEntry(new java.util.zip.ZipEntry("big.npy"))
    zos.write(member)
    zos.closeEntry()
    zos.close()

    val df = Npy.fromNpz(spark, path)
    assert(df.schema.fieldNames.toSeq == Seq("big"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(-40L, -20L, 10L, 30L, 50L))
  }

  test("npz DEFLATE: N members decode in N parallel tasks (listener-counted)") {
    // the format forbids intra-member splits, but member-level task
    // parallelism is required: the decode stage must run one task per
    // member, not one task for the whole archive
    def npy1d(descr: String, put: java.nio.ByteBuffer => Unit, n: Int,
              itemBytes: Int): Array[Byte] = {
      val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': ($n,), }"
      val pad = 64 - ((10 + dict.length + 1) % 64)
      val header = dict + " " * pad + "\n"
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(Array(0x93.toByte, 'N'.toByte, 'U'.toByte, 'M'.toByte,
        'P'.toByte, 'Y'.toByte, 1.toByte, 0.toByte))
      bos.write(java.nio.ByteBuffer.allocate(2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putShort(header.length.toShort).array())
      bos.write(header.getBytes("ISO-8859-1"))
      val data = java.nio.ByteBuffer.allocate(n * itemBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      put(data)
      bos.write(data.array())
      bos.toByteArray
    }
    val n = 50
    val ids = npy1d("<i8", b => (0 until n).foreach(i => b.putLong(i * 7L)), n, 8)
    val xs = npy1d("<f8", b => (0 until n).foreach(i => b.putDouble(i * 0.5 - 3.0)), n, 8)
    val ys = npy1d("<f8", b => (0 until n).foreach(i => b.putDouble(i * i * 0.25)), n, 8)
    val path = tmp("members3.npz")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    Seq("ids.npy" -> ids, "xs.npy" -> xs, "ys.npy" -> ys).foreach { case (nm, b) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(nm))
      zos.write(b); zos.closeEntry()
    }
    zos.close()

    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageTasks.add(s.stageInfo.numTasks); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val df = Npy.fromNpz(spark, path)
      val rows = df.orderBy("ids").collect()
      // the bus delivers asynchronously; drain it before asserting on
      // the task counts
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(got.length == n)
    assert(got.map(_.getAs[Long]("ids")).toSeq == (0 until n).map(_ * 7L))
    assert(got(4).getAs[Double]("xs") == 4 * 0.5 - 3.0)
    assert(got(4).getAs[Double]("ys") == 4.0)
    import scala.jdk.CollectionConverters._
    assert(stageTasks.asScala.exists(_ == 3),
      s"expected a 3-task member-decode stage, saw stages: ${stageTasks.asScala.toSeq}")
  }

  test("sharded export rejects mixed array+scalar schemas on the driver") {
    val df = spark.range(0, 10).select(col("id"),
      array(lit(1.0f), lit(2.0f)).as("vec"))
    val e = intercept[IllegalArgumentException] {
      Npy.toNpySharded(df, tmp("mixed_shards"))
    }
    assert(e.getMessage.contains("matrix form"))
  }

  // ------------------------------------------------------------- writer

  test("writer is byte-identical to numpy for a plain f8 array") {
    val path = tmp("mirror.npy")
    val vals = Seq(1.5, -0.25, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, 1e300)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vals.map(Row(_)), 1),
      StructType(Seq(StructField("value", DoubleType, nullable = false))))
    Npy.toNpy(df, path)
    val ours = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val numpys = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(res("plain_f8.npy")))
    assert(ours.sameElements(numpys),
      "writer output differs from numpy's own bytes for identical data")
  }

  test("structured round trip: every supported scalar type") {
    val schema = StructType(Seq(
      StructField("l", LongType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("sh", ShortType, nullable = false),
      StructField("by", ByteType, nullable = false),
      StructField("bo", BooleanType, nullable = false),
      StructField("d", DoubleType, nullable = false),
      StructField("fl", FloatType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("ts", TimestampNTZType, nullable = false),
      StructField("dt", DateType, nullable = false)))
    val rows = (0 until 100).map { i =>
      Row(i.toLong * 1000000007L, i * 7, (i * 3).toShort, (i % 100).toByte,
        i % 3 == 0, i * 1.25 - 8.5, i * 0.5f,
        if (i % 10 == 0) "" else s"v$i-é😀",
        java.time.LocalDateTime.of(2024, 1 + i % 12, 1 + i % 28, i % 24, i % 60, i % 60, (i % 1000) * 1000),
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i * 37)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val path = tmp("typed.npy")
    Npy.toNpy(df, path)
    val back = Npy.fromNpy(spark, path)
    // unicode widths measured in code points; values exact
    assert(back.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    val a = df.orderBy("l").collect()
    val b = back.orderBy("l").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      (0 until schema.length).foreach { f =>
        val (xv, yv) = (x.get(f), y.get(f))
        val same = (xv, yv) match {
          case (t1: java.sql.Timestamp, t2: Any) => t1.toString == t2.toString
          case _ => xv == yv
        }
        assert(same, s"field ${schema(f).name}: $xv != $yv")
      }
    }
  }

  test("matrix round trip: array<float> column") {
    val rows = (0 until 50).map(i => Row(Seq.tabulate(16)(j => i * 0.5f + j)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("value", ArrayType(FloatType, containsNull = false),
        nullable = false))))
    val path = tmp("mat.npy")
    Npy.toNpy(df, path)
    val back = Npy.fromNpy(spark, path, numPartitions = 3).collect()
    assert(back.length == 50)
    assert(back.map(_.getSeq[Float](0).head).sorted.toSeq ==
      (0 until 50).map(_ * 0.5f).sorted)
  }

  test("nulls are rejected with a clear error") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a"), Row(2L, null)), 1),
      StructType(Seq(StructField("id", LongType), StructField("s", StringType))))
    val e = intercept[Exception] { Npy.toNpy(df, tmp("nulls.npy")) }
    assert(e.getMessage != null && e.getMessage.contains("null"),
      s"unhelpful error: ${e.getMessage}")
  }

  test("npz round trip + the JDK's ZipFile can read our archive") {
    val rows = (0 until 30).map(i =>
      Row(i.toLong, i * 2.5, Seq.tabulate(4)(j => i * 1.0f - j)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("w", DoubleType, nullable = false),
        StructField("v", ArrayType(FloatType, containsNull = false), nullable = false))))
    val path = tmp("table.npz")
    Npy.toNpz(df, path)
    // independent zip reader: the JDK's own ZipFile parses our archive
    val zf = new java.util.zip.ZipFile(path)
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSeq
      assert(names.sorted == Seq("v.npy", "vec_id.npy", "w.npy"))
      zf.entries().asScala.foreach { e =>
        assert(e.getMethod == java.util.zip.ZipEntry.STORED, e.getName)
        val in = zf.getInputStream(e) // ZipFile verifies CRC on read
        val head = new Array[Byte](6)
        var got = 0
        while (got < 6) {
          val k = in.read(head, got, 6 - got); assert(k > 0); got += k
        }
        in.close()
        assert(head.sameElements(Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')))
      }
    } finally zf.close()
    val back = Npy.fromNpz(spark, path).orderBy("vec_id").collect()
    assert(back.length == 30)
    assert(back(7).getAs[Double]("w") == 17.5)
    assert(back(7).getSeq[Float](back(7).fieldIndex("v")) == Seq.tabulate(4)(j => 7.0f - j))
  }

  test("sharded export + glob read") {
    val df = spark.range(0, 500).select(col("id"),
      (col("id") * 2).cast("double").as("x"),
      concat(lit("s"), col("id")).as("s"))
    val dir = tmp("shards")
    val n = Npy.toNpySharded(df.repartition(3), dir)
    assert(n == 3)
    val back = Readers.open(spark, s"$dir/part-*.npy")
    assert(back.count() == 500)
    assert(back.agg(sum("x")).head.getDouble(0) == (0 until 500).map(_ * 2.0).sum)
    // re-export with fewer partitions clears stale shards
    Npy.toNpySharded(df.repartition(2), dir)
    assert(Readers.open(spark, s"$dir/part-*.npy").count() == 500)
  }

  test("open/export dispatch routes .npy and .npz") {
    val df = spark.range(0, 20).select(col("id"), (col("id") * 1.5).as("x"))
    val p1 = tmp("disp.npy")
    Export.export(df, p1)
    assert(Readers.open(spark, p1).count() == 20)
    val p2 = tmp("disp.npz")
    Export.export(df, p2)
    assert(Readers.open(spark, p2).count() == 20)
  }

  test("datetime matrix with NaT: nullable elements, not epoch garbage") {
    val df = Npy.fromNpy(spark, res("mat_times_nat.npy"))
    val at = df.schema.head.dataType.asInstanceOf[ArrayType]
    assert(at.containsNull, "M8 matrix elements must be declared nullable")
    // drive a codegen'd consumer over the null slot
    val got = df.select(explode(col("value")).as("t")).collect().map(r => Option(r.get(0)))
    assert(got.count(_.isEmpty) == 1)
    assert(got.flatten.map(_.toString).toSet.contains("2024-01-02T03:04:05.123456"))
  }

  test("structured field named 'shape' does not shadow the dict key") {
    val df = Npy.fromNpy(spark, res("field_named_shape.npy"))
    assert(df.schema.fieldNames.toSeq == Seq("shape", "x"))
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((7L, 0.5), (8L, 1.5), (9L, 2.5)))
  }

  test("single non-'value' column keeps its name on round trip") {
    val df = spark.range(0, 25).select((col("id") * 2.5).as("price"))
    val path = tmp("named.npy")
    Npy.toNpy(df, path)
    val back = Npy.fromNpy(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("price"))
    assert(back.agg(sum("price")).head.getDouble(0) == (0 until 25).map(_ * 2.5).sum)
  }

  // ------------------------------------------------------------- fail-fast

  private def writeBytes(path: String, b: Array[Byte]): String = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path), b); path
  }

  private def crafted(dict: String, payload: Array[Byte]): Array[Byte] = {
    val body = dict + " " * ((64 - (10 + dict.length + 1) % 64) % 64) + "\n"
    val head = java.nio.ByteBuffer.allocate(10 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    head.put(Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 1, 0))
    head.putShort(body.length.toShort)
    head.put(body.getBytes("US-ASCII"))
    head.array() ++ payload
  }

  test("unsupported dtypes and shapes fail fast with clear errors") {
    def expectFail(dict: String, payload: Array[Byte], needle: String): Unit = {
      val p = writeBytes(tmp("bad.npy"), crafted(dict, payload))
      val e = intercept[Exception] { Npy.fromNpy(spark, p).collect() }
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"for $dict got: ${e.getMessage}")
    }
    expectFail("{'descr': '<f2', 'fortran_order': False, 'shape': (2,), }",
      new Array[Byte](4), "f2")
    expectFail("{'descr': '<m8[us]', 'fortran_order': False, 'shape': (1,), }",
      new Array[Byte](8), "timedelta64")
    expectFail("{'descr': '<M8', 'fortran_order': False, 'shape': (1,), }",
      new Array[Byte](8), "datetime")
    expectFail("{'descr': [('a', '<i4', (3,)), ('b', '<f8')], 'fortran_order': False, 'shape': (1,), }",
      new Array[Byte](20), "structured descr")
    expectFail("{'descr': {'names': ['a'], 'formats': ['<i4'], 'offsets': [0], 'itemsize': 8}, 'fortran_order': False, 'shape': (1,), }",
      new Array[Byte](8), "dict-form")
    expectFail("{'descr': '<f8', 'fortran_order': False, 'shape': (2, 2, 2), }",
      new Array[Byte](64), "ndim")
    expectFail("{'descr': '<f8', 'fortran_order': False, 'shape': (9,), }",
      new Array[Byte](16), "truncated")
    expectFail("{'descr': [('a', '<i8'), ('b', '<f8')], 'fortran_order': False, 'shape': (2, 3), }",
      new Array[Byte](96), "1-D")
  }

  test("non-npy and non-zip bytes fail fast") {
    val p1 = writeBytes(tmp("junk.npy"), Array.fill[Byte](64)(0x41))
    assert(intercept[Exception] { Npy.fromNpy(spark, p1) }
      .getMessage.contains("magic"))
    val p2 = writeBytes(tmp("junk.npz"), Array.fill[Byte](64)(0x41))
    assert(intercept[Exception] { Npy.fromNpz(spark, p2) }
      .getMessage.contains("zip"))
  }

  test("corrupt-byte fuzzing: reader throws promptly, never hangs") {
    val base0 = {
      val df = spark.range(0, 300).select(col("id"),
        (col("id") * 0.5).as("x"), concat(lit("s"), col("id")).as("s"))
      val p = tmp("fuzzbase.npy")
      Npy.toNpy(df, p)
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    }
    val mut = tmp("mut.npy")
    val rnd = new scala.util.Random(17)
    var parsed = 0
    val t0 = System.nanoTime()
    for (_ <- 1 to 120) {
      val m = base0.clone()
      for (_ <- 0 to rnd.nextInt(3)) {
        val pos = rnd.nextInt(3) match {
          case 0 => rnd.nextInt(math.min(192, m.length))
          case 1 => m.length - 1 - rnd.nextInt(math.min(128, m.length))
          case _ => rnd.nextInt(m.length)
        }
        m(pos) = rnd.nextInt(256).toByte
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(mut), m)
      try { Npy.fromNpy(spark, mut).collect(); parsed += 1 }
      catch { case _: Exception => () }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 300.0, s"npy fuzz took ${secs}s")
    assert(parsed > 0) // data-region mutations decode fine
  }

  test("npz fuzzing over the zip machinery") {
    val base0 = {
      val df = spark.range(0, 200).select(col("id"), (col("id") * 0.25).as("x"))
      val p = tmp("fuzzbase.npz")
      Npy.toNpz(df, p)
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    }
    val mut = tmp("mut.npz")
    val rnd = new scala.util.Random(23)
    var parsed = 0
    for (_ <- 1 to 80) {
      val m = base0.clone()
      for (_ <- 0 to rnd.nextInt(3)) {
        // bias mutations to the tail: EOCD + central directory live there
        val pos = if (rnd.nextBoolean()) m.length - 1 - rnd.nextInt(math.min(256, m.length))
        else rnd.nextInt(m.length)
        m(pos) = rnd.nextInt(256).toByte
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(mut), m)
      try { Npy.fromNpz(spark, mut).collect(); parsed += 1 }
      catch { case _: Exception => () }
    }
    assert(parsed >= 0)
  }
}
