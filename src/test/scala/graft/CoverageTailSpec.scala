package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.sources.{ArrowIpc, Export, Readers}

/** Round-2 coverage tail: ellipse selection, dropinf, selection redo,
  * vaex.example generator, Arrow IPC round trip. */
class CoverageTailSpec extends SparkSpec {
  import spark.implicits._

  test("selectEllipse: axis-aligned and rotated membership") {
    val f = VxFrame(Seq((2.0, 0.0), (0.0, 2.0), (0.0, 0.9), (3.1, 0.0))
      .toDF("x", "y"))
    // width 6 (a=3) along x, height 2 (b=1) along y
    val sel = f.selectEllipse("x", "y", 0, 0, 6, 2)
    val inside = sel.df.where(sel.selectionColumn()).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(inside == Set((2.0, 0.0), (0.0, 0.9)))
    // rotate 90°: now a=3 along y
    val rot = f.selectEllipse("x", "y", 0, 0, 6, 2, degrees = 90)
    val insideRot = rot.df.where(rot.selectionColumn()).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(insideRot == Set((0.0, 2.0), (0.0, 0.9)))
  }

  test("dropInf removes ±inf rows only") {
    val f = VxFrame(Seq(1.0, Double.PositiveInfinity, 2.0, Double.NegativeInfinity)
      .toDF("x"))
    assert(f.dropInf(Seq("x")).df.collect().map(_.getDouble(0)).toSet == Set(1.0, 2.0))
  }

  test("selection undo/redo stack semantics") {
    val f = VxFrame(Seq(1.0, 2.0, 3.0).toDF("x"))
    val s1 = f.select("x > 1")
    val s2 = s1.select("x > 2")
    assert(s2.selectionCanUndo && !s2.selectionCanRedo)
    val undone = s2.selectionUndo()
    assert(undone.selections == s1.selections && undone.selectionCanRedo)
    val redone = undone.selectionRedo()
    assert(redone.selections == s2.selections)
    // a new select invalidates the redo branch
    assert(!undone.select("x > 0").selectionCanRedo)
  }

  test("example(): deterministic generated frame with the Helmi schema") {
    val df = Export.example(spark, 1000)
    assert(df.columns.toSeq == Seq("id", "x", "y", "z", "vx", "vy", "vz", "E", "Lz", "L", "FeH"))
    assert(df.count() == 1000)
    val a = df.agg(round(sum("x"), 6), round(sum("E"), 4)).head()
    val b = Export.example(spark, 1000).agg(round(sum("x"), 6), round(sum("E"), 4)).head()
    assert(a == b) // seeded determinism
    assert(df.where(col("FeH") < -3.0 || col("FeH") > -0.5).count() == 0)
  }

  test("toRecords/toItems/toArrowFile ecosystem pulls") {
    val f = VxFrame(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(f.toRecords() == Seq(Map("id" -> 1L, "s" -> "a"), Map("id" -> 2L, "s" -> "b")))
    assert(f.toItems() == Seq("id" -> Seq(1L, 2L), "s" -> Seq("a", "b")))
    assert(f.toRecords(limit = 1).size == 1)
    val p = java.nio.file.Files.createTempDirectory("graft_toarrow").resolve("t.arrow").toString
    f.toArrowFile(p)
    assert(ArrowIpc.read(spark, p).count() == 2)
  }

  test("VxFrame.export applies the ACTIVE view (virtual cols + filter)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vxexport")
    val f = VxFrame(Seq((1L, 2.0), (2L, 3.0), (3L, 4.0)).toDF("id", "x"))
      .withVirtualColumn("y", "x * 2").filter("id > 1")
    val p = dir.resolve("view.hdf5").toString
    f.export(p)
    val back = Readers.open(spark, p)
    assert(back.count() == 2) // filter applied
    assert(back.columns.contains("y")) // virtual column materialized
    assert(back.agg(sum("y")).head.getDouble(0) == 14.0)
    val cp = dir.resolve("view.one.csv").toString
    f.exportCsv(cp)
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(cp)))
    assert(spark.read.option("header", "true").csv(cp).count() == 2)
    val jp = dir.resolve("view.one.json").toString
    f.exportJson(jp)
    assert(spark.read.json(jp).agg(sum("y")).head.getDouble(0) == 14.0)
  }

  test("Arrow IPC write/read round-trips values, nulls and types") {
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow")
    val p = dir.resolve("t.arrow").toString
    val df = Seq(
      (1L, Option(1.5), Option("a"), true),
      (2L, Option.empty[Double], Option.empty[String], false),
      (3L, Option(-2.25), Option("ü"), true)).toDF("id", "v", "s", "b")
    ArrowIpc.write(df, p)
    val back = Readers.open(spark, p)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // and the .feather extension dispatches identically
    val fp = dir.resolve("t.feather").toString
    Export.export(df, fp)
    assert(Readers.open(spark, fp).count() == 3)
  }

  test("Arrow IPC export round-trips tinyint, smallint and decimal(10,2) with nulls") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("b", ByteType), StructField("h", ShortType),
      StructField("m", DecimalType(10, 2))))
    val rows = Seq(
      Row(0L, Byte.MinValue, Short.MinValue, new java.math.BigDecimal("-99999999.99")),
      Row(1L, null, null, null),
      Row(2L, Byte.MaxValue, Short.MaxValue, new java.math.BigDecimal("99999999.99")),
      Row(3L, 0.toByte, (-7).toShort, new java.math.BigDecimal("0.05")),
      Row(4L, (-1).toByte, null, new java.math.BigDecimal("-1.10")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val p = java.nio.file.Files.createTempDirectory("graft_arrow_narrow")
      .resolve("n.arrow").toString
    VxFrame(df).export(p)
    val back = ArrowIpc.read(spark, p)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == rows)
  }

  test("Arrow IPC streams multi-batch writes and reads batches in parallel") {
    import org.apache.spark.sql.functions._
    val p = java.nio.file.Files.createTempDirectory("graft_arrow_big")
      .resolve("big.arrow").toString
    val n = 200000L
    val df = spark.range(n).select(col("id"),
      when(col("id") % 97 === 0, lit(null)).otherwise(col("id") * 0.5).as("x"),
      concat(lit("v"), col("id") % 1000).as("s"))
    // small batches -> many record batches in the file; the writer
    // holds one batch at a time, never the whole frame
    ArrowIpc.write(df, p, batchRows = 16384)
    val back = ArrowIpc.read(spark, p)
    // the read plans one task per batch group, not a driver collect
    assert(back.rdd.getNumPartitions > 1)
    assert(back.count() == n)
    assert(back.agg(sum("x")).head.getDouble(0) == df.agg(sum("x")).head.getDouble(0))
    assert(back.where(col("id") === 123456L).head.getString(2) == "v456")
  }

  test("Arrow IPC compressed batches (lz4, zstd) round-trip distributed") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_comp")
    val n = 100000L
    val df = spark.range(n).select(col("id"),
      when(col("id") % 89 === 0, lit(null)).otherwise(col("id") * 1.5).as("x"),
      concat(lit("sss"), col("id") % 100).as("s")) // repetitive -> compressible
    for (codec <- Seq("lz4", "zstd")) {
      val p = dir.resolve(s"c.$codec.arrow").toString
      ArrowIpc.write(df, p, batchRows = 16384, compression = Some(codec))
      val back = ArrowIpc.read(spark, p)
      assert(back.rdd.getNumPartitions > 1) // still batch-parallel
      assert(back.count() == n)
      assert(back.agg(sum("x")).head.getDouble(0) ==
        df.agg(sum("x")).head.getDouble(0))
      assert(back.where(col("id") === 4321L).head.getString(2) == "sss21")
    }
    // compressed files are actually smaller than the uncompressed one
    val pu = dir.resolve("u.arrow").toString
    ArrowIpc.write(df, pu, batchRows = 16384)
    val size = (f: String) => new java.io.File(f).length()
    assert(size(dir.resolve("c.zstd.arrow").toString) < size(pu))
    assert(size(dir.resolve("c.lz4.arrow").toString) < size(pu))
  }

  test("Arrow IPC STREAM framing: round-trip + genuine pyarrow stream fixtures") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_stream")
    val df = spark.range(20000).select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 0.25).as("x"),
      concat(lit("v"), col("id") % 50).as("s"))
    for (codec <- Seq(None, Some("lz4"), Some("zstd"))) {
      val p = dir.resolve(s"t_${codec.getOrElse("raw")}.arrows").toString
      ArrowIpc.writeStream(df, p, batchRows = 4096, compression = codec)
      val back = ArrowIpc.readStream(spark, p)
      assert(back.count() == 20000, s"codec $codec")
      assert(back.agg(sum("x")).head.getDouble(0) ==
        df.agg(sum("x")).head.getDouble(0), s"codec $codec")
      assert(back.where(col("id") === 123L).head.getString(2) == "v23")
    }
    // genuine pyarrow.ipc.new_stream fixtures (256-row batches):
    // k=0..999, x=k*0.5, s="s<k>"; lz4 variant compressed batches
    for (fix <- Seq("pyarrow_stream.arrows", "pyarrow_stream_lz4.arrows")) {
      val url = getClass.getResource(s"/$fix")
      assert(url != null, s"missing fixture $fix")
      // extension dispatch: open() routes .arrows to the stream reader
      assert(Readers.open(spark, url.getPath).count() == 1000, fix)
      val back = ArrowIpc.readStream(spark, url.getPath)
      assert(back.count() == 1000, fix)
      assert(back.agg(sum("x")).head.getDouble(0) ==
        (0 until 1000).map(_ * 0.5).sum, fix)
      assert(back.where(col("k") === 77L).head.getString(2) == "s77", fix)
    }
  }

  test("Arrow IPC reads genuine pyarrow-written compressed files") {
    import org.apache.spark.sql.functions._
    // fixtures written by pyarrow (IpcWriteOptions(compression=...),
    // 1024-row chunks): 5000 rows, x = i*1.5 with nulls at i%89==0
    for (codec <- Seq("lz4", "zstd")) {
      val url = getClass.getResource(s"/pyarrow_$codec.arrow")
      assert(url != null, s"missing fixture pyarrow_$codec.arrow")
      val back = ArrowIpc.read(spark, url.getPath)
      assert(back.count() == 5000)
      assert(back.where(col("x").isNull).count() == 57) // ceil(5000/89)
      val expSum = (0 until 5000).filter(_ % 89 != 0).map(_ * 1.5).sum
      assert(back.agg(sum("x")).head.getDouble(0) == expSum)
      assert(back.where(col("id") === 4321L).head.getString(2) == "sss21")
    }
  }

  test("Arrow IPC dictionary-encoded columns (pandas categoricals)") {
    import org.apache.spark.sql.functions._
    // genuine pyarrow fixtures: cat = ['alpha','beta','gamma','delta'][i%4],
    // null at i%11==0, dictionary_encode()'d; lz4 + uncompressed
    val cats = Array("alpha", "beta", "gamma", "delta")
    for (fix <- Seq("dict_plain.arrow", "dict_lz4.arrow")) {
      val url = getClass.getResource(s"/arrow/$fix")
      assert(url != null, s"missing fixture $fix")
      val back = ArrowIpc.read(spark, url.getPath).orderBy("id").collect()
      assert(back.length == 100, fix)
      back.zipWithIndex.foreach { case (r, i) =>
        val expect = if (i % 11 == 0) null else cats(i % 4)
        assert(r.getAs[String]("cat") == expect, s"$fix row $i")
        assert(r.getAs[Double]("score") == i * 0.5, s"$fix row $i score")
      }
    }
    // write side: our dictionary-encoded export round-trips AND is a
    // genuinely encoded file (a dictionary batch precedes the data)
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_dict")
    val df = spark.range(5000).select(col("id"),
      concat(lit("cat_"), col("id") % 7).as("c"),
      when(col("id") % 13 === 0, lit(null)).otherwise(concat(lit("s"), col("id") % 3)).as("c2"))
    val p = dir.resolve("d.arrow").toString
    ArrowIpc.write(df, p, batchRows = 1024, compression = Some("lz4"),
      dictColumns = Seq("c", "c2"))
    val back = ArrowIpc.read(spark, p)
    assert(back.count() == 5000)
    assert(back.where(col("c2").isNull).count() == df.where(col("c2").isNull).count())
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // independence check: pyarrow-written semantics imply our file
    // must carry a real dictionary; assert via the arrow reader API
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val in = new java.io.FileInputStream(p)
    val rd = new org.apache.arrow.vector.ipc.ArrowFileReader(in.getChannel, alloc,
      org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    try {
      rd.getVectorSchemaRoot // force init
      assert(rd.getDictionaryVectors.size() == 2, "expected two file dictionaries")
    } finally { rd.close(); in.close(); alloc.close() }
  }

  test("Arrow IPC sharded export: executor-parallel part files, glob read-back") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_shard")
      .resolve("out").toString
    val df = spark.range(100000).repartition(8).select(col("id"),
      when(col("id") % 97 === 0, lit(null)).otherwise(col("id") * 0.5).as("x"),
      concat(lit("v"), col("id") % 100).as("s"))
    val nFiles = sources.ArrowIpc.writeSharded(df, dir, batchRows = 8192,
      compression = Some("lz4"))
    assert(nFiles == 8)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".arrow")) == 8)
    val back = sources.Readers.open(spark, s"$dir/part-*.arrow")
    assert(back.count() == 100000)
    assert(back.agg(sum("x")).head.getDouble(0) == df.agg(sum("x")).head.getDouble(0))
    assert(back.select("id").distinct().count() == 100000) // no dup/lost rows
    // pyarrow-compatible: each shard is a normal IPC file our own
    // footer-indexed reader also opens standalone
    assert(sources.ArrowIpc.read(spark,
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrow"))
        .head.toString).count() > 0)
    // re-export with FEWER partitions must clear stale shards (the
    // glob read would silently concatenate them otherwise)
    sources.ArrowIpc.writeSharded(df.limit(1000).repartition(2), dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".arrow")) == 2)
    assert(sources.Readers.open(spark, s"$dir/part-*.arrow").count() == 1000)
  }

  test("Arrow IPC typed columns: lists, fixed-size lists, timestamp, date, binary") {
    import org.apache.spark.sql.types._
    // genuine pyarrow fixture (tools/arrow_typed_fixture.py): 4 rows,
    // 2 record batches; fixed_size_list<float32,4> embedding shape,
    // list<utf8> tokens, list<int64>, timestamp[us] naive, date32,
    // binary — null rows, null elements, empty lists
    val url = getClass.getResource("/arrow/typed.arrow")
    assert(url != null, "missing fixture typed.arrow")
    val back = ArrowIpc.read(spark, url.getPath)
    val bySchema = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(bySchema("emb") == ArrayType(FloatType, true))
    assert(bySchema("toks") == ArrayType(StringType, true))
    assert(bySchema("vals") == ArrayType(LongType, true))
    assert(bySchema("ts") == TimestampNTZType)
    assert(bySchema("d") == DateType)
    assert(bySchema("payload") == BinaryType)
    val rows = back.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(0).getSeq[Float](1) == Seq(1.5f, -2.25f, 0.0f, 4.0f))
    assert(rows(2).isNullAt(1)) // null embedding row
    assert(rows(0).getSeq[String](2) == Seq("alpha", "beta"))
    assert(rows(1).getSeq[String](2) == Seq.empty) // empty list != null
    assert(rows(2).isNullAt(2))
    assert(rows(3).getSeq[String](2) == Seq("gamma", null, "delta")) // null element
    assert(rows(0).getSeq[Long](3) == Seq(10L, 20L, 30L))
    assert(rows(3).getSeq[Long](3) == Seq.empty)
    assert(rows(0).getAs[java.time.LocalDateTime]("ts") ==
      java.time.LocalDateTime.ofEpochSecond(1700000000L, 0, java.time.ZoneOffset.UTC))
    assert(rows(1).isNullAt(4))
    assert(rows(2).getAs[java.time.LocalDateTime]("ts").getNano == 456789000)
    assert(rows(0).getAs[java.sql.Date]("d").toLocalDate ==
      java.time.LocalDate.ofEpochDay(19700))
    assert(rows(3).getAs[java.sql.Date]("d").toLocalDate ==
      java.time.LocalDate.ofEpochDay(-365)) // pre-epoch
    assert(rows(0).getAs[Array[Byte]]("payload").toSeq == Seq(0.toByte, 1.toByte, 0xff.toByte))
    assert(rows(1).getAs[Array[Byte]]("payload").length == 0) // empty != null
    assert(rows(2).isNullAt(6))

    // large/wide-unit fixture: large_utf8, large_binary,
    // large_list<int64>, timestamp[ns] (pandas default — truncates
    // to us), tz-aware timestamp[ms], date64
    val url2 = getClass.getResource("/arrow/typed_large.arrow")
    assert(url2 != null, "missing fixture typed_large.arrow")
    val lg = ArrowIpc.read(spark, url2.getPath)
    val lgTypes = lg.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(lgTypes("ls") == StringType && lgTypes("lb") == BinaryType)
    assert(lgTypes("ll") == ArrayType(LongType, true))
    assert(lgTypes("tns") == TimestampNTZType)
    assert(lgTypes("tms") == TimestampType) // tz-aware
    assert(lgTypes("d64") == DateType)
    val lr = lg.orderBy("id").collect()
    assert(lr(0).getAs[String]("ls") == "big" && lr(1).isNullAt(1))
    assert(lr(0).getAs[Array[Byte]]("lb").toSeq == Seq(1.toByte, 2.toByte))
    assert(lr(0).getSeq[Long](3) == Seq(1L, 2L, 3L) && lr(2).getSeq[Long](3) == Seq.empty)
    // ns -> us truncation: ...123456789 ns == ...123456 us
    assert(lr(0).getAs[java.time.LocalDateTime]("tns").getNano == 123456000)
    assert(lr(0).getAs[java.sql.Timestamp]("tms").toInstant.toEpochMilli == 1700000000123L)
    assert(lr(0).getAs[java.sql.Date]("d64").toLocalDate ==
      java.time.LocalDate.ofEpochDay(19700))
    assert(lr(2).getAs[java.sql.Date]("d64").toLocalDate ==
      java.time.LocalDate.ofEpochDay(-365))

    // nested/struct + decimal + unsigned fixture: struct<a,b>,
    // list<struct>, decimal128(10,2), uint8/16/32/64 (widened to the
    // next signed type; uint64 -> DECIMAL(20,0) like Spark's parquet
    // UINT_64 mapping)
    val url3 = getClass.getResource("/arrow/typed_nested.arrow")
    assert(url3 != null, "missing fixture typed_nested.arrow")
    val nt = ArrowIpc.read(spark, url3.getPath)
    val ntT = nt.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(ntT("st") == StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    assert(ntT("lst") == ArrayType(StructType(Seq(StructField("q", DoubleType))), true))
    assert(ntT("dec") == DecimalType(10, 2))
    assert(ntT("u8") == ShortType && ntT("u16") == IntegerType)
    assert(ntT("u32") == LongType && ntT("u64") == DecimalType(20, 0))
    val nr = nt.orderBy("id").collect()
    assert(nr(0).getStruct(1) == Row(10L, "x"))
    assert(nr(1).isNullAt(1))
    assert(nr(2).getStruct(1) == Row(null, "z")) // null struct member
    assert(nr(0).getSeq[Row](2) == Seq(Row(1.5)))
    assert(nr(1).getSeq[Row](2) == Seq.empty && nr(2).isNullAt(2))
    assert(nr(1).getDecimal(3) == new java.math.BigDecimal("123456.00"))
    assert(nr(2).getDecimal(3) == new java.math.BigDecimal("-25.00"))
    assert(nr(2).getShort(4) == 255.toShort)
    assert(nr(1).getInt(5) == 60000 && nr(2).isNullAt(5))
    assert(nr(1).getLong(6) == 4000000000L)
    assert(nr(1).getDecimal(7) == new java.math.BigDecimal("18446744073709551615"))
    assert(nr(2).getDecimal(7).longValueExact == 42L)

    // nested dictionary encoding (list<dictionary<...>>) must fail
    // LOUDLY — decoding would silently yield raw index integers
    val urlBad = getClass.getResource("/arrow/nested_dict.arrow")
    assert(urlBad != null, "missing fixture nested_dict.arrow")
    val badErr = intercept[IllegalArgumentException] {
      ArrowIpc.read(spark, urlBad.getPath)
    }
    assert(badErr.getMessage.contains("dictionary-encoded nested field"))

    // write direction: arrays/timestamps/dates/binary round-trip
    // through our writer (multi-batch) and read back identically
    val dir = java.nio.file.Files.createTempDirectory("graft_arrow_typed")
    val df = spark.range(3000).select(col("id"),
      when(col("id") % 17 === 0, lit(null)).otherwise(
        array(col("id").cast("double") * 0.5, lit(-1.0), col("id").cast("double"))).as("xs"),
      array(concat(lit("t"), col("id") % 5), lit("k")).as("ss"),
      when(col("id") % 13 === 0, lit(null)).otherwise(
        timestamp_micros(col("id") * 1000000L + 123456L).cast("timestamp_ntz")).as("ts"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), (col("id") % 700).cast("int")).as("d"),
      when(col("id") % 11 === 0, lit(null)).otherwise(
        unhex(lpad(hex(col("id")), 6, "0"))).as("bin"))
    val p = dir.resolve("typed_out.arrow").toString
    ArrowIpc.write(df, p, batchRows = 512, compression = Some("zstd"))
    val rt = ArrowIpc.read(spark, p)
    assert(rt.schema("xs").dataType == ArrayType(DoubleType, true))
    assert(rt.schema("ts").dataType == TimestampNTZType)
    val exp = df.orderBy("id").collect()
    val got = rt.orderBy("id").collect()
    assert(got.length == exp.length)
    exp.zip(got).foreach { case (e, g) =>
      assert(e.getSeq[Double](1) == g.getSeq[Double](1), s"xs @ ${e.getLong(0)}")
      assert(e.getSeq[String](2) == g.getSeq[String](2))
      assert(e.getAs[java.time.LocalDateTime]("ts") == g.getAs[java.time.LocalDateTime]("ts"))
      assert(e.getAs[java.sql.Date]("d") == g.getAs[java.sql.Date]("d"))
      assert((e.isNullAt(5) && g.isNullAt(5)) ||
        e.getAs[Array[Byte]]("bin").toSeq == g.getAs[Array[Byte]]("bin").toSeq)
    }

    // struct write round-trip: nested struct, null structs, null
    // members — read back via our own reader AND type-checked
    val sdf = spark.range(2000).select(col("id"),
      when(col("id") % 13 === 0, lit(null)).otherwise(
        struct(col("id").as("a"), concat(lit("n"), col("id") % 7).as("b"),
          struct((col("id") % 2 === 0).as("flag"),
            when(col("id") % 5 === 0, lit(null))
              .otherwise(col("id").cast("double") * 0.5).as("w")).as("inner")))
        .as("st"))
    val sp = dir.resolve("typed_struct.arrow").toString
    ArrowIpc.write(sdf, sp, batchRows = 256)
    val srt = ArrowIpc.read(spark, sp)
    // read-back struct members are all-nullable by design
    def asNullable(dt: DataType): DataType = dt match {
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
      case t => t
    }
    assert(asNullable(srt.schema("st").dataType) == asNullable(sdf.schema("st").dataType))
    val sExp = sdf.orderBy("id").collect()
    val sGot = srt.orderBy("id").collect()
    sExp.zip(sGot).foreach { case (e, g) =>
      assert(e.isNullAt(1) == g.isNullAt(1), s"null @ ${e.getLong(0)}")
      if (!e.isNullAt(1)) assert(e.getStruct(1) == g.getStruct(1), s"@ ${e.getLong(0)}")
    }
  }

  test("Arrow IPC corrupt-byte fuzzing: reader throws promptly, never hangs") {
    // same protocol as the HDF5/FITS fuzz: mutate a real file's
    // bytes — biased to the head (magic+schema) and tail (footer,
    // where the FILE framing keeps its index) — and require every
    // read to either succeed or raise a prompt exception. The read
    // allocators are capped (ArrowIpc.MaxReadAllocBytes), so a
    // corrupt buffer length surfaces as arrow's OutOfMemoryException
    // instead of an unbounded native allocation.
    val url = getClass.getResource("/arrow/typed.arrow")
    val base = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(url.getPath))
    val dir = java.nio.file.Files.createTempDirectory("arrowfuzz")
    val mut = dir.resolve("mut.arrow")
    val rnd = new scala.util.Random(7)
    var parsed = 0
    val t0 = System.nanoTime()
    for (_ <- 1 to 60) {
      val m = base.clone()
      for (_ <- 0 to rnd.nextInt(3)) {
        val pos = rnd.nextInt(3) match {
          case 0 => rnd.nextInt(math.min(512, m.length))
          case 1 => m.length - 1 - rnd.nextInt(math.min(512, m.length))
          case _ => rnd.nextInt(m.length)
        }
        m(pos) = rnd.nextInt(256).toByte
      }
      java.nio.file.Files.write(mut, m)
      try { ArrowIpc.read(spark, mut.toString).collect(); parsed += 1 }
      catch {
        case _: Exception => ()
        // a corrupt length below the allocator cap can still drive a
        // real (failed) direct allocation — netty raises
        // OutOfDirectMemoryError, an Error; recoverable here because
        // no heap was actually exhausted. Match it by class name so a
        // genuine heap OOM (a reader leak) still fails the spec.
        case e: OutOfMemoryError
            if e.getClass.getName.endsWith("OutOfDirectMemoryError") => ()
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // promptness bound, not a perf bound: a hung reader burns the full
    // budget; 60 corrupt reads normally finish in well under a minute,
    // but inside the PARALLEL full suite on this throttling host the
    // same loop has measured 393 s with every read still prompt (r18:
    // two consecutive full-suite runs tripped the old 300 s bound on
    // code identical to the green round-18 stamp) — so the bound
    // carries enough headroom that only a genuine hang trips it
    assert(secs < 900.0, s"arrow fuzz took ${secs}s")
    assert(parsed > 0) // data-region mutations decode fine
  }
}
