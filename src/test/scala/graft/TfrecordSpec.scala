package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Export, Readers, Tfrecord}

/** Dependency-free TFRecord source/sink. Independence pins: the
  * framing CRC is checked against the PUBLIC CRC-32C test vector
  * ("123456789" -> 0xE3069283) pushed through TensorFlow's documented
  * mask; the protobuf reader decodes HAND-CONSTRUCTED Example bytes
  * (including the unpacked list encodings our writer never emits);
  * corrupt framing fails with the offset. */
class TfrecordSpec extends SparkSpec {

  private def tmp(leaf: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_tfr").toString
    s"$d/$leaf"
  }

  test("framing: masked CRC-32C matches the public check vector") {
    // write one record whose payload is the CRC-32C check input
    val payload = "123456789".getBytes("ASCII")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(payload)), 1),
      StructType(Seq(StructField("b", BinaryType, false))))
    val path = tmp("crc.tfrecord")
    Tfrecord.toTfRecord(df, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val len = bb.getLong(0)
    // the Example wrapper: features{ map entry{ key "b", BytesList["123456789"] } }
    // data CRC sits at 12 + len; extract the RAW record and find the
    // 9-byte payload inside it, then reframe JUST the payload by hand
    // to pin the masked-CRC arithmetic against the public vector
    val crcCheck = 0xE3069283L // public CRC-32C("123456789")
    val masked = ((((crcCheck >>> 15) | (crcCheck << 17)) + 0xa282ead8L) & 0xffffffffL).toInt
    assert(Tfrecord.maskCrc(crcCheck) == masked)
    val jdk = new java.util.zip.CRC32C()
    jdk.update(payload, 0, payload.length)
    assert(jdk.getValue == crcCheck, "JDK CRC32C must reproduce the public vector")
    // and the file's own framing validates end-to-end through the reader
    val back = Tfrecord.fromTfRecord(spark, path).collect()
    assert(back.length == 1 && back(0).getAs[Array[Byte]](0).sameElements(payload))
    assert(len > 9) // protobuf wrapping is present
  }

  test("hand-built Example bytes decode, including UNPACKED list encodings") {
    // Example { features { entry{key "n", Int64List unpacked [7, -3]},
    //                      entry{key "f", FloatList unpacked [1.5]},
    //                      entry{key "s", BytesList ["hi"]} } }
    def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write((v & 0x7f).toInt)
    }
    def lenDelim(out: java.io.ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
      varint(out, (field << 3) | 2); varint(out, b.length.toLong); out.write(b)
    }
    def msg(build: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); build(o); o.toByteArray
    }
    val int64List = msg { o => // unpacked: two wire-0 entries for field 1
      varint(o, (1 << 3) | 0); varint(o, 7L)
      varint(o, (1 << 3) | 0); varint(o, -3L) // negative = 10-byte varint
    }
    val floatList = msg { o => // unpacked: wire-5 entry
      varint(o, (1 << 3) | 5)
      val bits = java.lang.Float.floatToIntBits(1.5f)
      o.write(bits & 0xff); o.write((bits >>> 8) & 0xff)
      o.write((bits >>> 16) & 0xff); o.write((bits >>> 24) & 0xff)
    }
    val bytesList = msg(o => lenDelim(o, 1, "hi".getBytes("UTF-8")))
    def feature(kindField: Int, list: Array[Byte]) =
      msg(o => lenDelim(o, kindField, list))
    def entry(key: String, feat: Array[Byte]) = msg { o =>
      lenDelim(o, 1, key.getBytes("UTF-8")); lenDelim(o, 2, feat)
    }
    val features = msg { o =>
      lenDelim(o, 1, entry("n", feature(3, int64List)))
      lenDelim(o, 1, entry("f", feature(2, floatList)))
      lenDelim(o, 1, entry("s", feature(1, bytesList)))
    }
    val example = msg(o => lenDelim(o, 1, features))
    val parsed = Tfrecord.parseExample(example)
    assert(parsed("n") == (('I', Seq(7L, -3L))))
    assert(parsed("f") == (('F', Seq(1.5f))))
    assert(parsed("s")._1 == 'B')
    assert(new String(parsed("s")._2.head.asInstanceOf[Array[Byte]], "UTF-8") == "hi")
  }

  test("round trip: every supported type, arrays, nulls come back null") {
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("i", IntegerType, true),
      StructField("f", FloatType, true),
      StructField("s", StringType, true),
      StructField("bin", BinaryType, true),
      StructField("bo", BooleanType, true),
      StructField("af", ArrayType(FloatType, false), true),
      StructField("al", ArrayType(LongType, false), true),
      StructField("as", ArrayType(StringType, false), true)))
    val rows = (0 until 120).map { i =>
      Row(i.toLong,
        if (i % 7 == 0) null else Int.box(i * 3),
        if (i % 5 == 0) null else Float.box(i * 0.25f),
        if (i % 11 == 0) null else s"s$i-\u00E9",
        if (i % 13 == 0) null else Array.tabulate(i % 4)(j => (i + j).toByte),
        if (i % 3 == 0) null else Boolean.box(i % 2 == 0),
        if (i % 17 == 0) null else (0 until i % 5).map(j => i + j * 0.5f),
        if (i % 19 == 0) null else (0 until i % 3).map(j => i.toLong * 10 + j),
        if (i % 23 == 0) null else (0 until i % 3).map(j => s"e$j"))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val path = tmp("rt.tfrecord")
    Tfrecord.toTfRecord(df, path)
    // int/boolean widen to int64 in the container; read with the
    // widened schema and compare against the widened input
    val readSchema = StructType(schema.fields.map {
      case f if f.dataType == IntegerType || f.dataType == BooleanType =>
        f.copy(dataType = LongType)
      case f => f
    })
    val back = Tfrecord.fromTfRecord(spark, path, readSchema)
    def canon(r: Row): Seq[Any] = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    val expect = df.collect().map { r =>
      canon(Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v, 1) => if (v == null) null else Long.box(v.asInstanceOf[Int].toLong)
        case (v, 5) => if (v == null) null else Long.box(if (v.asInstanceOf[Boolean]) 1L else 0L)
        case (v, _) => v
      }))
    }.sortBy(_.head.asInstanceOf[Long])
    val got = back.collect().map(canon).sortBy(_.head.asInstanceOf[Long])
    assert(got.toSeq == expect.toSeq)
  }

  test("schema inference: int64/float/bytes, 1-element lists as scalars") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 0.5f, "x".getBytes("UTF-8"), Seq(1L, 2L))), 1),
      StructType(Seq(StructField("n", LongType, false),
        StructField("f", FloatType, false),
        StructField("b", BinaryType, false),
        StructField("a", ArrayType(LongType, false), false)))).coalesce(1)
    val path = tmp("inf.tfrecord")
    Tfrecord.toTfRecord(df, path)
    val back = Readers.open(spark, path) // dispatch + inference
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("n") == LongType && types("f") == FloatType)
    assert(types("b") == BinaryType)
    assert(types("a") == ArrayType(LongType, containsNull = false))
    assert(back.count() == 1)
  }

  test("sharded export + glob read, one task per file") {
    val df = spark.range(0, 300).select(col("id"),
      (col("id") % 9).cast("float").as("x")).repartition(5)
    val dir = tmp("shards")
    assert(Tfrecord.toTfRecordSharded(df, dir) == 5)
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageTasks.add(s.stageInfo.numTasks); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val n = try {
      val c = Readers.open(spark, s"$dir/part-*.tfrecord")
        .agg(sum("id"), count(lit(1))).collect().head
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      c
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(n.getLong(0) == 299L * 300 / 2 && n.getLong(1) == 300L)
    import scala.jdk.CollectionConverters._
    assert(stageTasks.asScala.exists(_ == 5),
      s"expected a 5-task per-file scan stage, saw ${stageTasks.asScala.toSeq}")
    // stale shards cleared on re-export
    assert(Tfrecord.toTfRecordSharded(df.repartition(2), dir) == 2)
    assert(Readers.open(spark, s"$dir/part-*.tfrecord").count() == 300)
  }

  test("whole-file gzip TFRecords read (compression_type=GZIP wild form)") {
    val df = spark.range(0, 40).select(col("id"),
      (col("id") % 5).cast("float").as("x"))
    val dir = tmp("gz")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val plain = s"$dir/a.tfrecord"
    Tfrecord.toTfRecord(df, plain)
    val gz = s"$dir/a.tfrecord.gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz))
    out.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(plain)))
    out.close()
    val back = Readers.open(spark, gz)
    assert(back.count() == 40)
    assert(back.agg(sum("id")).collect().head.getLong(0) == 39L * 40 / 2)
  }

  test("corrupt framing fails loudly with the offset; doubles rejected at write") {
    val df = spark.range(0, 10).select(col("id"))
    val path = tmp("corrupt.tfrecord")
    Tfrecord.toTfRecord(df, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    bytes(14) = (bytes(14) ^ 0x40).toByte // flip a bit in record 1's data
    val cpath = tmp("bad.tfrecord")
    java.nio.file.Files.write(java.nio.file.Paths.get(cpath), bytes)
    val e = intercept[Exception] {
      Tfrecord.fromTfRecord(spark, cpath,
        StructType(Seq(StructField("id", LongType, true)))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("CRC mismatch") && m.contains("offset")),
      s"got: $e")
    val d = spark.range(3).select(col("id").cast("double").as("x"))
    val e2 = intercept[IllegalArgumentException] {
      Tfrecord.toTfRecord(d, tmp("dbl.tfrecord"))
    }
    assert(e2.getMessage.contains("no double"))
    // Export dispatch routes the extension
    Export.export(spark.range(4).select(col("id")), tmp("e.tfrecords"))
  }
}
