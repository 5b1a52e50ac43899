package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.compression.CompressionUtil
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}

/** Arrow IPC file / feather-v2 source and sink (reference:
  * packages/vaex-core/vaex/arrow/dataset.py:296 open_arrow, :351/:362
  * feather — feather v2 IS the Arrow IPC file format).
  *
  * Scale shape: WRITE streams record batches through the driver
  * (`toLocalIterator`, one partition + one batch resident at a time —
  * a single .arrow file is inherently one writer, same as the HDF5
  * sink). READ is distributed: the file footer indexes every record
  * batch, so the driver reads only the schema + batch count and each
  * executor task opens the file and decodes its own disjoint batches
  * — no driver materialization at any size. Supported types:
  * long/int/short/byte/decimal128/double/float/string/boolean/binary,
  * naive timestamp[us], date32, and list / fixed_size_list of
  * numeric/string elements (the pyarrow shapes embedding and token
  * columns ship in), all nullable.
  */
object ArrowIpc {

  /** Read-path allocator cap: a corrupt length field in a malformed
    * file must surface as a prompt OutOfMemoryException from the
    * arrow allocator, not an unbounded native allocation that OOMs
    * the executor. 4 GiB comfortably covers any legitimate record
    * batch; the write paths stay unbounded (we control the data). */
  private val MaxReadAllocBytes: Long = 4L << 30

  private def scalarArrowType(dt: DataType): ArrowType = dt match {
    case LongType => new ArrowType.Int(64, true)
    case IntegerType => new ArrowType.Int(32, true)
    case ShortType => new ArrowType.Int(16, true)
    case ByteType => new ArrowType.Int(8, true)
    case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case StringType => new ArrowType.Utf8()
    case BooleanType => new ArrowType.Bool()
    case BinaryType => new ArrowType.Binary()
    // naive timestamp (pandas/pyarrow timestamp[us] without tz)
    case TimestampNTZType => new ArrowType.Timestamp(
      org.apache.arrow.vector.types.TimeUnit.MICROSECOND, null)
    case DateType => new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY)
    case other => throw new IllegalArgumentException(s"unsupported arrow export type: $other")
  }

  private def toArrowField(f: StructField): Field = f.dataType match {
    // list<elem> with the pyarrow child name ("item") so pandas
    // round-trips; elements nullable like Spark's containsNull
    case ArrayType(elem, _) =>
      // elements restricted to what the list writer in pumpRows can
      // set — validate HERE (like the struct case below) so an
      // unsupported element type fails before the writer starts, not
      // mid-stream with a truncated partial file on disk
      elem match {
        case LongType | IntegerType | DoubleType | FloatType | StringType => ()
        case t => throw new IllegalArgumentException(
          s"unsupported list element type for arrow export: $t")
      }
      val child = new Field("item", FieldType.nullable(scalarArrowType(elem)),
        java.util.Collections.emptyList())
      new Field(f.name, FieldType.nullable(new ArrowType.List()),
        java.util.Collections.singletonList(child))
    // struct<...>: members restricted to what writeStructValue can
    // set (scalars + nested structs) — validate HERE, before the
    // writer starts, so an unsupported member type fails up front
    // instead of mid-stream with a truncated partial file on disk
    case StructType(fields) =>
      fields.foreach { m =>
        m.dataType match {
          case LongType | IntegerType | DoubleType | FloatType | StringType
               | BooleanType | BinaryType | TimestampNTZType | _: StructType => ()
          case t => throw new IllegalArgumentException(
            s"unsupported struct member type for arrow export: ${m.name}: $t")
        }
      }
      new Field(f.name, FieldType.nullable(new ArrowType.Struct()),
        fields.map(toArrowField).toList.asJava)
    case dt =>
      new Field(f.name, FieldType.nullable(scalarArrowType(dt)),
        java.util.Collections.emptyList())
  }

  private def sparkTypeOf(t: ArrowType): DataType = t match {
    case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 64 => LongType
    case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 32 => IntegerType
    case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 16 => ShortType
    case i: ArrowType.Int if i.getIsSigned && i.getBitWidth == 8 => ByteType
    // unsigned (numpy uint dtypes): widen to the next signed type;
    // uint64 -> DECIMAL(20,0), the same mapping Spark's parquet
    // reader uses for UINT_64
    case i: ArrowType.Int if i.getBitWidth == 8 => ShortType
    case i: ArrowType.Int if i.getBitWidth == 16 => IntegerType
    case i: ArrowType.Int if i.getBitWidth == 32 => LongType
    case i: ArrowType.Int if i.getBitWidth == 64 => DecimalType(20, 0)
    case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
    case fp: ArrowType.FloatingPoint if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
    case fp: ArrowType.FloatingPoint if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
    case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 => StringType
    case _: ArrowType.Bool => BooleanType
    case _: ArrowType.Binary | _: ArrowType.LargeBinary => BinaryType
    // any unit (s/ms/us/ns — pandas default is ns); values normalize
    // to microseconds on decode (ns truncates, the pandas->parquet
    // convention)
    case ts: ArrowType.Timestamp =>
      if (ts.getTimezone == null) TimestampNTZType else TimestampType
    case _: ArrowType.Date => DateType
    case other => throw new IllegalArgumentException(s"unsupported arrow type: $other")
  }

  /** Field-aware type mapping: list / large_list / fixed_size_list
    * (the pyarrow shapes embedding and token columns ship in) map to
    * ArrayType of the single child's scalar type; everything else is
    * scalar. */
  private def sparkTypeOfField(f: Field): DataType = f.getType match {
    case _: ArrowType.List | _: ArrowType.LargeList | _: ArrowType.FixedSizeList =>
      ArrayType(sparkTypeOfField(childField(f, 0)), containsNull = true)
    case _: ArrowType.Struct =>
      StructType(f.getChildren.asScala.map(c =>
        StructField(c.getName, sparkTypeOfField(childField0(c)), nullable = true)).toSeq)
    case t => sparkTypeOf(t)
  }

  /** Nested dictionary encoding (a dictionary-encoded child of a
    * list/struct) would decode as raw index integers — reject loudly.
    * Only TOP-LEVEL columns resolve through the dictionary machinery. */
  private def childField(f: Field, i: Int): Field = childField0(f.getChildren.get(i))
  private def childField0(c: Field): Field = {
    require(c.getDictionary == null,
      s"dictionary-encoded nested field '${c.getName}' unsupported " +
        "(decode it with pyarrow, or dictionary-encode only top-level columns)")
    c
  }

  /** Spark fields of an Arrow schema. arrow-java's IN-MEMORY field
    * for a dictionary-encoded column carries the INDEX type; the
    * decoded value type lives on the dictionary's own vector, looked
    * up via `dictValueType` (id -> value ArrowType). */
  private def sparkFieldsOf(aschema: ASchema,
      dictValueType: Long => ArrowType = id =>
        throw new IllegalArgumentException(s"unresolvable dictionary $id")): Seq[StructField] =
    aschema.getFields.asScala.map { f =>
      val t = Option(f.getDictionary) match {
        case Some(enc) => sparkTypeOf(dictValueType(enc.getId))
        case None => sparkTypeOfField(f)
      }
      StructField(f.getName, t, nullable = true)
    }.toSeq

  /** Decode the currently-loaded batch of `root` into Rows.
    * `dicts(ci)` non-null = column ci is DICTIONARY-ENCODED (pandas
    * categoricals via pyarrow): the batch vector holds indices (any
    * integer width), values come from the file-level dictionary. */
  private def rowsOfBatch(root: VectorSchemaRoot, nFields: Int,
      dicts: Array[org.apache.arrow.vector.dictionary.Dictionary]): Seq[Row] = {
    val n = root.getRowCount
    def scalarOf(vec: ValueVector, ri: Int): Any = vec match {
      case v: BigIntVector => v.get(ri)
      case v: IntVector => v.get(ri)
      case v: SmallIntVector => v.get(ri)
      case v: TinyIntVector => v.get(ri)
      case v: Float8Vector => v.get(ri)
      case v: Float4Vector => v.get(ri)
      case v: VarCharVector => new String(v.get(ri), "UTF-8")
      case v: BitVector => v.get(ri) == 1
      case v: VarBinaryVector => v.get(ri)
      case v: UInt1Vector => (v.get(ri) & 0xff).toShort
      case v: UInt2Vector => v.get(ri).toInt // char-typed accessor
      case v: UInt4Vector => v.get(ri) & 0xffffffffL
      case v: UInt8Vector =>
        val raw = v.get(ri)
        val bi = if (raw >= 0) java.math.BigInteger.valueOf(raw)
          else java.math.BigInteger.valueOf(raw)
            .add(java.math.BigInteger.ONE.shiftLeft(64))
        new java.math.BigDecimal(bi)
      case v: DecimalVector => v.getObject(ri) // java.math.BigDecimal
      case v: LargeVarCharVector => new String(v.get(ri), "UTF-8")
      case v: LargeVarBinaryVector => v.get(ri)
      // any timestamp unit (pandas defaults to ns; parquet convention
      // truncates ns -> us): naive -> LocalDateTime (TimestampNTZType
      // row value); tz-aware -> Instant (TimestampType)
      case v: TimeStampVector =>
        import org.apache.arrow.vector.types.TimeUnit._
        val at = v.getField.getFieldType.getType.asInstanceOf[ArrowType.Timestamp]
        val us = at.getUnit match {
          case SECOND => v.get(ri) * 1000000L
          case MILLISECOND => v.get(ri) * 1000L
          case MICROSECOND => v.get(ri)
          case NANOSECOND => Math.floorDiv(v.get(ri), 1000L)
        }
        if (at.getTimezone == null)
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L).toInt * 1000,
            java.time.ZoneOffset.UTC)
        else // java.sql.Timestamp: the TimestampType external value
          // Spark's Row encoder accepts regardless of the java8API flag
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case v: DateDayVector =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.get(ri).toLong))
      case v: DateMilliVector => // date64: millis at midnight UTC
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          Math.floorDiv(v.get(ri), 86400000L)))
      // list / large_list / fixed_size_list -> Seq over the shared
      // data vector (offsets for lists, ri*listSize spans for
      // FixedSizeList)
      case v: org.apache.arrow.vector.complex.ListVector =>
        val data = v.getDataVector
        (v.getElementStartIndex(ri) until v.getElementEndIndex(ri)).map { ei =>
          if (data.isNull(ei)) null else scalarOf(data, ei)
        }
      case v: org.apache.arrow.vector.complex.FixedSizeListVector =>
        val data = v.getDataVector
        (v.getElementStartIndex(ri) until v.getElementEndIndex(ri)).map { ei =>
          if (data.isNull(ei)) null else scalarOf(data, ei)
        }
      case v: org.apache.arrow.vector.complex.LargeListVector =>
        val data = v.getDataVector
        val s = v.getElementStartIndex(ri); val e = v.getElementEndIndex(ri)
        require(e <= Int.MaxValue, "large_list batch exceeds 2^31 elements")
        (s.toInt until e.toInt).map { ei =>
          if (data.isNull(ei)) null else scalarOf(data, ei)
        }
      // struct -> Spark Row over the child vectors at the same index
      case v: org.apache.arrow.vector.complex.StructVector =>
        val nch = v.getField.getChildren.size
        Row.fromSeq((0 until nch).map { ci =>
          val ch = v.getChildByOrdinal(ci)
          if (ch.isNull(ri)) null else scalarOf(ch, ri)
        })
      case other => throw new IllegalArgumentException(s"unsupported vector: ${other.getClass}")
    }
    (0 until n).map { ri =>
      Row.fromSeq((0 until nFields).map { ci =>
        val vec = root.getVector(ci)
        if (vec.isNull(ri)) null
        else if (dicts(ci) != null) {
          val idx = (scalarOf(vec, ri): @unchecked) match {
            case i: Int => i; case l: Long => l.toInt
            case s: Short => s.toInt; case b: Byte => b.toInt
          }
          val dv = dicts(ci).getVector
          if (dv.isNull(idx)) null else scalarOf(dv, idx)
        }
        else scalarOf(vec, ri)
      })
    }
  }

  /** Buffer-compression codec for [[write]]: "lz4" (LZ4_FRAME) or
    * "zstd" — the two codecs the Arrow IPC spec defines (and pyarrow
    * writes); None = uncompressed. */
  private def codecOf(compression: Option[String]): Option[CompressionUtil.CodecType] =
    compression.map {
      case "lz4" => CompressionUtil.CodecType.LZ4_FRAME
      case "zstd" => CompressionUtil.CodecType.ZSTD
      case other => throw new IllegalArgumentException(
        s"unsupported arrow compression '$other' (lz4, zstd)")
    }

  /** Export a frame as one Arrow IPC file, streaming `batchRows`-row
    * record batches through the driver (no whole-frame collect).
    * `compression` Some("lz4"|"zstd") emits compressed record-batch
    * buffers (what `pyarrow.feather.write_feather` does by default).
    * `dictColumns` DICTIONARY-ENCODES the named string columns
    * (pandas-categorical style): distinct values go to a file-level
    * dictionary batch (one bounded distinct per column — categorical
    * by definition), record batches carry int32 indices. */
  def write(df: DataFrame, path: String, batchRows: Int = 65536,
            compression: Option[String] = None,
            dictColumns: Seq[String] = Nil): Unit = {
    require(batchRows > 0, "batchRows must be positive")
    val schema = df.schema
    dictColumns.foreach { c =>
      require(schema.fields.exists(f => f.name == c && f.dataType == StringType),
        s"dictColumns: $c must be an existing string column")
    }
    import org.apache.spark.sql.functions.col
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryProvider}
    import org.apache.arrow.vector.types.pojo.DictionaryEncoding
    val allocator = new RootAllocator()
    try {
      // one dictionary per encoded column: sorted distinct non-null
      // values (deterministic ids/indices)
      val dictValues: Map[String, Array[String]] = dictColumns.map { c =>
        c -> df.select(col(c)).where(col(c).isNotNull).distinct()
          .orderBy(col(c)).collect().map(_.getString(0))
      }.toMap
      val provider = new DictionaryProvider.MapDictionaryProvider()
      val dictVecs = scala.collection.mutable.ArrayBuffer[VarCharVector]()
      val encodings = dictColumns.zipWithIndex.map { case (c, i) =>
        val vec = new VarCharVector(s"$c-dict", allocator)
        dictVecs += vec
        val vals = dictValues(c)
        vec.allocateNew(vals.length)
        vals.zipWithIndex.foreach { case (s, j) => vec.setSafe(j, s.getBytes("UTF-8")) }
        vec.setValueCount(vals.length)
        val enc = new DictionaryEncoding(i.toLong, false, new ArrowType.Int(32, true))
        provider.put(new Dictionary(vec, enc))
        c -> enc
      }.toMap
      // MEMORY-format fields: a dictionary-encoded column's root
      // vector holds int32 INDICES (the writer converts the schema
      // message to the value type through the provider)
      val aschema = new ASchema(schema.fields.map { f =>
        if (encodings.contains(f.name))
          new Field(f.name,
            new FieldType(true, new ArrowType.Int(32, true), encodings(f.name)),
            java.util.Collections.emptyList())
        else toArrowField(f)
      }.toList.asJava)
      val root = VectorSchemaRoot.create(aschema, allocator)
      val dictIndex: Map[Int, Map[String, Int]] =
        schema.fields.zipWithIndex.collect {
          case (f, ci) if encodings.contains(f.name) =>
            ci -> dictValues(f.name).zipWithIndex.toMap
        }.toMap
      val out = java.nio.channels.Channels.newChannel(FsIO.create(path))
      val writer = codecOf(compression) match {
        case Some(codec) => new ArrowFileWriter(root, provider, out,
          null, IpcOption.DEFAULT, ArrowCodecs.Factory, codec)
        case None => new ArrowFileWriter(root, provider, out)
      }
      try pump(df, schema, root, writer, batchRows, dictIndex)
      finally {
        writer.close(); out.close(); root.close()
        dictVecs.foreach(_.close())
      }
    } finally allocator.close()
  }

  /** DISTRIBUTED Arrow export: every partition writes its own
    * `part-NNNNN.arrow` file in `dir` directly from its executor — no
    * driver streaming, no shuffle, wall-clock bounded by the largest
    * partition. The scale path for Arrow output (the single-file
    * [[write]] is inherently one writer); read the directory back
    * with `Readers.open(spark, s"$dir/part-*.arrow")` or openMany.
    * Empty partitions write no file. Returns the file count.
    *
    * `dir` is a Hadoop FileSystem path (plain local, `file:`, `hdfs:`,
    * `s3a:`, ...): each executor streams its shard through
    * `FileSystem.create` against the TARGET filesystem, so on a real
    * cluster shards land where the path says — there is no
    * shared-POSIX-mount assumption. */
  def writeSharded(df: DataFrame, dir: String, batchRows: Int = 65536,
                   compression: Option[String] = None): Int = {
    require(batchRows > 0, "batchRows must be positive")
    val schema = df.schema
    // clear stale shards: a re-export with FEWER partitions must not
    // leave higher-numbered part files for the glob read to pick up
    FsIO.mkdirs(dir)
    FsIO.deleteShards(dir, ".arrow")
    val comp = compression
    val br = batchRows
    val written = df.rdd.mapPartitionsWithIndex { (pi, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val allocator = new RootAllocator()
        try {
          val aschema = new ASchema(schema.fields.map(toArrowField).toList.asJava)
          val root = VectorSchemaRoot.create(aschema, allocator)
          val out = java.nio.channels.Channels.newChannel(
            FsIO.create(f"$dir/part-$pi%05d.arrow"))
          val writer = codecOf(comp) match {
            case Some(codec) => new ArrowFileWriter(root, null, out,
              null, IpcOption.DEFAULT, ArrowCodecs.Factory, codec)
            case None => new ArrowFileWriter(root, null, out)
          }
          try pumpRows(it.asJava, schema, root, writer, br)
          finally { writer.close(); out.close(); root.close() }
        } finally allocator.close()
        Iterator.single(1)
      }
    }.count()
    written.toInt
  }

  /** Stream `batchRows`-row record batches from the frame through an
    * Arrow writer (file or stream framing — both extend ArrowWriter). */
  private def pump(df: DataFrame, schema: StructType, root: VectorSchemaRoot,
                   writer: org.apache.arrow.vector.ipc.ArrowWriter,
                   batchRows: Int,
                   dictIndex: Map[Int, Map[String, Int]] = Map.empty): Unit =
    pumpRows(df.toLocalIterator(), schema, root, writer, batchRows, dictIndex)

  private def pumpRows(it: java.util.Iterator[Row], schema: StructType,
                       root: VectorSchemaRoot,
                       writer: org.apache.arrow.vector.ipc.ArrowWriter,
                       batchRows: Int,
                       dictIndex: Map[Int, Map[String, Int]] = Map.empty): Unit = {
    writer.start()
    val batch = new Array[Row](batchRows)
    var done = false
    while (!done) {
      var n = 0
      while (n < batchRows && it.hasNext) { batch(n) = it.next(); n += 1 }
      done = !it.hasNext
      if (n > 0) {
        root.allocateNew()
        schema.fields.zipWithIndex.foreach { case (f, ci) =>
          val vec = root.getVector(ci)
          var ri = 0
          while (ri < n) {
            val row = batch(ri)
            if (row.isNullAt(ci)) () // leave unset -> null
            else (f.dataType, vec) match {
              case (StringType, v: IntVector) if dictIndex.contains(ci) =>
                v.setSafe(ri, dictIndex(ci)(row.getString(ci))) // dictionary index
              case (LongType, v: BigIntVector) => v.setSafe(ri, row.getLong(ci))
              case (IntegerType, v: IntVector) => v.setSafe(ri, row.getInt(ci))
              case (ShortType, v: SmallIntVector) => v.setSafe(ri, row.getShort(ci))
              case (ByteType, v: TinyIntVector) => v.setSafe(ri, row.getByte(ci))
              case (d: DecimalType, v: DecimalVector) =>
                v.setSafe(ri, row.getDecimal(ci).setScale(d.scale))
              case (DoubleType, v: Float8Vector) => v.setSafe(ri, row.getDouble(ci))
              case (FloatType, v: Float4Vector) => v.setSafe(ri, row.getFloat(ci))
              case (StringType, v: VarCharVector) =>
                v.setSafe(ri, row.getString(ci).getBytes("UTF-8"))
              case (BooleanType, v: BitVector) => v.setSafe(ri, if (row.getBoolean(ci)) 1 else 0)
              case (BinaryType, v: VarBinaryVector) =>
                v.setSafe(ri, row.getAs[Array[Byte]](ci))
              case (TimestampNTZType, v: TimeStampMicroVector) =>
                val ldt = row.getAs[java.time.LocalDateTime](ci)
                v.setSafe(ri, ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
                  + ldt.getNano / 1000L)
              case (DateType, v: DateDayVector) =>
                val days = row.get(ci) match {
                  case d: java.sql.Date => d.toLocalDate.toEpochDay
                  case d: java.time.LocalDate => d.toEpochDay
                }
                v.setSafe(ri, days.toInt)
              case (ArrayType(elem, _), v: org.apache.arrow.vector.complex.ListVector) =>
                // low-level offset API: startNewValue back-fills any
                // skipped (null) rows' offsets, endValue marks set
                val start = v.startNewValue(ri)
                val data = v.getDataVector
                val xs = row.getSeq[Any](ci)
                var j = 0
                xs.foreach { x =>
                  if (x == null) () // validity stays unset -> null element
                  else (elem, data) match {
                    case (LongType, d: BigIntVector) => d.setSafe(start + j, x.asInstanceOf[Long])
                    case (IntegerType, d: IntVector) => d.setSafe(start + j, x.asInstanceOf[Int])
                    case (DoubleType, d: Float8Vector) => d.setSafe(start + j, x.asInstanceOf[Double])
                    case (FloatType, d: Float4Vector) => d.setSafe(start + j, x.asInstanceOf[Float])
                    case (StringType, d: VarCharVector) =>
                      d.setSafe(start + j, x.asInstanceOf[String].getBytes("UTF-8"))
                    case (et, _) => throw new IllegalArgumentException(
                      s"unsupported list element type: $et")
                  }
                  j += 1
                }
                v.endValue(ri, xs.length)
              case (st: StructType, v: org.apache.arrow.vector.complex.StructVector) =>
                writeStructValue(v, ri, row.getStruct(ci), st)
              case (dt, _) => throw new IllegalArgumentException(s"unsupported type: $dt")
            }
            ri += 1
          }
          vec.setValueCount(n)
        }
        root.setRowCount(n)
        writer.writeBatch()
      }
    }
    writer.end()
  }

  /** Write one struct value: mark the row defined, then set each
    * non-null child at the same index (recursing into nested
    * structs). Children left unset stay null. */
  private def writeStructValue(v: org.apache.arrow.vector.complex.StructVector,
                               ri: Int, r: Row, st: StructType): Unit = {
    v.setIndexDefined(ri)
    st.fields.zipWithIndex.foreach { case (f, j) =>
      if (!r.isNullAt(j)) (f.dataType, v.getChildByOrdinal(j)) match {
        case (LongType, c: BigIntVector) => c.setSafe(ri, r.getLong(j))
        case (IntegerType, c: IntVector) => c.setSafe(ri, r.getInt(j))
        case (DoubleType, c: Float8Vector) => c.setSafe(ri, r.getDouble(j))
        case (FloatType, c: Float4Vector) => c.setSafe(ri, r.getFloat(j))
        case (StringType, c: VarCharVector) =>
          c.setSafe(ri, r.getString(j).getBytes("UTF-8"))
        case (BooleanType, c: BitVector) => c.setSafe(ri, if (r.getBoolean(j)) 1 else 0)
        case (BinaryType, c: VarBinaryVector) => c.setSafe(ri, r.getAs[Array[Byte]](j))
        case (TimestampNTZType, c: TimeStampMicroVector) =>
          val ldt = r.getAs[java.time.LocalDateTime](j)
          c.setSafe(ri, ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
            + ldt.getNano / 1000L)
        case (nested: StructType, c: org.apache.arrow.vector.complex.StructVector) =>
          writeStructValue(c, ri, r.getStruct(j), nested)
        case (dt, _) => throw new IllegalArgumentException(
          s"unsupported struct member type: $dt")
      }
    }
  }

  /** Per-column dictionary lookup (null where unencoded): a field's
    * DictionaryEncoding id resolves through the reader's loaded
    * dictionary batches. */
  private def dictsOf(reader: org.apache.arrow.vector.ipc.ArrowReader,
      root: VectorSchemaRoot): Array[org.apache.arrow.vector.dictionary.Dictionary] =
    root.getSchema.getFields.asScala.map { f =>
      Option(f.getDictionary)
        .map(enc => reader.getDictionaryVectors.get(enc.getId))
        .orNull
    }.toArray

  /** Read an Arrow IPC file into a DataFrame. Distributed: the driver
    * touches only the footer (schema + record-batch index); each task
    * decodes its own batches. The path must be executor-visible
    * (shared FS), like any Spark input. */
  def read(spark: SparkSession, path: String): DataFrame = {
    // driver: schema + batch count from the footer (+ dictionary
    // value types — the file reader loads dictionaries on init)
    val (sparkFields, nBatches) = {
      val allocator = new RootAllocator(MaxReadAllocBytes)
      val in = new FsIO.InChannel(path)
      try {
        val reader = new ArrowFileReader(in, allocator,
          ArrowCodecs.Factory)
        try (sparkFieldsOf(reader.getVectorSchemaRoot.getSchema,
            id => Option(reader.getDictionaryVectors.get(id)).map(
              _.getVector.getField.getType).getOrElse(throw new IllegalArgumentException(
              s"dictionary $id has no dictionary batch in this file/stream"))),
          reader.getRecordBlocks.size)
        finally reader.close()
      } finally { in.close(); allocator.close() }
    }
    val schema = StructType(sparkFields)
    val nFields = sparkFields.size
    val parts = math.max(1, math.min(nBatches, spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext.parallelize(0 until nBatches, parts)
      .mapPartitions { batchIdxs =>
        val idxs = batchIdxs.toArray
        if (idxs.isEmpty) Iterator.empty
        else {
          val allocator = new RootAllocator(MaxReadAllocBytes)
          val in = new FsIO.InChannel(path)
          // compression factory makes LZ4_FRAME/ZSTD record batches
          // (pyarrow >= 4 default feather output) decode per-executor
          val reader = new ArrowFileReader(in, allocator,
            ArrowCodecs.Factory)
          try {
            val root = reader.getVectorSchemaRoot
            val blocks = reader.getRecordBlocks
            val dicts = dictsOf(reader, root)
            val out = idxs.iterator.flatMap { bi =>
              reader.loadRecordBatch(blocks.get(bi))
              rowsOfBatch(root, nFields, dicts)
            }.toVector.iterator // decode fully before closing the reader
            // SUCCESS path closes strictly: allocator.close() is the
            // leak detector and a genuine reader leak must fail loud
            reader.close(); in.close(); allocator.close()
            out
          } catch { case e: Throwable =>
            // FAILURE path closes quietly: a corrupt batch can leave
            // an orphaned buffer that makes allocator.close() throw
            // "Memory was leaked" from the cleanup — which would MASK
            // the actual parse error (and log a scary stack) without
            // freeing anything anyway
            try reader.close() catch { case _: Throwable => () }
            try in.close() catch { case _: Throwable => () }
            try allocator.close() catch { case _: Throwable => () }
            throw e
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Export in the Arrow IPC STREAM framing (`pyarrow.ipc.new_stream`,
    * inter-process pipes): schema message + record batches + EOS, no
    * footer. Use the FILE framing ([[write]]) when readers need the
    * batch index for parallel decode. */
  def writeStream(df: DataFrame, path: String, batchRows: Int = 65536,
                  compression: Option[String] = None): Unit = {
    require(batchRows > 0, "batchRows must be positive")
    val schema = df.schema
    val allocator = new RootAllocator()
    try {
      val aschema = new ASchema(schema.fields.map(toArrowField).toList.asJava)
      val root = VectorSchemaRoot.create(aschema, allocator)
      val out = java.nio.channels.Channels.newChannel(FsIO.create(path))
      val writer = codecOf(compression) match {
        case Some(codec) => new ArrowStreamWriter(root, null, out,
          IpcOption.DEFAULT, ArrowCodecs.Factory, codec)
        case None => new ArrowStreamWriter(root, null, out)
      }
      try pump(df, schema, root, writer, batchRows)
      finally { writer.close(); out.close(); root.close() }
    } finally allocator.close()
  }

  /** Read an Arrow IPC STREAM-framed file. The framing has no footer
    * or batch index, so decode is a single sequential pass (one task);
    * the result is repartitioned for downstream parallelism. For
    * batch-parallel scans store the FILE framing instead ([[read]]). */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    val sparkFields = {
      val allocator = new RootAllocator(MaxReadAllocBytes)
      val in = FsIO.open(path)
      try {
        val reader = new ArrowStreamReader(in, allocator,
          ArrowCodecs.Factory)
        try {
          val sch = reader.getVectorSchemaRoot.getSchema
          // stream framing delivers dictionaries just before first
          // use — pull one batch so value types are resolvable
          if (sch.getFields.asScala.exists(_.getDictionary != null))
            reader.loadNextBatch()
          sparkFieldsOf(sch,
            id => Option(reader.getDictionaryVectors.get(id)).map(
              _.getVector.getField.getType).getOrElse(throw new IllegalArgumentException(
              s"dictionary $id has no dictionary batch in this file/stream")))
        } finally reader.close()
      } finally { in.close(); allocator.close() }
    }
    val schema = StructType(sparkFields)
    val nFields = sparkFields.size
    val rdd = spark.sparkContext.parallelize(Seq(0), 1)
      .mapPartitions { _ =>
        val allocator = new RootAllocator(MaxReadAllocBytes)
        val in = FsIO.open(path)
        val reader = new ArrowStreamReader(in, allocator,
          ArrowCodecs.Factory)
        try {
          val root = reader.getVectorSchemaRoot
          val rows = Vector.newBuilder[Row]
          // stream framing interleaves dictionary batches before use;
          // resolve per loaded batch (deltas replace the mapping)
          while (reader.loadNextBatch())
            rows ++= rowsOfBatch(root, nFields, dictsOf(reader, root))
          rows.result().iterator
        } finally { reader.close(); in.close(); allocator.close() }
      }
    spark.createDataFrame(rdd, schema)
      .repartition(spark.sparkContext.defaultParallelism)
  }
}
