package graft.sinks

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileInputStream}
import java.nio.channels.Channels
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.{FlacoSparkException, TestSpark}
import graft.sources.Corpus

/** End-to-end exercise of the Feather/Arrow-IPC sink (the analogue of
  * `write_table_to_feather`, reference `src/lib.rs:150-168`): write
  * every corpus table plus a null matrix, read the files back with the
  * independent Arrow-Java reader, and compare cell-by-cell against the
  * source DataFrame — covering the encoder's Date/Timestamp/TIME/List
  * field writers.
  */
class FeatherSinkSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** Read one IPC file back as (nulls, values) per column per row. */
  private def readBack(file: String, schema: StructType): Seq[Seq[Any]] = {
    val alloc = new RootAllocator()
    val in = new FileInputStream(file)
    val reader = new ArrowFileReader(in.getChannel, alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (reader.loadNextBatch()) {
        val n = root.getRowCount
        (0 until n).foreach { i =>
          out += schema.fields.indices.map { c =>
            val v = root.getVector(c)
            if (v.isNull(i)) null else cell(v, schema.fields(c).dataType, i)
          }
        }
      }
      out.toSeq
    } finally { reader.close(); in.close(); alloc.close() }
  }

  private def cell(v: FieldVector, dt: DataType, i: Int): Any = dt match {
    case IntegerType => v.asInstanceOf[IntVector].get(i)
    case LongType => v.asInstanceOf[BigIntVector].get(i)
    case ShortType => v.asInstanceOf[SmallIntVector].get(i)
    case ByteType => v.asInstanceOf[TinyIntVector].get(i)
    case FloatType => v.asInstanceOf[Float4Vector].get(i)
    case DoubleType => v.asInstanceOf[Float8Vector].get(i)
    case BooleanType => v.asInstanceOf[BitVector].get(i) == 1
    case StringType =>
      new String(v.asInstanceOf[VarCharVector].get(i), "UTF-8")
    case BinaryType => v.asInstanceOf[VarBinaryVector].get(i).toSeq
    case DateType => v.asInstanceOf[DateDayVector].get(i).toLong
    case TimestampType => v.asInstanceOf[TimeStampMicroTZVector].get(i)
    case TimestampNTZType => v.asInstanceOf[TimeStampMicroVector].get(i)
    case _: TimeType => v.asInstanceOf[TimeMicroVector].get(i)
    case ArrayType(FloatType | DoubleType, _) =>
      v.asInstanceOf[ListVector].getObject(i)
        .asInstanceOf[java.util.List[_]].asScala.toSeq
    case other => fail(s"unhandled test type $other")
  }

  /** The same canonical form for a Spark row cell. */
  private def expected(row: Row, c: Int, dt: DataType): Any =
    if (row.isNullAt(c)) null
    else dt match {
      case DateType => row.getAs[Any](c) match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay
        case d: java.time.LocalDate => d.toEpochDay
      }
      case TimestampType => row.getAs[Any](c) match {
        case t: java.sql.Timestamp =>
          t.getTime * 1000L + (t.getNanos % 1000000) / 1000
        case t: java.time.Instant =>
          t.getEpochSecond * 1000000L + t.getNano / 1000
      }
      case TimestampNTZType =>
        val t = row.getAs[java.time.LocalDateTime](c)
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
      case _: TimeType =>
        row.getAs[java.time.LocalTime](c).toNanoOfDay / 1000L
      case BinaryType => row.getAs[Array[Byte]](c).toSeq
      case ArrayType(_, _) => row.getSeq[Any](c)
      case _ => row.get(c)
    }

  private def assertFeatherRoundTrip(df: DataFrame): Unit = {
    val file = Files.createTempDirectory("ft").toString + "/t.arrow"
    FeatherSink.write(df, file, singleFile = true)
    val got = readBack(file, df.schema)
    val want = df.collect().toSeq.map(r =>
      df.schema.fields.indices.map(c => expected(r, c, df.schema.fields(c).dataType)))
    assert(got.length === want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g === w, s"row $i differs")
    }
  }

  test("every corpus table round-trips through the Feather sink") {
    Corpus.tableNames.foreach { name =>
      assertFeatherRoundTrip(Corpus.read(spark, TestSpark.sf, name))
    }
  }

  test("null matrix: nulls in every supported type round-trip") {
    val schema = StructType(Seq(
      StructField("i4", IntegerType), StructField("i8", LongType),
      StructField("i2", ShortType), StructField("i1", ByteType),
      StructField("f4", FloatType), StructField("f8", DoubleType),
      StructField("s", StringType), StructField("b", BinaryType),
      StructField("bo", BooleanType), StructField("d", DateType),
      StructField("ts", TimestampNTZType),
      StructField("tz", TimestampType),
      // Spark 4.1 native TIME — the reference's own Time64(us)
      // output arm (src/lib.rs:350-366).
      StructField("t6", TimeType(6)),
      StructField("arr", ArrayType(FloatType))))
    val rows = java.util.List.of(
      Row(7, 8L, 9.toShort, 3.toByte, 1.5f, 2.5, "héllo", Array[Byte](0, 127),
        false, java.time.LocalDate.of(1999, 12, 31),
        java.time.LocalDateTime.of(2024, 6, 1, 12, 0, 0, 654321000),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-06-01T12:00:00.123456Z")),
        java.time.LocalTime.of(23, 59, 59, 999999000),
        Seq(0.5f, -1.5f)),
      Row(null, null, null, null, null, null, null, null, null, null, null, null, null, null))
    assertFeatherRoundTrip(spark.createDataFrame(rows, schema))
  }

  test("default mode writes one IPC file per partition in parallel") {
    val df = Corpus.read(spark, TestSpark.sf, "orders").repartition(3)
    val dir = Files.createTempDirectory("ftp").toString + "/out"
    FeatherSink.write(df, dir)
    val parts = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".arrow"))
    assert(parts.length === 3)
    val total = parts.map(p => readBack(p.getPath, df.schema).length).sum
    assert(total === df.count())
  }

  test("write then readFile(Feather) round-trips, single-file and per-partition") {
    val spark0 = spark
    val df = Corpus.read(spark0, TestSpark.sf, "orders")
    val cols = df.columns.toSeq

    val single = Files.createTempDirectory("fr1").toString + "/t.arrow"
    FeatherSink.write(df, single, singleFile = true)
    val back1 = graft.Flaco.readFile(spark0, single, graft.FileFormat.Feather)
    assert(back1.count() === df.count())
    assert(back1.select(cols.head, cols.tail: _*).exceptAll(df).isEmpty)

    val parts = Files.createTempDirectory("fr2").toString + "/out"
    FeatherSink.write(df.repartition(3), parts)
    val back2 = graft.Flaco.readFile(spark0, parts, graft.FileFormat.Feather)
    assert(back2.rdd.getNumPartitions === 3, "one task per IPC file")
    assert(back2.count() === df.count())
    assert(back2.select(cols.head, cols.tail: _*).exceptAll(df).isEmpty)
  }

  test("readFile(Feather) round-trips the null matrix of every supported type") {
    val schema = StructType(Seq(
      StructField("i4", IntegerType), StructField("i8", LongType),
      StructField("f4", FloatType), StructField("f8", DoubleType),
      StructField("s", StringType), StructField("bo", BooleanType),
      StructField("d", DateType), StructField("ts", TimestampNTZType),
      StructField("tz", TimestampType),
      // TIME must survive the engine's OWN read path (FeatherSource),
      // not just a raw Arrow-Java read-back — the sink writes
      // Time64(us), the source must map it to TimeType(6).
      StructField("t6", TimeType(6)),
      StructField("arr", ArrayType(FloatType))))
    val rows = java.util.List.of(
      Row(7, 8L, 1.5f, 2.5, "héllo", false,
        java.time.LocalDate.of(1999, 12, 31),
        java.time.LocalDateTime.of(2024, 6, 1, 12, 0, 0, 654321000),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-06-01T12:00:00.123456Z")),
        java.time.LocalTime.of(23, 59, 59, 999999000),
        Seq(0.5f, -1.5f)),
      Row(0, 0L, 0f, 0.0, "", true,
        java.time.LocalDate.of(1970, 1, 1),
        java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 0),
        java.sql.Timestamp.from(java.time.Instant.EPOCH),
        java.time.LocalTime.MIDNIGHT,
        Seq.empty[Float]),
      Row(null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows, schema)

    val p = Files.createTempDirectory("frn").toString + "/t.arrow"
    FeatherSink.write(df, p, singleFile = true)
    val back = graft.Flaco.readFile(spark, p, graft.FileFormat.Feather)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)

    // Per-partition mode: same matrix through the parallel layout.
    val parts = Files.createTempDirectory("frnp").toString + "/out"
    FeatherSink.write(df.repartition(2), parts)
    val back2 = graft.Flaco.readFile(spark, parts, graft.FileFormat.Feather)
    assert(back2.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back2.exceptAll(df).isEmpty && df.exceptAll(back2).isEmpty)
  }

  /** Every type the sink supports, with a null row every 7th row. */
  private val allTypes = StructType(Seq(
      StructField("i4", IntegerType), StructField("i8", LongType),
      StructField("i2", ShortType), StructField("i1", ByteType),
      StructField("f4", FloatType), StructField("f8", DoubleType),
      StructField("s", StringType), StructField("b", BinaryType),
      StructField("bo", BooleanType), StructField("d", DateType),
      StructField("ts", TimestampNTZType), StructField("tz", TimestampType),
      StructField("t6", TimeType(6)),
      StructField("af", ArrayType(FloatType)),
      StructField("ad", ArrayType(DoubleType))))

  private def allTypesRows(n: Int): Seq[Row] =
    (0 until n).map { i =>
      if (i % 7 == 3) Row.fromSeq(Seq.fill(allTypes.length)(null))
      else Row(i, i * 1000000007L, (i - 15).toShort, (i - 15).toByte,
        i / 4.0f, i / 3.0, s"s$i-é", Array.tabulate[Byte](i % 4)(_.toByte),
        i % 2 == 0, java.time.LocalDate.of(1999, 12, 31).plusDays(i),
        java.time.LocalDateTime.of(2024, 6, 1, 12, 0, 0, 654321000).plusSeconds(i),
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-01T12:00:00.123456Z").plusMillis(i)),
        // sub-millisecond: µs digits must survive
        java.time.LocalTime.of(i % 24, 59, 59, 999999000 - i * 1000),
        Seq.tabulate(i % 3)(_ * 0.5f),
        if (i % 5 == 0) Seq(1.5, null, -2.5) else Seq.tabulate(i % 4)(_ * 0.25))
    }

  test("every supported type, with nulls, encodes the same through " +
    "collectAsArrowStream and both Feather layouts, in partition order") {
    val schema = allTypes
    val df = spark.createDataFrame(spark.sparkContext.parallelize(allTypesRows(30), 3), schema)
    assert(df.rdd.getNumPartitions === 3)
    val want = df.collect().toSeq.map(r =>
      schema.fields.indices.map(c => expected(r, c, schema.fields(c).dataType)))

    val alloc = new RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(graft.Flaco.collectAsArrowStream(df)), alloc)
    val streamed = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    try {
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.findField("t6").getType === new ArrowType.Time(
        org.apache.arrow.vector.types.TimeUnit.MICROSECOND, 64))
      while (reader.loadNextBatch()) {
        (0 until root.getRowCount).foreach { i =>
          streamed += schema.fields.indices.map { c =>
            val v = root.getVector(c)
            if (v.isNull(i)) null else cell(v, schema.fields(c).dataType, i)
          }
        }
      }
    } finally { reader.close(); alloc.close() }
    assert(streamed.toSeq === want)

    val single = Files.createTempDirectory("fte").toString + "/t.arrow"
    FeatherSink.write(df, single, singleFile = true)
    assert(readBack(single, schema) === want)

    val dir = Files.createTempDirectory("ftep").toString + "/out"
    FeatherSink.write(df, dir)
    val parts = new java.io.File(dir).listFiles.map(_.getPath).filter(_.endsWith(".arrow")).sorted
    assert(parts.length === 3)
    assert(parts.toSeq.flatMap(readBack(_, schema)) === want)
  }

  test("a per-partition write replaces what was at its path") {
    val df = Corpus.read(spark, TestSpark.sf, "orders")
    val dir = Files.createTempDirectory("ftr").toString + "/out"
    FeatherSink.write(df.repartition(3), dir)
    val second = df.filter("o_orderkey % 2 = 0").coalesce(1)
    FeatherSink.write(second, dir)
    val back = graft.Flaco.readFile(spark, dir, graft.FileFormat.Feather)
    assert(back.count() === second.count())
    assert(back.exceptAll(second).isEmpty && second.exceptAll(back).isEmpty)
  }

  test("an empty per-partition write reads back as 0 rows with its schema") {
    val df = Corpus.read(spark, TestSpark.sf, "orders").filter("o_orderkey < 0")
    val dir = Files.createTempDirectory("fte0").toString + "/out"
    FeatherSink.write(df, dir)
    val back = graft.Flaco.readFile(spark, dir, graft.FileFormat.Feather)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() === 0)
  }

  test("an empty singleFile write reads back as 0 rows with its schema") {
    val df = Corpus.read(spark, TestSpark.sf, "orders").filter("o_orderkey < 0")
    val file = Files.createTempDirectory("fte1").toString + "/t.arrow"
    FeatherSink.write(df, file, singleFile = true)
    val back = graft.Flaco.readFile(spark, file, graft.FileFormat.Feather)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() === 0)
  }

  test("collectAsArrowStream round-trips through an independent Arrow reader") {
    val df = Corpus.read(spark, TestSpark.sf, "customer")
    val bytes = graft.Flaco.collectAsArrowStream(df)
    val alloc = new RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    try {
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.getFields.asScala.map(_.getName).toSeq ===
        df.columns.toSeq)
      while (reader.loadNextBatch()) {
        val n = root.getRowCount
        (0 until n).foreach { i =>
          got += df.schema.fields.indices.map { c =>
            val v = root.getVector(c)
            if (v.isNull(i)) null else cell(v, df.schema.fields(c).dataType, i)
          }
        }
      }
    } finally { reader.close(); alloc.close() }
    val want = df.collect().toSeq.map(r =>
      df.schema.fields.indices.map(c => expected(r, c, df.schema.fields(c).dataType)))
    assert(got.toSeq === want)
    assert(got.nonEmpty)
  }

  test("collectAsArrowStream of an empty result carries schema and zero rows") {
    val df = Corpus.read(spark, TestSpark.sf, "orders").filter("o_orderkey < 0")
    val bytes = graft.Flaco.collectAsArrowStream(df)
    val alloc = new RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      assert(reader.getVectorSchemaRoot.getSchema.getFields.asScala
        .map(_.getName).toSeq === df.columns.toSeq)
      var rows = 0
      while (reader.loadNextBatch()) rows += reader.getVectorSchemaRoot.getRowCount
      assert(rows === 0)
    } finally { reader.close(); alloc.close() }
  }

  test("unsupported column type is rejected with FlacoSparkException") {
    val df = spark.sql("select map('k', 1) as m")
    val e = intercept[FlacoSparkException] {
      FeatherSink.write(df, "/tmp/never-written.arrow", singleFile = true)
    }
    assert(e.getMessage.contains("not supported"))
  }

  /** Runs `body` with `key` set to `value` on the shared session. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** SHA-256 of each sink output for `df`: the Arrow stream, the
    * singleFile Feather file and each per-partition file by name.
    */
  private def sinkDigests(df: DataFrame): Map[String, String] = {
    def sha(b: Array[Byte]) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(b).map("%02x".format(_)).mkString
    val dir = Files.createTempDirectory("ftd")
    FeatherSink.write(df, s"$dir/one.arrow", singleFile = true)
    FeatherSink.write(df, s"$dir/parts")
    val parts = dir.resolve("parts").toFile.listFiles.map(f =>
      s"parts/${f.getName}" -> sha(Files.readAllBytes(f.toPath)))
    Map("stream" -> sha(graft.Flaco.collectAsArrowStream(df)),
      "one.arrow" -> sha(Files.readAllBytes(dir.resolve("one.arrow")))) ++ parts
  }

  /** 10,000 rows of every type in two Parquet files, and a third that
    * holds the schema alone: a 3-partition read with one empty partition.
    */
  private lazy val allTypesParquet: String = {
    val dir = Files.createTempDirectory("ftcol").toString
    spark.createDataFrame(spark.sparkContext.parallelize(allTypesRows(10000), 2), allTypes)
      .write.parquet(s"$dir/a")
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], allTypes).write.parquet(s"$dir/b")
    dir
  }

  private def readAllTypes(): DataFrame =
    spark.read.parquet(s"$allTypesParquet/a", s"$allTypesParquet/b")

  test("a columnar scan's own batches encode byte for byte as its rows do") {
    val columnar = readAllTypes()
    assert(FeatherSink.source(columnar)._2, columnar.queryExecution.executedPlan.toString)
    assert(columnar.queryExecution.toRdd.mapPartitions(it => Iterator(it.size))
      .collect().toSeq.sorted === Seq(0, 5000, 5000))
    val viaBatches = sinkDigests(columnar)
    val viaRows = withConf("spark.sql.parquet.enableVectorizedReader", "false") {
      val rows = readAllTypes()
      assert(!FeatherSink.source(rows)._2, rows.queryExecution.executedPlan.toString)
      sinkDigests(rows)
    }
    assert(viaBatches.keySet ===
      Set("stream", "one.arrow", "parts/part-00000.arrow", "parts/part-00001.arrow"))
    assert(viaBatches === viaRows)

    // And the batches carry the values themselves, 4096 rows at most,
    // none spanning two partitions.
    val single = Files.createTempDirectory("ftc1").toString + "/t.arrow"
    FeatherSink.write(columnar, single, singleFile = true)
    val alloc = new RootAllocator()
    val in = new FileInputStream(single)
    val reader = new ArrowFileReader(in.getChannel, alloc)
    try assert(reader.getRecordBlocks.asScala.indices.map { b =>
      reader.loadRecordBatch(reader.getRecordBlocks.get(b))
      reader.getVectorSchemaRoot.getRowCount
    } === Seq(4096, 904, 4096, 904))
    finally { reader.close(); in.close(); alloc.close() }
    assert(readBack(single, allTypes) === columnar.collect().toSeq.map(r =>
      allTypes.fields.indices.map(c => expected(r, c, allTypes.fields(c).dataType))))
  }

  /** The Spark jobs `body` starts, counted once every event is delivered. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    GraftListenerBridge.drain(sc)
    sc.addSparkListener(counter)
    try { body; GraftListenerBridge.drain(sc) } finally sc.removeSparkListener(counter)
    started.get
  }

  /** An Arrow IPC stream read back like [[readBack]] reads a file. */
  private def readStream(bytes: Array[Byte], schema: StructType): Seq[Seq[Any]] = {
    val alloc = new RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch())
        (0 until root.getRowCount).foreach { i =>
          out += schema.fields.indices.map { c =>
            val v = root.getVector(c)
            if (v.isNull(i)) null else cell(v, schema.fields(c).dataType, i)
          }
        }
    } finally { reader.close(); alloc.close() }
    out.toSeq
  }

  test("collectAsArrowStream runs one job per partition and streams the " +
    "partitions in order; a singleFile and a per-partition write run one job each") {
    val ranged = spark.range(0, 25000, 1, 5).toDF("id")
    val parquet = readAllTypes().select("i8")
    Seq(ranged -> false, parquet -> true).foreach { case (df, columnar) =>
      assert(FeatherSink.source(df)._2 === columnar)
      val n = df.queryExecution.toRdd.getNumPartitions
      var bytes = Array.emptyByteArray
      assert(jobsDuring { bytes = graft.Flaco.collectAsArrowStream(df) } === n)
      // collect() returns the partitions in order.
      assert(readStream(bytes, df.schema) === df.collect().toSeq.map(r => Seq(r.get(0))))
      val dir = Files.createTempDirectory("ftj").toString
      assert(jobsDuring(FeatherSink.write(df, s"$dir/one.arrow", singleFile = true)) === 1)
      assert(readBack(s"$dir/one.arrow", df.schema) === df.collect().toSeq.map(r => Seq(r.get(0))))
      assert(jobsDuring(FeatherSink.write(df, s"$dir/parts")) === 1)
    }
    assert(readStream(graft.Flaco.collectAsArrowStream(ranged), ranged.schema) ===
      (0L until 25000L).map(Seq(_)))
  }

  test("a task that throws surfaces its own error, not a leaked-memory " +
    "one, and leaves no job running") {
    val boom = udf { (id: Long) =>
      if (id == 5000) throw new IllegalStateException("row 5000 fails") else id
    }
    val df = spark.range(0, 20000, 1, 3).select(boom(col("id")).as("id"))
    val dir = Files.createTempDirectory("ftf").toString
    Seq[(String, () => Any)](
      "collectAsArrowStream" -> (() => graft.Flaco.collectAsArrowStream(df)),
      "singleFile" -> (() => FeatherSink.write(df, s"$dir/one.arrow", singleFile = true)),
      "per-partition" -> (() => FeatherSink.write(df, s"$dir/parts"))).foreach {
      case (sink, run) =>
        val e = intercept[Exception](run())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
          c.getMessage == "row 5000 fails"), s"$sink: $e")
        assert(!chain.exists(c => String.valueOf(c.getMessage).contains("Memory was leaked")),
          s"$sink: $e")
        eventually(timeout(Span(10, Seconds))) {
          GraftListenerBridge.drain(spark.sparkContext)
          assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, sink)
        }
    }
    assert(!new java.io.File(s"$dir/one.arrow").exists())
    // The other tasks' files are whole; the failed task's is valid
    // Arrow up to its last batch. None of them may read as the result.
    assert(!new java.io.File(s"$dir/parts").exists())
  }

  /** `bytes` read back with ArrowStreamReader and written again
    * through ArrowStreamWriter, batch for batch.
    */
  private def rewritten(bytes: Array[Byte]): Array[Byte] = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
    val out = new ByteArrayOutputStream()
    try {
      val writer = new ArrowStreamWriter(reader.getVectorSchemaRoot, null, Channels.newChannel(out))
      writer.start()
      while (reader.loadNextBatch()) writer.writeBatch()
      writer.end()
    } finally { reader.close(); alloc.close() }
    out.toByteArray
  }

  test("collectAsArrowStream writes the bytes ArrowStreamWriter writes for the same batches") {
    val frames = Seq(
      "every type" -> spark.createDataFrame(
        spark.sparkContext.parallelize(allTypesRows(30), 3), allTypes),
      "every type, columnar, two batches a partition" -> readAllTypes(),
      "empty" -> readAllTypes().filter("i4 < 0"))
    frames.foreach { case (name, df) =>
      val bytes = graft.Flaco.collectAsArrowStream(df)
      assert(java.util.Arrays.equals(bytes, rewritten(bytes)), name)
    }
  }

  test("a singleFile write keeps the order of a multi-split Parquet read " +
    "whose splits have preferred locations") {
    val dir = Files.createTempDirectory("ftord").toString
    spark.range(0, 40000, 1, 8).selectExpr("id", "cast(id as string) as s")
      .write.parquet(s"$dir/t")
    spark.sparkContext.hadoopConfiguration.set("fs.hosted.impl", classOf[HostedFileSystem].getName)
    // One file a split: no split is empty, so a reorder shows.
    withConf("spark.sql.files.maxPartitionBytes", "1048576") {
      withConf("spark.sql.files.openCostInBytes", "1048576") {
        val split = spark.read.parquet(s"hosted://$dir/t")
        val files = split.queryExecution.executedPlan.collectFirst {
          case scan: FileSourceScanExec => scan.inputRDD
        }.get
        assert(files.getNumPartitions === 8)
        assert(files.partitions.forall(p => files.preferredLocations(p).nonEmpty))
        assert(split.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq === Seq.fill(8)(5000))
        // A partition without locations ahead of those with them.
        val mixed = spark.range(-5, 0, 1, 1).selectExpr("id", "cast(id as string) as s")
          .union(split)
        Seq("split" -> split, "mixed" -> mixed).foreach { case (name, df) =>
          val file = s"$dir/$name.arrow"
          FeatherSink.write(df, file, singleFile = true)
          assert(readBack(file, df.schema) === df.collect().toSeq.map(_.toSeq), name)
        }
      }
    }
  }
}

/** The local file system under the scheme `hosted`, whose files each
  * report their one block on a host of their own, as HDFS reports
  * them; Spark drops `localhost` from a split's preferred locations,
  * so a local read has none.
  */
class HostedFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hosted:///")
  override def getFileBlockLocations(f: org.apache.hadoop.fs.FileStatus, start: Long,
      len: Long): Array[org.apache.hadoop.fs.BlockLocation] = {
    val host = s"host-${f.getPath.getName.hashCode & 3}"
    Array(new org.apache.hadoop.fs.BlockLocation(Array(s"$host:9866"), Array(host), 0, f.getLen))
  }
}
