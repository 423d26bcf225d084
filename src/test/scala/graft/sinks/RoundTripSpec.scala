package graft.sinks

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Flaco, ParityOptions, TestSpark}
import graft.sources.Corpus

/** Parquet round-trip correctness — the Spark analogue of the
  * reference's pagila differential suite (`tests/test_general.py:10-46`
  * writes 14 tables through both sinks and compares; `:49-71` checks
  * groupby parity; `:74-100` the null matrix). Oracle here is the
  * in-memory DataFrame itself: write → read back → exact compare.
  */
class RoundTripSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def roundTrip(df: DataFrame, parity: ParityOptions = ParityOptions()): DataFrame = {
    val dir = Files.createTempDirectory("rt").toString + "/t"
    Flaco.writeParquet(df, dir, parity)
    spark.read.parquet(dir)
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSet === b.columns.toSet)
    assert(a.count() === b.count())
    val cols = a.columns.toSeq
    assert(a.exceptAll(b.select(cols.head, cols.tail: _*)).isEmpty)
    assert(b.select(cols.head, cols.tail: _*).exceptAll(a).isEmpty)
  }

  test("every corpus table round-trips through the Parquet sink") {
    Corpus.tableNames.foreach { name =>
      val df = Corpus.read(spark, TestSpark.sf, name)
      assertSame(df, roundTrip(df))
    }
  }

  test("groupby-sum/max parity survives the round trip") {
    // Mirrors tests/test_general.py:64-71 (pandas groupby oracle).
    val li = Corpus.read(spark, TestSpark.sf, "lineitem")
    val rt = roundTrip(li)
    def agg(d: DataFrame) = d.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("s"),
        org.apache.spark.sql.functions.max("l_extendedprice").as("m"))
      .orderBy("l_returnflag").collect().toSeq
    assert(agg(li) === agg(rt))
  }

  test("null matrix: nulls in every type survive the round trip") {
    // Mirrors tests/test_general.py:74-100 (2 all-NULL rows appended).
    val schema = StructType(Seq(
      StructField("i4", IntegerType), StructField("i8", LongType),
      StructField("f4", FloatType), StructField("f8", DoubleType),
      StructField("s", StringType), StructField("b", BinaryType),
      StructField("bo", BooleanType), StructField("d", DateType),
      StructField("ts", TimestampNTZType),
      StructField("arr", ArrayType(FloatType))))
    val rows = java.util.List.of(
      Row(1, 2L, 1.5f, 2.5, "x", Array[Byte](1, 2), true,
        java.time.LocalDate.of(2024, 1, 2),
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000),
        Seq(1.0f, 2.0f)),
      Row(null, null, null, null, null, null, null, null, null, null),
      Row(null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows, schema)
    val rt = roundTrip(df).orderBy(org.apache.spark.sql.functions.col("i4").asc_nulls_last)
    val got = rt.collect()
    assert(got.length === 3)
    assert(!got(0).anyNull)
    (1 to 2).foreach(r => (0 until schema.length).foreach(c =>
      assert(got(r).isNullAt(c), s"row $r col $c should be null")))
  }

  test("writeParquet keeps a dictionary for a low-cardinality column " +
    "and writes a unique int8 column PLAIN, on both writers") {
    // 50k unique longs are 400 KB, over the 64 KiB budget. (At
    // parquet-mr's 1 MiB default the page-end compression check also
    // lands them PLAIN, but only after building the whole dictionary,
    // which a footer cannot show.)
    val df = spark.range(50000).selectExpr("id as uniq",
      "cast(id % 10 as int) as few")
    Seq(ParityOptions(singleFile = true),
        ParityOptions(singleFile = true, variantInterop = true)).foreach { parity =>
      val dir = Files.createTempDirectory("pdict").toString + "/t"
      Flaco.writeParquet(df, dir, parity)
      val file = new java.io.File(dir).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.getPath), new Configuration()))
      try {
        val chunks = reader.getFooter.getBlocks.asScala.toSeq
          .flatMap(_.getColumns.asScala)
        def stats(col: String) = {
          val s = chunks.filter(_.getPath.toDotString == col).map(_.getEncodingStats)
          assert(s.nonEmpty, s"no column chunk for $col")
          s
        }
        assert(stats("few").forall(s =>
          s.hasDictionaryPages && !s.hasNonDictionaryEncodedPages), parity)
        assert(stats("uniq").forall(s =>
          !s.hasDictionaryPages && !s.hasDictionaryEncodedPages), parity)
      } finally reader.close()
      assert(spark.read.parquet(dir).exceptAll(df).isEmpty)
    }
  }

  test("singleFile+uncompressed parity writes one data file") {
    // The reference's single-chunk, compression-none layout
    // (src/lib.rs:124-140) behind ParityOptions.
    val df = Corpus.read(spark, TestSpark.sf, "region")
    val dir = Files.createTempDirectory("pf").toString + "/t"
    Flaco.writeParquet(df, dir,
      ParityOptions(singleFile = true, uncompressed = true))
    val parts = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length === 1)
    assert(spark.read.parquet(dir).count() === df.count())
  }
}
