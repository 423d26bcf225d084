package graft.sinks

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{Flaco, ParityOptions, TestSpark}

/** External-reader interop for VARIANT Parquet
  * ([[graft.ParityOptions.variantInterop]]) — the r19 verdict's
  * shredded-variant caveat turned into a tested option.
  *
  * Spark 4.1 writes variant shredded + annotated with the new VARIANT
  * footer logical type by default; pyarrow (≤16) rejects that footer
  * outright. `variantInterop = true` must produce a file that
  *   (a) REAL pyarrow opens (struct<value,metadata>, row count intact),
  *   (b) REAL DuckDB scans (row count + non-null binary blobs), and
  *   (c) Spark itself still reads back as typed VARIANT, values intact.
  * The default write's pyarrow failure is pinned as a TRIPWIRE: when a
  * future pyarrow learns the variant logical type, that test fails
  * loudly and the doc caveat can be retired.
  *
  * Offline pattern (PyArrowParitySpec): python3 with pyarrow/duckdb is
  * a driver-side amenity — tests CANCEL when it is absent.
  */
class VariantInteropSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def pyOk(module: String): Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", s"import $module")
        .redirectErrorStream(true).start()
      p.waitFor() == 0
    } catch { case _: Exception => false }

  private lazy val pyarrowOk = pyOk("pyarrow")
  private lazy val duckdbOk = pyOk("duckdb")

  private def runPython(script: String, args: String*): (Int, String) = {
    val f = Files.createTempFile("vinterop", ".py")
    Files.write(f, script.getBytes("UTF-8"))
    val p = new ProcessBuilder(
      (Seq("python3", f.toString) ++ args): _*)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  private val Rows = 500L

  private def variantDf() = spark.range(Rows).selectExpr(
    "id",
    """parse_json(concat('{"a": ', id, ', "b": "x', id % 7, '",',
      | ' "nested": {"k": ', id % 3, '}}')) AS v""".stripMargin)

  test("variantInterop write opens in real pyarrow with intact rows") {
    assume(pyarrowOk, "python3/pyarrow unavailable")
    val dir = Files.createTempDirectory("vint_pa").toString + "/t"
    Flaco.writeParquet(variantDf(), dir, ParityOptions(variantInterop = true))
    val (rc, out) = runPython(
      """import sys
        |import pyarrow.parquet as pq
        |import pyarrow as pa
        |t = pq.read_table(sys.argv[1])
        |f = t.schema.field('v')
        |names = sorted(ft.name for ft in f.type)
        |assert pa.types.is_struct(f.type), f.type
        |print('NROWS', t.num_rows)
        |print('VFIELDS', ','.join(names))
        |vals = t.column('v').to_pylist()
        |assert all(r['value'] is not None for r in vals)
        |print('OK')
        |""".stripMargin, dir)
    assert(rc == 0, s"pyarrow read failed:\n$out")
    assert(out.contains(s"NROWS $Rows"), out)
    assert(out.contains("VFIELDS metadata,value"), out)
    assert(out.contains("OK"), out)
  }

  test("variantInterop write scans in real DuckDB with intact rows") {
    assume(duckdbOk, "python3/duckdb unavailable")
    val dir = Files.createTempDirectory("vint_dd").toString + "/t"
    Flaco.writeParquet(variantDf(), dir, ParityOptions(variantInterop = true))
    val (rc, out) = runPython(
      """import sys, glob
        |import duckdb
        |g = sys.argv[1] + '/*.parquet'
        |n = duckdb.sql(f"SELECT count(*) FROM '{g}'").fetchone()[0]
        |nn = duckdb.sql(
        |    f"SELECT count(*) FROM '{g}' WHERE v.value IS NOT NULL"
        |).fetchone()[0]
        |print('NROWS', n, 'NONNULL', nn)
        |""".stripMargin, dir)
    assert(rc == 0, s"duckdb read failed:\n$out")
    assert(out.contains(s"NROWS $Rows NONNULL $Rows"), out)
  }

  test("Spark reads the interop file back as typed VARIANT, values intact") {
    val dir = Files.createTempDirectory("vint_sp").toString + "/t"
    Flaco.writeParquet(variantDf(), dir, ParityOptions(variantInterop = true))
    val back = spark.read.parquet(dir)
    assert(back.schema("v").dataType.typeName === "variant")
    val sums = back.selectExpr(
      "CAST(sum(variant_get(v, '$.a', 'bigint')) AS BIGINT) AS sa",
      "CAST(sum(variant_get(v, '$.nested.k', 'bigint')) AS BIGINT) AS sk",
      "count(DISTINCT variant_get(v, '$.b', 'string')) AS nb").collect()(0)
    assert(sums.getLong(0) === (0L until Rows).sum)
    assert(sums.getLong(1) === (0L until Rows).map(_ % 3).sum)
    assert(sums.getLong(2) === 7L)
    // and no typed_value shredding in the bytes
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(part.toPath)
    val needle = "typed_value".getBytes("UTF-8")
    assert(!bytes.sliding(needle.length).exists(_.sameElements(needle)),
      "interop file must not be shredded")
  }

  test("interop write never mutates the shared session conf — a " +
    "default write DURING the interop window keeps its annotation") {
    assume(pyarrowOk, "python3/pyarrow unavailable")
    val k = "spark.sql.parquet.variant.annotateLogicalType.enabled"
    val before = spark.conf.get(k)
    // Run the interop write CONCURRENTLY with a default variant write:
    // under the old set/restore window the default write could land
    // inside the window and silently lose its annotation (and two
    // interop writes could interleave the save/restore into a lasting
    // default flip). With newSession() isolation the shared session's
    // conf is never written at all.
    val dirI = Files.createTempDirectory("vint_iso_i").toString + "/t"
    val dirD = Files.createTempDirectory("vint_iso_d").toString + "/t"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fi = pool.submit(new Runnable {
        def run(): Unit = Flaco.writeParquet(variantDf(), dirI,
          ParityOptions(variantInterop = true))
      })
      val fd = pool.submit(new Runnable {
        def run(): Unit = Flaco.writeParquet(variantDf(), dirD)
      })
      fi.get(); fd.get()
    } finally pool.shutdown()
    assert(spark.conf.get(k) === before,
      "interop write leaked a conf change into the shared session")
    // The default write that overlapped the interop window must still
    // carry the annotated footer (pyarrow rejects it — the tripwire
    // signature), proving the window did not strip it.
    val (rc, out) = runPython(
      """import sys
        |import pyarrow.parquet as pq
        |try:
        |    pq.read_table(sys.argv[1])
        |    print('PARSED')
        |except Exception as e:
        |    print('UNPARSEABLE', type(e).__name__)
        |""".stripMargin, dirD)
    assert(rc == 0, out)
    assert(out.contains("UNPARSEABLE"),
      "default write lost its annotation during a concurrent interop " +
        "write:\n" + out)
    // And the interop file itself is still external-reader-safe.
    val (rc2, out2) = runPython(
      """import sys
        |import pyarrow.parquet as pq
        |t = pq.read_table(sys.argv[1])
        |print('NROWS', t.num_rows)
        |""".stripMargin, dirI)
    assert(rc2 == 0, s"isolated interop write unreadable:\n$out2")
    assert(out2.contains(s"NROWS $Rows"), out2)
  }

  test("interop write follows a conf key the parent unset") {
    val k = "spark.sql.parquet.compression.codec"
    def footerCodec(dir: String): String = {
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getPath),
          new org.apache.hadoop.conf.Configuration()))
      try reader.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name
      finally reader.close()
    }
    val gz = Files.createTempDirectory("vint_gz").toString + "/t"
    val dflt = Files.createTempDirectory("vint_dflt").toString + "/t"
    spark.conf.set(k, "gzip")
    try Flaco.writeParquet(variantDf(), gz, ParityOptions(variantInterop = true))
    finally spark.conf.unset(k)
    Flaco.writeParquet(variantDf(), dflt, ParityOptions(variantInterop = true))
    assert(footerCodec(gz) === "GZIP")
    assert(footerCodec(dflt) === "SNAPPY",
      "the isolated interop session kept the parent's unset codec")
  }

  test("TRIPWIRE: default (shredded+annotated) write still fails in pyarrow") {
    assume(pyarrowOk, "python3/pyarrow unavailable")
    val dir = Files.createTempDirectory("vint_def").toString + "/t"
    Flaco.writeParquet(variantDf(), dir)
    val (rc, out) = runPython(
      """import sys
        |import pyarrow.parquet as pq
        |try:
        |    pq.read_table(sys.argv[1])
        |    print('PARSED')
        |except Exception as e:
        |    print('UNPARSEABLE', type(e).__name__)
        |""".stripMargin, dir)
    assert(rc == 0, out)
    assert(out.contains("UNPARSEABLE"),
      "pyarrow now parses Spark's default variant footer — the " +
        "variantInterop doc caveat (Flaco.scala) can be narrowed, and " +
        "q263's interop note should be updated:\n" + out)
  }
}
