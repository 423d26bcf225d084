package perfbench

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Flaco
import graft.jdbc.MiniPgWire

/** The output checks compare digests taken on three paths: Spark's own
  * aggregate over a DataFrame, and the harness's row hasher over an
  * Arrow stream. They must agree on the same rows.
  */
class DigestSparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = Flaco.session(master = "local[2]", shufflePartitions = 2)

  override def afterAll(): Unit = spark.stop()

  test("the Arrow-stream digest equals the DataFrame digest, in any row order") {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("b", BinaryType),
      StructField("dt", DateType), StructField("ntz", TimestampNTZType),
      StructField("tz", TimestampType)))
    val rows = (1 to 500).map { i =>
      if (i % 50 == 0) Row(i, null, null, null, null, null, null, null, null)
      else Row(i, i * 1000003L, i / 7.0, i.toFloat / 3, s"row-$i", Array[Byte](i.toByte, 1),
        Date.valueOf("2000-01-01"), LocalDateTime.of(2001, 2, 3, 4, 5, i % 60),
        new Timestamp(1000000000000L + i))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val expected = Main.digestOf(df)
    assert(expected.count == 500)
    assert(Main.digestOfArrowStream(Flaco.collectAsArrowStream(df), schema) == expected)
    assert(Main.digestOf(df.orderBy(org.apache.spark.sql.functions.desc("i"))) == expected)
    assert(Main.digestOf(df.limit(499)) != expected)
  }

  test("same seed, same server-generated table (needs PERFBENCH_PG_URL)") {
    val url = sys.env.get("PERFBENCH_PG_URL")
    assume(url.isDefined, "set PERFBENCH_PG_URL to a throwaway PostgreSQL database")
    val (host, port, db, params) = graft.jdbc.MiniPgDriver.parseUrl(url.get)
    val w = new MiniPgWire(host, port, db, params.getOrElse("user", "postgres"), params.get("password"))
    def tableMd5(name: String, seed: Long): String = {
      Stats.ingestTableSql(name, 2000, seed).foreach(w.query)
      w.query(s"select md5(string_agg(t::text, '|' order by col1)) from $name t").last.data.text(0, 0)
    }
    try {
      val a = tableMd5("perfbench_seed_a", 11)
      assert(tableMd5("perfbench_seed_b", 11) == a)
      assert(tableMd5("perfbench_seed_c", 12) != a)
    } finally {
      w.query("DROP TABLE IF EXISTS perfbench_seed_a, perfbench_seed_b, perfbench_seed_c")
      w.close()
    }
  }
}
