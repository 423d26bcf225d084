package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.queries.Registry

/** Driver-run correctness dump: each registered query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries are submitted from a small thread pool: Spark's scheduler is
  * thread-safe and the suite is dominated by many short jobs, so
  * overlapping submission hides per-job scheduling gaps (~2.5× wall-time
  * cut at 210 queries). oracle_sql.json is written BEFORE the queries so
  * a timeout-killed run still hands the driver the complete oracle map
  * (round 10's gate covered only 167/210 queries because the run was
  * killed part-way).
  */
object Verify {

  /** A JSON object of string members. Escapes backslash, quote and ALL
    * control chars (< 0x20): a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def jsonObject(members: Seq[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    members.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd+ args: run only these queries (local iteration;
    // the driver always passes exactly two).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors).toString)
    val spark = Flaco.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
    new java.io.File(outDir).mkdirs()

    // Oracles render for the corpus under verification (q254 embeds
    // the merge table trained on it).
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(Registry.oracles(spark, sfDir)))

    val todo = Registry.all.filter(q => only.isEmpty || only(q.name)).sortBy(_.name)
    val workers = math.max(2, math.min(6, cpus.toInt / 4))
    val pool = Executors.newFixedThreadPool(workers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = todo.map { q =>
      Future {
        try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // Several operators cache/persist intermediates they cannot safely
    // unpersist themselves (the returned plan still references them);
    // the concurrent rewrite dropped the per-query clear, so without
    // this the whole suite's blocks accumulate for the run — memory/
    // disk pressure at larger SFs. One sweep once all queries landed.
    spark.catalog.clearCache()
    spark.stop()
  }
}
