package graft

/** Plan-audit main: print the formatted physical plan of one or more
  * SparkEntry queries. Used to check the scale contract per
  * operator — filters reach the scan as PushedFilters, small sides
  * broadcast, no CartesianProduct / BroadcastNestedLoop over a
  * corpus-sized input, wide WholeStageCodegen spans.
  *
  * The FINAL stage is printed without being executed. Queries whose
  * builders eagerly materialize intermediates — the broadcast-build
  * collects in q48/q48b and the cache-release checkpoints inside
  * candidatePairJaccard (q27/q28/q43/q50/q52/q58) — do run those
  * upstream jobs during plan construction, and their printed plan
  * starts from the materialized LogicalRDD leaf; audit the upstream
  * stages via the operator's scaladoc and specs (the materialization
  * is deliberate: it is how those operators release their working
  * state before returning).
  *
  *   sbt "runMain graft.Explain q28_minhash_lsh q29_embedding_neardup"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Flaco.session(master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
