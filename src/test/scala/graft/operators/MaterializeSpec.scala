package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Registry

/** Storage hygiene of every operator that materializes working
  * relations: after a query is built and collected, each persisted RDD
  * it added must be one its returned plan still reads (a checkpoint
  * leaf or a cached relation). Anything else — a superseded loop
  * round, a verified-away candidate cache — sits in block-manager
  * storage until session end.
  */
class MaterializeSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def planRdds(df: DataFrame): Set[Int] = {
    def ids(plan: LogicalPlan): Seq[Int] = plan.collectWithSubqueries {
      case l: LogicalRDD => l.rdd.id
      case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
        m.cacheBuilder.cachedColumnBuffers.id
    }
    val qe = df.queryExecution
    (ids(qe.logical) ++ ids(qe.withCachedData)).toSet
  }

  /** Persisted RDDs added while `body` runs, minus the ones `keep`
    * reads. Diffed against a snapshot because the shared session may
    * hold other suites' relations. Every persisted RDD is pinned at
    * each job end: otherwise a GC could let Spark's ContextCleaner
    * unpersist a leaked round before the check.
    */
  private def added[T](body: => T)(keep: T => Set[Int]): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val pin = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        sc.getPersistentRDDs.values.foreach(pinned.add)
    }
    sc.addSparkListener(pin)
    try {
      val out = body
      sc.getPersistentRDDs.keySet.toSet -- before -- keep(out)
    } finally sc.removeSparkListener(pin)
  }

  private def leaked(build: => DataFrame): Set[Int] =
    added { val df = build; df.collect(); df }(planRdds)

  private val queries = Seq("q43_dedup_clusters", "q108b_recursive_union",
    "q146_cyclic_closure", "q204_cycle_path", "q188_textrank",
    "q31c_ann_ivf_trained", "q244_bpe_train", "q185_effective_size",
    "q48b_decontaminate_bloom", "q190b_dup_spans_bloom", "q226_lsh_recall",
    "q175_cluster_topics")

  private val rows: Seq[(String, () => DataFrame)] =
    queries.map(q => q -> (() => Registry(q).build(spark, sf))) ++ Seq(
      // A 200-node chain drives many pointer-jumping rounds.
      "connectedComponents on a 200-node chain" -> { () =>
        val s = spark
        import s.implicits._
        Dedup.connectedComponents((0L until 199L).map(i => (i, i + 1))
          .toDF("a", "b"))
      },
      "candidatePairJaccard" -> (() => Dedup.candidatePairJaccard(spark, sf)))

  rows.foreach { case (name, build) =>
    test(s"$name leaks nothing") {
      val l = leaked(build())
      assert(l.isEmpty, s"${l.size} persisted RDDs left behind: " +
        l.toSeq.sorted.mkString(","))
    }
  }

  test("a round step that throws on round 2 leaves nothing stored") {
    val left = added {
      val err = intercept[IllegalStateException] {
        Materialize.scoped { s =>
          val base = s.hold(spark.range(100).toDF("x").cache())
          s.rounds("failing", s(base), 8)(Seq(_)) { (df, round) =>
            if (round == 1) throw new IllegalStateException("round 2 failed")
            (s(df.select((col("x") + 1).as("x"))), true)
          }._1
        }
      }
      assert(err.getMessage === "round 2 failed")
    }(_ => Set.empty)
    assert(left.isEmpty, s"persisted RDDs left after the throw: $left")
  }
}
