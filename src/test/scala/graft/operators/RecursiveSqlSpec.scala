package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.LateralJoin
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Registry

/** The two delegated-SQL-surface gates added in round 8: Spark's own
  * recursive-CTE execution (q108) and LATERAL correlated table
  * subqueries (q109). Beyond the DuckDB oracles, this spec pins the
  * properties the oracle can't see: the recursion really iterates
  * (depth matches ⌊log₂ max(key)⌋), a recursive closure agrees with
  * the pointer-jumping CC operator on the SAME pair graph, and the
  * lateral subquery DECORRELATES — no per-customer re-scan of orders
  * survives planning.
  */
class RecursiveSqlSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("recursive ancestor closure has log-depth and one chain per node") {
    val rows = Registry("q108_recursive_cte").build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val maxKey = rows.map(_._1).max
    val wantDepth = (63 - java.lang.Long.numberOfLeadingZeros(maxKey)).toLong
    assert(rows.map(_._3).max === wantDepth,
      s"recursion depth != floor(log2($maxKey))")
    // Each node's chain is exactly the halving walk to the root —
    // an independent per-node replay of what the fixpoint computed.
    rows.groupBy(_._1).foreach { case (node, chain) =>
      // Base row at depth 0, then halve while the current ancestor
      // exceeds 1 (key 0 exists in this corpus: its chain is itself).
      val want = scala.collection.mutable.Set((node, 0L))
      var a = node
      var d = 0L
      while (a > 1) { a /= 2; d += 1; want += ((a, d)) }
      assert(chain.map(c => (c._2, c._3)).toSet === want,
        s"ancestor chain for $node diverges from the halving walk")
    }
  }

  test("UNION-distinct closure matches a per-node BFS replay and the " +
      "fixture genuinely converges") {
    val got = Registry("q108b_recursive_union").build(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val keys = graft.sources.Corpus.read(spark, sf, "customer")
      .select(col("c_custkey").cast("long")).collect().map(_.getLong(0))
    // Independent replay: per-node BFS over the two-parent rule
    // (anc div 2 / anc div 3, kept while >= 1 and strictly smaller).
    def parents(a: Long): Seq[Long] =
      Seq(a / 2, a / 3).filter(p => p >= 1 && p < a)
    val want = keys.flatMap { k =>
      val acc = scala.collection.mutable.Set(k)
      var frontier = Set(k)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(parents).filterNot(acc)
        acc ++= next
        frontier = next
      }
      acc.map(a => (k, a))
    }.toSet
    assert(got === want)
    // The gate is only meaningful if the DAG actually has converging
    // paths — i.e. UNION ALL would derive strictly more rows (one
    // per WALK) than there are facts. Count walks from the max key
    // with memoized recursion and demand strict excess.
    val walks = scala.collection.mutable.Map[Long, Long]()
    def nWalks(a: Long): Long = walks.getOrElseUpdate(a,
      1L + parents(a).map(nWalks).sum)
    val maxKey = keys.max
    val facts = got.count(_._1 == maxKey).toLong
    assert(nWalks(maxKey) > facts,
      s"fixture DAG from $maxKey has no converging paths — " +
        "UNION vs UNION ALL would be indistinguishable")
  }

  test("recursive closure agrees with pointer-jumping CC on the same pair graph") {
    val pairs = Dedup.minhashLshPairs(spark, sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    pairs.createOrReplaceTempView("pair_graph")
    // Spark's recursive CTEs accept only UNION ALL
    // (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which diverges on a
    // cyclic (undirected) graph — so the closure is depth-bounded
    // with an external dedup. Sound iff the bound exceeds every
    // component's DIAMETER — which is what must be asserted (a
    // degree cap bounds walk cost, not diameter: a chain of
    // degree-2 nodes longer than the bound would make the closure
    // silently incomplete and this test spuriously red on a future
    // fixture). BFS from every node of the collected pair graph —
    // the fixture has a few dozen edges, so the exact eccentricity
    // sweep is trivial. The q43 oracle's DuckDB recursion over this
    // same graph uses UNION (distinct) — together the triangle
    // closes: engine CC == engine recursion == oracle recursion.
    val edgeList = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edgeList ++ edgeList.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    def eccentricity(start: Long): Int = {
      var depth = 0
      var frontier = Set(start)
      var seen = Set(start)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj(_)) -- seen
        if (next.nonEmpty) depth += 1
        seen ++= next
        frontier = next
      }
      depth
    }
    // d < 8 admits d = 0..8, i.e. paths of up to 9 edges.
    val diameter = adj.keys.map(eccentricity).max
    assert(diameter <= 9,
      s"fixture component diameter $diameter exceeds the closure's 9-edge bound")
    val viaRecursion = spark.sql(
      """WITH RECURSIVE edges AS (
        |  SELECT a, b FROM pair_graph
        |  UNION SELECT b AS a, a AS b FROM pair_graph),
        |reach AS (
        |  SELECT a AS n, b AS m, 0 AS d FROM edges
        |  UNION ALL
        |  SELECT r.n, e.b AS m, r.d + 1 AS d
        |  FROM reach r JOIN edges e ON r.m = e.a WHERE r.d < 8)
        |SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
        |FROM reach GROUP BY n""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCc = Dedup.dedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaRecursion === viaCc)
    assert(viaRecursion.nonEmpty)
  }

  test("lateral subquery decorrelates to a join, matches the window formulation") {
    val df = Registry("q109_lateral_join").build(spark, sf)
    // The 100 TB contract: Catalyst must rewrite the correlated
    // LIMIT subquery to rank-over-partition + join. A surviving
    // LateralJoin, nested-loop or cartesian physical join would mean
    // a per-customer re-scan of orders.
    assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[LateralJoin]),
      "LateralJoin survived optimization")
    val phys = df.queryExecution.executedPlan
    assert(!phys.exists(p => p.isInstanceOf[BroadcastNestedLoopJoinExec]
        || p.isInstanceOf[CartesianProductExec]),
      s"non-equi physical join in:\n$phys")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val want = graft.sources.Corpus.read(spark, sf, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }
}
