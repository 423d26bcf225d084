package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Invariant specs for the round-9 breadth gates (FETCH FIRST WITH
  * TIES, regr_* aggregates, calendar-spine zero-fill, DISTINCT
  * aggregates). The value-level gate is the DuckDB oracle; these pin
  * what the oracle can't state: independent local replays and the
  * plan shapes the 100 TB contract depends on.
  */
class Breadth9Spec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  test("fetch-with-ties keeps exactly the rows tying the n-th sort key") {
    val orders = graft.sources.Corpus.read(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val n = 48
    // WITH TIES by definition: every row whose key <= the n-th
    // smallest key, duplicates counted.
    val bound = orders.map(_._2).sorted.apply(n - 1)
    val want = orders.filter(_._2 <= bound).map(_._1).toSet
    val got = Relational.fetchFirstWithTies(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(got === want)
    assert(got.size >= n)
  }

  test("fetch-with-ties plans a boundary filter, not a rank window") {
    // The scale contract: no window function (a global rank would
    // single-partition the sort) — the n-th key reduces via a top-n
    // and broadcasts into a <= filter.
    val df = Relational.fetchFirstWithTies(spark, sf)
    val hasWindow = df.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isDefined
    assert(!hasWindow, "WITH TIES emulation regressed to a rank window")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin"),
      s"1-row boundary should broadcast:\n$physical")
  }

  test("regr aggregates reproduce the closed form from exact sums") {
    val rows = graft.sources.Corpus.read(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = rows.groupBy(_._1).view.mapValues { g =>
      val n = BigInt(g.length)
      val sx = g.map(e => BigInt(e._2)).sum
      val sy = g.map(e => BigInt(e._3)).sum
      val sxy = g.map(e => BigInt(e._2) * BigInt(e._3)).sum
      val sxx = g.map(e => BigInt(e._2) * BigInt(e._2)).sum
      val syy = g.map(e => BigInt(e._3) * BigInt(e._3)).sum
      val dxy = (n * sxy - sx * sy).toDouble
      val dxx = (n * sxx - sx * sx).toDouble
      val dyy = (n * syy - sy * sy).toDouble
      (g.length.toLong, dxy / dxx,
        (sy.toDouble - dxy / dxx * sx.toDouble) / n.toDouble,
        dxy * dxy / (dxx * dyy))
    }.toMap
    val got = graft.Flaco.sql(spark, sf,
      """SELECT l_returnflag AS flag,
        |  CAST(regr_count(y, x) AS BIGINT) AS n_pairs,
        |  regr_slope(y, x) AS slope, regr_intercept(y, x) AS icept,
        |  regr_r2(y, x) AS r2
        |FROM (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS x,
        |  CAST(round(l_extendedprice * 100) AS DOUBLE) AS y
        |  FROM lineitem)
        |GROUP BY flag""".stripMargin).collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val (n, slope, icept, r2) = want(r.getString(0))
      assert(r.getLong(1) === n)
      assert(math.abs(r.getDouble(2) - slope) < math.abs(slope) * 1e-9)
      assert(math.abs(r.getDouble(3) - icept) < math.abs(icept) * 1e-6)
      assert(math.abs(r.getDouble(4) - r2) < 1e-9)
    }
  }

  test("calendar spine is gap-free, quarter-weighted and zero-filled") {
    val rows = graft.queries.Registry("q124_calendar_spine").build(spark, sf)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === 181) // Jan 1 .. Jun 30 1995, no gaps
    assert(rows.map(_._1).distinct.length === 181)
    assert(rows.head._1 === "1995-01-01" && rows.last._1 === "1995-06-30")
    rows.foreach { case (_, qtr, n, cents, weighted) =>
      assert(qtr === 1L || qtr === 2L)
      assert(weighted === n * (if (qtr == 1L) 10L else 25L))
      if (n == 0L) assert(cents === 0L) // zero-fill, not NULL
    }
    // The spine must cover days with no orders (else the LEFT JOIN
    // zero-fill is vacuous at this SF).
    assert(rows.exists(_._3 == 0L), "fixture left no empty days")
  }

  test("distinct aggregates match brute-force distinct sets") {
    val rows = graft.sources.Corpus.read(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = Relational.distinctAggs(spark, sf).collect()
    assert(got.length === rows.map(_._1).distinct.length)
    got.foreach { r =>
      val g = rows.filter(_._1 == r.getString(0))
      val dq = g.map(_._4).distinct
      assert(r.getLong(1) === g.map(_._2).distinct.length.toLong)
      assert(r.getLong(2) === g.map(e => (e._2, e._3)).distinct.length.toLong)
      assert(r.getLong(3) === dq.sum)
      assert(math.abs(r.getDouble(4) - dq.sum.toDouble / dq.length) < 1e-6)
      assert(r.getLong(5) === g.length.toLong)
    }
  }

  test("named-param binding matches literal inlining and still pushes down") {
    val text = """SELECT o_orderkey FROM orders
                 |WHERE o_totalprice > :lo ORDER BY o_orderkey""".stripMargin
    val bound = graft.Flaco.sqlParams(spark, sf, text,
      Map("lo" -> 200000)).collect().map(_.getLong(0)).toSeq
    val inlined = graft.Flaco.sql(spark, sf,
      text.replace(":lo", "200000")).collect().map(_.getLong(0)).toSeq
    assert(bound === inlined)
    assert(bound.nonEmpty)
    // The bound predicate must reach the parquet scan like a literal.
    val scan = graft.Flaco.sqlParams(spark, sf, text, Map("lo" -> 200000))
      .queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,200000.0)]"),
      s"param did not push down:\n$scan")
  }

  test("weighted sample draws exactly the k smallest exponential clocks") {
    val k = 20
    val docs = graft.sources.Corpus.read(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def key(docId: Long, w: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ws:$docId".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4503599627370496.0
      -math.log(u) / w.toDouble
    }
    val want = docs.filter(_._3 > 0).groupBy(_._2).view.mapValues { g =>
      g.map(d => (key(d._1, d._3), d._1)).sorted.take(k).map(_._2).toSet
    }.toMap
    val got = Curation.weightedSample(spark, sf, k).collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (lang, ids) => assert(ids === want(lang), lang) }
  }

  test("ranked search reproduces the brute-force tf-idf top-k") {
    val docs = graft.sources.Corpus.read(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val terms = TextAnalysis.SearchTerms
    val tfs = docs.map { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      (id, terms.map(t => toks.count(_ == t).toLong))
    }
    val n = docs.length.toDouble
    val dfv = terms.indices.map(i => tfs.count(_._2(i) > 0).toDouble)
    val scored = tfs.filter(_._2.sum > 0).map { case (id, tf) =>
      // Same fixed evaluation order as both engine encodings.
      val raw = tf(0) * math.log(n / dfv(0)) +
        tf(1) * math.log(n / dfv(1)) + tf(2) * math.log(n / dfv(2))
      (id, raw)
    }
    val want = scored.sortBy { case (id, raw) => (-raw, id) }.take(10)
      .map(_._1).toSeq
    val got = TextAnalysis.rankedSearch(spark, sf).collect()
      .map(_.getLong(0)).toSeq
    assert(got.sorted === want.sorted)
  }

  test("ranked search plans a global top-k heap, not a full sort") {
    val physical = TextAnalysis.rankedSearch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(physical.contains("TakeOrderedAndProject"),
      s"top-k should plan as TakeOrderedAndProject:\n$physical")
  }

  test("date_bin replays exactly in JVM integer arithmetic") {
    val strideUs = 15L * 60 * 1000 * 1000
    val originUs = 5L * 60 * 1000 * 1000
    val got = Events.dateBin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (id, us, bin) =>
      val want = originUs + ((us - originUs) / strideUs) * strideUs
      assert(bin === want, s"event $id")
      assert(bin <= us && us - bin < strideUs, s"event $id outside bin")
      // The :05 origin must be visible: bins are NOT quarter-hour
      // aligned to the epoch.
      assert(bin % strideUs === originUs % strideUs)
    }
  }

  test("range predicates replay the definitional truth table") {
    val rows = graft.queries.Registry("q131_range_predicates").build(spark, sf)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val dates = graft.sources.Corpus.read(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").cast("string"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (key, cents, ovl, sym) =>
      val s1 = java.time.LocalDate.parse(dates(key))
      val e1 = s1.plusDays(30)
      val pLo = java.time.LocalDate.parse("1995-04-01")
      val pHi = java.time.LocalDate.parse("1995-06-30")
      assert(ovl === Some(if (s1.isBefore(pHi) && pLo.isBefore(e1)) 1L else 0L),
        s"order $key overlap")
      // NULL operand (key % 13 == 0) must give NULL sym (3VL), else
      // the normalized [5e6, 2e7] band.
      if (key % 13 == 0) { assert(cents === None); assert(sym === None) }
      else assert(sym === Some(
        if (cents.get >= 5000000L && cents.get <= 20000000L) 1L else 0L))
    }
  }

  test("json_agg emits the exact bytes of the ordered payload") {
    val events = graft.sources.Corpus.read(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))"),
        expr("CAST(round(value * 100) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = events.groupBy(_._1).view.mapValues { g =>
      g.sortBy(e => (e._3, e._2)).take(3)
        .map(e => s"""{"u":${e._3},"x":${e._4}}""")
        .mkString("[", ",", "]")
    }.toMap
    val got = Events.orderedJsonAgg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(got.nonEmpty)
    got.foreach { case (uid, json) =>
      assert(json === want(uid), s"user $uid JSON bytes")
    }
  }

  test("multi-distinct aggregate plans one Expand, not self-joins") {
    val plan = Relational.distinctAggs(spark, sf)
      .queryExecution.optimizedPlan
    val expands = plan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(expands.length === 1, s"expected the Expand rewrite:\n$plan")
    assert(joins.isEmpty, s"distinct aggs must not plan self-joins:\n$plan")
  }
}
