package graft.operators

import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Invariant specs for the round-12 breadth gates. The value-level
  * gate is the DuckDB oracle; these pin the policy invariants and
  * independent local replays.
  */
class Breadth12Spec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("leakage-safe split: no cluster spans splits, naive split would leak") {
    val out = Dedup.leakageSafeSplit(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("test", "train", "val"))
    assert(out.forall(_.getLong(5) === 0L), "cluster-aware split leaked")
    // Totals cover the whole corpus exactly once.
    val nDocs = graft.sources.Corpus.read(spark, sf, "documents").count()
    assert(out.map(_.getLong(1)).sum === nDocs)

    // The gate discriminates the policies: the naive per-document
    // q47 split DOES scatter at least one near-dup cluster across
    // splits on this corpus — the leak this operator exists to stop.
    val clusters = Dedup.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def naiveSplit(docId: Long): String = {
      val bkt = Integer.parseInt(md5hex(docId.toString).substring(0, 2), 16)
      if (bkt < 204) "train" else if (bkt < 230) "val" else "test"
    }
    val naiveLeaked = clusters.groupBy(_._2)
      .count { case (_, members) =>
        members.map(m => naiveSplit(m._1)).distinct.length > 1 }
    assert(naiveLeaked > 0, "fixture cannot distinguish the policies")
  }

  test("leakage-safe split: membership fingerprint replays in-JVM") {
    val assigned = Dedup.leakageSafeSplit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    // Re-derive each doc's split from cluster rep + md5 bucket and
    // fold the same 60-bit md5-prefix xor per split.
    val reps = Dedup.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val docs = graft.sources.Corpus.read(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val want = docs.groupBy { d =>
      val g = reps.getOrElse(d, d)
      val bkt = Integer.parseInt(md5hex(g.toString).substring(0, 2), 16)
      if (bkt < 204) "train" else if (bkt < 230) "val" else "test"
    }.map { case (split, members) =>
      split -> members.map(d =>
        java.lang.Long.parseLong(md5hex(d.toString).substring(0, 15), 16))
        .reduce(_ ^ _)
    }
    assert(assigned === want)
  }

  test("diversity sample keeps exactly the per-cell top-k, planned as a heap") {
    val out = Similarity.diversitySample(spark, sf)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    // Every cell contributes at most k rows, ranks are 1..n dense.
    rows.groupBy(_._1).foreach { case (cid, g) =>
      assert(g.length <= 5, s"cell $cid over quota")
      assert(g.map(_._2).sorted.toSeq === (1L to g.length).toSeq)
    }
    // Brute-force replay: the kept set per cell is the lexicographic
    // top-k of that cell's (s desc, vec_id) order, against the
    // engine's own assignment relation (centroid fit is pinned by
    // q31c/SimilaritySpec; this pins the SELECTION on top of it).
    val cells = Similarity.cellAssignmentsFor(
      graft.sources.Corpus.read(spark, sf, "embeddings"),
      Similarity.trainedCentroids(spark, sf, 16, 2))
    val cellOf = cells.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.groupBy(_._1).foreach { case (cid, g) =>
      // cell_n matches the assignment relation
      assert(g.head._5 === cellOf.count(_._2 == cid), s"cell_n of $cid")
    }
    val byCell = rows.groupBy(_._1).map { case (cid, g) =>
      cid -> g.sortBy(_._2).map(_._3).toSeq
    }
    val scored = rows.map(r => r._3 -> r._4).toMap
    byCell.foreach { case (_, kept) =>
      // kept ids are ordered by (s desc, vec_id) — replay the order
      val resorted = kept.sortBy(v => (-scored(v), v))
      assert(resorted === kept)
    }
    // The rank must plan as a TopKRows heap, not a Window.
    val plan = out.queryExecution.optimizedPlan
    assert(!plan.exists(_.isInstanceOf[LWindow]),
      "diversitySample rank should plan as TopKRows, not a Window")
    assert(plan.exists {
      case a: Aggregate => a.aggregateExpressions.exists(_.exists {
        case ae: AggregateExpression =>
          ae.aggregateFunction.isInstanceOf[graft.functions.TopKRows]
        case _ => false
      })
      case _ => false
    }, "TopKRows aggregate missing")
  }

  test("contamination report agrees with q48's flags and its own thresholds") {
    val rep = Dedup.contaminationReport(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // Verdicts follow the stated thresholds exactly.
    rep.foreach { case (id, nSh, nHits, ppm, v) =>
      assert(ppm === nHits * 1000000L / nSh, s"doc $id ppm")
      val want = if (nHits == 0) "clean"
        else if (ppm >= 500000) "drop" else "review"
      assert(v === want, s"doc $id verdict")
      assert(nHits <= nSh, s"doc $id hits exceed shingles")
    }
    // q48 flags exactly the non-clean docs (same universe, same
    // kernel — the report is a strict refinement).
    val flagged = Dedup.decontaminate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(rep.filter(_._5 != "clean").map(_._1).toSet === flagged)
    assert(rep.map(_._5).distinct.length === 3,
      "fixture should populate all three verdicts")
  }

  test("timezone battery: offsets are correct and the DST column carries both") {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val rows = Temporal.timezoneBattery(spark, sf).collect()
    def parse(s: String) = java.time.LocalDateTime.parse(s, fmt)
    val offsets = rows.map { r =>
      val utc = parse(r.getString(1))
      // java.time replays every conversion independently.
      val zoned = utc.atZone(java.time.ZoneOffset.UTC)
      assert(parse(r.getString(2)) === zoned.withZoneSameInstant(
        java.time.ZoneId.of("America/New_York")).toLocalDateTime, "ny")
      assert(parse(r.getString(3)) === zoned.withZoneSameInstant(
        java.time.ZoneId.of("Asia/Tokyo")).toLocalDateTime, "tokyo")
      assert(parse(r.getString(4)) === utc.atZone(
        java.time.ZoneId.of("Asia/Kolkata")).withZoneSameInstant(
        java.time.ZoneOffset.UTC).toLocalDateTime, "kolkata")
      val dstUtc = utc.plusDays(69).atZone(java.time.ZoneOffset.UTC)
      val dstLocal = parse(r.getString(5))
      assert(dstLocal === dstUtc.withZoneSameInstant(
        java.time.ZoneId.of("America/New_York")).toLocalDateTime, "ny_dst")
      java.time.Duration.between(dstLocal, dstUtc.toLocalDateTime).toHours
    }
    assert(offsets.distinct.sorted.toSeq === Seq(4L, 5L),
      "the +69d shift must straddle the spring-forward (-5 and -4 both live)")
  }

  test("simhash near-dup join equals brute-force Hamming <= 3 (pigeonhole is lossless)") {
    val fps = graft.sources.Corpus.read(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.MinHashFunctions.simhash64(
          TextAnalysis.tokens(col("text"))).as("fp"))
      .filter(col("fp").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      i <- fps.indices; j <- (i + 1) until fps.length
      d = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2)
      if d <= 3
    } yield {
      val (a, b) = (fps(i)._1 min fps(j)._1, fps(i)._1 max fps(j)._1)
      (a, b, d.toLong)
    }).toSet
    val got = TextAnalysis.simhashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute)
    assert(got.nonEmpty, "fixture should contain simhash near-dups")
  }

  test("SEARCH DEPTH FIRST rank is exactly recursive preorder; BFS differs") {
    val rows = graft.Flaco.sql(spark, sf, graft.queries.SqlQueries.searchOrderSparkSql)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val keys = graft.sources.Corpus.read(spark, sf, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    // In-JVM preorder walk of the same binary tree.
    val pre = scala.collection.mutable.ArrayBuffer[Long]()
    def walk(k: Long): Unit = if (keys(k)) {
      pre += k
      walk(2 * k); walk(2 * k + 1)
    }
    walk(1L)
    assert(rows.sortBy(_._1).map(_._3).toSeq === pre.toSeq, "preorder")
    // BFS rank orders by (depth, node) — and genuinely differs from DFS.
    val byBfs = rows.sortBy(_._2).map(r => (r._4, r._3))
    assert(byBfs.toSeq === byBfs.sorted.toSeq, "bfs order")
    assert(rows.sortBy(_._1).map(_._3).toSeq !==
      rows.sortBy(_._2).map(_._3).toSeq, "branching makes DFS != BFS")
    // path_str really is the root walk of each node.
    rows.foreach { case (_, _, node, depth, ps) =>
      val path = ps.split('/').map(_.toLong)
      assert(path.last === node && path.head === 1L &&
        path.length === depth + 1)
      path.sliding(2).foreach { case Array(p, c) =>
        assert(c / 2 === p, s"$c not a child of $p")
      case _ => ()
      }
    }
  }

  test("sketch union is lossless: merged daily sketches = one-pass sketch") {
    val ev = graft.sources.Corpus.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    // Union of per-day sketches vs one sketch over the raw rows —
    // Datasketches HLL union is exact over its own state, so the two
    // ESTIMATES must agree bit-for-bit, which is the property that
    // makes materialized daily sketches answer monthly questions.
    val merged = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val onePass = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === onePass)
    // And the gate's band flag is genuinely earned, not vacuous.
    val out = Events.sketchUnionUsers(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(5) === 1L, s"${r.getString(0)} estimate out of band")
      assert(merged(r.getString(0)) >= r.getLong(3) &&
        merged(r.getString(0)) <= r.getLong(4))
    }
  }

  test("delta near-dup equals the cross-side slice of the full pair relation") {
    val full = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val wantCross = full.filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) =>
        if (a % 2 == 0) (a, b, j) else (b, a, j)
      }.toSet
    val got = Dedup.deltaNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet === wantCross)
    assert(got.nonEmpty, "fixture should contain cross-side near-dups")
    got.foreach { case (base, delta, _) =>
      assert(base % 2 === 0L); assert(delta % 2 === 1L)
    }
  }

  test("source drift KL replays in-JVM and is non-negative") {
    val v = 32
    val docs = graft.sources.Corpus.read(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+").filter(_.nonEmpty)))
    val allCounts = docs.flatMap(_._2).groupBy(identity).map { case (t, a) => (t, a.length) }
    val vocab = allCounts.toSeq.sortBy { case (t, n) => (-n, t) }.take(v).map(_._1).toSet
    val occ = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(_._2).filter(vocab).groupBy(identity)
        .map { case (t, a) => (t, a.length.toLong) }
    }
    val glob = occ.values.flatten.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    val totG = glob.values.sum
    val want = occ.map { case (s, cs) =>
      val totS = cs.values.sum
      val terms = glob.keys.toSeq.sorted.map { t =>
        val p = (cs.getOrElse(t, 0L) + 1.0) / (totS + v)
        val q = (glob(t) + 1.0) / (totG + v)
        p * math.log(p / q)
      }
      s -> BigDecimal(terms.foldLeft(0.0)(_ + _))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    TextAnalysis.sourceDrift(spark, sf).collect().foreach { r =>
      val (s, kl) = (r.getString(0), r.getDouble(2))
      assert(kl >= 0.0, s"KL must be non-negative for $s")
      assert(math.abs(kl - want(s)) < 2e-6, s"$s: $kl vs ${want(s)}")
    }
  }

  test("projected EXISTS plans as an existence join and round-trips to dates") {
    // q164: the EXISTS flags must survive as COLUMNS — the planner
    // emits ExistenceJoin, not a semi-join filter.
    val plan = graft.Flaco.sql(spark, sf, graft.queries.SqlQueries.selectExistsSql)
      .queryExecution.optimizedPlan
    val hasExistence = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.ExistenceJoin] => j
    }.nonEmpty
    assert(hasExistence, s"expected ExistenceJoin in:\n$plan")
    // Flags agree with a local replay off the orders table.
    val big = graft.sources.Corpus.read(spark, sf, "orders")
      .filter(col("o_totalprice") > 200000)
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSet
    val any = graft.sources.Corpus.read(spark, sf, "orders")
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSet
    graft.Flaco.sql(spark, sf, graft.queries.SqlQueries.selectExistsSql)
      .collect().foreach { r =>
        val c = r.getLong(0)
        assert(r.getLong(1) === (if (big(c)) 1L else 0L), s"has_big $c")
        assert(r.getLong(2) === (if (any(c)) 0L else 1L), s"no_orders $c")
      }

    // q163: every parsed value round-trips to its source exactly.
    Relational.datetimeParseBattery(spark, sf).collect().foreach { r =>
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("dd-MMM-yyyy", java.util.Locale.ENGLISH)
      assert(java.time.LocalDate.parse(r.getString(1), fmt).toString
        === r.getDate(2).toString)
      val tfmt = java.time.format.DateTimeFormatter
        .ofPattern("MM/dd/yyyy hh:mm:ss a", java.util.Locale.ENGLISH)
      val ldt = java.time.LocalDateTime.parse(r.getString(3), tfmt)
      assert(ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
        === r.getLong(4))
    }
  }
}
