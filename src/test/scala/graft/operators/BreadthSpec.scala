package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Invariant specs for the round-5 breadth gates (set-op ALL
  * variants, FULL/RIGHT outer joins, distribution-rank windows,
  * line-level dedup, bigram LM). The value-level gate is the DuckDB
  * oracle; these pin the algebra the oracle can't state — bag
  * semantics against directly computed multisets, null-side
  * bookkeeping, and cross-operator consistency.
  */
class BreadthSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  private def monthKeys(from: String, to: String): Seq[Long] =
    graft.sources.Corpus.read(spark, sf, "orders")
      .filter(col("o_orderdate") >= lit(from).cast("timestamp_ntz") &&
        col("o_orderdate") < lit(to).cast("timestamp_ntz"))
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSeq

  private def bag(xs: Seq[Long]): Map[Long, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  test("set-op ALL variants obey bag algebra vs directly computed multisets") {
    val jan = bag(monthKeys("1996-01-01 00:00:00", "1996-02-01 00:00:00"))
    val feb = bag(monthKeys("1996-02-01 00:00:00", "1996-03-01 00:00:00"))
    val out = Relational.setOpsAll(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val gotIntersect = out.collect { case ("intersect", k) => k }
    val gotIntersectAll = bag(out.collect { case ("intersect_all", k) => k })
    val gotExceptAll = bag(out.collect { case ("except_all", k) => k })

    // INTERSECT: distinct keys present in both months, each once.
    assert(gotIntersect.toSet === (jan.keySet & feb.keySet))
    assert(gotIntersect.length === gotIntersect.toSet.size)
    // INTERSECT ALL: min multiplicity per key.
    val wantIA = (jan.keySet & feb.keySet)
      .map(k => k -> math.min(jan(k), feb(k))).toMap
    assert(gotIntersectAll === wantIA)
    // EXCEPT ALL: truncated bag difference.
    val wantEA = jan.collect {
      case (k, n) if n - feb.getOrElse(k, 0) > 0 => k -> (n - feb.getOrElse(k, 0))
    }
    assert(gotExceptAll === wantEA)
  }

  test("full-outer reconciliation covers the key union with exact null sides") {
    def yearKeys(y: Int) = monthKeys(s"$y-01-01 00:00:00", s"${y + 1}-01-01 00:00:00").toSet
    val a95 = yearKeys(1995)
    val a96 = yearKeys(1996)
    val rows = Relational.fullOuterYears(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSet === (a95 | a96))
    rows.foreach { case (k, presence, n95, n96) =>
      val want =
        if (a95(k) && a96(k)) "both" else if (a95(k)) "only_1995" else "only_1996"
      assert(presence === want, s"custkey $k")
      assert((n95 > 0) === a95(k), s"custkey $k n_1995=$n95")
      assert((n96 > 0) === a96(k), s"custkey $k n_1996=$n96")
    }
  }

  test("right join keeps every customer and books unmatched as inactive") {
    val custTotal = graft.sources.Corpus.read(spark, sf, "customer").count()
    val rows = Relational.rightJoinSegments(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).sum === custTotal)
    val activeTotal = monthKeys("1997-01-01 00:00:00", "1997-07-01 00:00:00")
    assert(rows.map(_._3).sum === activeTotal.length.toLong)
    rows.foreach { case (seg, nCust, _, nInactive) =>
      assert(nInactive <= nCust, s"segment $seg")
    }
  }

  test("percent_rank/cume_dist span their bounds per partition; nth_value gates on frame size") {
    val df = Relational.windowSuiteExtras(spark, sf)
    val perCust = df.groupBy(col("o_custkey"))
      .agg(min(col("pct_rank")).as("minPr"), max(col("pct_rank")).as("maxPr"),
        max(col("cume")).as("maxCd"),
        count(lit(1)).as("n"),
        sum(when(col("third_price").isNull, 1L).otherwise(0L)).as("nNull"))
      .collect()
    perCust.foreach { r =>
      val (minPr, maxPr, maxCd) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      val (n, nNull) = (r.getLong(4), r.getLong(5))
      assert(minPr === 0.0) // the top-ranked row
      assert(maxPr <= 1.0 && maxCd === 1.0)
      // nth_value(3) over a running frame is null for exactly the
      // first two rows of the partition's time order.
      assert(nNull === math.min(2L, n))
    }
  }

  test("line dedup removes boilerplate and reconstructs deterministically") {
    val rows = TextAnalysis.lineDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nLines, nKept, _) =>
      assert(nKept <= nLines, s"doc $id")
    }
    // The removal path must actually fire on the fixture corpus.
    assert(rows.exists { case (_, nLines, nKept, _) => nKept < nLines })
    // Fully-boilerplate docs hash the empty reconstruction.
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    rows.filter(_._3 == 0L).foreach { case (id, _, _, fp) =>
      assert(fp === emptyMd5, s"doc $id")
    }
    // Line accounting matches the splitter: sum of per-doc lines ==
    // sum of ceil(tokens / LineTokens).
    val wantLines = graft.sources.Corpus.read(spark, sf, "documents")
      .select(((TextAnalysis.tokenCount(col("text")) +
        lit(TextAnalysis.LineTokens - 1)).cast("long") /
        lit(TextAnalysis.LineTokens)).cast("long").as("n"))
      .agg(sum(col("n"))).collect().head.getLong(0)
    assert(rows.map(_._2).sum === wantLines)
  }

  test("null-semantics gate: one NULL poisons NOT IN, EXISTS mirrors IN") {
    val got = graft.Flaco.sql(spark, sf, graft.queries.Registry("q68_null_semantics").oracleText(spark, sf).get)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val custTotal = graft.sources.Corpus.read(spark, sf, "customer").count()
    assert(got("not_in_nulls") === 0L)
    assert(got("in") + got("not_in") === custTotal)
    assert(got("exists") === got("in"))
    assert(got("not_exists") === got("not_in"))
    assert(got("in_nulls") <= got("in"))
  }

  test("stats aggregates are internally consistent per event type") {
    val rows = Events.statsAgg(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // stddev/var/corr are NULL for single-row or constant groups —
      // assert non-null with a readable message instead of letting
      // getDouble NPE on a degenerate fixture group.
      Seq(2 -> "stddev", 3 -> "variance", 5 -> "corr").foreach { case (i, nm) =>
        assert(!r.isNullAt(i),
          s"${r.getString(0)}: $nm is null (degenerate group in fixture)")
      }
      val (sd, vr) = (r.getDouble(2), r.getDouble(3))
      val corr = r.getDouble(5)
      assert(math.abs(sd * sd - vr) < 0.1, s"${r.getString(0)}: sd²=$sd² vs vr=$vr")
      assert(corr >= -1.0 && corr <= 1.0)
    }
  }

  test("array-function battery obeys its arithmetic bounds") {
    val rows = TextAnalysis.arrayFuncs(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (nToks, nLong, sumLen, maxLen) =>
      assert(nLong <= nToks)
      assert(sumLen >= nToks)       // every token has >= 1 char
      assert(maxLen * nToks >= sumLen)
      assert((nLong > 0) === (maxLen > 4))
    }
  }

  /** Reference Levenshtein (two-row DP) — an independent
    * implementation to check the operator's `levenshtein` output
    * against, not a call back into Spark.
    */
  private def lev(a: String, b: String): Long = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var curr = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      curr(0) = i
      var j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        curr(j) = math.min(math.min(prev(j) + 1, curr(j - 1) + 1), sub)
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(b.length).toLong
  }

  test("edit-distance verification covers exactly the LSH candidate pairs") {
    val got = Dedup.editDistancePairs(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.nonEmpty)
    val cand = Dedup.candidatePairJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === cand.keySet)
    got.foreach { case (pair, (jac, dist, sim)) =>
      assert(jac === cand(pair))
      assert(dist >= 0L && sim <= 1.0, s"$pair")
      // Distance 0 and similarity 1 must coincide exactly.
      assert((dist == 0L) === (sim == 1.0), s"$pair")
    }
    // Independent verification: recompute the distances with a local
    // DP implementation over the candidate docs' texts (the fixture
    // corpus has near-duplicates, not exact ones — 500/500 texts are
    // distinct — so existence-of-zero would be a false claim; exact
    // value parity on every pair is the stronger check anyway).
    val ids = got.keySet.flatMap(p => Seq(p._1, p._2))
    val texts = graft.sources.Corpus.read(spark, sf, "documents")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (pair @ (a, b), (_, dist, sim)) =>
      val want = lev(texts(a), texts(b))
      assert(dist === want, s"$pair")
      val wantSim = BigDecimal(
        1.0 - want.toDouble / math.max(texts(a).length, texts(b).length))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(sim - wantSim) < 1e-9, s"$pair")
    }
  }

  test("bigram LM scores every multi-token doc with negative log-probs") {
    val rows = TextAnalysis.bigramLogProb(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // n_bigrams is exactly tokens-1 per doc.
    val want = graft.sources.Corpus.read(spark, sf, "documents")
      .select(col("doc_id"),
        (TextAnalysis.tokenCount(col("text")) - 1).cast("long").as("nb"))
      .filter(col("nb") >= 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap === want)
    // Laplace-smoothed probabilities are < 1, so log-probs are < 0.
    rows.foreach { case (id, _, lp) => assert(lp < 0.0, s"doc $id") }
  }
}
