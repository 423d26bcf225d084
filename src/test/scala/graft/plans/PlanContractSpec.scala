package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull}
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, Range, Sample, Window}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Registry

/** The suite-wide 100 TB plan contract — the r11 verdict's ask #7:
  * the e5cc33e manual plan audit turned into a permanent gate over
  * EVERY registered query.
  *
  * Three scale-killers are banned from every optimized plan:
  *
  *  1. An unpartitioned Window (empty PARTITION BY): it funnels its
  *     entire input through ONE task. Rank-limit windows are exempt
  *     by construction — the injected [[RankLimitToTopK]] rewrite
  *     replaces them with bounded TopKRows heap aggregates before
  *     this gate sees the plan (RankLimitSpec pins that), so any
  *     Window surviving with an empty partitionSpec is a real
  *     single-task sort of its input relation.
  *  2. A join with no condition and no broadcast hint: Spark plans it
  *     as CartesianProduct (or auto-BHJ only while the side is small
  *     enough TODAY). Every deliberate scalar/dimension cross in the
  *     suite writes `crossJoin(broadcast(...))`; the hint is the
  *     durable contract — size-based auto-broadcast at test SF says
  *     nothing about 100 TB.
  *  3. An explicit BROADCAST hint over a RAW corpus-derived relation
  *     (the r15-verdict q234/q243 class): a hinted side whose subtree
  *     reaches a fact-table file scan through nothing but
  *     shape-preserving nodes (Project/Sort/Repartition/Generate/…)
  *     is a forced broadcast of a relation that grows linearly with
  *     the corpus — an eventual driver/executor OOM that AQE cannot
  *     undo (a HINT overrides the size check). Sides are exempt once
  *     the walk hits an Aggregate, a Limit, a Filter, a Sample, a
  *     Join, or a leaf that is a LocalRelation/Range/dimension scan
  *     (region/nation — the only tables constant in SF): those are
  *     the suite's deliberate bounded-model broadcasts. The gate
  *     cannot prove a Filter selective or an Aggregate's group count
  *     bounded — those exemptions are where per-query judgment (and
  *     the 10× sweeps) take over; what it bans STRUCTURALLY is the
  *     unfiltered-table hydration mistake.
  *
  * Allowlists are per-query and must carry a justification naming the
  * BOUND on the windowed relation; an empty-string justification
  * fails the gate by construction.
  */
class PlanContractSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Queries whose plan cannot be inspected statically, with why. */
  private val skip: Map[String, String] = Map(
    "qS01_stream_sessions" -> ("runs a Structured Streaming " +
      "availableNow pipeline during construction; the returned plan " +
      "is a parquet read-back of the sink. The streaming plan's " +
      "session aggregate is keyed (user_id) and watermark-bounded — " +
      "EventStreamsSpec covers it."),
    "qS02_stream_dedup" -> ("same availableNow-pipeline shape as " +
      "qS01; the streaming dedup state is keyed (event_id) and " +
      "watermark-evicted — EventStreamsSpec covers it."),
    "qS03_stream_clean" -> ("same availableNow-pipeline shape as " +
      "qS01; the cleaning stage is a stateless per-row projection — " +
      "DocumentStreamsSpec covers it."),
    "qS04_stream_dsir" -> ("same availableNow-pipeline shape as " +
      "qS01; DSIR scoring is a stateless per-row projection with an " +
      "offline-fit broadcast model — Breadth15Spec pins the batch " +
      "scoring plan (no join, no explode) and stream-vs-batch parity."),
    "qS05_stream_cdc" -> ("same availableNow-pipeline shape as " +
      "qS01; the CDC classification is a stateless stream-static " +
      "LEFT join from arrivals to the (key, md5) base projection — " +
      "no watermark, no stream-side state; DocumentStreamsSpec pins " +
      "stream-vs-batch parity and the arrival-classes≡q246 identity."),
    "qS06_stream_ivf_assign" -> ("same availableNow-pipeline shape " +
      "as qS01; the cell assignment is a stateless per-row argmax " +
      "over the bounded (ncells-row) centroid literal — no join, no " +
      "aggregate, no state; Breadth16Spec pins the expression ≡ " +
      "cellAssignmentsFor aggregate identity on the full corpus."),
    "qS07_stream_bpe_tokenize" -> ("same availableNow-pipeline " +
      "shape as qS01; tokenizer application is a stateless per-row " +
      "replace chain over the bounded (BpeMerges-row) frozen merge " +
      "table — no join, no aggregate, no state; DocumentStreamsSpec " +
      "pins stream-vs-batch parity and the per-word driver replay."),
    "qS08_stream_lsh_band" -> ("same availableNow-pipeline shape as " +
      "qS01; band assignment is the stateless per-row rawBandsOf " +
      "projection (signature + 4 band keys, no join, no aggregate, " +
      "no state); DocumentStreamsSpec pins stream-vs-batch parity " +
      "and the q251 index arrival-slice identity."),
    "qS10_stream_pii" -> ("same availableNow-pipeline shape as " +
      "qS01; PII scrub is a stateless per-row projection (three " +
      "regexp_count + three chained regexp_replace) — no join, no " +
      "aggregate, no state; DocumentStreamsSpec pins stream-vs-batch " +
      "parity and the per-source fold ≡ q256's aggregate."),
    "qS09_stream_dedup_admit" -> ("same availableNow-pipeline shape " +
      "as qS01; admission is a stateless stream-static anti-join " +
      "(left outer + null filter) against the frozen base " +
      "fingerprint index — no watermark, no stream-side state; " +
      "DocumentStreamsSpec pins stream-vs-batch parity and both " +
      "admit/drop branches."),
    "qS11_stream_variant" -> ("same availableNow-pipeline shape as " +
      "qS01; VARIANT shredding is a stateless per-row projection " +
      "(parse_json + typed variant_get + schema_of_variant) — no " +
      "join, no aggregate, no state; Breadth18Spec pins " +
      "stream-vs-batch parity against the shared projection."),
    "qS12_stream_time" -> ("same availableNow-pipeline shape as " +
      "qS01; the native-TIME derivation is a stateless per-row " +
      "projection (integer µs-of-day → to_time/time_trunc/extract) " +
      "— no join, no aggregate, no state; Breadth19Spec pins " +
      "stream-vs-batch parity against the shared projection.")
  )

  /** Unpartitioned windows allowed because the windowed relation is
    * provably bounded (dimension/grid-sized), with the bound.
    * (Windows over LIMIT-bounded inputs are exempted structurally
    * via maxRows — no entry needed.)
    */
  private val boundedGlobalWindow: Map[String, String] = Map(
    "q162_search_order" -> ("the two global ranks materialize the " +
      "SEARCH-clause ORDER CONTRACT so the hash gate can pin it; " +
      "production consumers ORDER BY the path/depth columns directly " +
      "(a distributed sort) — documented on searchOrderSparkSql, " +
      "whose one-SQL-text/two-planners design is the point of the " +
      "test and precludes a DataFrame-side globalRowNumber rewrite."),
    "q220_period_report" -> ("cumulative/lag window over the per-DAY " +
      "revenue grid — one row per calendar day (~365/year), bounded " +
      "by the time horizon, not the event volume."),
    "q232_mixture_waterfill" -> ("prefix-cumulative window over the " +
      "per-LANGUAGE mixture aggregate — one row per language in the " +
      "mixture table (dimension-bounded, the q169 argument).")
  )

  /** A Window whose input has a statically-known row bound (LIMIT
    * propagated through maxRows) cannot be a scale-killer.
    */
  private val MaxBoundedWindowRows = 100000L

  /** Tables whose row count does NOT scale with the corpus — the only
    * leaves a raw (unaggregated/unfiltered) broadcast hint may reach.
    */
  private val DimTables = Seq("region", "nation")

  /** First fact-table file scan reachable from a broadcast-hinted
    * side through shape-preserving nodes only (rule 3); None when the
    * side is bounded by construction. Default branch descends — it
    * covers Project/SubqueryAlias/Sort/Repartition/Window/Generate/
    * Expand/Union, none of which bound their input's cardinality.
    */
  private def rawCorpusScan(p: LogicalPlan): Option[String] = p match {
    case lr: LogicalRelation =>
      val loc = lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.mkString(",")
        case other => other.toString
      }
      if (DimTables.exists(d => loc.contains(d))) None else Some(loc)
    case _: LocalRelation | _: OneRowRelation | _: Range => None
    case f: Filter =>
      // The optimizer inserts `isnotnull(joinkey)` under every
      // equi-join — that is NOT a bounding predicate, so descend
      // through filters made only of IsNotNull conjuncts; any real
      // predicate stops the walk (per-query judgment takes over).
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case x => Seq(x)
      }
      if (conjuncts(f.condition).forall(_.isInstanceOf[IsNotNull]))
        rawCorpusScan(f.child)
      else None
    case _: Aggregate | _: GlobalLimit | _: LocalLimit |
         _: Sample => None
    case _: Join => None // itself walked by the outer foreach
    case other => other.children.view.flatMap(rawCorpusScan).headOption
  }

  test("no unpartitioned non-rank-limit Window; no unhinted " +
    "condition-less join — every query, every optimized plan") {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    (boundedGlobalWindow ++ skip).foreach { case (q, why) =>
      assert(why.trim.nonEmpty, s"allowlist entry $q lacks a justification")
    }
    Registry.all.sortBy(_.name).foreach { q =>
      val name = q.name
      if (!skip.contains(name)) {
        val plan = q.build(spark, TestSpark.sf).queryExecution.optimizedPlan
        plan.foreach {
          case w: Window if w.partitionSpec.isEmpty &&
              !boundedGlobalWindow.contains(name) &&
              !w.child.maxRows.exists(_ <= MaxBoundedWindowRows) =>
            violations += s"$name: unpartitioned Window over\n  " +
              w.child.simpleString(3)
          case j: Join =>
            if (j.condition.isEmpty && j.joinType.isInstanceOf[InnerLike] &&
                !j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) &&
                !j.hint.rightHint.exists(_.strategy.contains(BROADCAST))) {
              violations += s"$name: condition-less ${j.joinType} join " +
                s"without a broadcast hint\n  ${j.simpleString(3)}"
            }
            Seq((j.hint.leftHint, j.left, "left"),
                (j.hint.rightHint, j.right, "right")).foreach {
              case (Some(h), side, lbl)
                  if h.strategy.contains(BROADCAST) =>
                rawCorpusScan(side).foreach { loc =>
                  violations += s"$name: BROADCAST hint on the $lbl " +
                    s"side over a raw corpus-derived scan of $loc"
                }
              case _ => ()
            }
          case _ => ()
        }
      }
    }
    assert(violations.isEmpty,
      s"${violations.size} plan-contract violations:\n" +
        violations.mkString("\n"))
  }

  test("rule 3 detector FIRES on a raw corpus-scan broadcast and " +
    "stays quiet once the side is aggregated (self-test)") {
    import org.apache.spark.sql.functions.{broadcast, col, count}
    val docs = graft.sources.Corpus.read(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("lang"))
    val bad = docs.join(broadcast(docs.select(col("doc_id"),
      col("lang").as("l2"))), Seq("doc_id"))
    val badHits = bad.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.rightHint.exists(
          _.strategy.contains(BROADCAST)) => rawCorpusScan(j.right)
    }.flatten
    assert(badHits.nonEmpty,
      "rule 3 failed to flag a broadcast of a raw documents scan")
    val dim = docs.groupBy(col("lang")).agg(count(col("doc_id")).as("n"))
    val good = docs.join(broadcast(dim), Seq("lang"))
    val goodHits = good.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.rightHint.exists(
          _.strategy.contains(BROADCAST)) => rawCorpusScan(j.right)
    }.flatten
    assert(goodHits.isEmpty,
      s"rule 3 flagged an aggregate-bounded broadcast: $goodHits")
  }
}
