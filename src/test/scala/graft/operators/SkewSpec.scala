package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ScaleFixtures, TestSpark}
import graft.sources.Corpus

/** Correctness of the per-key-window event operators under HOT-KEY
  * skew — the one 100×-scale risk the driver's uniform fixtures never
  * exercise (every user holds ~67 events there, so no window
  * partition is ever a straggler). The fixture remaps ~10% of all
  * events onto one user; each test then replays that hot partition's
  * semantics locally and demands exact agreement, proving the
  * operators' per-key state stays a pure function of the key's own
  * rows no matter how large the partition gets. Wall-clock skew
  * ratios are measured by `graft.Bench --sweep skew` and recorded in
  * SCALING.md (timing asserts in a spec would flake on a noisy host).
  */
class SkewSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private lazy val (dir, hotUser) = {
    val work = Files.createTempDirectory("skew-fixture").toString
    val hot = ScaleFixtures.skewedEvents(spark, TestSpark.sf, work)
    (work, hot)
  }

  /** The hot user's events as (event_id, us, cents, event_type,
    * rawValue), ordered by (us, event_id) — the shared replay input.
    */
  private lazy val hotRows: Array[(Long, Long, Long, String, Double)] = {
    val s = spark
    Corpus.read(s, dir, "events")
      .filter(col("user_id") === hotUser)
      .select(col("event_id"), Exact.micros.as("us"),
        Exact.cents(col("value")).as("x"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
      .sortBy(t => (t._2, t._1))
  }

  test("fixture: hot user holds ~10% of all events") {
    val total = Corpus.read(spark, dir, "events").count()
    // ~10% remapped plus the hot user's own original events (the
    // per-user share is SF-dependent: ~6.7% of a 15-user sf0.001
    // corpus, ~0.07% at sf0.1).
    val share = hotRows.length.toDouble / total
    assert(share > 0.08 && share < 0.25,
      f"hot share $share%.3f not the intended >=10%%")
  }

  test("q75 gap-fill: grid contract and forward fill hold on the hot partition") {
    val got = Temporal.gapFillHourly(spark, dir)
      .filter(col("user_id") === hotUser)
      .select(col("h"), col("v_fill"), col("n_obs"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1)
    // Grid contract: contiguous hmin..hmax, regardless of partition size.
    val hours = got.map(_._1)
    assert((hours.head to hours.last).toSeq === hours.toSeq)
    assert(got.map(_._3).sum === hotRows.length.toLong)
    // Forward fill replay: last observed value (max (us, event_id)
    // within the hour) carried across silent hours.
    val lastInHour = hotRows.groupBy(_._2 / 3600000000L)
      .view.mapValues(_.maxBy(t => (t._2, t._1))._5).toMap
    val obsPerHour = hotRows.groupBy(_._2 / 3600000000L)
      .view.mapValues(_.length.toLong).toMap
    var carried = Double.NaN
    got.foreach { case (h, vFill, nObs) =>
      lastInHour.get(h).foreach(v => carried = v)
      assert(nObs === obsPerHour.getOrElse(h, 0L))
      assert(vFill === carried, s"hot-user fill diverges at hour $h")
    }
  }

  test("q85 rolling z-score: trailing-24 sums replay exactly on the hot partition") {
    val got = Events.rollingAnomalies(spark, dir)
      .filter(col("user_id") === hotUser)
      .select(col("event_id"), col("n_w"), col("s1"), col("s2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    val xs = hotRows.map(_._3)
    val byEid = hotRows.zipWithIndex.map { case (t, i) =>
      val lo = math.max(0, i - 23)
      val w = xs.slice(lo, i + 1)
      t._1 -> ((i + 1 - lo).toLong, w.sum, w.map(x => x * x).sum)
    }.toMap
    assert(got.nonEmpty)
    got.foreach { case (eid, n, s1, s2) =>
      assert((n, s1, s2) === byEid(eid),
        s"trailing frame diverges for hot-user event $eid")
    }
  }

  test("replicated fixture multiplies rows with unique keys and preserved span") {
    val work = Files.createTempDirectory("x3-fixture").toString
    ScaleFixtures.replicated(spark, TestSpark.sf, work, factor = 3)
    val docs0 = Corpus.read(spark, TestSpark.sf, "documents")
    val docs3 = Corpus.read(spark, work, "documents")
    assert(docs3.count() === 3 * docs0.count())
    assert(docs3.select("doc_id").distinct().count() === docs3.count())
    val ev0 = Corpus.read(spark, TestSpark.sf, "events")
    val ev3 = Corpus.read(spark, work, "events")
    assert(ev3.count() === 3 * ev0.count())
    assert(ev3.select("event_id").distinct().count() === ev3.count())
    // Same time span (k× density, not a longer history) — the ts
    // range must survive the engine-written round-trip exactly.
    val span0 = ev0.agg(min(col("ts")), max(col("ts"))).head()
    val span3 = ev3.agg(min(col("ts")), max(col("ts"))).head()
    assert(span0 === span3)
    // Copy k>0 text is perturbed, so exact-dup structure is NOT k×.
    assert(docs3.select("text").distinct().count() >
      docs0.select("text").distinct().count())
  }

  test("q87 attribution: hot partition replays the latest-preceding-touch scan") {
    val got = Temporal.lastTouchAttribution(spark, dir)
      .filter(col("user_id") === hotUser)
      .select(col("event_id"), col("touch_us"), col("attributed"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      .sortBy(_._1)
    var lastTouch: Option[Long] = None
    val want = hotRows.flatMap { case (eid, us, _, tpe, _) =>
      val out = if (tpe == "purchase") {
        val within = lastTouch.exists(t => us - t <= Temporal.AttributionWindowUs)
        Some((eid, if (within) lastTouch else None,
          if (within) 1L else 0L))
      } else None
      if (tpe == "click" || tpe == "view") lastTouch = Some(us)
      out
    }.sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    assert(got.nonEmpty)
  }
}
