package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.{Digest, Span}

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.median(xs) == 50.5)
    assert(math.abs(Stats.percentile(xs, 90) - 90.1) < 1e-9)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("a p90 over 100 samples has 10 beyond it, over 90 it does not") {
    assert(Stats.samplesBeyond((1 to 100).map(_.toDouble), 90) == Stats.MinTailSamples)
    assert(Stats.samplesBeyond((1 to 90).map(_.toDouble), 90) < Stats.MinTailSamples)
    assert(Stats.samplesBeyond(Seq.fill(50)(1.0), 90) == 0)
  }

  test("self time subtracts the time direct children cover") {
    // op [0,100) with children [10,30) and [40,70); [45,50) is a grandchild.
    val spans = Seq(
      Span(0, -1, "op", 0, 0, 100),
      Span(1, 0, "a", 0, 10, 30),
      Span(2, 0, "b", 0, 40, 70),
      Span(3, 2, "c", 0, 45, 50))
    val self = Stats.selfTimes(spans)
    assert(self == Map(0 -> 50L, 1 -> 20L, 2 -> 25L, 3 -> 5L))
    assert(Stats.subtree(spans, 2).toSet == Set(2, 3))
    assert(Stats.selfTimesAddUp(spans, 0))
  }

  test("overlapping children are counted once, so self times stop adding up") {
    val spans = Seq(
      Span(0, -1, "op", 0, 0, 100),
      Span(1, 0, "a", 0, 10, 60),
      Span(2, 0, "b", 0, 40, 70))
    assert(Stats.coveredNanos(Seq((10L, 60L), (40L, 70L))) == 60L)
    assert(Stats.selfTimes(spans)(0) == 40L)
    assert(!Stats.selfTimesAddUp(spans, 0))
  }

  test("thread CPU counts new threads from zero and ended ones not at all") {
    val before = Map(1L -> 100L, 2L -> 50L, 3L -> 70L)
    val after = Map(1L -> 160L, 2L -> 50L, 4L -> 30L)
    assert(Stats.threadCpuDelta(before, after) == 60L + 0L + 30L)
    assert(Stats.threadCpuDelta(Map.empty, Map.empty) == 0L)
  }

  test("process CPU ticks are read past a command name with spaces") {
    val rest = "S 1 2 3 0 -1 4194560 100 0 0 0 17 5 40 9 20 0 1 0 99 1000 10"
    assert(Stats.procCpuTicks(s"42 (postgres) $rest") == 17 + 5 + 40 + 9)
    assert(Stats.procCpuTicks(s"42 (a b) c)) $rest") == 71)
  }

  test("the digest ignores row order but not duplicates or losses") {
    val rng = new java.util.Random(7)
    val hashes = Seq.fill(1000)(rng.nextLong())
    val d = Digest.of(hashes)
    assert(Digest.of(Stats.permute(hashes, new java.util.Random(1))) == d)
    assert(Digest.of(hashes.reverse) == d)
    assert(Digest.of(hashes :+ hashes.head) != d)
    assert(Digest.of(hashes.tail) != d)
    // Two copies of one row cancel in the xor but not in the sum.
    val dup = Digest.of(hashes.tail :+ hashes(1))
    assert(dup.count == d.count && dup != d)
    val (a, b) = hashes.splitAt(400)
    assert(Digest.of(a).merge(Digest.of(b)) == d)
  }

  test("the same seed gives the same fixture, another seed another one") {
    assert(Stats.ingestTableSql("t", 1000, 5) == Stats.ingestTableSql("t", 1000, 5))
    assert(Stats.ingestTableSql("t", 1000, 5) != Stats.ingestTableSql("t", 1000, 6))
    val seeds = (0 until 5000).map(s => Stats.pgSeed(s.toLong))
    assert(seeds.distinct.size == seeds.size)
    assert(seeds.forall(x => x >= -1 && x <= 1))
    val p = Stats.permute(1 to 14, new java.util.Random(3))
    assert(p == Stats.permute(1 to 14, new java.util.Random(3)))
    assert(p.sorted == (1 to 14))
  }
}
