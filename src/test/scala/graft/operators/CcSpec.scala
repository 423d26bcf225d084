package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Scale contract of the connected-components core: pointer jumping
  * must collapse a long chain in O(log n) rounds — a 200-node path
  * graph needs 199 rounds under plain min-propagation, far past the
  * 64-round guard, so a correct result here proves the logarithmic
  * behavior (not just the labels).
  */
class CcSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("200-node chain collapses to one component with min-id rep") {
    val s = spark
    import s.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1))
    val (out, rounds) = Dedup.connectedComponentsRounds(chain.toDF("a", "b"))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 200)
    assert(got.values.toSet === Set(0L))
    // The direct O(log n) assertion: plain min-propagation needs 199
    // rounds on this chain; pointer jumping must land well under
    // log-with-slack.
    assert(rounds <= 9, s"chain took $rounds rounds — pointer jumping broken")
  }

  test("disjoint components keep separate min-id reps") {
    val s = spark
    import s.implicits._
    val pairs = Seq((10L, 11L), (11L, 12L), (30L, 31L), (50L, 51L))
    val got = Dedup.connectedComponents(pairs.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      30L -> 30L, 31L -> 30L, 50L -> 50L, 51L -> 50L))
  }
}
