package graft.queries

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.{TestSpark, Verify}

/** The query registry's structure: one record per name, an oracle on
  * every record but the one declared rows-only, Bench's default set,
  * and the oracle_sql.json Verify hands the driver.
  */
class RegistrySpec extends AnyFunSuite {

  private val names = Registry.all.map(_.name)

  test("every query name is registered once") {
    assert(names.size === 292)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("q239 alone is rows-only; a record cannot leave its oracle out") {
    assert(Registry.all.filter(_.oracle == Oracle.RowsOnly).map(_.name) ===
      Seq("q239_table_profile_detail"))
    assertTypeError("""QueryDef("q_none", graft.operators.Relational.pricingSummary _)""")
  }

  test("Bench's default set is every query but the streaming gates") {
    assert(Registry.benched === names.filterNot(_.startsWith("qS")).sorted)
    assert(Registry.benched.size === 280)
  }

  test("oracle_sql.json parses back to exactly the registry's oracles") {
    val oracles = Registry.oracles(TestSpark.spark, TestSpark.sf)
    assert(oracles.size === 291)
    val escapes = "q\"uote \\ back\ttab\r\ncr-lf \u0001 ctl ü"
    val json = Verify.jsonObject(oracles :+ ("escapes" -> escapes))
    val root = new ObjectMapper().readTree(json)
    val parsed = root.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    assert(parsed === (oracles :+ ("escapes" -> escapes)).toMap)
  }
}
