package graft.types

import java.sql.Types

import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

import graft.ParityOptions

/** JDBC dialect carrying the reference's PostgreSQL→Arrow type
  * choices (the 19-arm switch at reference `src/lib.rs:199-386`,
  * SURVEY.md §1.2) into Spark's own JDBC read path — the idiomatic
  * place for per-type decode semantics (SURVEY §2.1 row 2: the row
  * loop is subsumed by the dialect layer; the mapping IS the work).
  *
  * Differences from Spark's built-in PostgresDialect, all traceable
  * to the reference:
  *   - NUMERIC → DoubleType (lossy, `src/lib.rs:375-381`) under the
  *     default parity; DecimalType(38,18) in exact mode (the JDBC
  *     getter path supports both: rs.getDouble / rs.getBigDecimal)
  *   - JSON/JSONB → StringType (re-serialized text, not nested;
  *     `src/lib.rs:226-234`) and UUID → StringType (the intent of
  *     `src/lib.rs:241-248`) — both read via rs.getString
  *   - TIMESTAMP → TimestampNTZType (tz-naive, `src/lib.rs:283-303`);
  *     TIMESTAMPTZ stays an instant. pgjdbc reports BOTH as
  *     `Types.TIMESTAMP` and distinguishes only by type NAME, so the
  *     timestamptz arm must match by name first or instants would be
  *     silently loaded as naive values.
  *   - unknown types surface as None → what happens next is Spark's
  *     default: `Types.OTHER` columns (interval, and any PG type
  *     pgjdbc reports as OTHER) load as their TEXT rendering under
  *     Spark 4.1 (measured live, PgTypesLiveSpec — delegation rather
  *     than the reference's `unimplemented!` abort at
  *     `src/lib.rs:382-385`), while genuinely unmappable sqlTypes
  *     raise a catchable error
  *
  * Mappings that CANNOT go through this layer, because Spark's
  * JdbcUtils getter for the target type would call the wrong
  * ResultSet accessor (e.g. rs.getLong on a TIME column throws in
  * pgjdbc, and there is no struct getter at all):
  * TIME/TIMETZ → µs-since-midnight, 1-byte "char" → code,
  * INTERVAL → struct. For those, this dialect defers to Spark's
  * defaults but records the wire type name in the field metadata
  * (`pg_type`), and [[PgTypeMap.applyParity]] applies the reference
  * semantics as opt-in column transforms
  * (`ParityOptions(timeAsMicros/charAsCode)`);
  * [[graft.functions.DecodeInterval]] decodes interval payloads.
  * PgTypeMapSpec pins the type every wire type reads as, at default
  * and at exact parity.
  */
class FlacoPostgresDialect(parity: ParityOptions = ParityOptions())
    extends JdbcDialect {

  override def canHandle(url: String): Boolean =
    url.startsWith("jdbc:postgresql")

  override def getCatalystType(
      sqlType: Int, typeName: String, size: Int,
      md: MetadataBuilder): Option[DataType] = {
    // Record the wire type name on the field so post-load transforms
    // ([[PgTypeMap.applyParity]] with timeAsMicros/charAsCode) can
    // find the columns whose reference semantics cannot be expressed
    // through the JDBC getter layer (see the class doc).
    md.putString("pg_type", typeName.toLowerCase)
    val byName = typeName.toLowerCase match {
      // xml rides as its text serialization (the json arm's sibling);
      // the reference HARD-ABORTS on xml columns (src/lib.rs:382-385)
      // — this engine reads them and parses downstream via from_xml
      // (q266). PG's JDBC type for xml is Types.SQLXML, which Spark's
      // default mapping rejects, so the name arm is load-bearing.
      case "json" | "jsonb" | "uuid" | "xml" => Some(StringType)
      case "timestamptz" => Some(TimestampType) // pgjdbc says Types.TIMESTAMP for these
      case _ => None
    }
    byName.orElse(sqlType match {
      case Types.NUMERIC | Types.DECIMAL =>
        Some(if (parity.numericAsDouble) DoubleType else PgTypeMap.numericExact)
      case Types.TIMESTAMP => Some(TimestampNTZType)
      case Types.TIMESTAMP_WITH_TIMEZONE => Some(TimestampType)
      case _ => None // defer to Spark's default mapping / error surface
    })
  }

  /** Write-side mapping (spark → PG) for the types the read side
    * bends: keep them symmetric so a round trip re-reads the same.
    */
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case DoubleType => Some(JdbcType("DOUBLE PRECISION", Types.DOUBLE))
    case StringType => Some(JdbcType("TEXT", Types.VARCHAR))
    case TimestampNTZType => Some(JdbcType("TIMESTAMP", Types.TIMESTAMP))
    case _ => None
  }

  override def quoteIdentifier(colName: String): String =
    "\"" + colName.replace("\"", "\"\"") + "\""
}

object FlacoPostgresDialect {
  /** Install for all jdbc:postgresql URLs (before Spark's built-in
    * dialect — registered dialects take precedence).
    */
  def register(parity: ParityOptions = ParityOptions()): FlacoPostgresDialect = {
    val d = new FlacoPostgresDialect(parity)
    JdbcDialects.registerDialect(d)
    d
  }
}
