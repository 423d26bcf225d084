package perfbench

import java.io.{ByteArrayInputStream, File}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector, ColumnarBatch}

import graft.{FileFormat, Flaco}
import graft.jdbc.{MiniPgDriver, MiniPgWire}
import graft.types.FlacoPostgresDialect

import Stats.Digest

/** Closed-loop benchmark of the PostgreSQL → Arrow / Parquet / Feather
  * path, driven through the public `graft.Flaco` API by one caller.
  * `perfbench/run.py` owns the PostgreSQL cluster and the build; this
  * class owns the fixtures, the timed passes, the output checks and the
  * per-layer probes of a traced run. The last stdout line is the result.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      pgUrl: String, pagilaSql: String, reference: String,
      workDir: String, report: String, processStartMs: Long, pgPid: Option[Int])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("pg-url"),
      req("pagila-sql"), req("reference"), req("work-dir"), req("report"),
      m.get("process-start-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m.get("pg-pid").map(_.toInt))
  }

  /** Spark runs as local[Cores]; PostgreSQL shares the same cores. */
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val bench = new Bench(args)
    val result = try bench.run() finally bench.close()
    println("PERFBENCH_RESULT " + Json.render(result))
    // Spark leaves non-daemon threads behind; the result is out.
    sys.exit(0)
  }

  /** Row hash identical to Spark SQL's `xxhash64(*)` over `schema`. */
  def rowHasher(schema: StructType): InternalRow => Long = {
    val e = XxHash64(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, nullable = true) }, 42L)
    r => e.eval(r).asInstanceOf[Long]
  }

  /** Order-insensitive digest of everything `df` yields, computed by
    * Spark with the same row hash as [[rowHasher]].
    */
  def digestOf(df: DataFrame): Digest = {
    val r = df.select(xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*).as("h"))
      .selectExpr("count(*)", "coalesce(bit_xor(h), 0)", "coalesce(sum(h & 4294967295), 0)")
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Digest of an Arrow IPC stream, hashed under `schema`. */
  def digestOfArrowStream(bytes: Array[Byte], schema: StructType): Digest = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
    try {
      val h = rowHasher(schema)
      val root = reader.getVectorSchemaRoot
      var d = Digest.empty
      while (reader.loadNextBatch()) {
        val vecs = root.getFieldVectors.asScala
          .map(v => new ArrowColumnVector(v): ColumnVector).toArray
        val batch = new ColumnarBatch(vecs, root.getRowCount)
        batch.rowIterator().asScala.foreach(r => d = d.add(h(r)))
      }
      d
    } finally { reader.close(); alloc.close() }
  }
}

/** One benchmark table: its server-side count and, after set-up, the
  * digest of a full scan through the program, which every sink's
  * output must reproduce.
  */
final case class Table(name: String, partCol: String, lo: Long, hi: Long,
    serverRows: Long, schema: StructType, digest: Digest)

final case class OpResult(pass: Int, op: Int, kind: String, table: String,
    seconds: Double, rows: Long, ok: Boolean, error: String,
    threadCpu: Double = 0.0, processCpu: Double = 0.0)

final class Bench(args: Main.Args) {
  import Main._

  private val (host, port, db, params) = MiniPgDriver.parseUrl(args.pgUrl)
  private val pgUser = params.getOrElse("user", "postgres")
  /** Switched on only for the traced loop of a traced run. */
  private val tracer = new Tracer(false)
  private val heap = new HeapWatch
  private val cpu = new CpuClock(args.pgPid)
  private val counters = new SparkCounters
  private var spark: SparkSession = _
  private val rng = new java.util.Random(args.seed)
  private val work = new File(args.workDir)
  // Sized so that set-up, warm-up and a 20 s loop of either workload
  // fit in about a minute on 4 cores.
  private val ingestRows = 100000
  private val loadRows = if (args.workload == "pg_ingest") 50000 else 16000
  /** The table the file sinks write: the whole table on pg_ingest, the
    * largest pagila table on pagila_sweep.
    */
  private val fileTable = if (args.workload == "pg_ingest") "ingest" else "rental"
  private val WarmupSeconds = 15.0
  private val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val setupErrors = ArrayBuffer.empty[String]

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Connections the harness itself opens, so the per-op session and
    * statement counts can leave them out.
    */
  private val harnessWires = new java.util.concurrent.atomic.AtomicInteger

  private def openWire(binary: Boolean): MiniPgWire = {
    harnessWires.incrementAndGet()
    new MiniPgWire(host, port, db, pgUser, params.get("password"), binaryTransfer = binary)
  }

  private def withWire[T](binary: Boolean = true)(f: MiniPgWire => T): T = {
    val w = openWire(binary)
    try f(w) finally w.close()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def close(): Unit = if (spark != null) { spark.stop(); spark = null }

  // ---------------------------------------------------------------- set-up

  /** A fresh session exactly as a user builds one. */
  private def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    val s = Flaco.session(master = s"local[$Cores]", shufflePartitions = Cores,
      appName = "perfbench")
    FlacoPostgresDialect.register()
    MiniPgDriver.ensureRegistered()
    s.sparkContext.addSparkListener(counters)
    s
  }

  private def tableNames: Seq[String] = args.workload match {
    case "pg_ingest" => Seq("ingest")
    case "pagila_sweep" => Seq("actor", "address", "category", "city", "country",
      "customer", "film_actor", "film_category", "inventory", "language",
      "payment", "rental", "staff", "store")
    case w => sys.error(s"unknown workload $w")
  }

  /** Server-side fixtures: the seeded tables, and the UNLOGGED load target. */
  private def buildServerFixtures(): Unit = withWire() { w =>
    args.workload match {
      case "pg_ingest" => Stats.ingestTableSql("ingest", ingestRows, args.seed).foreach(w.query)
      case _ =>
        val src = scala.io.Source.fromFile(args.pagilaSql, "UTF-8")
        try w.query(src.mkString) finally src.close()
        w.query(tableNames.map(t => s"ANALYZE $t;").mkString)
    }
    w.query("DROP TABLE IF EXISTS load_target; CREATE UNLOGGED TABLE load_target (" +
      LoadSource.pgColumns + ")")
  }

  private def loadPath = new File(work, "load_src.parquet").getPath

  private def fixtureSetup(): Unit = {
    spark = newSession()
    buildServerFixtures()
    LoadSource.generate(spark, loadRows, args.seed).coalesce(2)
      .write.mode("overwrite").parquet(loadPath)
  }

  private var tables: Seq[Table] = Nil
  private var loadExpect: Seq[Long] = Nil

  private def resolveTables(): Unit = {
    tables = tableNames.map { t =>
      val df = Flaco.readSqlToDataFrame(spark, args.pgUrl, s"select * from $t")
      val partCol = df.schema.fields.find(f => f.dataType match {
        case IntegerType | LongType | ShortType => true
        case _ => false
      }).map(_.name).getOrElse(sys.error(s"$t has no integer column"))
      val Array(n, lo, hi, s) = withWire() { w =>
        val r = w.query(s"select count(*), min($partCol), max($partCol), " +
          s"coalesce(sum($partCol::int8), 0) from $t").last.data
        (0 until 4).map(c => r.text(c, 0).toLong).toArray
      }
      val d = digestOf(df)
      val sparkSum = df.agg(org.apache.spark.sql.functions.sum(col(partCol).cast(LongType)))
        .head().getLong(0)
      if (d.count != n || sparkSum != s)
        setupErrors += s"$t: scan gives ${d.count} rows / sum $sparkSum, server $n / $s"
      Table(t, partCol, lo, hi, n, df.schema, d)
    }
    loadExpect = LoadSource.expect(spark.read.parquet(loadPath))
  }

  // ------------------------------------------------------------------ ops

  private var opSeq = 0
  /** Off for the warm-up after its first pass, so warm-up time goes to
    * the measured calls; every timed op is checked.
    */
  private var checkOutputs = true

  /** Times `body` as one op in a job group of its own, then checks its
    * output outside the timed window. A failed check counts as a failed
    * op, never as a fast one.
    */
  private def runOp[T](pass: Int, kind: String, table: String, rows: Long)(
      body: => T)(check: T => Option[String]): OpResult = {
    val id = opSeq; opSeq += 1
    val r = try {
      spark.sparkContext.setJobGroup(s"op-$id", kind)
      val c0 = cpu.jvmNanos
      val t0 = cpu.threadNanos
      val (out, secs) =
        try tracer.span(s"op.$kind", id)(timed(body))
        finally spark.sparkContext.clearJobGroup()
      val threadCpu = Stats.threadCpuDelta(t0, cpu.threadNanos) / 1e9
      val processCpu = (cpu.jvmNanos - c0) / 1e9
      val err =
        if (!checkOutputs) None
        else try check(out) catch { case NonFatal(e) => Some(s"check threw: $e") }
      OpResult(pass, id, kind, table, secs, rows, err.isEmpty, err.getOrElse(""),
        threadCpu, processCpu)
    } catch {
      case NonFatal(e) => OpResult(pass, id, kind, table, 0.0, 0L, false, e.toString)
    }
    if (!r.ok) log(s"op $kind on $table failed: ${r.error}")
    r
  }

  private def checkDigest(t: Table, got: Digest): Option[String] =
    if (got == t.digest) None else Some(s"digest $got != scan digest ${t.digest}")

  private def readBack(path: String, fmt: FileFormat, t: Table): Digest = {
    val df = Flaco.readFile(spark, path, fmt)
    digestOf(df.select(t.schema.fieldNames.toSeq.map(col): _*))
  }

  private def outPath(kind: String, t: Table) = new File(work, s"$kind-${t.name}").getPath

  private def arrowOp(pass: Int, t: Table): OpResult =
    runOp(pass, "to_arrow", t.name, t.serverRows) {
      val df = tracer.span("flaco.readSqlToDataFrame")(
        Flaco.readSqlToDataFrame(spark, args.pgUrl, s"select * from ${t.name}"))
      tracer.span("flaco.collectAsArrowStream")(Flaco.collectAsArrowStream(df))
    } { bytes => checkDigest(t, digestOfArrowStream(bytes, t.schema)) }

  /** The file sinks, each read back and checked against the scan digest. */
  private def fileOps(pass: Int, t: Table): Seq[OpResult] = {
    val url = args.pgUrl
    val stmt = s"select * from ${t.name}"
    Seq(
      runOp(pass, "to_parquet", t.name, t.serverRows) {
        tracer.span("flaco.readSqlToFile")(
          Flaco.readSqlToFile(spark, url, stmt, outPath("parquet", t), FileFormat.Parquet))
      } { _ => checkDigest(t, readBack(outPath("parquet", t), FileFormat.Parquet, t)) },
      runOp(pass, "to_feather", t.name, t.serverRows) {
        tracer.span("flaco.readSqlToFile")(
          Flaco.readSqlToFile(spark, url, stmt, outPath("feather", t), FileFormat.Feather))
      } { _ => checkDigest(t, readBack(outPath("feather", t), FileFormat.Feather, t)) },
      runOp(pass, "to_parquet_2part", t.name, t.serverRows) {
        val df = tracer.span("flaco.readSqlToDataFrame")(Flaco.readSqlToDataFrame(spark, url, stmt,
          partitionColumn = Some((t.partCol, t.lo, t.hi + 1, 2))))
        tracer.span("flaco.writeParquet")(Flaco.writeParquet(df, outPath("parquet2", t)))
      } { _ => checkDigest(t, readBack(outPath("parquet2", t), FileFormat.Parquet, t)) })
  }

  private def loadOp(pass: Int): OpResult = {
    withWire()(_.query("TRUNCATE load_target"))
    val src = spark.read.parquet(loadPath)
    val props = new Properties()
    props.setProperty("batchsize", "20000")
    runOp(pass, "load", "load_target", 0L) {
      tracer.span("spark.write.jdbc")(src.write.mode("append").jdbc(args.pgUrl, "load_target", props))
    } { _ =>
      val got = withWire() { w =>
        val r = w.query(LoadSource.serverAggSql("load_target")).last.data
        loadExpect.indices.map(c => r.text(c, 0).toLong)
      }
      if (got == loadExpect) None else Some(s"load aggregates $got != source $loadExpect")
    }
  }

  private def runPass(pass: Int): Seq[OpResult] = tracer.span("pass") {
    val arrow = Stats.permute(tables, rng).map(t => arrowOp(pass, t))
    val files = fileOps(pass, tables.find(_.name == fileTable).get)
    (arrow ++ files) :+ loadOp(pass)
  }

  private def heapUsedMiB: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

  /** Per pass, the peak heap used after GC, from the passes a collection ran in. */
  private val passPeaks = ArrayBuffer.empty[Double]

  /** Per timed pass, by pass number: the server's CPU seconds, and for
    * the report the classes loaded and the JIT's compile time in ms.
    */
  private val pgCpuOfPass = scala.collection.mutable.Map.empty[Int, Double]
  private val classesOfPass = scala.collection.mutable.Map.empty[Int, Long]
  private val jitMsOfPass = scala.collection.mutable.Map.empty[Int, Long]
  private val classes = java.lang.management.ManagementFactory.getClassLoadingMXBean
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Passes until `seconds` of wall time have gone (at least one). */
  private def timedLoop(seconds: Double, passBase: Int): Seq[Seq[OpResult]] = {
    val out = ArrayBuffer.empty[Seq[OpResult]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (out.isEmpty || System.nanoTime() < deadline) {
      // A backend's CPU reaches the postmaster's account when it exits,
      // which may be after its op's window: the server's share is taken
      // over the whole pass.
      val pass = passBase + out.size
      val pg0 = cpu.pgNanos
      val cl0 = classes.getTotalLoadedClassCount
      val jit0 = jit.getTotalCompilationTime
      out += runPass(pass)
      pgCpuOfPass(pass) = (cpu.pgNanos - pg0) / 1e9
      classesOfPass(pass) = classes.getTotalLoadedClassCount - cl0
      jitMsOfPass(pass) = jit.getTotalCompilationTime - jit0
      heap.takePeakMiB().foreach(passPeaks += _)
    }
    out.toSeq
  }

  // ------------------------------------------------------------ metrics

  private def passSeconds(p: Seq[OpResult]) = p.map(_.seconds).sum

  private def pgCpu(p: Seq[OpResult]) = pgCpuOfPass.getOrElse(p.head.pass, 0.0)

  /** CPU seconds a pass cost: the harness JVM's Java threads inside the
    * ops' timed windows, and the PostgreSQL server over the pass.
    */
  private def passCpuSeconds(p: Seq[OpResult]) = p.map(_.threadCpu).sum + pgCpu(p)

  /** The gated figures. Wall times of the same code moved by up to a
    * third between runs as the shared host's load changed. Other
    * tenants stretch wall time; the CPU time of the same work moves
    * less, so the gated cost of a pass is its CPU time. Wall times are
    * the traced run's `wall.*` figures.
    */
  private def endToEnd(passes: Seq[Seq[OpResult]], setupS: Double): Map[String, (Double, String)] =
    Map(
      "setup_s" -> (setupS, "s"),
      "pass_cpu_s" -> (Stats.median(passes.map(passCpuSeconds)), "s"))

  /** Per op kind, the median over passes of its time in a pass, the
    * latency percentiles over all ops, wall time and throughput of a
    * pass, and where a pass's CPU went.
    */
  private def opFigures(passes: Seq[Seq[OpResult]]): Map[String, (Double, String)] = {
    def kindPerPass(kind: String) =
      Stats.median(passes.map(p => p.filter(_.kind == kind).map(_.seconds).sum))
    def perPass(f: Seq[OpResult] => Double) = Stats.median(passes.map(f))
    val lat = passes.flatten.map(_.seconds * 1000)
    val reads = passes.flatten.filter(_.kind != "load")
    Map(
      "wall.pass_s" -> (perPass(passSeconds), "s"),
      "wall.rows_per_s" -> (reads.map(_.rows).sum / reads.map(_.seconds).sum, "rows/s"),
      "cpu.jvm_threads_s" -> (perPass(_.map(_.threadCpu).sum), "s"),
      "cpu.jit_gc_s" -> (perPass(_.map(o => o.processCpu - o.threadCpu).sum), "s"),
      "cpu.postgres_s" -> (perPass(pgCpu), "s"),
      "ops.to_arrow_s" -> (kindPerPass("to_arrow"), "s"),
      "ops.to_parquet_s" -> (kindPerPass("to_parquet"), "s"),
      "ops.to_feather_s" -> (kindPerPass("to_feather"), "s"),
      "ops.to_parquet_2part_s" -> (kindPerPass("to_parquet_2part"), "s"),
      "ops.load_s" -> (kindPerPass("load"), "s"),
      "ops.p50_ms" -> (Stats.percentile(lat, 50), "ms"),
      "ops.p90_ms" -> (Stats.percentile(lat, 90), "ms"))
  }

  /** Median over passes of the peak heap used after GC. Sampled from
    * the collector's own notifications, it moves by about a fifth from
    * run to run, too much to gate, so it is a traced-run figure.
    */
  private def peakHeapMiB: Double =
    if (passPeaks.nonEmpty) Stats.median(passPeaks.toSeq) else heapUsedMiB

  // -------------------------------------------------------------- run

  def run(): Map[String, Any] = {
    // Set-up runs three times; the median is reported, so the first
    // round's one-off JVM and Spark start-up does not decide it.
    val setupTimes = (1 to 3).map(_ => timed(fixtureSetup())._2)
    val setupS = Stats.median(setupTimes)
    log(f"set-up repetitions: ${setupTimes.map(s => f"$s%.2f").mkString(", ")} s")
    resolveTables()
    val settings = withWire() { w =>
      Seq("fsync", "synchronous_commit", "shared_buffers", "full_page_writes", "server_version")
        .map(k => k -> w.query(s"SHOW $k").last.data.text(0, 0)).toMap
    }
    log(s"postgres settings: $settings")
    // Warm-up: JIT, codegen and the sinks' first-use costs. Timed
    // passes kept getting cheaper after two and after three warm-up
    // passes, so warm up for a fixed time, and at least two passes.
    // Only the first is checked, so the warm-up time goes to the calls
    // that are timed.
    val warm = ArrayBuffer.empty[OpResult]
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    var warmPasses = 0
    while (warmPasses < 2 || System.nanoTime() < warmEnd) {
      warmPasses += 1
      warm ++= runPass(-warmPasses)
      checkOutputs = false
    }
    checkOutputs = true
    val warmOk = warm.forall(_.ok)
    val startupS = (System.currentTimeMillis() - args.processStartMs) / 1e3
    log(f"startup (process start to first timed pass) $startupS%.2f s, warm-up ok=$warmOk")

    val stat0 = if (args.trace) pgStat() else (0.0, 0.0)
    val wires0 = harnessWires.get
    heap.start()
    val host0 = cpu.hostTicks
    // A traced run splits its time between the loop with spans off and
    // the loop with spans on: the difference is the tracing cost.
    val loopSeconds = if (args.trace) args.seconds / 2 else args.seconds
    val untraced = if (args.trace) timedLoop(loopSeconds, 0) else Nil
    tracer.enabled = args.trace
    val passes = try timedLoop(loopSeconds, untraced.size) finally tracer.enabled = false
    heap.stop()
    val host1 = cpu.hostTicks
    val stealShare = {
      val busy = host1._1 - host0._1
      val steal = host1._2 - host0._2
      steal.toDouble / math.max(1L, busy + steal)
    }
    val loopWires = harnessWires.get - wires0
    val stat1 = if (args.trace) pgStat() else (0.0, 0.0)

    val ops = passes.flatten ++ untraced.flatten
    val failed = ops.count(!_.ok) + setupErrors.size + warm.count(!_.ok)
    val attempted = ops.size
    val correct = failed == 0
    setupErrors.foreach(e => log(s"set-up check failed: $e"))

    val e2e = endToEnd(passes, setupS)
    // In a traced run the per-op figures come from the untraced half.
    val opFig = opFigures(if (args.trace) untraced else passes)
    val beyondP90 = Stats.samplesBeyond(passes.flatten.map(_.seconds), 90)
    report ++= Seq(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cores" -> Cores, "closed_loop_callers" -> 1,
      "ingest_rows" -> (if (args.workload == "pg_ingest") ingestRows else 0),
      "load_rows" -> loadRows,
      "tables" -> tables.map(t => Map("name" -> t.name, "rows" -> t.serverRows,
        "digest" -> t.digest.toString)),
      "pg_settings" -> settings,
      "jvm_options" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("-X")).toSeq,
      "setup_repetitions_s" -> setupTimes, "startup_s" -> startupS,
      "passes" -> passes.size,
      "op_samples" -> passes.flatten.size,
      "op_samples_beyond_p90" -> beyondP90,
      "op_p90_has_enough_tail" -> (beyondP90 >= Stats.MinTailSamples),
      "pass_wall_s" -> passes.map(passSeconds),
      "pass_cpu_s" -> passes.map(passCpuSeconds),
      "host_steal_share" -> stealShare,
      "classes_loaded_per_pass" -> passes.map(p => classesOfPass(p.head.pass)),
      "jit_ms_per_pass" -> passes.map(p => jitMsOfPass(p.head.pass)),
      "heap_gc_events" -> heap.gcEvents,
      "heap_pass_peaks_mib" -> passPeaks.toSeq,
      "peak_heap_mib" -> peakHeapMiB,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "op_figures" -> opFig.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "error_rate" -> failed.toDouble / math.max(1, attempted),
      "reference_ratios" -> referenceRatios(e2e ++ opFig + ("jvm.peak_heap_mib" -> (peakHeapMiB, "MiB"))),
      "warmup_ops" -> warm.map(o => Map("kind" -> o.kind, "table" -> o.table, "s" -> o.seconds)),
      "ops" -> ops.map(o => Map("pass" -> o.pass, "kind" -> o.kind, "table" -> o.table,
        "s" -> o.seconds, "thread_cpu_s" -> o.threadCpu, "process_cpu_s" -> o.processCpu,
        "rows" -> o.rows, "ok" -> o.ok, "error" -> o.error)))

    val metrics: Map[String, (Double, String)] =
      if (!args.trace) e2e
      else perLayer(passes, untraced, stat0, stat1, loopWires) ++ opFig
    Json.writeFile(args.report, report.toMap)
    Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })
  }

  /** Each end-to-end figure that BASELINE.md has a reference for, as
    * the ratio ours / reference (context only, never a gate).
    */
  private def referenceRatios(e2e: Map[String, (Double, String)]): Map[String, Any] = {
    val ref = org.json4s.jackson.JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args.reference)), "UTF-8")).values.asInstanceOf[Map[String, Any]]
    ref.get("reference").flatMap(_.asInstanceOf[Map[String, Any]].get(args.workload)) match {
      case Some(m: Map[String, Any] @unchecked) => m.collect {
        case (k, r: Map[String, Any] @unchecked) if e2e.contains(k) =>
          val refV = r("value") match {
            case b: BigInt => b.toDouble
            case n => n.asInstanceOf[Number].doubleValue()
          }
          k -> Map("ours" -> e2e(k)._1, "reference" -> refV, "ratio" -> e2e(k)._1 / refV,
            "source" -> r("source"))
      }
      case _ => Map.empty
    }
  }

  /** Cumulative `pg_stat_database` counters of the benchmark database. */
  private def pgStat(): (Double, Double) = {
    Thread.sleep(1100) // backends flush their counters at most once a second
    withWire() { w =>
      val r = w.query("select pg_stat_clear_snapshot(); select sessions, xact_commit " +
        "from pg_stat_database where datname = current_database()").last.data
      (r.text(0, 0).toDouble, r.text(1, 0).toDouble)
    }
  }

  // --------------------------------------------------------- per layer

  private def perLayer(passes: Seq[Seq[OpResult]], untraced: Seq[Seq[OpResult]],
      stat0: (Double, Double), stat1: (Double, Double),
      loopWires: Int): Map[String, (Double, String)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val nPass = passes.size.toDouble
    val nOps = (passes.flatten.size + untraced.flatten.size).toDouble
    // Listener events are all in by now: pgStat() waited a second.
    val perOp = passes.flatten.map(o => o.op -> counters.of(s"op-${o.op}")).toMap
    for (k <- SparkCounters.Keys) {
      val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("bytes")) "bytes" else "count"
      out(s"spark.$k") = (perOp.values.map(_(k)).sum / nPass, unit)
    }
    // Leave out the harness's own connections, one statement each (the
    // load's truncate and check), and the first counter read's session.
    val own = loopWires + 1
    out("jdbc.sessions_per_op") = ((stat1._1 - stat0._1 - own) / nOps, "count")
    out("jdbc.statements_per_op") = ((stat1._2 - stat0._2 - own) / nOps, "count")

    val spans = tracer.recorded
    val self = Stats.selfTimes(spans)
    val opSpans = spans.filter(_.name.startsWith("op."))
    val addsUp = opSpans.forall(s => Stats.selfTimesAddUp(spans, s.id))
    val byName = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("spans" -> ss.size, "total_s" -> ss.map(_.dur).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
    for (s <- opSpans) tracer.annotate(s.id, perOp(s.op))
    report("trace") = Map("spans" -> spans.size, "self_times_add_up" -> addsUp,
      "by_name" -> byName,
      "op_spans" -> opSpans.map(s => Map("op" -> s.op, "name" -> s.name, "s" -> s.dur / 1e9,
        "self_s" -> self(s.id) / 1e9, "spark" -> tracer.annotations.getOrElse(s.id, Map.empty))))
    val tracedPass = Stats.median(passes.map(passSeconds))
    val plainPass = Stats.median(untraced.map(passSeconds))
    out("trace.pass_s") = (tracedPass, "s")
    out("trace.untraced_pass_s") = (plainPass, "s")
    out("trace.overhead_s") = (tracedPass - plainPass, "s")
    out("trace.self_times_add_up") = (if (addsUp) 1.0 else 0.0, "bool")
    out("jvm.peak_heap_mib") = (peakHeapMiB, "MiB")
    out ++= Probes.run(spark, args, tables, loadPath, work, openWire)
    out.toMap
  }
}

/** The lineitem-shaped source of the write leg, generated from the seed. */
object LoadSource {
  val pgColumns: String =
    "l_orderkey int8, l_partkey int8, l_suppkey int8, l_linenumber int4, " +
      "l_quantity float8, l_extendedprice float8, l_discount float8, l_tax float8, " +
      "l_returnflag text, l_linestatus text, l_shipdate date, l_commitdate date, " +
      "l_receiptdate date, l_shipinstruct text, l_shipmode text, l_comment text"

  def generate(spark: SparkSession, rows: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt)).bitwiseAND(lit(Long.MaxValue))
    spark.range(rows.toLong).select(
      (col("id") / 4 + 1).cast(LongType).as("l_orderkey"),
      (h(1) % 20000 + 1).as("l_partkey"),
      (h(2) % 1000 + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
      (h(3) % 50 + 1).cast(DoubleType).as("l_quantity"),
      ((h(4) % 10000000) / 100.0).as("l_extendedprice"),
      ((h(5) % 11) / 100.0).as("l_discount"),
      ((h(6) % 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(7) % 3 + 1).cast(IntegerType)).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (h(8) % 2 + 1).cast(IntegerType)).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), (h(9) % 2500).cast(IntegerType)).as("l_shipdate"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), (h(10) % 2500).cast(IntegerType)).as("l_commitdate"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), (h(11) % 2500).cast(IntegerType)).as("l_receiptdate"),
      element_at(array(lit("DELIVER IN PERSON"), lit("COLLECT COD"), lit("NONE"), lit("TAKE BACK RETURN")),
        (h(12) % 4 + 1).cast(IntegerType)).as("l_shipinstruct"),
      element_at(array(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK").map(lit): _*),
        (h(13) % 7 + 1).cast(IntegerType)).as("l_shipmode"),
      concat(lit("carefully "), hex(h(14)), lit(" final\tdeposits \\ "), (h(15) % 1000).cast(StringType))
        .as("l_comment"))
  }

  /** count, and exact integer sums the server must reproduce. */
  def serverAggSql(table: String): String =
    s"select count(*), sum(l_orderkey), sum(l_partkey), sum(l_linenumber), " +
      s"sum(l_quantity::int8), sum(round(l_extendedprice * 100)::int8), " +
      s"sum(l_shipdate - date '1992-01-01'), sum(length(l_comment)) from $table"

  /** The same aggregates computed by Spark over the staged source. */
  def expect(src: DataFrame): Seq[Long] = {
    val r = src.selectExpr("count(*)", "sum(l_orderkey)", "sum(l_partkey)",
      "sum(l_linenumber)", "sum(cast(l_quantity as bigint))",
      "sum(cast(round(l_extendedprice * 100) as bigint))",
      "sum(datediff(l_shipdate, date'1992-01-01'))", "sum(length(l_comment))").head()
    (0 until r.length).map(i => r.getAs[Number](i).longValue())
  }
}
