package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reference's headline memory claim, measured here — its
  * `@profile memory_profile()` records **+2.4 MiB** of driver growth
  * for the streaming `read_sql_to_file(..., Feather)` of a ~1M-row
  * mixed-type table, vs ~258 MiB for materializing the same table
  * in-process (reference `README.md:39-50`,
  * `benchmarks/test_benchmarks.py:103-138`). The Spark-native
  * analogue of that streaming write is
  * [[FeatherSink.write]]`(singleFile = true)`: one task that reads the
  * partitions in order and writes the file itself, holding one 4096-row
  * Arrow batch and one partition's reader at a time, never the table.
  * No row passes through the driver; in local mode the task runs in
  * the driver's JVM, so the probe counts it.
  *
  * The probe: build a 1M-row mixed-type table with a null stripe
  * (the reference's column mix: int/long/float/double/string/binary/
  * timestamp), stage it as 32-file parquet (so partition fetches are
  * ~31k rows), then
  *
  *  1. stream it through the single-file Feather sink while a
  *     sampler thread records LIVE-SET heap (System.gc() before each
  *     sample — raw used-heap would count dead batch garbage and
  *     overstate);
  *  2. `collect()` the same table and measure the retained heap
  *     while the array is referenced — the anti-pattern's cost.
  *
  * Asserts the streaming peak stays under a generous absolute bound
  * (256 MiB — JVM Row overhead is fatter than the reference's Rust
  * rows; the CLAIM is partition-bounded, not 2.4 MiB) and under a
  * QUARTER of the collect retention (measured headroom ~10-15×, so
  * /4 has real slack yet still catches a streaming path that starts
  * materializing), and writes both numbers plus the reference
  * baseline to `target/MEMPROBE.json`. The committed `MEMPROBE.json`
  * is the recorded baseline: copy a run's file over it to refresh it.
  */
class MemoryParitySpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private val Rows = 1000000L
  private val StreamBoundBytes = 256L << 20

  private def usedAfterGc(): Long = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactorySingleton.heapUsed()
  }

  private def mixedTable(): DataFrame = {
    val dir = Files.createTempDirectory("memprobe").toString
    spark.range(Rows).selectExpr(
      "cast(id % 1000 as int) as col1",
      "id as col2",
      "cast(id % 1000 as float) as col3",
      "cast(id % 1000 as double) as col4",
      "concat(cast(id % 1000 as string), '-hello') as col5",
      "cast(concat('b', cast(id % 97 as string)) as binary) as col6",
      "timestamp_micros(946684800000000 + id * 31536) as col7",
      // the reference's trailing null stripe, as a modular stripe so
      // it spans partitions
      "if(id % 50000 = 0, null, cast(id % 7 as int)) as col8")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t")
  }

  /** One measurement pass: stream the table through the single-file
    * Feather sink under a live-set sampler, then collect() it and
    * read the retained delta. Returns (streamPeakDelta, collectDelta)
    * in bytes.
    */
  private def measure(df: DataFrame): (Long, Long) = {
    val out = Files.createTempDirectory("memprobe-out").toString
    val base = usedAfterGc()

    // Live-set sampler: GC-then-read every 300 ms during the write.
    @volatile var running = true
    @volatile var peak = 0L
    val sampler = new Thread(() => {
      while (running) {
        val u = usedAfterGc()
        if (u > peak) peak = u
        Thread.sleep(300)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    FeatherSink.write(df, s"$out/stream.feather", singleFile = true)
    running = false
    sampler.join()
    val streamPeakDelta = math.max(0L, peak - base)

    val rows = df.collect()
    val collectDelta = math.max(0L, usedAfterGc() - base)
    assert(rows.length == Rows,
      s"collect returned ${rows.length} rows")
    (streamPeakDelta, collectDelta)
  }

  test("single-file Feather streaming write is partition-bounded; " +
    "collect() is not") {
    val df = mixedTable()

    // The samples are GC-timing-dependent (300 ms live-set sampler,
    // System.gc hints): on a different JVM/GC/heap a single pass can
    // flake without any regression in the streaming path. So the
    // numbers are primarily a RECORDED ARTIFACT (MEMPROBE.json); the
    // assertions check the order-of-magnitude relation, and a
    // failing first pass is retried once before declaring a real
    // regression. The relational margin is collectDelta / 4: measured
    // headroom on this host is ~10-15× (r13: 20.6 vs 301.4 MiB; r14
    // re-record: 26.0 vs 252.5 MiB), so /4 leaves >2× slack for GC
    // wander while still failing loudly if the streaming path ever
    // degrades toward materializing the table.
    var (streamPeakDelta, collectDelta) = measure(df)
    // A delta of exactly 0 after a 1M-row write is physically
    // implausible — the sampler missed every in-flight window (GC
    // timing artifact; the driver's r18 re-run recorded 0.0). Reject
    // and re-sample, same as a strict-relation miss.
    val strictOk = streamPeakDelta > 0 &&
      streamPeakDelta < StreamBoundBytes &&
      streamPeakDelta.toDouble < collectDelta / 4.0
    if (!strictOk) {
      info("first pass failed the strict relation (or sampled an " +
        "implausible 0-byte peak); retrying once (GC-timing-dependent " +
        "sampler)")
      val again = measure(df)
      streamPeakDelta = again._1
      collectDelta = again._2
    }
    assert(streamPeakDelta > 0,
      "live-set sampler recorded a 0-byte peak twice for a 1M-row " +
        "write — sampler broken or write degenerate; not recording " +
        "an implausible artifact")

    val mib = (b: Long) => b / 1024.0 / 1024.0
    val json =
      f"""{"probe":"feather_singlefile_1M_mixed","rows":$Rows,
         |"stream_peak_live_mib":${mib(streamPeakDelta)}%.1f,
         |"collect_retained_mib":${mib(collectDelta)}%.1f,
         |"stream_bound_mib":${mib(StreamBoundBytes)}%.1f,
         |"reference_stream_mib":2.4,
         |"reference_materialized_mib":257.8,
         |"note":"live-set heap deltas, driver JVM; reference rows from /root/reference/README.md:44-47"}"""
        .stripMargin.replace("\n", "")
    // The committed MEMPROBE.json is the recorded baseline; a run
    // writes its own measurement beside the build output.
    val out = java.nio.file.Paths.get("target", "MEMPROBE.json")
    Files.createDirectories(out.getParent)
    Files.writeString(out, json + "\n")
    info(f"stream peak +${mib(streamPeakDelta)}%.1f MiB, " +
      f"collect retained +${mib(collectDelta)}%.1f MiB")

    assert(streamPeakDelta < StreamBoundBytes,
      f"streaming write grew the live set by ${mib(streamPeakDelta)}%.1f" +
        f" MiB — over the ${mib(StreamBoundBytes)}%.1f MiB bound; the " +
        "partition-by-partition pull is no longer partition-bounded")
    assert(streamPeakDelta.toDouble < collectDelta / 4.0,
      f"streaming peak ${mib(streamPeakDelta)}%.1f MiB is not below " +
        f"a quarter of collect retention ${mib(collectDelta)}%.1f MiB " +
        "— measured headroom is ~10-15×; losing it means the " +
        "streaming path is materializing")
  }
}

/** One place to read heap usage (java.lang.management). */
private object ManagementFactorySingleton {
  def heapUsed(): Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
}
