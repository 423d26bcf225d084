package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import Stats.Span

/** In-memory span recorder. Spans are kept until the run ends; when
  * tracing is off `span` only runs its body. Spans nest through a
  * thread-local stack, which is enough for the closed single-caller
  * loop the harness drives.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private val attrs = scala.collection.mutable.Map.empty[Int, Map[String, Double]]

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parentStack = stack.get
      val parent = parentStack.headOption.map(_._1).getOrElse(-1)
      val opId = if (op >= 0) op else parentStack.headOption.map(_._2).getOrElse(-1)
      stack.set((id, opId) :: parentStack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parentStack)
        spans.synchronized { spans += Span(id, parent, name, opId, t0, t1) }
      }
    }

  /** Attach counters (SparkListener, pg_stat_database deltas) to a span. */
  def annotate(id: Int, kv: Map[String, Double]): Unit =
    attrs.synchronized { attrs(id) = attrs.getOrElse(id, Map.empty) ++ kv }

  def recorded: Seq[Span] = spans.synchronized(spans.toList)
  def annotations: Map[Int, Map[String, Double]] = attrs.synchronized(attrs.toMap)
}

/** Spark runtime counters per job group. The harness puts each op's
  * jobs in a group of their own, so the counts cover the op's work and
  * not the output checks, and late listener events still land in the
  * right op.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Array[AtomicLong]]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def cells(group: String): Array[AtomicLong] =
    byGroup.computeIfAbsent(group, _ => Array.fill(Keys.length)(new AtomicLong))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    cells(g)(0).incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = cells(stageGroup.getOrDefault(e.stageId, ""))
    c(1).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(2).addAndGet(m.executorRunTime * 1000000L)
      c(3).addAndGet(m.executorCpuTime)
      c(4).addAndGet(m.jvmGCTime * 1000000L)
      c(5).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(6).addAndGet(m.shuffleReadMetrics.fetchWaitTime * 1000000L)
      c(7).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Counters of one job group, times in seconds. */
  def of(group: String): Map[String, Double] = {
    val c = cells(group)
    Keys.indices.map { i =>
      val v = c(i).get.toDouble
      Keys(i) -> (if (Keys(i).endsWith("_s")) v / 1e9 else v)
    }.toMap
  }
}

object SparkCounters {
  val Keys: IndexedSeq[String] = IndexedSeq("jobs", "tasks", "task_run_s", "task_cpu_s",
    "gc_s", "shuffle_write_bytes", "fetch_wait_s", "spill_bytes")
}

/** High-water mark of heap used after GC, read from the JVM's GC
  * notifications. Nothing forces a collection: the figure is what the
  * collector itself saw while the measured work ran.
  */
final class HeapWatch {
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)
  private val events = new AtomicLong(0L)

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if isHeapPool(pool) => u.getUsed
        }.sum
        events.incrementAndGet()
        peak.accumulateAndGet(used, math.max)
      }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeapPool(name: String): Boolean = heapPools.contains(name)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def start(): Unit = { peak.set(0L); events.set(0L); armed = true }
  def stop(): Unit = armed = false
  def gcEvents: Long = events.get

  /** Peak since the last call, in MiB; None if no collection ran. */
  def takePeakMiB(): Option[Double] = {
    val p = peak.getAndSet(0L)
    if (p == 0L) None else Some(p / (1024.0 * 1024.0))
  }
}

/** CPU time spent on the benchmark's behalf: the harness JVM's own
  * threads plus the PostgreSQL server (the postmaster and every backend
  * it has reaped). Unlike wall time it leaves out the time the host gave
  * the virtual CPUs to someone else.
  */
final class CpuClock(pgPid: Option[Int]) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Linux reports process times in USER_HZ ticks, 100 a second. */
  private val TickNanos = 10000000L

  /** The postmaster's own CPU and that of the backends it has reaped. */
  def pgNanos: Long = pgPid.map { p =>
    try Stats.procCpuTicks(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/proc/$p/stat")), "US-ASCII")) * TickNanos
    catch { case _: java.io.IOException => 0L }
  }.getOrElse(0L)

  def jvmNanos: Long = os.getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of every live Java thread, by thread id. The JIT compiler
    * and collector threads are not Java threads, so they are left out.
    */
  def threadNanos: Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  def nanos: Long = jvmNanos + pgNanos

  /** (busy, steal) ticks of the whole machine from /proc/stat. */
  def hostTicks: (Long, Long) = {
    val lines = try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      catch { case _: java.io.IOException => java.util.Collections.emptyList[String]() }
    lines.asScala.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L))
  }
}
