package perfbench

/** The harness's pure pieces: order statistics, the order-insensitive
  * output digest, span self time and the seeded fixture SQL. Nothing
  * here touches Spark or PostgreSQL, so all of it is unit-tested.
  */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the `p`-th percentile. A tail percentile is
    * only reported as steady when this is at least [[MinTailSamples]].
    */
  def samplesBeyond(xs: Seq[Double], p: Double): Int = {
    val q = percentile(xs, p)
    xs.count(_ > q)
  }

  val MinTailSamples = 10

  /** Order-insensitive digest of a multiset of row hashes: the row
    * count, the xor of the hashes and the sum of their low 32 bits. The
    * sum cannot overflow below 2^31 rows, and unlike the xor alone it
    * changes when a row is duplicated.
    */
  final case class Digest(count: Long, xor: Long, sum32: Long) {
    def add(h: Long): Digest = Digest(count + 1, xor ^ h, sum32 + (h & 0xFFFFFFFFL))
    def merge(o: Digest): Digest = Digest(count + o.count, xor ^ o.xor, sum32 + o.sum32)
    override def toString: String = f"$count:$xor%016x:$sum32%x"
  }
  object Digest {
    val empty: Digest = Digest(0L, 0L, 0L)
    def of(hashes: IterableOnce[Long]): Digest =
      hashes.iterator.foldLeft(empty)(_ add _)
  }

  /** CPU the threads spent between two readings of per-thread CPU time
    * by thread id. A thread born in between counts from zero; one that
    * ended in between is missing from `after` and adds nothing.
    */
  def threadCpuDelta(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, n) => n - before.getOrElse(id, 0L) }.filter(_ > 0).sum

  /** utime + stime + cutime + cstime, in clock ticks, from a line of
    * `/proc/<pid>/stat`: the process's own CPU and that of the children
    * it has waited for. The command name is parenthesised and may hold
    * spaces and parentheses, so fields are counted from its last `)`.
    */
  def procCpuTicks(statLine: String): Long = {
    val f = statLine.substring(statLine.lastIndexOf(')') + 2).trim.split("\\s+")
    // f(0) is field 3 (state); utime..cstime are fields 14-17.
    (11 to 14).map(i => f(i).toLong).sum
  }

  /** One recorded span. `parent` is the id of the enclosing span, -1 at
    * the root; times are nanoseconds.
    */
  final case class Span(id: Int, parent: Int, name: String, op: Int,
      start: Long, end: Long) {
    def dur: Long = end - start
  }

  /** Total length of the union of `[start, end)` intervals. */
  def coveredNanos(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the time its direct
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - coveredNanos(c))
    }.toMap
  }

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Int): Seq[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(k => walk(k.id))
    walk(root)
  }

  /** Does the self time of `root` and all of its descendants add up to
    * the root's duration? True whenever children nest inside their
    * parent and siblings do not overlap.
    */
  def selfTimesAddUp(spans: Seq[Span], root: Int): Boolean = {
    val self = selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    subtree(spans, root).map(self).sum == byId(root).dur
  }

  /** PostgreSQL's `setseed` takes a double in [-1, 1]. Map the integer
    * benchmark seed onto it injectively for seeds below 2^20.
    */
  def pgSeed(seed: Long): Double = {
    val m = java.lang.Math.floorMod(seed, 1L << 20)
    m.toDouble / (1L << 20)
  }

  /** The reference's 10-type benchmark table, `rows` rows, generated by
    * the server from `seed`, as statements to run one by one. random()
    * is evaluated serially (parallel workers are off on the benchmark
    * cluster, and the statements share one session), so the same seed
    * gives the same table.
    */
  def ingestTableSql(table: String, rows: Int, seed: Long): Seq[String] = Seq(
    s"DROP TABLE IF EXISTS $table",
    s"SELECT setseed(${pgSeed(seed)})",
    s"""CREATE TABLE $table AS
       |SELECT i::int4 AS col1,
       |  (random() * 1e15)::int8 AS col2,
       |  random()::float8 AS col3,
       |  random()::float4 AS col4,
       |  lpad(to_hex((random() * 4294967295)::int8), 8, '0') || '-row-' || i::text AS col5,
       |  int8send((random() * 1e18)::int8) AS col6,
       |  date '2000-01-01' + (random() * 10000)::int AS col7,
       |  timestamp '2000-01-01' + (random() * 690000000000)::int8 * interval '1 microsecond' AS col8,
       |  timestamptz '2000-01-01 00:00:00+00' + (random() * 690000000000)::int8 * interval '1 microsecond' AS col9,
       |  time '00:00' + (random() * 86399999999)::int8 * interval '1 microsecond' AS col10
       |FROM generate_series(1, $rows) i""".stripMargin,
    s"VACUUM ANALYZE $table")

  /** Fisher-Yates permutation of `xs` driven by a seeded generator. */
  def permute[T](xs: Seq[T], rng: java.util.Random): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
