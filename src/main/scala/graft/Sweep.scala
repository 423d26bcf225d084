package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Corpus

/** Engine-written corpus twins for scale evidence — the two stresses
  * the driver's uniform fixtures never exercise:
  *
  *   - [[skewedEvents]]/[[skewedLineitem]]: a HOT KEY holding ~1/denom
  *     of all rows (real event logs always have one; uniform user_ids
  *     make every per-key window partition the same size, hiding
  *     straggler behavior);
  *   - [[replicated]]: the same corpus at k× rows (unique keys, text
  *     perturbed per copy so near-dup structure isn't trivially k×
  *     duplicated), for measuring observed scaling exponents.
  *
  * Both are deterministic (key arithmetic, no RNG) so measured numbers
  * are reproducible. Written OUTSIDE the read-only driver corpus.
  */
object ScaleFixtures {

  /** Part-file count every replicated twin is written at — BOTH the
    * 1× base and the k× twin, so a sweep's two measurements scan at
    * the SAME task parallelism and the exponent isolates data volume.
    * Without this the driver corpus's single-file tables (sf0.1
    * orders.parquet is ONE 2.7 MB file = a 1-task scan) make the 1×
    * side of any scan-dominated query run single-threaded while the
    * k× twin (k part-files) runs k-way — which measured as NEGATIVE
    * exponents on the profiler family (q239: 2.76 s at 1× vs 0.52 s
    * at 10×, pure parallelism, no data insight). 32 matches the
    * sweep's local[32] and its shuffle partitioning.
    */
  val FixtureFiles = 32

  /** Fixture-GENERATOR version, baked into every prebuilt-fixture
    * marker tag: bump whenever any `replicated*`/fixture writer's
    * logic or config changes so later sweep sessions rebuild instead
    * of silently reusing stale fixtures and recording wrong k× rows
    * (r15 ADVICE). v2 = r16 (FixtureFiles=32, offset-keyed twins,
    * rebuilt c_name namespace).
    */
  val FixtureGenVersion = 2

  /** events twin with event_id ≡ 0 (mod denom) remapped to one hot
    * user — that user then holds ~1/denom of the corpus. Returns the
    * hot user id.
    */
  def skewedEvents(spark: SparkSession, srcDir: String, outDir: String,
      denom: Int = 10): Long = {
    val ev = Corpus.read(spark, srcDir, "events")
    val hot = ev.agg(min(col("user_id"))).head().getLong(0)
    ev.withColumn("user_id",
        when(pmod(col("event_id"), lit(denom.toLong)) === 0, lit(hot))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    hot
  }

  /** lineitem twin with ~1/denom of lines remapped to one hot
    * supplier (the q10/q59 window-partition key). Returns the hot
    * suppkey.
    */
  def skewedLineitem(spark: SparkSession, srcDir: String, outDir: String,
      denom: Int = 10): Long = {
    val li = Corpus.read(spark, srcDir, "lineitem")
    val hot = li.agg(min(col("l_suppkey"))).head().getLong(0)
    li.withColumn("l_suppkey",
        when(pmod(col("l_orderkey") * 10 + col("l_linenumber"),
          lit(denom.toLong)) === 0, lit(hot))
          .otherwise(col("l_suppkey")))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    hot
  }

  /** documents + events at `factor`× rows: copy k offsets every key
    * by k·(max+1) (stays unique), prefixes copy k>0 document text
    * with a copy marker (so shingles differ and near-dup work isn't
    * just k× exact duplicates), keeps the event time span (k× density
    * — the realistic direction: more traffic, same month).
    */
  def replicated(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val docs = Corpus.read(spark, srcDir, "documents")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      val text = if (k == 0) col("text")
        else concat(lit(s"copy$k "), col("text"))
      docs.select((col("doc_id") + lit(k * maxDoc)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ union _)
      .repartition(FixtureFiles)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val ev = Corpus.read(spark, srcDir, "events")
    val maxEid = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val maxUid = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      ev.select((col("event_id") + lit(k * maxEid)).as("event_id"),
        (col("user_id") + lit(k * maxUid)).as("user_id"),
        col("ts"), col("event_type"), col("value"))
    }.reduce(_ union _)
      .repartition(FixtureFiles)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // embeddings at factor× for the ANN/cluster sweeps: vec_id offset
    // per copy (keeps the doc_id = vec_id keying aligned with the
    // replicated documents); vectors stay byte-identical — candidate
    // ties are broken by vec_id everywhere, and identical copies are
    // the WORST case for candidate-bounded search (every copy of a
    // near neighbor is an equally-near candidate).
    val em = Corpus.read(spark, srcDir, "embeddings")
    val maxVid = em.agg(max(col("vec_id"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      em.select((col("vec_id") + lit(k * maxVid)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ union _)
      .repartition(FixtureFiles)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** customer at `factor`× rows for the q108b recursion sweep: keys
    * offset per copy by factor·(max+1) so they stay unique. NOTE the
    * closure's round count grows with log₂(max key), so a 10× twin
    * runs both ~10× the per-round volume AND ~log₁₀(10·maxKey)/
    * log₁₀(maxKey) more rounds — SCALING.md's fit separates the two.
    * c_name is REBUILT from the offset key (the corpus's own
    * 'Customer#%09d' format): copying names verbatim would hand the
    * q234 trigram index `factor` exact copies of every name, inflate
    * every discriminating trigram's df by `factor`, and let the
    * TrgmDfCap prune the candidate set into a fake speed-up — a 10×
    * corpus has 10× DISTINCT names, and the fixture must too.
    */
  def replicatedCustomer(spark: SparkSession, srcDir: String,
      outDir: String, factor: Int): Unit = {
    val c = Corpus.read(spark, srcDir, "customer")
    val maxCk = c.agg(max(col("c_custkey"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      c.withColumn("c_custkey", col("c_custkey") + lit(k * maxCk))
        .withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))
    }.reduce(_ union _)
      .repartition(FixtureFiles)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
  }

  /** documents twin with a HOT NEAR-DUP CLUSTER: every doc_id ≡ 0
    * (mod denom) keeps its identity but takes the corpus's first
    * document's text plus a tiny per-doc suffix — ~1/denom of the
    * corpus becomes ONE near-duplicate cluster (high pairwise
    * Jaccard, shared LSH buckets, shared shingles). This is the
    * adversarial shape the LSH hot-bucket caps and the containment
    * df-caps exist for: without them, candidate pairs inside the
    * cluster grow quadratically (C(n/denom, 2)). The suffix keeps
    * texts distinct so exact-hash dedup can't collapse them first.
    * Returns the cluster size.
    */
  def skewedDocuments(spark: SparkSession, srcDir: String,
      outDir: String, denom: Int = 10): Long = {
    val docs = Corpus.read(spark, srcDir, "documents")
    val baseText = docs.orderBy(col("doc_id")).select(col("text"))
      .head().getString(0)
    val out = docs.withColumn("text",
        when(pmod(col("doc_id"), lit(denom.toLong)) === 0,
          concat(lit(baseText), lit(" v"), col("doc_id")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    out.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    Corpus.read(spark, outDir, "documents")
      .filter(pmod(col("doc_id"), lit(denom.toLong)) === 0).count()
  }

  /** orders at `factor`× rows for the profiler sweeps (q238/q239
    * scan orders): order keys offset per copy so the key column's
    * cardinality scales with the volume; the low-cardinality columns
    * (status/priority) and o_custkey pass through — exactly the mix
    * a profiler meets (some columns' distinct counts grow with the
    * data, some saturate).
    */
  def replicatedOrders(spark: SparkSession, srcDir: String,
      outDir: String, factor: Int): Unit = {
    val o = Corpus.read(spark, srcDir, "orders")
    val maxOk = o.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(k * maxOk))
    }.reduce(_ union _)
      .repartition(FixtureFiles)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
  }

  /** lineitem at `factor`× rows for the skew×scale sweep: order and
    * supplier keys offset per copy (so per-supplier window-partition
    * sizes stay the sf-level baseline until [[skewedLineitem]]
    * concentrates ~1/denom of ALL copies onto one hot supplier);
    * non-key columns pass through unchanged (the skew queries touch
    * only supplier windows — part/customer dims are not replicated).
    */
  def replicatedLineitem(spark: SparkSession, srcDir: String,
      outDir: String, factor: Int): Unit = {
    val li = Corpus.read(spark, srcDir, "lineitem")
    val maxOk = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val maxSk = li.agg(max(col("l_suppkey"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * maxOk))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * maxSk))
    }.reduce(_ union _)
      .repartition(FixtureFiles)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }
}

/** Scale-evidence main (SCALING.md's measured numbers):
  *
  *   runMain graft.Sweep skew <srcDir> <workDir>
  *     builds hot-key twins of events + lineitem and times the
  *     per-key-window queries on uniform vs skewed data;
  *
  *   runMain graft.Sweep skewx <srcDir> <workDir> [factor]
  *     skew × scale: replicates events+lineitem factor× FIRST, then
  *     skews the replicated corpus — the hot partition is factor×
  *     the plain-skew one, the first configuration a straggler
  *     cliff could appear in;
  *
  *   runMain graft.Sweep x10 <srcDir> <workDir> [factor] [query...]
  *     builds the replicated corpus and times the document/event
  *     heavy queries (or just the listed ones) at 1× and k×,
  *     reporting the observed scaling exponent log_k(t_k / t_1)
  *     per query.
  *
  *   runMain graft.Sweep skewdocs <srcDir> <workDir> [factor]
  *     dedup/similarity under skew × scale: replicates documents
  *     factor× FIRST, then concentrates ~10% of the replicated
  *     corpus into ONE near-dup cluster — the hot-bucket/df-cap
  *     stress (candidate pairs inside the cluster would otherwise
  *     grow quadratically). Times the LSH/containment/CC family on
  *     uniform-k× vs hot-k× and reports ratios.
  *
  * Timing mirrors Bench: min-of-2 fully-materialized (noop write)
  * runs, caches cleared between queries.
  */
object Sweep {

  private val SkewQueries = Seq("q75_gap_fill", "q79_interpolate",
    "q85_rolling_zscore", "q87_attribution", "q93_twa",
    "q10_window_running", "q59_range_window",
    // round 9: the per-user collector — the one new shape whose
    // state is the GROUP, not O(1): a hot user materializes its
    // whole event list in one task (q121's scaladoc bounds the
    // contract to bounded keys; this measures the hot-key cost).
    "q121_array_agg_order")

  private val DocSkewQueries = Seq("q27_ngram_jaccard",
    "q28_minhash_lsh", "q43_dedup_clusters", "q89_containment")

  private val SweepQueries = Seq("q58_curated_pipeline",
    "q52_training_pipeline", "q73_tfidf", "q79_interpolate",
    "q71_edit_distance", "q43_dedup_clusters", "q89_containment",
    "q72_chunk_udtf", "q75_gap_fill", "q85_rolling_zscore")

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val srcDir = args(1)
    val workDir = args(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Flaco.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt)

    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }
    def minOf2(name: String, dir: String): Double =
      math.min(once(name, dir), once(name, dir))

    /** FULL settle pass before any timing — every (query, dir) pair
      * runs once untimed, THEN the timed min-of-2 pass starts. Two
      * measured contaminations land on the session's early timed
      * legs otherwise: (a) whole-stage codegen + C2 compilation
      * (q240 t1 = 4.3/16.3/30.1 s across three sessions on IDENTICAL
      * 1× data, t10 stable ≈ 6–7 s — a negative "exponent" that was
      * session order, not data cost), and (b) the page-cache flush
      * of the multi-GB fixture writes that immediately precede
      * timing — a per-query warm run was NOT enough (warm + both
      * timed runs still landed inside the flush window: q240
      * t1 = 21.8 s warmed vs 1.40 s steady-state via Bench on the
      * same fixture dir). The settle pass absorbs both.
      */
    def settle(qs: Seq[String], dirs: Seq[String]): Unit =
      for (q <- qs; d <- dirs) once(q, d): Unit

    /** Times SkewQueries on a uniform vs a hot-key twin of the same
      * corpus — shared by `skew` (driver corpus) and `skewx`
      * (replicated corpus, where the hot partition is factor× the
      * sf0.1 one — the first configuration a straggler cliff COULD
      * appear in).
      */
    def skewReport(uniformDir: String, skewDir: String): Unit = {
      val hotUser = ScaleFixtures.skewedEvents(spark, uniformDir, skewDir)
      val hotSupp = ScaleFixtures.skewedLineitem(spark, uniformDir, skewDir)
      val evTotal = Corpus.read(spark, skewDir, "events").count()
      val evHot = Corpus.read(spark, skewDir, "events")
        .filter(col("user_id") === hotUser).count()
      println(f"[skew] hot user $hotUser holds $evHot/$evTotal events " +
        f"(${100.0 * evHot / evTotal}%.1f%%); hot supplier $hotSupp")
      settle(SkewQueries, Seq(uniformDir, skewDir))
      val lines = SkewQueries.map { q =>
        val tu = minOf2(q, uniformDir)
        val ts = minOf2(q, skewDir)
        f""""$q": {"uniform": $tu%.3f, "skewed": $ts%.3f, "ratio": ${ts / tu}%.2f}"""
      }
      println(lines.mkString("SWEEP_RESULT {", ", ", "}"))
    }

    mode match {
      case "skew" =>
        skewReport(srcDir, workDir)
      case "skewx" =>
        // Skew × scale: replicate events AND lineitem factor× first,
        // then skew THAT — the hot key then holds ~10% of factor×
        // the rows (at factor 10 on sf0.1: a ~1M-event corpus with a
        // ~100k-event hot user).
        val factor = if (args.length > 3) args(3).toInt else 10
        val baseDir = s"$workDir/base"
        ScaleFixtures.replicated(spark, srcDir, baseDir, factor)
        ScaleFixtures.replicatedLineitem(spark, srcDir, baseDir, factor)
        skewReport(baseDir, s"$workDir/skew")
      case "x10" =>
        val factor = if (args.length > 3) args(3).toInt else 10
        // Optional trailing query names restrict the sweep (e.g. the
        // output-linear trio at a deeper factor).
        val names = if (args.length > 4) args.drop(4).toSeq else SweepQueries
        // The 1× side is a factor-1 twin written through the SAME
        // fixture writers ([[ScaleFixtures.FixtureFiles]] part-files
        // per table, identical rows), NOT the driver corpus directly:
        // the corpus's single-file tables scan as ONE task, the k×
        // twin as many, and that parallelism delta — not data cost —
        // is what a srcDir-based t1 measures on scan-dominated
        // queries (observed as negative exponents on the profiler
        // family). Same layout both sides → the exponent is volume.
        val baseDir = s"$workDir/base1x"
        val kDir = s"$workDir/x$factor"
        Seq(1 -> baseDir, factor -> kDir).foreach { case (f, d) =>
          // Deterministic fixtures are REUSED across sweep sessions
          // (marker-tagged by factor+source): rebuilding them leaves
          // multi-GB of dirty pages flushing through the first timed
          // legs, and a SHORT session's settle pass is not long
          // enough to absorb that (measured: q240 t1 15.2 s in a
          // 2-query session with rebuild vs 1.40 s with prebuilt
          // fixtures). First run of a configuration still pays once.
          val marker = java.nio.file.Paths.get(d, ".fixture")
          // Tag includes the generator version so a fixture-writer
          // change invalidates prebuilt fixtures (r15 ADVICE).
          val tag = s"x$f:$srcDir:v${ScaleFixtures.FixtureGenVersion}"
          val fresh = !java.nio.file.Files.exists(marker) ||
            java.nio.file.Files.readString(marker) != tag
          if (fresh) {
            ScaleFixtures.replicated(spark, srcDir, d, f)
            // The q108b closure walks customer keys — replicate them
            // too (cheap; only sweeps that list q108b read the table).
            ScaleFixtures.replicatedCustomer(spark, srcDir, d, f)
            // orders + lineitem twins for the profiler (q238/q239 scan
            // orders) and layout-health (q237 scans lineitem) sweeps.
            ScaleFixtures.replicatedOrders(spark, srcDir, d, f)
            ScaleFixtures.replicatedLineitem(spark, srcDir, d, f)
            java.nio.file.Files.writeString(marker, tag): Unit
          }
        }
        settle(names, Seq(baseDir, kDir))
        val lines = names.map { q =>
          val t1 = minOf2(q, baseDir)
          val tk = minOf2(q, kDir)
          val exp = math.log(tk / t1) / math.log(factor.toDouble)
          f""""$q": {"t1": $t1%.3f, "t$factor": $tk%.3f, "exponent": $exp%.2f}"""
        }
        println(lines.mkString("SWEEP_RESULT {", ", ", "}"))
      case "skewdocs" =>
        val factor = if (args.length > 3) args(3).toInt else 10
        val baseDir = s"$workDir/base"
        val hotDir = s"$workDir/hot"
        ScaleFixtures.replicated(spark, srcDir, baseDir, factor)
        val clusterSize = ScaleFixtures.skewedDocuments(spark, baseDir, hotDir)
        val total = Corpus.read(spark, hotDir, "documents").count()
        println(f"[skewdocs] hot near-dup cluster: $clusterSize/$total docs " +
          f"(${100.0 * clusterSize / total}%.1f%%)")
        // Optional trailing query names override the default list.
        val docQs = if (args.length > 4) args.drop(4).toSeq else DocSkewQueries
        settle(docQs, Seq(baseDir, hotDir))
        val lines = docQs.map { q =>
          val tu = minOf2(q, baseDir)
          val ts = minOf2(q, hotDir)
          f""""$q": {"uniform": $tu%.3f, "hot": $ts%.3f, "ratio": ${ts / tu}%.2f}"""
        }
        println(lines.mkString("SWEEP_RESULT {", ", ", "}"))
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
