package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.Corpus

/** Deduplication operators for training-data pipelines (north-star
  * extensions, SURVEY.md §2.2 last row): exact, n-gram Jaccard,
  * MinHash+LSH, and embedding-cosine near-dup. SimHash lives in
  * [[TextAnalysis.simhash]] (it is a fingerprint first).
  *
  * Scale design: nothing here is O(n²) over the corpus. Pair
  * generation always goes through a blocking key — shared shingle,
  * LSH band bucket, or language — so the shuffle joins on a key whose
  * per-bucket cardinality is bounded, the standard approach at
  * billion-document scale. All hashing is md5 (bit-identical in the
  * DuckDB oracle).
  */
object Dedup {

  /** Word 3-gram shingles of `docs`, distinct per (doc, lang, shingle). */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("shingle", explode(expr(
        """CASE WHEN size(toks) >= 3
          |THEN transform(sequence(1, size(toks) - 2),
          |               i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))
          |ELSE array() END""".stripMargin)))
      .select(col("doc_id"), col("lang"), col("shingle"))
      .distinct()

  /** Benchmark decontamination: flag training documents sharing any
    * word 3-gram with the held-out evaluation set (stand-in here:
    * doc_id % 10 == 0), with the count of overlapping shingles — the
    * pass a training pipeline runs so eval data never leaks into
    * training data. Scale shape: the eval set is small by nature, so
    * its distinct shingle universe is collected once and broadcast
    * (the collect IS the broadcast build — the same driver-side
    * materialization a BroadcastExchange performs, size-bounded by
    * the eval suite, never by the corpus); the corpus side is then a
    * single scan projection through the per-doc
    * [[graft.functions.ShingleHitsInSet]] membership kernel — no
    * shingle explode, no per-shingle rows, no exchange before the
    * final sort (the declarative explode + broadcast-semi-join twin
    * remains the DuckDB oracle formulation, and OperatorsSpec pins
    * value parity between the two).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.read(spark, dir, "documents")
    val bench = evalShingleSet(spark, docs)
    docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), graft.functions.MinHashFunctions
        .shingle_hits_in_set(TextAnalysis.tokens(col("text")), bench)
        .as("n_hits"))
      .filter(col("n_hits") > 0)
      .orderBy(col("doc_id"))
  }

  /** The eval-set distinct-shingle universe as a broadcast HashSet —
    * [[decontaminate]]'s build side, shared with
    * [[contaminationReport]]. Streams the DEDUPED relation into the
    * set partition-by-partition (toLocalIterator), exactly as a
    * BroadcastExchange materializes its build side: peak driver
    * footprint is ~1x the distinct universe — never the sum of
    * per-doc shingle sets (cross-doc overlap is the norm in an eval
    * suite) and never a second full copy as an Array[Row].
    */
  private def evalShingleSet(spark: SparkSession, docs: DataFrame)
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] = {
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val it = shinglesOf(docs.filter(col("doc_id") % 10 === 0))
      .select(col("shingle")).distinct().toLocalIterator()
    while (it.hasNext) set.add(
      org.apache.spark.unsafe.types.UTF8String.fromString(it.next().getString(0)))
    spark.sparkContext.broadcast(set)
  }

  /** Contamination-severity report (q159) — the POLICY step on top
    * of q48's flagging, the way q135's survivor selection is the
    * policy step on q43's clustering: published decontamination
    * procedures don't drop a document on one shared n-gram, they
    * grade it by the FRACTION of its n-grams that collide with the
    * eval suite and act on thresholds (GPT-3's appendix-C cleaning
    * and the FineWeb/RefinedWeb audits both publish these ratios).
    * Per training doc: its distinct-shingle count (the
    * sorted_shingles kernel's set size — same one-pass per-row
    * kernel q144 uses, no explode), its eval-colliding count (q48's
    * membership kernel against the same broadcast universe), the
    * exact integer contamination ppm, and the three-way verdict —
    * `clean` (no hits) / `review` (below half) / `drop` (≥ half its
    * shingles shared). Everything is one scan projection over the
    * corpus plus the eval-sized broadcast — no shuffle at all until
    * the gate's ORDER BY.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.read(spark, dir, "documents")
    contaminationColumns(docs, evalShingleSet(spark, docs))
      .orderBy(col("doc_id"))
  }

  /** The per-doc contamination projection — STATELESS given the
    * broadcast eval universe, which is why the streaming twin
    * ([[graft.streaming.DocumentStreams.contaminationCounts]]) can
    * reuse it verbatim on an unbounded ingest stream.
    */
  private[graft] def contaminationColumns(docs: DataFrame,
      bench: org.apache.spark.broadcast.Broadcast[
        java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]])
      : DataFrame =
    docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        size(graft.functions.MinHashFunctions.sorted_shingles(
          TextAnalysis.tokens(col("text")))).cast("long").as("n_sh"),
        graft.functions.MinHashFunctions
          .shingle_hits_in_set(TextAnalysis.tokens(col("text")), bench)
          .as("n_hits"))
      .filter(col("n_sh") > 0)
      .withColumn("cont_ppm", expr("n_hits * 1000000 div n_sh"))
      .withColumn("verdict",
        when(col("n_hits") === 0, "clean")
          .when(col("cont_ppm") >= 500000, "drop")
          .otherwise("review"))

  /** [[evalShingleSet]] for callers outside the operator (the
    * streaming twin builds the ingest-time guard from the static
    * batch corpus — the eval suite is static by nature).
    */
  def evalShingleSetFor(spark: SparkSession, dir: String)
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] =
    evalShingleSet(spark, Corpus.read(spark, dir, "documents"))

  /** [[decontaminate]]'s scale path for when the eval-set shingle
    * universe outgrows an executor-resident exact HashSet: only a
    * ~12-bits-per-shingle Bloom array rides the broadcast
    * ([[graft.functions.BloomKernel]] — no false negatives, so the
    * prefilter can never drop a contaminated doc), the corpus
    * prefilters itself in the scan projection, and EXACT verification
    * explodes only the surviving candidate docs' shingles into a
    * distributed join against the eval shingle table — the full
    * universe is never broadcast and never driver-resident: the bit
    * array itself is built DISTRIBUTED (per-partition Bloom inserts,
    * OR-merged by treeAggregate). False positives cost only wasted
    * verification rows and vanish at the exact join. Result is
    * row-identical to [[decontaminate]] (same oracle; spec-pinned).
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    val docs = Corpus.read(spark, dir, "documents")
    val evalDocs = docs.filter(col("doc_id") % 10 === 0)
    val (benchDF, bc) = shingleBloom(s, spark,
      shinglesOf(evalDocs).select(col("shingle")).distinct())
    val cands = docs.filter(col("doc_id") % 10 =!= 0)
      .filter(graft.functions.BloomFunctions
        .shingle_bloom_hits(TextAnalysis.tokens(col("text")), bc) > 0)
    // Materialize the (tiny) RESULT so the scope releases benchDF's
    // blocks before returning: callers get a small self-contained
    // relation, not a plan pinning eval-universe blocks in executor
    // storage (and not one that dies unrecomputably if a holding
    // executor is lost later).
    val out = Materialize(shinglesOf(cands).join(benchDF, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id")))
    // The bits broadcast is eval-universe-sized too; out is fully
    // materialized (the prefilter already ran), so destroy it now
    // rather than pinning executor blocks until GC.
    bc.destroy()
    out
  }

  /** Exact dedup over the md5 fingerprint. Input is the corpus
    * unioned with itself so the operator demonstrably removes copies:
    * per language, n_input = 2·docs, n_unique = distinct texts.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Corpus.read(spark, dir, "documents")
    d.unionAll(d)
      .withColumn("fp", TextAnalysis.fingerprintCol(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_input"),
        countDistinct(col("fp")).as("n_unique"))
      .orderBy(col("lang"))
  }

  /** Every band-candidate pair with its exact word-3-gram Jaccard:
    * (doc_a, doc_b, jaccard), doc_a < doc_b, same language — the
    * shared core of [[minhashLshPairs]] (threshold view) and
    * [[ngramJaccardNeighbors]] (best-neighbor view). The engine owns
    * the plan choice the reference delegates to its backend
    * (reference `src/lib.rs:188-189`): pair generation is LSH-blocked,
    * verification is candidate-sized, never corpus².
    *
    * Signature: 8 minhash values per doc, computed inside the scan
    * projection by the codegen'd [[graft.functions.MinHashSignature]]
    * kernel — no shingle explode, no per-token shuffle (the round-2
    * profile showed the explode+aggregate costing more than the hash
    * arithmetic; at 100 TB that exchange is corpus-token-sized).
    * Banded 2 rows × 4 bands; a band key is the plain `lo|hi` concat
    * (it is only a join key — hashing it again buys nothing).
    * Verification first shrinks the DOCUMENT table to candidate docs
    * (broadcast semi-join — candDocs is by construction a small
    * fraction of the corpus; if it ever approached corpus size the
    * dedup output itself would be the bottleneck), computes each
    * candidate doc's sorted shingle array ONCE
    * ([[graft.functions.SortedShingles]]), then joins each pair to
    * its two arrays and merge-counts exact Jaccard with the per-row
    * [[graft.functions.ShingleJaccard]] kernel — no shingle explode,
    * no five-exchange count-the-commons join tree; work and shuffle
    * ∝ candidates, never corpus.
    *
    * Eagerly materialized (`localCheckpoint`) so the two intermediate
    * caches can be released before returning — library callers get a
    * small self-contained result, not a plan pinning block-manager
    * storage (the result is the near-dup pair set: tiny next to the
    * corpus by definition).
    */
  /** A band bucket holding more than this many documents is dropped
    * before pairing: a bucket with d docs emits ~d² candidate rows,
    * so one boilerplate document duplicated a million times would
    * make candidate generation quadratic. The cap bounds per-bucket
    * fanout at MaxBandDocs² regardless of corpus size — the same
    * blocking-key guard the round-2 shingle df-cap provided, now at
    * the band level and mirrored in the oracle. What a dropped hot
    * bucket loses is mass-duplicated content, which is exactly what
    * the EXACT-dedup stage (fingerprint hash) removes without LSH.
    */
  val MaxBandDocs = 64

  /** The capped LSH band table (doc_id, lang, band, bkey) — the
    * blocking relation [[candidatePairJaccard]] self-joins and
    * [[deltaNearDup]] cross-joins base-vs-delta. The hot-bucket cap
    * is computed over the WHOLE table regardless of which side a doc
    * later lands on, so the full and incremental paths see the same
    * bucket universe.
    */
  /** The UNCAPPED band table (doc_id, lang, band, bkey) of a document
    * relation — one signature pass, 4 bands per signed doc. This is
    * the relation a production pipeline MATERIALIZES between
    * snapshots (the q168 base table) and the artifact q251 maintains
    * incrementally; [[cappedBands]] layers the query-time hot-bucket
    * cap on top. Factored so the stored build and the q251 arrival
    * re-banding run the SAME kernel (the q250 `cellAssignmentsFor`
    * argument: maintenance and rebuild cannot disagree).
    */
  def rawBandsOf(docs: DataFrame): DataFrame =
    bandsFromSigs(docs.select(col("doc_id"), col("lang"),
        graft.functions.MinHashFunctions
          .minhash_signature(TextAnalysis.tokens(col("text"))).as("sig"))
      .filter(col("sig").isNotNull))

  /** [[rawBandsOf]] from a precomputed (doc_id, lang, shs)
    * shingle-array relation (r22): the signature derives from the
    * shingles ([[graft.functions.MinHashKernel.signatureFromShingles]]
    * — bit-identical, MinHashSpec pins it), so a query that already
    * materializes per-doc shingle arrays (q226/q229's truth side)
    * bands WITHOUT a second tokenize pass over the corpus.
    */
  private def rawBandsOfShingles(shArr: DataFrame): DataFrame =
    bandsFromSigs(shArr.select(col("doc_id"), col("lang"),
        graft.functions.MinHashFunctions
          .minhash_signature_from_shingles(col("shs")).as("sig"))
      .filter(col("sig").isNotNull))

  /** The 4-band explode of a (doc_id, lang, sig) relation — shared by
    * the token-array and shingle-array signature paths so they cannot
    * drift on a band key.
    */
  private def bandsFromSigs(sigs: DataFrame): DataFrame = {
    // element_at is 1-based: band b pairs sig[2b+1] and sig[2b+2].
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat(element_at(col("sig"), 2 * b + 1), lit("|"),
          element_at(col("sig"), 2 * b + 2)).as("bkey"))
    }
    sigs.select(col("doc_id"), col("lang"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("lang"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  private def cappedBands(docs: DataFrame): DataFrame =
    // Materialized ONCE (r21): the tokenize→minhash signature pass is
    // the family's dominant kernel and it used to RE-EVALUATE under
    // every consumer branch — the hot-bucket aggregate, its anti-join
    // probe side, and the bl/br self-join sides downstream: up to 4
    // serialized passes of the same kernel per query (the band rows
    // themselves are 4 narrow rows/doc — tiny next to the kernel).
    // Checkpointing here is also exactly the production shape the
    // stored band index documents promise (q168/q251: the pipeline
    // keeps the band table MATERIALIZED between snapshots). bands0's
    // blocks release as soon as the capped table materializes; the
    // capped table itself stays persisted like [[verifyCandidates]]'
    // result (measured same-session at sf0.1: q43 2.9→2.5 s, q135
    // 3.5→2.3, q185 5.0→3.6, q247 6.8→4.5, q71 2.3→1.8, with task
    // cpu roughly halved across the family).
    cappedBandsFromRaw(rawBandsOf(docs))

  /** The hot-bucket cap over an already-derived raw band table —
    * shared by the token-array path above and the shingle-array path
    * ([[rawBandsOfShingles]]) so both see the same bucket universe.
    */
  private def cappedBandsFromRaw(raw: DataFrame): DataFrame =
      Materialize.scoped { s =>
    val bands0 = s(raw)
    // Bucket-size cap (see MaxBandDocs): the hot-bucket list is tiny
    // (it only holds pathological buckets) so the anti-join broadcasts.
    val hot = bands0.groupBy(col("lang"), col("band"), col("bkey"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > MaxBandDocs)
      .select(col("lang"), col("band"), col("bkey"))
    s(bands0.join(hot, Seq("lang", "band", "bkey"), "left_anti"))
  }

  /** Incremental LSH band-index maintenance under CDC (q251) — the
    * q248/q249/q250 IVM pattern on the near-dup side, completing the
    * stored-artifact family: a 100 TB pipeline keeps the MinHash band
    * table MATERIALIZED between snapshots (what [[deltaNearDup]]'s
    * docstring promises; this operator IS that maintenance). On a new
    * snapshot the stored (doc_id, lang, band, bkey) index is updated
    * row-level:
    *
    *  1. departed keys (deletes AND updates — a revised text re-hashes)
    *     anti-joined out;
    *  2. arriving rows (revised texts under their old key, inserts
    *     under new keys) re-banded by ONE [[rawBandsOf]] pass over the
    *     DELTA only — the same shingle→minhash→band kernel the full
    *     build runs, so maintenance and rebuild cannot disagree on a
    *     band key (the q250 frozen-kernel argument).
    *
    * The delta is q246's deterministic snapshot-B fixture (mod-11
    * delete / mod-7 revise / mod-13 re-key). The gate emits the FULL
    * maintained index and the oracle rebuilds it from scratch over
    * snapshot B, so hash-match is the IVM identity itself:
    * maintenance ≡ rebuild, cross-engine, on every band row.
    *
    * Scale: in production the maintenance legs proper are delta-sized
    * — signature hashing runs over arriving rows only and the stored
    * index is never re-hashed; the key-level update is one anti-join,
    * bucketed-co-located at warehouse scale (q74). The GATE derives
    * the "stored" index in-plan (one [[rawBandsOf]] pass over the
    * corpus — the q250 convention: embarrassingly parallel, flat at
    * local[32]); only the delta legs are the operator under test.
    * The hot-bucket cap stays QUERY-time ([[cappedBands]]) — the
    * stored index is uncapped, so cap retuning never forces an index
    * rebuild.
    */
  def lshIndexMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.read(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    lshIndexMaintainCore(docs, Relational.cdcDeltaOf(docs, maxId))
      .orderBy(col("doc_id"), col("band"))
  }

  /** The q251 maintenance legs over an already-derived delta — shared
    * by the q251 gate and the q252 composed pass.
    */
  def lshIndexMaintainCore(docs: DataFrame,
      delta: Relational.CdcDelta): DataFrame = {
    // Stored artifact from snapshot A (a table on disk in production).
    val idxA = rawBandsOf(docs)
    val removedKeys = delta.deletes.select(col("doc_id"))
      .unionByName(delta.revised.select(col("doc_id")))
    val arrivals = delta.revised
      .select(col("doc_id"), col("lang"), col("new_text").as("text"))
      .unionByName(delta.inserted.select(col("doc_id"), col("lang"),
        col("text")))
    val idxB = idxA.join(removedKeys, Seq("doc_id"), "left_anti")
      .unionByName(rawBandsOf(arrivals))
    idxB.select(col("doc_id"), col("lang"),
      col("band").cast("long").as("band"), col("bkey"))
  }

  def candidatePairJaccard(spark: SparkSession, dir: String): DataFrame =
    candidatePairJaccardOver(Corpus.read(spark, dir, "documents"))

  /** The same relation over an arbitrary document set — the q229
    * sampled audit restricts the corpus BEFORE banding, so bands,
    * caps and verification all see only the sample.
    */
  def candidatePairJaccardOver(docs: DataFrame): DataFrame = {
    // NOT spread (r21, measured both directions — the r20 q190b/q193
    // wide-text rule re-confirmed on this family): repartitioning the
    // documents scan before the minhash/shingle kernels made q27
    // 1.6→2.1 s, q28 1.5→1.8 s, q43 2.9→3.2 s, q229 2.1→3.7 s, q185
    // 5.0→11.3 s, with task cpu 4-6x (text serde through the exchange
    // plus the scan stats loss re-planning downstream joins).
    verifiedBandPairs(cappedBands(docs))(verifyCandidates(docs, _))
  }

  /** The `a < b` same-(lang, band, bkey) pairs of a capped band table,
    * verified by `verify`; the band blocks are released once the
    * verified set is materialized.
    */
  private def verifiedBandPairs(bands0: DataFrame)(
      verify: DataFrame => DataFrame): DataFrame = Materialize.scoped { s =>
    val bands = s.hold(bands0)
    val bl = bands.select(col("doc_id").as("a"), col("lang"), col("band"), col("bkey"))
    val br = bands.select(col("doc_id").as("b"), col("lang").as("lang_b"),
      col("band").as("band_b"), col("bkey").as("bkey_b"))
    // Cached: consumed by candDocs and by the pair semi-join of the
    // verification.
    verify(bl.join(br,
        col("bkey") === col("bkey_b") && col("band") === col("band_b") &&
          col("lang") === col("lang_b") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct().cache())
  }

  /** Exact word-3-gram Jaccard verification of a cached candidate
    * pair set `(a, b)` — shared by [[candidatePairJaccard]] and
    * [[deltaNearDup]]. Returns the checkpointed `(doc_a, doc_b,
    * jaccard)` relation and releases `cand`.
    */
  private def verifyCandidates(docs: DataFrame, cand: DataFrame): DataFrame =
    // Sorted shingle arrays only for candidate docs — the semi-join
    // runs BEFORE tokenization, and shingling happens ONCE per doc
    // here rather than once per pair (hub docs sit in many pairs).
    verifyPairs(cand)(candDocs =>
      docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), graft.functions.MinHashFunctions
          .sorted_shingles(TextAnalysis.tokens(col("text"))).as("shs")))

  /** [[verifyCandidates]] over an already-MATERIALIZED (doc_id, lang,
    * shs) shingle-array relation (r22): the per-candidate
    * sorted-shingles kernel pass disappears — candidate arrays are a
    * broadcast semi-join against the materialized blocks. Only
    * correct when `shArr` is materialized ([[Materialize]]):
    * on a lazy plan the semi-join would sit ABOVE the kernel
    * projection and shingle every document, which is exactly what
    * [[verifyCandidates]]' join-before-kernel ordering avoids.
    */
  private def verifyCandidatesShingled(shArr: DataFrame,
      cand: DataFrame): DataFrame =
    verifyPairs(cand)(candDocs =>
      shArr.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("shs")))

  /** The verification tail both forms share: `shinglesOf(candDocs)`
    * gives the (doc_id, shs) arrays of the candidate docs; the
    * verified pairs are checkpointed and `cand` plus the cached
    * arrays released.
    */
  private def verifyPairs(cand0: DataFrame)(
      shinglesOf: DataFrame => DataFrame): DataFrame = Materialize.scoped { s =>
    val cand = s.hold(cand0)
    val candDocs = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    // Cached: consumed by both sides of the pair join. Only the bare
    // doc_id list is hint-broadcast; the shingle table joins WITHOUT
    // a hint — candidate-sized but payload-heavy, so whether it
    // broadcasts is AQE's size-based call, never a forced
    // corpus-fraction ship to every executor.
    val candShingles = s.hold(shinglesOf(candDocs).cache())
    // Filter on the RAW kernel value: jraw > 0 iff the pair shares at
    // least one shingle — exactly the pairs the declarative
    // join-on-shared-shingle formulation (and the DuckDB oracle)
    // produces; filtering on the rounded value would diverge for
    // similarities under 5e-7.
    val verified = cand
      .join(candShingles.select(col("doc_id").as("a"), col("shs").as("shs_a")), Seq("a"))
      .join(candShingles.select(col("doc_id").as("b"), col("shs").as("shs_b")), Seq("b"))
      .withColumn("jraw", graft.functions.MinHashFunctions
        .shingle_jaccard(col("shs_a"), col("shs_b")))
      .filter(col("jraw") > 0)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(col("jraw"), 6).as("jaccard"))
    // Materialize (cuts lineage back to a leaf); the scope releases
    // the intermediates — nothing downstream references them anymore.
    Materialize(verified)
  }

  /** [[candidatePairJaccardOver]] built from a MATERIALIZED shingle-
    * array relation (r22, VERDICT #5): banding derives its signature
    * from the arrays ([[rawBandsOfShingles]]) and verification joins
    * them ([[verifyCandidatesShingled]]), so the whole LSH side runs
    * ZERO additional tokenize/shingle kernel passes over the corpus —
    * q226/q229 share the ONE pass their truth side materializes
    * anyway. Same bucket universe, same verification, same rows
    * (MinHashSpec pins the signature equality).
    */
  private def candidatePairJaccardShingled(shArr: DataFrame): DataFrame =
    verifiedBandPairs(cappedBandsFromRaw(rawBandsOfShingles(shArr)))(
      verifyCandidatesShingled(shArr, _))

  /** Incremental (delta) near-dup detection (q168) — the snapshot-
    * ingest question: which NEW documents near-duplicate something
    * already in the base corpus? Re-running the full q27 self-join
    * per snapshot re-pays base×base forever; the incremental plan
    * band-joins only base-side buckets against delta-side buckets,
    * so candidate work is ∝ delta × bucket occupancy, base×base and
    * delta×delta pairs never exist, and the base band table is
    * exactly what a production pipeline keeps MATERIALIZED between
    * snapshots (this operator recomputes it for the gate — the join
    * shape is the thing under test). The hot-bucket cap is computed
    * over the combined table ([[cappedBands]]), so full and
    * incremental paths agree on the bucket universe and the oracle
    * can derive this result by filtering the shared full-pair CTE to
    * cross-side pairs. Fixture split: even doc_ids = base, odd =
    * delta. Verification is the same exact-Jaccard kernel on
    * candidates only; ≥ 0.2 is q27's near-dup bar.
    */
  def deltaNearDup(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    val docs = Corpus.read(spark, dir, "documents")
    val bands = s.hold(cappedBands(docs))
    val bl = bands.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("a"), col("lang"), col("band"), col("bkey"))
    val br = bands.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("b"), col("lang").as("lang_b"),
        col("band").as("band_b"), col("bkey").as("bkey_b"))
    val cand = bl.join(br,
        col("bkey") === col("bkey_b") && col("band") === col("band_b") &&
          col("lang") === col("lang_b"))
      .select(col("a"), col("b")).distinct().cache()
    verifyCandidates(docs, cand)
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_a").as("base_doc"), col("doc_b").as("delta_doc"),
        col("jaccard"))
      .orderBy(col("delta_doc"), col("base_doc"))
  }

  /** For every document with at least one LSH band candidate, its best
    * candidate neighbor by exact word-3-gram Jaccard (ties broken by
    * lowest neighbor id). Candidate-first by design: at scale nobody
    * can afford an all-pairs best neighbor, and docs whose similarity
    * to everything is below the LSH collision range have no meaningful
    * "best neighbor" anyway — the semantics are "best near-dup
    * candidate", stated honestly and mirrored in the oracle.
    */
  def ngramJaccardNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val v = candidatePairJaccard(spark, dir)
    val sym = v.select(col("doc_a").as("doc_id"), col("doc_b").as("nb"), col("jaccard"))
      .unionAll(
        v.select(col("doc_b").as("doc_id"), col("doc_a").as("nb"), col("jaccard")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("nb"))
    sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("nb").as("best_neighbor"),
        col("jaccard").as("best_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** MinHash + LSH near-dup pairs: [[candidatePairJaccard]] survivors
    * with verified Jaccard ≥ 0.2.
    */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    candidatePairJaccard(spark, dir)
      .filter(col("jaccard") >= 0.2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Edit-distance verification over the SAME LSH candidate pairs —
    * the character-level near-dup check (templated spam, small edits)
    * that complements shingle Jaccard's token-level view; fuzzy-dedup
    * pipelines run both. Levenshtein is O(len²) per pair, which is
    * exactly why it only ever runs on the LSH-blocked candidate set
    * (never corpus²): work ∝ candidates × len², with the pair
    * generation cost shared with [[minhashLshPairs]]. The pair table
    * is candidate-sized, so AQE broadcasts it against the two text
    * lookups.
    */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    val texts = Corpus.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    candidatePairJaccard(spark, dir)
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("edit_dist"),
        round(lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(col("ta")), length(col("tb"))), 6).as("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q188 constants — integer PageRank mass scale, damping as the
    * exact rational 85/100, iteration count. Shared with the oracle
    * by name.
    */
  val PrScale = 1000000000000L
  val PrIters = 3

  /** LSH band diagnostics (q193) — the tuning report for the whole
    * near-dup stack: per band, how many candidate pairs it generates
    * and how many survive exact-Jaccard verification at the 0.2
    * dedup bar. Precision per band is THE dial for band count/width
    * (Datasketches' LSH tuning tables are exactly this measurement):
    * a band whose precision collapses is burning verification budget,
    * one at ~10⁶ ppm could be widened. A pair found by several bands
    * counts in EACH — that is the attribution band tuning needs.
    * Shapes: the capped band table self-joins per band (the q28
    * candidate machinery), verification runs ONCE over the distinct
    * pair set and joins back band-attributed — verification cost is
    * identical to q28's, the diagnostics add two map-side counts.
    */
  def lshBandDiagnostics(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.read(spark, dir, "documents")
    val bands = cappedBands(docs)
    val bc = bands.select(col("doc_id").as("a"), col("lang"),
        col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("b"), col("lang").as("l2"),
        col("band").as("band2"), col("bkey").as("bkey2")),
        col("bkey") === col("bkey2") && col("band") === col("band2") &&
          col("lang") === col("l2") && col("a") < col("b"))
      .select(col("band"), col("a"), col("b"))
      .cache()
    val cand = bc.select(col("a"), col("b")).distinct().cache()
    val jac = verifyCandidates(docs, cand)
      .filter(col("jaccard") >= 0.2)
    val nc = bc.groupBy(col("band")).agg(count(lit(1)).as("n_cands"))
    val nv = bc.join(jac, bc("a") === jac("doc_a") &&
        bc("b") === jac("doc_b"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_verified"))
    nc.join(nv, Seq("band"), "left_outer")
      .select(col("band").cast("long").as("band"), col("n_cands"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        expr("coalesce(n_verified, 0) * 1000000 div n_cands")
          .as("precision_ppm"))
      .orderBy(col("band"))
  }

  /** Duplicated-span mass per document (q190) — the exact-substring
    * dedup SIGNAL of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better": their suffix-array pass removes
    * verbatim spans repeated across documents): for every document,
    * how many of its token positions sit inside a word-3-gram that
    * also appears in ANOTHER document. dup_ppm ≈ 0 means unique
    * prose; ≈ 10⁶ means the doc is assembled from shared text — the
    * triage report run before paying for span excision.
    *
    * Shapes: the cross-doc-shared shingle table is distinct (doc,
    * shingle) rows → df ≥ 2 filter (bounded by REPEATED shingles
    * only — the q66 boilerplate bound); it broadcasts into the
    * [[graft.functions.ShingleCoverage]] scan kernel, which marks
    * covered positions in ONE pass per doc (no positional explode —
    * the oracle does the positional explode precisely because it is
    * the independent formulation). This exact-set path streams the
    * shared universe into a driver HashSet, so it is the
    * SMALL-CORPUS leg of the q48 ladder: shared-shingle cardinality
    * grows with the corpus and at 100 TB this set no longer fits one
    * process — [[dupSpansBloom]] (q190b) is the scale leg, with only
    * compact Bloom bits broadcast and the exact verification as a
    * distributed join. Same output, same oracle.
    */
  /** The df ≥ 2 cross-doc shared-shingle universe as a broadcast
    * HashSet — the exact-set (small-corpus) leg shared by
    * [[dupSpans]] (q190) and [[exciseSpans]] (q231); the 100 TB leg
    * keeps this relation distributed ([[dupSpansBloom]]).
    */
  private def sharedShingleBroadcast(spark: SparkSession, docs: DataFrame)
      : org.apache.spark.broadcast.Broadcast[
        java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] = {
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val it = shinglesOf(docs)
      .select(col("doc_id"), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("shingle")).toLocalIterator()
    while (it.hasNext) set.add(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        it.next().getString(0)))
    spark.sparkContext.broadcast(set)
  }

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.read(spark, dir, "documents")
    val shared = sharedShingleBroadcast(spark, docs)
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        graft.functions.MinHashFunctions
          .shingle_coverage(col("toks"), shared).as("covered_toks"))
      .withColumn("dup_ppm",
        expr("covered_toks * 1000000 div greatest(n_toks, 1)"))
      .orderBy(col("doc_id"))
  }

  /** Span EXCISION (q231) — the FIX step of Lee et al. 2022's
    * exact-substring dedup, where [[dupSpans]] (q190) is only the
    * signal: every token position covered by a cross-doc shared
    * word-3-gram is REMOVED and the surviving tokens rejoined, per
    * document — the "deduplicate repeated spans, keep the unique
    * prose" transformation a training pipeline actually applies
    * after triage. Output per doc: original and kept token counts
    * plus the md5 of the cleaned text, so the gate hashes WHAT
    * SURVIVED, not just how much.
    *
    * Same shapes as q190: shared universe built once (exact-set leg
    * here — [[sharedShingleBroadcast]]; the q190b Bloom ladder
    * applies verbatim to the excision at corpus scale), one scan
    * projection with TWO one-pass kernels (coverage count + the
    * [[graft.functions.MinHashKernel.exciseShared]] rejoin — no
    * positional explode engine-side; the oracle takes the positional
    * route: kept positions by anti-join, string_agg in position
    * order).
    */
  def exciseSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.read(spark, dir, "documents")
    val shared = sharedShingleBroadcast(spark, docs)
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        graft.functions.MinHashFunctions
          .shingle_coverage(col("toks"), shared).as("covered_toks"),
        graft.functions.MinHashFunctions
          .excise_shared(col("toks"), shared).as("cleaned"))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - col("covered_toks")).as("kept_toks"),
        md5(col("cleaned")).as("cleaned_fp"))
      .orderBy(col("doc_id"))
  }

  /** [[dupSpans]]'s 100 TB leg (q190b) — the q48b Bloom ladder
    * applied to span coverage, closing the r11 verdict's q190 gap
    * (driver-side HashSet of ALL cross-doc shared shingles):
    *
    *  1. The df ≥ 2 shared-shingle relation stays DISTRIBUTED
    *     (localCheckpoint — never collected, never driver-resident).
    *  2. Its ~12-bits/element Bloom bits are built per-partition and
    *     tree-OR-merged ([[decontaminateBloom]]'s build), and only
    *     the bits broadcast.
    *  3. Each doc's scan projection emits (pos, shingle) ONLY for
    *     bloom-positive positions ([[graft.functions.BloomKernel
    *     .bloomHitShingles]]) — the positional explode is bounded by
    *     truly-shared occurrences + the ~0.3% FP tail, never by the
    *     corpus shingle volume.
    *  4. EXACT verification is a distributed join of those survivors
    *     against the shared relation (FPs die here), then covered
    *     positions = distinct of each hit's [pos, pos+2] span.
    *
    * Row-identical to [[dupSpans]] (false positives never reach the
    * output; false negatives don't exist) — gated by the SAME oracle.
    * The per-doc coverage relation (2 longs/doc) materializes once so
    * the checkpointed shared blocks and the bits broadcast release
    * eagerly (the decontaminateBloom hygiene).
    */
  /** The DISTRIBUTED df ≥ 2 shared-shingle relation (materialized in
    * `s` — never collected) plus its tree-OR-merged Bloom bits — the
    * 100 TB build shared by [[dupSpansBloom]] (q190b) and
    * [[exciseSpansBloom]] (q231b). Callers must destroy the broadcast
    * once their result materializes (the decontaminateBloom hygiene).
    */
  private def sharedShingleBloom(s: Materialize.Scope, spark: SparkSession,
      docs: DataFrame)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Array[Long]]) =
    shingleBloom(s, spark, shinglesOf(docs)
      .select(col("doc_id"), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("shingle")))

  /** A one-column shingle relation materialized in `s` — consumed by
    * the sizing count, the distributed bit build, and the caller's
    * exact verification join — plus its broadcast Bloom bits.
    */
  private def shingleBloom(s: Materialize.Scope, spark: SparkSession,
      shingles: DataFrame)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Array[Long]]) = {
    val shared = s(shingles)
    val nWords = graft.functions.BloomKernel.wordsFor(shared.count())
    // Per-partition build + tree OR-merge: each task ALLOCATES its
    // array fresh (only the int size rides the closure) — an
    // aggregate with an array zero-value would deserialize a full
    // bit-array copy per task, multiplying executor memory by the
    // task count at exactly the scale this path exists for.
    val bits = shared.rdd.mapPartitions { rows =>
      val w = new Array[Long](nWords)
      rows.foreach(r => graft.functions.BloomKernel.add(w,
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))))
      Iterator.single(w)
    }.treeReduce { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    (shared, spark.sparkContext.broadcast(bits))
  }

  /** Verified covered positions per doc: bloom-positive (pos,
    * shingle) candidates exactly verified against the distributed
    * shared relation, each hit expanded to its 3-token span,
    * distinct — (doc_id, p) rows bounded by true shared occurrences
    * + the FP tail. Shared by q190b (counts) and q231b (positions).
    */
  private def verifiedCoveredPositions(docs: DataFrame, shared: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]]): DataFrame = {
    val hits = docs
      .select(col("doc_id"),
        explode(graft.functions.BloomFunctions
          .bloom_hit_shingles(TextAnalysis.tokens(col("text")), bc))
          .as("h"))
      .select(col("doc_id"), col("h.pos").as("pos"),
        col("h.shingle").as("shingle"))
    hits.join(shared, Seq("shingle"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 2)).as("p"))
      .distinct()
  }

  def dupSpansBloom(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    val docs = Corpus.read(spark, dir, "documents")
    val (shared, bc) = sharedShingleBloom(s, spark, docs)
    val covered = Materialize(verifiedCoveredPositions(docs, shared, bc)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("covered")))
    bc.destroy()
    docs
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("covered"), lit(0L)).as("covered_toks"))
      .withColumn("dup_ppm",
        expr("covered_toks * 1000000 div greatest(n_toks, 1)"))
      .orderBy(col("doc_id"))
  }

  /** [[exciseSpans]]' 100 TB leg (q231b) — the q190b machinery
    * driving the FIX instead of the signal: verified covered
    * positions (Bloom prefilter → exact join, never a driver-side
    * set) are collected into a PER-DOC position array — bounded by
    * that doc's shared-span mass, not the corpus — joined back to
    * the scan, and the [[graft.functions.MinHashKernel.exciseAt]]
    * kernel performs the same one-pass cut as q231's exact-set
    * kernel given explicit positions. Row-identical to q231, same
    * oracle: FPs die at the verification join, so the position sets
    * are exactly the exact-set leg's.
    */
  def exciseSpansBloom(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    val docs = Corpus.read(spark, dir, "documents")
    val (shared, bc) = sharedShingleBloom(s, spark, docs)
    val covArr = Materialize(verifiedCoveredPositions(docs, shared, bc)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("cov")))
    bc.destroy()
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .join(covArr, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        coalesce(col("cov"), expr("array()").cast("array<bigint>"))
          .as("cov"), col("toks"))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - size(col("cov")).cast("long")).as("kept_toks"),
        md5(graft.functions.MinHashFunctions
          .excise_at(col("toks"), col("cov"))).as("cleaned_fp"))
      .orderBy(col("doc_id"))
  }

  /** All-integer distributed WEIGHTED PageRank core — [[PrIters]]
    * power-iteration rounds over an undirected weighted pair
    * relation `(a, b, w)` (any key type; both directions are
    * materialized, so every node has degree ≥ 1; pass w = 1 for the
    * unweighted form). Used by [[graft.operators.TextAnalysis
    * .textRank]] (q188); plug any pair graph (the q28 near-dup
    * pairs with jaccard-ppm weights, the q89 containment edges) for
    * other centralities.
    *
    * Determinism discipline (the q31c Lloyd pattern taken further):
    * the ENTIRE computation is integer arithmetic — mass lives in
    * [[PrScale]] units, each neighbor contributes
    * `(pr · w) div W(u)` (integer ops only; weights must keep
    * PrScale · w inside a long — w < ~9·10⁶), inflows SUM exactly
    * (order-free, unlike float PageRank where per-node summation
    * order is engine-dependent), damping is `· 85 div 100`.
    * Truncation leaks ≤ deg units of mass per node per round —
    * identically on both engines, so an oracle can unroll the same
    * rounds and hash-match exactly.
    *
    * Scale: per round = one co-partitioned join (pr ⋈ edges on the
    * node key) + one map-side-combinable sum — the CC shape with a
    * value instead of a min-label; rounds are fixed, state one long
    * per node, each round materialized (lineage truncated — the
    * trainedCentroids move). Output: (node, deg, pr).
    */
  def integerPageRank(pairs: DataFrame): DataFrame = Materialize.scoped { s =>
    val p = pairs.toDF("a", "b", "w")
    val edges = s(p.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(
        p.select(col("b").as("src"), col("a").as("dst"), col("w"))))
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"), sum(col("w")).as("wsum"))
    val nRow = deg.agg(count(lit(1)).as("n"))
    val pr0 = s(deg.select(col("src").as("node"), col("deg"), col("wsum"))
      .crossJoin(broadcast(nRow))
      .select(col("node"), col("deg"), col("wsum"), col("n"),
        expr(s"$PrScale div n").as("pr")))
    val (pr, _) = s.rounds("integerPageRank", pr0, PrIters)(Seq(_)) {
        (pr, round) =>
      val contrib = pr
        .join(edges, pr("node") === edges("src"))
        .select(col("dst"), expr("(pr * w) div wsum").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      (s(pr.select(col("node"), col("deg"), col("wsum"), col("n"))
        .join(contrib, pr("node") === contrib("dst"))
        .select(col("node"), col("deg"), col("wsum"), col("n"),
          expr(s"($PrScale * 15 div 100) div n + inflow * 85 div 100")
            .as("pr"))), round + 1 < PrIters)
    }
    pr.select(col("node"), col("deg"), col("pr"))
  }

  /** Connected components over the verified near-dup pair graph — the
    * clustering step an at-scale dedup pipeline runs after pair
    * generation (keep one representative per component). Iterative
    * min-label propagation: each round every node adopts the smallest
    * label among itself and its neighbors; a round is one
    * join + aggregate over the (small) edge set plus a pointer-jumping
    * step (rep := rep(rep)) that halves label-chain depth, so the
    * loop converges in O(log n) rounds regardless of component
    * diameter (long chains included). The driver only orchestrates
    * rounds and reads one convergence count; all data work is
    * distributed — the same shape GraphX/Pregel use.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    // The verified pairs are dead once the components materialize.
    connectedComponents(s.hold(candidatePairJaccard(spark, dir))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** Canonical-survivor selection (q135) — the policy step after
    * clustering that actually DEDUPES: per near-dup cluster keep one
    * document, here by the standard keep-the-longest rule with
    * doc_id as the total tiebreak. The rank-over-cluster plans
    * through the injected rewrite as a k=1 TopKRows heap per
    * (cluster, partition) — the q76 DISTINCT ON shape — and the
    * member count rides the same shuffle as a sibling aggregate, so
    * canonicalization adds ONE map-side-combinable pass over the
    * cluster table (clusters ≪ corpus). Output: one row per
    * cluster, its size, the surviving doc and the chars kept.
    */
  def clusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    val members = dedupClusters(spark, dir)
      .join(graft.sources.Corpus.read(spark0, dir, "documents")
        .select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_rep"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val canon = members
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_rep"), col("doc_id").as("canon_doc"),
        col("n_chars").as("canon_chars"))
    val sizes = members.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"))
    canon.join(sizes, Seq("cluster_rep"))
      .select(col("cluster_rep"), col("n_members"), col("canon_doc"),
        col("canon_chars"))
      .orderBy(col("cluster_rep"))
  }

  /** Leakage-safe (cluster-aware) train/val/test split (q157) — the
    * split policy a dedup-aware corpus pipeline must use instead of
    * the per-document q47 hash split: near-duplicate documents
    * leaking across train and eval silently inflate every benchmark
    * score, so the assignment unit is the NEAR-DUP CLUSTER, not the
    * document. Every doc inherits its q43 connected component
    * (singletons form their own group), the q47 md5 bucket is taken
    * on the GROUP id, and all members follow it into one split.
    *
    * Output is one row per split with doc/group/char tallies, an
    * order-independent membership fingerprint (bit_xor of a 60-bit
    * md5 prefix per doc — constant aggregation state, map-side
    * combinable, exactly replayable cross-engine, unlike a
    * collect-and-sort fingerprint which would buffer a split's
    * worth of ids in one aggregation buffer), and the leakage proof
    * itself: the count of groups spanning more than one split, which
    * the per-document policy would leave visibly non-zero on this
    * corpus and this policy pins to 0.
    *
    * Scale: the CC closure is q43's O(log n) loop; everything after
    * it is two hash aggregates (group → split metrics) plus the
    * broadcast of a 1-row leak tally — no sort, no window, no
    * driver state.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Corpus.read(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val assigned = docs
      .join(dedupClusters(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cluster_rep"), col("doc_id")).as("group_id"))
      .withColumn("split", TextAnalysis.splitCol(col("group_id")))
    val leaks = assigned.groupBy(col("group_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .agg(expr("cast(count_if(ns > 1) as bigint)").as("leaked_groups"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("group_id")).as("n_groups"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        expr("bit_xor(cast(conv(substring(md5(cast(doc_id as string)), " +
          "1, 15), 16, 10) as bigint))").as("members_fp"))
      .crossJoin(broadcast(leaks))
      .orderBy(col("split"))
  }

  /** Min-label + pointer-jumping connected components over an
    * undirected pair set `(a, b)` — the reusable core of
    * [[dedupClusters]], also applicable to any near-dup pair source
    * (embedding pairs, exact-dup groups). Returns `(id, rep)` with
    * `rep` = the component's minimum id. Converges in O(log n)
    * rounds regardless of component diameter (CcSpec drives a
    * 200-node chain through it).
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsRounds(pairs)._1

  /** [[connectedComponents]] and the number of rounds it ran. */
  private[graft] def connectedComponentsRounds(
      pairs: DataFrame): (DataFrame, Int) = Materialize.scoped { s =>
    // Only the symmetrized edge view — read every round — needs a
    // cache (callers pass small materialized pair sets).
    val p = pairs.select(col("a"), col("b"))
    val edges = s.hold(p.union(p.select(col("b").as("a"), col("a").as("b")))
      .cache())
    val nodes = edges.select(col("a").as("doc_id")).distinct()
    // Labels are per-node non-increasing longs, so the label SUM is a
    // strictly decreasing convergence witness: a round changed
    // nothing iff the sum is unchanged. Observing the sum instead of
    // a changed-count against the previous labels removes one join
    // per round (no `old` column to carry). Decimal(38,0) keeps the
    // sum exact at any node count × id range.
    var prevSum: java.math.BigDecimal = null
    // Every round is materialized: labels is referenced ~3× per
    // round, so an untruncated plan grows geometrically and Catalyst
    // re-analysis hangs the driver within a few rounds. log2(n)
    // pointer-jumping rounds always suffice; the generous cap is an
    // infinite-loop guard, not a correctness bound. AQE stays on: its
    // partition coalescing keeps the tiny rounds tiny
    // (OPTIMIZATION_r22.md #6).
    val (labels, rounds) = s.rounds("connectedComponents",
        s(nodes.withColumn("rep", col("doc_id"))), 64)(Seq(_)) {
        (labels, round) =>
      // One round = min over {self label} ∪ {neighbor labels} (the
      // self-union replaces a labels⋈min-table join — union feeds the
      // same hash aggregate for free), then one pointer-jump hop
      // (rep := old-label(rep)) to halve label-chain depth. The
      // convergence sum is observed DURING the checkpoint job
      // (CollectMetrics piggybacks on the materialization), so each
      // round is exactly one Spark job — no separate convergence scan.
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc_id", "b").withColumnRenamed("rep", "nrep"), "b")
        .select(col("a").as("doc_id"), col("nrep"))
      val minned = viaEdges
        .union(labels.select(col("doc_id"), col("rep").as("nrep")))
        .groupBy(col("doc_id")).agg(min(col("nrep")).as("rep"))
      val repOfRep = labels
        .select(col("doc_id").as("rep"), col("rep").as("rep2"))
      val obs = org.apache.spark.sql.Observation(s"cc_round_$round")
      val stepped = s(minned.join(repOfRep, Seq("rep"), "left")
        .select(col("doc_id"),
          least(col("rep"), coalesce(col("rep2"), col("rep"))).as("rep"))
        .observe(obs, sum(col("rep").cast("decimal(38,0)")).as("label_sum")))
      val sum0 = obs.get("label_sum").asInstanceOf[java.math.BigDecimal]
      // sum over zero rows observes null: an empty node set is
      // trivially converged.
      val converged = sum0 == null ||
        (prevSum != null && prevSum.compareTo(sum0) == 0)
      prevSum = sum0
      (stepped, !converged)
    }
    (Materialize(labels.select(col("doc_id").as("id"), col("rep"))), rounds)
  }

  /** Embedding-cosine near-duplicate pairs (sim ≥ 0.35 on this random
    * corpus; real pipelines use ≥0.95), paired inside sign-LSH buckets
    * ([[Similarity.bucketCol]]) instead of an all-pairs cartesian:
    * candidate pairs must land in the same 8-bit bucket or buckets at
    * Hamming distance 1 (multi-probe — one side emits its bucket plus
    * each single-bit flip, 9 keys, and equi-joins the other side's
    * bucket). Cost is Σ bucket² over ~256 buckets × 9 probes — linear
    * in corpus size for balanced buckets — instead of n²; near-dups
    * rarely differ in more than one sign bit, so recall stays high.
    * A pair matches exactly one probe, so no distinct is needed.
    */
  /** Embedding-modality dedup clustering: [[connectedComponents]]
    * over the verified [[embeddingNearDups]] pair graph — the same
    * keep-one-representative step as [[dedupClusters]], demonstrating
    * the CC core is pair-source-agnostic.
    */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(embeddingNearDups(spark, dir)
      .select(col("vec_a").as("a"), col("vec_b").as("b")))
      .select(col("id").as("vec_id"), col("rep").as("cluster_rep"))
      .orderBy(col("vec_id"))

  def embeddingNearDups(spark: SparkSession, dir: String): DataFrame = {
    val e = Corpus.read(spark, dir, "embeddings")
      .withColumn("bucket", Similarity.bucketCol(col("embedding")))
    val a = e.select(col("vec_id").as("a"), col("embedding").as("ea"),
      explode(array(Similarity.probeCols(col("bucket")): _*)).as("probe"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("bucket").as("bucket_b"))
    a.join(b, col("probe") === col("bucket_b") && col("a") < col("b"))
      .withColumn("sim",
        round(VectorFunctions.cosine_sim(col("ea"), col("eb")), 6))
      .filter(col("sim") >= 0.35)
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Containment detection constants, shared by name with the oracle:
    * shingles seen in more than [[ContainDfCap]] documents are dropped
    * before pairing (boilerplate — and the per-shingle join fanout
    * bound); a directed pair reports when at least
    * [[ContainMinPpm]]/10⁶ of the smaller side's surviving shingles
    * appear in the other doc, and docs with fewer than
    * [[ContainMinShingles]] surviving shingles are too short to call.
    */
  val ContainDfCap = 64
  val ContainMinPpm = 600000L
  val ContainMinShingles = 5

  /** Directed containment pairs — quote/subset detection, the
    * asymmetric sibling of [[candidatePairJaccard]]'s near-dup
    * search: `containment(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|` is high
    * when doc a is quoted inside doc b even though their Jaccard is
    * low (a small doc inside a big one), which is exactly the pair
    * an LSH band blocked on OVERALL similarity never surfaces. So
    * the candidate generator here is different by necessity: a
    * shingle inverted index with a document-frequency cap —
    * boilerplate shingles (df > [[ContainDfCap]]) are dropped, every
    * surviving shingle joins at most df ≤ cap docs, so pair
    * generation is bounded by cap · |shingle table| regardless of
    * corpus size (the df-cap analogue of [[MaxBandDocs]], and the
    * CCNet boilerplate-removal move: what the cap discards is
    * mass-repeated content that exact dedup already handles).
    *
    * One undirected common-shingle count serves both directions;
    * containment is the exact integer ppm `common·10⁶ div n_a` (no
    * float ratio to disagree on). All stages are narrow-row shuffle
    * joins on shingle / doc_id keys plus map-side-combinable counts.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
      Materialize.scoped { s =>
    // Materialized ONCE (r22, the recallCurveOver pattern): the
    // shingle explode+distinct kernel used to re-evaluate on the
    // 1-task scan under FOUR consumers — the df-cap aggregate, the
    // sizes aggregate, and both self-join sides (same-session task
    // cpu 5.4 → 2.9 s at sf0.1; the plan's parquet-scan subtree
    // count drops 24 → 0, plans/r22/q89).
    val sh = s(shinglesOf(Corpus.read(spark, dir, "documents")))
    val keep = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= ContainDfCap)
      .select(col("shingle"))
    val f = s(sh.join(keep, "shingle"))
    val sizes = f.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      .filter(col("n_sh") >= ContainMinShingles)
    val common = f.as("x")
      .join(f.as("y"), col("x.shingle") === col("y.shingle") &&
        col("x.lang") === col("y.lang") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    def directed(inner: String, outer: String): DataFrame = common
      .join(sizes.withColumnRenamed("doc_id", inner), inner)
      .select(col(inner).as("contained"), col(outer).as("container"),
        col("common"), col("n_sh").as("n_contained"),
        expr("common * 1000000 div n_sh").as("cont_ppm"))
    directed("a", "b").unionAll(directed("b", "a"))
      .filter(col("cont_ppm") >= ContainMinPpm)
      .orderBy(col("contained"), col("container"))
  }

  /** Cross-SOURCE shingle-overlap matrix (q144) — the train–train
    * contamination audit: for every pair of ingest sources, how much
    * content do they share? The per-source distinct shingle sets
    * ([[graft.functions.MinHashFunctions.sorted_shingles]] kernel —
    * per-doc distinct set in one pass, then source-level distinct)
    * meet in a shingle-keyed equi-join whose fan-out is bounded by
    * the number of SOURCES holding a shingle (≤ n_sources, vs
    * [[containmentPairs]]' df-cap for the doc-level analogue);
    * counts and the pairwise Jaccard fall out of map-side-combinable
    * aggregates. The fixture's tiny shared vocabulary makes every
    * pair overlap heavily (Jaccards near 1) — the degenerate-worst
    * case for the join fan-out, which the source-count bound absorbs
    * by construction. At production scale the same df-cap idiom as
    * containment applies before the join (a shingle in EVERY source
    * attributes nothing); n_sources² output rows is the report's own
    * size, not a blow-up.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ss = Corpus.read(spark, dir, "documents")
      .select(col("source"),
        explode(graft.functions.MinHashFunctions.sorted_shingles(
          TextAnalysis.tokens(col("text")))).as("shingle"))
      .distinct()
    val per = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    ss.as("a")
      .join(ss.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(per.select(col("source").as("source_a"), col("n_sh").as("n_a")),
        Seq("source_a"))
      .join(per.select(col("source").as("source_b"), col("n_sh").as("n_b")),
        Seq("source_b"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")), 6))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Staged dedup funnel (q228) — the attrition report a pipeline
    * publishes for its dedup stages (the q141 cascade's dedup-side
    * sibling): stage 1 drops exact duplicates (normalized
    * fingerprint, min-doc_id survivor — q26's relation as a POLICY),
    * stage 2 drops near-duplicates among the exact survivors (q28's
    * candidate pairs at J ≥ 0.2, the q137 set-wise greedy-lower-id
    * policy: b drops iff some surviving a < b pairs with it). Each
    * stage reports docs in/out/removed and the TOKEN mass removed —
    * the number that actually matters for training-budget accounting.
    * Costs what its stages cost (one fingerprint aggregate + the
    * banded pair relation); the report rows are two cross-joined
    * constant-size aggregates.
    */
  /** q228's copy-id offset — far above any fixture doc_id, so the
    * doubled corpus (the q26 construction: the raw fixture has no
    * byte-identical duplicates, so the exact stage must be GIVEN
    * copies to demonstrably remove) keeps unique ids and every
    * original id sorts below its copy. Shared with the oracle.
    */
  val FunnelCopyOffset = 100000000L

  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d0 = Corpus.read(spark, dir, "documents")
    val base = d0.unionByName(
        d0.withColumn("doc_id", col("doc_id") + FunnelCopyOffset))
      .select(col("doc_id"),
        TextAnalysis.fingerprintCol(col("text")).as("fp"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      .cache()
    val keep1 = base.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).cache()
    val s1 = base.join(keep1, Seq("doc_id"), "left_semi")
    val pairs = candidatePairJaccard(spark, dir)
      .filter(col("jaccard") >= 0.2)
    val drop2 = pairs
      .join(keep1.select(col("doc_id").as("doc_a")), Seq("doc_a"),
        "left_semi")
      .join(keep1.select(col("doc_id").as("doc_b")), Seq("doc_b"),
        "left_semi")
      .select(col("doc_b").as("doc_id")).distinct()
    val s2 = s1.join(drop2, Seq("doc_id"), "left_anti")
    def tally(df: DataFrame, n: String, tk: String): DataFrame =
      df.agg(count(lit(1)).as(n), sum(col("n_tok")).as(tk))
    val t0 = tally(base, "n0", "tk0")
    val t1 = tally(s1, "n1", "tk1")
    val t2 = tally(s2, "n2", "tk2")
    val r1 = t0.crossJoin(broadcast(t1))
      .select(lit("1_exact").as("stage"), col("n0").as("docs_in"),
        col("n1").as("docs_out"), (col("n0") - col("n1")).as("docs_removed"),
        (col("tk0") - col("tk1")).as("tokens_removed"))
    val r2 = t1.crossJoin(broadcast(t2))
      .select(lit("2_neardup").as("stage"), col("n1").as("docs_in"),
        col("n2").as("docs_out"), (col("n1") - col("n2")).as("docs_removed"),
        (col("tk1") - col("tk2")).as("tokens_removed"))
    r1.unionByName(r2).orderBy(col("stage"))
  }

  /** LSH recall curve (q226) — q193 measures per-band PRECISION;
    * this measures the other tuning axis: at each similarity
    * threshold, what fraction of the TRUE near-dup pairs does the
    * banded candidate generator recover. Ground truth is every
    * shingle-sharing same-language pair with its exact Jaccard over
    * the DF-CAPPED shingle space: shingles held by more than
    * [[RecallTruthDfCap]] documents are dropped before the truth
    * self-join (the [[ContainDfCap]] idiom — what a mass-repeated
    * shingle contributes is boilerplate the exact-dedup stage already
    * handles, and per-shingle fanout is what makes an uncapped truth
    * join quadratic in occupancy: on the replication fixture the
    * 3→10 marginal exponent measured ≈1.2 before the cap and ≈0.3
    * after, t₁₀ₓ 25.7 s → 10.2 s — the post-cap fit is fixed
    * overhead + a LINEAR term, SCALING.md round-15). Every surviving
    * shingle joins at most cap docs, so the truth relation is bounded
    * by cap · |shingle table| at any corpus size. The candidate side
    * is the full q28 relation. Thresholds broadcast (6 rows); recall
    * in exact permille. Both sides' Jaccards round at 1e-6 before the
    * threshold compare, and the threshold literals and the cap are
    * the same values in both engines, so the band edges cannot
    * disagree.
    */
  def lshRecallCurve(spark: SparkSession, dir: String): DataFrame =
    recallCurveOver(spark, Corpus.read(spark, dir, "documents"))

  /** q229's sample bucket bound out of 256 (≈ 20%) — named because
    * the oracle SQL interpolates the same constant.
    */
  val RecallSampleBound = 51

  /** Truth-side shingle document-frequency cap for the recall audits
    * (q226/q229) — named because the oracle SQL interpolates the same
    * value. Same role as [[ContainDfCap]]: bounds per-shingle join
    * fanout, so truth-pair generation is cap · |shingle rows| instead
    * of Σ df² (the measured super-linear term before the cap).
    */
  val RecallTruthDfCap = 64

  /** SAMPLED LSH recall audit (q229) — q226's documented production
    * contract made executable: the full-truth join is quadratic in
    * per-shingle occupancy (measured — SCALING.md's second-decade
    * check), so at scale the audit restricts the corpus to a
    * deterministic md5 sample FIRST (bucket < 51/256 ≈ 20%; salted
    * 'rc:' so it decorrelates from the split/mixture buckets) and
    * measures recall within the sample — banding, hot-bucket caps
    * and verification all run on the sampled corpus, exactly as the
    * estimator would in production. Same output shape as q226; the
    * sample estimate's job is trend detection, and determinism makes
    * it comparable run over run.
    */
  def lshRecallCurveSampled(spark: SparkSession, dir: String): DataFrame =
    recallCurveOver(spark, Corpus.read(spark, dir, "documents")
      .filter(conv(substring(md5(concat(lit("rc:"),
          col("doc_id").cast("string"))), 1, 2), 16, 10)
        .cast("long") < RecallSampleBound))

  private def recallCurveOver(spark: SparkSession,
      docs0: DataFrame): DataFrame = Materialize.scoped { s =>
    // NOT spread — see [[candidatePairJaccardOver]] (r21: q226 wall
    // flat with 6x cpu, q229 2.1→3.7 s).
    val docs = docs0
    // ONE tokenize+shingle pass for the WHOLE audit (r22, VERDICT #5):
    // the per-doc shingle-array relation is materialized once and
    // feeds (a) the LSH side's banding — the signature derives from
    // the arrays ([[rawBandsOfShingles]], bit-identical) — (b) the
    // LSH side's exact verification ([[verifyCandidatesShingled]]),
    // and (c) the truth side's shingle explode below. Before this
    // the query ran THREE serialized corpus kernel passes on the
    // 1-task scan: minhash signature, candidate shingling, truth
    // shingling.
    val shArr = s(docs.select(col("doc_id"), col("lang"),
      graft.functions.MinHashFunctions.sorted_shingles(
        TextAnalysis.tokens(col("text"))).as("shs")))
    // The LSH side (banding → candidates → verification) and the
    // truth side (df-cap → capped shingle table) both depend ONLY on
    // shArr, so their construction-time materialization jobs run
    // CONCURRENTLY (guide §2.6 — overlap independent jobs; Spark's
    // scheduler interleaves them and the truth side back-fills the
    // LSH side's stage tails). Job submission is thread-safe; the
    // Await rethrows any side's failure, and a failing truth side
    // waits for the LSH side so the scope releases shArr last.
    val lshF = scala.concurrent.Future(candidatePairJaccardShingled(shArr))(
      scala.concurrent.ExecutionContext.global)
    // Truth-side explode, derived from the materialized arrays — its
    // two consumers (the df-cap aggregate and the capped join probe)
    // re-run only the explode over the blocks, not the kernel.
    val sh0 = shArr.select(col("doc_id"), col("lang"),
      explode(col("shs")).as("shingle"))
    // Truth df-cap (see [[RecallTruthDfCap]]): drop mass-repeated
    // shingles BEFORE the self-join; sizes count the surviving set so
    // the truth Jaccard is exact over the capped shingle space.
    val keep = sh0.groupBy(col("shingle"))
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= RecallTruthDfCap)
      .select(col("shingle"))
    val sh = try s(sh0.join(keep, Seq("shingle")))
      finally scala.concurrent.Await.ready(lshF,
        scala.concurrent.duration.Duration.Inf): Unit
    val lsh = scala.concurrent.Await.result(lshF,
      scala.concurrent.duration.Duration.Inf)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = sh.select(col("doc_id").as("a"), col("lang"),
        col("shingle"))
      .join(sh.select(col("doc_id").as("b"), col("lang").as("lang_b"),
          col("shingle").as("shingle_b")),
        col("shingle") === col("shingle_b") &&
          col("lang") === col("lang_b") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    val truth = common
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")),
        Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")),
        Seq("b"))
      .select(round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")), 6).as("jt"))
    val thr = spark.range(1).select(explode(array(
      Seq(0.2, 0.3, 0.4, 0.5, 0.7, 0.9).map(lit): _*)).as("t"))
    val nTrue = truth.crossJoin(broadcast(thr))
      .filter(col("jt") >= col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_true"))
    val nLsh = lsh.crossJoin(broadcast(thr))
      .filter(col("jaccard") >= col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_lsh"))
    thr.join(nTrue, Seq("t"), "left").join(nLsh, Seq("t"), "left")
      .select(round(col("t") * 100).cast("long").as("threshold_pct"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"))
      .withColumn("recall_permille",
        when(col("n_true") > 0, expr("n_lsh * 1000 div n_true")))
      .orderBy(col("threshold_pct"))
  }
}
