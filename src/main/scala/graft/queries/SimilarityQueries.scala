package graft
package queries

import graft.operators.{Similarity, TextAnalysis}
import graft.queries.OracleFragments._

/** Vector search and clustering over the embeddings table, built on
  * [[graft.operators.Similarity]].
  */
object SimilarityQueries {

  /** The full MinHash+LSH pair pipeline as CTEs ending in `j`
    * (candidate doc pairs with exact Jaccard) — shared by q27, q28
    * and q43. Mirrors Dedup.candidatePairJaccard: minhash value i is
    * the 8-hex-char window i%4 of md5(shingle) (i<4) or
    * md5('x'+shingle) (i≥4); band key is the plain lo|hi concat.
    */
  /** Shared q31b/q195 oracle — identical search semantics: the
    * stored-layout gate (q195) must produce byte-identical results
    * to the in-memory IVF search (q31b); only I/O may differ.
    */
  private lazy val ivfOracleSql: String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings v CROSS JOIN c),
         |asum AS (SELECT vec_id, cid,
         |    $cosinePairSql
         |  FROM ax GROUP BY vec_id, cid),
         |ascore AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM asum),
         |ar AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM ascore),
         |cells AS (SELECT vec_id, cid FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM ar WHERE vec_id < 20 AND rn <= 2),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |x AS (SELECT cand.qid, cand.vb, q.qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM cand JOIN q USING (qid) JOIN embeddings e ON e.vec_id = cand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin

  /** One DuckDB k-means scoring block: rounded cosine of every vector
    * against centroid relation `c` → `sc$tag(vec_id, cid, s)`. The
    * q31c oracle unrolls the engine's Lloyd rounds with these.
    */
  private def kmeansScoreCtes(c: String, tag: String): String =
    s"""ax$tag AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
       |    unnest(range(1, 65)) AS i
       |  FROM embeddings v CROSS JOIN $c c),
       |su$tag AS (SELECT vec_id, cid,
       |    $cosinePairSql
       |  FROM ax$tag GROUP BY vec_id, cid),
       |sc$tag AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM su$tag)""".stripMargin

  /** One DuckDB Lloyd UPDATE block over `sc$tag` scores: argmax cell
    * per vector, per-(cell, dim) mean rounded at 6 then cast to REAL
    * (the engine's float centroids), reassembled into `$out(cid, ce)`.
    */
  private def kmeansUpdateCtes(tag: String, out: String): String =
    s"""cell$tag AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |  FROM sc$tag) WHERE rn = 1),
       |mx$tag AS (SELECT a.cid, v.embedding AS ea, unnest(range(1, 65)) AS i
       |  FROM cell$tag a JOIN embeddings v USING (vec_id)),
       |m$tag AS (SELECT cid, i,
       |    CAST(round(avg(CAST(ea[i] AS DOUBLE)), 6) AS REAL) AS mv
       |  FROM mx$tag GROUP BY cid, i),
       |$out AS (SELECT cid, array_agg(mv ORDER BY i) AS ce FROM m$tag GROUP BY cid)""".stripMargin

  /** Shared q250/q255 oracle: the maintained IVF index re-derived
    * from scratch over DuckDB's own snapshot-B (survivors + re-keyed
    * negated arrivals, assigned to the frozen first-16 centroids) —
    * the maintenance ≡ rebuild identity, consumed by the logical IVM
    * gate (q250, moduli 11/13) and the stored-partitioned
    * write-path gate (q255, sparser 97/101 so churn touches a strict
    * subset of cells — the partial-rewrite story being gated).
    */
  private def ivfIvmOracle(depMod: Int, arrMod: Int): String =
    s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
       |cents AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 16),
       |surv AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % $depMod <> 0),
       |arr AS (SELECT vec_id + m + 1 AS vec_id,
       |    list_transform(embedding, x -> -x) AS embedding
       |  FROM embeddings, mx WHERE vec_id % $arrMod = 0),
       |b AS (SELECT * FROM surv UNION ALL SELECT * FROM arr),
       |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
       |    unnest(range(1, 65)) AS i
       |  FROM b v CROSS JOIN cents c),
       |su AS (SELECT vec_id, cid,
       |    $cosinePairSql
       |  FROM ax GROUP BY vec_id, cid),
       |sc AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0
       |    THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s
       |  FROM su),
       |cell AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cid) AS rn
       |  FROM sc) WHERE rn = 1)
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(vec_id) AS BIGINT) AS sum_ids
       |FROM cell GROUP BY cid ORDER BY cid""".stripMargin

  val records: Seq[QueryDef] = Seq(
    // q196: DuckDB re-derives the per-dimension census from its own
    // zipped unnest; min/max stay exact floats cast to double, the
    // moment aggregates round per the q69 convention.
    QueryDef("q196_embedding_health", Similarity.embeddingHealth _,
      """WITH x AS (SELECT unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS dim FROM embeddings)
        |SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |  round(avg(CAST(v AS DOUBLE)), 6) AS mean,
        |  round(stddev_samp(CAST(v AS DOUBLE)), 4) AS sd,
        |  CAST(min(v) AS DOUBLE) AS vmin,
        |  CAST(max(v) AS DOUBLE) AS vmax,
        |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin),

    // q180: the oracle never packs bits — Hamming distance is counted
    // directly as sign-mismatched dimensions from the float arrays,
    // vs the engine's packed-long xor+popcount: independent encodings
    // (the q46 pattern); then candidate rank + exact cosine re-rank.
    QueryDef("q180_binary_ann", Similarity.binaryTopK(_, _),
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |    FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qid, e.vec_id AS vb, qe, e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |hx AS (SELECT qid, vb, qe, eb, unnest(range(1, 65)) AS i FROM p),
         |h AS (SELECT qid, vb,
         |    CAST(sum(CASE WHEN (qe[i] > 0) <> (eb[i] > 0) THEN 1 ELSE 0
         |      END) AS BIGINT) AS ham
         |  FROM hx GROUP BY qid, vb),
         |c AS (SELECT p.qid, p.vb, p.qe, p.eb, h.ham,
         |    row_number() OVER (PARTITION BY p.qid
         |      ORDER BY h.ham ASC, p.vb) AS crk
         |  FROM p JOIN h ON p.qid = h.qid AND p.vb = h.vb),
         |cand AS (SELECT qid, vb, qe, eb, ham FROM c
         |  WHERE crk <= ${Similarity.BqCandidates}),
         |x2 AS (SELECT qid, vb, qe AS ea, eb, unnest(range(1, 65)) AS i
         |  FROM cand),
         |s2 AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x2 GROUP BY qid, vb),
         |sim2 AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s2),
         |r AS (SELECT cand.qid, cand.vb, cand.ham, sim2.sim,
         |    CAST(row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY sim2.sim DESC, cand.vb) AS BIGINT) AS rk
         |  FROM cand JOIN sim2 ON cand.qid = sim2.qid AND cand.vb = sim2.vb)
         |SELECT qid, rk, vb AS neighbor, ham, sim FROM r
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // q179: DuckDB replays BOTH ranked lists (q171's BM25 from list
    // primitives, q30's cosine from the unnest formulation, each
    // top-50 with its own window rank) and fuses with the same
    // two-term 1/(60+rank) sum — integer ranks in, one fixed-order
    // double sum out.
    QueryDef("q179_hybrid_rrf", Similarity.hybridRrf(_, _),
      {
      val Seq(t1, t2, t3) = TextAnalysis.SearchTerms
      val k = Similarity.RrfK
      val depth = Similarity.RrfDepth
      // r18: the BM25 idf chains (shared with q171, relation `st`).
      val fl = graft.functions.FixedLog
      val ql179CteA = fl.sqlStagedCtes("st", "(2*n_docs + 2)",
        "(2*df_a + 1)", 9, "lnq179a_")
      val ql179CteB = fl.sqlStagedCtes("sta", "(2*n_docs + 2)",
        "(2*df_b + 1)", 9, "lnq179b_")
      val ql179CteC = fl.sqlStagedCtes("stb", "(2*n_docs + 2)",
        "(2*df_c + 1)", 9, "lnq179c_")
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t1')) AS BIGINT) AS tf_a,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t2')) AS BIGINT) AS tf_b,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t3')) AS BIGINT) AS tf_c,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS dl
         |  FROM documents),
         |st AS (SELECT
         |    CAST(sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_a,
         |    CAST(sum(CASE WHEN tf_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_b,
         |    CAST(sum(CASE WHEN tf_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_c,
         |    count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM c),
         |${ql179CteA._1},
         |sta AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_a
         |        FROM ${ql179CteA._2}),
         |${ql179CteB._1},
         |stb AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_b
         |        FROM ${ql179CteB._2}),
         |${ql179CteC._1},
         |stc AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_c
         |        FROM ${ql179CteC._2}),
         |tr AS (SELECT doc_id,
         |    (ln_a / 1e9)
         |      * (CAST(tf_a AS DOUBLE) * 2.2)
         |      / (CAST(tf_a AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    + (ln_b / 1e9)
         |      * (CAST(tf_b AS DOUBLE) * 2.2)
         |      / (CAST(tf_b AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    + (ln_c / 1e9)
         |      * (CAST(tf_c AS DOUBLE) * 2.2)
         |      / (CAST(tf_c AS DOUBLE) + 1.2 * (0.25 + 0.75
         |        * (CAST(dl AS DOUBLE)
         |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    AS raw
         |  FROM c, stc WHERE tf_a + tf_b + tf_c > 0),
         |tl AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY raw DESC,
         |    doc_id) AS BIGINT) AS rank_text
         |  FROM tr ORDER BY raw DESC, doc_id LIMIT $depth),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |px AS (SELECT e.vec_id AS doc_id, qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
         |sv AS (SELECT doc_id,
         |    $cosinePairSql
         |  FROM px GROUP BY doc_id),
         |simv AS (SELECT doc_id, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM sv),
         |vl AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC,
         |    doc_id) AS BIGINT) AS rank_vec
         |  FROM simv ORDER BY sim DESC, doc_id LIMIT $depth),
         |f AS (SELECT COALESCE(tl.doc_id, vl.doc_id) AS doc_id,
         |    rank_text, rank_vec,
         |    (CASE WHEN rank_text IS NOT NULL
         |      THEN 1.0 / ($k + CAST(rank_text AS DOUBLE)) ELSE 0.0 END)
         |    + (CASE WHEN rank_vec IS NOT NULL
         |      THEN 1.0 / ($k + CAST(rank_vec AS DOUBLE)) ELSE 0.0 END)
         |      AS rrf
         |  FROM tl FULL JOIN vl ON tl.doc_id = vl.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
         |    AS BIGINT) AS rk,
         |  doc_id, rank_text, rank_vec, round(rrf, 9) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
    }),

    // q175: DuckDB unrolls the SAME two Lloyd rounds (the q31c
    // machinery), then re-derives the per-cell distinctive terms from
    // its own list primitives — integer-exact lift ppm, so the
    // ranking cannot drift cross-engine.
    QueryDef("q175_cluster_topics", Similarity.clusterTopicTerms(_, _),
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |dt AS (SELECT doc_id, unnest(list_distinct(
         |    regexp_split_to_array(text, '\\s+'))) AS term
         |  FROM documents),
         |dtn AS (SELECT doc_id, term FROM dt WHERE term <> ''),
         |ct AS (SELECT cid, term, count(*) AS c_cell
         |  FROM dtn JOIN cells ON dtn.doc_id = cells.vec_id
         |  GROUP BY cid, term),
         |cc AS (SELECT term, count(*) AS c_corp FROM dtn GROUP BY term),
         |nc AS (SELECT cid, count(*) AS n_cell FROM cells GROUP BY cid),
         |nn AS (SELECT count(*) AS nd FROM documents),
         |j AS (SELECT cid, term, c_cell, n_cell, c_corp,
         |    (c_cell * nd * 1000000) // (n_cell * c_corp) AS lift_ppm
         |  FROM ct JOIN cc USING (term) JOIN nc USING (cid) CROSS JOIN nn
         |  WHERE c_cell >= ${Similarity.TopicMinSupport}),
         |r AS (SELECT cid, term, c_cell, n_cell, c_corp,
         |    CAST(lift_ppm AS BIGINT) AS lift_ppm,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY lift_ppm DESC, term) AS BIGINT) AS rk
         |  FROM j)
         |SELECT cid, rk, term, c_cell, n_cell, c_corp, lift_ppm
         |FROM r WHERE rk <= 3 ORDER BY cid, rk""".stripMargin),
    QueryDef("q30_ann_brute", Similarity.bruteTopK(_, _),
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qid, e.vec_id AS vb, qe AS ea, e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |x AS (SELECT qid, vb, ea, eb, unnest(range(1, 65)) AS i FROM p),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 5
         |ORDER BY qid, rk""".stripMargin),
    QueryDef("q31_ann_lsh", Similarity.lshTopK(_, _),
      s"""WITH e AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |q0 AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket FROM e WHERE vec_id < 20),
         |q AS (SELECT qid, qe,
         |    CASE WHEN i = 0 THEN qbucket ELSE xor(qbucket, 1 << (i - 1)) END AS probe
         |  FROM (SELECT qid, qe, qbucket, unnest(range(0, 9)) AS i FROM q0)),
         |p AS (SELECT qid, e.vec_id AS vb, qe AS ea, e.embedding AS eb
         |  FROM e JOIN q ON e.bucket = probe WHERE e.vec_id <> qid),
         |x AS (SELECT qid, vb, ea, eb, unnest(range(1, 65)) AS i FROM p),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin),
    QueryDef("q31b_ann_ivf", Similarity.ivfTopK(_, _), ivfOracleSql),

    // q195: IDENTICAL search semantics through the STORED cell-
    // partitioned index — same oracle replay; the layout changes
    // I/O, never results (the plan pin lives in SimilaritySpec).
    QueryDef("q195_stored_ivf", Similarity.storedIvfTopK(_, _), ivfOracleSql),

    // q31c: the q31b replay with k-means-TRAINED centroids — two
    // Lloyd rounds unrolled from the same deterministic init (first
    // 16 vectors), each round = argmax assignment over 1e-6-rounded
    // cosines + per-(cell, dim) means rounded at 1e-6 and cast to
    // REAL (the engine's float centroid arrays), then the IVF search
    // against the fitted centroids at nprobe 4.
    QueryDef("q31c_ann_ivf_trained", Similarity.trainedIvfTopK(_, _),
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE vec_id < 20 AND rn <= 4),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |x AS (SELECT cand.qid, cand.vb, q.qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM cand JOIN q USING (qid) JOIN embeddings e ON e.vec_id = cand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin),

    // q137: SemDedup replay — the SAME two unrolled Lloyd rounds as
    // q31c (shared CTE builders) to reproduce the engine's k-means
    // cells, then within-cell pairs only (va < vb), rounded cosine
    // >= 0.3, dropped = has any lower-id in-cell near-dup.
    QueryDef("q137_semdedup", Similarity.semDedup(_, _),
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |wc AS (SELECT c.vec_id, c.cid, e.embedding
         |  FROM cells c JOIN embeddings e USING (vec_id)),
         |px AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |    a.embedding AS ea, b.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM wc a JOIN wc b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |ps AS (SELECT va, vb,
         |    $cosinePairSql
         |  FROM px GROUP BY va, vb),
         |f AS (SELECT va, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM ps)
         |SELECT vb AS dropped_vec, min(va) AS dup_of, max(s) AS max_sim,
         |  count(*) AS n_dups
         |FROM f WHERE s >= 0.3 GROUP BY vb ORDER BY dropped_vec""".stripMargin),

    // q158: cluster-balanced diversity sample — the q137 Lloyd
    // unroll (same shared CTE builders) keeps the winning SCORE per
    // vector, then per-cell rank (s DESC, vec_id) <= k with cell
    // sizes joined back — the oracle's window rank vs the engine's
    // TopKRows heap.
    QueryDef("q158_diversity_sample", Similarity.diversitySample(_, _),
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
         |    FROM embeddings WHERE vec_id < 16),
         |${kmeansScoreCtes("c0", "0")},
         |${kmeansUpdateCtes("0", "c1")},
         |${kmeansScoreCtes("c1", "1")},
         |${kmeansUpdateCtes("1", "c2")},
         |${kmeansScoreCtes("c2", "2")},
         |cells AS (SELECT vec_id, cid, s FROM (SELECT vec_id, cid, s,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc2) WHERE rn = 1),
         |n AS (SELECT cid, count(*) AS cell_n FROM cells GROUP BY cid),
         |r AS (SELECT cid, vec_id, s,
         |    row_number() OVER (PARTITION BY cid ORDER BY s DESC, vec_id) AS rk
         |  FROM cells)
         |SELECT r.cid, CAST(r.rk AS BIGINT) AS rk, r.vec_id, r.s, n.cell_n
         |FROM r JOIN n USING (cid) WHERE rk <= 5 ORDER BY r.cid, rk""".stripMargin),

    // q154: the q31b/q133 first-principles IVF replay with probes
    // for EVERY vector (the kNN-join shape) — cells, nprobe=2
    // probes, candidate join, rounded cosine, per-query top-3.
    QueryDef("q154_knn_join", Similarity.knnJoin(_, _),
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce
         |  FROM embeddings WHERE vec_id < 16),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings v CROSS JOIN c),
         |asum AS (SELECT vec_id, cid,
         |    $cosinePairSql
         |  FROM ax GROUP BY vec_id, cid),
         |ascore AS (SELECT vec_id, cid,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM asum),
         |ar AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cid) AS rn
         |  FROM ascore),
         |cells AS (SELECT vec_id, cid FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM ar WHERE rn <= 2),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |x AS (SELECT cand.qid, cand.vb, qe.embedding AS ea,
         |    e.embedding AS eb, unnest(range(1, 65)) AS i
         |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.qid
         |  JOIN embeddings e ON e.vec_id = cand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, vb) AS BIGINT) AS rk
         |  FROM sim)
         |SELECT qid, rk, vb AS neighbor, sim FROM r WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin),

    // q133: the q31b first-principles IVF replay with the metadata
    // predicate (candidate label = query label) applied between
    // candidate generation and ranking — hybrid filtered search.
    QueryDef("q133_filtered_ann", Similarity.filteredIvfTopK(_, _),
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM embeddings v CROSS JOIN c),
         |asum AS (SELECT vec_id, cid,
         |    $cosinePairSql
         |  FROM ax GROUP BY vec_id, cid),
         |ascore AS (SELECT vec_id, cid, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS s FROM asum),
         |ar AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM ascore),
         |cells AS (SELECT vec_id, cid FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM ar WHERE vec_id < 20 AND rn <= 2),
         |q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |  FROM embeddings WHERE vec_id < 20),
         |cand AS (SELECT p.qid, cells.vec_id AS vb FROM probes p
         |  JOIN cells USING (cid) WHERE cells.vec_id <> p.qid),
         |fcand AS (SELECT cand.qid, cand.vb, e.label FROM cand
         |  JOIN q USING (qid) JOIN embeddings e ON e.vec_id = cand.vb
         |  WHERE e.label = q.qlabel),
         |x AS (SELECT fcand.qid, fcand.vb, q.qe AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM fcand JOIN q USING (qid) JOIN embeddings e ON e.vec_id = fcand.vb),
         |s AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, vb),
         |sim AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, sim, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vb) AS BIGINT) AS rk FROM sim)
         |SELECT r.qid, r.rk, r.vb AS neighbor,
         |  CAST(e.label AS BIGINT) AS label, r.sim
         |FROM r JOIN embeddings e ON e.vec_id = r.vb WHERE r.rk <= 3
         |ORDER BY r.qid, r.rk""".stripMargin),

    // q172: DuckDB replays the int8 quantization (scale = amax/127,
    // floor(x/scale + 0.5) — floor, not round(): the engines' round()
    // half-way rules differ while floor is IEEE-identical), the EXACT
    // integer code dot (order-free), the scale-product approximate
    // rank, and the full-precision cosine re-rank on candidates only.
    QueryDef("q172_sq_ann", Similarity.sqTopK(_, _),
      s"""WITH qn AS (SELECT vec_id, embedding,
         |    CAST(list_aggregate(list_transform(embedding, x -> abs(x)),
         |      'max') AS DOUBLE) / 127.0 AS scale
         |  FROM embeddings),
         |qv AS (SELECT vec_id, embedding, scale,
         |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
         |      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)
         |      END) AS qvec
         |  FROM qn),
         |q AS (SELECT vec_id AS qid, embedding AS qe, scale AS qscale,
         |    qvec AS qqv FROM qv WHERE vec_id < 20),
         |p AS (SELECT qid, v.vec_id AS vb, qe, v.embedding AS eb, qscale,
         |    v.scale AS dscale, qqv, v.qvec AS dqv
         |  FROM qv v CROSS JOIN q WHERE v.vec_id <> qid),
         |x AS (SELECT qid, vb, qqv, dqv, unnest(range(1, 65)) AS i FROM p),
         |d AS (SELECT qid, vb, CAST(sum(qqv[i] * dqv[i]) AS BIGINT) AS qdot
         |  FROM x GROUP BY qid, vb),
         |a AS (SELECT p.qid, p.vb, p.qe, p.eb, d.qdot,
         |    round(CAST(d.qdot AS DOUBLE) * p.qscale * p.dscale, 6) AS approx
         |  FROM p JOIN d ON p.qid = d.qid AND p.vb = d.vb),
         |c AS (SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY approx DESC, vb) AS crk FROM a),
         |cand AS (SELECT qid, vb, qe, eb, qdot, approx FROM c WHERE crk <= 20),
         |x2 AS (SELECT qid, vb, qe AS ea, eb, unnest(range(1, 65)) AS i
         |  FROM cand),
         |s2 AS (SELECT qid, vb,
         |    $cosinePairSql
         |  FROM x2 GROUP BY qid, vb),
         |sim2 AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s2),
         |r AS (SELECT cand.qid, cand.vb, cand.qdot, cand.approx, sim2.sim,
         |    CAST(row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY sim2.sim DESC, cand.vb) AS BIGINT) AS rk
         |  FROM cand JOIN sim2 ON cand.qid = sim2.qid AND cand.vb = sim2.vb)
         |SELECT qid, rk, vb AS neighbor, qdot, approx, sim FROM r
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // q201: q30's cosine machinery plus the label split — hardest
    // positive re-derived as a per-anchor min, negatives ranked the
    // same way the engine's heap ranks them.
    QueryDef("q201_hard_negatives", Similarity.hardNegatives(_, _),
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
         |  FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qid, qlabel, e.vec_id AS vb, e.label AS lb,
         |    qe AS ea, e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> qid),
         |x AS (SELECT qid, qlabel, vb, lb, ea, eb,
         |    unnest(range(1, 65)) AS i FROM p),
         |s AS (SELECT qid, qlabel, vb, lb,
         |    $cosinePairSql
         |  FROM x GROUP BY qid, qlabel, vb, lb),
         |sim AS (SELECT qid, qlabel, vb, lb,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |pos AS (SELECT qid, min(sim) AS pos_sim FROM sim
         |  WHERE lb = qlabel GROUP BY qid),
         |neg AS (SELECT qid, vb, sim, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, vb) AS BIGINT) AS rk
         |  FROM sim WHERE lb <> qlabel)
         |SELECT n.qid, n.rk, n.vb AS neighbor, n.sim, p.pos_sim,
         |  CAST(n.sim < p.pos_sim AS BIGINT) AS is_semihard
         |FROM neg n LEFT JOIN pos p ON n.qid = p.qid
         |WHERE n.rk <= 5 ORDER BY n.qid, n.rk""".stripMargin),

    // q214: the PQ pipeline unrolled stage by stage — subspace
    // element rows, the same one Lloyd round (round-6 argmin,
    // mean→round-6→float), ADC table, candidate rank, cosine
    // re-rank via the shared q30 machinery. Engine folds distances
    // in fixed dim order, the oracle sums group rows — round-6
    // before every compare absorbs the ulp (the q31c argument).
    QueryDef("q214_pq_ann", Similarity.pqTopK(_, _),
      s"""WITH sub0 AS (SELECT vec_id, embedding,
         |    unnest(range(0, 8)) AS m FROM embeddings),
         |el AS (SELECT vec_id, m, unnest(range(1, 9)) AS i,
         |    embedding AS emb FROM sub0),
         |elv AS (SELECT vec_id, m, i,
         |    CAST(emb[m * 8 + i] AS DOUBLE) AS v FROM el),
         |c0 AS (SELECT vec_id AS cid, m, i, v AS cv FROM elv
         |  WHERE vec_id < 4),
         |d0 AS (SELECT e.vec_id, e.m, c.cid,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
         |  FROM elv e JOIN c0 c ON e.m = c.m AND e.i = c.i
         |  GROUP BY e.vec_id, e.m, c.cid),
         |a0 AS (SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM d0)
         |  WHERE rn = 1),
         |c1 AS (SELECT a.m, a.cid, e.i,
         |    CAST(CAST(round(avg(e.v), 6) AS FLOAT) AS DOUBLE) AS cv
         |  FROM a0 a JOIN elv e ON a.vec_id = e.vec_id AND a.m = e.m
         |  GROUP BY a.m, a.cid, e.i),
         |d1 AS (SELECT e.vec_id, e.m, c.cid,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
         |  FROM elv e JOIN c1 c ON e.m = c.m AND e.i = c.i
         |  GROUP BY e.vec_id, e.m, c.cid),
         |codes AS (SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM d1)
         |  WHERE rn = 1),
         |dq AS (SELECT e.vec_id AS qid, e.m, c.cid,
         |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS dqv
         |  FROM elv e JOIN c1 c ON e.m = c.m AND e.i = c.i
         |  WHERE e.vec_id < 20 GROUP BY e.vec_id, e.m, c.cid),
         |ap AS (SELECT q.qid, k.vec_id, round(sum(q.dqv), 6) AS approx
         |  FROM codes k JOIN dq q ON k.m = q.m AND k.cid = q.cid
         |  WHERE k.vec_id <> q.qid GROUP BY q.qid, k.vec_id),
         |cand AS (SELECT qid, vec_id, approx FROM (
         |    SELECT qid, vec_id, approx, row_number() OVER (
         |      PARTITION BY qid ORDER BY approx, vec_id) AS crk FROM ap)
         |  WHERE crk <= 50),
         |px AS (SELECT c.qid, c.vec_id AS vb, c.approx,
         |    q.embedding AS ea, e.embedding AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.qid
         |  JOIN embeddings e ON e.vec_id = c.vec_id),
         |s AS (SELECT qid, vb, approx,
         |    $cosinePairSql
         |  FROM px GROUP BY qid, vb, approx),
         |sim AS (SELECT qid, vb, approx,
         |    round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
         |      ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s),
         |r AS (SELECT qid, vb, approx, sim, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, vb) AS BIGINT) AS rk
         |  FROM sim)
         |SELECT qid, rk, vb AS neighbor, approx, sim
         |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),

    // q235: DuckDB replays each truncation's brute top-k with its own
    // unnest-range pair sums over the first d components, then the
    // same truth intersection and integer recall.
    QueryDef("q235_mrl_recall", Similarity.mrlRecall(_, _),
      {
      val dims = Seq(16, 32, 64)
      val blocks = dims.map { d =>
        s"""x$d AS (SELECT qid, vb, ea, eb, unnest(range(1, ${d + 1})) AS i
           |  FROM p),
           |s$d AS (SELECT qid, vb,
           |    $cosinePairSql
           |  FROM x$d GROUP BY qid, vb),
           |m$d AS (SELECT qid, vb, round(CASE WHEN na = 0 OR nb = 0
           |    THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim
           |  FROM s$d),
           |r$d AS (SELECT qid, vb, row_number() OVER (PARTITION BY qid
           |    ORDER BY sim DESC, vb) AS rk FROM m$d)""".stripMargin
      }.mkString(",\n")
      val union = dims.map(d =>
        s"SELECT CAST($d AS BIGINT) AS dim, qid, vb FROM r$d WHERE rk <= 10")
        .mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |  FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT q.qid, e.vec_id AS vb, q.qe AS ea,
         |    e.embedding AS eb
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |$blocks,
         |truth AS (SELECT qid, vb FROM r${dims.max} WHERE rk <= 10),
         |u AS ($union),
         |h AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM u JOIN truth USING (qid, vb) GROUP BY dim),
         |dl AS (SELECT CAST(unnest([${dims.mkString(", ")}]) AS BIGINT)
         |  AS dim)
         |SELECT dl.dim, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  coalesce(h.n_hits, 0) * 1000 // 200 AS recall_permille
         |FROM dl LEFT JOIN h USING (dim) ORDER BY dim""".stripMargin
    }),

    // q250: incremental IVF maintenance. The oracle reassigns the
    // WHOLE snapshot B from scratch against the frozen snapshot-A
    // centroids (first-16 vectors) — the engine only assigns the
    // delta and carries the stored index — so hash-match is the
    // maintenance≡rebuild identity. Arrivals are negated re-keys
    // (cosine sign flips → different cells than their originals).
    QueryDef("q250_ivf_ivm", Similarity.ivfIndexMaintenance(_, _), ivfIvmOracle(11, 13)),

    // q255: the STORED-index twin of q250 — same logical index, but
    // the engine maintains cid-partitioned FILES through dynamic
    // partition overwrite and reports from the read-back. The oracle
    // is q250's from-scratch logical recompute VERBATIM, so
    // hash-match is the physical-maintenance ≡ logical-rebuild
    // identity (Breadth17Spec adds the write-path half SQL cannot
    // see: untouched partitions byte-identical, touched set exact).
    QueryDef("q255_stored_ivf_maint", Similarity.storedIvfMaintenance(_, _), ivfIvmOracle(97, 101))
  )
}
