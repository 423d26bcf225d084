package graft
package queries

import graft.operators.Dedup
import graft.queries.OracleFragments._

/** Exact and near-duplicate detection, clustering and
  * decontamination, built on [[graft.operators.Dedup]].
  */
object DedupQueries {

  private val shinglesCte = shinglesCteOver("documents")

  /** The q190/q190b duplicated-span oracle (one SQL, two engine
    * encodings — exact-set kernel and Bloom-ladder join).
    */
  private val dupSpansOracleSql: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id, i,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      |  FROM (SELECT doc_id, toks, unnest(range(1,
      |      greatest(len(toks) - 1, 1))) AS i
      |    FROM t WHERE len(toks) >= 3)),
      |df AS (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g),
      |shared AS (SELECT g FROM df WHERE df >= 2),
      |hits AS (SELECT sh.doc_id, sh.i FROM sh JOIN shared USING (g)),
      |cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT)
      |      AS covered
      |  FROM (SELECT doc_id, unnest([i, i + 1, i + 2]) AS p FROM hits)
      |  GROUP BY doc_id),
      |n AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
      |  FROM documents)
      |SELECT n.doc_id, n.n_toks,
      |  CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_toks,
      |  CAST(COALESCE(cov.covered, 0) * 1000000
      |    // greatest(n_toks, 1) AS BIGINT) AS dup_ppm
      |FROM n LEFT JOIN cov USING (doc_id) ORDER BY n.doc_id""".stripMargin

  /** The q231/q231b span-excision oracle (one SQL, two engine
    * encodings — broadcast exact-set kernel and Bloom-ladder join +
    * position-list kernel): covered positions from the shared hits,
    * kept positions by anti-join, cleaned text re-assembled with
    * string_agg in position order, md5'd.
    */
  private val exciseOracleSql: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id, i,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      |  FROM (SELECT doc_id, toks, unnest(range(1,
      |      greatest(len(toks) - 1, 1))) AS i
      |    FROM t WHERE len(toks) >= 3)),
      |df AS (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g),
      |shared AS (SELECT g FROM df WHERE df >= 2),
      |hits AS (SELECT sh.doc_id, sh.i FROM sh JOIN shared USING (g)),
      |cov AS (SELECT DISTINCT doc_id, p
      |  FROM (SELECT doc_id, unnest([i, i + 1, i + 2]) AS p FROM hits)),
      |tok AS (SELECT doc_id, p, toks[p] AS tok
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS p
      |    FROM t)),
      |kept AS (SELECT tok.doc_id, tok.p, tok.tok
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id
      |    AND tok.p = cov.p
      |  WHERE cov.p IS NULL),
      |c AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned
      |  FROM kept GROUP BY doc_id),
      |cv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
      |  FROM cov GROUP BY doc_id),
      |n AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
      |  FROM documents)
      |SELECT n.doc_id, n.n_toks,
      |  n.n_toks - COALESCE(cv.covered, 0) AS kept_toks,
      |  md5(COALESCE(c.cleaned, '')) AS cleaned_fp
      |FROM n LEFT JOIN cv USING (doc_id) LEFT JOIN c USING (doc_id)
      |ORDER BY n.doc_id""".stripMargin

  /** Exact decontamination semantics — shared by q48 (exact-set
    * kernel) and q48b (Bloom prefilter + distributed exact join),
    * which must be row-identical by construction.
    */
  private lazy val decontaminateOracle: String =
    s"""WITH $shinglesCte,
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0)
       |SELECT doc_id, count(*) AS n_hits
       |FROM sh JOIN bench USING (shingle)
       |WHERE doc_id % 10 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Sign-LSH bucketed embedding near-dup pipeline as CTEs ending in
    * `sim` (vec pairs with cosine) — shared by q29 and q50.
    */
  private lazy val embedNearDupCtes: String =
    s"""e AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |pr AS (SELECT vec_id, embedding,
       |    CASE WHEN i = 0 THEN bucket ELSE xor(bucket, 1 << (i - 1)) END AS probe
       |  FROM (SELECT vec_id, embedding, bucket, unnest(range(0, 9)) AS i FROM e)),
       |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |    a.embedding AS ea, b.embedding AS eb
       |  FROM pr a JOIN e b ON a.probe = b.bucket AND a.vec_id < b.vec_id),
       |x AS (SELECT va, vb, ea, eb, unnest(range(1, 65)) AS i FROM pairs),
       |s AS (SELECT va, vb,
       |    $cosinePairSql
       |  FROM x GROUP BY va, vb),
       |sim AS (SELECT va, vb, round(CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |    ELSE dot / (sqrt(na) * sqrt(nb)) END, 6) AS sim FROM s)""".stripMargin

  val records: Seq[QueryDef] = Seq(
    // q193: the oracle re-derives the per-band candidate sets from
    // the minhash CTEs' capped band table and attributes its own
    // verified pairs back to every generating band.
    QueryDef("q193_lsh_diagnostics", Dedup.lshBandDiagnostics _,
      s"""WITH $minhashCtes,
         |bc AS (SELECT x.band, x.doc_id AS a, y.doc_id AS b
         |  FROM bk x JOIN bk y ON x.bkey = y.bkey AND x.band = y.band
         |    AND x.lang = y.lang AND x.doc_id < y.doc_id),
         |nc AS (SELECT band, CAST(count(*) AS BIGINT) AS n_cands
         |  FROM bc GROUP BY band),
         |nv AS (SELECT band, CAST(count(*) AS BIGINT) AS n_verified
         |  FROM bc JOIN j ON j.a = bc.a AND j.b = bc.b
         |  WHERE j.jaccard >= 0.2 GROUP BY band)
         |SELECT CAST(nc.band AS BIGINT) AS band, n_cands,
         |  COALESCE(n_verified, 0) AS n_verified,
         |  COALESCE(n_verified, 0) * 1000000 // n_cands AS precision_ppm
         |FROM nc LEFT JOIN nv USING (band) ORDER BY nc.band""".stripMargin),

    // q190/q190b: the oracle takes the POSITIONAL route — explode
    // shingles with their positions, join the df>=2 shared set,
    // expand each hit to its three covered positions, count distinct
    // — independent of BOTH engine encodings (q190's one-pass
    // coverage kernel AND q190b's Bloom-prefiltered verification
    // join), which must agree with it and therefore each other.
    QueryDef("q190_dup_spans", Dedup.dupSpans _, dupSpansOracleSql),
    QueryDef("q190b_dup_spans_bloom", Dedup.dupSpansBloom _, dupSpansOracleSql),
    QueryDef("q26_exact_dedup", Dedup.exactDedup _,
      """SELECT lang, count(*) AS n_input, count(DISTINCT fp) AS n_unique FROM (
        |  SELECT lang, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM (SELECT lang, text FROM documents
        |        UNION ALL SELECT lang, text FROM documents) u) t
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Best CANDIDATE neighbor (same LSH banding as q28) — at scale an
    // all-pairs best neighbor is unaffordable and meaningless below
    // the LSH collision range; the candidate contract is the honest
    // semantics and is mirrored exactly here.
    QueryDef("q27_ngram_jaccard", Dedup.ngramJaccardNeighbors _,
      s"""WITH $minhashCtes,
         |sym AS (SELECT a AS doc_id, b AS nb, jaccard FROM j
         |  UNION ALL SELECT b AS doc_id, a AS nb, jaccard FROM j),
         |r AS (SELECT doc_id, nb, jaccard,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY jaccard DESC, nb) AS rn FROM sym)
         |SELECT doc_id, nb AS best_neighbor, jaccard AS best_jaccard
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    QueryDef("q28_minhash_lsh", Dedup.minhashLshPairs _,
      s"""WITH $minhashCtes
         |SELECT a AS doc_a, b AS doc_b, jaccard FROM j WHERE jaccard >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Connected components over the q28 pair graph; recursive
    // transitive closure stands in for the label-propagation loop.
    QueryDef("q43_dedup_clusters", Dedup.dedupClusters _,
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a)
         |SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin),

    // q135: the q43 closure composed with canonical-survivor
    // selection — oracle picks the keep-longest survivor via its own
    // window rank (vs the engine's TopKRows k=1 heap).
    QueryDef("q135_cluster_canon", Dedup.clusterCanonical _,
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |  FROM reach GROUP BY n),
         |mem AS (SELECT cl.cluster_rep, cl.doc_id, d.n_chars
         |  FROM cl JOIN documents d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_rep
         |    ORDER BY n_chars DESC, doc_id) AS rk FROM mem),
         |sz AS (SELECT cluster_rep, count(*) AS n_members FROM mem
         |  GROUP BY cluster_rep)
         |SELECT r.cluster_rep, sz.n_members, r.doc_id AS canon_doc,
         |  r.n_chars AS canon_chars
         |FROM r JOIN sz USING (cluster_rep) WHERE r.rk = 1
         |ORDER BY r.cluster_rep""".stripMargin),

    // q157: the cluster-aware split — oracle re-derives the closure
    // (q43's recursive reach), the singleton coalesce, the q47 md5
    // bucket on the GROUP id, the bit_xor membership fingerprint via
    // DuckDB's own '0x' hex cast (vs the engine's conv(...,16,10)),
    // and the zero-leak proof from its own assignment.
    QueryDef("q157_leakage_split", Dedup.leakageSafeSplit _,
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |  FROM reach GROUP BY n),
         |g AS (SELECT d.doc_id, d.n_chars,
         |    coalesce(cl.cluster_rep, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN cl USING (doc_id)),
         |s AS (SELECT doc_id, n_chars, group_id,
         |    CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT *,
         |    ${hexBucketSql("CAST(group_id AS VARCHAR)")} AS bkt FROM g)),
         |leak AS (SELECT CAST(count_if(ns > 1) AS BIGINT) AS leaked_groups
         |  FROM (SELECT group_id, count(DISTINCT split) AS ns
         |        FROM s GROUP BY group_id))
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT group_id) AS n_groups,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  bit_xor(CAST(concat('0x',
         |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT))
         |    AS members_fp,
         |  (SELECT leaked_groups FROM leak) AS leaked_groups
         |FROM s GROUP BY split ORDER BY split""".stripMargin),

    // q168: the incremental near-dup result IS the cross-side slice
    // of the full pair relation (the cap is computed on the combined
    // band table on both paths) — the oracle derives it by filtering
    // the shared j CTE to cross-parity pairs and orienting base/delta.
    QueryDef("q168_delta_neardup", Dedup.deltaNearDup _,
      s"""WITH $minhashCtes
         |SELECT CASE WHEN a % 2 = 0 THEN a ELSE b END AS base_doc,
         |  CASE WHEN a % 2 = 0 THEN b ELSE a END AS delta_doc, jaccard
         |FROM j WHERE (a % 2) <> (b % 2) AND jaccard >= 0.2
         |ORDER BY delta_doc, base_doc""".stripMargin),
    QueryDef("q29_embedding_neardup", Dedup.embeddingNearDups _,
      s"""WITH $embedNearDupCtes
         |SELECT va AS vec_a, vb AS vec_b, sim FROM sim WHERE sim >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin),

    // Connected components over the q29 pair graph (same recursive
    // transitive-closure oracle shape as q43).
    QueryDef("q50_embedding_clusters", Dedup.embeddingClusters _,
      s"""WITH RECURSIVE $embedNearDupCtes,
         |p AS (SELECT va AS a, vb AS b FROM sim WHERE sim >= 0.35),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a)
         |SELECT n AS vec_id, least(n, min(m)) AS cluster_rep
         |FROM reach GROUP BY n ORDER BY vec_id""".stripMargin),

    // q144: the same matrix from the explode side — distinct
    // (source, shingle) via unnest (vs the engine's per-doc
    // sorted_shingles kernel), self-join on shingle, exact counts.
    QueryDef("q144_source_overlap", Dedup.sourceOverlap _,
      """WITH d AS (SELECT source, regexp_extract_all(text, '\S+') AS l
        |  FROM documents),
        |sh AS (SELECT DISTINCT source,
        |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle
        |  FROM (SELECT source, l,
        |      unnest(range(1, greatest(len(l) - 1, 1))) AS i FROM d)),
        |per AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT p.source_a, p.source_b, p.n_shared,
        |  pa.n_sh AS n_a, pb.n_sh AS n_b,
        |  round(CAST(p.n_shared AS DOUBLE) /
        |    (pa.n_sh + pb.n_sh - p.n_shared), 6) AS jaccard
        |FROM p
        |JOIN per pa ON pa.source = p.source_a
        |JOIN per pb ON pb.source = p.source_b
        |ORDER BY p.source_a, p.source_b""".stripMargin),
    QueryDef("q48_decontaminate", Dedup.decontaminate _, decontaminateOracle),

    // q159: the contamination-severity policy over q48's universe —
    // the oracle re-derives per-doc shingle totals and eval hits by
    // explode + join (vs the engine's two per-row kernels), then the
    // same exact-integer ppm and verdict thresholds.
    QueryDef("q159_contamination_report", Dedup.contaminationReport _,
      s"""WITH $shinglesCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_sh FROM sh
         |  WHERE doc_id % 10 <> 0 GROUP BY doc_id),
         |hit AS (SELECT t.doc_id, count(*) AS n_hits
         |  FROM sh t JOIN bench USING (shingle)
         |  WHERE t.doc_id % 10 <> 0 GROUP BY t.doc_id)
         |SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) * 1000000 // t.n_sh AS BIGINT)
         |    AS cont_ppm,
         |  CASE WHEN coalesce(h.n_hits, 0) = 0 THEN 'clean'
         |       WHEN coalesce(h.n_hits, 0) * 1000000 // t.n_sh >= 500000
         |         THEN 'drop'
         |       ELSE 'review' END AS verdict
         |FROM tot t LEFT JOIN hit h USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // The Bloom prefilter changes the PLAN, never the answer: same
    // oracle as q48 (false positives vanish at the exact join).
    QueryDef("q48b_decontaminate_bloom", Dedup.decontaminateBloom _, decontaminateOracle),

    // Same candidate CTEs as q27/q28/q43; levenshtein in both engines
    // is the classic unit-cost edit distance over an ASCII corpus.
    QueryDef("q71_edit_distance", Dedup.editDistancePairs _,
      s"""WITH $minhashCtes,
         |dt AS (SELECT doc_id, text FROM documents),
         |e AS (SELECT j.a AS doc_a, j.b AS doc_b, j.jaccard,
         |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
         |    greatest(length(ta.text), length(tb.text)) AS mx
         |  FROM j JOIN dt ta ON ta.doc_id = j.a
         |         JOIN dt tb ON tb.doc_id = j.b)
         |SELECT doc_a, doc_b, jaccard, edit_dist,
         |  round(1.0 - CAST(edit_dist AS DOUBLE) / mx, 6) AS edit_sim
         |FROM e ORDER BY doc_a, doc_b""".stripMargin),

    // Directed containment (quote/subset detection) over the
    // df-capped shingle space — constants pinned to
    // Dedup.ContainDfCap / ContainMinPpm / ContainMinShingles; the
    // same word-3-gram shingle CTE as the q27/q28 oracles.
    QueryDef("q89_containment", Dedup.containmentPairs _,
      """WITH d AS (SELECT doc_id, lang,
        |    regexp_extract_all(text, '\S+') AS l FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |    l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM (
        |  SELECT doc_id, lang, l,
        |    unnest(range(1, greatest(len(l) - 1, 1))) AS i FROM d)),
        |df AS (SELECT shingle, count(*) AS dfreq FROM sh GROUP BY shingle),
        |f AS (SELECT sh.doc_id, sh.lang, sh.shingle FROM sh
        |  JOIN df USING (shingle) WHERE dfreq <= 64),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM f
        |  GROUP BY doc_id HAVING count(*) >= 5),
        |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |  FROM f x JOIN f y ON x.shingle = y.shingle AND x.lang = y.lang
        |    AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT contained, container, common, n_contained, cont_ppm
        |FROM (
        |  SELECT a AS contained, b AS container, common,
        |    s.n_sh AS n_contained,
        |    CAST(common * 1000000 // s.n_sh AS BIGINT) AS cont_ppm
        |  FROM common JOIN sizes s ON a = s.doc_id
        |  UNION ALL
        |  SELECT b, a, common, s.n_sh,
        |    CAST(common * 1000000 // s.n_sh AS BIGINT)
        |  FROM common JOIN sizes s ON b = s.doc_id)
        |WHERE cont_ppm >= 600000
        |ORDER BY contained, container""".stripMargin),

    // q226: truth = every shingle-sharing pair's exact Jaccard over
    // the df-capped shingle space (Dedup.RecallTruthDfCap, mirrored
    // here — the cap bounds per-shingle truth fanout), candidates =
    // the shared q28 relation; recall counted per threshold on both
    // sides' round-6 values.
    QueryDef("q226_lsh_recall", Dedup.lshRecallCurve _,
      s"""WITH $minhashCtes,
         |keepT AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(*) <= ${Dedup.RecallTruthDfCap}),
         |shT AS (SELECT sh.* FROM sh JOIN keepT USING (shingle)),
         |sizesT AS (SELECT doc_id, count(*) AS n_sh FROM shT
         |  GROUP BY doc_id),
         |commonT AS (SELECT x.doc_id AS ta, y.doc_id AS tb, count(*) AS c
         |  FROM shT x JOIN shT y ON x.shingle = y.shingle
         |    AND x.lang = y.lang AND x.doc_id < y.doc_id
         |  GROUP BY ta, tb),
         |jt AS (SELECT round(CAST(c AS DOUBLE) /
         |    (sa.n_sh + sb.n_sh - c), 6) AS jt
         |  FROM commonT JOIN sizesT sa ON sa.doc_id = ta
         |  JOIN sizesT sb ON sb.doc_id = tb),
         |thr AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.7, 0.9]) AS t),
         |tr AS (SELECT t, count(*) AS n_true FROM thr
         |  JOIN jt ON jt.jt >= thr.t GROUP BY t),
         |ca AS (SELECT t, count(*) AS n_lsh FROM thr
         |  JOIN j ON j.jaccard >= thr.t GROUP BY t)
         |SELECT CAST(round(t * 100) AS BIGINT) AS threshold_pct,
         |  CAST(coalesce(tr.n_true, 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(ca.n_lsh, 0) AS BIGINT) AS n_lsh,
         |  CASE WHEN coalesce(tr.n_true, 0) > 0
         |    THEN coalesce(ca.n_lsh, 0) * 1000 // tr.n_true END
         |    AS recall_permille
         |FROM thr LEFT JOIN tr USING (t) LEFT JOIN ca USING (t)
         |ORDER BY threshold_pct""".stripMargin),

    // q228: both stages replayed — the doubled corpus's exact stage
    // from the q26 fingerprint, the near-dup stage from the shared
    // candidate relation under the q137 set-wise policy.
    QueryDef("q228_dedup_funnel", Dedup.dedupFunnel _,
      s"""WITH $minhashCtes,
         |base AS (SELECT doc_id,
         |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, text FROM documents
         |        UNION ALL SELECT doc_id + ${Dedup.FunnelCopyOffset}, text
         |        FROM documents) u),
         |keep1 AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY fp),
         |s1 AS (SELECT b.* FROM base b JOIN keep1 k ON b.doc_id = k.doc_id),
         |drop2 AS (SELECT DISTINCT j.b AS doc_id FROM j
         |  WHERE j.jaccard >= 0.2
         |    AND j.a IN (SELECT doc_id FROM keep1)
         |    AND j.b IN (SELECT doc_id FROM keep1)),
         |s2 AS (SELECT * FROM s1
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drop2)),
         |t0 AS (SELECT count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tk
         |  FROM base),
         |t1 AS (SELECT count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tk
         |  FROM s1),
         |t2 AS (SELECT count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tk
         |  FROM s2)
         |SELECT '1_exact' AS stage, t0.n AS docs_in, t1.n AS docs_out,
         |  t0.n - t1.n AS docs_removed, t0.tk - t1.tk AS tokens_removed
         |FROM t0 CROSS JOIN t1
         |UNION ALL
         |SELECT '2_neardup', t1.n, t2.n, t1.n - t2.n, t1.tk - t2.tk
         |FROM t1 CROSS JOIN t2
         |ORDER BY stage""".stripMargin),

    // q229: q226's machinery with the corpus restricted to the
    // deterministic 'rc:'-salted 20% sample BEFORE shingling/banding
    // — the minhash CTEs re-rooted onto the sampled relation BY
    // CONSTRUCTION (minhashCtesOver, not post-hoc string replace).
    QueryDef("q229_lsh_recall_sampled", Dedup.lshRecallCurveSampled _,
      s"""WITH docs_s AS (SELECT * FROM documents
         |  WHERE ${hexBucketSql("'rc:' || CAST(doc_id AS VARCHAR)")}
         |    < ${Dedup.RecallSampleBound}),
         |${minhashCtesOver("docs_s")},
         |keepT AS (SELECT shingle FROM sh GROUP BY shingle
         |  HAVING count(*) <= ${Dedup.RecallTruthDfCap}),
         |shT AS (SELECT sh.* FROM sh JOIN keepT USING (shingle)),
         |sizesT AS (SELECT doc_id, count(*) AS n_sh FROM shT
         |  GROUP BY doc_id),
         |commonT AS (SELECT x.doc_id AS ta, y.doc_id AS tb, count(*) AS c
         |  FROM shT x JOIN shT y ON x.shingle = y.shingle
         |    AND x.lang = y.lang AND x.doc_id < y.doc_id
         |  GROUP BY ta, tb),
         |jt AS (SELECT round(CAST(c AS DOUBLE) /
         |    (sa.n_sh + sb.n_sh - c), 6) AS jt
         |  FROM commonT JOIN sizesT sa ON sa.doc_id = ta
         |  JOIN sizesT sb ON sb.doc_id = tb),
         |thr AS (SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.7, 0.9]) AS t),
         |tr AS (SELECT t, count(*) AS n_true FROM thr
         |  JOIN jt ON jt.jt >= thr.t GROUP BY t),
         |ca AS (SELECT t, count(*) AS n_lsh FROM thr
         |  JOIN j ON j.jaccard >= thr.t GROUP BY t)
         |SELECT CAST(round(t * 100) AS BIGINT) AS threshold_pct,
         |  CAST(coalesce(tr.n_true, 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(ca.n_lsh, 0) AS BIGINT) AS n_lsh,
         |  CASE WHEN coalesce(tr.n_true, 0) > 0
         |    THEN coalesce(ca.n_lsh, 0) * 1000 // tr.n_true END
         |    AS recall_permille
         |FROM thr LEFT JOIN tr USING (t) LEFT JOIN ca USING (t)
         |ORDER BY threshold_pct""".stripMargin),

    // q231/q231b: the oracle takes the POSITIONAL route (the q190
    // pattern) — covered positions from the shared-shingle hits, KEPT
    // positions by anti-join, the cleaned text re-assembled with
    // string_agg in position order, then md5 — fully independent of
    // BOTH engine encodings (exact-set kernel and Bloom-ladder join),
    // which must agree with it and therefore each other.
    QueryDef("q231_span_excision", Dedup.exciseSpans _, exciseOracleSql),
    QueryDef("q231b_span_excision_bloom", Dedup.exciseSpansBloom _, exciseOracleSql),

    // q251: DuckDB rebuilds the ENTIRE band index from scratch over
    // its own snapshot-B derivation (the q246 modular fixture carried
    // as full document rows), through the same shingle→minhash→band
    // CTEs the q28 pair oracle uses — so hash-match on every (doc,
    // band, bkey) row IS the IVM identity: the engine's delta-only
    // maintenance ≡ a from-scratch rebuild, cross-engine.
    QueryDef("q251_lsh_ivm", Dedup.lshIndexMaintenance _,
      s"""WITH $snapbDocsCte,
         |${bandsCteOver("snapb")}
         |SELECT doc_id, lang, CAST(band AS BIGINT) AS band, bkey
         |FROM bk0 ORDER BY doc_id, band""".stripMargin)
  )
}
