package graft
package queries

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, TextAnalysis}
import graft.queries.OracleFragments._

/** Text analysis and curation scoring over the documents table, built
  * on [[graft.operators.TextAnalysis]].
  */
object TextQueries {

  /** The integer-exact seeded Gumbel key CTEs shared by q241/q247:
    * 6-hex md5 prefix h → u = (2h+1)/2^25, inner −ln(u) in PICO
    * units, outer −ln(inner) in micro — both [[FixedLog.sqlExpr]]
    * integer evaluations, mirroring the engine's gumbelKeyMicro.
    * Input `gum` carries (h, w_micro, $carry); emits `gh`/`gi`/
    * `keyed` with key_micro = w_micro + g_micro.
    */
  private def gumbelKeyCtes(carry: String): String =
    s"""gh AS (SELECT $carry, w_micro,
       |    2 * ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 1048576
       |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 65536
       |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 4096
       |     + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) * 256
       |     + (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 16
       |     + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1)) + 1
       |      AS hden
       |  FROM gum),
       |gi AS (SELECT $carry, w_micro,
       |    ${graft.functions.FixedLog.sqlExpr("33554432", "hden", 12)}
       |      AS ipico
       |  FROM gh),
       |keyed AS (SELECT $carry, w_micro, w_micro -
       |    ${graft.functions.FixedLog.sqlExpr("ipico", "1000000000000", 6)}
       |      AS key_micro
       |  FROM gi)""".stripMargin

  /** Shared q244/q253 oracle: DuckDB trains the [[TextAnalysis
    * .BpeMerges]]-round merge table from scratch (unrolled stages).
    */
  private lazy val bpeTrainOracle: String = {
    val rows = (1 to TextAnalysis.BpeMerges).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, a AS lhs, b AS rhs, " +
        s"CAST(pc AS BIGINT) AS pair_count FROM m$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeSelectionCtes
       |$rows
       |ORDER BY rank""".stripMargin
  }

  /** q254 oracle, generated at oracle-dump time: embed the engine's
    * trained 1024-rule sequence-level table as VALUES and re-APPLY it
    * in DuckDB with a recursive per-rank replace chain (rank r fires
    * at recursion depth r — literally the chain semantics the kernel
    * must reproduce), then re-derive the fertility report. Training
    * is memoized, so the query and its oracle read the same artifact;
    * the table's SELECTION is independently cross-engine-gated at 64
    * rules by q253 (DuckDB trains from scratch there — 1024 unrolled
    * training stages would be a megabyte of SQL and quadratic planner
    * pain, while 1024 APPLY iterations are one recursive CTE).
    */
  private def bpeSeqOracle(spark: SparkSession, corpusDir: String): String = {
    val merges = TextAnalysis.bpeSeqMergesFor(spark, corpusDir)
    def esc(s: String) = s.replace("'", "''")
    val values = merges
      .map { case (r, a, b, _) => s"($r, '${esc(a)}', '${esc(b)}')" }
      .mkString(", ")
    val n = merges.length
    s"""WITH RECURSIVE m AS (SELECT * FROM (VALUES $values) v(rank, a, b)),
       |u AS (SELECT lang, text, count(*) AS cnt FROM documents
       |  GROUP BY lang, text),
       |base AS (SELECT lang, text, cnt, length(text) AS chars,
       |    '·' || array_to_string(list_transform(range(1, length(text) + 1),
       |      i -> substring(text, CAST(i AS INTEGER), 1)), '··') || '·'
       |      AS sym
       |  FROM u),
       |app AS (
       |  SELECT lang, text, cnt, chars, sym, 0 AS r FROM base
       |  UNION ALL
       |  SELECT a.lang, a.text, a.cnt, a.chars,
       |    replace(a.sym, '·' || m.a || '··' || m.b || '·',
       |      '·' || m.a || m.b || '·'), a.r + 1
       |  FROM app a JOIN m ON m.rank = a.r + 1 WHERE a.r < $n),
       |fin AS (SELECT lang, cnt, chars,
       |    len(string_split(substring(sym, 2, length(sym) - 2), '··'))
       |      AS n_tok
       |  FROM app WHERE r = $n)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_text_types,
       |  CAST(sum(cnt) AS BIGINT) AS n_docs,
       |  CAST(sum(chars * cnt) AS BIGINT) AS sum_chars,
       |  CAST(sum(n_tok * cnt) AS BIGINT) AS sum_subwords,
       |  CAST(sum(chars * cnt) * 1000 // sum(n_tok * cnt) AS BIGINT)
       |    AS chars_per_subword_permille
       |FROM fin GROUP BY lang ORDER BY lang""".stripMargin
  }

  val records: Seq[QueryDef] = Seq(
    // q198: the q22 scoring machinery aggregated into the confusion
    // matrix — DuckDB re-derives scores, argmax (same first-match
    // tie-break), and the per-label ppm shares.
    QueryDef("q198_lang_confusion", TextAnalysis.langConfusion _,
      {
      val langs = Seq("en", "de", "es", "fr", "zh")
      val scores = langs.map(l => s"(${scoreSql(l)}) AS s_$l").mkString(",\n  ")
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH p AS (SELECT doc_id, lang, ' ' || text || ' ' AS padded,
         |    text FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  $scores
         |FROM p),
         |b AS (SELECT *, $best AS best FROM sc),
         |pr AS (SELECT lang, CASE $cases ELSE 'und' END AS pred_lang
         |  FROM b),
         |cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |  FROM pr GROUP BY lang, pred_lang),
         |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS label_total
         |  FROM cm GROUP BY lang)
         |SELECT cm.lang, cm.pred_lang, cm.n,
         |  (cm.n * 1000000) // label_total AS share_ppm
         |FROM cm JOIN t USING (lang)
         |ORDER BY cm.lang, cm.pred_lang""".stripMargin
    }),

    // q188: DuckDB rebuilds q84's co-occurrence graph and unrolls the
    // SAME three all-integer power-iteration rounds — integer
    // division per contribution, exact integer inflow sums
    // (order-free), identical truncation — so the term centralities
    // hash-match exactly.
    QueryDef("q188_textrank", TextAnalysis.textRank _,
      {
      def prIter(i: Int): String =
        s"""pr$i AS (SELECT d.src AS term, d.deg, d.wsum,
           |    (SELECT (${Dedup.PrScale} * 15 // 100) // n FROM nn)
           |      + CAST(sum((p.pr * ed.w) // p.wsum) AS BIGINT)
           |        * 85 // 100 AS pr
           |  FROM ed JOIN pr${i - 1} p ON p.term = ed.src
           |    JOIN dg d ON d.src = ed.dst
           |  GROUP BY d.src, d.deg, d.wsum)""".stripMargin
      s"""WITH tok AS (SELECT doc_id,
         |    unnest(list_distinct(regexp_extract_all(text, '\\S+'))) AS term
         |  FROM documents),
         |vocab AS (SELECT term, count(*) AS dfreq FROM tok GROUP BY term
         |  ORDER BY dfreq DESC, term LIMIT 16),
         |f AS (SELECT t.doc_id, t.term FROM tok t
         |  JOIN vocab v ON t.term = v.term),
         |pairs AS (SELECT a.term AS term_a, b.term AS term_b,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY a.term, b.term HAVING count(*) >= 5),
         |ed AS (SELECT term_a AS src, term_b AS dst, w FROM pairs
         |  UNION ALL SELECT term_b, term_a, w FROM pairs),
         |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg,
         |    CAST(sum(w) AS BIGINT) AS wsum FROM ed GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dg),
         |pr0 AS (SELECT src AS term, deg, wsum,
         |    (SELECT ${Dedup.PrScale} // n FROM nn) AS pr FROM dg),
         |${(1 to Dedup.PrIters).map(prIter).mkString(",\n")}
         |SELECT term, deg, CAST(pr AS BIGINT) AS pr
         |FROM pr${Dedup.PrIters}
         |ORDER BY pr DESC, term""".stripMargin
    }),

    // q187: DuckDB rebuilds the vocabulary and the OOV tallies from
    // its own list primitives (zipped double-unnest for the per-doc
    // (term, tf) rows) — integer masses and ppm throughout.
    QueryDef("q187_oov_report", TextAnalysis.oovReport _,
      s"""WITH b AS (SELECT doc_id, lang,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |      AS arr
         |  FROM documents),
         |d AS (SELECT doc_id, lang, list_distinct(arr) AS terms, arr FROM b),
         |t AS (SELECT lang, unnest(terms) AS term,
         |    unnest(list_transform(terms,
         |      t -> CAST(len(list_filter(arr, x -> x = t)) AS BIGINT)))
         |      AS tf
         |  FROM d),
         |lt AS (SELECT lang, term, CAST(sum(tf) AS BIGINT) AS cnt
         |  FROM t GROUP BY lang, term),
         |g AS (SELECT term, sum(cnt) AS gcnt FROM lt GROUP BY term),
         |v AS (SELECT term FROM g ORDER BY gcnt DESC, term
         |  LIMIT ${TextAnalysis.OovVocabV}),
         |oov AS (SELECT lt.* FROM lt LEFT JOIN v USING (term)
         |  WHERE v.term IS NULL),
         |topo AS (SELECT lang, term AS top_oov, cnt AS top_oov_cnt
         |  FROM (SELECT *, row_number() OVER (PARTITION BY lang
         |      ORDER BY cnt DESC, term) AS rn FROM oov)
         |  WHERE rn = 1),
         |tot AS (SELECT lang, CAST(sum(len(arr)) AS BIGINT) AS toks_total
         |  FROM b GROUP BY lang),
         |oa AS (SELECT lang, count(*) AS oov_types,
         |    CAST(sum(cnt) AS BIGINT) AS oov_mass FROM oov GROUP BY lang)
         |SELECT tot.lang, toks_total, oov_types, oov_mass,
         |  (oov_mass * 1000000) // toks_total AS oov_ppm,
         |  top_oov, top_oov_cnt
         |FROM tot JOIN oa USING (lang) JOIN topo USING (lang)
         |ORDER BY tot.lang""".stripMargin),

    // q185: the oracle replays all three stages — q24's fingerprint
    // min-id dedup, q43's recursive closure, q135's keep-longest
    // policy re-ranked by tokens over the exact survivors — and the
    // per-lang tallies with integer ppm saving.
    QueryDef("q185_effective_size", TextAnalysis.effectiveSize _,
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |cl AS (SELECT n AS doc_id, least(n, min(m)) AS cluster_rep
         |  FROM reach GROUP BY n),
         |dt AS (SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
         |      AS n_toks,
         |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM documents),
         |ex AS (SELECT dt.* FROM dt
         |  JOIN (SELECT fp, min(doc_id) AS doc_id FROM dt GROUP BY fp) k
         |    ON dt.fp = k.fp AND dt.doc_id = k.doc_id),
         |mem AS (SELECT cl.cluster_rep, ex.doc_id, ex.n_toks
         |  FROM cl JOIN ex USING (doc_id)),
         |keep AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY cluster_rep
         |      ORDER BY n_toks DESC, doc_id) AS rk FROM mem)
         |  WHERE rk = 1),
         |nd AS (SELECT ex.* FROM ex LEFT JOIN cl USING (doc_id)
         |    WHERE cl.cluster_rep IS NULL
         |  UNION ALL SELECT ex.* FROM ex JOIN keep USING (doc_id)),
         |ra AS (SELECT lang, count(*) AS docs_raw,
         |    CAST(sum(n_toks) AS BIGINT) AS toks_raw FROM dt GROUP BY lang),
         |ea AS (SELECT lang, count(*) AS docs_exact,
         |    CAST(sum(n_toks) AS BIGINT) AS toks_exact FROM ex
         |  GROUP BY lang),
         |na AS (SELECT lang, count(*) AS docs_effective,
         |    CAST(sum(n_toks) AS BIGINT) AS toks_effective FROM nd
         |  GROUP BY lang)
         |SELECT ra.lang, docs_raw, toks_raw, docs_exact, toks_exact,
         |  docs_effective, toks_effective,
         |  (toks_raw - toks_effective) * 1000000 // toks_raw AS saved_ppm
         |FROM ra JOIN ea USING (lang) JOIN na USING (lang)
         |ORDER BY ra.lang""".stripMargin),

    // q177: DuckDB re-derives the char counts from its own list
    // primitives; Σc² and the top share are exact integers, so the
    // single log2-of-a-rational is the only float op (rounded at 6).
    QueryDef("q177_char_quality", TextAnalysis.charQuality _,
      """WITH b AS (SELECT doc_id,
        |    list_filter(string_split(text, ''), c -> c <> '') AS cs
        |  FROM documents),
        |c AS (SELECT doc_id, cs,
        |    list_transform(list_distinct(cs),
        |      ch -> CAST(len(list_filter(cs, x -> x = ch)) AS BIGINT))
        |      AS counts,
        |    CAST(len(cs) AS BIGINT) AS n
        |  FROM b),
        |s AS (SELECT doc_id, n,
        |    CAST(len(list_distinct(cs)) AS BIGINT) AS alphabet,
        |    CAST(list_aggregate(counts, 'max') AS BIGINT) AS top_char_cnt,
        |    CAST(list_aggregate(list_transform(counts, x -> x * x),
        |      'sum') AS BIGINT) AS sum_sq
        |  FROM c)
        |SELECT doc_id, n AS n_chars_t, alphabet, top_char_cnt,
        |  (top_char_cnt * 1000000) // n AS top_char_ppm, sum_sq,
        |  round(log2(CAST(n * n AS DOUBLE) / CAST(sum_sq AS DOUBLE)), 6)
        |    AS renyi2
        |FROM s ORDER BY doc_id""".stripMargin),
    QueryDef("q21_text_stats", TextAnalysis.textStats _,
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_char,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |        greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q22_lang_id", TextAnalysis.langId _,
      {
      val langs = Seq("en", "de", "es", "fr", "zh")
      val scores = langs.map(l => s"(${scoreSql(l)}) AS s_$l").mkString(",\n  ")
      val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
      val cases = langs.map(l =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""WITH p AS (SELECT doc_id, lang, ' ' || text || ' ' AS padded FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  $scores
         |FROM p),
         |b AS (SELECT *, $best AS best FROM sc)
         |SELECT doc_id, lang, CASE $cases ELSE 'und' END AS pred_lang
         |FROM b ORDER BY doc_id""".stripMargin
    }),
    QueryDef("q23_text_quality", TextAnalysis.qualityScore _,
      s"""WITH d AS (SELECT source, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT source, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT source,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM e)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN quality > 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
         |  round(avg(quality), 4) AS avg_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin),
    QueryDef("q24_fingerprints", TextAnalysis.fingerprints _,
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q25_simhash", TextAnalysis.simhash _,
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |             FROM documents),
        |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
        |bits AS (SELECT doc_id, p,
        |    CASE WHEN strpos('0123456789abcdef', substring(h, p, 1)) - 1 >= 8
        |         THEN 1 ELSE -1 END AS bit
        |  FROM (SELECT doc_id, h, unnest(range(1, 33)) AS p FROM h) t),
        |votes AS (SELECT doc_id, p, sum(bit) AS vote FROM bits GROUP BY doc_id, p)
        |SELECT doc_id, CAST(sum(CASE WHEN vote > 0
        |    THEN CAST(power(2, 32 - p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // q167: the KL drift replayed from first principles — DuckDB
    // derives the same top-32 vocab (count DESC, tok tie-break),
    // grid and add-one smoothing; since r17 the per-token terms are
    // EXACT INTEGERS through the shared FixedLog kernel ((c+1) ×
    // lnScaled of the integer-product rational), so the sum is
    // order-free integer arithmetic and the single float division
    // before round() sees bit-identical inputs in both engines —
    // the 10×-scale audit caught the previous double-fold flipping
    // a 6-decimal .5 boundary at sf0.1 (JVM-vs-DuckDB ln ulp, the
    // DSIR flake class).
    QueryDef("q167_source_drift", TextAnalysis.sourceDrift(_, _),
      s"""WITH d AS (SELECT source, regexp_extract_all(text, '\\S+') AS toks
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS n FROM
        |  (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
        |voc AS (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 32),
        |occ AS (SELECT source, tok, count(*) AS c FROM
        |  (SELECT source, unnest(toks) AS tok FROM d) u
        |  JOIN voc USING (tok) GROUP BY source, tok),
        |st AS (SELECT source, sum(c) AS tot_s FROM occ GROUP BY source),
        |g AS (SELECT tok, sum(c) AS cg FROM occ GROUP BY tok),
        |gt AS (SELECT sum(cg) AS tot_g FROM g),
        |grid AS (SELECT s.source, g.tok, coalesce(o.c, 0) AS c,
        |    s.tot_s, g.cg, gt.tot_g
        |  FROM st s CROSS JOIN g CROSS JOIN gt
        |  LEFT JOIN occ o ON o.source = s.source AND o.tok = g.tok),
        |nd AS MATERIALIZED (SELECT source, tok, tot_s,
        |    CAST(c + 1 AS BIGINT) AS c1,
        |    CAST((c + 1) * (tot_g + 32) AS BIGINT) AS lnum,
        |    CAST((cg + 1) * (tot_s + 32) AS BIGINT) AS lden
        |  FROM grid),
        |${graft.functions.FixedLog.sqlStagedCtes("nd", "lnum", "lden", 9, "lnr")._1},
        |terms AS (SELECT source, tok, tot_s, c1 * ln_s AS term_i
        |  FROM ${graft.functions.FixedLog.sqlStagedCtes("nd", "lnum", "lden", 9, "lnr")._2})
        |SELECT source, CAST(max(tot_s) AS BIGINT) AS n_occ,
        |  round(sum(term_i) / ((max(tot_s) + 32) * 1e9), 6) AS kl,
        |  struct_extract(max(row(term_i, tok)), 2) AS top_tok,
        |  round(max(term_i) / ((max(tot_s) + 32) * 1e9), 6) AS top_term
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),

    // q161: the 64-bit simhash re-derived by explode+vote over the
    // first 64 md5 BITS (vs the engine's codegen kernel) — exact
    // HUGEINT shifts assemble the unsigned value, wrapped to the
    // signed BIGINT two's complement (bit 63 is live); then the same
    // 4×16-bit pigeonhole blocking and bit_count(xor) verification.
    QueryDef("q161_simhash_neardup", TextAnalysis.simhashNearDup(_, _),
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        |             FROM documents),
        |h AS (SELECT doc_id, md5(tok) AS h FROM tok),
        |bits AS (SELECT doc_id, p,
        |    CASE WHEN ((strpos('0123456789abcdef',
        |        substring(h, 1 + p // 4, 1)) - 1) >> (3 - p % 4)) & 1 = 1
        |      THEN 1 ELSE -1 END AS bit
        |  FROM (SELECT doc_id, h, unnest(range(0, 64)) AS p FROM h) t),
        |votes AS (SELECT doc_id, p, sum(bit) AS vote FROM bits GROUP BY doc_id, p),
        |uf AS (SELECT doc_id, sum(CASE WHEN vote > 0
        |    THEN CAST(1 AS HUGEINT) << (63 - p) ELSE CAST(0 AS HUGEINT) END) AS u
        |  FROM votes GROUP BY doc_id),
        |sim AS (SELECT doc_id, CAST(CASE WHEN u >= CAST(1 AS HUGEINT) << 63
        |    THEN u - (CAST(1 AS HUGEINT) << 64) ELSE u END AS BIGINT) AS fp
        |  FROM uf),
        |bands AS (SELECT doc_id, fp, k, (fp >> (16 * k)) & 65535 AS band
        |  FROM (SELECT doc_id, fp, unnest(range(0, 4)) AS k FROM sim)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.fp AS fa, b.fp AS fb
        |  FROM bands a JOIN bands b
        |    ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin),

    // The composed pipeline: quality (q42 fragments) → exact dedup →
    // near-dup representative keep (q43 fragments) → hash split (q47
    // fragment) → shard packing (q45b shape), one aggregate per split.
    QueryDef("q52_training_pipeline", TextAnalysis.trainingPipeline(_, _),
      {
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |reps AS (SELECT n AS doc_id, least(n, min(m)) AS rep
         |  FROM reach GROUP BY n),
         |dq AS (SELECT doc_id, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |eq AS (SELECT doc_id, text, n_tok, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM dq),
         |q AS (SELECT doc_id, text, CAST(n_tok AS BIGINT) AS n_tok,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM eq),
         |f AS (SELECT doc_id, n_tok,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |ded AS (SELECT f.doc_id, f.n_tok FROM f JOIN k USING (fp, doc_id)),
         |kept AS (SELECT ded.doc_id, ded.n_tok FROM ded
         |  LEFT JOIN reps USING (doc_id)
         |  WHERE reps.rep IS NULL OR reps.rep = ded.doc_id),
         |sb AS (SELECT doc_id, n_tok,
         |  CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id // 64 AS shard
         |  FROM (SELECT doc_id, n_tok,
         |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |    + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bkt
         |    FROM kept)),
         |c AS (SELECT split, shard, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM sb)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  count(DISTINCT shard * 10000 + (run - n_tok) // 2048) AS n_bins
         |FROM c GROUP BY split ORDER BY split""".stripMargin
    }),
    QueryDef("q39_token_classes", TextAnalysis.tokenClasses _,
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_mark
        |FROM documents ORDER BY doc_id""".stripMargin),

    // q141: the same ordered cascade from first principles — booleans
    // per doc (top-unigram share via unnest + double aggregate, vs
    // the engine's TopGramCount kernel), cumulative-survival products
    // in one aggregate, funnel rows via UNION ALL.
    QueryDef("q141_filter_cascade", TextAnalysis.filterCascade _,
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, lang, n_chars, len(toks) AS n_tok,
        |    (SELECT max(c) FROM (SELECT count(*) AS c
        |       FROM unnest(toks) AS u(tk) GROUP BY tk)) AS top1
        |  FROM d),
        |b AS (SELECT
        |    CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS b1,
        |    CASE WHEN n_chars <= 500 THEN 1 ELSE 0 END AS b2,
        |    CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END AS b3,
        |    CASE WHEN n_tok >= 40 THEN 1 ELSE 0 END AS b4,
        |    CASE WHEN n_tok > 0 AND CAST(top1 AS DOUBLE) / n_tok <= 0.15
        |      THEN 1 ELSE 0 END AS b5
        |  FROM t),
        |s AS (SELECT count(*) AS s0, sum(b1) AS s1, sum(b1*b2) AS s2,
        |    sum(b1*b2*b3) AS s3, sum(b1*b2*b3*b4) AS s4,
        |    sum(b1*b2*b3*b4*b5) AS s5 FROM b),
        |f AS (
        |  SELECT 1 AS stage, 'len_min_100' AS rule, s0 AS n_in, s1 AS n_out FROM s
        |  UNION ALL SELECT 2, 'len_max_500', s1, s2 FROM s
        |  UNION ALL SELECT 3, 'lang_supported', s2, s3 FROM s
        |  UNION ALL SELECT 4, 'tokens_min_40', s3, s4 FROM s
        |  UNION ALL SELECT 5, 'repetition_max_15pct', s4, s5 FROM s)
        |SELECT CAST(stage AS BIGINT) AS stage, rule,
        |  CAST(n_in AS BIGINT) AS n_in,
        |  CAST(n_in - n_out AS BIGINT) AS n_dropped,
        |  CAST(n_out AS BIGINT) AS n_out,
        |  round(CAST(n_in - n_out AS DOUBLE) / greatest(n_in, 1), 6)
        |    AS drop_rate
        |FROM f ORDER BY stage""".stripMargin),

    // q142: exact heavy hitters from first principles; the engine's
    // sketch estimates must EQUAL these (maxItemsTracked >> distinct
    // tokens => no eviction) and in_band is pinned to literal 1 —
    // the q20/q96 sketch-twin pattern. Top-5 counts are strictly
    // distinct at both gate SFs, so rk is tie-free.
    QueryDef("q142_approx_topk", TextAnalysis.approxTopTokens(_, _),
      """WITH t AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS exact_cnt FROM t GROUP BY token),
        |r AS (SELECT token, exact_cnt, CAST(row_number() OVER
        |    (ORDER BY exact_cnt DESC, token) AS BIGINT) AS rk FROM c)
        |SELECT rk, token, exact_cnt AS est_cnt, exact_cnt,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM r WHERE rk <= 5 ORDER BY rk""".stripMargin),

    // q156: adjacency from FIRST PRINCIPLES — explicit 1-based list
    // subscripts l[i], l[i+1] over an unnested index range (the
    // q143 idiom) vs the engine's zip-with-successor fold —
    // independent encodings of "immediately followed by".
    QueryDef("q156_phrase_search", TextAnalysis.phraseSearch _,
      """WITH d AS (SELECT doc_id,
        |    regexp_extract_all(text, '\S+') AS l FROM documents),
        |x AS (SELECT doc_id, l,
        |    unnest(range(1, greatest(len(l), 1))) AS i FROM d),
        |h AS (SELECT doc_id, i,
        |    CASE WHEN l[i] = 'table' AND l[i+1] = 'value'
        |      THEN 1 ELSE 0 END AS ha,
        |    CASE WHEN l[i] = 'fast' AND l[i+1] = 'sort'
        |      THEN 1 ELSE 0 END AS hb
        |  FROM x),
        |a AS (SELECT doc_id, CAST(sum(ha) AS BIGINT) AS n_a,
        |    CAST(sum(hb) AS BIGINT) AS n_b,
        |    CAST(coalesce(min(CASE WHEN ha = 1 THEN i END), 0) AS BIGINT)
        |      AS first_a
        |  FROM h GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.l) AS BIGINT) AS n_toks,
        |  a.n_a, a.n_b, a.first_a
        |FROM a JOIN d ON d.doc_id = a.doc_id
        |WHERE a.n_a + a.n_b > 0 ORDER BY d.doc_id""".stripMargin),
    QueryDef("q42_clean_corpus", TextAnalysis.cleanCorpus _,
      {
      s"""WITH d AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, lang, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id, lang, text,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM e),
         |f AS (SELECT doc_id, lang, quality,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |c AS (SELECT f.lang, f.quality FROM f JOIN k USING (fp, doc_id))
         |SELECT lang, count(*) AS n_docs, round(avg(quality), 4) AS avg_quality
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin
    }),
    QueryDef("q44_redact", TextAnalysis.redact _,
      {
      // Interpolate the exact Spark-side patterns (plain RE2-valid
      // regexes at runtime) so they can never drift apart.
      val email = TextAnalysis.EmailPattern
      val num = TextAnalysis.LongNumberPattern
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$num')) AS BIGINT) AS n_longnums,
         |  md5(regexp_replace(
         |    regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |    '$num', '<NUM>', 'g')) AS redacted_fp
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    QueryDef("q45_pack_bins", TextAnalysis.packBins(_, _),
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT lang, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d)
        |SELECT lang, CAST((run - n_tok) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin),
    QueryDef("q45b_pack_shards", TextAnalysis.packBinsSharded(_, _),
      """WITH d AS (SELECT doc_id // 64 AS shard, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d)
        |SELECT shard, CAST((run - n_tok) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin),

    // Bucket 0..255 from the first two md5 hex digits — DuckDB has no
    // hex→int cast, so the oracle decodes the digits via strpos.
    QueryDef("q47_hash_split", TextAnalysis.hashSplit _,
      """WITH b AS (SELECT doc_id, text,
        |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 204 THEN 'train'
        |            WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS sum_tokens
        |FROM b GROUP BY split ORDER BY split""".stripMargin),

    // q52 plus the mixture-sampling stage between near-dup rep keep
    // and split assignment — the complete curation pipeline; lang is
    // carried through so the per-language rate CASE can apply.
    QueryDef("q58_curated_pipeline", TextAnalysis.curatedPipeline(_, _),
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |reps AS (SELECT n AS doc_id, least(n, min(m)) AS rep
         |  FROM reach GROUP BY n),
         |dq AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |eq AS (SELECT doc_id, lang, text, n_tok, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM dq),
         |q AS (SELECT doc_id, lang, text, CAST(n_tok AS BIGINT) AS n_tok,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM eq),
         |f AS (SELECT doc_id, lang, n_tok,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |ded AS (SELECT f.doc_id, f.lang, f.n_tok FROM f JOIN k USING (fp, doc_id)),
         |kept AS (SELECT ded.doc_id, ded.lang, ded.n_tok FROM ded
         |  LEFT JOIN reps USING (doc_id)
         |  WHERE reps.rep IS NULL OR reps.rep = ded.doc_id),
         |mx AS (SELECT doc_id, n_tok FROM kept
         |  WHERE ${hexBucketSql("'mix:' || CAST(doc_id AS VARCHAR)")}
         |    < ($mixtureRateCase)),
         |sb AS (SELECT doc_id, n_tok,
         |  CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id // 64 AS shard
         |  FROM (SELECT doc_id, n_tok,
         |    ${hexBucketSql("CAST(doc_id AS VARCHAR)")} AS bkt
         |    FROM mx)),
         |c AS (SELECT split, shard, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM sb)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  count(DISTINCT shard * 10000 + (run - n_tok) // 2048) AS n_bins
         |FROM c GROUP BY split ORDER BY split""".stripMargin),

    // Vocabulary: the rank runs over per-(lang, token) counts; ties
    // broken lexically on the token on both sides.
    QueryDef("q55_vocab_topk", TextAnalysis.vocabTopK(_, _),
      """WITH t AS (SELECT lang, unnest(regexp_extract_all(text, '\S+')) AS tok
        |           FROM documents),
        |c AS (SELECT lang, tok, count(*) AS n FROM t GROUP BY lang, tok),
        |r AS (SELECT lang, tok, n,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n DESC, tok) AS BIGINT) AS rk FROM c)
        |SELECT lang, tok, n, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin),

    // The packing manifest: same shard/bin assignment as q45b, plus
    // the numerically-ordered doc-id list per bin.
    QueryDef("q56_pack_manifest", TextAnalysis.packManifest(_, _),
      """WITH d AS (SELECT doc_id // 64 AS shard, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d)
        |SELECT shard, CAST((run - n_tok) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_list
        |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin),
    QueryDef("q49_repetition", TextAnalysis.repetitionRatio _,
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS l FROM documents),
        |g AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS gram
        |  FROM (SELECT doc_id, l, unnest(range(1, greatest(len(l), 1))) AS i FROM d)),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
        |m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |    CAST(max(cnt) AS BIGINT) AS max_rep FROM c GROUP BY doc_id)
        |SELECT doc_id, n_grams, max_rep,
        |  round(CAST(max_rep AS DOUBLE) / n_grams, 6) AS rep_ratio
        |FROM m ORDER BY doc_id""".stripMargin),

    // Lines are LineTokens-token segments (the corpus has no
    // newlines); a line in more than BoilerplateDocThreshold distinct
    // docs is boilerplate. The kept-text md5 hashes the actual
    // reconstruction, ordered by line position.
    QueryDef("q66_line_dedup", TextAnalysis.lineDedup _,
      {
      val n = graft.operators.TextAnalysis.LineTokens
      val k = graft.operators.TextAnalysis.BoilerplateDocThreshold
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents WHERE len(regexp_extract_all(text, '\\S+')) > 0),
         |p AS (SELECT doc_id, toks,
         |    unnest(range(1, CAST((len(toks) + $n - 1) // $n AS BIGINT) + 1)) AS pos
         |  FROM t),
         |l AS (SELECT doc_id, pos,
         |    array_to_string(toks[((pos-1)*$n+1):((pos-1)*$n+$n)], ' ') AS line
         |  FROM p),
         |lf AS (SELECT doc_id, pos, line, md5(line) AS fp FROM l),
         |c AS (SELECT fp AS bfp FROM lf GROUP BY fp
         |      HAVING count(DISTINCT doc_id) > $k),
         |f AS (SELECT lf.doc_id, lf.pos, lf.line, c.bfp IS NOT NULL AS boiler
         |      FROM lf LEFT JOIN c ON lf.fp = c.bfp)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN NOT boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  md5(coalesce(string_agg(CASE WHEN NOT boiler THEN line END,
         |    chr(10) ORDER BY pos), '')) AS kept_fp
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // Laplace-smoothed bigram log-prob, model fitted on the corpus
    // itself with the bigram table pruned to the BigramVocab most
    // frequent (count desc, then lexicographic — deterministic).
    QueryDef("q67_bigram_lm", TextAnalysis.bigramLogProb _,
      {
      val v = graft.operators.TextAnalysis.BigramVocab
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         |  FROM documents),
         |uni AS (SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
         |v AS (SELECT count(*) AS vsz FROM uni),
         |bp AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |  FROM t WHERE len(toks) >= 2),
         |big AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM bp),
         |bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
         |       ORDER BY c2 DESC, w1, w2 LIMIT $v),
         |lnin AS MATERIALIZED (SELECT p.w1, p.w2,
         |    CAST(coalesce(bc.c2, 0) + 1 AS BIGINT) AS lnum,
         |    CAST(uni.c1 + v.vsz AS BIGINT) AS lden
         |  FROM (SELECT DISTINCT w1, w2 FROM big) p
         |  LEFT JOIN bc ON p.w1 = bc.w1 AND p.w2 = bc.w2
         |  JOIN uni ON p.w1 = uni.w1
         |  CROSS JOIN v),
         |${graft.functions.FixedLog.sqlStagedCtes("lnin", "lnum", "lden", 9, "lnq67_")._1},
         |s AS (SELECT big.doc_id, fl.ln_s AS logp_i
         |  FROM big
         |  JOIN ${graft.functions.FixedLog.sqlStagedCtes("lnin", "lnum", "lden", 9, "lnq67_")._2} fl
         |  ON big.w1 = fl.w1 AND big.w2 = fl.w2)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(sum(logp_i) / (count(*) * 1e9), 6) AS logprob
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    QueryDef("q70_array_funcs", TextAnalysis.arrayFuncs _,
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(list_filter(toks, x -> length(x) > 4)) AS BIGINT) AS n_long,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
        |  CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT) AS max_len,
        |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS vocab_fp
        |FROM t ORDER BY doc_id""".stripMargin),

    // Window i covers tokens [i*stride, min(i*stride+chunk, n)) —
    // DuckDB list slices are 1-based inclusive, hence the +1. Chunk
    // and stride constants shared with TextAnalysis by name.
    QueryDef("q72_chunk_udtf", TextAnalysis.chunkDocs _,
      s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS l
         |  FROM documents),
         |i AS (SELECT doc_id, l, unnest(range(0, len(l),
         |  ${TextAnalysis.ChunkStride})) AS s FROM d)
         |SELECT doc_id,
         |  CAST(s // ${TextAnalysis.ChunkStride} AS BIGINT) AS chunk_idx,
         |  CAST(least(s + ${TextAnalysis.ChunkSize}, len(l)) - s AS BIGINT)
         |    AS n_chunk_toks,
         |  md5(array_to_string(
         |    l[s + 1 : least(s + ${TextAnalysis.ChunkSize}, len(l))], ' '))
         |    AS chunk_fp
         |FROM i ORDER BY doc_id, chunk_idx""".stripMargin),

    // tf computed over (doc, term) pairs appearing once each; df is
    // the count of docs per term; N counts all documents. Since r17
    // the score is the exact integer tf × lnScaled(N, df, 9) through
    // the shared FixedLog staged-CTE chain (one ln per DISTINCT term,
    // joined back) — ranking and the rounded output derive from the
    // same integer in both engines (the q167 discipline).
    QueryDef("q73_tfidf", TextAnalysis.tfidfTopTerms _,
      s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS l
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(l) AS term FROM d),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY doc_id, term),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |dfr AS MATERIALIZED (SELECT term,
         |    CAST(count(*) AS BIGINT) AS df, n_docs
         |  FROM tf CROSS JOIN n GROUP BY term, n_docs),
         |${graft.functions.FixedLog.sqlStagedCtes("dfr", "n_docs", "df", 9, "lnq73_")._1},
         |s AS (SELECT doc_id, tf.term AS term, tf, df,
         |    tf * ln_s AS score_i FROM tf
         |  JOIN ${graft.functions.FixedLog.sqlStagedCtes("dfr", "n_docs", "df", 9, "lnq73_")._2} fl
         |  ON tf.term = fl.term),
         |r AS (SELECT doc_id, term, tf, df, score_i,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_i DESC, term) AS BIGINT) AS rk FROM s)
         |SELECT doc_id, rk, term, tf, df,
         |  round(score_i / 1e9, 6) AS score
         |FROM r WHERE rk <= ${TextAnalysis.TfidfTopK}
         |ORDER BY doc_id, rk""".stripMargin),

    // First-occurrence order is re-derived via min-ordinality
    // grouping (list_distinct does NOT preserve order in DuckDB) —
    // a genuinely independent formulation of array_distinct's
    // documented first-occurrence semantics.
    QueryDef("q78_token_dedup", TextAnalysis.tokenDedup _,
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
        |tok AS (SELECT doc_id, unnest(toks) AS term,
        |    generate_subscripts(toks, 1) AS ord FROM t),
        |f AS (SELECT doc_id, term, min(ord) AS first_ord FROM tok
        |  GROUP BY doc_id, term),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_uniq,
        |    md5(string_agg(term, ' ' ORDER BY first_ord)) AS dedup_fp
        |  FROM f GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks, d.n_uniq,
        |  round(1.0 - CAST(d.n_uniq AS DOUBLE) / len(t.toks), 6) AS rep_ratio,
        |  d.dedup_fp
        |FROM t JOIN d ON t.doc_id = d.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // floor(log2) via binary-string length on BOTH sides — integer-
    // exact (log(2, x) is an ln ratio in Spark and rounds wrong at
    // exact powers of two).
    QueryDef("q81_zipf_histogram", TextAnalysis.zipfHistogram _,
      """WITH tok AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |SELECT CAST(length(printf('%b', cnt)) - 1 AS BIGINT) AS bucket,
        |  count(*) AS n_terms, CAST(sum(cnt) AS BIGINT) AS n_occurrences
        |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Top-16 vocabulary by doc frequency (dfreq desc, term — total
    // order), pairs (a < b) within a doc, lift in exact integer ppm:
    // (c_ab · N · 1e6) // (c_a · c_b). Constants pinned to
    // TextAnalysis.CooccurVocab / CooccurMinSupport.
    QueryDef("q84_cooccur", TextAnalysis.cooccurLift _,
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_distinct(regexp_extract_all(text, '\S+'))) AS term
        |  FROM documents),
        |vocab AS (SELECT term, count(*) AS dfreq FROM tok GROUP BY term
        |  ORDER BY dfreq DESC, term LIMIT 16),
        |f AS (SELECT t.doc_id, t.term FROM tok t
        |  JOIN vocab v ON t.term = v.term),
        |pairs AS (SELECT a.term AS term_a, b.term AS term_b,
        |    count(*) AS c_ab
        |  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY a.term, b.term HAVING count(*) >= 5),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term_a, term_b, c_ab, va.dfreq AS c_a, vb.dfreq AS c_b,
        |  CAST((CAST(c_ab AS HUGEINT) * n_docs * 1000000)
        |    // (va.dfreq * vb.dfreq) AS BIGINT) AS lift_ppm
        |FROM pairs
        |JOIN vocab va ON term_a = va.term
        |JOIN vocab vb ON term_b = vb.term
        |CROSS JOIN n
        |ORDER BY term_a, term_b""".stripMargin),

    // Stopword list pinned to TextAnalysis.StopWords; DuckDB's
    // list_filter is an independent lambda implementation of the
    // order-preserving filter; fingerprint checks WHICH tokens
    // survived and in what order.
    QueryDef("q88_stopword_filter", TextAnalysis.stopwordFilter _,
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
        |f AS (SELECT doc_id, toks,
        |    list_filter(toks, x -> x <> 'a' AND x <> 'the') AS content
        |  FROM t)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |  CAST(len(content) AS BIGINT) AS n_content,
        |  CAST((len(toks) - len(content)) * 1000000 // len(toks) AS BIGINT)
        |    AS stop_ppm,
        |  md5(array_to_string(content, ' ')) AS content_fp
        |FROM f ORDER BY doc_id""".stripMargin),

    // Interpolated quantile boundaries (quantile_cont == Spark
    // percentile, the q41 parity), value-based bucket = count of
    // bounds strictly below — a pure function of n_toks, so ties
    // share a bucket deterministically.
    QueryDef("q95_token_deciles", TextAnalysis.tokenDeciles _,
      """WITH b AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |q AS (SELECT quantile_cont(n_toks,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
        |  FROM b)
        |SELECT CAST(len(list_filter(bounds,
        |    x -> CAST(n_toks AS DOUBLE) > x)) AS BIGINT) AS bucket,
        |  count(*) AS n_docs, min(n_toks) AS min_toks,
        |  max(n_toks) AS max_toks, CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |FROM b CROSS JOIN q
        |GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Posting prefix = the sorted doc-id list sliced to the cap
    // (PostingCap = 16, pinned to TextAnalysis.PostingCap); df is the
    // full distinct-doc count.
    QueryDef("q99_inverted_index", TextAnalysis.invertedIndex _,
      """WITH tok AS (SELECT DISTINCT doc_id,
        |    unnest(list_distinct(regexp_extract_all(text, '\S+'))) AS term
        |  FROM documents),
        |g AS (SELECT term, count(*) AS dfreq,
        |    list_sort(list(doc_id)) AS all_docs
        |  FROM tok GROUP BY term)
        |SELECT term, dfreq,
        |  CAST(least(dfreq, 16) AS BIGINT) AS n_posting,
        |  array_to_string(all_docs[1:16], ',') AS posting_csv
        |FROM g ORDER BY term""".stripMargin),

    // q130: DuckDB replays the retrieval from its own list/regexp
    // primitives — list_filter term counters, conditional df sums,
    // and the SAME fixed-order score expression (an unordered SUM of
    // double contributions would be association-order-nondeterministic
    // for equal-profile docs); selection by raw score, rounded only
    // in the output.
    // q130 (r18): the three idf logs are FixedLog staged chains over
    // the single-row normalizer — raw_i is an exact integer on both
    // engines; no libm anywhere in the gate.
    QueryDef("q130_ranked_search", TextAnalysis.rankedSearch(_, _),
      {
      val Seq(t1, t2, t3) = TextAnalysis.SearchTerms
      val fl = graft.functions.FixedLog
      val (ca, fa) = fl.sqlStagedCtes("s", "n_docs", "df_a", 9, "lnq130a_")
      val (cb, fb) = fl.sqlStagedCtes("sa", "n_docs", "df_b", 9, "lnq130b_")
      val (cc, fc) = fl.sqlStagedCtes("sb", "n_docs", "df_c", 9, "lnq130c_")
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t1')) AS BIGINT) AS tf_a,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t2')) AS BIGINT) AS tf_b,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |      x -> x = '$t3')) AS BIGINT) AS tf_c
         |  FROM documents),
         |s AS (SELECT
         |    CAST(sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_a,
         |    CAST(sum(CASE WHEN tf_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_b,
         |    CAST(sum(CASE WHEN tf_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_c,
         |    count(*) AS n_docs FROM c),
         |$ca,
         |sa AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_a FROM $fa),
         |$cb,
         |sb AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_b FROM $fb),
         |$cc,
         |sc AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_c FROM $fc),
         |r AS (SELECT doc_id, tf_a, tf_b, tf_c,
         |    tf_a * ln_a + tf_b * ln_b + tf_c * ln_c AS raw_i
         |  FROM c, sc WHERE tf_a + tf_b + tf_c > 0)
         |SELECT doc_id, tf_a, tf_b, tf_c, round(raw_i / 1e9, 6) AS score
         |FROM r ORDER BY raw_i DESC, doc_id LIMIT 10""".stripMargin
    }),

    // q171: DuckDB replays BM25 from its own list primitives — the
    // q130 counters plus non-empty-token doc length, the same
    // fixed-order three-term score with identical decimal literals
    // (k1 = 1.2, b = 0.75, k1+1 = 2.2, 1−b = 0.25 — both parsers bind
    // them to the same doubles), selection by raw score. r18: the idf
    // is the FixedLog integer ln of (2N+2)/(2df+1) — the only libm
    // call is gone; the remaining float factor is identical IEEE
    // arithmetic on identical integers.
    QueryDef("q171_bm25_search", TextAnalysis.bm25Search(_, _),
      {
      val Seq(t1, t2, t3) = TextAnalysis.SearchTerms
      val fl = graft.functions.FixedLog
      val (ca, fa) = fl.sqlStagedCtes("s", "(2*n_docs + 2)", "(2*df_a + 1)",
        9, "lnq171a_")
      val (cb, fb) = fl.sqlStagedCtes("sa", "(2*n_docs + 2)", "(2*df_b + 1)",
        9, "lnq171b_")
      val (cc, fc) = fl.sqlStagedCtes("sb", "(2*n_docs + 2)", "(2*df_c + 1)",
        9, "lnq171c_")
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
         |s AS (SELECT
         |    CAST(sum(CASE WHEN tf_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_a,
         |    CAST(sum(CASE WHEN tf_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_b,
         |    CAST(sum(CASE WHEN tf_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS df_c,
         |    count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl FROM c),
         |$ca,
         |sa AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_a FROM $fa),
         |$cb,
         |sb AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_b FROM $fb),
         |$cc,
         |sc AS (SELECT * EXCLUDE (ln_s), ln_s AS ln_c FROM $fc),
         |r AS (SELECT doc_id, tf_a, tf_b, tf_c, dl,
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
         |  FROM c, sc WHERE tf_a + tf_b + tf_c > 0)
         |SELECT doc_id, tf_a, tf_b, tf_c, dl, round(raw, 6) AS score
         |FROM r ORDER BY raw DESC, doc_id LIMIT 10""".stripMargin
    }),

    // q202: the q45b bin assignment re-derived, then the waste
    // report's integer arithmetic replayed; both overflow terms stay
    // non-negative so `//` and Spark's `div` agree.
    QueryDef("q202_packing_efficiency", TextAnalysis.packingEfficiency(_, _),
      """WITH d AS (SELECT doc_id // 64 AS shard, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM d),
        |b AS (SELECT shard, (run - n_tok) // 2048 AS bin,
        |    count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |  FROM c GROUP BY shard, bin),
        |t AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_bins,
        |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |    CAST(sum(bin_tokens) AS BIGINT) AS sum_tokens,
        |    CAST(min(bin_tokens) AS BIGINT) AS min_bin_fill,
        |    CAST(max(bin_tokens) AS BIGINT) AS max_bin_fill
        |  FROM b GROUP BY shard)
        |SELECT shard, n_bins, n_docs, sum_tokens,
        |  n_bins * 2048 AS capacity,
        |  greatest(n_bins * 2048 - sum_tokens, 0) * 1000000
        |    // (n_bins * 2048) AS waste_ppm,
        |  greatest(sum_tokens - n_bins * 2048, 0) AS overflow_tokens,
        |  min_bin_fill, max_bin_fill
        |FROM t ORDER BY shard""".stripMargin),

    // q208: byte counts via octet_length(encode()) (the q32 idiom);
    // percentile_disc agrees with Spark's at every probed fraction
    // (both follow the SQL-standard smallest-cum≥p contract — probed
    // on n=10 and n=7 ladders before gating).
    QueryDef("q208_fertility", TextAnalysis.tokenizerFertility _,
      """WITH d AS (SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
        |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_tok)
        |    AS BIGINT) AS tok_q1,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok)
        |    AS BIGINT) AS tok_med,
        |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_tok)
        |    AS BIGINT) AS tok_q3,
        |  CASE WHEN sum(n_tok) > 0 THEN CAST(sum(n_chars) AS BIGINT)
        |    * 1000 // CAST(sum(n_tok) AS BIGINT)
        |  END AS chars_per_tok_milli,
        |  CASE WHEN sum(n_tok) > 0 THEN CAST(sum(n_bytes) AS BIGINT)
        |    * 1000 // CAST(sum(n_tok) AS BIGINT)
        |  END AS bytes_per_tok_milli
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),

    // q210: q23's quality CTE (cross-engine-pinned there) feeding
    // tie-broken row_number ranks; Σd² exact, one final division.
    QueryDef("q210_spearman", TextAnalysis.spearmanQualityLength _,
      s"""WITH d AS (SELECT doc_id, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |  FROM e),
         |r AS (SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT) AS rq,
         |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rl
         |  FROM q),
         |s AS (SELECT count(*) AS n_docs,
         |  CAST(sum((rq - rl) * (rq - rl)) AS BIGINT) AS sum_d2 FROM r)
         |SELECT n_docs, sum_d2,
         |  round(1.0 - 6.0 * sum_d2 / (n_docs * (n_docs * n_docs - 1)), 6)
         |    AS rho
         |FROM s""".stripMargin),

    // q216: the same synthesized raw URLs (shared SQL text),
    // canonicalized by pure regex vs the engine's parse_url — two
    // independent decodings of the URL grammar.
    QueryDef("q216_url_canon", TextAnalysis.urlCanon _,
      s"""WITH d AS (SELECT doc_id, ${TextAnalysis.UrlSynthesisSql} AS url
         |  FROM documents),
         |p AS (SELECT doc_id, url,
         |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         |  regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS auth,
         |  regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
         |  regexp_extract(url, '\\?([^#]*)', 1) AS query0 FROM d),
         |q AS (SELECT doc_id, scheme,
         |  lower(regexp_extract(auth, '^([^:]+)', 1)) AS host,
         |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port,
         |  regexp_replace(path0, '/$$', '') AS path,
         |  array_to_string(list_filter(string_split(query0, '&'),
         |    el -> NOT starts_with(el, 'utm_')), '&') AS qs FROM p),
         |c AS (SELECT doc_id,
         |  scheme || '://' || host ||
         |  CASE WHEN port <> '' AND NOT (scheme = 'https' AND port = '443')
         |        AND NOT (scheme = 'http' AND port = '80')
         |    THEN ':' || port ELSE '' END ||
         |  path ||
         |  CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical
         |  FROM q)
         |SELECT canonical, count(*) AS n_docs, min(doc_id) AS min_doc
         |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin),

    // q225: both packing costs replayed in exact integers over the
    // same deterministic doc_id batch order.
    QueryDef("q225_bucketed_batching", TextAnalysis.bucketedBatching(_, _),
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT *, (row_number() OVER (ORDER BY doc_id) - 1) // 32
        |    AS batch FROM d),
        |nb AS (SELECT batch, count(*) AS bn, max(n_tok) AS bmax,
        |    CAST(sum(n_tok) AS BIGINT) AS bsum FROM r GROUP BY batch),
        |nv AS (SELECT CAST(sum(bn * bmax - bsum) AS BIGINT)
        |    AS naive_waste FROM nb),
        |bk AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |    CAST(sum(((n_tok + 63) // 64) * 64 - n_tok) AS BIGINT)
        |      AS bucketed_waste,
        |    CAST(count(DISTINCT ((n_tok + 63) // 64) * 64) AS BIGINT)
        |      AS n_buckets FROM d)
        |SELECT n_docs, total_tokens, n_buckets, naive_waste,
        |  bucketed_waste,
        |  CASE WHEN naive_waste > 0 THEN
        |    greatest(naive_waste - bucketed_waste, 0) * 1000 // naive_waste
        |  END AS saving_permille
        |FROM bk CROSS JOIN nv""".stripMargin),

    // q227: the same weighted-percentile crossing re-derived; exact
    // integers make the pick deterministic under ties.
    QueryDef("q227_weighted_median", TextAnalysis.weightedMedianLength _,
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum FROM d),
        |t AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS total_tok,
        |    count(*) AS n_docs FROM d GROUP BY lang),
        |x AS (SELECT c.lang, c.n_chars, c.doc_id, t.total_tok, t.n_docs,
        |    row_number() OVER (PARTITION BY c.lang
        |      ORDER BY c.n_chars, c.doc_id) AS rn
        |  FROM c JOIN t ON c.lang = t.lang WHERE c.cum * 2 >= t.total_tok)
        |SELECT lang, n_docs, total_tok,
        |  n_chars AS weighted_median_chars, doc_id AS median_doc
        |FROM x WHERE rn = 1 ORDER BY lang""".stripMargin),

    // q233: DuckDB re-derives the pg_trgm construction with its own
    // list primitives (string_split_regex / list_transform / range /
    // list_intersect vs Spark's split / transform / sequence /
    // array_intersect) — independent encodings of the same padding
    // and trigram rules.
    QueryDef("q233_trgm_fuzzy", TextAnalysis.trgmFuzzyNations _,
      """WITH n AS (SELECT n_name AS name,
        |  list_distinct(flatten(list_transform(
        |    list_filter(string_split_regex(lower(n_name), '[^a-z0-9]+'),
        |      w -> w <> ''),
        |    w -> list_transform(range(1, length('  ' || w || ' ') - 1),
        |           i -> substring('  ' || w || ' ',
        |             CAST(i AS INTEGER), 3))))) AS tg
        |  FROM nation),
        |p AS (SELECT a.name AS name_a, b.name AS name_b,
        |    a.tg AS ta, b.tg AS tb
        |  FROM n a JOIN n b ON a.name < b.name),
        |c AS (SELECT name_a, name_b,
        |    CAST(len(ta) AS BIGINT) AS n_a, CAST(len(tb) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(ta, tb)) AS BIGINT) AS common
        |  FROM p)
        |SELECT name_a, name_b, n_a, n_b, common,
        |  common * 1000 // (n_a + n_b - common) AS sim_permille
        |FROM c WHERE common > 0
        |ORDER BY sim_permille DESC, name_a, name_b""".stripMargin),

    // q234: DuckDB replays the whole linkage — same deterministic
    // deletion, same trigram derivation (its own list primitives),
    // same df cap, its own levenshtein, best match by (dist, cid).
    QueryDef("q234_fuzzy_join", TextAnalysis.fuzzyJoinCustomers _,
      s"""WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS id,
         |    c_name AS name FROM customer),
         |dirty AS (SELECT id AS did,
         |    substring(name, 1,
         |      CAST(id % greatest(length(name) - 2, 1) + 1 AS INTEGER)) ||
         |    substring(name,
         |      CAST(id % greatest(length(name) - 2, 1) + 3 AS INTEGER), 1000)
         |      AS dname
         |  FROM cust),
         |tgc AS (SELECT id AS cid, name AS cname,
         |    unnest(list_distinct(flatten(list_transform(
         |      list_filter(string_split_regex(lower(name), '[^a-z0-9]+'),
         |        w -> w <> ''),
         |      w -> list_transform(range(1, length('  ' || w || ' ') - 1),
         |             i -> substring('  ' || w || ' ',
         |               CAST(i AS INTEGER), 3)))))) AS tg
         |  FROM cust),
         |keep AS (SELECT tg FROM tgc GROUP BY tg
         |  HAVING count(*) <= ${TextAnalysis.TrgmDfCap}),
         |idx AS (SELECT tgc.* FROM tgc JOIN keep USING (tg)),
         |tgd AS (SELECT did, dname,
         |    unnest(list_distinct(flatten(list_transform(
         |      list_filter(string_split_regex(lower(dname), '[^a-z0-9]+'),
         |        w -> w <> ''),
         |      w -> list_transform(range(1, length('  ' || w || ' ') - 1),
         |             i -> substring('  ' || w || ' ',
         |               CAST(i AS INTEGER), 3)))))) AS tg
         |  FROM dirty),
         |cand AS (SELECT DISTINCT did, dname, cid, cname
         |  FROM tgd JOIN idx USING (tg)),
         |v AS (SELECT did, dname, cid, cname,
         |    CAST(levenshtein(dname, cname) AS BIGINT) AS dist
         |  FROM cand WHERE levenshtein(dname, cname) <= 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY did
         |    ORDER BY dist, cid) AS rk FROM v),
         |best AS (SELECT did, cid AS matched_id, cname AS matched_name,
         |    dist FROM r WHERE rk = 1)
         |SELECT d.did, d.dname, b.matched_id, b.matched_name, b.dist
         |FROM dirty d LEFT JOIN best b USING (did)
         |ORDER BY d.did""".stripMargin),

    // q243: DuckDB replays the FastSS linkage — same deterministic
    // deletion fixture, its OWN deletion-neighborhood construction
    // (range/list_transform/flatten vs Spark's sequence/transform),
    // its own levenshtein, same best-match and LEFT-join contract.
    QueryDef("q243_symspell_fuzzy", TextAnalysis.symspellFuzzyJoin(_, _),
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |    c_name AS name FROM customer),
        |dirty AS (SELECT id AS did,
        |    substring(name, 1,
        |      CAST(id % greatest(length(name) - 2, 1) + 1 AS INTEGER)) ||
        |    substring(name,
        |      CAST(id % greatest(length(name) - 2, 1) + 3 AS INTEGER), 1000)
        |      AS dname
        |  FROM cust),
        |vc AS (SELECT id AS cid, unnest(list_distinct(
        |    [name]
        |    || list_transform(range(1, length(name) + 1),
        |         i -> substring(name, 1, CAST(i - 1 AS INTEGER)) ||
        |              substring(name, CAST(i + 1 AS INTEGER), length(name)))
        |    || flatten(list_transform(range(1, length(name)),
        |         i -> list_transform(range(i + 1, length(name) + 1),
        |           j -> substring(name, 1, CAST(i - 1 AS INTEGER)) ||
        |                substring(name, CAST(i + 1 AS INTEGER),
        |                  CAST(j - i - 1 AS INTEGER)) ||
        |                substring(name, CAST(j + 1 AS INTEGER),
        |                  length(name))))))) AS v
        |  FROM cust),
        |vd AS (SELECT did, unnest(list_distinct(
        |    [dname]
        |    || list_transform(range(1, length(dname) + 1),
        |         i -> substring(dname, 1, CAST(i - 1 AS INTEGER)) ||
        |              substring(dname, CAST(i + 1 AS INTEGER), length(dname)))
        |    || flatten(list_transform(range(1, length(dname)),
        |         i -> list_transform(range(i + 1, length(dname) + 1),
        |           j -> substring(dname, 1, CAST(i - 1 AS INTEGER)) ||
        |                substring(dname, CAST(i + 1 AS INTEGER),
        |                  CAST(j - i - 1 AS INTEGER)) ||
        |                substring(dname, CAST(j + 1 AS INTEGER),
        |                  length(dname))))))) AS v
        |  FROM dirty),
        |cand AS (SELECT DISTINCT did, cid FROM vd JOIN vc USING (v)),
        |named AS (SELECT c.did, d.dname, c.cid, cu.name AS cname
        |  FROM cand c JOIN dirty d USING (did)
        |  JOIN cust cu ON c.cid = cu.id),
        |v2 AS (SELECT did, dname, cid, cname,
        |    CAST(levenshtein(dname, cname) AS BIGINT) AS dist
        |  FROM named WHERE levenshtein(dname, cname) <= 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY did
        |    ORDER BY dist, cid) AS rk FROM v2),
        |best AS (SELECT did, cid AS matched_id, cname AS matched_name,
        |    dist FROM r WHERE rk = 1)
        |SELECT d.did, d.dname, b.matched_id, b.matched_name, b.dist
        |FROM dirty d LEFT JOIN best b USING (did)
        |ORDER BY d.did""".stripMargin),

    // q240: DSIR importance weights. The oracle re-derives the
    // hashed-bigram feature map from FIRST PRINCIPLES — explicit
    // (doc, position) adjacency join (the q114 ordinality idiom)
    // where the engine uses a per-row higher-order transform, and an
    // explode+join re-aggregation where the engine uses a broadcast
    // map-literal lookup. The md5 hex prefix is the q47 portable
    // hash; the bucket log-ratio is fixed to micro-unit BIGINTs
    // before the per-doc sum, so the compared numbers are integer
    // sums (the only float step is the ≤1024 bucket-level ln's).
    QueryDef("q240_dsir_weights", TextAnalysis.dsirWeights(_, _), dsirWeightsOracle),

    // q241: DSIR Gumbel top-k resampling over q240's weights. The
    // seeded noise is re-derived independently: 6-hex md5 prefix →
    // u = (2h+1)/2^25 → the two FixedLog integer ln evaluations —
    // both engines rank by the same BIGINT key by construction.
    QueryDef("q241_dsir_resample", TextAnalysis.dsirResample(_, _),
      s"""WITH t AS (SELECT doc_id, lang,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |tok AS (SELECT doc_id, lang, unnest(toks) AS tok,
         |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS ord FROM t),
         |bg AS (SELECT a.doc_id, a.lang, md5(a.tok || ' ' || b.tok) AS h
         |  FROM tok a JOIN tok b
         |    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
         |bk AS (SELECT doc_id, lang,
         |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 256
         |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16
         |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1))
         |    % 1024 AS b
         |  FROM bg),
         |dist AS (SELECT b, count(*) FILTER (WHERE lang = 'en') AS cp,
         |    count(*) AS cq FROM bk GROUP BY b),
         |tot AS (SELECT sum(cp) AS np, sum(cq) AS nq FROM dist),
         |${dsirLwCtes("", "dist", "tot")},
         |doc AS (SELECT bk.doc_id, CAST(sum(w.lw) AS BIGINT) AS w_micro
         |  FROM bk JOIN w USING (b) GROUP BY bk.doc_id),
         |gum AS (SELECT doc_id, w_micro,
         |    md5('dsir-seed-7:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM doc),
         |${gumbelKeyCtes("doc_id")}
         |SELECT doc_id, w_micro, key_micro FROM keyed
         |ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin),

    // q247: the DSIR-curated pipeline — q58's CTE chain with the
    // score + Gumbel-top-k resampling stage spliced between near-dup
    // rep keep and mixture. The DSIR fit runs over the FULL raw
    // corpus (the paper's raw distribution; d-prefixed CTEs — the
    // q241 derivation verbatim), kept survivors inner-join their
    // scores (zero-bigram docs leave the pool in both engines), and
    // the per-split report adds a docid_sum identity so the gate
    // pins exactly which documents survived end-to-end.
    QueryDef("q247_dsir_pipeline", TextAnalysis.dsirCuratedPipeline(_, _),
      s"""WITH RECURSIVE $minhashCtes,
         |p AS (SELECT a, b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (SELECT a AS n, b AS m FROM edges
         |  UNION SELECT r.n, e.b AS m FROM reach r JOIN edges e ON r.m = e.a),
         |reps AS (SELECT n AS doc_id, least(n, min(m)) AS rep
         |  FROM reach GROUP BY n),
         |dq AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |eq AS (SELECT doc_id, lang, text, n_tok, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM dq),
         |q AS (SELECT doc_id, lang, text, CAST(n_tok AS BIGINT) AS n_tok,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tok, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) AS quality
         |  FROM eq),
         |f AS (SELECT doc_id, lang, n_tok,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         |  FROM q WHERE quality > 0.4),
         |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp),
         |ded AS (SELECT f.doc_id, f.lang, f.n_tok FROM f JOIN k USING (fp, doc_id)),
         |kept AS (SELECT ded.doc_id, ded.lang, ded.n_tok FROM ded
         |  LEFT JOIN reps USING (doc_id)
         |  WHERE reps.rep IS NULL OR reps.rep = ded.doc_id),
         |dt AS (SELECT doc_id, lang,
         |    regexp_extract_all(text, '\\S+') AS toks FROM documents),
         |dtok AS (SELECT doc_id, lang, unnest(toks) AS tok,
         |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS ord FROM dt),
         |dbg AS (SELECT a.doc_id, a.lang, md5(a.tok || ' ' || b.tok) AS h
         |  FROM dtok a JOIN dtok b
         |    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
         |dbk AS (SELECT doc_id, lang,
         |    ((strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 256
         |     + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 16
         |     + (strpos('0123456789abcdef', substring(h, 3, 1)) - 1))
         |    % 1024 AS b
         |  FROM dbg),
         |ddist AS (SELECT b, count(*) FILTER (WHERE lang = 'en') AS cp,
         |    count(*) AS cq FROM dbk GROUP BY b),
         |dtot AS (SELECT sum(cp) AS np, sum(cq) AS nq FROM ddist),
         |${dsirLwCtes("d", "ddist", "dtot")},
         |ddoc AS (SELECT dbk.doc_id, CAST(sum(dw.lw) AS BIGINT) AS w_micro
         |  FROM dbk JOIN dw USING (b) GROUP BY dbk.doc_id),
         |gum AS (SELECT kept.doc_id, kept.lang, kept.n_tok, ddoc.w_micro,
         |    md5('dsir-seed-7:' || CAST(kept.doc_id AS VARCHAR)) AS h
         |  FROM kept JOIN ddoc USING (doc_id)),
         |${gumbelKeyCtes("doc_id, lang, n_tok")},
         |sel AS (SELECT doc_id, lang, n_tok, key_micro FROM keyed
         |  ORDER BY key_micro DESC, doc_id
         |  LIMIT ${graft.operators.TextAnalysis.DsirPipelineK}),
         |mx AS (SELECT doc_id, n_tok FROM sel
         |  WHERE ${hexBucketSql("'mix:' || CAST(doc_id AS VARCHAR)")}
         |    < ($mixtureRateCase)),
         |sb AS (SELECT doc_id, n_tok,
         |  CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id // 64 AS shard
         |  FROM (SELECT doc_id, n_tok,
         |    ${hexBucketSql("CAST(doc_id AS VARCHAR)")} AS bkt
         |    FROM mx)),
         |c AS (SELECT split, shard, doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM sb)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
         |  count(DISTINCT shard * 10000 + (run - n_tok) // 2048) AS n_bins,
         |  CAST(sum(doc_id) AS BIGINT) AS docid_sum
         |FROM c GROUP BY split ORDER BY split""".stripMargin),

    // q244: DuckDB replays the whole BPE training loop as
    // [[TextAnalysis.BpeMerges]] UNROLLED stages (the q235
    // block-generation idiom) — pair counts from 1-based list
    // subscripts over an unnested index range (vs the engine's
    // higher-order shifted-zip), the same (count, pair) argmax, the
    // same replace()-as-greedy-merge (both engines' replace is
    // leftmost-non-overlapping — exactly BPE's merge order). The
    // per-round CTEs are MATERIALIZED: DuckDB inlines CTEs by
    // default and each round references its argmax three times, so
    // the plain form expands 3^rounds.
    QueryDef("q244_bpe_train", TextAnalysis.bpeTrain(_, _), bpeTrainOracle),

    // q253: the r17 LOCAL dictionary trainer must select the exact
    // same rules as DuckDB's from-scratch unrolled training — the
    // SAME oracle text as q244, so fast-path ≡ loop ≡ DuckDB is one
    // three-way identity (the trainer leg of the production-BPE
    // evidence chain; q254 gates the apply leg at 1024 rules).
    QueryDef("q253_bpe_train_fast", TextAnalysis.bpeTrainFast(_, _), bpeTrainOracle),

    // q254: production merge count. DuckDB re-applies the engine's
    // 1024-rule sequence-level table (embedded as VALUES — the
    // trained model is the INPUT here, its selection logic being
    // gated by q253/q244) via a 1024-iteration recursive replace
    // chain over the distinct (lang, text) units, then re-aggregates
    // fertility. The engine side runs the flat-cost kernel — this
    // gate IS kernel ≡ replace-chain at production merge count.
    QueryDef("q254_bpe1k_fertility", TextAnalysis.bpeSeqFertility(_, _),
      Oracle.Sql(bpeSeqOracle), benched = true),

    // q245: the trained tokenizer APPLIED — the oracle re-derives
    // the q244 merge chain (same shared CTEs), then applies each
    // argmax merge to a LANG-AWARE copy of the vocabulary and
    // re-aggregates the fertility report with exact integer
    // permilles. Application order is the merge RANK order — both
    // engines replay it as the same replace() chain.
    QueryDef("q245_bpe_apply", TextAnalysis.bpeApply(_, _),
      {
      val applyChain = (1 to TextAnalysis.BpeMerges).map { k =>
        val p = k - 1
        s"""wl$k AS MATERIALIZED (SELECT lang, cnt, chars, replace(sym,
           |    '·' || (SELECT a FROM m$k) || '··' ||
           |      (SELECT b FROM m$k) || '·',
           |    '·' || (SELECT a FROM m$k) ||
           |      (SELECT b FROM m$k) || '·') AS sym
           |  FROM wl$p)""".stripMargin
      }.mkString(",\n")
      val R = TextAnalysis.BpeMerges
      s"""WITH $bpeSelectionCtes,
         |wl0 AS MATERIALIZED (SELECT lang, count(*) AS cnt,
         |    length(w) AS chars,
         |    '·' || array_to_string(
         |      list_transform(range(1, length(w) + 1),
         |        i -> substring(w, CAST(i AS INTEGER), 1)), '··') || '·'
         |      AS sym
         |  FROM tok GROUP BY lang, w),
         |$applyChain,
         |fin AS (SELECT lang, cnt, chars,
         |    len(string_split(substring(sym, 2, length(sym) - 2),
         |      '··')) AS n_tok
         |  FROM wl$R)
         |SELECT lang,
         |  CAST(count(*) AS BIGINT) AS n_word_types,
         |  CAST(sum(cnt) AS BIGINT) AS n_word_occurrences,
         |  CAST(sum(chars * cnt) AS BIGINT) AS sum_chars,
         |  CAST(sum(n_tok * cnt) AS BIGINT) AS sum_subwords,
         |  CAST(sum(n_tok * cnt) * 1000 // sum(cnt) AS BIGINT)
         |    AS subwords_per_word_permille,
         |  CAST(sum(chars * cnt) * 1000 // sum(n_tok * cnt) AS BIGINT)
         |    AS chars_per_subword_permille
         |FROM fin GROUP BY lang ORDER BY lang""".stripMargin
    }),

    // q249: incremental document-frequency maintenance. Like q248,
    // the oracle is the FULL recompute — snapshot B rebuilt from the
    // fixture arithmetic, per-term distinct-doc counts from scratch —
    // so hash-match proves the engine's signed-delta merge equals
    // the ground truth.
    QueryDef("q249_df_ivm", TextAnalysis.dfMaintenance _,
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |surv AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, text
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |b AS (SELECT * FROM surv UNION ALL SELECT * FROM ins),
        |t AS (SELECT doc_id,
        |    unnest(list_distinct(regexp_extract_all(text, '\S+'))) AS token
        |  FROM b)
        |SELECT token, CAST(count(*) AS BIGINT) AS df
        |FROM t GROUP BY token ORDER BY token""".stripMargin),

    // q256: DuckDB re-derives the deterministic PII fixture (the
    // q246 modular-fixture philosophy — doc_id-derived email/phone/
    // IPv4 appended to 2/3 of documents), then runs the IDENTICAL
    // pattern text through ITS regex engine (RE2) — cross-engine
    // agreement on the match semantics is part of the gate. The
    // redacted_fp bit_xor pins the rewrite itself: a single
    // mis-redacted character anywhere in the corpus flips the hash.
    QueryDef("q256_pii_scrub", TextAnalysis.piiScrub(_, _),
      s"""WITH aug AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 3 = 0 THEN text ELSE
         |      text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.org or +1-555-'
         |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
         |    END AS pii_text
         |  FROM documents),
         |scrub AS (
         |  SELECT source,
         |    len(regexp_extract_all(pii_text,
         |      '${TextAnalysis.PiiEmailRe}')) AS e,
         |    len(regexp_extract_all(pii_text,
         |      '${TextAnalysis.PiiPhoneRe}')) AS p,
         |    len(regexp_extract_all(pii_text,
         |      '${TextAnalysis.PiiIpv4Re}')) AS i,
         |    regexp_replace(regexp_replace(regexp_replace(pii_text,
         |      '${TextAnalysis.PiiEmailRe}', '<EMAIL>', 'g'),
         |      '${TextAnalysis.PiiPhoneRe}', '<PHONE>', 'g'),
         |      '${TextAnalysis.PiiIpv4Re}', '<IP>', 'g') AS redacted
         |  FROM aug)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(e) AS BIGINT) AS n_emails,
         |  CAST(sum(p) AS BIGINT) AS n_phones,
         |  CAST(sum(i) AS BIGINT) AS n_ips,
         |  bit_xor(CAST(concat('0x', substring(md5(redacted), 1, 15))
         |    AS BIGINT)) AS redacted_fp
         |FROM scrub GROUP BY source ORDER BY source""".stripMargin)
  )
}
