package graft
package queries

import graft.operators.Curation
import graft.queries.OracleFragments._

/** Sampling and token-budget curation, built on
  * [[graft.operators.Curation]].
  */
object CurationQueries {

  /** The q54 two-phase histogram threshold as CTEs ending in `c54`
    * (per-(lang, quality-bucket) doc/token counts with running-from-
    * best and total token sums) — shared by q54 and q54b. `sc54`
    * carries the per-doc (doc_id, lang, n_toks, bucket) rows the
    * apply path joins back to.
    */
  private lazy val budgetCtes: String =
    s"""dq54 AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
       |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
       |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
       |  FROM documents),
       |eq54 AS (SELECT doc_id, lang, text, n_tokens, n_punct,
       |  (${scoreSql("en")}) AS n_stop FROM dq54),
       |sc54 AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_toks,
       |  CAST(floor(round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
       |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
       |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6) * 20)
       |    AS BIGINT) AS bucket
       |  FROM eq54),
       |h54 AS (SELECT lang, bucket, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS toks FROM sc54 GROUP BY lang, bucket),
       |c54 AS (SELECT lang, bucket, n_docs, toks,
       |  CAST(sum(toks) OVER (PARTITION BY lang ORDER BY bucket DESC) AS BIGINT) AS cum,
       |  CAST(sum(toks) OVER (PARTITION BY lang) AS BIGINT) AS total FROM h54)""".stripMargin

  val records: Seq[QueryDef] = Seq(
    // q178: DuckDB replays q23's quality formula, its own window
    // rank, and the per-source attrition report — the kept doc_id sum
    // pins WHICH documents survive the cap.
    QueryDef("q178_source_cap", Curation.sourceCap(_, _),
      s"""WITH d AS (SELECT doc_id, source, text,
         |    ' ' || text || ' ' AS padded,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         |      AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, source, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id, source,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25,
         |    6) AS quality
         |  FROM e),
         |r AS (SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rk FROM q)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rk <= ${Curation.SourceCapK} THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN rk > ${Curation.SourceCapK} THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN rk <= ${Curation.SourceCapK} THEN doc_id
         |    END) AS BIGINT) AS kept_id_sum,
         |  min(CASE WHEN rk <= ${Curation.SourceCapK} THEN quality END)
         |    AS kept_min_q
         |FROM r GROUP BY source ORDER BY source""".stripMargin),

    // q153: DuckDB replays the temperature math (sqrt/divide/max/
    // floor in the same fixed order — correctly-rounded IEEE ops,
    // bit-identical) and the 20-bit md5 bucket via the '0x' hex
    // cast vs the engine's conv — the q127 determinism argument
    // without the ln caveat.
    QueryDef("q153_temperature_mix", Curation.temperatureMixture _,
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |r0 AS (SELECT lang, c,
        |    sqrt(CAST(c AS DOUBLE)) / c AS ratio FROM c),
        |r AS (SELECT lang, ratio / (SELECT max(ratio) FROM r0) AS rate
        |  FROM r0),
        |k AS (SELECT d.doc_id, d.lang, d.text, r.rate,
        |    CAST(('0x' || substring(
        |      md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 5)) AS BIGINT)
        |      AS b
        |  FROM documents d JOIN r ON r.lang = d.lang)
        |SELECT lang, count(*) AS n_in,
        |  CAST(floor(max(rate) * 1e6) AS BIGINT) AS rate_ppm,
        |  CAST(count(*) FILTER (WHERE b < floor(rate * 1048576.0))
        |    AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(doc_id)
        |    FILTER (WHERE b < floor(rate * 1048576.0)), 0) AS BIGINT)
        |    AS docid_sum,
        |  CAST(coalesce(sum(len(regexp_extract_all(text, '\S+')))
        |    FILTER (WHERE b < floor(rate * 1048576.0)), 0) AS BIGINT)
        |    AS tokens_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin),

    // Mixture sampling: the keep decision is bucket < rate in exact
    // integers on both sides; the rate CASE is generated from the one
    // mixtureRates table so engine and oracle can never drift.
    QueryDef("q53_mixture_sample", Curation.mixtureSample _,
      {
      s"""WITH b AS (SELECT lang, text,
         |    ${hexBucketSql("'mix:' || CAST(doc_id AS VARCHAR)")} AS bucket
         |  FROM documents),
         |k AS (SELECT lang, bucket < ($mixtureRateCase) AS keep,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tok FROM b)
         |SELECT lang, count(*) AS n_in,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    }),

    // Exact-size stratified sample: rank by salted md5 order within
    // each language, keep the first k; doc_id-sum identity proves the
    // drawn set, not just its size.
    QueryDef("q62_stratified_sample", Curation.stratifiedSample(_, _),
      s"""WITH d AS (SELECT doc_id, lang,
         |    len(regexp_extract_all(text, '\\S+')) AS n_tok,
         |    md5('strat:' || CAST(doc_id AS VARCHAR)) AS rk_hash
         |  FROM documents),
         |r AS (SELECT doc_id, lang, n_tok,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY rk_hash, doc_id) AS rk FROM d)
         |SELECT lang, count(*) AS n_sampled,
         |  CAST(sum(n_tok) AS BIGINT) AS tokens,
         |  CAST(sum(doc_id) AS BIGINT) AS docid_sum
         |FROM r WHERE rk <= ${graft.operators.Curation.StratK}
         |GROUP BY lang ORDER BY lang""".stripMargin),

    // Histogram threshold audit: kept-bucket aggregate per language.
    // The budget compare is exact integer arithmetic (cum·den ≤
    // total·num); the tie case is kept on both sides (CurationSpec).
    QueryDef("q54_token_budget", Curation.tokenBudgetSelect(_, _),
      s"""WITH $budgetCtes
         |SELECT lang, min(bucket) AS threshold_bucket,
         |  CAST(sum(n_docs) AS BIGINT) AS n_kept,
         |  CAST(sum(toks) AS BIGINT) AS tokens_kept
         |FROM c54
         |WHERE cum * ${graft.operators.Curation.BudgetDen}
         |  <= total * ${graft.operators.Curation.BudgetNum}
         |GROUP BY lang ORDER BY lang""".stripMargin),

    // The APPLIED selection: threshold join-back → per-split kept-doc
    // aggregate with a doc_id-sum identity (proves which docs
    // survived, not just how many).
    QueryDef("q54b_token_budget_apply", Curation.tokenBudgetApply(_, _),
      s"""WITH $budgetCtes,
         |t54 AS (SELECT lang, min(bucket) AS thr FROM c54
         |  WHERE cum * ${graft.operators.Curation.BudgetDen}
         |    <= total * ${graft.operators.Curation.BudgetNum}
         |  GROUP BY lang),
         |a54 AS (SELECT sc54.doc_id, sc54.n_toks FROM sc54
         |  JOIN t54 USING (lang) WHERE sc54.bucket >= t54.thr),
         |s54 AS (SELECT doc_id, n_toks,
         |    ${hexBucketSql("CAST(doc_id AS VARCHAR)")} AS bkt
         |  FROM a54)
         |SELECT CASE WHEN bkt < 204 THEN 'train' WHEN bkt < 230 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
         |  CAST(sum(doc_id) AS BIGINT) AS docid_sum
         |FROM s54 GROUP BY split ORDER BY split""".stripMargin),

    // q116: engine-RNG sampling is never hash-comparable, so the
    // oracle pins the PROPERTY columns (subset, determinism, 6σ
    // binomial size band) to literals and computes only the corpus
    // anchor n_source itself.
    QueryDef("q116_tablesample", Curation.sampleGate _,
      """SELECT CAST(count(*) AS BIGINT) AS n_source,
        |  CAST(0 AS BIGINT) AS not_in_source,
        |  CAST(0 AS BIGINT) AS n_diff,
        |  CAST(1 AS BIGINT) AS in_band
        |FROM documents""".stripMargin),

    // q127: DuckDB replays the SAME exponential clocks — md5 prefix
    // decoded via the '0x' hex cast (vs Spark's conv), ln, and its
    // own window rank — so the oracle independently derives WHICH
    // docs the Efraimidis–Spirakis draw selects.
    QueryDef("q127_weighted_sample", Curation.weightedSample(_, _),
      """WITH b AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS wt,
        |    CAST(('0x' || substring(
        |      md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |      AS v
        |  FROM documents WHERE n_chars > 0),
        |kx AS (SELECT doc_id, lang, wt,
        |    -ln((v + 1) / 4503599627370496.0) / wt AS key FROM b),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY key, doc_id) AS rk FROM kx)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
        |  CAST(wt AS BIGINT) AS w_chars, round(key, 9) AS key
        |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin),

    // q200: the oracle decodes the 4-hex-digit shard the strpos way
    // (the q47 idiom) and re-ranks by the same md5 string — ASCII hex
    // sorts identically in both engines.
    QueryDef("q200_epoch_shuffle", Curation.epochShuffle(_, _),
      s"""WITH d AS (SELECT doc_id,
         |    md5('epoch:1:' || CAST(doc_id AS VARCHAR)) AS skey
         |  FROM documents),
         |s AS (SELECT doc_id, skey, CAST(
         |    ((((strpos('0123456789abcdef', skey[1]) - 1) * 16
         |      + strpos('0123456789abcdef', skey[2]) - 1) * 16
         |      + strpos('0123456789abcdef', skey[3]) - 1) * 16
         |      + strpos('0123456789abcdef', skey[4]) - 1)
         |      % ${Curation.EpochShards} AS BIGINT) AS shard FROM d)
         |SELECT shard, CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY skey, doc_id) AS BIGINT) AS pos, doc_id
         |FROM s ORDER BY shard, pos""".stripMargin),

    // q232: DuckDB replays the closed-form water-fill — same integer
    // sort key, same prefix-cumulative saturation test, same floor
    // division — over the same mixtureRates CASE.
    QueryDef("q232_mixture_waterfill", Curation.mixtureWaterfill _,
      s"""WITH a AS (SELECT lang,
         |    CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
         |      AS avail,
         |    CAST($mixtureRateCase AS BIGINT) AS w
         |  FROM documents GROUP BY lang),
         |f AS (SELECT * FROM a WHERE w > 0),
         |t AS (SELECT CAST(sum(avail) AS BIGINT) AS tot,
         |    CAST(sum(w) AS BIGINT) AS wsum FROM f),
         |c AS (SELECT f.*, t.tot, t.wsum, t.tot * 3 // 4 AS budget,
         |    avail * 1000 // w AS key FROM f CROSS JOIN t),
         |p AS (SELECT *,
         |    COALESCE(CAST(sum(avail) OVER (ORDER BY key, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS cuma,
         |    COALESCE(CAST(sum(w) OVER (ORDER BY key, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS BIGINT), 0) AS cumw
         |  FROM c),
         |s AS (SELECT *, CASE WHEN avail * (wsum - cumw)
         |      <= (budget - cuma) * w THEN 1 ELSE 0 END AS sat FROM p),
         |st AS (SELECT
         |    COALESCE(CAST(sum(CASE WHEN sat = 1 THEN avail END)
         |      AS BIGINT), 0) AS sata,
         |    COALESCE(CAST(sum(CASE WHEN sat = 1 THEN w END)
         |      AS BIGINT), 0) AS satw FROM s),
         |o AS (SELECT s.*, CASE WHEN sat = 1 THEN avail
         |    ELSE greatest(budget - sata, 0) * w // (wsum - satw)
         |  END AS alloc FROM s CROSS JOIN st)
         |SELECT lang, avail AS avail_tokens, w AS weight,
         |  CAST(sat AS BIGINT) AS saturated,
         |  CAST(alloc AS BIGINT) AS alloc_tokens,
         |  alloc * 1000 // greatest(avail, 1) AS upsample_permille
         |FROM o ORDER BY lang""".stripMargin)
  )
}
