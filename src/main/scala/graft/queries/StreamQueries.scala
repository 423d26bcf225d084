package graft
package queries

import graft.operators.TextAnalysis
import graft.streaming.{DocumentStreams, EmbeddingStreams, EventStreams}
import graft.queries.OracleFragments._

/** Streaming gates: each runs a real availableNow pipeline over staged
  * input and reads its sink back (graft.streaming).
  */
object StreamQueries {

  /** Not benched: a gate's wall time is fixed micro-batch and trigger
    * machinery plus input staging, not data throughput, so timing it
    * would only dilute the suite total. Verify still runs them;
    * EventStreamsSpec covers their latency-relevant behavior.
    */
  val records: Seq[QueryDef] = Seq(
    // qS02: the staged feed delivers every event TWICE; the streamed
    // dedup must emit each exactly once, so the oracle is a plain
    // projection of the original (unique-by-event_id) events.
    QueryDef("qS02_stream_dedup", EventStreams.dedupFinalized _,
      """SELECT event_id, user_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events ORDER BY event_id""".stripMargin),

    // qS04: DSIR scoring at ingest is a STATELESS projection with an
    // offline-fit model, so the streamed emitted set equals the
    // batch scoring of the same corpus — the oracle is verbatim
    // q240's (the qS03 stateless-gate argument applied to q240).
    QueryDef("qS04_stream_dsir", DocumentStreams.dsirScoredFinalized _, dsirWeightsOracle),

    // qS12: q262's TIME derivation at ingest, gated at ROW grain —
    // the oracle replays every arriving row's µs-of-day arithmetic
    // and builds its TIME values by exact string parse (the q262
    // comparator contract: TIME compared as values).
    QueryDef("qS12_stream_time", EventStreams.timeProfiledFinalized _,
      """WITH b AS (SELECT event_id,
        |    epoch_us(ts) % 86400000000 AS us FROM events)
        |SELECT event_id, us,
        |  CAST(printf('%02d:%02d:%02d.%06d', us // 3600000000,
        |    (us // 60000000) % 60, (us // 1000000) % 60,
        |    us % 1000000) AS TIME) AS t,
        |  CAST(printf('%02d:00:00', us // 3600000000) AS TIME)
        |    AS hour_t,
        |  us % 60000000 AS sec_us_nat,
        |  us % 60000000 AS sec_us
        |FROM b ORDER BY event_id""".stripMargin),

    // qS11: q259's extraction at ingest, gated at ROW grain — the
    // oracle replays every arriving row's typed extraction and
    // schema label from the shared synthesis text.
    QueryDef("qS11_stream_variant", EventStreams.variantShreddedFinalized _,
      s"""WITH j AS (SELECT event_id, user_id, event_type,
         |    ${graft.operators.Relational.VariantJsonSynth} AS js
         |  FROM events),
         |f AS (SELECT event_id, js,
         |    event_id % 7 = 0 AS no_value,
         |    event_id % 5 = 0 AS code_str,
         |    event_id % 3 = 0 AS has_tags,
         |    event_id % 4 = 0 AS has_note
         |  FROM j)
         |SELECT event_id,
         |  concat('OBJECT<code: ',
         |    CASE WHEN code_str THEN 'STRING' ELSE 'BIGINT' END,
         |    ', id: BIGINT',
         |    CASE WHEN has_note THEN ', note: VOID' ELSE '' END,
         |    CASE WHEN has_tags THEN ', tags: ARRAY<STRING>' ELSE '' END,
         |    ', user: OBJECT<tier: STRING, uid: BIGINT>',
         |    CASE WHEN no_value THEN '' ELSE ', value: BIGINT' END,
         |    '>') AS schema,
         |  CAST(json_extract(js, '$$.user.uid') AS BIGINT) AS uid,
         |  CAST(json_extract(js, '$$.value') AS BIGINT) AS value_cents,
         |  json_extract_string(js, '$$.code') AS code,
         |  json_extract_string(js, '$$.tags[1]') AS tag2,
         |  CAST(CASE WHEN json_type(js, '$$.note') = 'NULL'
         |    THEN 1 ELSE 0 END AS BIGINT) AS note_is_null
         |FROM f ORDER BY event_id""".stripMargin),

    // qS06: q250's arrival-assignment leg at ingest. The oracle is
    // q250's from-scratch derivation RESTRICTED to the arrival set
    // (the stateless-gate argument: per-row argmax with an
    // offline-fit model emits the same rows streamed or batch).
    QueryDef("qS06_stream_ivf_assign", EmbeddingStreams.ivfAssignedFinalized _,
      s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
         |cents AS (SELECT vec_id AS cid, embedding AS ce
         |  FROM embeddings WHERE vec_id < 16),
         |arr AS (SELECT vec_id + m + 1 AS vec_id,
         |    list_transform(embedding, x -> -x) AS embedding
         |  FROM embeddings, mx WHERE vec_id % 13 = 0),
         |ax AS (SELECT v.vec_id, c.cid, v.embedding AS ea, c.ce AS eb,
         |    unnest(range(1, 65)) AS i
         |  FROM arr v CROSS JOIN cents c),
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
         |FROM cell GROUP BY cid ORDER BY cid""".stripMargin),

    // qS07: the trained tokenizer APPLIED at ingest, per document.
    // The oracle re-derives q244's merge chain (the shared training
    // CTEs), applies it to the DISTINCT word types — the vocabulary
    // route, deliberately different from the engine's per-row
    // joined-string projection — and joins subword counts back to a
    // doc_id-carrying token relation. Per-document totals must agree
    // with the engine's separator-count arithmetic exactly.
    QueryDef("qS07_stream_bpe_tokenize", DocumentStreams.bpeTokenizedFinalized _,
      {
      val applyChain = (1 to TextAnalysis.BpeMerges).map { k =>
        val p = k - 1
        s"""al$k AS MATERIALIZED (SELECT w, replace(sym,
           |    '·' || (SELECT a FROM m$k) || '··' ||
           |      (SELECT b FROM m$k) || '·',
           |    '·' || (SELECT a FROM m$k) ||
           |      (SELECT b FROM m$k) || '·') AS sym
           |  FROM al$p)""".stripMargin
      }.mkString(",\n")
      val R = TextAnalysis.BpeMerges
      s"""WITH $bpeSelectionCtes,
         |tokd AS (SELECT doc_id, lang,
         |    unnest(regexp_extract_all(text, '\\S+')) AS w
         |  FROM documents),
         |vt AS (SELECT DISTINCT w FROM tokd),
         |al0 AS MATERIALIZED (SELECT w, '·' || array_to_string(
         |    list_transform(range(1, length(w) + 1),
         |      i -> substring(w, CAST(i AS INTEGER), 1)), '··') || '·'
         |    AS sym
         |  FROM vt),
         |$applyChain,
         |wt AS (SELECT w, len(string_split(
         |    substring(sym, 2, length(sym) - 2), '··')) AS n_tok
         |  FROM al$R)
         |SELECT tokd.doc_id, tokd.lang,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(wt.n_tok) AS BIGINT) AS n_subwords
         |FROM tokd JOIN wt USING (w)
         |GROUP BY tokd.doc_id, tokd.lang ORDER BY tokd.doc_id""".stripMargin
    }),

    // qS08: q251's arrival leg at ingest. The oracle is q251's
    // from-scratch band derivation RESTRICTED to the arrival set
    // (revised texts under their old key + re-keyed inserts) — the
    // same stateless-gate argument as qS06.
    QueryDef("qS08_stream_lsh_band", DocumentStreams.lshBandedFinalized _,
      s"""WITH arrb AS (
         |  SELECT doc_id, lang, text || ' [rev2]' AS text
         |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
         |      AS doc_id, lang, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |${bandsCteOver("arrb")}
         |SELECT doc_id, lang, CAST(band AS BIGINT) AS band, bkey
         |FROM bk0 ORDER BY doc_id, band""".stripMargin),

    // qS09: content-dedup admission at ingest. DuckDB derives the
    // same arrival feed (revised + re-keyed rows, new content on
    // even re-keys) and admits by its own NOT IN anti-join against
    // the distinct base fingerprint set — fingerprints never null,
    // so NOT IN is the exact anti-join.
    QueryDef("qS09_stream_dedup_admit", DocumentStreams.dedupAdmittedFinalized _,
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |basefp AS (SELECT DISTINCT md5(text) AS fp FROM documents),
        |arr AS (
        |  SELECT doc_id, lang, text || ' [rev2]' AS text
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + m + 1 AS doc_id, lang,
        |    CASE WHEN (doc_id + m + 1) % 2 = 0 THEN text || ' [new]'
        |         ELSE text END AS text
        |  FROM documents, mx WHERE doc_id % 13 = 0)
        |SELECT doc_id, lang, md5(text) AS fp
        |FROM arr WHERE md5(text) NOT IN (SELECT fp FROM basefp)
        |ORDER BY doc_id""".stripMargin),

    // qS10: q256's scrub at ingest, gated at ROW grain — the same
    // fixture + detect/redact CTEs, emitted per document with the
    // md5 of the redacted text (the batch gate's aggregate folds the
    // same values per source; this one pins every row's rewrite).
    QueryDef("qS10_stream_pii", DocumentStreams.piiScrubbedFinalized _,
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 = 0 THEN text ELSE
         |      text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.org or +1-555-'
         |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
         |    END AS pii_text
         |  FROM documents)
         |SELECT doc_id, source,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '${graft.operators.TextAnalysis.PiiEmailRe}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '${graft.operators.TextAnalysis.PiiPhoneRe}')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '${graft.operators.TextAnalysis.PiiIpv4Re}')) AS BIGINT)
         |    AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '${graft.operators.TextAnalysis.PiiEmailRe}', '<EMAIL>', 'g'),
         |    '${graft.operators.TextAnalysis.PiiPhoneRe}', '<PHONE>', 'g'),
         |    '${graft.operators.TextAnalysis.PiiIpv4Re}', '<IP>', 'g'))
         |    AS redacted_fp
         |FROM aug ORDER BY doc_id""".stripMargin),

    // qS05: q246's CDC at ingest. Same deterministic snapshot-B
    // fixture, but classified from the FEED's point of view — a LEFT
    // join from arrivals to base (the stream-static shape), so only
    // the three classes an arrival can witness exist; delete is a
    // non-arrival and stays with the batch reconciliation (q246).
    QueryDef("qS05_stream_cdc", DocumentStreams.cdcClassifiedFinalized _,
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |base AS (SELECT doc_id, md5(text) AS fpa FROM documents),
        |surv AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |             ELSE text END) AS fpb
        |  FROM documents WHERE doc_id % 11 <> 0),
        |ins AS (SELECT doc_id + m + 1 AS doc_id, md5(text) AS fpb
        |  FROM documents, mx WHERE doc_id % 13 = 0),
        |snap AS (SELECT * FROM surv UNION ALL SELECT * FROM ins),
        |j AS (SELECT snap.doc_id, fpa, fpb
        |  FROM snap LEFT JOIN base USING (doc_id)),
        |c AS (SELECT doc_id,
        |    CASE WHEN fpa IS NULL THEN 'insert'
        |         WHEN fpa = fpb THEN 'unchanged'
        |         ELSE 'update' END AS change
        |  FROM j)
        |SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_keys
        |FROM c GROUP BY change ORDER BY change""".stripMargin),

    // qS03: the cleaning stage is stateless, so the streamed output
    // is exactly the batch projection — the q42 quality construction
    // with the 0.4 threshold, plus the q44 redaction md5, per doc.
    QueryDef("qS03_stream_clean", DocumentStreams.cleanedFinalized _,
      {
      val email = TextAnalysis.EmailPattern
      val num = TextAnalysis.LongNumberPattern
      s"""WITH d AS (SELECT doc_id, lang, text, ' ' || text || ' ' AS padded,
         |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         |  FROM documents),
         |e AS (SELECT doc_id, lang, text, n_tokens, n_punct,
         |  (${scoreSql("en")}) AS n_stop FROM d),
         |q AS (SELECT doc_id, lang, text,
         |  round(least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 0.5
         |    - (CAST(n_punct AS DOUBLE) / greatest(length(text), 1)) * 0.25, 6)
         |    AS quality
         |  FROM e)
         |SELECT doc_id, lang, quality,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |  md5(regexp_replace(
         |    regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |    '$num', '<NUM>', 'g')) AS redacted_fp
         |FROM q WHERE quality > 0.4 ORDER BY doc_id""".stripMargin
    }),

    // qS01: the streaming run's emitted set replayed in batch — q19's
    // gaps-and-islands sessionization plus the watermark SEAL: only
    // sessions whose end (last event + 30 min) is at or below the
    // final watermark (max event time floored to Spark's ms watermark
    // precision, minus the 2 h delay) are append-emitted. Epoch-µs
    // BIGINTs on both sides (instant/naive parquet timestamps don't
    // hash cross-engine).
    QueryDef("qS01_stream_sessions", EventStreams.sessionsFinalized _,
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 7200000000
        |    AS wm_us FROM e),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |g AS (SELECT user_id, epoch_us(min(ts)) AS start_us,
        |    epoch_us(max(ts)) + 1800000000 AS end_us,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |      AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events, sum_value
        |FROM g CROSS JOIN wm WHERE end_us <= wm_us
        |ORDER BY user_id, start_us""".stripMargin)
  ).map(_.copy(benched = false))
}
