package graft
package queries

import graft.operators.{Dedup, TextAnalysis}

/** DuckDB oracle fragments that records of more than one module share. */
private[queries] object OracleFragments {

  /** DuckDB: distinct word-3-gram shingles per doc, as a WITH body
    * rooted on `rel` — parameterized (not string-replaced after the
    * fact) so a sampled-corpus oracle like q229 re-roots by
    * construction: a formatting change here can never silently leave
    * a caller's replace running on the full corpus.
    */
  def shinglesCteOver(rel: String): String =
    s"""d AS (SELECT doc_id, lang, regexp_extract_all(text, '\\S+') AS l FROM $rel),
       |sh AS (SELECT DISTINCT doc_id, lang, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM (
       |  SELECT doc_id, lang, l, unnest(range(1, greatest(len(l) - 1, 1))) AS i FROM d))""".stripMargin

  /** DuckDB stopword-score formula mirroring TextAnalysis.hits. */
  def scoreSql(lang: String): String =
    TextAnalysis.stopwords(lang).map { w =>
      val tokLen = w.length + 2
      s"(length(padded) - length(replace(padded, ' $w ', ''))) / $tokLen"
    }.mkString(" + ")

  /** [[minhashCtes]] rooted on an arbitrary document relation — the
    * q229 sampled-corpus oracle re-roots the WHOLE pipeline here.
    */
  /** The shingle→minhash→band prefix ending in `bk0` (the UNCAPPED
    * band table — Dedup.rawBandsOf's mirror), shared by the pair
    * pipeline below and the q251 index-maintenance oracle.
    */
  def bandsCteOver(rel: String): String =
    s"""${shinglesCteOver(rel)},
       |mh AS (SELECT doc_id, lang, i,
       |    min(substring(CASE WHEN i < 4 THEN md5(shingle)
       |                       ELSE md5('x' || shingle) END,
       |        (i % 4) * 8 + 1, 8)) AS mh
       |  FROM (SELECT doc_id, lang, shingle, unnest(range(0, 8)) AS i FROM sh) t
       |  GROUP BY doc_id, lang, i),
       |bands AS (SELECT doc_id, lang, i // 2 AS band,
       |    min(CASE WHEN i % 2 = 0 THEN mh END) AS lo,
       |    min(CASE WHEN i % 2 = 1 THEN mh END) AS hi
       |  FROM mh GROUP BY doc_id, lang, i // 2),
       |bk0 AS (SELECT doc_id, lang, band, lo || '|' || hi AS bkey FROM bands)""".stripMargin

  def minhashCtesOver(rel: String): String =
    s"""${bandsCteOver(rel)},
       |bk AS (SELECT bk0.* FROM bk0 JOIN (SELECT lang, band, bkey FROM bk0
       |    GROUP BY lang, band, bkey
       |    HAVING count(*) <= ${Dedup.MaxBandDocs}) ok
       |  USING (lang, band, bkey)),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x JOIN bk y
       |  ON x.bkey = y.bkey AND x.band = y.band AND x.lang = y.lang
       |    AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.lang = y.lang
       |    AND x.doc_id < y.doc_id
       |  JOIN cand ON cand.a = x.doc_id AND cand.b = y.doc_id
       |  GROUP BY x.doc_id, y.doc_id),
       |j AS (SELECT a, b,
       |    round(CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
       |  FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)""".stripMargin

  val minhashCtes: String = minhashCtesOver("documents")

  /** Snapshot B as full document rows — the q246 modular fixture
    * carried with texts (Relational.snapshotBDocsOf's mirror), shared
    * by the q251 and q252 oracles.
    */
  val snapbDocsCte: String =
    """snapb AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
      |      AS doc_id, lang, text
      |  FROM documents WHERE doc_id % 13 = 0)""".stripMargin

  /** DuckDB 0..255 bucket from the first two md5 hex digits of `arg`
    * (no hex→int cast in DuckDB, so the digits decode via strpos) —
    * the q47 idiom, shared by the curation oracles.
    */
  def hexBucketSql(arg: String): String =
    s"(strpos('0123456789abcdef', substring(md5($arg), 1, 1)) - 1) * 16\n" +
      s"    + strpos('0123456789abcdef', substring(md5($arg), 2, 1)) - 1"

  /** The per-language mixture-rate CASE, generated from the one
    * Curation.mixtureRates table (shared by q53 and q58).
    */
  lazy val mixtureRateCase: String =
    "CASE lang " + graft.operators.Curation.mixtureRates
      .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ") + " ELSE 0 END"

  /** DuckDB sign-LSH bucket mirroring Similarity.bucketCol. */
  val bucketSql: String = (0 until 8).map(j =>
    s"(CASE WHEN embedding[${j * 8 + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")

  val cosinePairSql =
    """sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
      |    sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
      |    sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb""".stripMargin

  /** The DSIR bucket-weight CTE pair shared by every DSIR oracle:
    * the smoothed log-ratio as ONE rational, its ln taken by
    * [[graft.functions.FixedLog.sqlExpr]] — the exact integer
    * algorithm the engine runs in Scala, so the micro-unit BIGINTs
    * agree by construction (no float `ln` left in any DSIR gate;
    * the r16 verdict's flake-class kill). `dist`/`tot` carry
    * (b, cp, cq) and (np, nq); emits `<p>wr` and `<p>w`.
    */
  def dsirLwCtes(p: String, dist: String, tot: String): String =
    s"""${p}wr AS (SELECT b, (2 * cp + 1) * (2 * nq + 1024) AS lnum,
       |    (2 * np + 1024) * (2 * cq + 1) AS lden FROM $dist, $tot),
       |${p}w AS (SELECT b,
       |  ${graft.functions.FixedLog.sqlExpr("lnum", "lden", 6)} AS lw
       |  FROM ${p}wr)""".stripMargin

  /** Shared q240/qS04 oracle: DSIR importance weights re-derived
    * from first principles (the q114 ordinality idiom for bigram
    * adjacency, the q47 md5 bucket hash, micro-unit integer
    * log-ratios via the FixedLog integer algorithm). qS04's streamed
    * scorer is a stateless projection of an offline-fit model over
    * the same corpus, so its emitted set equals the batch scoring —
    * ONE oracle text, two gates.
    */
  val dsirWeightsOracle: String =
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
       |${dsirLwCtes("", "dist", "tot")}
       |SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(w.lw) AS BIGINT) AS w_micro
       |FROM bk JOIN w USING (b)
       |GROUP BY bk.doc_id ORDER BY doc_id""".stripMargin

  /** Shared q244/q245 oracle CTEs: the BPE merge-SELECTION chain —
    * word counts, char-fenced symbols, and one MATERIALIZED
    * (pair-count → argmax → replace) stage per merge round (DuckDB
    * inlines CTEs by default and each argmax is referenced three
    * times, so the plain form expands 3^rounds). q244 reads the m$k
    * argmax rows; q245 additionally applies them to a lang-aware
    * vocabulary copy.
    */
  val bpeSelectionCtes: String = {
    val stages = (1 to TextAnalysis.BpeMerges).map { k =>
      val p = k - 1
      s"""px$k AS (SELECT cnt, string_split(
         |    substring(sym, 2, length(sym) - 2), '··') AS parts
         |  FROM w$p),
         |pe$k AS (SELECT cnt, parts,
         |    unnest(range(1, len(parts))) AS i FROM px$k),
         |pp$k AS (SELECT cnt, parts[CAST(i AS INTEGER)] AS a,
         |    parts[CAST(i + 1 AS INTEGER)] AS b FROM pe$k),
         |pc$k AS (SELECT a, b, sum(cnt) AS pc FROM pp$k GROUP BY a, b),
         |m$k AS MATERIALIZED (SELECT a, b, pc FROM pc$k
         |  ORDER BY pc DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (SELECT replace(sym,
         |    '·' || (SELECT a FROM m$k) || '··' ||
         |      (SELECT b FROM m$k) || '·',
         |    '·' || (SELECT a FROM m$k) ||
         |      (SELECT b FROM m$k) || '·') AS sym,
         |  cnt FROM w$p)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT lang, unnest(regexp_extract_all(text, '\\S+'))
       |    AS w FROM documents),
       |wc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
       |w0 AS MATERIALIZED (SELECT '·' || array_to_string(
       |    list_transform(range(1, length(w) + 1),
       |      i -> substring(w, CAST(i AS INTEGER), 1)), '··') || '·'
       |    AS sym,
       |  cnt FROM wc),
       |$stages""".stripMargin
  }
}
