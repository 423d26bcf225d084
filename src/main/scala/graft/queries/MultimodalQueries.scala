package graft
package queries

import graft.operators.Multimodal

/** Media payload decoding and near-duplicate images, built on
  * [[graft.operators.Multimodal]].
  */
object MultimodalQueries {

  val records: Seq[QueryDef] = Seq(
    // q181: the oracle re-derives the aHash as a SET-BIT TABLE from
    // per-character code sums (content bytes are the ASCII text
    // bytes, so unicode(ch) IS the byte), matches bands as small
    // integers, and counts Hamming as |A|+|B|-2|A∩B| — independent
    // encodings of fingerprint AND distance vs the engine's packed
    // long + xor/popcount.
    QueryDef("q181_phash_neardup", Multimodal.phashNearDup(_, _),
      s"""WITH b AS (SELECT doc_id,
         |    list_transform(string_split(text, ''), c -> unicode(c))
         |      AS codes
         |  FROM documents),
         |x AS (SELECT doc_id, unnest(codes) AS v,
         |    generate_subscripts(codes, 1) AS i, len(codes) AS n FROM b),
         |cl AS (SELECT doc_id, ((i - 1) * 64) // n AS cell,
         |    CAST(sum(v) AS BIGINT) AS cv
         |  FROM x GROUP BY doc_id, ((i - 1) * 64) // n),
         |tot AS (SELECT doc_id, CAST(sum(cv) AS BIGINT) AS total
         |  FROM cl GROUP BY doc_id),
         |bits AS (SELECT cl.doc_id, cell FROM cl JOIN tot USING (doc_id)
         |  WHERE cv * 64 > total),
         |spine AS (SELECT doc_id, unnest(range(0, 4)) AS band FROM b),
         |bv AS (SELECT spine.doc_id, spine.band,
         |    CAST(COALESCE(sum(1 << (15 - (bits.cell % 16))), 0) AS BIGINT)
         |      AS bv
         |  FROM spine LEFT JOIN bits ON bits.doc_id = spine.doc_id
         |    AND bits.cell // 16 = spine.band
         |  GROUP BY spine.doc_id, spine.band),
         |hotb AS (SELECT band, bv FROM bv GROUP BY band, bv
         |  HAVING count(*) > ${Multimodal.PHashMaxBandDocs}),
         |bvc AS (SELECT bv.* FROM bv LEFT JOIN hotb
         |    ON bv.band = hotb.band AND bv.bv = hotb.bv
         |  WHERE hotb.band IS NULL),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bvc a JOIN bvc b ON a.band = b.band AND a.bv = b.bv
         |    AND a.doc_id < b.doc_id),
         |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS k FROM bits
         |  GROUP BY doc_id),
         |iv AS (SELECT cand.doc_a, cand.doc_b, CAST(count(*) AS BIGINT)
         |      AS both
         |  FROM cand JOIN bits ba ON ba.doc_id = cand.doc_a
         |    JOIN bits bb ON bb.doc_id = cand.doc_b AND bb.cell = ba.cell
         |  GROUP BY cand.doc_a, cand.doc_b),
         |h AS (SELECT cand.doc_a, cand.doc_b,
         |    COALESCE(na.k, 0) + COALESCE(nbb.k, 0)
         |      - 2 * COALESCE(iv.both, 0) AS ham
         |  FROM cand LEFT JOIN nb na ON na.doc_id = cand.doc_a
         |    LEFT JOIN nb nbb ON nbb.doc_id = cand.doc_b
         |    LEFT JOIN iv ON iv.doc_a = cand.doc_a AND iv.doc_b = cand.doc_b)
         |SELECT doc_a, doc_b, CAST(ham AS BIGINT) AS ham FROM h
         |WHERE ham <= ${Multimodal.PHashMaxHam}
         |ORDER BY doc_a, doc_b""".stripMargin),

    // The engine sums real payload lengths (container headers
    // included); the oracle recomputes them as content bytes + the
    // per-format header constant — an independent check that the wrap
    // adds exactly the PNG/BMP header cost.
    QueryDef("q32_media_stats", Multimodal.mediaStats _,
      s"""SELECT source, count(*) AS n_media,
         |  CAST(sum(octet_length(encode(text))
         |    + CASE WHEN doc_id % 2 = 0
         |           THEN ${graft.functions.MediaKernel.PngHeaderBytes}
         |           ELSE ${graft.functions.MediaKernel.BmpHeaderBytes} END)
         |    AS BIGINT) AS total_bytes,
         |  count(DISTINCT md5(text)) AS n_distinct
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // The engine PARSES width/height/format out of the PNG IHDR / BMP
    // info-header bytes it wrapped the content in; the oracle
    // recomputes them arithmetically from doc_id — two independent
    // encodings of the container layout (the q46 pattern).
    QueryDef("q33_media_decode", Multimodal.decodeMeta _,
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text))
         |    + CASE WHEN doc_id % 2 = 0
         |           THEN ${graft.functions.MediaKernel.PngHeaderBytes}
         |           ELSE ${graft.functions.MediaKernel.BmpHeaderBytes} END
         |    AS BIGINT) AS n_bytes,
         |  CAST(64 + doc_id % 577 AS BIGINT) AS width,
         |  CAST(64 + doc_id % 417 AS BIGINT) AS height,
         |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Resize: the engine re-wraps content under fit-into-256 dims and
    // reports what a RE-PARSE of the new header bytes says; the
    // oracle recomputes the fit arithmetically (floor division).
    QueryDef("q60_media_resize", Multimodal.resizeMeta(_, _),
      s"""WITH d AS (SELECT doc_id,
         |    CAST(64 + doc_id % 577 AS BIGINT) AS w,
         |    CAST(64 + doc_id % 417 AS BIGINT) AS h,
         |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
         |    CAST(octet_length(encode(text))
         |      + CASE WHEN doc_id % 2 = 0
         |             THEN ${graft.functions.MediaKernel.PngHeaderBytes}
         |             ELSE ${graft.functions.MediaKernel.BmpHeaderBytes} END
         |      AS BIGINT) AS n_bytes
         |  FROM documents)
         |SELECT doc_id, w AS width, h AS height,
         |  CASE WHEN greatest(w, h) <= 256 THEN w
         |       WHEN w >= h THEN 256 ELSE (w * 256) // h END AS new_width,
         |  CASE WHEN greatest(w, h) <= 256 THEN h
         |       WHEN w >= h THEN (h * 256) // w ELSE 256 END AS new_height,
         |  format, n_bytes
         |FROM d ORDER BY doc_id""".stripMargin),

    // Frame sampling: the engine slices real 256-byte frames and
    // counts what it sliced; the oracle recomputes the counts from
    // the content length (ceil divisions; short-last-frame CASE).
    QueryDef("q61_frame_sample", Multimodal.frameSample _,
      {
      val fb = graft.operators.Multimodal.FrameBytes
      val st = graft.operators.Multimodal.FrameStride
      s"""WITH b AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
         |f AS (SELECT doc_id, len, (len + ${fb - 1}) // $fb AS n_frames FROM b),
         |s AS (SELECT doc_id, n_frames, (n_frames + ${st - 1}) // $st AS n_sampled,
         |  CASE WHEN n_frames = 0 THEN 0
         |       WHEN (n_frames - 1) % $st = 0 AND len % $fb > 0
         |       THEN ((n_frames + ${st - 1}) // $st) * $fb - ($fb - len % $fb)
         |       ELSE ((n_frames + ${st - 1}) // $st) * $fb END AS sampled_bytes
         |  FROM f)
         |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
         |  CAST(n_sampled AS BIGINT) AS n_sampled,
         |  CAST(sampled_bytes AS BIGINT) AS sampled_bytes
         |FROM s ORDER BY doc_id""".stripMargin
    }),

    // q212: dims re-derived arithmetically (the q33 pattern — the
    // engine parses them out of real container headers), patch
    // arithmetic replayed in integer ceil-division.
    QueryDef("q212_patch_grid", Multimodal.patchGrid(_, _),
      s"""WITH d AS (SELECT doc_id,
        |    CAST(64 + doc_id % 577 AS BIGINT) AS width,
        |    CAST(64 + doc_id % 417 AS BIGINT) AS height FROM documents),
        |g AS (SELECT doc_id, width, height,
        |    (width + 15) // 16 AS grid_w,
        |    (height + 15) // 16 AS grid_h FROM d)
        |SELECT doc_id, width, height, grid_w, grid_h,
        |  grid_w * 16 - width AS pad_w, grid_h * 16 - height AS pad_h,
        |  grid_w * grid_h AS n_patches, grid_w * grid_h + 1 AS seq_len,
         |  CAST(grid_w * grid_h > ${Multimodal.PatchBudget} AS BIGINT)
         |    AS needs_downscale
         |FROM g ORDER BY doc_id""".stripMargin)
  )
}
