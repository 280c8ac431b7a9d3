package graft.queries

/** DuckDB oracle SQL mirroring each query in [[Queries]] exactly (same
  * integer arithmetic, same fold order for doubles, same output column names
  * and types: Spark int <-> INTEGER, long <-> BIGINT, double <-> DOUBLE). */
object Oracles {

  /** DuckDB mirror of Queries.dets. */
  private val detsCte: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |e AS (SELECT doc_id, w, UNNEST(generate_series(1, len(w))) AS i FROM d),
      |words AS (SELECT doc_id, (i - 1)::INT AS pos, w[i] AS word FROM e),
      |dets AS (SELECT doc_id, pos, word,
      |  length(word)::INT AS wlen,
      |  (pos // 24)::INT AS page,
      |  (40 + (pos % 12 % 4) * 130)::DOUBLE AS x0,
      |  (60 + ((pos % 12) // 4) * 110)::DOUBLE AS y0,
      |  (40 + (pos % 12 % 4) * 130 + 20 + 8 * length(word))::DOUBLE AS x1,
      |  (60 + ((pos % 12) // 4) * 110 + 18 + (length(word) % 5) * 16)::DOUBLE AS y1,
      |  ((length(word) * 7 + pos * 13) % 100) / 100.0 AS score,
      |  CASE (pos * 31 + length(word)) % 12 WHEN 0 THEN 'title' WHEN 7 THEN 'figure'
      |    WHEN 8 THEN 'caption' WHEN 9 THEN 'table' WHEN 10 THEN 'footnote'
      |    WHEN 11 THEN 'abandon' ELSE 'text' END AS cat
      |  FROM words)""".stripMargin

  /** [[graft.corpus.DocGen.docId]] in DuckDB SQL, over a `documents` row. */
  private val docIdSql = "'doc-' || lpad(doc_id::VARCHAR, 12, '0')"

  /** The committed golden tables' dir, relative to the checkout
    * ([[graft.tools.GoldenDump]] freezes them). */
  val GoldenDir = "src/test/resources/golden"

  /** The committed golden table `name` as the oracle SQL reads it. DuckDB
    * runs that SQL outside the checkout, so the path is absolute: the one
    * fixed checkout location the oracles are run against. */
  def goldenPath(name: String): String = s"/root/repo/$GoldenDir/$name.parquet"

  /** A span table's oracle: the rows of the committed golden `name`
    * (doc ids 0..4999) for the ids the sf dir contains. */
  private def goldenSpans(name: String): String =
    s"""WITH ids AS (SELECT $docIdSql AS did FROM documents)
       |SELECT g.doc_id, g.ord, g.kind, g.media_ref, g.text
       |FROM read_parquet('${goldenPath(name)}') g
       |JOIN ids ON g.doc_id = ids.did
       |ORDER BY g.doc_id, g.ord""".stripMargin

  val all: Map[String, String] = Map(
    // Full value-level oracle for the extraction pipeline: the committed
    // extract_golden holds the renderer-side expected span sequences
    // (graft.tools.GoldenDump, independent of the pipeline code)
    "extract_pipeline" -> goldenSpans("extract_golden"),

    // the whole-operator exec variant shares the extraction golden
    "extract_exec" -> goldenSpans("extract_golden"),

    "det_low_conf_filter" ->
      s"""$detsCte
         |SELECT doc_id, pos, word,
         |  ((length(word) * 7 + pos * 13) % 100)::INT AS score_pct
         |FROM dets WHERE score > 0.05
         |ORDER BY doc_id, pos""".stripMargin,

    "det_iou_dedup" ->
      s"""$detsCte
         |SELECT a.doc_id, a.pos, a.word FROM dets a WHERE NOT EXISTS (
         |  SELECT 1 FROM dets b
         |  WHERE b.doc_id = a.doc_id AND b.page = a.page AND b.pos <> a.pos
         |    AND (greatest(least(a.x1, b.x1) - greatest(a.x0, b.x0), 0.0)
         |         * greatest(least(a.y1, b.y1) - greatest(a.y0, b.y0), 0.0))
         |        / ((a.x1 - a.x0) * (a.y1 - a.y0) + (b.x1 - b.x0) * (b.y1 - b.y0)
         |           - greatest(least(a.x1, b.x1) - greatest(a.x0, b.x0), 0.0)
         |             * greatest(least(a.y1, b.y1) - greatest(a.y0, b.y0), 0.0)) > 0.9
         |    AND (b.score > a.score OR (b.score = a.score AND b.pos < a.pos)))
         |ORDER BY a.doc_id, a.pos""".stripMargin,

    // virtual line injection: the insert_lines_into_block ladder replayed
    // in SQL — per-page exact median line height (default 10), the branch
    // CASE, unnest(range(n)) and the closed-form y0 + i*(h/n) arithmetic
    "virtual_lines" ->
      s"""$detsCte,
         |blks AS (SELECT doc_id, page, pos, cat, x0, y0,
         |  x0 + 60 + (length(word) * 37 + pos * 11) % 280 AS bx1,
         |  y0 + 20 + (pos * 17 + length(word) * 5) % 220 AS by1
         |  FROM dets),
         |lhx AS (SELECT doc_id, page, quantile_cont((by1 - y0)::INT, 0.5) AS line_height
         |  FROM blks WHERE cat IN ('text', 'title', 'caption', 'footnote')
         |  GROUP BY doc_id, page),
         |t AS (SELECT b.doc_id, b.page, b.pos, b.x0, b.y0, b.bx1, b.by1,
         |  coalesce(l.line_height, 10.0) AS lh,
         |  (b.by1 - b.y0) AS h, (b.bx1 - b.x0) AS w
         |  FROM blks b LEFT JOIN lhx l ON b.doc_id = l.doc_id AND b.page = l.page
         |  WHERE b.cat <> 'abandon'),
         |n AS (SELECT *,
         |  CASE WHEN NOT (lh * 2 < h) THEN 1
         |       WHEN h > 792.0 * 0.25 AND 612.0 * 0.5 > w AND w > 612.0 * 0.25
         |         THEN floor(h / lh)::INT
         |       WHEN w > 612.0 * 0.4 THEN 3
         |       WHEN w > 612.0 * 0.25 THEN floor(h / lh)::INT
         |       WHEN h / w > 1.2 THEN 1
         |       ELSE 2 END AS nl
         |  FROM t),
         |vx AS (SELECT doc_id, page, pos, x0, y0, bx1, by1, h, nl,
         |  unnest(range(0, nl)) AS li FROM n)
         |SELECT doc_id, page, pos, li::INT AS line_idx, x0,
         |  CASE WHEN nl = 1 THEN y0 ELSE y0 + li * (h / nl) END AS y0,
         |  bx1 AS x1,
         |  CASE WHEN nl = 1 THEN by1 ELSE y0 + (li + 1) * (h / nl) END AS y1
         |FROM vx ORDER BY doc_id, pos, line_idx""".stripMargin,

    // span->block fill: the compat matrix + in-span-area ratios + the
    // earliest-qualifying-block claim (first-wins over the block list
    // order = min pos), leftovers as block_pos -1
    "span_block_fill" ->
      s"""$detsCte,
         |sp AS (SELECT doc_id, page, pos,
         |  CASE (pos * 7 + length(word)) % 9
         |    WHEN 5 THEN 'inline_formula' WHEN 6 THEN 'figure'
         |    WHEN 7 THEN 'table' WHEN 8 THEN 'formula' ELSE 'text' END AS stype,
         |  CASE pos % 3 WHEN 0 THEN x0 + 2 WHEN 1 THEN x0 + (x1 - x0) / 2 ELSE x0 END AS sx0,
         |  CASE pos % 3 WHEN 0 THEN y0 + 2 WHEN 1 THEN y0 ELSE y0 + 55 END AS sy0,
         |  CASE pos % 3 WHEN 0 THEN x1 - 2 WHEN 1 THEN x1 + (x1 - x0) / 2 ELSE x1 END AS sx1,
         |  CASE pos % 3 WHEN 0 THEN y1 - 2 WHEN 1 THEN y1 ELSE y1 + 55 END AS sy1
         |  FROM dets),
         |asg AS (SELECT s.doc_id, s.page, s.pos, min(b.pos) AS bpos
         |  FROM sp s JOIN dets b ON b.doc_id = s.doc_id AND b.page = s.page
         |  WHERE (CASE
         |      WHEN s.stype IN ('text', 'inline_formula')
         |        THEN b.cat IN ('text', 'title', 'caption', 'footnote', 'abandon')
         |      WHEN s.stype = 'formula' THEN b.cat IN ('formula', 'text')
         |      WHEN s.stype = 'figure' THEN b.cat = 'figure'
         |      WHEN s.stype = 'table' THEN b.cat = 'table'
         |      ELSE FALSE END)
         |    AND (greatest(least(s.sx1, b.x1) - greatest(s.sx0, b.x0), 0.0)
         |         * greatest(least(s.sy1, b.y1) - greatest(s.sy0, b.y0), 0.0))
         |        / ((s.sx1 - s.sx0) * (s.sy1 - s.sy0))
         |        > CASE WHEN s.stype IN ('figure', 'table') THEN 0.9 ELSE 0.5 END
         |  GROUP BY s.doc_id, s.page, s.pos)
         |SELECT sp.doc_id, sp.page, sp.pos, sp.stype,
         |  coalesce(asg.bpos, -1)::INT AS block_pos
         |FROM sp LEFT JOIN asg
         |  ON sp.doc_id = asg.doc_id AND sp.page = asg.page AND sp.pos = asg.pos
         |ORDER BY sp.doc_id, sp.pos""".stripMargin,

    "page_median_height" ->
      s"""$detsCte
         |SELECT doc_id, page, quantile_cont(y1 - y0, 0.5) AS med_h,
         |       count(*)::BIGINT AS n_dets
         |FROM dets GROUP BY doc_id, page ORDER BY doc_id, page""".stripMargin,

    "reading_order" ->
      s"""$detsCte
         |SELECT doc_id, ord::INT AS ord, word FROM (
         |  SELECT doc_id, word,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY page, y0, x0, pos) AS ord
         |  FROM dets) ORDER BY doc_id, ord""".stripMargin,

    // column-major rank of the synthetic aligned-gap two-column layout:
    // the SQL mirror of what XYCutV3's column pre-cut must produce
    "reading_order_v3" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |e AS (SELECT doc_id, UNNEST(generate_series(1, len(w))) AS i FROM d),
        |p AS (SELECT doc_id, (i - 1)::INT AS pos FROM e),
        |r AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY doc_id, pos // 24
        |    ORDER BY (pos % 24) % 2, (pos % 24) // 2) AS rnk
        |  FROM p)
        |SELECT doc_id, pos, rnk::INT AS rnk FROM r ORDER BY doc_id, pos""".stripMargin,

    "media_ref" ->
      s"""$detsCte
         |SELECT doc_id, pos, cat,
         |  'img://' || sha256(concat_ws('_', doc_id::VARCHAR, page::VARCHAR,
         |    x0::INT::VARCHAR, y0::INT::VARCHAR, x1::INT::VARCHAR, y1::INT::VARCHAR)) AS media_ref
         |FROM dets WHERE cat IN ('figure', 'table') ORDER BY doc_id, pos""".stripMargin,

    "classify_router" ->
      """SELECT doc_id, len(string_split(text, ' '))::INT AS ntok,
        |  CASE WHEN length(text) < 150 THEN 'ocr'
        |       WHEN len(string_split(text, ' ')) < 25 THEN 'ocr'
        |       ELSE 'txt' END AS route
        |FROM documents ORDER BY doc_id""".stripMargin,

    // content-derived ladder: DuckDB recomputes every signal from the
    // committed raw text layer with the SAME pattern table (ClassifySignals)
    // the Spark side uses over its live-generated pages — the compare
    // verifies generation determinism, the regex measurements and the
    // ladder together
    "classify_router_v2" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents),
         |rp AS (SELECT g.* FROM read_parquet('${goldenPath("classify_raw")}') g
         |  JOIN ids ON g.doc_id = ids.did),
         |wp AS (SELECT *, count(*) OVER (PARTITION BY doc_id) AS pc FROM rp),
         |sampled AS (SELECT * FROM wp WHERE ${ClassifySignals.samplePredicate(spark = false)}),
         |sig AS (${ClassifySignals.pageSelect(spark = false).replace("__PAGES__", "sampled")}),
         |lad AS (${ClassifySignals.docLadder.replace("__PAGE_SIGNALS__", "sig")})
         |SELECT doc_id, fired::INT AS fired,
         |  CASE WHEN fired = 0 THEN 'txt' ELSE 'ocr' END AS route,
         |  img_cov_max::INT AS img_cov_pct
         |FROM lad ORDER BY doc_id""".stripMargin,

    "caption_nearest" ->
      s"""$detsCte,
         |caps AS (SELECT doc_id, page, pos AS cap_pos,
         |  (x0 + x1) / 2 AS ccx, (y0 + y1) / 2 AS ccy FROM dets WHERE cat = 'caption'),
         |bodies AS (SELECT doc_id AS b_doc, page AS b_page, pos AS body_pos,
         |  (x0 + x1) / 2 AS bcx, (y0 + y1) / 2 AS bcy FROM dets WHERE cat IN ('figure', 'table')),
         |j AS (SELECT caps.doc_id, caps.cap_pos, bodies.body_pos,
         |  (ccx - bcx) * (ccx - bcx) + (ccy - bcy) * (ccy - bcy) AS d2
         |  FROM caps JOIN bodies ON caps.doc_id = b_doc AND caps.page = b_page),
         |r AS (SELECT doc_id, cap_pos, body_pos, d2,
         |  row_number() OVER (PARTITION BY doc_id, cap_pos ORDER BY d2, body_pos) AS rn FROM j)
         |SELECT doc_id, cap_pos, body_pos, d2 FROM r WHERE rn = 1
         |ORDER BY doc_id, cap_pos""".stripMargin,

    "page_majority_label" ->
      s"""$detsCte,
         |counts AS (SELECT doc_id, page, cat, count(*) AS cnt FROM dets
         |  GROUP BY doc_id, page, cat),
         |r AS (SELECT doc_id, page, cat, cnt,
         |  row_number() OVER (PARTITION BY doc_id, page ORDER BY cnt DESC, cat) AS rn
         |  FROM counts)
         |SELECT doc_id, page, cat AS majority, cnt::BIGINT AS cnt FROM r WHERE rn = 1
         |ORDER BY doc_id, page""".stripMargin,

    "footnote_reclass" ->
      s"""$detsCte,
         |fns AS (SELECT doc_id, page, pos AS fn_pos,
         |  (x0 + x1) / 2 AS fcx, (y0 + y1) / 2 AS fcy FROM dets WHERE cat = 'footnote'),
         |bodies AS (SELECT doc_id AS b_doc, page AS b_page, pos AS b_pos, cat AS b_cat,
         |  (x0 + x1) / 2 AS bcx, (y0 + y1) / 2 AS bcy FROM dets WHERE cat IN ('figure', 'table')),
         |j AS (SELECT fns.doc_id, fn_pos, b_pos, b_cat,
         |  (fcx - bcx) * (fcx - bcx) + (fcy - bcy) * (fcy - bcy) AS d2
         |  FROM fns JOIN bodies ON fns.doc_id = b_doc AND fns.page = b_page),
         |r AS (SELECT doc_id, fn_pos, b_cat,
         |  row_number() OVER (PARTITION BY doc_id, fn_pos ORDER BY d2, b_pos) AS rn FROM j)
         |SELECT doc_id, fn_pos,
         |  CASE WHEN b_cat = 'figure' THEN 'image_footnote' ELSE 'table_footnote' END AS reclass
         |FROM r WHERE rn = 1 ORDER BY doc_id, fn_pos""".stripMargin,

    "det_min_width_filter" ->
      s"""$detsCte
         |SELECT doc_id, pos FROM dets WHERE x1 - x0 >= 40
         |ORDER BY doc_id, pos""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(array_to_string((string_split(text, ' '))[1:3], ' ')) AS fp,
        |  count(*)::BIGINT AS cnt, min(doc_id)::BIGINT AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "token_count" ->
      """SELECT doc_id, len(string_split(text, ' '))::INT AS n_tokens,
        |  length(text)::INT AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,

    "lang_id_v2" -> {
      val profCols = ClassifySignals.LatinMarkers.map { case (lang, words, marks) =>
        s"""sum(len(regexp_extract_all(text, '$words')) +
           |      len(regexp_extract_all(text, '$marks')))::BIGINT AS $lang""".stripMargin
      }.mkString(",\n  ")
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents),
         |rp AS (SELECT g.* FROM read_parquet('${goldenPath("classify_raw")}') g
         |  JOIN ids ON g.doc_id = ids.did),
         |c AS (SELECT doc_id,
         |  sum(len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')))::BIGINT AS han,
         |  sum(len(regexp_extract_all(text, '[\\x{3040}-\\x{30FF}]')))::BIGINT AS kana,
         |  sum(len(regexp_extract_all(text, '[\\x{AC00}-\\x{D7AF}]')))::BIGINT AS hang,
         |  sum(len(regexp_extract_all(text, '[A-Za-z]')))::BIGINT AS latin,
         |  sum(length(regexp_replace(text, '\\s+', '', 'g')))::BIGINT AS cl,
         |  $profCols
         |  FROM rp GROUP BY doc_id)
         |SELECT doc_id,
         |  CASE
         |    WHEN 2 * (han + kana + hang) > cl THEN
         |      CASE WHEN 4 * kana >= han + kana + hang THEN 'ja'
         |           WHEN 4 * hang >= han + kana + hang THEN 'ko'
         |           ELSE 'zh' END
         |    WHEN 2 * latin > cl THEN
         |      ${ClassifySignals.latinCascadeSql}
         |    ELSE 'und' END AS lang
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "lang_id_v3" -> {
      val profCols = ClassifySignals.LatinMarkers.map { case (lang, words, marks) =>
        s"""sum(len(regexp_extract_all(text, '$words')) +
           |      len(regexp_extract_all(text, '$marks')))::BIGINT AS $lang""".stripMargin
      }.mkString(",\n  ")
      val scriptCols = Queries.ScriptRanges.map { case (name, re) =>
        s"sum(len(regexp_extract_all(text, '$re')))::BIGINT AS $name"
      }.mkString(",\n  ")
      val scriptCases = Queries.ScriptLangs.map { case (name, lang) =>
        s"WHEN 2 * $name > cl THEN '$lang'"
      }.mkString("\n    ")
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents),
         |rp AS (SELECT g.* FROM read_parquet('${goldenPath("classify_raw")}') g
         |  JOIN ids ON g.doc_id = ids.did),
         |c AS (SELECT doc_id,
         |  sum(len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')))::BIGINT AS han,
         |  sum(len(regexp_extract_all(text, '[\\x{3040}-\\x{30FF}]')))::BIGINT AS kana,
         |  sum(len(regexp_extract_all(text, '[\\x{AC00}-\\x{D7AF}]')))::BIGINT AS hang,
         |  sum(len(regexp_extract_all(text, '[A-Za-z]')))::BIGINT AS latin,
         |  sum(length(regexp_replace(text, '\\s+', '', 'g')))::BIGINT AS cl,
         |  $scriptCols,
         |  $profCols
         |  FROM rp GROUP BY doc_id)
         |SELECT doc_id,
         |  CASE
         |    WHEN 2 * (han + kana + hang) > cl THEN
         |      CASE WHEN 4 * kana >= han + kana + hang THEN 'ja'
         |           WHEN 4 * hang >= han + kana + hang THEN 'ko'
         |           ELSE 'zh' END
         |    $scriptCases
         |    WHEN 2 * latin > cl THEN
         |      ${ClassifySignals.latinCascadeSql}
         |    ELSE 'und' END AS lang
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "token_count_bpe" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))::INT AS n_bpe,
        |  len(regexp_extract_all(text, ' ?\p{L}+'))::INT AS n_word
        |FROM documents ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  len(w)::INT AS ntok,
        |  len(list_filter(w, x -> x = 'the' OR x = 'a' OR x = 'of'))::INT AS stop_hits,
        |  (length(text) - (len(w)::INT - 1)) / len(w)::DOUBLE AS avg_wlen
        |  FROM t)
        |SELECT doc_id, ntok, stop_hits / ntok::DOUBLE AS stop_ratio,
        |  0.3 * least(ntok / 100.0, 1.0)
        |  + 0.4 * (1.0 - stop_hits / ntok::DOUBLE)
        |  + 0.3 * least(avg_wlen / 8.0, 1.0) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(w, x -> x = 'the' OR x = 'a'))::INT / len(w)::DOUBLE AS ratio FROM t)
        |SELECT doc_id, CASE WHEN ratio >= 0.08 THEN 'en' ELSE 'unk' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp_int
        |FROM documents ORDER BY doc_id""".stripMargin,

    // GPT-style concat-and-chunk packing: the plain global prefix sum —
    // the Spark side's two-phase range rollup must agree with it exactly
    "seq_pack" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' '))::INT AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok, coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
        |  FROM d)
        |SELECT doc_id, n_tok, tok_start,
        |  (tok_start // 256)::BIGINT AS chunk_first,
        |  ((tok_start + n_tok - 1) // 256)::BIGINT AS chunk_last
        |FROM c ORDER BY doc_id""".stripMargin,

    "stratified_sample" ->
      """WITH d AS (SELECT doc_id, text,
        |  len(string_split(text, ' '))::INT AS ntok FROM documents),
        |b AS (SELECT doc_id, text,
        |  CASE WHEN ntok >= 40 THEN 'long' WHEN ntok >= 30 THEN 'mid' ELSE 'short' END AS band
        |  FROM d),
        |g AS (SELECT doc_id, band,
        |  CASE band WHEN 'long' THEN 100 WHEN 'mid' THEN 40 ELSE 15 END AS rate,
        |  (('0x' || substr(md5(text), 1, 8))::BIGINT % 100)::INT AS gate FROM b)
        |SELECT doc_id, band, gate FROM g WHERE gate < rate ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS grams
        |  FROM d WHERE len(w) >= 3),
        |ex AS (SELECT doc_id, ('0x' || substr(md5(gr), 1, 8))::BIGINT AS gr
        |  FROM (SELECT doc_id, UNNEST(grams) AS gr FROM g)),
        |kept AS (SELECT doc_id, gr FROM (
        |  SELECT doc_id, gr, count(*) OVER (PARTITION BY gr) AS df FROM ex)
        |  WHERE df <= 32),
        |sz AS (SELECT doc_id, count(*) AS gsz FROM kept GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.gr = b.gr AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT p.doc_id, p.b_id, p.inter,
        |  p.inter / (sa.gsz + sb.gsz - p.inter)::DOUBLE AS jac
        |  FROM pairs p JOIN sz sa ON sa.doc_id = p.doc_id JOIN sz sb ON sb.doc_id = p.b_id)
        |SELECT doc_id, b_id, inter::BIGINT AS inter, jac FROM j WHERE jac >= 0.12
        |ORDER BY doc_id, b_id""".stripMargin,

    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |n AS (SELECT vec_id AS n_id, v FROM e WHERE vec_id >= 10),
        |s AS (SELECT q_id, n_id,
        |  list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (a, b) -> a + b) AS dot,
        |  list_reduce(list_transform(qv, x -> x * x), (a, b) -> a + b) AS nq,
        |  list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nv
        |  FROM q, n),
        |r AS (SELECT q_id, n_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY dot / (sqrt(nq) * sqrt(nv)) DESC, n_id) AS rank
        |  FROM s)
        |SELECT q_id, n_id, rank::INT AS rank FROM r WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    "textnorm_roundtrip" ->
      """WITH t AS (SELECT doc_id, text,
        |  replace(translate(text, 'aeos', 'ａｅｏｓ'), 'fi', 'ﬁ') AS inj
        |  FROM documents)
        |SELECT doc_id, md5(inj) AS inj_md5, md5(text) AS norm_md5
        |FROM t ORDER BY doc_id""".stripMargin,

    "markdown_escape" ->
      """SELECT doc_id,
        |  md5(replace(replace(replace(replace(text, 'a', '*a'), '*', '\*'), '`', '\`'), '~', '\~')) AS esc_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "chunk_text" ->
      """WITH d AS (SELECT doc_id, string_split(text, '. ') AS ss FROM documents),
        |e AS (SELECT doc_id, ss, UNNEST(generate_series(1, len(ss))) AS i FROM d),
        |s AS (SELECT doc_id, (i - 1)::INT AS sent_idx,
        |  len(string_split(ss[i], ' '))::INT AS toks FROM e),
        |c AS (SELECT doc_id, sent_idx, toks,
        |  (sum(toks) OVER (PARTITION BY doc_id ORDER BY sent_idx
        |     ROWS UNBOUNDED PRECEDING) - toks) AS cum_before FROM s)
        |SELECT doc_id, (cum_before // 40)::INT AS chunk_id,
        |  count(*)::BIGINT AS n_sent, sum(toks)::BIGINT AS n_tokens
        |FROM c GROUP BY doc_id, (cum_before // 40)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "chunk_locate" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents),
        |g AS (SELECT g.doc_id, g.ord, g.text
        |  FROM read_parquet('${goldenPath("extract_golden")}') g
        |  JOIN ids ON g.doc_id = ids.did),
        |t AS (SELECT doc_id, ord,
        |  CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS toks FROM g),
        |c AS (SELECT doc_id, ord, toks,
        |  (sum(toks) OVER (PARTITION BY doc_id ORDER BY ord
        |     ROWS UNBOUNDED PRECEDING) - toks) AS cum_before FROM t)
        |SELECT doc_id, (cum_before // 60)::INT AS chunk_id,
        |  min(ord)::INT AS first_ord, max(ord)::INT AS last_ord,
        |  count(*)::BIGINT AS n_spans, sum(toks)::BIGINT AS n_tokens
        |FROM c GROUP BY doc_id, (cum_before // 60)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // the fuzzy chunk->block locator: an independent SQL replay of the
    // anchor + expansion protocol (get_bbox_page_fast.py:40-120) using
    // DuckDB's native levenshtein. Candidates per chunk are the blocks at
    // or after the chunk's first ord (earlier blocks are matched by
    // earlier chunks — the matched_global invariant over block-partitioned
    // chunks, which the compare itself verifies: an overspilling Spark
    // match would break row equality); the early stop keeps candidates up
    // to the FIRST >0.95 block; expansion is the maximal contiguous
    // substring-contained run around the anchor (empty texts break it).
    "chunk_locate_fuzzy" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents),
        |g AS (SELECT g.doc_id, g.ord::INT AS ord, g.kind, g.media_ref, g.text
        |  FROM read_parquet('${goldenPath("extract_golden")}') g
        |  JOIN ids ON g.doc_id = ids.did),
        |t AS (SELECT doc_id, ord, kind, media_ref, text,
        |  CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END AS toks FROM g),
        |c AS (SELECT *, ((sum(toks) OVER (PARTITION BY doc_id ORDER BY ord
        |     ROWS UNBOUNDED PRECEDING) - toks) // 60)::INT AS chunk_id FROM t),
        |rendered AS (SELECT *, CASE
        |    WHEN kind = 'title' THEN '## ' || text
        |    WHEN kind = 'figure' THEN '![](' || media_ref || ')'
        |    WHEN kind IN ('caption', 'footnote', 'image_footnote') THEN '*' || text || '*'
        |    ELSE text END AS rend FROM c),
        |content AS (SELECT doc_id, chunk_id,
        |    string_agg(rend, chr(10) || chr(10) ORDER BY ord) AS content,
        |    min(ord) AS first_ord
        |  FROM rendered GROUP BY doc_id, chunk_id),
        |cand AS (SELECT ct.doc_id, ct.chunk_id, ct.content, b.ord,
        |    (greatest(length(ct.content), length(b.text)) -
        |     levenshtein(ct.content, b.text))::DOUBLE
        |      / greatest(length(ct.content), length(b.text)) AS ratio
        |  FROM content ct JOIN c b
        |    ON b.doc_id = ct.doc_id AND b.ord >= ct.first_ord AND b.text <> ''),
        |stop95 AS (SELECT doc_id, chunk_id, min(ord) AS stop_ord
        |  FROM cand WHERE ratio > 0.95 GROUP BY doc_id, chunk_id),
        |anchor AS (SELECT doc_id, chunk_id, ord AS a_ord, content FROM (
        |  SELECT cand.*, row_number() OVER (PARTITION BY cand.doc_id, cand.chunk_id
        |      ORDER BY cand.ratio DESC, cand.ord) AS rn
        |  FROM cand LEFT JOIN stop95 USING (doc_id, chunk_id)
        |  WHERE cand.ord <= coalesce(stop95.stop_ord, 2147483647)
        |    AND cand.ratio >= 0.1) WHERE rn = 1),
        |contained AS (SELECT a.doc_id, a.chunk_id, a.a_ord, b.ord,
        |    (b.text <> '' AND position(b.text IN a.content) > 0) AS ok
        |  FROM anchor a JOIN c b ON b.doc_id = a.doc_id),
        |lo AS (SELECT doc_id, chunk_id, a_ord,
        |    coalesce(max(ord) FILTER (WHERE ord < a_ord AND NOT ok) + 1, 0) AS lo_ord
        |  FROM contained GROUP BY doc_id, chunk_id, a_ord),
        |hi AS (SELECT doc_id, chunk_id, a_ord,
        |    coalesce(min(ord) FILTER (WHERE ord > a_ord AND NOT ok) - 1, 2147483647) AS hi_ord
        |  FROM contained GROUP BY doc_id, chunk_id, a_ord)
        |SELECT b.doc_id AS doc_id, a.chunk_id::INT AS chunk_id, b.ord AS ord
        |FROM anchor a
        |JOIN lo ON lo.doc_id = a.doc_id AND lo.chunk_id = a.chunk_id
        |JOIN hi ON hi.doc_id = a.doc_id AND hi.chunk_id = a.chunk_id
        |JOIN c b ON b.doc_id = a.doc_id AND b.ord BETWEEN lo.lo_ord AND hi.hi_ord
        |ORDER BY b.doc_id, a.chunk_id, b.ord""".stripMargin,

    "table_classify" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents)
        |SELECT g.doc_id, g.ord,
        |  CASE WHEN g.text LIKE '<table border%' THEN 'wired' ELSE 'wireless' END AS cls
        |FROM read_parquet('${goldenPath("extract_golden")}') g
        |JOIN ids ON g.doc_id = ids.did
        |WHERE g.kind = 'table'
        |ORDER BY g.doc_id, g.ord""".stripMargin,

    "checkbox_state" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents)
        |SELECT g.doc_id, g.ord,
        |  CASE WHEN g.text LIKE '☑%' THEN 'Ticked' ELSE 'Unticked' END AS state
        |FROM read_parquet('${goldenPath("extract_golden")}') g
        |JOIN ids ON g.doc_id = ids.did
        |WHERE g.kind = 'checkbox'
        |ORDER BY g.doc_id, g.ord""".stripMargin,

    "hyperlink_spans" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents)
        |SELECT g.doc_id, g.ord, g.text, g.media_ref AS url
        |FROM read_parquet('${goldenPath("extract_golden")}') g
        |JOIN ids ON g.doc_id = ids.did
        |WHERE g.kind = 'hyperlink'
        |ORDER BY g.doc_id, g.ord""".stripMargin,

    "seal_texts" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents)
        |SELECT g.doc_id, g.ord, g.text
        |FROM read_parquet('${goldenPath("extract_golden")}') g
        |JOIN ids ON g.doc_id = ids.did
        |WHERE g.kind = 'seal'
        |ORDER BY g.doc_id, g.ord""".stripMargin,

    "office_extract" -> goldenSpans("office_golden"),

    "html_extract" -> goldenSpans("html_golden"),

    "pdf_extract" -> goldenSpans("pdf_golden"),

    // the windowed slicing loop must reproduce the whole-file parse, so
    // its oracle IS the pdf_extract golden replay
    "pdf_page_slice" -> goldenSpans("pdf_golden"),

    "pdf_hyperlinks" ->
      s"""WITH ids AS (SELECT $docIdSql AS did FROM documents)
        |SELECT g.doc_id, g.ord, g.text, g.media_ref AS url
        |FROM read_parquet('${goldenPath("pdf_golden")}') g
        |JOIN ids ON g.doc_id = ids.did
        |WHERE g.kind = 'hyperlink'
        |ORDER BY g.doc_id, g.ord""".stripMargin,

    // the raw router: doc index mod 5 -> office / html / pdf / image /
    // legacy-office golden; a mis-route in any direction breaks the compare
    "ingest_raw" ->
      s"""WITH ids AS (SELECT doc_id AS i, $docIdSql AS did FROM documents)
        |SELECT * FROM (
        |  SELECT g.doc_id, g.ord, g.kind, g.media_ref, g.text
        |  FROM read_parquet('${goldenPath("office_golden")}') g
        |  JOIN ids ON g.doc_id = ids.did AND ids.i % 5 = 0
        |  UNION ALL
        |  SELECT h.doc_id, h.ord, h.kind, h.media_ref, h.text
        |  FROM read_parquet('${goldenPath("html_golden")}') h
        |  JOIN ids ON h.doc_id = ids.did AND ids.i % 5 = 1
        |  UNION ALL
        |  SELECT p.doc_id, p.ord, p.kind, p.media_ref, p.text
        |  FROM read_parquet('${goldenPath("pdf_golden")}') p
        |  JOIN ids ON p.doc_id = ids.did AND ids.i % 5 = 2
        |  UNION ALL
        |  SELECT m.doc_id, m.ord, m.kind, m.media_ref, m.text
        |  FROM read_parquet('${goldenPath("image_golden")}') m
        |  JOIN ids ON m.doc_id = ids.did AND ids.i % 5 = 3
        |  UNION ALL
        |  SELECT o.doc_id, o.ord, o.kind, o.media_ref, o.text
        |  FROM read_parquet('${goldenPath("ole_golden")}') o
        |  JOIN ids ON o.doc_id = ids.did AND ids.i % 5 = 4
        |) ORDER BY doc_id, ord""".stripMargin,

    // block-aware chunk packing replayed as a sequential walk (recursive
    // CTE advances every doc by one span per step) over the committed
    // golden spans — an independent implementation of the same splitter
    // semantics the Spark side walks in Scala
    "chunk_blocks" ->
      s"""WITH RECURSIVE ids AS (SELECT $docIdSql AS did FROM documents),
        |g AS (SELECT g.doc_id, g.ord::INT AS ord, g.kind,
        |    CASE WHEN g.text = '' THEN 0 ELSE len(string_split(g.text, ' ')) END AS toks,
        |    row_number() OVER (PARTITION BY g.doc_id ORDER BY g.ord) AS rn
        |  FROM read_parquet('${goldenPath("extract_golden")}') g
        |  JOIN ids ON g.doc_id = ids.did),
        |walk AS (
        |  SELECT doc_id, rn, ord, toks, 1 AS chunk_id, toks AS cum FROM g WHERE rn = 1
        |  UNION ALL
        |  SELECT s.doc_id, s.rn, s.ord, s.toks,
        |    CASE WHEN ((s.kind IN ('title', 'table', 'algorithm') AND w.cum >= 12)
        |            OR (w.cum + s.toks > 60 AND w.cum >= 12))
        |      THEN w.chunk_id + 1 ELSE w.chunk_id END,
        |    CASE WHEN ((s.kind IN ('title', 'table', 'algorithm') AND w.cum >= 12)
        |            OR (w.cum + s.toks > 60 AND w.cum >= 12))
        |      THEN s.toks ELSE w.cum + s.toks END
        |  FROM walk w JOIN g s ON s.doc_id = w.doc_id AND s.rn = w.rn + 1)
        |SELECT doc_id, chunk_id::INT AS chunk_id, min(ord) AS first_ord,
        |  max(ord) AS last_ord, count(*)::BIGINT AS n_spans, sum(toks)::BIGINT AS n_tokens
        |FROM walk GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS cnt,
        |  sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
        |  sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_price_cents
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_join_topk" ->
      """SELECT c_mktsegment, o_orderkey, rn::INT AS rn FROM (
        |  SELECT c.c_mktsegment, o.o_orderkey,
        |    row_number() OVER (PARTITION BY c.c_mktsegment
        |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts)::BIGINT AS ms, event_id FROM events),
        |l AS (SELECT user_id, ms, event_id,
        |  lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
        |f AS (SELECT user_id, ms,
        |  CASE WHEN prev_ms IS NULL OR ms - prev_ms > 30 * 60000 THEN 1 ELSE 0 END AS new_sess,
        |  event_id FROM l),
        |s AS (SELECT user_id, ms,
        |  (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |     ROWS UNBOUNDED PRECEDING))::INT AS session_idx FROM f)
        |SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
        |  min(ms)::BIGINT AS start_ms, max(ms)::BIGINT AS end_ms
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,

    "asof_join" ->
      """WITH u AS (
        |  SELECT o_custkey AS k, epoch_ms(o_orderdate)::BIGINT AS ms, 0 AS src,
        |    o_orderkey AS okey, NULL::BIGINT AS event_id FROM orders
        |  UNION ALL
        |  SELECT user_id AS k, epoch_ms(ts)::BIGINT AS ms, 1 AS src,
        |    NULL::BIGINT AS okey, event_id FROM events),
        |w AS (SELECT k, ms, src, okey, event_id,
        |  last_value(okey IGNORE NULLS) OVER (PARTITION BY k ORDER BY ms, src, okey
        |    ROWS UNBOUNDED PRECEDING) AS asof_okey FROM u)
        |SELECT event_id, coalesce(asof_okey, -1)::BIGINT AS asof_okey
        |FROM w WHERE src = 1 ORDER BY event_id""".stripMargin,

    "events_hourly" ->
      """SELECT event_type, epoch_ms(date_trunc('hour', ts))::BIGINT AS hour_ms,
        |  count(*)::BIGINT AS cnt
        |FROM events GROUP BY event_type, hour_ms
        |ORDER BY event_type, hour_ms""".stripMargin,
  )
}
