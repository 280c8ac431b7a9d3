package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.corpus.DocGen
import graft.schema.OutSpan

/** SQL-checkable operator queries over the driver testdata tables.
  *
  * Each builder here has a DuckDB oracle in [[Oracles]]. All arithmetic is
  * integer-exact (or order-identical double arithmetic) on both sides so the
  * driver's value-hash compare is bit-stable. The `dets` table below is the
  * SQL-expressible analogue of the reference's layout-detection output rows
  * (cf. /root/reference/rapid_doc/model/layout/rapid_layout.py:99-106): one
  * detection per word token with a deterministic bbox/score/category, used to
  * exercise the geometric cleanup operators of SURVEY.md §2.2-2.5 in a form
  * DuckDB can replay.
  */
object Queries {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** doc-id stream for the converter tier (office/html/pdf/ingest), hash-
    * repartitioned across the session's cores. r6 (guide §2.5 input skew):
    * the documents table is ONE parquet row group, so without this every
    * per-doc parse ran in a SINGLE task (measured pdf_extract 5.0s -> 0.7s
    * at local[32]). The shuffle moves bare 8-byte ids; the explicit
    * partition count keeps AQE from coalescing the tiny exchange back to
    * one partition; hash-on-doc_id (not round-robin) stays deterministic
    * under retries and skips the sort-before-repartition pass. */
  private def converterIds(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    tbl(spark, dir, "documents")
      .select(col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .as[Long].map(DocGen.docId _)
  }

  /** The span-row frame every span table shares: each id's spans from
    * `spans`, exploded inside the partition to ordered `(doc_id, ord,
    * kind, media_ref, text)` rows, `ord` being the span's `order`. The
    * converter queries and their committed goldens
    * ([[graft.tools.GoldenDump]]) are both this frame. */
  private[graft] def spanRows(ids: Dataset[String])(spans: String => Seq[OutSpan]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions(_.flatMap { id =>
      spans(id).map(s => (id, s.order, s.kind, s.media_ref, s.text))
    }).toDF("doc_id", "ord", "kind", "media_ref", "text")
      .orderBy("doc_id", "ord")
  }

  /** Each document's raw text layer ([[DocGen.rawPages]]), generated
    * live; the classify_raw golden is its frozen copy. */
  private def rawPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.pipeline.Extract.docIds(spark, dir).flatMap(DocGen.rawPages).toDF()
  }

  /** Deterministic synthetic layout-det table derived from `documents`:
    * one det per word. Bboxes collide pairwise (slot = pos % 12, two words
    * per 24-word page share a cell) so IoU dedup is non-trivial.
    * r6 note (guide §2.5): unlike the converter tier, the single-row-group
    * scan is NOT a pathology here — a one-off r6 probe measured the
    * whole single-task explode + det arithmetic at ~0.22 s while a
    * pre-explode hash repartition costs a ~0.13 s text shuffle in every
    * dets query for a ~0.02 s parallel-explode gain. The dets-family time
    * lives in each query's own downstream shuffles; left un-repartitioned
    * (OPTIMIZATION_r06.md). */
  def dets(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn("wlen", length(col("word")))
      .withColumn("page", expr("pos div 24"))
      .withColumn("slot", expr("pos % 12"))
      .withColumn("x0", expr("CAST(40 + (slot % 4) * 130 AS DOUBLE)"))
      .withColumn("y0", expr("CAST(60 + (slot div 4) * 110 AS DOUBLE)"))
      .withColumn("x1", expr("x0 + 20 + 8 * wlen"))
      .withColumn("y1", expr("y0 + 18 + (wlen % 5) * 16"))
      .withColumn("score", expr("((wlen * 7 + pos * 13) % 100) / 100.0"))
      .withColumn("cat", expr(
        "CASE (pos * 31 + wlen) % 12 WHEN 0 THEN 'title' WHEN 7 THEN 'figure' " +
          "WHEN 8 THEN 'caption' WHEN 9 THEN 'table' WHEN 10 THEN 'footnote' " +
          "WHEN 11 THEN 'abandon' ELSE 'text' END"))

  /** Virtual line injection (insert_lines_into_block + get_line_height,
    * block_sort.py:40-130): every non-discarded det slices through the
    * exact reference ladder, at the page's exact-median text-line height
    * (default 10) — the line granularity the reference's sorter consumes.
    * Plan: one shuffle for the per-page median, broadcast-joined back,
    * then a narrow typed flatMap through the ported Scala ladder; DuckDB
    * replays median + ladder + unnest(range(n)) arithmetic bit-exactly
    * (closed-form y0 + i·lh on both sides). */
  def virtualLines(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // block-scale boxes derived from the det synthesis (det boxes are
    // word-scale — too narrow to reach the ladder's page-fraction
    // branches): widths 60..339 and heights 20..239 sweep every branch,
    // including the quarter/half-page column tests against 612x792
    val d = dets(spark, dir)
      .withColumn("bx1", expr("x0 + 60 + (wlen * 37 + pos * 11) % 280"))
      .withColumn("by1", expr("y0 + 20 + (pos * 17 + wlen * 5) % 220"))
    val lh = d.filter(col("cat").isin("text", "title", "caption", "footnote"))
      .groupBy(col("doc_id"), col("page"))
      .agg(expr("percentile(CAST(by1 - y0 AS INT), 0.5)").as("line_height"))
    d.filter(col("cat") =!= "abandon")
      .join(broadcast(lh), Seq("doc_id", "page"), "left")
      .select(col("doc_id"), col("page").cast("int").as("page"),
        col("pos").cast("int").as("pos"),
        col("x0"), col("y0"), col("bx1"), col("by1"),
        coalesce(col("line_height"), lit(10.0)).as("lh"))
      // r6 (guide §2.5): the broadcast join keeps the dets side's single
      // input partition (one parquet row group), so the typed ladder below
      // ran in ONE task; hash-spread it across the session's cores
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"), col("pos"))
      .as[(Long, Int, Int, Double, Double, Double, Double, Double)]
      .flatMap { case (doc, page, pos, x0, y0, x1, y1, lh0) =>
        graft.order.VirtualLines.insertLines(x0, y0, x1, y1, lh0, 612.0, 792.0)
          .zipWithIndex.map { case ((lx0, ly0, lx1, ly1), li) =>
            (doc, page, pos, li, lx0, ly0, lx1, ly1)
          }
      }
      .toDF("doc_id", "page", "pos", "line_idx", "x0", "y0", "x1", "y1")
      .orderBy("doc_id", "pos", "line_idx")
  }

  /** span→block fill (fill_spans_in_blocks + span_block_type_compatible,
    * span_block_fix.py:9-69) driven per page through the ported Scala
    * join: each synthetic span (contained / half-out at the exact 0.5
    * boundary / far-shifted) claims the FIRST type-compatible block
    * covering more than 0.5 of the span's area (0.9 for image/table
    * spans); unclaimed spans surface with block_pos -1 — the leftover
    * residue the reference routes to the discarded pass
    * (model_json_to_middle_json.py:156). One shuffle (the per-page
    * regroup); DuckDB replays the variants, the compat matrix and
    * earliest-qualifying-block as min(pos). */
  def spanBlockFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = dets(spark, dir)
      .select(col("doc_id"), col("page").cast("int"), col("pos").cast("int"),
        col("wlen").cast("int"), col("cat"),
        col("x0"), col("y0"), col("x1"), col("y1"))
      .as[(Long, Int, Int, Int, String, Double, Double, Double, Double)]
    rows.groupByKey { case (doc, page, _, _, _, _, _, _, _) => (doc, page) }
      .flatMapGroups { (key: (Long, Int),
          it: Iterator[(Long, Int, Int, Int, String, Double, Double, Double, Double)]) =>
        val (doc, page) = key
        val ds = it.toVector.sortBy(_._3)
        val blocks = ds.map { case (_, _, _, _, cat, x0, y0, x1, y1) =>
          (cat, x0, y0, x1, y1)
        }
        val spans = ds.map { case (_, _, pos, wlen, _, x0, y0, x1, y1) =>
          val w = x1 - x0
          val stype = (pos * 7 + wlen) % 9 match {
            case 5 => graft.schema.Kinds.InlineFormula
            case 6 => graft.schema.Kinds.Figure
            case 7 => graft.schema.Kinds.Table
            case 8 => graft.schema.Kinds.Formula
            case _ => graft.schema.Kinds.Text
          }
          (pos % 3: @unchecked) match {
            case 0 => (pos, stype, x0 + 2, y0 + 2, x1 - 2, y1 - 2)
            case 1 => (pos, stype, x0 + w / 2, y0, x1 + w / 2, y1)
            case 2 => (pos, stype, x0, y0 + 55, x1, y1 + 55)
          }
        }
        graft.pipeline.SpanFill.fill(blocks, spans, 0.5).map {
          case (spanPos, bi) =>
            (doc, page, spanPos, spans.find(_._1 == spanPos).get._2,
              if (bi < 0) -1 else ds(bi)._3)
        }
      }
      .toDF("doc_id", "page", "pos", "stype", "block_pos")
      .orderBy("doc_id", "pos")
  }

  // ---------------------------------------------------------------------
  // §2.2 geometric cleanup operators
  // ---------------------------------------------------------------------

  /** Low-confidence filter: drop dets with score <= 0.05
    * (reference: pipeline_magic_model.py:72-82). Score is emitted as the
    * integer percent it was derived from (never touches float arithmetic)
    * so the driver's value hash is bit-stable — same trick as q1_agg's
    * integer cents. */
  def detLowConfFilter(spark: SparkSession, dir: String): DataFrame =
    dets(spark, dir)
      .filter(col("score") > 0.05)
      .withColumn("score_pct", expr("CAST((wlen * 7 + pos * 13) % 100 AS INT)"))
      .select(col("doc_id"), col("pos"), col("word"), col("score_pct"))
      .orderBy("doc_id", "pos")

  /** High-IoU dedup: within a page, drop a det when another det overlaps it
    * with IoU > 0.9 and has a higher score (ties: lower pos wins)
    * (reference: pipeline_magic_model.py:84-110). Expressed as a left-anti
    * self-join — the distributed form of the reference's O(n^2) page loop. */
  def detIouDedup(spark: SparkSession, dir: String): DataFrame = {
    // r6 (guide §3.1): `slot` joins as an extra EQUI-key. Result-identical
    // by geometry: slot columns sit 130 px apart in x and rows 110 px in y,
    // while a det box is at most 20+8·wlen wide and 18+4·16 high — with the
    // corpus vocabulary (max word length 8, asserted by SizingSpec) two
    // dets in different slots cannot even intersect (84 < 130, 82 < 110),
    // so IoU > 0.9 implies same slot. The per-key self-join fan-out drops
    // from (dets/page)² to (dets/slot)² — ~12x fewer pair evaluations.
    val d = dets(spark, dir)
    val a = d.select(col("doc_id"), col("page"), col("slot"), col("pos"), col("word"),
      col("x0"), col("y0"), col("x1"), col("y1"), col("score"))
    val b = a.select(a.columns.map(c => col(c).as("b_" + c)): _*)
    val interW = greatest(least(col("x1"), col("b_x1")) - greatest(col("x0"), col("b_x0")), lit(0.0))
    val interH = greatest(least(col("y1"), col("b_y1")) - greatest(col("y0"), col("b_y0")), lit(0.0))
    val inter = interW * interH
    val areaA = (col("x1") - col("x0")) * (col("y1") - col("y0"))
    val areaB = (col("b_x1") - col("b_x0")) * (col("b_y1") - col("b_y0"))
    val iou = inter / (areaA + areaB - inter)
    val losers = a.join(b,
      col("doc_id") === col("b_doc_id") && col("page") === col("b_page") &&
        col("slot") === col("b_slot") &&
        col("pos") =!= col("b_pos") && iou > 0.9 &&
        (col("b_score") > col("score") ||
          (col("b_score") === col("score") && col("b_pos") < col("pos"))),
      "left_semi")
    a.join(losers.select(col("doc_id").as("l_doc"), col("pos").as("l_pos")),
        col("doc_id") === col("l_doc") && col("pos") === col("l_pos"), "left_anti")
      .select(col("doc_id"), col("pos"), col("word"))
      .orderBy("doc_id", "pos")
  }

  /** Exact per-page median det height (reference: block_sort.py:40-54 uses an
    * exact median of line heights; percentile() is Spark's exact median). */
  def pageMedianHeight(spark: SparkSession, dir: String): DataFrame =
    dets(spark, dir)
      .groupBy(col("doc_id"), col("page"))
      .agg(expr("percentile(y1 - y0, 0.5)").as("med_h"),
        count(lit(1)).as("n_dets"))
      .orderBy("doc_id", "page")

  /** Reading-order sort via the model-order shortcut analogue
    * (reference: block_sort.py:154-170): order dets per doc by
    * (page, y0, x0, pos) and emit a dense order index. */
  def readingOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("page"), col("y0"), col("x0"), col("pos"))
    dets(spark, dir)
      .withColumn("ord", row_number().over(w))
      .select(col("doc_id"), col("ord"), col("word"))
      .orderBy("doc_id", "ord")
  }

  /** XY-cut++ v3 reading order over a synthetic two-column layout with
    * ALIGNED cross-column y-gaps — the layout class the classic cut
    * provably mis-orders (interleaves rows) and the v3 column pre-cut
    * reads column-major (xycut_plus_v3.py:459-579, xycut_enhanced). Runs
    * the engine's real XYCutV3 per (doc, page) via a typed group fold; the
    * oracle replays the expected column-major rank in SQL. */
  def readingOrderV3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = tbl(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos").cast("int").as("pos"))
      .as[(Long, Int)]
    d.groupByKey { case (id, pos) => (id, pos / 24) }
      .flatMapGroups { (key: (Long, Int), it: Iterator[(Long, Int)]) =>
        val id = key._1
        val ps = it.map(_._2).toVector.sorted
        val boxes = ps.map { p =>
          val idx = p % 24; val c = idx % 2; val r = idx / 2
          (40.0 + c * 300.0, 60.0 + r * 55.0, 240.0 + c * 300.0, 100.0 + r * 55.0)
        }
        val ord = graft.order.XYCutV3.order(boxes)
        ord.zipWithIndex.map { case (bi, rnk) => (id, ps(bi), rnk + 1) }
      }
      .toDF("doc_id", "pos", "rnk")
      .orderBy("doc_id", "pos")
  }

  /** Deterministic media_ref derivation for figure/table dets — the
    * reference names cropped images sha256(content-addressed)
    * (rapid_doc/utils/pdf_image_tools.py:203-218). Pure column expression:
    * no pixel I/O is needed for span identity. */
  def mediaRef(spark: SparkSession, dir: String): DataFrame =
    dets(spark, dir)
      .filter(col("cat").isin("figure", "table"))
      .withColumn("media_ref", concat(lit("img://"), sha2(concat_ws("_",
        col("doc_id").cast("string"), col("page").cast("string"),
        col("x0").cast("int").cast("string"), col("y0").cast("int").cast("string"),
        col("x1").cast("int").cast("string"), col("y1").cast("int").cast("string")), 256)))
      .select(col("doc_id"), col("pos"), col("cat"), col("media_ref"))
      .orderBy("doc_id", "pos")

  /** txt-vs-ocr router (reference: rapid_doc/utils/pdf_classify.py:91-237):
    * ordered short-circuit rules over per-doc scalar aggregates. */
  def classifyRouter(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("ntok", size(split(col("text"), " ")))
      .withColumn("route", expr(
        "CASE WHEN length(text) < 150 THEN 'ocr' WHEN size(split(text, ' ')) < 25 THEN 'ocr' ELSE 'txt' END"))
      .select(col("doc_id"), col("ntok"), col("route"))
      .orderBy("doc_id")

  /** txt-vs-ocr router v2 — the reference's full ordered signal ladder
    * (pdf_classify.py:91-237) with thresholds verbatim (constants at
    * pdf_classify.py:17-44), computed from CONTENT: the engine generates
    * the raw pdfium text layer per document (DocGen.rawPages — the same
    * corpus the committed classify_raw.parquet freezes) and every ladder
    * input is a regex tally over that text (ClassifySignals — one pattern
    * table feeding both engines, integer-exact threshold products): page
    * aspect > 10; avg cleaned chars/page < 50; unicode-map error ratio >=
    * 0.04; CID-font usage >= 30 chars and >= 1% of a page; abnormal-char
    * (U+FFFD/control/private-use) ratio >= 0.03 over >= 300 chars;
    * cross-script mix over 21 script ranges; non-whitelisted U+7280-72DF
    * >= 30 at >= 2.6% of Han; ASCII-punct garbage >= 25% with >= 10% in
    * runs (dot-leader TOC lines exempted). High image coverage alone does
    * NOT flip to ocr (pdf_classify.py:219-232) — `img_cov_pct` shows it. */
  def classifyRouterV2(spark: SparkSession, dir: String): DataFrame = {
    graft.ext.GraftExtensions.install(spark) // count_matches / matched_chars
    val sampled = rawPages(spark, dir)
      .withColumn("pc", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(expr(ClassifySignals.samplePredicate(spark = true)))
    sampled.createOrReplaceTempView("graft_classify_pages")
    spark.sql(ClassifySignals.pageSelect(spark = true)
        .replace("__PAGES__", "graft_classify_pages"))
      .createOrReplaceTempView("graft_classify_signals")
    spark.sql(ClassifySignals.docLadder
        .replace("__PAGE_SIGNALS__", "graft_classify_signals"))
      .withColumn("route", when(col("fired") === 0, lit("txt")).otherwise(lit("ocr")))
      .select(col("doc_id"), col("fired").cast("int").as("fired"), col("route"),
        col("img_cov_max").cast("int").as("img_cov_pct"))
      .orderBy("doc_id")
  }

  /** Caption→body nearest-neighbour assignment, the SQL-checkable core of
    * the reference's caption tie-up (magic_model_utils.py:30-169): each
    * caption det joins to the nearest figure/table body det on its page by
    * squared center distance (ties: lower body pos). */
  def captionNearest(spark: SparkSession, dir: String): DataFrame = {
    val d = dets(spark, dir)
    val caps = d.filter(col("cat") === "caption")
      .select(col("doc_id"), col("page"), col("pos").as("cap_pos"),
        ((col("x0") + col("x1")) / 2).as("ccx"), ((col("y0") + col("y1")) / 2).as("ccy"))
    val bodies = d.filter(col("cat").isin("figure", "table"))
      .select(col("doc_id").as("b_doc"), col("page").as("b_page"), col("pos").as("body_pos"),
        ((col("x0") + col("x1")) / 2).as("bcx"), ((col("y0") + col("y1")) / 2).as("bcy"))
    val joined = caps.join(bodies,
      col("doc_id") === col("b_doc") && col("page") === col("b_page"), "inner")
      .withColumn("d2", (col("ccx") - col("bcx")) * (col("ccx") - col("bcx")) +
        (col("ccy") - col("bcy")) * (col("ccy") - col("bcy")))
    val w = Window.partitionBy(col("doc_id"), col("cap_pos"))
      .orderBy(col("d2"), col("body_pos"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cap_pos"), col("body_pos"), col("d2"))
      .orderBy("doc_id", "cap_pos")
  }

  /** Per-page majority label (the reference's majority votes for rotation /
    * sort label / text direction, SURVEY §2.4) with a deterministic
    * tiebreak (count desc, label asc). */
  def pageMajorityLabel(spark: SparkSession, dir: String): DataFrame = {
    val counts = dets(spark, dir)
      .groupBy(col("doc_id"), col("page"), col("cat"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("doc_id"), col("page"))
      .orderBy(col("cnt").desc, col("cat"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("page"), col("cat").as("majority"), col("cnt"))
      .orderBy("doc_id", "page")
  }

  /** Footnote re-classification by nearest body kind (reference
    * __fix_footnote, pipeline_magic_model.py:112-162): a footnote nearer to
    * a figure than any table becomes an image footnote. */
  def footnoteReclass(spark: SparkSession, dir: String): DataFrame = {
    val d = dets(spark, dir)
    val fns = d.filter(col("cat") === "footnote")
      .select(col("doc_id"), col("page"), col("pos").as("fn_pos"),
        ((col("x0") + col("x1")) / 2).as("fcx"), ((col("y0") + col("y1")) / 2).as("fcy"))
    val bodies = d.filter(col("cat").isin("figure", "table"))
      .select(col("doc_id").as("b_doc"), col("page").as("b_page"),
        col("pos").as("b_pos"), col("cat").as("b_cat"),
        ((col("x0") + col("x1")) / 2).as("bcx"), ((col("y0") + col("y1")) / 2).as("bcy"))
    val w = Window.partitionBy(col("doc_id"), col("fn_pos"))
      .orderBy(col("d2"), col("b_pos"))
    fns.join(bodies, col("doc_id") === col("b_doc") && col("page") === col("b_page"))
      .withColumn("d2", (col("fcx") - col("bcx")) * (col("fcx") - col("bcx")) +
        (col("fcy") - col("bcy")) * (col("fcy") - col("bcy")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("reclass",
        when(col("b_cat") === "figure", lit("image_footnote"))
          .otherwise(lit("table_footnote")))
      .select(col("doc_id"), col("fn_pos"), col("reclass"))
      .orderBy("doc_id", "fn_pos")
  }

  /** OCR min-width filter (ocr_utils.py:388-390): detection boxes narrower
    * than the minimum are dropped before recognition. */
  def detMinWidthFilter(spark: SparkSession, dir: String): DataFrame =
    dets(spark, dir)
      .filter(col("x1") - col("x0") >= 40)
      .select(col("doc_id"), col("pos"))
      .orderBy("doc_id", "pos")

  // ---------------------------------------------------------------------
  // Training-data pipeline operators (dedup / text analysis / similarity)
  // ---------------------------------------------------------------------

  /** Exact dedup by content fingerprint: hash-groupBy on a normalized key
    * (here: first 3 tokens) — the map-side-combinable exact-dedup shape. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("fp", md5(concat_ws(" ", slice(split(col("text"), " "), 1, 3))))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))
      .orderBy("fp")

  /** Whitespace token count per document. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"),
        length(col("text")).as("n_chars_m"))
      .orderBy("doc_id")

  /** BPE-style pre-tokenizer count: the GPT-2 pre-tokenization segments
    * (contraction suffixes, space-prefixed letter/digit/punct runs,
    * whitespace runs) WITHOUT lookaheads, so the identical pattern runs
    * under both Java regex and RE2 — the budget-estimation token count a
    * training pipeline uses before the real BPE merge pass. */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("n_bpe", graft.functions.TextFns.countMatches(col("text"),
        """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""))
      .withColumn("n_word",
        graft.functions.TextFns.countMatches(col("text"), """ ?\p{L}+"""))
      .select(col("doc_id"), col("n_bpe"), col("n_word"))
      .orderBy("doc_id")

  /** GPT-style sequence packing (concat-and-chunk): documents concatenate
    * in doc_id order into one token stream cut every [[SeqPackBudget]]
    * tokens; each doc reports its stream offset and the first/last training
    * chunk it lands in. The prefix sum is the DISTRIBUTED two-phase shape —
    * per-range partial sums roll up over the (tiny) range table, never a
    * global single-partition window: the in-range cumsum windows partition
    * by range, and only the #ranges-row offset table sees an unpartitioned
    * window (at 10^12 docs, make the range a million docs and recurse —
    * the pattern, not the constant, is the contract). */
  val SeqPackBudget = 256
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
      .withColumn("rng", expr("doc_id div 100"))
    val inRange = Window.partitionBy(col("rng")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rangeTotals = docs.groupBy(col("rng")).agg(sum(col("n_tok")).as("rtot"))
    val overRanges = Window.orderBy(col("rng"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = rangeTotals
      .withColumn("roff", coalesce(sum(col("rtot")).over(overRanges), lit(0L)))
      .select(col("rng"), col("roff"))
    docs
      .withColumn("incum", coalesce(sum(col("n_tok")).over(inRange), lit(0L)))
      .join(broadcast(offsets), "rng")
      .withColumn("tok_start", col("roff") + col("incum"))
      .select(col("doc_id"), col("n_tok"), col("tok_start"),
        expr(s"tok_start div $SeqPackBudget").as("chunk_first"),
        expr(s"(tok_start + n_tok - 1) div $SeqPackBudget").as("chunk_last"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified downsampling — the corpus-rebalancing pass a
    * training pipeline runs before mixing (keep rates per stratum, membership
    * by content hash so the sample is reproducible and shard-free): strata =
    * token-count bands, keep when the doc fingerprint's first 8 hex digits
    * mod 100 fall under the band's rate (long docs kept whole, short ones
    * thinned hard). Hash-gate sampling is embarrassingly parallel — no
    * shuffle at all until a downstream consumer asks for one. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("ntok", size(split(col("text"), " ")))
      .withColumn("band", expr(
        "CASE WHEN ntok >= 40 THEN 'long' WHEN ntok >= 30 THEN 'mid' ELSE 'short' END"))
      .withColumn("rate", expr(
        "CASE band WHEN 'long' THEN 100 WHEN 'mid' THEN 40 ELSE 15 END"))
      .withColumn("gate", expr(
        "CAST(conv(substring(md5(text), 1, 8), 16, 10) % 100 AS INT)"))
      .filter(col("gate") < col("rate"))
      .select(col("doc_id"), col("band"), col("gate"))
      .orderBy("doc_id")

  /** Heuristic document quality score: token count, stopword ratio and
    * average token length folded into [0,1]. Raw double output — identical
    * operation order on both sides makes it bit-exact. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("ntok", size(col("w")))
      .withColumn("stop_hits", size(filter(col("w"),
        x => x === "the" || x === "a" || x === "of")))
      .withColumn("avg_wlen",
        (length(col("text")) - (col("ntok") - 1)) / col("ntok").cast("double"))
      .withColumn("stop_ratio", col("stop_hits") / col("ntok").cast("double"))
      .withColumn("quality",
        lit(0.3) * least(col("ntok") / lit(100.0), lit(1.0)) +
          lit(0.4) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(col("avg_wlen") / lit(8.0), lit(1.0)))
      .select(col("doc_id"), col("ntok"), col("stop_ratio"), col("quality"))
      .orderBy("doc_id")

  /** Heuristic language ID by stopword ratio (n-gram-free deterministic
    * variant; the reference delegates to fasttext, utils/language.py:22-41). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .withColumn("stop_hits", size(filter(col("w"), x => x === "the" || x === "a")))
      .withColumn("ratio", col("stop_hits") / size(col("w")).cast("double"))
      .withColumn("lang_pred",
        when(col("ratio") >= lit(0.08), lit("en")).otherwise(lit("unk")))
      .select(col("doc_id"), col("lang_pred"))
      .orderBy("doc_id")

  /** Script-profile language ID over the raw pdfium text layer — the
    * content-derived upgrade of [[langId]] (the reference delegates to
    * fasttext, utils/language.py:22-41, grouping zh/ja/ko): per-doc script
    * tallies decide the language with integer-exact majorities — a
    * CJK-dominant doc splits ja (kana) / ko (hangul syllables) / zh (Han),
    * a latin-dominant doc is en, anything else und. Spark generates the
    * pages live; DuckDB recomputes the same regex tallies from the
    * committed classify_raw.parquet. */
  def langIdV2(spark: SparkSession, dir: String): DataFrame = {
    val raw = rawPages(spark, dir)
    // latin stopword/diacritic profiles (r4): marker + diacritic tallies
    // per language from the SHARED pattern table
    val profiled = graft.queries.ClassifySignals.LatinMarkers
      .foldLeft(raw
        .withColumn("han", graft.functions.TextFns.countMatches(col("text"), """[\x{4E00}-\x{9FFF}]"""))
        .withColumn("kana", graft.functions.TextFns.countMatches(col("text"), """[\x{3040}-\x{30FF}]"""))
        .withColumn("hang", graft.functions.TextFns.countMatches(col("text"), """[\x{AC00}-\x{D7AF}]"""))
        .withColumn("latin", graft.functions.TextFns.countMatches(col("text"), "[A-Za-z]"))
        .withColumn("cl", expr("""length(regexp_replace(text, '\\s+', ''))"""))) {
        case (df, (lang, words, marks)) =>
          df.withColumn(s"p_$lang",
            graft.functions.TextFns.countMatches(col("text"), words) +
              graft.functions.TextFns.countMatches(col("text"), marks))
      }
    val profCols = graft.queries.ClassifySignals.LatinMarkers.map {
      case (lang, _, _) => sum(col(s"p_$lang")).as(lang)
    }
    profiled
      .groupBy(col("doc_id"))
      .agg(sum(col("han")).as("han"),
        (Seq(sum(col("kana")).as("kana"),
          sum(col("hang")).as("hang"), sum(col("latin")).as("latin"),
          sum(col("cl")).as("cl")) ++ profCols): _*)
      .withColumn("lang", expr(
        s"""CASE
           |  WHEN 2 * (han + kana + hang) > cl THEN
           |    CASE WHEN 4 * kana >= han + kana + hang THEN 'ja'
           |         WHEN 4 * hang >= han + kana + hang THEN 'ko'
           |         ELSE 'zh' END
           |  WHEN 2 * latin > cl THEN
           |    ${graft.queries.ClassifySignals.latinCascadeSql}
           |  ELSE 'und' END""".stripMargin))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Script ranges for the breadth classes, shared by the Spark tallies
    * and (name-by-name) the DuckDB oracle replay. */
  private[queries] val ScriptRanges: Vector[(String, String)] = Vector(
    "cyr" -> """[\x{0400}-\x{04FF}]""",
    "grek" -> """[\x{0370}-\x{03FF}]""",
    "arab" -> """[\x{0600}-\x{06FF}]""",
    "hebr" -> """[\x{0590}-\x{05FF}]""",
    "thai" -> """[\x{0E00}-\x{0E7F}]""",
    "deva" -> """[\x{0900}-\x{097F}]""")

  private[queries] val ScriptLangs =
    Vector("cyr" -> "ru", "grek" -> "el", "arab" -> "ar",
      "hebr" -> "he", "thai" -> "th", "deva" -> "hi")

  /** Breadth language ID (v3): [[langIdV2]]'s CJK split + latin cascade
    * widened with six script-dominant classes — Cyrillic→ru, Greek→el,
    * Arabic→ar, Hebrew→he, Thai→th, Devanagari→hi. fasttext
    * (utils/language.py:22-41) covers ~170 languages from character
    * n-grams; script-range dominance is the deterministic, content-
    * derivable slice of that surface, and the scripts checked here are
    * single-language in practice at the corpus contract. Ladder order:
    * CJK first (a CJK page with minority foreign runs stays zh/ja/ko,
    * matching v2), then each script by majority over the cleaned length,
    * then the latin stopword/diacritic cascade. */
  def langIdV3(spark: SparkSession, dir: String): DataFrame = {
    val raw = rawPages(spark, dir)
    val base = ScriptRanges.foldLeft(raw
      .withColumn("han", graft.functions.TextFns.countMatches(col("text"), """[\x{4E00}-\x{9FFF}]"""))
      .withColumn("kana", graft.functions.TextFns.countMatches(col("text"), """[\x{3040}-\x{30FF}]"""))
      .withColumn("hang", graft.functions.TextFns.countMatches(col("text"), """[\x{AC00}-\x{D7AF}]"""))
      .withColumn("latin", graft.functions.TextFns.countMatches(col("text"), "[A-Za-z]"))
      .withColumn("cl", expr("""length(regexp_replace(text, '\\s+', ''))"""))) {
      case (df, (name, re)) =>
        df.withColumn(name, graft.functions.TextFns.countMatches(col("text"), re))
    }
    val profiled = graft.queries.ClassifySignals.LatinMarkers
      .foldLeft(base) { case (df, (lang, words, marks)) =>
        df.withColumn(s"p_$lang",
          graft.functions.TextFns.countMatches(col("text"), words) +
            graft.functions.TextFns.countMatches(col("text"), marks))
      }
    val profCols = graft.queries.ClassifySignals.LatinMarkers.map {
      case (lang, _, _) => sum(col(s"p_$lang")).as(lang)
    }
    val scriptAgg = ScriptRanges.map { case (name, _) => sum(col(name)).as(name) }
    val scriptCases = ScriptLangs.map { case (name, lang) =>
      s"WHEN 2 * $name > cl THEN '$lang'"
    }.mkString("\n           |  ")
    profiled
      .groupBy(col("doc_id"))
      .agg(sum(col("han")).as("han"),
        (Seq(sum(col("kana")).as("kana"),
          sum(col("hang")).as("hang"), sum(col("latin")).as("latin"),
          sum(col("cl")).as("cl")) ++ scriptAgg ++ profCols): _*)
      .withColumn("lang", expr(
        s"""CASE
           |  WHEN 2 * (han + kana + hang) > cl THEN
           |    CASE WHEN 4 * kana >= han + kana + hang THEN 'ja'
           |         WHEN 4 * hang >= han + kana + hang THEN 'ko'
           |         ELSE 'zh' END
           |  $scriptCases
           |  WHEN 2 * latin > cl THEN
           |    ${graft.queries.ClassifySignals.latinCascadeSql}
           |  ELSE 'und' END""".stripMargin))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Content-addressed document fingerprint: md5 plus its first 60 bits as a
    * join-friendly int64 (the reference fingerprints crops/bytes with
    * md5/sha256, rapid_doc/utils/hash_utils.py:7-27). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("fp_md5", md5(col("text")))
      .withColumn("fp_int", conv(substring(col("fp_md5"), 1, 15), 16, 10).cast("long"))
      .select(col("doc_id"), col("fp_md5"), col("fp_int"))
      .orderBy("doc_id")

  /** Maximum document frequency a shingle may have and still participate
    * in the exact-Jaccard self-join: the join fan-out is sum(df^2) over
    * shingles, so one hot trigram ("of the model") is a quadratic hot-key
    * bomb at corpus scale. Capping df (standard near-dup practice) bounds
    * the fan-out at docs*cap while leaving discriminative shingles —
    * near-dup pairs share RARE shingles — untouched. */
  val ShingleDfCap = 32

  /** Near-dup detection by exact word-3-gram Jaccard over df-capped
    * shingles: shingle -> explode -> drop shingles with df > ShingleDfCap
    * -> self-join -> |A∩B| / (|A|+|B|-|A∩B|), with per-doc sizes counted
    * over the KEPT shingles so the measure stays a true Jaccard of the
    * capped sets. The exact verification path for the MinHash/LSH
    * candidates. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // r6 restructure (guide §2.3/§2.4, result-identical — the r5 plan
    // computed the shingle+window-df subtree FOUR times, each with its own
    // Exchange+Sort+Window: self-join left, self-join right, sizes-a,
    // sizes-b; 4 Exchanges on the exploded shingles → 1):
    //  - group by the 32-bit shingle hash ONCE (collect_list, sorted);
    //    the df cap is the list size — same rows kept as the window count;
    //  - candidate pairs expand join-free inside a transform over the
    //    sorted per-shingle doc list (a<b by construction, equal ids
    //    dropped — exactly the old a.join(b, g).filter(a<b) multiset);
    //  - per-doc kept-shingle sizes re-derive from the same grouped frame
    //    (the Exchange on g is reused); the final size joins stay
    //    planner-chosen — sizes is per-doc, the wrong side to pin as a
    //    broadcast at corpus scale.
    val ex = ScaleQueries.shinglesFrom(tbl(spark, dir, "documents"))
      .select(col("doc_id"), col("g32").as("g"))
    val byG = ex.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= ShingleDfCap)
    val sizes = byG.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("gsz"))
    val pairs = byG
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids) - i - 1), b -> named_struct('a', a, 'b', b))))")).as("p"))
      .filter(col("p.a") < col("p.b"))
      .groupBy(col("p.a").as("doc_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id"), col("gsz").as("a_sz")), Seq("doc_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("gsz").as("b_sz")), Seq("b_id"))
      .withColumn("jac", col("inter") / (col("a_sz") + col("b_sz") - col("inter")).cast("double"))
      .filter(col("jac") >= 0.12)
      // r5 schema parity: widen the join-free pair columns back to
      // nullable in the analyzed schema (zero runtime cost)
      .select(ScaleQueries.asNullable("doc_id"), ScaleQueries.asNullable("b_id"),
        col("inter"), col("jac"))
      .orderBy("doc_id", "b_id")
  }

  /** Brute-force cosine top-k over the embeddings table: the exact ANN
    * baseline. Query set = vec_id < 10, k = 5. Output is rank-only (ints) so
    * float formatting can't break the compare; the cosine itself is the
    * native codegen'd CosineSim expression, whose fused per-element loop is
    * bit-identical to the oracle's separate left-to-right folds. */
  def annCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val joined = broadcast(q).join(e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("embedding").as("v")))
      .withColumn("sim", graft.functions.VecFns.cosineSim(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** full_to_half + ligature normalization (reference:
    * pipeline_middle_json_mkcontent.py:113-130, span_pre_proc.py:128-138)
    * as native codegen expressions, checked by roundtrip: inject fullwidth
    * chars + ligatures, normalize, and the md5 must equal the original. */
  def textnormRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns
    tbl(spark, dir, "documents")
      .withColumn("inj", expr("replace(translate(text, 'aeos', 'ａｅｏｓ'), 'fi', 'ﬁ')"))
      .withColumn("norm", TextFns.fullToHalf(TextFns.deligature(col("inj"))))
      .select(col("doc_id"), md5(col("inj")).as("inj_md5"), md5(col("norm")).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** Markdown-active character escaping (pipeline_middle_json_mkcontent
    * .py:372-381): inject a '*' per 'a', escape, compare by md5. */
  def markdownEscape(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .withColumn("inj", expr("replace(text, 'a', '*a')"))
      .withColumn("esc", expr(
        """replace(replace(replace(inj, '*', '\\*'), '`', '\\`'), '~', '\\~')"""))
      .select(col("doc_id"), md5(col("esc")).as("esc_md5"))
      .orderBy("doc_id")

  /** Token-budget chunker (reference: chunker/text_splitters.py:43-580 —
    * markdown-AST splitter reduced to its sentence/budget core): sentences
    * pack greedily into 40-token chunks by cumulative token count. */
  def chunkText(spark: SparkSession, dir: String): DataFrame = {
    val sents = tbl(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ")).as(Seq("sent_idx", "sent")))
      .withColumn("toks", size(split(col("sent"), " ")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sent_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sents
      .withColumn("cum_before", sum(col("toks")).over(w) - col("toks"))
      .withColumn("chunk_id", expr("CAST(cum_before div 40 AS INT)"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sent"), sum(col("toks")).as("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Chunk -> reading-order locator (the RAG half of the reference's
    * chunker, chunker/get_bbox_page_fast.py:8-40, at span granularity —
    * our spans' position key IS the reading order): pack extracted spans
    * into 60-token chunks by cumulative token count and report each
    * chunk's span range. The oracle replays it over the committed golden
    * span parquet, so the chunk boundaries are value-checked end to end. */
  /** THE locator chunk rule — one definition shared by `chunk_locate`
    * (Catalyst window form) and `chunk_locate_fuzzy` (per-doc walk): spans
    * pack by cumulative whitespace-token count into `LocatorChunkTokens`
    * buckets. Drift between the two locators' chunk boundaries would
    * silently desync them (r4 review), so the scalar rule lives here once
    * and a spec cross-checks the two query surfaces. */
  private[graft] val LocatorChunkTokens = 60
  private[graft] def locatorToks(text: String): Int =
    if (text.isEmpty) 0 else text.split(" ", -1).length
  /** chunk id per span, reading order in == reading order out. */
  private[graft] def locatorChunkIds(texts: Vector[String]): Vector[Int] = {
    var cum = 0
    texts.map { t =>
      val c = cum / LocatorChunkTokens
      cum += locatorToks(t)
      c
    }
  }

  def chunkLocate(spark: SparkSession, dir: String): DataFrame = {
    // r6 (guide §2.4): same in-partition fold as chunk_blocks — the r5
    // plan shuffled every span for the per-doc window (cumulative token
    // sum) and again for the groupBy (2 Exchanges -> 0). The walk applies
    // THE shared locator rule (locatorChunkIds — same constant as
    // chunk_locate_fuzzy, cross-checked by spec), and chunk ids are
    // nondecreasing, so the contiguous fold equals the old aggregation.
    import spark.implicits._
    graft.pipeline.Extract.extractDocs(spark, dir)
      .mapPartitions { docs =>
        docs.flatMap { res =>
          val ss = res.spans.sortBy(_.order)
          val chunkOf = locatorChunkIds(ss.map(_.text).toVector)
          var cur = -1
          var first = 0
          var last = 0
          var nSpans = 0L
          var nTok = 0L
          val out = Vector.newBuilder[(String, Int, Int, Int, Long, Long)]
          def flush(): Unit =
            if (cur >= 0) out += ((res.doc_id, cur, first, last, nSpans, nTok))
          ss.zip(chunkOf).foreach { case (s, c) =>
            if (c != cur) { flush(); cur = c; first = s.order; nSpans = 0L; nTok = 0L }
            last = s.order
            nSpans += 1
            nTok += locatorToks(s.text)
          }
          flush()
          out.result()
        }
      }
      .toDF("doc_id", "chunk_id", "first_ord", "last_ord", "n_spans", "n_tokens")
      // r5 schema parity: chunk_id (window-derived) and the min/max/sum
      // aggregates were nullable
      .select(col("doc_id"), ScaleQueries.asNullable("chunk_id"),
        ScaleQueries.asNullable("first_ord"),
        ScaleQueries.asNullable("last_ord"), col("n_spans"),
        ScaleQueries.asNullable("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Block-type-aware chunker over the extraction block stream — the
    * reference's markdown-AST splitter semantics (MarkdownTextSplitter,
    * chunker/text_splitters.py:43-247) at span granularity, where the
    * block stream IS the AST: headings force a chunk break (:196-206),
    * tables and code fences break before themselves and enter a chunk
    * ATOMICALLY (:208-218,236-240 — a table/fence is never interior-
    * split), regular blocks pack greedily under the token budget, and
    * every break is gated on min_chunk_tokens (:86-88). Budgets are the
    * reference's 512/50 scaled to the synthetic corpus (60/12); tokens
    * are whitespace tokens (the established stand-in for tiktoken).
    * Emits (chunk_id, span range, token count); the oracle replays the
    * same walk over the committed golden parquet with a recursive CTE. */
  def chunkBlocks(spark: SparkSession, dir: String): DataFrame = {
    // r6 (guide §2.4 remove shuffles outright): documents are WHOLE inside
    // the extraction partitions, so the chunk walk and its per-chunk
    // aggregation fold in the same mapPartitions — the r5 plan exploded
    // every span, shuffled them by doc_id for groupByKey, walked, then
    // shuffled AGAIN for the groupBy aggregation (2 Exchanges -> 0).
    // Chunk ids are nondecreasing along the walk, so each chunk's rows are
    // contiguous and the running (first, last, count, sum) fold is exactly
    // the old min/max/count/sum aggregation.
    import spark.implicits._
    val Budget = 60
    val MinTok = 12
    graft.pipeline.Extract.extractDocs(spark, dir)
      .mapPartitions { docs =>
        docs.flatMap { res =>
          val ss = res.spans.sortBy(_.order)
          var chunk = 1
          var cum = 0
          var cur = 0
          var first = 0
          var last = 0
          var nSpans = 0L
          var nTok = 0L
          val out = Vector.newBuilder[(String, Int, Int, Int, Long, Long)]
          def flush(): Unit =
            if (cur > 0) out += ((res.doc_id, cur, first, last, nSpans, nTok))
          ss.foreach { s =>
            // split(regex, -1) keeps trailing empties — the SQL engines'
            // split/string_split semantics, unlike Scala's default
            val toks = if (s.text.isEmpty) 0 else s.text.split(" ", -1).length
            val brk =
              ((s.kind == Kinds0.Title || s.kind == Kinds0.Table || s.kind == Kinds0.Algorithm) && cum >= MinTok) ||
                (cum + toks > Budget && cum >= MinTok)
            if (brk) { chunk += 1; cum = 0 }
            cum += toks
            if (chunk != cur) { flush(); cur = chunk; first = s.order; nSpans = 0L; nTok = 0L }
            last = s.order
            nSpans += 1
            nTok += toks
          }
          flush()
          out.result()
        }
      }
      .toDF("doc_id", "chunk_id", "first_ord", "last_ord", "n_spans", "n_tokens")
      // r5 schema parity: min/max/sum aggregates were nullable
      .select(col("doc_id"), col("chunk_id"), ScaleQueries.asNullable("first_ord"),
        ScaleQueries.asNullable("last_ord"), col("n_spans"),
        ScaleQueries.asNullable("n_tokens"))
      .orderBy("doc_id", "chunk_id")
  }
  private object Kinds0 {
    val Title = graft.schema.Kinds.Title
    val Table = graft.schema.Kinds.Table
    val Algorithm = graft.schema.Kinds.Algorithm
  }

  /** Shared lossy chunk-content render for the fuzzy locator (markdown-ish
    * per-kind decoration — the chunk text a RAG store would hold, NOT the
    * raw block text, so locating back needs fuzzy matching). */
  private def lossyRender(kind: String, text: String, ref: String): String =
    kind match {
      case graft.schema.Kinds.Title => "## " + text
      case graft.schema.Kinds.Figure => s"![]($ref)"
      case graft.schema.Kinds.Caption | graft.schema.Kinds.Footnote |
           graft.schema.Kinds.ImageFootnote => "*" + text + "*"
      case _ => text
    }

  /** Levenshtein over UTF-8 BYTES — DuckDB's levenshtein() edits bytes
    * (levenshtein('☑a','a') = 3), so the Spark side must too or the two
    * engines' anchor choices drift on non-ASCII content. Exact distance
    * via the bit-parallel kernel ([[graft.util.Lev]], Myers/Hyyrö — the
    * same family RapidFuzz runs under the reference's fuzz.ratio); the
    * r4 banded DP's abort is gone because the exact kernel outruns the
    * band (and exactness needs no result-identity proof). */
  private def lev(as: String, bs: String): Int =
    graft.util.Lev.distance(
      as.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      bs.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** FUZZY chunk→block locator — the reference chunker's RapidFuzz
    * position pass (chunker/get_bbox_page_fast.py:40-120) against LOSSY
    * chunk text: per chunk, the most-similar block anchors the match
    * (normalized levenshtein ratio — the deterministic stand-in for
    * fuzz.ratio, available natively in BOTH engines — scanned in reading
    * order with the reference's >0.95 early stop and <0.1 give-up), then
    * the match expands to the contiguous neighbor blocks whose raw text
    * is a SUBSTRING of the chunk (empty-text blocks break the run).
    * Documented adaptation: the reference's mutable
    * matched_global_indices is replaced by a reading-order candidate
    * discipline — chunk k's anchor candidates start at its own first
    * block (earlier blocks belong to earlier chunks) — which has the same
    * effect on block-partitioned chunks and makes every chunk's
    * computation independent, so the DuckDB oracle replays it exactly
    * with windows instead of sequential state. Emits one row per located
    * block. */
  def chunkLocateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    // r6 (guide §2.4): the per-doc fuzzy walk runs inside the extraction
    // partitions (docs are whole there) instead of shuffling the exploded
    // span stream through groupByKey — the walk body is unchanged.
    import spark.implicits._
    graft.pipeline.Extract.extractDocs(spark, dir).mapPartitions(_.flatMap { res =>
      val id = res.doc_id
      val blocks = res.spans.sortBy(_.order)
        .map(s => (id, s.order, s.kind, s.media_ref, s.text)).toVector
      // chunk boundaries: THE shared locator rule (same function family
      // as chunk_locate — one constant, no drift)
      val chunkOf = locatorChunkIds(blocks.map(_._5))
      val chunkIds = chunkOf.distinct.sorted
      // per-block byte/codepoint lengths ONCE per doc (the anchor scan
      // revisits blocks across chunks; recomputing them per chunk was
      // the avoidable O(chunks x blocks x len) share of the r4 cost)
      val blockBytes = blocks.map(_._5.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
      val blockCps = blocks.map(b => b._5.codePointCount(0, b._5.length))
      val firstOf = scala.collection.mutable.Map[Int, Int]()
      chunkOf.zipWithIndex.foreach { case (c, i) =>
        if (!firstOf.contains(c)) firstOf(c) = i
      }
      val out = Vector.newBuilder[(String, Int, Int)]
      chunkIds.foreach { cid =>
        val first = firstOf(cid)
        val content = blocks.zip(chunkOf).collect { case ((_, _, k, r, t), c) if c == cid =>
          lossyRender(k, t, r)
        }.mkString("\n\n")
        // anchor: reading-order scan from the chunk's first block,
        // first-max wins, early stop > 0.95
        var bestIdx = -1
        var bestR = 0.0
        var i = first
        var stop = false
        // CODEPOINT lengths: DuckDB's length() counts codepoints, Java's
        // .length counts UTF-16 units — they differ on astral-plane chars,
        // which would desync the two engines' ratio denominators
        val contentLen = content.codePointCount(0, content.length)
        val contentBytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        while (i < blocks.length && !stop) {
          val t = blocks(i)._5
          if (t.nonEmpty) {
            // length bound: lev >= |lenA - lenB| (bytes), so ratio can
            // never exceed min/max char-ish bound — skipping candidates
            // whose bound cannot beat the running best is result-identical
            // (a skipped candidate can neither win nor trigger the early
            // stop, which requires beating the best first)
            val tb = blockBytes(i)
            val ml = math.max(contentLen, blockCps(i))
            val bound = (ml - math.abs(contentBytes - tb)).toDouble / ml
            if (bound > bestR) {
              val r = (ml - lev(content, t)).toDouble / ml
              if (r > bestR) { bestR = r; bestIdx = i; if (r > 0.95) stop = true }
            }
          }
          i += 1
        }
        if (bestIdx >= 0 && bestR >= 0.1) {
          var lo = bestIdx
          while (lo > 0 && {
            val t = blocks(lo - 1)._5; t.nonEmpty && content.contains(t)
          }) lo -= 1
          var hi = bestIdx
          while (hi + 1 < blocks.length && {
            val t = blocks(hi + 1)._5; t.nonEmpty && content.contains(t)
          }) hi += 1
          (lo to hi).foreach(bi => out += ((id, cid, blocks(bi)._2)))
        }
      }
      out.result()
    }).toDF("doc_id", "chunk_id", "ord")
      .orderBy("doc_id", "chunk_id", "ord")
  }

  /** Wired/wireless table classification over the extraction output
    * (rapid_table.py:47-58 TableCls: bordered tables route to the wired
    * structure model, borderless to wireless) — the authored corpus
    * carries both classes and the value check replays against the
    * committed golden parquet. */
  def tableClassify(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Extract.extractSpansUnordered(spark, dir)
      .filter(col("kind") === "table")
      .select(col("doc_id"), col("ord"),
        when(col("text").startsWith("<table border"), lit("wired"))
          .otherwise(lit("wireless")).as("cls"))
      .orderBy("doc_id", "ord")

  /** Checkbox ticked/unticked state over the extraction output: the
    * checkbox classifier emits the span content as a symbol — '☑' Ticked,
    * '☐' Unticked (classify_checkboxes, checkbox_det_cls.py:87-91) — and
    * the state derives from it; value-checked against the committed golden
    * parquet. */
  def checkboxState(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Extract.extractSpansUnordered(spark, dir)
      .filter(col("kind") === "checkbox")
      .select(col("doc_id"), col("ord"),
        when(col("text").startsWith("☑"), lit("Ticked"))
          .otherwise(lit("Unticked")).as("state"))
      .orderBy("doc_id", "ord")

  /** Seal spans with their OCR'd text (the seal recognition stage,
    * batch_analyze.py:415-456 — seal regions are containment-protected and
    * carry the seal OCR output as content); value-checked against the
    * committed golden parquet. */
  def sealTexts(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Extract.extractSpansUnordered(spark, dir)
      .filter(col("kind") === "seal")
      .select(col("doc_id"), col("ord"), col("text"))
      .orderBy("doc_id", "ord")

  /** Hyperlink spans (ContentType.hyperlink, enum_class.py:59): anchor
    * text plus the target URL the span's media_ref carries; value-checked
    * against the committed golden parquet. */
  def hyperlinkSpans(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Extract.extractSpansUnordered(spark, dir)
      .filter(col("kind") === "hyperlink")
      .select(col("doc_id"), col("ord"), col("text"), col("media_ref").as("url"))
      .orderBy("doc_id", "ord")

  /** Office input path (reference office_analyze.py:9-36 routing into the
    * docx/xlsx/pptx converters): build the real OOXML package per document
    * (50% docx / 25% xlsx / 25% pptx) and run the format-sniffing
    * converter inside the partition — zip + DOM parse + relationship
    * resolution end to end — emitting the same span contract as the PDF
    * pipeline. Value-checked against the committed office golden parquet. */
  def officeExtract(spark: SparkSession, dir: String): DataFrame =
    spanRows(converterIds(spark, dir)) { id =>
      graft.office.OfficeConvert.convert(id, graft.corpus.OfficeGen.bytes(id)).spans
    }

  /** HTML main-content extraction (the north rule's "HTML boilerplate
    * strip + DOM heuristics" input tier): the engine generates each page's
    * XHTML live and runs the real DOM walk + tag/link-density strip
    * in-partition; DuckDB replays from the committed html_golden.parquet —
    * the compare covers generation determinism + the strip heuristics. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    spanRows(converterIds(spark, dir)) { id =>
      graft.html.HtmlConvert.convert(id, graft.corpus.HtmlGen.bytes(id)).spans
    }

  /** PDF byte-parse extraction (the reference's PRIMARY input tier,
    * main.py:604-636): the engine authors each doc's REAL PDF file live
    * (xref, page tree, Flate streams, text operators, image XObjects) and
    * parses it back from bytes in-partition; DuckDB replays from the
    * committed pdf_golden.parquet. Zero shuffles before the ordered dump
    * — the same narrow-map plan shape as office/html. */
  def pdfExtract(spark: SparkSession, dir: String): DataFrame =
    spanRows(converterIds(spark, dir)) { id =>
      graft.pdf.PdfConvert.convert(id, graft.corpus.PdfGen.bytes(id)).spans
    }

  /** Byte-level page-range slicing driven through the reference's
    * 64-page windowed batching loop (main.py:296-368 over
    * convert_pdf_to_bytes_by_pypdfium2, cli/common.py:104-166), scaled to
    * the corpus (batch=2): each document's REAL PDF bytes are re-sliced
    * into page-window PDFs ([[graft.pdf.PdfSlice]] re-serializes the
    * object closure with renumbering), each window parsed independently,
    * spans concatenated with rebased order. The oracle is the SAME
    * pdf_golden replay as `pdf_extract` — the windowed loop must be
    * indistinguishable from the whole-file parse, which is exactly the
    * reference's contract for its batching loop. */
  def pdfPageSlice(spark: SparkSession, dir: String): DataFrame =
    spanRows(converterIds(spark, dir)) { id =>
      // parse-once windowing: the source xref walks once, every window
      // re-serializes from the shared object model. An EMPTY window is
      // PdfSlice's documented degrade value (a window that failed to
      // serialize) — it contributes no spans rather than aborting the
      // task on a parse of zero bytes.
      graft.pdf.PdfSlice.windows(graft.corpus.PdfGen.bytes(id), batch = 2)
        .filter(_.nonEmpty)
        .flatMap(wb => graft.pdf.PdfConvert.convert(id, wb).spans)
        .zipWithIndex
        .map { case (s, ord) => s.copy(order = ord) }
    }

  /** PDF-tier hyperlink spans: /Annots /Link rects bound to their anchor
    * lines by the byte-level parser (PDF 32000 §12.5.6.5; reference
    * ContentType.HYPERLINK, enum_class.py:59) — URL targets and named
    * /Dest targets both flow through media_ref, at parity with the
    * office/html hyperlink spans. */
  def pdfHyperlinks(spark: SparkSession, dir: String): DataFrame = {
    // r6 (guide §2.3 project-early): filter to the hyperlink spans INSIDE
    // the parse partition instead of stacking filter+sort on top of the
    // already-sorted pdfExtract — the r5 plan sorted the full span stream,
    // filtered, then sorted again (the parse subtree is opaque to the
    // optimizer, so nothing pushed down). Same rows: `ord` is the span's
    // own order value, untouched by the filter.
    import spark.implicits._
    val ids = converterIds(spark, dir)
    ids.mapPartitions { it =>
      it.flatMap { id =>
        graft.pdf.PdfConvert.convert(id, graft.corpus.PdfGen.bytes(id)).spans
          .withFilter(_.kind == graft.schema.Kinds.Hyperlink)
          .map(s => (id, s.order, s.text, s.media_ref))
      }
    }.toDF("doc_id", "ord", "text", "url")
      .orderBy("doc_id", "ord")
  }

  /** Mixed raw-blob ingestion: one table interleaving office packages
    * (doc index ≡ 0 mod 5), HTML pages (≡ 1), PDF files (≡ 2), raster
    * image blobs (≡ 3) and legacy OLE2 .doc files (≡ 4), routed per
    * partition by the SHARED magic-byte sniffer (`io.Sniff` — the
    * single router `ExtractJob.runRaw` also uses). The oracle unions the
    * five committed goldens by index mod 5, so a routing mistake in any
    * direction breaks the compare. */
  def ingestRaw(spark: SparkSession, dir: String): DataFrame =
    spanRows(converterIds(spark, dir)) { id =>
      // an index's last digit fixes its residue mod 5
      val bytes = ((id.last - '0') % 5) match {
        case 0 => graft.corpus.OfficeGen.bytes(id)
        case 1 => graft.corpus.HtmlGen.bytes(id)
        case 2 => graft.corpus.PdfGen.bytes(id)
        case 3 => graft.corpus.ImgGen.bytes(id)
        case _ => graft.corpus.OleGen.bytes(id)
      }
      graft.io.Sniff.convert(id, bytes).spans
    }

  // ---------------------------------------------------------------------
  // Relational headliners over the TPC-H-ish tables
  // ---------------------------------------------------------------------

  /** Pricing-summary aggregation (money summed as exact integer cents so the
    * double-accumulation order can't produce last-cent drift vs DuckDB). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("sum_price_cents"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Top-3 orders per market segment: broadcast dim join + window top-k. */
  def q2JoinTopK(spark: SparkSession, dir: String): DataFrame = {
    val c = tbl(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val o = tbl(spark, dir, "orders")
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("o_orderkey"), col("rn"))
      .orderBy("c_mktsegment", "rn")
  }

  /** Sessionization: per-user event sessions split at 30-minute gaps —
    * the lag/cumulative-flag formulation that scales as one shuffle. */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("user_id"), unix_millis(col("ts").cast("timestamp")).as("ms"),
        col("event_id"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("prev_ms", lag(col("ms"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 30L * 60000L, lit(1))
          .otherwise(lit(0)))
      .withColumn("session_idx", sum(col("new_sess")).over(wCum).cast("int"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"))
      .orderBy("user_id", "session_idx")
  }

  /** As-of join: each event picks the latest order of the same key at or
    * before its timestamp — the union + last_value(ignore nulls) window
    * formulation (single sort-shuffle; no custom operator needed). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = tbl(spark, dir, "orders")
      .select(col("o_custkey").as("k"), unix_millis(col("o_orderdate").cast("timestamp")).as("ms"),
        lit(0).as("src"), col("o_orderkey").as("okey"), lit(null).cast("long").as("event_id"))
    val events = tbl(spark, dir, "events")
      .select(col("user_id").as("k"), unix_millis(col("ts").cast("timestamp")).as("ms"),
        lit(1).as("src"), lit(null).cast("long").as("okey"), col("event_id"))
    val w = Window.partitionBy(col("k")).orderBy(col("ms"), col("src"), col("okey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionByName(events)
      .withColumn("asof_okey", last(col("okey"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("event_id"), coalesce(col("asof_okey"), lit(-1L)).as("asof_okey"))
      .orderBy("event_id")
  }

  /** Hourly event-type counts (epoch millis keeps timestamp formatting out
    * of the compare). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events")
      .withColumn("hour_ms", unix_millis(date_trunc("hour", col("ts"))))
      .groupBy(col("event_type"), col("hour_ms"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type", "hour_ms")

  /** Registry consumed by SparkEntry. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // full extraction pipeline — FULL value oracle since r2: DuckDB replays
    // the committed extract_golden.parquet (generation determinism + the
    // whole pipeline inside the compare); the golden ScalaTest suite
    // additionally pins span equality per document
    "extract_pipeline" -> ((s: SparkSession, d: String) =>
      graft.pipeline.Extract.extractSpans(s, d)),
    // the same explode-and-sort over the one extraction operator
    // (`plans.DocExtract`) as extract_pipeline; the name stays in the
    // registry, checked against the same golden oracle
    "extract_exec" -> ((s: SparkSession, d: String) =>
      graft.pipeline.Extract.extractSpans(s, d)),
    "det_low_conf_filter" -> detLowConfFilter _,
    "det_iou_dedup" -> detIouDedup _,
    "page_median_height" -> pageMedianHeight _,
    "reading_order" -> readingOrder _,
    "reading_order_v3" -> readingOrderV3 _,
    "media_ref" -> mediaRef _,
    "classify_router" -> classifyRouter _,
    "classify_router_v2" -> classifyRouterV2 _,
    "caption_nearest" -> captionNearest _,
    "page_majority_label" -> pageMajorityLabel _,
    "footnote_reclass" -> footnoteReclass _,
    "det_min_width_filter" -> detMinWidthFilter _,
    "virtual_lines" -> virtualLines _,
    "span_block_fill" -> spanBlockFill _,
    "dedup_exact" -> dedupExact _,
    "seq_pack" -> seqPack _,
    "stratified_sample" -> stratifiedSample _,
    "token_count" -> tokenCount _,
    "token_count_bpe" -> tokenCountBpe _,
    "quality_score" -> qualityScore _,
    "lang_id" -> langId _,
    "lang_id_v2" -> langIdV2 _,
    "lang_id_v3" -> langIdV3 _,
    "doc_fingerprint" -> docFingerprint _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "ann_cosine_topk" -> annCosineTopK _,
    "textnorm_roundtrip" -> textnormRoundtrip _,
    "markdown_escape" -> markdownEscape _,
    "chunk_text" -> chunkText _,
    "chunk_locate" -> chunkLocate _,
    "chunk_locate_fuzzy" -> chunkLocateFuzzy _,
    "table_classify" -> tableClassify _,
    "checkbox_state" -> checkboxState _,
    "hyperlink_spans" -> hyperlinkSpans _,
    "seal_texts" -> sealTexts _,
    "chunk_blocks" -> chunkBlocks _,
    "office_extract" -> officeExtract _,
    "html_extract" -> htmlExtract _,
    "pdf_extract" -> pdfExtract _,
    "pdf_page_slice" -> pdfPageSlice _,
    "pdf_hyperlinks" -> pdfHyperlinks _,
    "ingest_raw" -> ingestRaw _,
    "q1_agg" -> q1Agg _,
    "q2_join_topk" -> q2JoinTopK _,
    "events_hourly" -> eventsHourly _,
    "events_sessionize" -> eventsSessionize _,
    "asof_join" -> asofJoin _,
  )
}
