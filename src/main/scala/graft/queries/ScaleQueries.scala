package graft.queries

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VecFns

/** Scale-path similarity/dedup operators: MinHash+LSH banding, 64-bit
  * SimHash, embedding cosine near-dup and hyperplane-LSH bucketing. Like
  * [[Queries]], every arithmetic step is replayable bit-exactly in DuckDB
  * (hashes derive from md5 hex, folds are left-to-right doubles).
  *
  * SCALE DISCIPLINE (the two quadratic failure modes of bucketed
  * candidate generation, and the guards used throughout):
  *
  *  1. Constant bucket capacity: with a fixed bucket count, bucket
  *     population grows linearly with the corpus and the per-bucket
  *     self-join fan-out Σ|bucket|² grows quadratically. Every bucketing
  *     here therefore derives its capacity from the CORPUS SIZE via
  *     [[lshPlanesPerBand]] (expected population n/2^P held ≈
  *     [[TargetBucketPop]]), with the identical integer-exact formula in
  *     the DuckDB oracle, so the same sizing rule is what gets verified.
  *  2. Hot buckets: real crawl corpora contain duplicate clusters of 10^5+
  *     documents that land in ONE bucket no matter how the capacity is
  *     sized — an uncapped self-join is m² on them. Every band join here
  *     caps the all-pairs expansion at [[MinhashBucketCap]]/[[CosBucketCap]]
  *     members and switches an over-cap bucket to STAR pairing (every
  *     member pairs with the bucket minimum): candidate count drops to
  *     O(m) while connected components still recover the full cluster —
  *     the same df-cap discipline as [[Queries.ShingleDfCap]].
  */
object ScaleQueries {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // -- corpus-sized LSH constants -------------------------------------------

  /** Target expected bucket population for hyperplane bands. */
  val TargetBucketPop = 32L

  /** All-pairs cap per MinHash (band, key) bucket; above it the bucket
    * switches to star pairing. */
  val MinhashBucketCap = 64L

  /** All-pairs cap per hyperplane (band, bucket); above it: star pairing. */
  val CosBucketCap = 256L

  /** Hyperplane count per band sized so expected bucket population
    * n / 2^P ≈ TargetBucketPop: P = max(2, ceil(log2(ceil(n / 32)))),
    * computed with INTEGER arithmetic (bit length), never floating log2 —
    * the DuckDB oracle replays it as `length(bin(m - 1))` and a float
    * boundary at exact powers of two would silently desynchronize the two
    * sides. n=500 -> 4, n=2000 -> 6, n=10^9 -> 25. */
  def lshPlanesPerBand(n: Long): Int = {
    val m = (n + TargetBucketPop - 1) / TargetBucketPop
    if (m <= 1) 2
    else math.max(2, 64 - java.lang.Long.numberOfLeadingZeros(m - 1))
  }

  /** Bit width of the full ANN bucketing (single band): at least 8 (256-way
    * split), growing with the corpus like the band planes. */
  def annBucketBits(n: Long): Int = math.max(8, lshPlanesPerBand(n))

  /** IVF centroid count ~ sqrt(n) (the classical IVF sizing rule: probe
    * cost n/K per list vs K for the coarse pass balances at K=sqrt(n)),
    * floored at 8. floor(sqrt(n-1))+1 rather than ceil(sqrt(n)) keeps the
    * perfect-square boundary exact in IEEE doubles on both engines. */
  def ivfK(n: Long): Int =
    math.max(8, math.floor(math.sqrt((n - 1).toDouble)).toInt + 1)

  /** Deterministic random-hyperplane LSH planes (`count` planes x 64 dims). */
  def planesFor(count: Int): Array[Array[Double]] = Array.tabulate(count) { j =>
    Array.tabulate(64) { i =>
      (((j * 64L + i) * 2654435761L) % 1000L) / 1000.0 - 0.5
    }
  }

  /** Distinct word-3-gram shingles with a 32-bit integer hash per shingle. */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesFrom(tbl(spark, dir, "documents"))

  /** Shingles from an explicit documents frame (the materialized-chain
    * stages slice their own inputs). The gram array is built INSIDE the
    * explode call (r6, guide §1.2 per-task work): naming it via a
    * withColumn first made the optimizer substitute the whole interpreted
    * higher-order `transform(...)` into the Generate's inferred
    * size/notnull filter, evaluating it ~3x per row — measured 2.8s vs
    * 0.6s for the whole stage at sf0.1 (OPTIMIZATION_r06.md). */
  def shinglesFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1])))")).as("g"))
      .withColumn("g32", expr("CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT)"))

  /** Hybrid capped pair expansion of a bucketed id column: buckets at or
    * under `cap` members expand all-pairs; over-cap buckets emit STAR pairs
    * to the bucket minimum (O(m) instead of m², components preserved).
    * `keys` are the bucket key columns; `id` the member id column. Output:
    * (a_id, b_id) with a_id < b_id. */
  private def cappedBucketPairs(df: DataFrame, keys: Seq[String], id: String,
      cap: Long): DataFrame = {
    // r6 (guide §2.4/§3): ONE shuffle — each bucket's member list is
    // collected (sorted, so pair order is deterministic) and the pair
    // expansion happens join-free inside a higher-order transform. The
    // previous form paid two window functions over (keys) plus a self-join
    // (the windowed subtree planned 3x: small-left, small-right, star);
    // result-identical — all-pairs a<b under the cap, star-to-minimum
    // above it. Memory: one bucket's id list lives in one aggregation
    // buffer — the same locality the window form already forced (a window
    // partitioned by the bucket key buffers the whole bucket per task),
    // and 8 bytes/member keeps even a 10^6-member hot cluster at ~8 MB.
    val byB = df.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(id))).as("ids"))
    val small = byB.filter(size(col("ids")) <= cap)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids) - i - 1), b -> named_struct('a', a, 'b', b))))")).as("p"))
      .filter(col("p.a") < col("p.b"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
    val star = byB.filter(size(col("ids")) > cap)
      .select(col("ids").getItem(0).as("a_id"),
        explode(expr("slice(ids, 2, size(ids) - 1)")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
    small.unionByName(star)
  }

  /** MinHash signature (16 hashes, universal-hash family over the 32-bit
    * shingle space) -> 4 LSH bands of 4 rows -> candidate pairs sharing >=1
    * band, with per-(band,key) bucket capping (duplicate clusters of m docs
    * share ALL bands; uncapped they are an m²-per-band hot key — the
    * star fallback keeps them one connected component at O(m) candidates).
    * The scalable counterpart of the exact dedup_ngram_jaccard. */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    graft.io.DedupPipeline.candidatesView(spark, dir)
      .orderBy("doc_id", "b_id")

  /** The live candidate computation from a documents slice (the
    * materialized chain's CANDIDATES stage body; the view above reads its
    * output). Kept as the reference the committed chain is checked
    * against (DedupPipelineSpec); nothing in the system calls it. */
  def minhashLshPairsFrom(docs: DataFrame): DataFrame =
    minhashLshPairsFromShingles(shinglesFrom(docs))

  /** Candidates from a MATERIALIZED shingle table (chain stage 0): the
    * signature/banding pass reads (doc_id, g32) directly. */
  def minhashLshPairsFromShingles(sh: DataFrame): DataFrame = {
    // all 16 minima as aggregate columns in ONE pass over the shingles —
    // no 16x row explosion, a single map-side-combinable shuffle on doc_id
    val minCols = (0 until 16).map { i =>
      min(expr(s"(${17 + 13 * i} * g32 + ${3 + 7 * i}) % 4294967311")).as(s"mh$i")
    }
    val minh = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    // 4 bands of 4 rows -> (band, key) pairs, then capped bucket expansion
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until 4).map(r => col(s"mh${b * 4 + r}").cast("string")): _*).as("key"))
    }
    val bands = minh
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    cappedBucketPairs(bands, Seq("band", "key"), "doc_id", MinhashBucketCap)
      .groupBy(col("a_id").as("doc_id"), col("b_id"))
      .agg(count(lit(1)).as("nbands"))
      // r5 schema parity: the join-free pair expansion yields a
      // non-nullable b_id; widen the analyzed schema back to the r5
      // nullability (the optimizer folds the conditional away at runtime)
      .select(asNullable("doc_id"), asNullable("b_id"), col("nbands"))
  }

  /** Widen a non-nullable column back to nullable in the analyzed schema —
    * zero runtime cost (the optimizer simplifies the conditional). */
  private[queries] def asNullable(c: String): Column =
    expr(s"CASE WHEN $c IS NOT NULL THEN $c END").as(c)

  /** Exact-Jaccard verification of the MinHash candidates — the VERIFY
    * stage of the canonical candidates -> verify -> groups dedup chain
    * (LSH recalls a superset; only candidate pairs pay the exact set
    * comparison, O(candidates × shingles/doc) — never n²). Each pair joins
    * back to its two distinct-shingle sets on the 8-byte shingle hash (the
    * same join-key discipline as dedup_ngram_jaccard) and survives when
    * exact Jaccard >= 1/2, tested INTEGER-exactly:
    * inter/(|A|+|B|-inter) >= 1/2  <=>  3*inter >= |A|+|B|. */
  def minhashVerify(spark: SparkSession, dir: String): DataFrame =
    graft.io.DedupPipeline.verifiedView(spark, dir)
      .orderBy("doc_id", "b_id")

  /** The live verify computation from materialized candidates + the doc
    * table (the VERIFIED stage body — bucket-incremental under runWith:
    * a candidate slice only joins the shingles of ITS docs). Kept as the
    * reference the committed chain is checked against (DedupPipelineSpec);
    * nothing in the system calls it. */
  def minhashVerifyFrom(cands: DataFrame, docs: DataFrame): DataFrame =
    minhashVerifyFromShingles(cands, shinglesFrom(docs))

  /** Verify from the MATERIALIZED shingle table. */
  def minhashVerifyFromShingles(cands: DataFrame, shingleTable: DataFrame): DataFrame = {
    val sh = shingleTable.select(col("doc_id"), col("g32"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val cand = cands.select(col("doc_id").as("a_id"), col("b_id"))
    val inter = cand
      .join(sh.select(col("doc_id").as("a_id"), col("g32")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("g32")), Seq("b_id", "g32"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("nsh").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("nsh").as("nb")), "b_id")
      .filter(lit(3) * col("inter") >= col("na") + col("nb"))
      .select(col("a_id").as("doc_id"), col("b_id"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
  }

  /** 64-bit SimHash over distinct tokens, carried as two 32-bit halves so
    * neither side can overflow a signed 64-bit shift-accumulate.
    * r6 (guide §2.3 aggregate-before-shuffle): the per-bit majority vote
    * is 64 conditional-sum aggregate columns in ONE partial-aggregable
    * pass over the tokens — the r5 form exploded every token into 32
    * bit-rows (x32 shuffle input) and aggregated twice. Same integer
    * sums, same majority rule, bit-identical signatures. */
  def simhash64(spark: SparkSession, dir: String): DataFrame = {
    val toks = tbl(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("hi", expr("CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("lo", expr("CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT)"))
    val bitSums =
      count(lit(1)).as("cnt") +:
        (0 until 32).map(j => sum(expr(s"(shiftright(hi, $j) & 1)")).as(s"oh$j")) ++:
        (0 until 32).map(j => sum(expr(s"(shiftright(lo, $j) & 1)")).as(s"ol$j"))
    val sig = (pre: String) => (0 until 32)
      .map(j => s"CASE WHEN 2 * $pre$j >= cnt THEN shiftleft(CAST(1 AS BIGINT), $j) ELSE 0 END")
      .mkString(" + ")
    toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        expr(sig("oh")).as("sig_hi"),
        expr(sig("ol")).as("sig_lo"))
      // r5 schema parity (the old double aggregation left the sigs nullable)
      .select(col("doc_id"), asNullable("sig_hi"), asNullable("sig_lo"))
      .orderBy("doc_id")
  }

  /** Per-band hyperplane bucket over `pB` planes (band b covers planes
    * b*pB .. b*pB+pB-1). Banding keeps recall at a permissive cosine
    * threshold — one wide bucket has (1-θ/π)^P recall, B bands of P planes
    * 1-(1-(1-θ/π)^P)^B — while P grows with the corpus to hold bucket
    * population ≈ TargetBucketPop. */
  private def bandBucket(emb: Column, band: Int, pB: Int,
      pl: Array[Array[Double]]): Column =
    (0 until pB).map { k =>
      when(VecFns.dotConst(emb, pl(band * pB + k)) >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding cosine near-duplicate pairs, banded-LSH-routed: candidate
    * pairs share at least one band bucket (4 equi-joins + distinct), then
    * the exact codegen'd cosine filters candidates. A bare
    * a.join(b, a_id < b_id) is a BroadcastNestedLoop cartesian: 10^6
    * vectors = 5*10^11 pairs. Banding alone is NOT enough — with a fixed
    * plane count the per-band fan-out Σ|bucket|² is still n²/2^P — so the
    * plane count per band grows with the corpus (lshPlanesPerBand, bucket
    * population held ≈ TargetBucketPop ⇒ fan-out O(n·TargetBucketPop) per
    * band) and a per-bucket cap backstops adversarial clumps. */
  def cosNeardupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    // corpus-size read (a count over parquet metadata — the production
    // shape reads table statistics): sizes the band width deterministically
    val n = e.count()
    val pB = lshPlanesPerBand(n)
    val nBands = 4
    val pl = planesFor(nBands * pB)
    val ids = e.select(col("vec_id") +:
      (0 until nBands).map(b => bandBucket(col("embedding"), b, pB, pl).cast("long").as(s"bb$b")): _*)
    val cand = (0 until nBands).map { b =>
      cappedBucketPairs(
        ids.select(col("vec_id"), col(s"bb$b").as("k")), Seq("k"), "vec_id",
        CosBucketCap)
    }.reduce(_ unionByName _).distinct()
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("va")), Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("vb")), Seq("b_id"))
      .withColumn("sim", VecFns.cosineSim(col("va"), col("vb")))
      // corpus-relative threshold: the synthetic embeddings are near-
      // orthogonal (max pairwise cosine ~0.51), so "near-dup" here is the
      // far tail of the similarity distribution
      .filter(col("sim") >= 0.42)
      // r5 schema parity (nullability of the join-free pair columns)
      .select(asNullable("a_id"), asNullable("b_id"))
      .orderBy("a_id", "b_id")
  }

  /** Candidate pairs -> dedup GROUPS: connected components over the
    * MinHash-LSH candidate graph by alternating min-label propagation
    * (each round every node takes the min label in its closed
    * neighbourhood; converges in graph-diameter rounds, and near-dup
    * components are tiny cliques in practice). Pairs alone are not a dedup
    * decision — the keeper is the component representative (min doc_id).
    * Every document gets a row; singletons map to themselves. */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame =
    graft.io.DedupPipeline.groupsView(spark, dir)
      .orderBy("doc_id")

  /** The live component computation from materialized candidates (the
    * GROUPS stage body). Edges and labels share one `HashPartitioner`, so
    * a round is one job: its joins are narrow, its one shuffle is the
    * `reduceByKey` to `v` (AQE would run each DataFrame exchange as a job). */
  def dedupGroupsFrom(cands: DataFrame, docs: DataFrame): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    // (u, v) in both directions, keyed by u; a null endpoint joins nothing
    val edges = cands.select(col("doc_id"), col("b_id")).na.drop()
      .rdd.flatMap { r => Iterator(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)) }
      .partitionBy(part).persist()
    // r6 (guide §2.3 — shuffle the proxy, not the corpus): propagation
    // iterates over the CANDIDATE SUBGRAPH only. A doc with no candidate
    // pair is a fixed point of min-label propagation (its closed
    // neighbourhood is itself), so it can never change labels; iterating
    // it anyway made every round shuffle n rows instead of
    // O(candidate-pair vertices) — at crawl scale the difference between
    // the corpus and its near-dup fringe. Isolated docs re-join once at
    // the end via a left join (labels side is O(2·candidates), the
    // broadcastable side).
    // (v, (lbl, prev)): the changed-row count filters a round's output
    var labels = edges.mapPartitions(_.map { case (u, _) => u -> (u, u) }, preservesPartitioning = true)
      .reduceByKey(part, (a, _) => a).persist()
    var iter = 0
    var changed = 1L
    // run to CONVERGENCE: min-label propagation terminates in component-
    // diameter rounds (the label sum strictly decreases every changed
    // round), while a fixed small cap would silently disagree with the
    // oracle's exact transitive closure on long candidate chains. The
    // generous bound only guards a logic regression. Lineage is truncated
    // each round: RELIABLY (checkpoint to the configured checkpoint dir,
    // from the persisted round — survives executor loss, the multi-executor
    // deployment shape) when the session has one, else localCheckpoint
    // (single-box local mode has no executor-loss failure domain).
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    while (changed > 0 && iter < 10000) {
      val nbrMin = edges.join(labels).values.map { case (v, (l, _)) => v -> l }
        .reduceByKey(part, math.min(_, _))
      val next = labels.join(nbrMin).mapValues { case ((l, _), n) => (math.min(l, n), l) }
      if (reliable) { next.persist(); next.checkpoint() } else next.localCheckpoint()
      changed = graft.io.Commit.labeled(spark, s"labelprop:round$iter") {
        next.filter { case (_, (l, prev)) => l != prev }.count()
      }
      // a local checkpoint's blocks go once unreachable (ContextCleaner):
      // `unpersist` warns that its truncated lineage cannot be recomputed
      if (iter == 0 || reliable) labels.unpersist()
      labels = next
      iter += 1
    }
    val out = docs.select(col("doc_id"))
      .join(labels.mapValues(_._1).toDF("doc_id", "lbl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("group_id"))
    edges.unpersist()
    out
  }

  /** The FINAL dedup decision: one row per document with its component
    * representative and the keep flag (keeper = the component's min
    * doc_id — the reference point the whole candidates→groups chain
    * exists to produce). Downstream training jobs filter `keep`. */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame =
    graft.io.DedupPipeline.keepView(spark, dir)
      .orderBy("doc_id")

  /** The live keep decision from materialized groups (the KEEP stage
    * body). */
  def dedupKeepFrom(groups: DataFrame): DataFrame =
    groups
      .withColumn("keep", (col("doc_id") === col("group_id")).cast("int"))
      .select(col("doc_id"), col("group_id"), col("keep"))

  /** Hyperplane-LSH bucket id per embedding — the scale path for ANN: a
    * 2^bits-way bucketing turns the brute-force O(n^2) into per-bucket
    * search, with `bits` growing with the corpus (annBucketBits) so bucket
    * population stays ≈ TargetBucketPop instead of n/256. DotConst embeds
    * each plane as a codegen reference array. */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val bits = annBucketBits(e.count())
    val bucket = planesFor(bits).zipWithIndex.map { case (p, j) =>
      when(VecFns.dotConst(col("embedding"), p) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    e.select(col("vec_id"), bucket.cast("long").as("bucket"))
      .orderBy("vec_id")
  }

  /** IVF-style ANN top-k — the coarse-quantizer scale path (inverted
    * lists): K ≈ sqrt(n) centroids (ivfK) partition the corpus by
    * nearest-centroid assignment (the inverted lists); each query probes
    * its nprobe=2 nearest lists and ranks candidates by exact cosine. At
    * corpus scale the assignment is ONE broadcast-join pass and the search
    * touches ~nprobe/K of the data. Centroids come from one deterministic
    * k-means refinement pass: seeds = the first K vectors, every vector
    * assigned to its nearest seed, centroid = the element-wise mean of its
    * cluster over floor(x*1000) integer quanta — integer sums make the
    * mean independent of aggregation order, so the refined centroids are
    * bit-identical on Spark and DuckDB. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = tbl(spark, dir, "embeddings")
    val k = ivfK(e.count())

    // one k-means refinement pass over integer-quantized coordinates
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    def nearestCent(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cent_id"))
      e.select(col("vec_id"), col("embedding"))
        .join(broadcast(cents))
        .withColumn("csim", VecFns.cosineSim(col("embedding"), col("cv")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") === 1)
        .select(col("vec_id"), col("cent_id"))
    }
    val cents = nearestCent(seeds)
      .join(e, Seq("vec_id"))
      .select(col("cent_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cent_id"), col("dim"))
      .agg(sum(floor(col("x").cast("double") * 1000).cast("long")).as("s"),
        count(lit(1)).as("c"))
      .withColumn("v", (col("s").cast("double") / col("c")) / lit(1000.0))
      .groupBy(col("cent_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("v")))).as("sv"))
      .select(col("cent_id"), expr("transform(sv, s -> s.v)").as("cv"))

    // inverted lists: every vector assigned to its nearest refined centroid
    val assign = nearestCent(cents)
    // each query probes its 2 nearest centroid lists
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qsim").desc, col("cent_id"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .join(broadcast(cents))
      .withColumn("qsim", VecFns.cosineSim(col("qv"), col("cv")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 2)
      .select(col("q_id"), col("qv"), col("cent_id"))
    val cands = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      .join(assign.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    broadcast(probes).join(cands, Seq("cent_id"))
      .withColumn("sim", VecFns.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** LSH-accelerated cosine top-k: rank only within the query's bucket
    * (plus no candidates -> absent). Recall depends on bucketing; the
    * exact baseline is ann_cosine_topk. */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val withBucket = annLshBuckets(spark, dir)
    val e = tbl(spark, dir, "embeddings").join(withBucket, "vec_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("bucket"))
    val n = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    broadcast(q).join(n, "bucket")
      .withColumn("sim", VecFns.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), col("rank"))
      .orderBy("q_id", "rank")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "minhash_lsh_pairs" -> minhashLshPairs _,
    "minhash_verify" -> minhashVerify _,
    "simhash64" -> simhash64 _,
    "cos_neardup_pairs" -> cosNeardupPairs _,
    "dedup_groups" -> dedupGroups _,
    "dedup_keep" -> dedupKeep _,
    // the end-to-end materialized chain as one resumable job: four stage
    // tables under the commit protocol, timing = the real chain cost; its
    // value oracle is the same keep-table closure as dedup_keep
    "dedup_pipeline" -> ((s: SparkSession, d: String) =>
      graft.io.DedupPipeline.pipelineQuery(s, d)),
    "ann_ivf_topk" -> annIvfTopK _,
    "ann_lsh_buckets" -> annLshBuckets _,
    "ann_lsh_topk" -> annLshTopK _,
  )
}
