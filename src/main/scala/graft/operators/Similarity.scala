package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{SessionMemo, Tables}
import graft.Checkpoints.CutOps
import graft.functions.Fns._

/** Similarity search over the embeddings table (§2.5).
  *
  * Every top-k query here is one spine, each step written once:
  *  1. the QUERY SET — [[firstIds]] / [[querySet]]: the first vectors
  *     by id, small and broadcast;
  *  2. CANDIDATES — the rung's own generator: the exact scan
  *     ([[exactPairs]]), LSH buckets, IVF cells ([[probe]] against the
  *     per-row assignment [[assign]]), or a PQ/SQ8 code scan;
  *  3. the EXACT RE-RANK — [[rerank]] (approximate rungs shortlist
  *     first, [[adcRerank]]);
  *  4. the RANK — [[topK]]: (cos_e6 desc, neighbor_id), rank ≤ k,
  *     ordered (query_id, rank); every other per-group cut rides the
  *     same [[firstN]] window.
  * Each query keeps its own scoring expression (`cosPre` on the raw
  * corpus, `dot` on unit vectors, ADC sums), so the rungs are
  * interchangeable candidate generators measured against the same
  * exact top-k ([[recallReport]]).
  *
  * Brute force is the exactness baseline (query set × corpus — fine
  * because the query set is small and broadcast). The 100 TB path is
  * `lshTopk`: corpus shuffles once on its hyperplane bucket; each query
  * probes only its own bucket, so work scales with bucket size, not
  * corpus size.
  */
object Similarity {

  /** Corpus with per-vector norm precomputed once (the pairwise cosine
    * then costs exactly one codegen'd DotProduct + one divide). */
  private def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.Registry.ensure(spark)
    Tables.embeddingsPar(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", norm2(col("emb")))
  }

  private[operators] def cosPre(aEmb: Column, aNrm: Column, bEmb: Column, bNrm: Column): Column =
    scaled(dot(aEmb, bEmb) / (aNrm * bNrm), 1000000L)

  /** A centroid table (cell, c_emb, c_nrm) folded into ONE row holding
    * the whole table as a cell-sorted array — the broadcast form for
    * PER-ROW argmax assignment (see [[bestCellStruct]]). ≤|cells| rows
    * aggregated; the single row is what the crossJoin broadcasts. */
  private[operators] def centsAsArray(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(
      struct(col("cell"), col("c_emb"), col("c_nrm")))).as("cents_arr"))

  /** Nearest-centroid struct for one corpus row against a broadcast
    * `cents_arr` column: highest e6 cosine, ties to the smallest cell
    * — EXACTLY the ordering `max_by(..., struct(cell_cos, -cell))`
    * used, but evaluated as a scalar expression per row instead of a
    * corpus-wide groupBy: the Lloyd's/IVF assign step with ZERO
    * shuffle (guide §2.4 — remove shuffles outright). Each cosine is
    * the same codegen'd DotProduct fold as the join form, so the
    * winning (cell, cell_cos) is bit-identical. The struct leads with
    * the ordering keys for array_max and carries the winning cell's
    * centroid for in-row residual computation. */
  private[operators] def bestCellStruct(emb: Column, nrm: Column): Column =
    array_max(transform(col("cents_arr"), c =>
      struct(
        cosPre(emb, nrm, c.getField("c_emb"), c.getField("c_nrm")).as("cell_cos"),
        (-c.getField("cell")).as("neg_cell"),
        c.getField("cell").as("cell"),
        c.getField("c_emb").as("c_emb"))))

  /** Every row of `df` (needs emb, nrm) with its nearest centroid of
    * `cents` as the [[bestCellStruct]] column `best` — the per-row
    * assignment against the broadcast [[centsAsArray]] row that IVF,
    * k-means, cell health/split and semantic dedup all share. */
  private[operators] def assign(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(centsAsArray(cents)))
      .select(df.columns.map(col) :+
        bestCellStruct(col("emb"), col("nrm")).as("best"): _*)

  /** The rows of `df` with vec_id < n: the query set of every ANN query
    * (n = 10, or 50 for the classifiers) and the planted-copy sources
    * of the embedding near-dup ops (n = 100). */
  private[operators] def firstIds(df: DataFrame, n: Int): DataFrame =
    df.where(col("vec_id") < n)

  /** The query side of a corpus frame: [[firstIds]] with vec_id renamed
    * to query_id and every other column c to q_c (q_emb, q_nrm,
    * q_label), so it joins the corpus without name clashes. */
  private def querySet(base: DataFrame, n: Int = 10): DataFrame =
    firstIds(base, n).select(base.columns.map {
      case "vec_id" => col("vec_id").as("query_id")
      case c => col(c).as(s"q_$c")
    }: _*)

  /** Each `part` group's first `n` rows by (`score` desc, `tie`),
    * numbered from 1 in column `as`: the one ranking window of the
    * spine (final rank, shortlists, cell probes, label votes). */
  private def firstN(df: DataFrame, n: Int, as: String, part: String = "query_id",
      score: String = "cos_e6", tie: String = "neighbor_id"): DataFrame =
    df.withColumn(as, row_number().over(
        Window.partitionBy(col(part)).orderBy(col(score).desc, col(tie))))
      .where(col(as) <= n)

  /** The spine's last step: each query's top k by exact cos_e6, ties
    * to the smaller neighbor_id, as a BIGINT `rank`, ordered
    * (query_id, rank). Ranking on µ-scaled cosine means cross-engine
    * float noise can't flip ranks. */
  private def topK(sims: DataFrame, k: Int): DataFrame =
    firstN(sims, k, "rank").withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))

  /** The exact candidate scan: every (query, corpus vector) pair but the
    * query itself, restricted by `on`, as (query_id, neighbor_id,
    * `keep`…, cos_e6). The query side is the broadcast one. */
  private def exactPairs(base: DataFrame, q: DataFrame, on: Column,
      keep: Column*): DataFrame =
    base.join(broadcast(q), col("vec_id") =!= col("query_id") && on)
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id")) ++ keep :+
        cosPre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("cos_e6"): _*)

  /** Exact re-rank of candidate (query_id, neighbor_id) pairs: each
    * joins back to its neighbor's vector in `base` and to the broadcast
    * query side, is scored by `score` (over q_emb/q_nrm and emb/nrm)
    * and the [[topK]] kept. Candidates are deduped by the caller, so
    * the raw-vector read touches each candidate once. */
  private def rerank(cands: DataFrame, base: DataFrame, k: Int,
      score: Column): DataFrame =
    topK(cands
      .join(base.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(broadcast(querySet(base)), "query_id")
      .select(col("query_id"), col("neighbor_id"), score.as("cos_e6")), k)

  /** Each query's `nProbe` nearest cells of `cents` (cell_cos desc,
    * ties to the smaller cell): the query rows of `q` (query_id, q_emb,
    * q_nrm, …) fanned out to (…, cell, cell_cos). The |cells| fan-out
    * happens on the tiny query side only, against the same broadcast
    * centroid row [[assign]] scores the corpus with. */
  private def probe(q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val scored = q.crossJoin(broadcast(centsAsArray(cents)))
      .select(q.columns.map(col) :+ inline(transform(col("cents_arr"), c =>
        struct(c.getField("cell").as("cell"),
          cosPre(col("q_emb"), col("q_nrm"), c.getField("c_emb"),
            c.getField("c_nrm")).as("cell_cos")))): _*)
    firstN(scored, nProbe, "prk", score = "cell_cos", tie = "cell").drop("prk")
  }

  /** The `n` rows of `base` with the smallest [[consistentHash]] of
    * vec_id (ties to the smaller id), numbered from 0 in column `as` —
    * deterministic k-means / codebook seeds, no collect. */
  private def hashSeeds(base: DataFrame, n: Int, as: String): DataFrame =
    base.withColumn("h", consistentHash(col("vec_id")))
      .orderBy(col("h"), col("vec_id")).limit(n) // n rows: the unpartitioned window is cheap
      .withColumn(as,
        row_number().over(Window.orderBy(col("h"), col("vec_id"))).cast("long") - 1L)

  /** §2#29 exact cosine top-5 per query vector (vec_id < 10). The tiny
    * query side is broadcast; ranking is on µ-scaled cosine so
    * cross-engine float noise can't flip ranks.
    *
    * MEMOIZED PER (session, sfDir, k) in a [[graft.SessionMemo]]: the
    * exact top-k is consumed both as the ann_bruteforce_topk query and
    * as recallReport's truth denominator, and re-running the
    * query×corpus scan for the report pays the most expensive ANN
    * stage twice for identical rows. Bench times the build on its own
    * as "ann_truth_build" so a truth-scan regression still shows. */
  def bruteforceTopk(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    truthMemo(spark, (sfDir, k))

  private val truthMemo = SessionMemo[(String, Int), DataFrame]("ann_truth") {
    case (spark, (sfDir, k)) => computeBruteforceTopk(spark, sfDir, k).cut
  }

  /** The built IVF-PQ index memo, keyed by every build parameter (the
    * query path must match how codes were built). This is the faiss
    * build/search split as a session cache: train + encode once, serve
    * ann_ivf_pq AND recallReport's ivf_pq rung from the same
    * checkpointed tables. Bench times the build on its own as
    * "ann_ivfpq_build". */
  private val indexMemo =
    SessionMemo[(String, Int, Int, Int, Int, Boolean), IvfPqIndex]("ann_ivfpq") {
      case (spark, (sfDir, nCells, m, codesPerSub, iters, residual)) =>
        val raw = computeIvfPqIndex(spark, sfDir, nCells, m, codesPerSub,
          iters, residual)
        // cents/cb are checkpointed by their builders; the encoded
        // inverted index is the expensive leaf consumers re-scan —
        // materialize it so reuse reads blocks, not the encode plan
        raw.copy(codesCell = raw.codesCell.cut)
    }

  /** Drop this session's memoized truth frames and IVF-PQ indexes. */
  def invalidateMemos(spark: SparkSession): Unit = {
    truthMemo.invalidate(spark)
    indexMemo.invalidate(spark)
  }

  /** The two shared base frames of the ANN family, MEMOIZED PER
    * (session, sfDir) in a [[graft.SessionMemo]]: [[corpusCut]] is the
    * (vec_id, label, emb, nrm) frame four queries materialized
    * per-call (ivf_topk, ivf_kmeans, cell_health, cell_split);
    * [[unitCut]] is the L2-normalized (vec_id, emb) frame three more
    * built per-call (pq_adc, sq_topk, the IVF-PQ index build). The
    * recall report's rungs ride the same frames, so one report no
    * longer pays three corpus materializations. Values are identical
    * by construction (same plan, cut once instead of per call); Bench
    * times the builds as "ann_base_build" — no cross-run persistence,
    * nothing keyed on testdata paths. */
  private[graft] def corpusCut(spark: SparkSession, sfDir: String): DataFrame =
    baseMemo(spark, (sfDir, "corpus"))

  private[graft] def unitCut(spark: SparkSession, sfDir: String): DataFrame =
    baseMemo(spark, (sfDir, "unit"))

  private val baseMemo = SessionMemo[(String, String), DataFrame]("ann_base") {
    case (spark, (sfDir, "corpus")) => corpus(spark, sfDir).cut
    case (spark, (sfDir, "unit")) =>
      corpus(spark, sfDir).drop("label")
        .select(col("vec_id"),
          transform(col("emb"), x => x / col("nrm")).as("emb"))
        .cut
  }

  /** Drop this session's memoized base frames. */
  def invalidateBaseMemos(spark: SparkSession): Unit = baseMemo.invalidate(spark)

  /** The raw (un-memoized, un-checkpointed) plan — exposed so
    * plan-shape specs can assert the broadcast join that the memo's
    * checkpoint scan would otherwise hide. */
  private[graft] def computeBruteforceTopk(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame = {
    // both legs read the session's memoized base blocks
    val base = corpusCut(spark, sfDir)
    topK(exactPairs(base, querySet(base), lit(true)), k)
  }

  /** §2#229 RANGE SEARCH — the fixed-radius twin of top-k (faiss
    * `range_search`): per query, EVERY corpus vector with cosine ≥
    * `thresholdE6`, not a fixed count. The retrieval mode dedup and
    * contamination sweeps actually want — "everything this similar",
    * where k is unknowable in advance (a doc may have 0 or 10⁴ true
    * neighbors).
    *
    * Deliberately the exact scan, not a cell-probed approximation: a
    * radius query against IVF cells is only exact with a triangle-
    * inequality bound (cell radius bookkeeping) — the approximate
    * rungs already exist for top-k; range semantics here stay exact.
    * Scale shape is BETTER than the top-k scan: one broadcast of the
    * bounded query side, one narrow codegen'd pass over the corpus,
    * a pushed filter, NO window and NO shuffle at all — the output
    * ordering is the only exchange, and at 100 TB the consumer is a
    * join, not an ORDER BY. */
  def rangeSearch(spark: SparkSession, sfDir: String,
      thresholdE6: Long = 200000L): DataFrame = {
    val base = corpusCut(spark, sfDir)
    exactPairs(base, querySet(base), lit(true))
      .where(col("cos_e6") >= thresholdE6)
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** §2#30 multi-table MULTIPROBE LSH ANN top-k: `nTables` independent
    * random-hyperplane tables of `nBits` bits each (the classic
    * Indyk–Motwani amplification — a neighbor at per-bit agreement p is
    * missed by ALL tables with probability (1-p^b)^L, so recall rises
    * with L while per-table bucket size stays |corpus|/2^b). Each query
    * additionally probes `nProbes` neighboring buckets per table, built
    * by flipping its lowest-|margin| projection bits (Lv et al.,
    * VLDB'07): the buckets a near-miss neighbor most likely landed in.
    * The corpus is bucketed once into (table, bucket) — ONE explode ×L
    * carrying only ids; only the tiny QUERY side fans out ×(1+nProbes).
    * Candidate ids are deduped BEFORE the exact re-rank joins back to
    * raw vectors, so the expensive read touches each candidate once.
    * At 100 TB: probe work per query ≈ L·(1+nProbes)·|corpus|/2^b rows
    * of ids, never the corpus. Defaults (16 tables × 6 bits × 2 extra
    * probes) measure 92% recall@5 on THIS near-orthogonal worst-case
    * corpus (spec floor ≥70%); real clustered embeddings sit higher. */
  def lshTopk(spark: SparkSession, sfDir: String, k: Int = 5,
      nTables: Int = 16, nBits: Int = 6, nProbes: Int = 2): DataFrame = {
    val base = corpusCut(spark, sfDir)
    val buckets = array((0 until nTables).map(t =>
      hyperplaneBucketSeeded(col("emb"), nBits, 64, t.toLong)): _*)
    val bucketed = base
      .select(col("vec_id"), posexplode(buckets).as(Seq("t", "bucket")))
    // query-side multiprobe fan-out: same hyperplanes per table (the
    // probe array's head equals the corpus bucket), plus the
    // lowest-margin single-bit flips
    val probeArrays = array((0 until nTables).map(t =>
      hyperplaneProbesSeeded(col("q_emb"), nBits, 64, t.toLong, nProbes)): _*)
    val qBuckets = querySet(base)
      .select(col("query_id"), posexplode(probeArrays).as(Seq("t", "probes")))
      .select(col("query_id"), col("t"), explode(col("probes")).as("bucket"))
    val candIds = bucketed.join(broadcast(qBuckets), Seq("t", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    rerank(candIds, base, k,
      cosPre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")))
  }

  /** §2#47 nearest-centroid classification: per-label element-wise mean
    * centroid (posexplode → groupBy(label, dim) → avg → re-assembled
    * sorted array — all built-in, partial-agg friendly), then each
    * query vector (vec_id < 50) is assigned the label of the nearest
    * centroid by cosine (ties to the smaller label): a one-cell
    * [[probe]] of the label-centroid cells. Centroids are tiny →
    * broadcast. */
  def centroidClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpusCut(spark, sfDir)
    probe(querySet(base, 50), labelCentroids(base), 1)
      .select(col("query_id").as("vec_id"),
        col("cell").cast("long").as("predicted_label"),
        col("q_label").cast("long").as("actual_label"),
        col("cell_cos").as("cos_e6"))
      .orderBy(col("vec_id"))
  }

  /** §2#52 IVF-style ANN: a coarse quantizer (here the per-label mean
    * centroids — a production system would k-means-train them) assigns
    * each corpus vector to its nearest cell; a query probes only its
    * `nProbe` closest cells and ranks exactly within them. At 100 TB
    * the corpus is partitioned by cell once and each query touches
    * nProbe/nCells of the data. Approximate by construction → rows-only
    * check; the spec asserts structural invariants + recall vs brute
    * force. */
  def ivfTopk(spark: SparkSession, sfDir: String, k: Int = 5, nProbe: Int = 3): DataFrame = {
    val base = corpusCut(spark, sfDir)
    ivfSearch(base, labelCentroids(base), k, nProbe)
  }

  /** The IVF spine shared by [[ivfTopk]] and [[ivfKmeansTopk]]: every
    * corpus vector is assigned its best cell IN-ROW ([[assign]] — at
    * 100 TB the assign step is scan + map, no corpus-wide argmax
    * shuffle), each query [[probe]]s its nProbe closest cells, and the
    * exact cosine ranks the probed cells' members. */
  private def ivfSearch(base: DataFrame, cents: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val assigned = assign(base, cents)
      .select(col("vec_id"), col("emb"), col("nrm"), col("best.cell").as("cell"))
    val sims = assigned.join(broadcast(probe(querySet(base), cents, nProbe)), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cell").cast("long").as("cell"),
        cosPre(col("q_emb"), col("q_nrm"), col("emb"), col("nrm")).as("cos_e6"))
    topK(sims, k)
  }

  /** §2#299 IVF CELL HEALTH — the BATCH side of the index-maintenance
    * pair (StreamIvfMaintain is the live side): for the same coarse
    * quantizer #52 queries through (per-label mean centroids), report
    * each cell's occupancy, corpus share ‰, mean residual
    * (1e6 − cell cosine — how well the centroid still fits its
    * population), and the rebuild hint (over 2× its fair share, or
    * mean residual past the drift line). This is the report an index
    * orchestrator reads BEFORE deciding which cells to re-train —
    * the batch reconciliation the streaming hints are checked
    * against.
    *
    * All integers after the e6 cosine rounding (sums and floor
    * divides — exact on both engines). Shape: one corpus×centroids
    * broadcast score, one vec-grain argmax (max_by, combinable), one
    * ≤|cells| agg + two 1-row broadcasts. Nothing after the scan
    * exceeds |cells| rows. */
  def cellHealth(spark: SparkSession, sfDir: String,
      driftE6: Long = 500000L): DataFrame = {
    val base = corpusCut(spark, sfDir)
    cellHealthOn(base, labelCentroids(base), driftE6)
  }

  /** Per-label mean centroids over `base` as (cell, c_emb, c_nrm) rows:
    * the coarse quantizer of the #52 IVF query, the default one
    * [[cellHealth]] and [[cellSplit]] report against, and the #47
    * classifier's label cells. */
  private[graft] def labelCentroids(base: DataFrame): DataFrame =
    base
      .select(col("label"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("parts"))
      .select(col("label").as("cell"),
        transform(col("parts"), p => p.getField("m")).as("c_emb"))
      .withColumn("c_nrm", norm2(col("c_emb")))

  /** [[cellHealth]] against an EXPLICIT corpus + centroid table — the
    * parameterized form that lets the batch↔stream
    * reconciliation spec drive the SAME centroid array through this
    * and [[graft.streaming.StreamIvfMaintain]] and compare per-cell
    * (n_vecs, mean residual) verdicts over the materialized end
    * state. `base` needs (vec_id, emb, nrm); `centroids` needs
    * (cell, c_emb, c_nrm). Same plan shape as the registered query:
    * broadcast score, combinable max_by argmax, ≤|cells| agg. */
  def cellHealthOn(base: DataFrame, centroids: DataFrame,
      driftE6: Long = 500000L): DataFrame = {
    graft.functions.Registry.ensure(base.sparkSession)
    // per-row argmax against the broadcast centroid array: no
    // corpus-wide groupBy(vec_id) exchange — the first and ONLY
    // shuffle is the ≤|cells| health agg
    val assigned = assign(base, centroids)
      .select(col("best.cell").as("cell"),
        (lit(1000000L) - col("best.cell_cos")).as("resid_e6"))
    val health = assigned.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("resid_e6")).as("rsum"))
    health
      .crossJoin(broadcast(health.agg(sum(col("n_vecs")).as("total"),
        count(lit(1)).as("n_cells"))))
      .select(col("cell"), col("n_vecs"),
        expr("1000 * n_vecs div total").as("share_pm"),
        expr("rsum div n_vecs").as("mean_resid_e6"),
        (col("n_vecs") * col("n_cells") > lit(2L) * col("total")
          || expr("rsum div n_vecs") > driftE6).cast("long").as("rebuild"))
      .orderBy(col("cell"))
  }

  /** §2#301 IVF CELL SPLIT — the ACTED-ON form of the rebuild hint
    * (#298/#299 emit it; this is what the orchestrator does next):
    * take the worst cell (max mean residual, ties → smallest id —
    * the cell whose centroid fits its population worst), re-train
    * JUST that cell's population with 2-means, and re-parent ONLY its
    * codes between the two children — the incremental alternative to
    * a full re-kmeans of the index (faiss's "split a hot inverted
    * list" move; the IVF equivalent of salting a skewed key). Every
    * other cell's membership is untouched BY CONSTRUCTION (the codes
    * are stored state, not recomputed — a global re-assign against
    * the grown centroid table would steal vectors from healthy cells
    * and invalidate their codes).
    *
    * Output: the post-split health table — one row per surviving cell
    * (untouched cells carry `parent` = −1; the two children carry
    * `parent` = the split cell, ids max(cell)+1 and max(cell)+2 so no
    * id is ever reused). Mass is conserved: Σ n_vecs = |corpus|.
    *
    * Scale shape: one corpus×centroids broadcast score + vec-grain
    * combinable argmax (the #299 assignment, memoized via `.cut` —
    * it feeds the worst-cell pick, the report, and the split
    * population), two 1-row broadcasts (target pick, max id),
    * Lloyd's over ONE cell's population (2 combinable shuffles per
    * iteration on ~1/|cells| of the corpus), one ≤|cells|+2 agg.
    * Floats only inside the child centroids (k-means averages) →
    * rows-kind, structurally gated; the ScalaTest spec pins the
    * children against an independent batch 2-means re-cluster of the
    * same population. */
  def cellSplit(spark: SparkSession, sfDir: String,
      iters: Int = 2): DataFrame = {
    val base = corpusCut(spark, sfDir)
    cellSplitOn(base, labelCentroids(base), iters)
  }

  /** [[cellSplit]] against an explicit corpus + centroid table (the
    * parameterized form, like [[cellHealthOn]]). `base` needs
    * (vec_id, emb, nrm); `centroids` needs (cell, c_emb, c_nrm). */
  def cellSplitOn(base: DataFrame, centroids: DataFrame,
      iters: Int = 2): DataFrame = {
    graft.functions.Registry.ensure(base.sparkSession)
    // stored codes: every vector's current cell + residual (the #299
    // assignment, per row, zero corpus shuffle); memoized — three
    // consumers below
    val assigned = assign(base, centroids)
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("best.cell").cast("long").as("cell"),
        (lit(1000000L) - col("best.cell_cos")).as("resid_e6"))
      .cut
    val health = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("resid_e6")).as("rsum"))
    // the orchestrator's pick: worst mean residual, ties → smallest id
    val target = health.agg(max_by(col("cell"),
      struct(expr("rsum div n_vecs"), -col("cell"))).as("t_cell"))
    val maxId = centroids.agg(max(col("cell")).cast("long").as("max_cell"))
    val pop = assigned.crossJoin(broadcast(target))
      .where(col("cell") === col("t_cell"))
      .select(col("vec_id"), col("emb"), col("nrm"))
    // 2-means over just the split population; children get fresh ids
    val children = kmeansCentroids(pop, 2, iters)
      .crossJoin(broadcast(maxId))
      .select((col("max_cell") + 1L + col("cell")).as("cell"),
        col("c_emb"), col("c_nrm"))
    // re-parent ONLY the split cell's codes between the two children
    // (same per-row argmax form as the assignment above)
    val reparented = assign(pop, children)
      .select(col("best.cell").as("cell"),
        (lit(1000000L) - col("best.cell_cos")).as("resid_e6"))
    val untouched = assigned.crossJoin(broadcast(target))
      .where(col("cell") =!= col("t_cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("resid_e6")).as("rsum"))
      .select(col("cell"), col("n_vecs"), col("rsum"), lit(-1L).as("parent"))
    val childRows = reparented.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("resid_e6")).as("rsum"))
      .crossJoin(broadcast(target))
      .select(col("cell"), col("n_vecs"), col("rsum"),
        col("t_cell").cast("long").as("parent"))
    untouched.unionByName(childRows)
      .select(col("cell"), col("n_vecs"),
        expr("rsum div n_vecs").as("mean_resid_e6"), col("parent"))
      .orderBy(col("cell"))
  }

  /** Lloyd's k-means over the corpus, DataFrame-native: seeds are the
    * bottom-k vectors by multiplicative hash (deterministic, no
    * collect); each iteration broadcasts the centroid table as ONE
    * array row ([[centsAsArray]]), assigns every corpus row its best
    * cell IN-ROW ([[bestCellStruct]] — no corpus-wide argmax
    * groupBy), and recomputes centroids with the single-pass
    * element-wise [[graft.functions.VecSumDoubles]] aggregate (÷ the
    * group count) — no 64× posexplode, no per-dim second shuffle.
    * An iteration therefore moves ZERO corpus-sized shuffles: the
    * only exchange carries ≤k partial (sum-array, count) rows (guide
    * §2.3/§2.4). Centroid float sums re-associate, which every
    * consumer tolerates (rows-kind paths only). Lineage cut per
    * iteration. */
  private[operators] def kmeansCentroids(base: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = hashSeeds(base, k, "cell")
      .select(col("cell"), col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    if (iters == 0) return cents.transform(graft.Checkpoints.cut)
    for (it <- 1 to iters) {
      val assigned = assign(base, cents)
        .select(col("emb"), col("best.cell").as("cell"))
      val next = assigned
        .groupBy(col("cell"))
        .agg(vecSum(col("emb")).as("vs"), count(lit(1)).as("n"))
        .select(col("cell"),
          transform(col("vs"), x => x / col("n")).as("c_emb"))
        .withColumn("c_nrm", norm2(col("c_emb")))
      // Cut ONLY the final iteration: an
      // intermediate iteration is single-consumer (the next round's
      // broadcast), so its eager checkpoint job bought nothing — the
      // nested round now runs as a broadcast subtree inside the final
      // cut's job, same corpus scans, one fewer scheduler round-trip
      // per dropped iteration. `base` stays checkpointed, so the plan
      // nests ≤ iters broadcast joins over block scans, never the raw
      // source. Consumers are rows-kind (float centroids) throughout.
      cents = if (it == iters) next.transform(graft.Checkpoints.cut) else next
    }
    cents
  }

  /** §2#71 IVF with a k-means-TRAINED coarse quantizer (vs the label
    * centroids of [[ivfTopk]] — only as many cells as labels): 8
    * Lloyd's cells partition the space properly, queries probe the
    * nProbe nearest. Same probe plan as ivfTopk: corpus bucketed by
    * cell once, per-query work ∝ nProbe/nCells of the corpus. */
  def ivfKmeansTopk(spark: SparkSession, sfDir: String, k: Int = 5,
      nCells: Int = 8, nProbe: Int = 3, iters: Int = 2): DataFrame = {
    val base = corpusCut(spark, sfDir)
    ivfSearch(base, kmeansCentroids(base, nCells, iters), k, nProbe)
  }

  /** One row per (vec_id, subspace): the subDim-dim subvector of
    * `emb` — shared by PQ training/encoding and the query-side ADC
    * table construction (which must slice the QUERY vector even when
    * the codebooks were trained on residuals). */
  private def subvectors(base: DataFrame, m: Int): DataFrame = {
    val subDim = 64 / m
    // an optional `cell` column rides along untouched: the IVF-PQ build
    // tags vectors with their coarse cell BEFORE slicing, so the
    // inverted index needs no corpus-grain join-back (guide §2.4)
    val extra = if (base.columns.contains("cell")) Seq(col("cell")) else Nil
    base
      .select(Seq(col("vec_id")) ++ extra ++ Seq(
        explode(sequence(lit(0L), lit(m - 1L))).as("s"), col("emb")): _*)
      .select(Seq(col("vec_id")) ++ extra ++ Seq(col("s"),
        expr(s"slice(emb, CAST(s * $subDim + 1 AS INT), $subDim)").as("sv")): _*)
  }

  /** One codebook table (s, code, c_sv, c_sq) folded to m rows, each
    * holding its whole subspace codebook as a code-sorted array — the
    * broadcast form for per-row argmin encoding ([[bestCode]]). */
  private def cbAsArray(cb: DataFrame): DataFrame =
    cb.groupBy(col("s")).agg(array_sort(collect_list(
      struct(col("code"), col("c_sv"), col("c_sq")))).as("cb_arr"))

  /** Nearest-codebook-entry code for one (vec, subspace) row against
    * its broadcast `cb_arr`: argmin L2 (d2 = |sv|² − 2·sv·c + |c|²,
    * the identical expression the join form used), ties to the
    * smallest code — evaluated per row, so encoding needs NO
    * corpus-sized groupBy shuffle (guide §2.4). */
  private def bestCode: Column =
    array_min(transform(col("cb_arr"), c =>
      struct(
        (col("svsq") - lit(2.0) * dot(col("sv"), c.getField("c_sv"))
          + c.getField("c_sq")).as("d2"),
        c.getField("code").as("code")))).getField("code")

  /** PQ training + encoding over a UNIT-normalized (vec_id, emb)
    * frame — the shared stages under [[pqAdcTopk]] and [[ivfPqTopk]]:
    * returns (cb, codes) = the trained per-subspace codebooks and the
    * encoded corpus. */
  private def pqStages(base: DataFrame, m: Int, codesPerSub: Int,
      iters: Int): (DataFrame, DataFrame) = {
    // one row per (vec_id, subspace): the 8-dim subvector
    val subs = subvectors(base, m)
      .withColumn("svsq", dot(col("sv"), col("sv")))
      .cut
    // codebook seeds: the bottom-codesPerSub vectors by multiplicative
    // hash seed ALL m subspaces at once. Lazy: the one-time seed
    // subtree runs inside iteration 1's checkpoint job — the seeds and
    // the initial codebook are single-consumer, so a cut buys nothing.
    val seedIds = hashSeeds(base, codesPerSub, "code").select(col("vec_id"), col("code"))
    var cb = subs.join(broadcast(seedIds), "vec_id")
      .select(col("s"), col("code"), col("sv").as("c_sv"))
      .withColumn("c_sq", dot(col("c_sv"), col("c_sv")))
    // Codebooks train on a deterministic ~50% sample — the standard PQ
    // recipe (k-means needs a representative sample, not the corpus; at
    // 100 TB you'd train on ~1e5 vectors and encode everything). The
    // hash-threshold sample is the same consistent-sampling trick as
    // sample_stratified. Lazy: a filter over subs' checkpoint blocks —
    // re-filtering per iteration is cheaper than its own cut job.
    val train = subs.where(consistentHash(col("vec_id")) % lit(2L) === 0L)
    // Lloyd's per subspace: per-row argmin assign against the m-row
    // broadcast codebook-array form + single-pass vecSum mean per
    // (s, code) — an iteration moves no corpus-sized shuffle (guide
    // §2.3/§2.4)
    for (it <- 1 to iters) {
      val assigned = train.join(broadcast(cbAsArray(cb)), Seq("s"))
        .select(col("s"), bestCode.as("code"), col("sv"))
      val next = assigned
        .groupBy(col("s"), col("code"))
        .agg(vecSum(col("sv")).as("vs"), count(lit(1)).as("n"))
        .select(col("s"), col("code"),
          transform(col("vs"), x => x / col("n")).as("c_sv"))
        .withColumn("c_sq", dot(col("c_sv"), col("c_sv")))
      // Cut ONLY the final iteration — same
      // reasoning as kmeansCentroids: intermediate codebooks are
      // single-consumer broadcast inputs; `subs` (the scan they fold
      // over) is already checkpointed, so dropping the eager
      // intermediate job keeps the same number of block scans.
      cb = if (it == iters) next.transform(graft.Checkpoints.cut) else next
    }
    // encode: m codes per corpus vector, computed in-row against the
    // broadcast codebook arrays — the encode groupBy shuffle of
    // corpus×m rows is gone (the only thing the scan reads); a `cell`
    // passthrough column (IVF-PQ) stays on the row
    val codeExtra = if (subs.columns.contains("cell")) Seq(col("cell")) else Nil
    val codes = subs.join(broadcast(cbAsArray(cb)), Seq("s"))
      .select(Seq(col("vec_id")) ++ codeExtra ++
        Seq(col("s"), bestCode.as("code")): _*)
    (cb, codes)
  }

  /** ADC+R (Jégou §VI): the compressed scan only SHORTLISTS — the top
    * `shortlist` candidates per query by approximate `adc_cos_e6` — and
    * the exact cosine re-ranks just those. The expensive raw-vector
    * read touches shortlist·|queries| rows instead of the corpus, which
    * is what makes exact-quality results affordable when the corpus
    * lives as codes. `base` must be the unit-normalized corpus, so the
    * exact cosine is just the dot product. */
  private def adcRerank(sims: DataFrame, base: DataFrame, k: Int,
      shortlist: Int): DataFrame =
    rerank(firstN(sims, shortlist, "srank", score = "adc_cos_e6")
        .select(col("query_id"), col("neighbor_id")),
      base, k, scaled(dot(col("q_emb"), col("emb")), 1000000L))

  /** The ADC lookup table: per (query, subspace, code) the partial dot
    * of the query's subvector with the codebook entry — m × |codebook|
    * numbers per query, the whole "distance computation" a code scan
    * needs. Slices the RAW query vector whatever the codebooks were
    * trained on: q·r decomposes per subspace either way. */
  private def adcTable(base: DataFrame, cb: DataFrame, m: Int): DataFrame =
    subvectors(firstIds(base, 10), m).join(cb, Seq("s"))
      .select(col("vec_id").as("query_id"), col("s"), col("code"),
        dot(col("sv"), col("c_sv")).as("pdot"))

  /** §2#77 Product-Quantization ANN with Asymmetric Distance
    * Computation (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011). The 64-dim space splits into m=8
    * subspaces of 8 dims; each subspace gets its own 16-entry codebook
    * (distributed Lloyd's, same shape as [[kmeansCentroids]] but
    * trained per subspace in ONE pass — subspace is just an extra
    * grouping key). Every corpus vector compresses to m 4-bit codes.
    *
    * Query time is the ADC trick: the query precomputes a (m × 16)
    * table of partial dot products against every codebook entry — 128
    * numbers, broadcast — and each corpus vector's approximate score is
    * m TABLE LOOKUPS (the (s, code) join) summed, never a d-dim float
    * dot. At 100 TB that's the difference between scanning 256-byte raw
    * vectors and scanning 8-byte codes that live in memory: ~30×
    * smaller scan + centroids-side norm reconstructed from the same
    * table. Approximate by construction → rows-only check; the spec
    * asserts recall vs brute force. */
  def pqAdcTopk(spark: SparkSession, sfDir: String, k: Int = 5,
      m: Int = 8, codesPerSub: Int = 64, iters: Int = 2): DataFrame = {
    // L2-normalize BEFORE encoding: on unit vectors the ADC inner
    // product approximates cosine directly — no reconstructed-norm
    // division, whose quantization error would otherwise distort ranks
    val base = unitCut(spark, sfDir)
    val (cb, codes) = pqStages(base, m, codesPerSub, iters)
    val sims = codes.join(broadcast(adcTable(base, cb, m)), Seq("s", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc_dot"), count(lit(1)).as("nparts"))
      .where(col("nparts") === m) // every subspace contributed
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        scaled(col("adc_dot"), 1000000L).as("adc_cos_e6"))
    adcRerank(sims, base, k, 10 * k)
  }

  /** §2#157 IVF-PQ — the COMPOSED production ANN architecture (faiss's
    * IndexIVFPQ, the standard billion-scale shape): the coarse
    * k-means quantizer of [[ivfKmeansTopk]] prunes the corpus to
    * nProbe/nCells, and WITHIN the probed cells the scan reads PQ
    * codes with ADC lookups instead of raw vectors ([[pqAdcTopk]]),
    * then the exact re-rank restores quality on the shortlist (ADC+R).
    * The two levers compound: cells cut WHICH vectors are scanned, PQ
    * cuts the BYTES PER VECTOR scanned — at 100 TB that is
    * nProbe/nCells × 1/32 of the brute-force read.
    *
    * RESIDUAL encoding (the default, and what faiss IndexIVFPQ ships):
    * PQ quantizes x − c(x), the vector MINUS its assigned coarse
    * centroid, not x itself. Residuals concentrate near the origin
    * with far less variance than raw vectors, so the same 4-bit
    * codebooks spend their resolution on the part of x the coarse
    * quantizer didn't already explain — measurably better recall at
    * identical code size (Jégou §V). Query-time ADC splits exactly:
    * q·x = q·c + q·r, with q·c one exact dot per (query, probed cell)
    * — nProbe numbers per query, broadcast — and q·r the usual m
    * table lookups against the residual codebooks. `residual = false`
    * keeps the simpler raw-encoding variant (the spec measures both
    * and pins residual ≥ raw).
    *
    * Shape: coarse assignment is the same map-side-combinable argmax
    * as IVF; codes join their cell id once (one vec_id shuffle at
    * index-build time); the query-time join fans each probed cell's
    * codes against a BROADCAST (query, cell) probe list and the
    * BROADCAST ADC table. Quantized floats → rows-only; the spec pins
    * recall@5 vs brute force. */
  def ivfPqTopk(spark: SparkSession, sfDir: String, k: Int = 5,
      nCells: Int = 8, nProbe: Int = 3, m: Int = 8,
      codesPerSub: Int = 64, iters: Int = 2,
      residual: Boolean = true): DataFrame =
    ivfPqQuery(buildIvfPqIndex(spark, sfDir, nCells, m, codesPerSub,
      iters, residual), k, nProbe)

  /** The materialized IVF-PQ index: coarse centroids, the cell-tagged
    * code table (the inverted index), the per-subspace codebooks, and
    * the unit-normalized vectors (rerank + query side). `m`/`residual`
    * travel with the index because the query path must match how the
    * codes were built. */
  private[operators] case class IvfPqIndex(cents: DataFrame,
      codesCell: DataFrame, cb: DataFrame, unit: DataFrame,
      m: Int, residual: Boolean)

  /** INDEX BUILD — the expensive half of IVF-PQ (k-means training, PQ
    * codebooks, encoding), factored out so it can run ONCE and persist
    * ([[persistIvfPqIndex]]) while queries run many times against the
    * stored tables — the faiss build/search split, which is also how a
    * 100 TB deployment amortizes the training cost. */
  private[operators] def buildIvfPqIndex(spark: SparkSession, sfDir: String,
      nCells: Int = 8, m: Int = 8, codesPerSub: Int = 64, iters: Int = 2,
      residual: Boolean = true): IvfPqIndex =
    indexMemo(spark, (sfDir, nCells, m, codesPerSub, iters, residual))

  private def computeIvfPqIndex(spark: SparkSession, sfDir: String,
      nCells: Int, m: Int, codesPerSub: Int, iters: Int,
      residual: Boolean): IvfPqIndex = {
    // unit vectors for the coarse stage — the shared memoized frame
    // plus a literal norm column (a projection over its blocks)
    val base = unitCut(spark, sfDir).withColumn("nrm", lit(1.0))
    val cents = kmeansCentroids(base, nCells, iters)
    val (cb, codes) = pqStages(ivfPqInput(base, cents, residual), m, codesPerSub, iters)
    IvfPqIndex(cents, codes, cb, base.select(col("vec_id"), col("emb")), m, residual)
  }

  /** What IVF-PQ encodes: each unit vector (vec_id, emb, nrm) tagged
    * with its coarse cell, `emb` replaced by the residual x − c(x)
    * when `residual`. The winning [[assign]] struct carries the
    * centroid, so the residual is computed IN the assignment row — no
    * corpus⋈corpus residual join — and the cell rides the row into the
    * PQ stages, so the inverted index is the code table as-is. */
  private[operators] def ivfPqInput(base: DataFrame, cents: DataFrame,
      residual: Boolean): DataFrame =
    assign(base, cents).select(col("vec_id"), col("best.cell").as("cell"),
      (if (residual) zip_with(col("emb"), col("best.c_emb"), (x, c) => x - c)
       else col("emb")).as("emb"))

  /** QUERY against an IVF-PQ index (inline-built or read back from
    * tables): probe assignment and the ADC table are computed from the
    * query vectors against the STORED centroids/codebooks — nothing is
    * retrained at query time. */
  private[operators] def ivfPqQuery(idx: IvfPqIndex, k: Int = 5,
      nProbe: Int = 3): DataFrame = {
    val m = idx.m
    val qProbe = ivfPqProbe(idx, nProbe)
    val adcSums = idx.codesCell.join(broadcast(qProbe), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(adcTable(idx.unit, idx.cb, m)), Seq("query_id", "s", "code"))
      .groupBy(col("query_id"), col("cell"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc_dot"), count(lit(1)).as("nparts"))
      .where(col("nparts") === m) // every subspace contributed
    val sims = if (idx.residual) {
      // q·x = q·c(cell) + q·r — the centroid term, exact, per probe pair
      val qCellDot = qProbe
        .join(broadcast(idx.cents.select(col("cell"), col("c_emb"))), "cell")
        .select(col("query_id"), col("cell"),
          dot(col("q_emb"), col("c_emb")).as("qc_dot"))
      adcSums.join(broadcast(qCellDot), Seq("query_id", "cell"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          scaled(col("qc_dot") + col("adc_dot"), 1000000L).as("adc_cos_e6"))
    } else adcSums
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        scaled(col("adc_dot"), 1000000L).as("adc_cos_e6"))
    adcRerank(sims, idx.unit, k, 10 * k)
  }

  /** The (query_id, q_emb, q_nrm, cell, cell_cos) probe list of an
    * IVF-PQ index: each unit query vector's nProbe nearest STORED
    * centroids. A lazy ≤10-row filter over the unit table — its
    * consumers re-filter cheaper than a cut job costs. */
  private def ivfPqProbe(idx: IvfPqIndex, nProbe: Int): DataFrame =
    probe(querySet(idx.unit.withColumn("nrm", lit(1.0))), idx.cents, nProbe)

  /** §2#191 PERSIST the IVF-PQ index as catalog tables — the
    * build-once / query-many production split. The code table (the
    * inverted index, the only corpus-sized piece) is written
    * PARTITIONED BY cell, so a query that probes nProbe of nCells
    * cells reads exactly those partitions from disk and skips the
    * rest — the materialized form of "IVF prunes WHICH vectors are
    * scanned", enforced by the storage layout instead of a runtime
    * filter ([[ivfPqTopkPersisted]] pushes the probed cell list as a
    * partition predicate; the spec pins PartitionFilters in the scan).
    * Centroids and codebooks are nCells- and m×codes-row tables;
    * vectors persist for the exact re-rank. The catalog here is
    * in-memory; a deployment points the same code at its metastore. */
  def persistIvfPqIndex(spark: SparkSession, sfDir: String,
      name: String = "ivfpq", nCells: Int = 8, m: Int = 8,
      codesPerSub: Int = 64, iters: Int = 2,
      residual: Boolean = true): Unit = {
    val idx = buildIvfPqIndex(spark, sfDir, nCells, m, codesPerSub,
      iters, residual)
    idx.cents.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${name}_cents")
    idx.cb.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${name}_cb")
    idx.codesCell.write.mode("overwrite").format("parquet")
      .partitionBy("cell").saveAsTable(s"${name}_codes")
    idx.unit.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${name}_vectors")
  }

  /** Read a [[persistIvfPqIndex]] back as an [[IvfPqIndex]]. */
  private[operators] def persistedIvfPqIndex(spark: SparkSession,
      name: String = "ivfpq", m: Int = 8,
      residual: Boolean = true): IvfPqIndex =
    IvfPqIndex(spark.table(s"${name}_cents"), spark.table(s"${name}_codes"),
      spark.table(s"${name}_cb"), spark.table(s"${name}_vectors"),
      m, residual)

  /** Query the PERSISTED index. The probed cells (≤ queries × nProbe
    * distinct values of a ≤ nCells universe) are collected once and
    * pushed as a STATIC partition predicate on the code table — the
    * scan opens only the probed cells' partitions, which is the whole
    * point of an inverted index on disk. */
  def ivfPqTopkPersisted(spark: SparkSession, name: String = "ivfpq",
      k: Int = 5, nProbe: Int = 3, m: Int = 8,
      residual: Boolean = true): DataFrame = {
    graft.functions.Registry.ensure(spark)
    val idx = persistedIvfPqIndex(spark, name, m, residual)
    val probedCells = ivfPqProbe(idx, nProbe).select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val pruned = idx.codesCell.where(col("cell").isin(probedCells: _*))
    ivfPqQuery(idx.copy(codesCell = pruned), k, nProbe)
  }

  /** §2#194 ANN RECALL REPORT — the quality harness AS A QUERY: every
    * approximate rung of the ladder scored against the exact
    * brute-force top-k in one job, per method: hits, truth size,
    * recall@k in per-mille. This is the nightly table a production
    * vector-search team watches — recall regressions (a bad codebook
    * retrain, a skewed cell split) show up here before users notice.
    * Shape: the truth set is |queries|·k rows (broadcast-sized); each
    * method's results semi-join it and collapse to one row — the cost
    * is just running the rungs, which is the point of the report. */
  def recallReport(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    // already checkpointed by the bruteforceTopk memo — the select is a
    // narrow projection over materialized blocks, not a recompute
    val exact = bruteforceTopk(spark, sfDir, k)
      .select(col("query_id"), col("neighbor_id"))
    val nTruth = exact.count()
    def scoredAs(method: String, df: DataFrame): DataFrame =
      df.select(col("query_id"), col("neighbor_id"))
        .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"),
          lit(nTruth).as("n_truth"),
          // an empty truth set (e.g. a one-vector corpus: a query never
          // neighbours itself) has no recall — NULL, not div-by-zero
          (if (nTruth == 0) lit(null).cast("long")
           else expr(s"n_hits * 1000 div $nTruth")).as("recall_pm"))
    // The four rungs are independent and their builders run EAGER
    // checkpoint jobs during construction (ivf/sq8 materialize their
    // corpus frame; ivf_pq builds or reads the index memo) — construct
    // them concurrently from a small pool (guide §2.6) so one rung's
    // checkpoint tail back-fills the others' idle cores. Each frame is
    // deterministic and shares no mutable state, so the report is
    // scheduling-independent.
    // Pool CLAMPED to the scheduler's core budget:
    // 4 concurrent build chains oversubscribe an 8-core machine;
    // cores/4 keeps 32-core behavior identical (4 threads) while
    // small machines overlap only 2.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, spark.sparkContext.defaultParallelism / 4)))
    val rungs =
      try {
        val futs = Seq(
          ("lsh", () => lshTopk(spark, sfDir, k)),
          ("ivf", () => ivfTopk(spark, sfDir, k)),
          ("ivf_pq", () => ivfPqTopk(spark, sfDir, k)),
          ("sq8", () => sqTopk(spark, sfDir, k))).map { case (name, mk) =>
          pool.submit(new java.util.concurrent.Callable[DataFrame] {
            override def call(): DataFrame = scoredAs(name, mk())
          })
        }
        futs.map(_.get())
      } finally pool.shutdown()
    rungs.reduce(_ unionByName _)
      .orderBy(col("method"))
  }

  /** §2#141 SCALAR-quantized ANN (SQ8) — the memory rung between raw
    * vectors and PQ codes, and the simplest production compression
    * (faiss's SQ8 / Lucene's int8 HNSW storage): per-DIMENSION affine
    * int8 quantization, code_i = round((x_i − lo_i)/step_i) ∈ [0,255],
    * so a 64-dim float64 vector becomes 64 bytes (8×). Fidelity beats
    * PQ (error ≤ step/2 per dim vs per-subspace centroid error) at the
    * cost of bigger codes — which is why the ladder needs both rungs.
    *
    * Distributed shape: "training" is ONE map-side-combinable agg
    * (per-dim min/max over the corpus — the whole codebook is 2·64
    * doubles, broadcast as a single row); encoding is one narrow map;
    * the query scan reads codes only, computing the approximate dot
    * with the ADC identity Σ q_i·(lo_i + c_i·step_i) = q·lo +
    * Σ (q_i·step_i)·c_i — q·lo and the q_i·step_i table precomputed
    * once per query on the broadcast side. Shortlist 4k per query by
    * approximate score, exact re-rank on raw vectors (ADC+R, as in
    * [[pqAdcTopk]]). At 100 TB the scan is 64 B/vector + one fused
    * multiply-add per dim, and the exact read touches 4k·|queries|
    * rows. Min/max (not quantiles) keeps the transform exact-invertible
    * at the range ends; outlier-robust variants swap the agg, nothing
    * else. Float quantization arithmetic → rows-only check; the spec
    * pins recall@5 vs brute force ≥ 80% and exact agreement of ranks
    * that survive the shortlist. */
  def sqTopk(spark: SparkSession, sfDir: String, k: Int = 5,
      shortlistFactor: Int = 4): DataFrame = {
    // L2-normalize first, like PQ: on unit vectors dot = cosine
    val base = unitCut(spark, sfDir)
    val stats = base.select(posexplode(col("emb")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .agg(array_sort(collect_list(struct(col("d"), col("lo"), col("hi")))).as("s"))
      .select(transform(col("s"), p => p.getField("lo")).as("los"),
        transform(col("s"), p =>
          (p.getField("hi") - p.getField("lo")) / lit(255.0)).as("steps"))
    // encode: 0..255 code per dim (a constant dim collapses to code 0)
    val coded = base.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        zip_with(
          zip_with(col("emb"), col("los"), (e, l) => e - l),
          col("steps"),
          (cent, s) => when(s > 0, round(cent / s)).otherwise(lit(0.0))
            .cast("long")).as("codes"))
    // per-query ADC prep: the scalar q·lo and the per-dim q_i·step_i row
    val qPrep = querySet(base).crossJoin(broadcast(stats))
      .select(col("query_id"),
        dot(col("q_emb"), col("los")).as("qlo"),
        zip_with(col("q_emb"), col("steps"), (q, s) => q * s).as("qsteps"))
    val sims = coded.join(broadcast(qPrep), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        scaled(
          col("qlo") + aggregate(
            zip_with(col("qsteps"), col("codes"), (a, c) => a * c),
            lit(0.0), (acc, x) => acc + x),
          1000000L).as("adc_cos_e6"))
    adcRerank(sims, base, k, shortlistFactor * k)
  }

  /** §2#31 k-NN label vote: predict each query vector's label from its
    * 10 exact nearest neighbors' majority label. */
  def knnLabelVote(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpusCut(spark, sfDir)
    val sims = exactPairs(base, querySet(base, 50), lit(true),
      col("q_label").as("actual_label"), col("label"))
    val votes = firstN(sims, 10, "rank", tie = "label")
      .groupBy(col("query_id"), col("actual_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    firstN(votes, 1, "vr", score = "n_votes", tie = "label")
      .select(col("query_id"), col("label").cast("long").as("predicted_label"),
        col("actual_label").cast("long").as("actual_label"),
        when(col("label") === col("actual_label"), 1L).otherwise(0L).as("correct"))
      .orderBy(col("query_id"))
  }

  /** §2#146 FILTERED vector search: exact top-k under a metadata
    * predicate — here, neighbors sharing the query's label (the
    * "same-category recommendations" query every production vector
    * store serves). The filter lives in the JOIN CONDITION, not a
    * post-filter of an unfiltered top-k: post-filtering k results
    * under-delivers whenever fewer than k of the global top-k share
    * the label, while filter-first ranks the full label slice.
    *
    * Shape: the tiny query side broadcasts; the label equi-condition
    * means each corpus row pairs only with same-label queries (a
    * |corpus ∩ label| candidate set per query, |corpus|/|labels| on
    * balanced data) — the selectivity a filtered-ANN index (IVF per
    * label / filtered-DiskANN) exploits; at this fan-in the exact
    * scan IS the right plan, and at 100 TB the same query routes to
    * the label's IVF cells instead. */
  def filteredTopk(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val base = corpusCut(spark, sfDir)
    topK(exactPairs(base, querySet(base), col("label") === col("q_label"),
      col("label").cast("long").as("label")), k)
  }

  /** §2#167 MMR-DIVERSIFIED top-k (Maximal Marginal Relevance,
    * Carbonell & Goldstein, SIGIR 1998): greedily pick
    * argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the re-rank every
    * retrieval pipeline runs when plain top-k returns k near-copies
    * (for training data: diverse exemplars, not one cluster).
    *
    * Shape: candidate generation is the normal distributed top-nCand
    * path (broadcast queries, one window); ONLY the greedy selection —
    * inherently sequential, bounded at nCand=20 rows per query — runs
    * per-group in `flatMapGroups`, keyed by query, so the expensive
    * stage scales with |queries| × nCand, never the corpus. At 100 TB
    * the candidate stage swaps to LSH/IVF unchanged. All scores are
    * integer-µ with id tiebreaks (floorDiv for the λ mix), so the
    * selection order is exactly reproducible cross-partitioning. */
  def mmrTopk(spark: SparkSession, sfDir: String, k: Int = 5,
      nCand: Int = 20, lambdaPm: Long = 700L): DataFrame = {
    val c = corpusCut(spark, sfDir)
    // rank on (ids, score) ONLY — carrying the 64-double vectors into
    // the top-nCand window would shuffle |corpus|×|queries| embeddings
    // to keep 20 per query; the ≤ |queries|·nCand survivors join back
    // to the corpus for their vectors (tiny side broadcast, corpus
    // streams map-side)
    val candIds = firstN(exactPairs(c, querySet(c), lit(true)), nCand, "rk")
      .select(col("query_id"), col("neighbor_id"), col("cos_e6").as("rel_e6"))
    val cands = c.select(col("vec_id").as("neighbor_id"),
        col("emb"), col("nrm"))
      .join(broadcast(candIds), "neighbor_id")
    import spark.implicits._
    cands
      .select(col("query_id"), col("neighbor_id"), col("rel_e6"),
        col("emb"), col("nrm"))
      .as[(Long, Long, Long, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        mmrSelect(it.map(t => (t._2, t._3, t._4, t._5)).toArray, k, lambdaPm)
          .map { case (rank, id, score, rel) => (qid, rank, id, score, rel) }
          .iterator
      }
      .toDF("query_id", "rank", "neighbor_id", "mmr_score_e6", "rel_e6")
      .orderBy(col("query_id"), col("rank"))
  }

  /** The per-query greedy MMR selection, factored pure so its
    * guarantees are property-testable without a cluster: candidates
    * are (id, rel_e6, emb, nrm) in ANY order (the fold canonicalizes
    * by (rel desc, id) first — output is input-order invariant);
    * returns (rank, id, mmr_score_e6, rel_e6) for min(k, n) rows. */
  private[operators] def mmrSelect(
      cands: Array[(Long, Long, Seq[Double], Double)],
      k: Int, lambdaPm: Long): Seq[(Long, Long, Long, Long)] = {
    val cs = cands.sortBy(t => (-t._2, t._1))
    val n = cs.length
    def cosE6(i: Int, j: Int): Long = {
      val a = cs(i)._3; val b = cs(j)._3
      var d = 0.0; var m = 0
      while (m < a.length) { d += a(m) * b(m); m += 1 }
      math.floor(d / (cs(i)._4 * cs(j)._4) * 1e6).toLong
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val remaining = scala.collection.mutable.SortedSet(0 until n: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var rank = 1
    while (rank <= math.min(k, n)) {
      var best = -1; var bestScore = Long.MinValue
      var bestId = Long.MaxValue
      for (i <- remaining) {
        val red =
          if (selected.isEmpty) 0L
          else selected.iterator.map(s => cosE6(i, s)).max
        val score = Math.floorDiv(
          lambdaPm * cs(i)._2 - (1000L - lambdaPm) * red, 1000L)
        if (score > bestScore || (score == bestScore && cs(i)._1 < bestId)) {
          best = i; bestScore = score; bestId = cs(i)._1
        }
      }
      selected += best; remaining -= best
      out += ((rank.toLong, cs(best)._1, bestScore, cs(best)._2))
      rank += 1
    }
    out.toSeq
  }
}
