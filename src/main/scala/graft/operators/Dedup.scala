package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionMemo, Tables}
import graft.Checkpoints.CutOps
import graft.functions.Fns._

/** Deduplication operators for LLM training-data pipelines (§2.4).
  *
  * Scale notes (100 TB): every candidate-generation step is bucket-first
  * (same-source, LSH band, signature chunk, hyperplane bucket) — never a
  * corpus cross-join. The LSH shuffle carries only (band, hash, doc_id);
  * raw text never moves. Intermediate frames that feed multiple
  * consumers are materialized with eager `localCheckpoint` rather than
  * `cache()`: same reuse, lineage truncated, and the blocks are released
  * by the ContextCleaner when the frame goes out of scope (a `cache()`
  * would sit in the CacheManager until someone remembers to unpersist).
  */
object Dedup {

  /** Shingles with document frequency above this (within a source) are
    * dropped from candidate generation — the df prefix filter. A shingle
    * shared by hundreds of documents is boilerplate: it explodes the
    * set-similarity join quadratically (df² pairs) while carrying no
    * near-dup signal. The hot list is < totalShingles / maxDf entries —
    * small, but linear in corpus size, so the anti-join carries no
    * broadcast hint (AQE broadcasts when the runtime size fits).
    * Contract: with the filter active, jaccard is computed EXACTLY over
    * the df-filtered shingle universe (both intersections and set
    * sizes). 128 is far above any df in the test corpus (max observed:
    * 6), so the sf results — and the DuckDB oracle hashes, which
    * compute plain jaccard — are unchanged. */
  val defaultMaxShingleDf = 128

  /** §2#24 exact dedup via md5(text) hash-groupBy: canonical doc per
    * content hash + duplicate count. */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("content_hash"))

  /** §2#87 exact dedup over NORMALIZED text — lowercase, strip
    * punctuation, collapse whitespace first (TextAnalysis.normalize's
    * transform), THEN hash-group. Catches the case/punctuation/spacing
    * variants plain [[exact]] misses (the C4/RefinedWeb recipe runs
    * dedup on normalized text for exactly this reason). Same one-
    * shuffle map-side-combined shape; n_raw_variants counts distinct
    * RAW texts collapsed into each normalized class. */
  def exactNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"),
        md5(normText(col("text"))).as("norm_hash"),
        md5(col("text")).as("raw_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_dups"),
        countDistinct(col("raw_hash")).as("n_raw_variants"))
      .orderBy(col("norm_hash"))

  /** §2#25 n-gram Jaccard candidate pairs via a set-similarity join:
    * explode shingles, join same-source docs on equal shingles, count
    * matches per pair (= exact |A∩B| since shingle sets are distinct),
    * then |A∪B| = |A|+|B|−|A∩B|. The shuffle key is (source, shingle),
    * so work scales with shingle collisions — never a doc×doc
    * cross-join, and the whole thing is codegen'd (no per-pair
    * interpreted set ops). */
  /** Shared candidate generation: (doc_a, doc_b, inter_n) for
    * same-source pairs sharing ≥1 surviving shingle, via the
    * set-similarity join over df-filtered shingle hashes.
    *
    * MATERIALIZED ONCE PER SESSION: the set-similarity self-join is the
    * single most expensive stage in the suite and FOUR queries consume
    * it (ngram_jaccard, containment, cluster, pagerank). The memo hands
    * every consumer the same eagerly-checkpointed (inter, sizes) frames
    * — identical rows by construction, computed once in a
    * [[graft.SessionMemo]]. Bench times the build as
    * "dedup_candidates_build". */
  private val candidateMemo =
    SessionMemo[(String, Int), (DataFrame, DataFrame)]("dedup_candidates") {
      case (spark, (sfDir, maxDf)) =>
        val (inter, sizes) = computeCandidateInter(spark, sfDir, maxDf)
        (inter.cut, sizes.cut)
    }

  /** Drop this session's memoized candidate frames, so the next
    * consumer pays the full candidate-generation cost. */
  def invalidateCandidates(spark: SparkSession): Unit = candidateMemo.invalidate(spark)

  private def candidateInter(spark: SparkSession, sfDir: String,
      maxDf: Int = defaultMaxShingleDf): (DataFrame, DataFrame) =
    candidateMemo(spark, (sfDir, maxDf))

  /** The exploded (doc_id, source, sh8) 3-shingle-hash frame over the
    * documents table, MEMOIZED PER (session, sfDir) in a
    * [[graft.SessionMemo]] — THREE stages tokenize + shingle + explode
    * the identical corpus (the candidate-pair build,
    * dedup_jaccard_prefix, dedup_jaccard_global — the global variant
    * only re-labels `source`, a projection over these blocks), and
    * production builds the shingle table once per corpus snapshot.
    * Bench times the build as "dedup_shingles_build". Shingle HASHES
    * end to end — never materialize shingle strings: set ops on 64-bit
    * window hashes equal set ops on the strings (collision odds ~1e-10
    * for this corpus), at ~1/3 the CPU and shuffle bytes. */
  private[graft] def shingleFrame(spark: SparkSession, sfDir: String): DataFrame =
    shingleMemo(spark, sfDir)

  private val shingleMemo = SessionMemo[String, DataFrame]("dedup_shingles") {
    (spark, sfDir) =>
      Tables.documentsPar(spark, sfDir)
        .select(col("doc_id"), col("source"),
          explode(shingleHashes(tokens(col("text")), 3)).as("sh8"))
        .cut
  }

  /** Drop this session's memoized shingle frame. */
  def invalidateShingles(spark: SparkSession): Unit = shingleMemo.invalidate(spark)

  private def computeCandidateInter(spark: SparkSession, sfDir: String,
      maxDf: Int): (DataFrame, DataFrame) = {
    val ex = shingleFrame(spark, sfDir)
    // df prefix filter: hot shingles out before the self-join (see
    // defaultMaxShingleDf). The map-side-combined df agg is one pass
    // over `ex`. No broadcast hint: the hot list is < totalShingles /
    // maxDf rows — usually tiny, but that bound grows linearly with
    // corpus size, so AQE decides broadcast-vs-shuffle from the list's
    // ACTUAL runtime size instead of a driver-OOM-able mandate.
    val hot = ex.groupBy(col("source"), col("sh8"))
      .agg(count(lit(1)).as("df")).where(col("df") > maxDf)
      .select(col("source"), col("sh8"))
    val exF = ex.join(hot, Seq("source", "sh8"), "left_anti")
    // sizes from the FILTERED frame: jaccard is then exact over the
    // df-filtered shingle universe (a clean, documented contract) rather
    // than mixing filtered intersections with unfiltered set sizes. On
    // any corpus whose max df <= maxDf (true here: max observed df = 6)
    // this equals plain jaccard — which is what the oracle computes.
    val sizes = exF.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = exF.select(col("source"), col("sh8"), col("doc_id").as("doc_a"))
    val b = exF.select(col("source"), col("sh8"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("source", "sh8"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_n"))
    (inter, sizes)
  }

  /** Candidate edge list only (for clustering). */
  def candidatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val (inter, _) = candidateInter(spark, sfDir)
    inter.select(col("doc_a"), col("doc_b"))
  }

  /** CROSS-JOB persistence for the candidate-pair graph. The session
    * memo above lets one job's four consumers share the stage; the
    * production shape is reuse across JOBS — candidate generation is
    * the most expensive stage in this suite while its output is tiny
    * next to the corpus, so you build it once per crawl snapshot and
    * every downstream job reads the table. Both frames are written as
    * parquet tables BUCKETED + SORTED on their join keys with the SAME
    * bucket count, so consumers scan pre-partitioned buckets and skip
    * the exchange on that key entirely (the [[graft.sources]]
    * BucketingSpec contract applied to this graph — the spec for THIS
    * path is CandidateGraphSpec). The catalog here is in-memory; a
    * deployment points the same code at its metastore. At 100 TB
    * `buckets` scales with the pair count (`spark.sql.shuffle
    * .partitions`-sized is the usual choice). */
  def persistCandidates(spark: SparkSession, sfDir: String,
      name: String = "candidates", buckets: Int = 8,
      maxDf: Int = defaultMaxShingleDf): Unit = {
    val (inter, sizes) = candidateInter(spark, sfDir, maxDf)
    inter.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "doc_a").sortBy("doc_a")
      .saveAsTable(s"${name}_inter")
    sizes.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_sizes")
  }

  /** Read back a [[persistCandidates]] graph: (inter, sizes), both as
    * bucketed scans — joins/aggregates on doc_a (inter) or doc_id
    * (sizes) need no exchange. */
  def persistedCandidates(spark: SparkSession,
      name: String = "candidates"): (DataFrame, DataFrame) =
    (spark.table(s"${name}_inter"), spark.table(s"${name}_sizes"))

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccard(spark, sfDir, defaultMaxShingleDf)

  def ngramJaccard(spark: SparkSession, sfDir: String, maxDf: Int): DataFrame = {
    val (inter, sizes) = candidateInter(spark, sfDir, maxDf)
    ngramJaccardFrom(inter, sizes)
  }

  /** Jaccard scoring over ANY (inter, sizes) pair — the memoized
    * session frames or a [[persistedCandidates]] read-back (where the
    * doc_a-side join below rides the bucketing, exchange-free). */
  def ngramJaccardFrom(inter: DataFrame, sizes: DataFrame): DataFrame =
    // `sizes` is one row PER DOCUMENT — unbounded at corpus scale, so no
    // broadcast hint: AQE picks broadcast when it actually fits and a
    // shuffled hash join otherwise.
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter_n"),
        (col("n_a") + col("n_b") - col("inter_n")).as("union_n"))
      .withColumn("jaccard_pm",
        round(col("inter_n") * lit(1000.0) / col("union_n")).cast("long"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** §2#82 containment near-dup: |A∩B| / min(|A|,|B|) — the ASYMMETRIC
    * twin of Jaccard. A short doc fully quoted inside a long one has
    * tiny Jaccard (the union is dominated by the long doc) but
    * containment 1000‰; this is how wrapper pages, quote-reposts and
    * template-padded copies are caught. Same candidate machinery as
    * [[ngramJaccard]] (set-similarity join over df-filtered shingle
    * hashes — one shuffle on (source, shingle), never doc×doc); only
    * the scoring differs. */
  def containment(spark: SparkSession, sfDir: String): DataFrame = {
    val (inter, sizes) = candidateInter(spark, sfDir)
    containmentFrom(inter, sizes)
  }

  /** Containment scoring over ANY (inter, sizes) pair — see
    * [[ngramJaccardFrom]]. */
  def containmentFrom(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter_n"),
        round(col("inter_n") * lit(1000.0) / least(col("n_a"), col("n_b")))
          .cast("long").as("containment_pm"))
      .where(col("containment_pm") >= 500L)
      .orderBy(col("doc_a"), col("doc_b"))

  /** §2#185 PPJoin-style PREFIX-FILTERED thresholded Jaccard — the
    * LOSSLESS answer to hot shingles (SURVEY §8's known cost of the
    * candidate join). The df cap (defaultMaxShingleDf) bounds the
    * blowup by DROPPING ubiquitous shingles — exact only over the
    * filtered universe. When the query is thresholded ("pairs with
    * jaccard ≥ t", the near-dup production question), the AllPairs/
    * PPJoin prefix filter (Bayardo et al. WWW'07; Xiao et al. WWW'08)
    * does better: order each doc's shingles by GLOBAL rarity
    * (ascending df, ties by hash — one total order for everyone) and
    * emit only the first |d| − ⌈t·|d|⌉ + 1 as join keys. Any pair with
    * jaccard ≥ t MUST collide on a prefix shingle: jaccard ≥ t ⇒
    * |A∩B| ≥ t·|A∪B| ≥ t·|A|, while prefix-disjoint pairs share only
    * suffix shingles of A, at most ⌈t·|A|⌉ − 1 < t·|A| of them. So the
    * hottest shingles — ranked LAST by the global order — never become
    * join keys for any doc bigger than its prefix, and the join volume
    * is bounded by prefix collisions instead of df², with ZERO
    * semantic loss at the threshold.
    *
    * Verification is candidate-side (the PPJoin shape): the exact
    * intersection is counted by expanding each surviving candidate
    * pair against the FULL shingle frame — work ∝ |candidates| × doc
    * size, never df². Sizes come from the unfiltered frame, so the
    * emitted jaccard is exact over the full shingle universe (unlike
    * the df-cap path's filtered-universe contract). The threshold
    * filter compares integers (`inter·1000 ≥ t‰·union`) — no rounding
    * seam between Spark and the oracle.
    *
    * Shape at 100 TB: one df agg + one per-doc window (bounded by doc
    * shingle count) + an equi-join on the PRUNED prefix keys + a
    * candidate-bounded verify join. Three shuffles total, each keyed
    * to collapse — this is the published large-scale set-similarity
    * join recipe. */
  def jaccardPrefix(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPrefix(spark, sfDir, 500)

  def jaccardPrefix(spark: SparkSession, sfDir: String, tPm: Int): DataFrame =
    // the memoized shingle frame is already materialized — skip the
    // per-call cut (r18: one explode serves prefix, global AND the
    // candidate build)
    jaccardPrefixOver(shingleFrame(spark, sfDir), tPm)

  /** §2#190 CROSS-SOURCE thresholded near-dup — [[jaccardPrefix]]
    * WITHOUT the same-source restriction. The df-cap candidate join
    * buckets by source partly for tractability (source × shingle keys
    * shrink the hot groups); the prefix filter removes that need —
    * boilerplate shared across every source (syndication banners,
    * license headers, template chrome) is exactly the globally-hottest
    * shingle set, which the global-rarity prefix ordering excludes
    * from join keys automatically. This is the query that catches the
    * same article republished across domains, which source-bucketed
    * dedup is structurally blind to. Same lossless-at-threshold
    * contract; `source` is collapsed to one global bucket so df, the
    * prefix order, and the join are all corpus-wide. */
  def jaccardGlobal(spark: SparkSession, sfDir: String): DataFrame =
    jaccardGlobal(spark, sfDir, 500)

  def jaccardGlobal(spark: SparkSession, sfDir: String, tPm: Int): DataFrame =
    // one global bucket = the memoized shingle frame with `source`
    // re-labeled — a projection over its checkpoint blocks, NOT a
    // second tokenize+shingle+explode of the corpus (r18)
    jaccardPrefixOver(
      shingleFrame(spark, sfDir)
        .select(col("doc_id"), lit("_").as("source"), col("sh8")),
      tPm)

  /** Candidate pairs from the prefix join alone (pre-verify) — exposed
    * so the skew spec can count exactly what the filter admits. Two
    * lossless prunes compose (both from the AllPairs/PPJoin family):
    * the PREFIX filter (only the |d|−⌈t·|d|⌉+1 globally-rarest
    * shingles become join keys) and the LENGTH filter (jaccard ≥ t
    * forces t·|B| ≤ |A| ≤ |B|/t, because inter ≤ min and
    * union ≥ max — so size-incompatible collisions drop before the
    * distinct). */
  def prefixCandidates(ex: DataFrame, tPm: Int): DataFrame = {
    require(tPm >= 1 && tPm <= 1000, s"threshold $tPm out of (0, 1000]")
    import org.apache.spark.sql.expressions.Window
    val dfg = ex.groupBy(col("source"), col("sh8"))
      .agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    // df stays a groupBy + join-back (NOT a window count over
    // (source, sh8)): the aggregated df frame is small enough that the
    // join broadcasts, so the exploded frame is never exchanged here —
    // a window would force a full sort-shuffle of it (r17: measured
    // 2.3 s → 5.0 s before reverting).
    // prefix length |d| − ⌈t·|d|⌉ + 1 in exact integer arithmetic:
    // ⌈n·t‰/1000⌉ = (n·t‰ + 999) div 1000
    val pref = ex.join(dfg, Seq("source", "sh8"))
      .withColumn("n_sh", count(lit(1)).over(wDoc))
      .withColumn("rn",
        row_number().over(wDoc.orderBy(col("df"), col("sh8"))))
      .where(col("rn") <= col("n_sh") -
        floor((col("n_sh") * tPm + lit(999)) / lit(1000.0)).cast("long") + 1)
      .select(col("source"), col("sh8"), col("doc_id"), col("n_sh"))
    pref.select(col("source"), col("sh8"), col("doc_id").as("doc_a"),
        col("n_sh").as("n_a"))
      .join(pref.select(col("source"), col("sh8"), col("doc_id").as("doc_b"),
        col("n_sh").as("n_b")), Seq("source", "sh8"))
      .where(col("doc_a") < col("doc_b") &&
        col("n_a") * 1000 >= lit(tPm.toLong) * col("n_b") &&
        col("n_b") * 1000 >= lit(tPm.toLong) * col("n_a"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The prefix machinery over any exploded (doc_id, source, sh8)
    * frame; `ex` is consumed three times (df agg, prefix ranking,
    * verify) so callers hand in a re-readable frame.
    *
    * Verification is ARRAY-AT-A-TIME, not exploded: each candidate
    * pair pulls both docs' packed shingle-set arrays through two hash
    * joins and computes `array_intersect` per row — O(|A|+|B|) per
    * pair with ONE output row, where the exploded alternative
    * (cand ⋈ shingles(a) ⋈ shingles(b)) materializes |candidates| ×
    * |doc| skinny rows through a shuffle and re-aggregates them
    * (measured 4× slower at the 10× corpus: ~200M intermediate rows).
    * The arrays are sets by construction (shingleHashes dedups), so
    * the intersection size is exact. */
  def jaccardPrefixFrom(ex0: DataFrame, tPm: Int): DataFrame =
    jaccardPrefixOver(ex0.cut, tPm)

  /** [[jaccardPrefixFrom]] over an ALREADY-MATERIALIZED exploded frame
    * (the session shingle memo, or a projection over its blocks) —
    * the three consumers below re-read checkpoint blocks, so no
    * second cut job is paid here. */
  private def jaccardPrefixOver(ex: DataFrame, tPm: Int): DataFrame = {
    val cand = prefixCandidates(ex, tPm)
    val sets = ex.groupBy(col("doc_id"))
      .agg(collect_list(col("sh8")).as("shs"), count(lit(1)).as("n_sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter_n"),
        col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("inter_n"),
        (col("n_a") + col("n_b") - col("inter_n")).as("union_n"))
      .where(col("inter_n") * 1000 >= lit(tPm.toLong) * col("union_n"))
      .withColumn("jaccard_pm",
        round(col("inter_n") * lit(1000.0) / col("union_n")).cast("long"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** §2#182 CANONICAL-REPRESENTATIVE selection — the step that turns
    * clusters into a KEEP LIST: per duplicate cluster, keep the
    * highest-quality member (quality_pm from the §2.6 battery, ties to
    * the smallest doc_id) and count what gets dropped. The other
    * principled canonical choice is pagerank-max (#106's scaladoc);
    * quality-max is what text pipelines actually ship — near-dups
    * usually differ by boilerplate, and the cleanest copy is the one
    * worth training on.
    *
    * Shape: clusters (hash-min CC over the memoized candidate graph) ⋈
    * per-doc quality (narrow scan-speed battery) on doc_id, then one
    * combinable argmax agg per cluster — nothing here re-reads the
    * corpus; at 100 TB both inputs are the already-computed tables and
    * the agg ships one struct per (partition, cluster). */
  def canonical(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = clusterLabels(spark, sfDir) // (doc_id, cluster_id), memoized
    val quality = TextAnalysis.qualityUnsorted(spark, sfDir)
      .select(col("doc_id"), col("quality_pm"))
    clusters.join(quality, "doc_id")
      // argmax by (quality desc, doc_id asc) — min over (−q, doc) structs
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("quality_pm")).as("neg_q"), col("doc_id"))).as("best"))
      .select(col("cluster_id"),
        col("best.doc_id").as("canonical_doc_id"),
        (-col("best.neg_q")).as("canonical_quality_pm"),
        col("n_members"),
        (col("n_members") - 1L).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** §2#178 EDIT-DISTANCE VERIFY — the second stage of two-stage fuzzy
    * dedup: shingle/LSH candidate generation recalls, Levenshtein
    * CONFIRMS (n-gram overlap is blind to ordering — "a b c d" vs
    * "d c b a" share every unigram shingle; edit distance is not).
    * Per candidate pair: the exact classic Levenshtein distance over
    * raw text (both engines implement the same unit-cost DP, so the
    * integers cross-check exactly) and a length-normalized similarity
    * `sim_pm = round((1 − lev/max_len)·1000)`.
    *
    * Scale: the O(|a|·|b|) DP runs ONLY on candidate pairs — the
    * memoized df-filtered shingle join keeps that set near-linear in
    * the corpus (SURVEY §5), so the quadratic core never sees
    * corpus×corpus; texts join in by doc_id (two hash joins on the
    * tiny pair frame). This ordering — cheap recall, expensive verify,
    * verify only on candidates — IS the published two-stage recipe. */
  def levenshteinVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = candidatePairs(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long")
          .as("max_len"))
      // greatest(max_len, 1): two empty texts would otherwise hit 0/0
      // (NULL in Spark, engine-dependent elsewhere) — the guard makes
      // the empty-vs-empty pair sim_pm = 1000 deterministically, the
      // same greatest(...,1) convention as the ratio battery.
      .withColumn("sim_pm",
        round((lit(1.0) - col("lev") / greatest(col("max_len"), lit(1L))) * 1000)
          .cast("long"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** §2#193 DEDUP DASHBOARD — the per-source duplication report a
    * curation run publishes before anyone decides thresholds: doc
    * count, distinct exact-content classes, distinct NORMALIZED
    * classes (case/punct/spacing variants collapsed), and the two
    * dup rates in per-mille. Reading it: exact_dup_pm is what plain
    * hashing would remove; norm_dup_pm − exact_dup_pm is what
    * normalization buys on top; near-dup clustering (#45) goes beyond
    * both. One map-side-combined aggregate per source — three hashes
    * per row, no joins, scan-speed at any corpus size. */
  def report(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(col("source"), md5(col("text")).as("eh"),
        md5(normText(col("text"))).as("nh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("eh")).as("n_exact_classes"),
        countDistinct(col("nh")).as("n_norm_classes"))
      .select(col("source"), col("n_docs"), col("n_exact_classes"),
        col("n_norm_classes"),
        expr("(n_docs - n_exact_classes) * 1000 div n_docs").as("exact_dup_pm"),
        expr("(n_docs - n_norm_classes) * 1000 div n_docs").as("norm_dup_pm"))
      .orderBy(col("source"))

  /** §2#70 incremental dedup: check a NEW ingest batch (here every 5th
    * doc stands in for the fresh crawl) against the existing corpus by
    * content hash — the steady-state production shape, where you never
    * re-cluster 100 TB to admit a 100 GB increment. One shuffle on the
    * content hash; the existing side reduces to (hash, min doc_id)
    * via a map-side-combined aggregate before the join. */
  def incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val existing = docs.where(col("doc_id") % 5 =!= 4)
      .groupBy(col("h")).agg(min(col("doc_id")).as("canonical"))
    docs.where(col("doc_id") % 5 === 4)
      .join(existing, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("canonical").isNotNull, lit(1L)).otherwise(lit(0L)).as("is_dup"),
        coalesce(col("canonical"), lit(-1L)).as("canonical_doc_id"))
      .orderBy(col("doc_id"))
  }

  /** §2#73 Bloom-pre-filtered incremental dedup — same contract (and
    * identical result) as [[incremental]], but the new batch is first
    * screened through a Bloom filter built over the existing corpus's
    * content hashes. Rows the filter rejects are DEFINITELY new: they
    * take the map-side fast path and never shuffle; only might-contain
    * survivors (true dups + ~fpp false positives) pay the exact-verify
    * hash join. At 100 TB the existing side's 16-byte hashes reduce to a
    * few GB of Bloom bits via the native `bloom_filter_agg` (map-side
    * partial filters OR-merged up the agg tree — the driver sees one
    * merged binary, never rows), the filter ships once per executor as
    * a plan literal, and join input shrinks from |batch| to
    * |dups|·(1+fpp) — the standard big-corpus admission path.
    * False positives cannot leak into the output: the join re-verifies
    * every candidate against real hashes. */
  def bloomIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.Registry.ensure(spark)
    val docs = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val existing = docs.where(col("doc_id") % 5 =!= 4)
    // Size the filter from the actual corpus count (one columnar count
    // job — at steady state you'd carry this number in the catalog).
    val n = math.max(existing.count(), 1L)
    val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, 0.01)
    // Build with Spark's NATIVE bloom aggregate (the same expression
    // pair the optimizer injects for runtime join filters): one
    // map-side-combined agg over xxhash64(h) produces the serialized
    // filter; it comes back as one binary cell and re-enters the plan
    // as a literal, so the screen below is a codegen'd
    // BloomFilterMightContain — no Scala UDF, no per-row boxing, and
    // the probe hashing (xxhash64) matches the build by construction.
    val bloomBytes = existing
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("h")), lit(n), lit(nBits)).as("bf"))
      .head.getAs[Array[Byte]](0)
    val screen = call_function("graft_might_contain",
      lit(bloomBytes), xxhash64(col("h")))
    val batch = docs.where(col("doc_id") % 5 === 4)
    val fresh = batch.where(!screen)
      .select(col("doc_id"), lit(0L).as("is_dup"), lit(-1L).as("canonical_doc_id"))
    val verified = batch.where(screen)
      .join(existing.groupBy(col("h")).agg(min(col("doc_id")).as("canonical")),
        Seq("h"), "left")
      .select(col("doc_id"),
        when(col("canonical").isNotNull, lit(1L)).otherwise(lit(0L)).as("is_dup"),
        coalesce(col("canonical"), lit(-1L)).as("canonical_doc_id"))
    fresh.unionByName(verified).orderBy(col("doc_id"))
  }

  /** §2#199 INCREMENTAL NEAR-DUP admission, MinHash-banded — the
    * missing rung between [[incremental]] (exact hash: catches
    * byte-identical re-crawls only) and a full re-cluster: the NEW
    * batch's band keys probe the EXISTING corpus's band table, only
    * colliding pairs pay the signature verify (est. jaccard ≥ 0.5),
    * and each batch doc reports whether it is a near-dup and of whom.
    * This is the batch twin of the streaming
    * [[graft.streaming.StreamNearDup]] registry, and the steady-state
    * production shape: at 100 TB the existing side's band table is a
    * persisted artifact (bucketed on the band key, like
    * [[persistCandidates]]) and an increment touches only its own
    * band collisions — the corpus is never re-scanned, let alone
    * re-paired. Signatures here are the same 96-hash / 32-band
    * machinery as [[minhashLsh]], computed once over the union so
    * both sides agree bit-for-bit. */
  def incrementalMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    // signatures over the UNION: each is a per-doc fold, independent
    // of which other docs share the frame, so these agree bit-for-bit
    // with signatures computed per side (what makes the persisted-band
    // path below exactly equivalent)
    val (sigs, banded) = minhashBands(Tables.documentsPar(spark, sfDir))
    incrementalMinhashAgainst(
      Tables.documentsPar(spark, sfDir).where(col("doc_id") % 5 === 4)
        .select(col("doc_id")),
      sigs.where(col("doc_id") % 5 === 4),
      banded.where(col("doc_id") % 5 === 4),
      sigs.where(col("doc_id") % 5 =!= 4),
      banded.where(col("doc_id") % 5 =!= 4))
  }

  /** 96-hash MinHash signatures + 32-band LSH keys for any
    * (doc_id, text) frame — the [[minhashLsh]] machinery factored so
    * the incremental path, the persisted artifact, and the full
    * pairwise join all share one bit-identical definition. */
  private[operators] def minhashBands(docs: DataFrame): (DataFrame, DataFrame) = {
    val sigs = minhashSigs(docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    (sigs, lshBands(sigs))
  }

  /** The k-permutation MinHash signature table of a (doc_id, toks)
    * frame — THE signature builder every MinHash consumer shares (the
    * [[minhashSignatures]] memo, [[minhashBands]], fuzzy
    * decontamination). One row (doc_id, sig) per doc that has a
    * shingle hash, built as ONE narrow projection: the native per-row
    * [[graft.functions.MinHashSignature]] loop over the doc's distinct
    * md5 3-shingle hashes, so the table keeps the scan's partitioning
    * (no explode, no aggregate, no shuffle on doc_id), then cut.
    * Replayable md5+affine family (r11): the DuckDB oracle
    * regenerates the same a_i/b_i from range(k) and hash-gates every
    * consumer. The null filter (a doc without a shingle hash has no
    * signature) sits after the cut: before it, the optimizer pushes
    * `sig IS NOT NULL` below the projection as a second evaluation of
    * the whole signature. */
  private[operators] def minhashSigs(docs: DataFrame, k: Int = 96): DataFrame = {
    graft.functions.Registry.ensure(docs.sparkSession)
    docs.select(col("doc_id"),
        minhashSig(shingleMd5Hashes(col("toks"), 3), k).as("sig"))
      .cut
      .where(col("sig").isNotNull)
  }

  /** Raw LSH band keys of a (doc_id, sig) table: one (doc_id, band,
    * bkey) row per band, bkey = the band's `rows` signature values
    * comma-joined — the offline calibration key the DuckDB oracle
    * rebuilds with string_agg. */
  private[operators] def bandKeys(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", slice(col("sig"), b * lit(rows) + 1, lit(rows))))))
      .toDF("doc_id", "band", "bkey")

  /** The production 32-band × 3-row LSH table: [[bandKeys]] hashed to
    * 8-byte (doc_id, band, bandhash) rows, bandhash = xxhash64 of the
    * key seeded with the band number. */
  private[operators] def lshBands(sigs: DataFrame): DataFrame =
    bandKeys(sigs, 32, 3)
      .select(col("doc_id"), col("band"), xxhash64(col("bkey"), col("band")).as("bandhash"))

  /** The admission core: batch docs vs an existing (sigs, bands) pair
    * — inline frames or a [[persistBandTable]] read-back. */
  private def incrementalMinhashAgainst(batchIds: DataFrame,
      batchSigs: DataFrame, batchBands: DataFrame,
      exSigs: DataFrame, exBands: DataFrame): DataFrame = {
    val k = 96
    val cand = batchBands.join(exBands
        .select(col("band"), col("bandhash"), col("doc_id").as("matched")),
        Seq("band", "bandhash"))
      .select(col("doc_id"), col("matched")).distinct()
    val verified = cand
      .join(batchSigs.select(col("doc_id"), col("sig")), "doc_id")
      .join(exSigs.select(col("doc_id").as("matched"), col("sig").as("sig_m")),
        "matched")
      .where(size(filter(zip_with(col("sig"), col("sig_m"), (x, y) => x === y),
        b => b)) * lit(1000) >= lit(500) * lit(k))
      .groupBy(col("doc_id")).agg(min(col("matched")).as("matched_doc_id"))
    batchIds
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("matched_doc_id").isNotNull, 1L).otherwise(0L).as("is_near_dup"),
        coalesce(col("matched_doc_id"), lit(-1L)).as("matched_doc_id"))
      .orderBy(col("doc_id"))
  }

  /** §2#200 PERSIST the existing corpus's band table + signatures —
    * the steady-state artifact [[incrementalMinhash]] probes, like
    * [[persistCandidates]] for the pair graph and
    * [[Similarity.persistIvfPqIndex]] for the ANN index: band table
    * bucketed on the probe key (band, bandhash) so an increment's
    * admission join rides the bucketing exchange-free; signatures
    * bucketed on doc_id for the verify join. Because signatures are
    * deterministic per doc, an admission against the persisted
    * artifact is EXACTLY the inline result (pinned by spec) — unlike a float
    * index, nothing drifts across the persist boundary. */
  def persistBandTable(spark: SparkSession, sfDir: String,
      name: String = "bands", buckets: Int = 8): Unit = {
    val (sigs, banded) = minhashBands(
      Tables.documentsPar(spark, sfDir).where(col("doc_id") % 5 =!= 4))
    banded.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band", "bandhash").sortBy("band", "bandhash")
      .saveAsTable(s"${name}_bands")
    sigs.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${name}_sigs")
  }

  /** Admission of the CURRENT batch against a [[persistBandTable]]
    * artifact — only the increment's signatures are computed; the
    * corpus side is two bucketed scans. */
  def incrementalMinhashPersisted(spark: SparkSession, sfDir: String,
      name: String = "bands"): DataFrame = {
    val batchDocs = Tables.documentsPar(spark, sfDir)
      .where(col("doc_id") % 5 === 4)
    val (bSigs, bBands) = minhashBands(batchDocs)
    incrementalMinhashAgainst(batchDocs.select(col("doc_id")),
      bSigs, bBands,
      spark.table(s"${name}_sigs"), spark.table(s"${name}_bands"))
  }

  /** §2#45 dedup clustering: connected components over the n-gram
    * candidate-pair graph via hash-min label propagation — each doc's
    * cluster id is the minimum doc_id reachable through shared-shingle
    * edges. O(component diameter) shuffle rounds over ONLY the docs
    * that have edges (isolated docs never change label and are appended
    * at the end) — this is the large-scale CC recipe that holds at
    * 100 TB where a recursive CTE or driver-side union-find cannot.
    *
    * Per round: ONE eager localCheckpoint job materializes the new
    * labels carrying both old and new label per doc, then a count over
    * those in-memory blocks detects convergence — the loop exits the
    * first round in which no label changed (no extra confirm round, no
    * separate change-detection join). */
  def cluster(spark: SparkSession, sfDir: String): DataFrame =
    clusterLabels(spark, sfDir).orderBy(col("doc_id"))

  /** The (doc_id, cluster_id) CC labeling, MEMOIZED PER (session,
    * sfDir) in a [[graft.SessionMemo]], the production shape: the
    * labeling is computed once per corpus snapshot and every
    * downstream job reads the label table. SIX queries consume it
    * (dedup_cluster, dedup_cluster_sizes, dedup_canonical,
    * graph_bfs_dist, pipeline_funnel, dedup_cluster_embed); before
    * r17 each re-ran the full hash-min fixpoint per call. Bench times
    * the build on its own as "dedup_cc_build", so a CC regression
    * still shows in the output. Unordered; the registered query
    * applies its own ORDER BY. */
  private[graft] def clusterLabels(spark: SparkSession,
      sfDir: String): DataFrame = clusterLabelsMemo(spark, sfDir)

  private val clusterLabelsMemo = SessionMemo[String, DataFrame]("dedup_cc") {
    (spark, sfDir) =>
      clusterUnordered(candidatePairs(spark, sfDir),
        Tables.documentsPar(spark, sfDir).select(col("doc_id"))).cut
  }

  /** Drop this session's memoized CC labeling. */
  def invalidateClusterLabels(spark: SparkSession): Unit =
    clusterLabelsMemo.invalidate(spark)

  /** CC over ANY (doc_a, doc_b) edge frame — the session memo's pairs
    * or a [[persistedCandidates]] read-back; `allDocs` supplies the
    * isolated-node universe. */
  def clusterFrom(edges: DataFrame, allDocs: DataFrame): DataFrame =
    clusterUnordered(edges, allDocs).orderBy(col("doc_id"))

  /** [[clusterFrom]] without the trailing ORDER BY — what the label
    * memo materializes (consumers aggregate/join, so the sort would
    * be dead weight under them). */
  private def clusterUnordered(edges: DataFrame, allDocs: DataFrame): DataFrame = {
    val (bidir, labels0) = ccSetup(edges)
    var labels = labels0
    val maxRounds = 50
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val next = ccRound(bidir, labels).transform(graft.Checkpoints.cut)
      changed = next.where(col("lab") < col("own")).count()
      labels = next.select(col("doc_id"), col("lab"))
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"dedup_cluster did not converge in $maxRounds rounds " +
        s"($changed labels still changing) — component diameter exceeds the cap")
    hashMinRounds = rounds
    val isolated = allDocs
      .join(labels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("lab"))
    labels.unionByName(isolated)
      .select(col("doc_id"), col("lab").as("cluster_id"))
  }

  /** ONE hash-min CC round, pre-cut — the body the fixpoint
    * checkpoints, extracted (r18, verdict #8) so [[graft.Plans]] can
    * dump the per-round plan the lineage cuts otherwise hide. The
    * self row carries the old label in `own` (exactly one self row
    * per doc), so min(lab) vs min(own) gives new-vs-old in the SAME
    * aggregation — no second convergence pass. */
  private[graft] def ccRound(bidir: DataFrame, labels: DataFrame): DataFrame = {
    val viaEdges = bidir.join(labels, bidir("doc_a") === labels("doc_id"))
      .select(col("doc_b").as("doc_id"), col("lab"),
        lit(null).cast("long").as("own"))
    labels.select(col("doc_id"), col("lab"), col("lab").as("own"))
      .unionByName(viaEdges)
      .groupBy(col("doc_id"))
      .agg(min(col("lab")).as("lab"), min(col("own")).as("own"))
  }

  /** The representative pre-cut CC round over the real corpus edges —
    * what `graft.Plans` dumps as `dedup_cluster_round` and
    * PlanQualitySpec pins (round shape: one join + ONE
    * map-side-combined min aggregate, zero Window/Expand). */
  private[graft] def ccRoundFor(spark: SparkSession, sfDir: String): DataFrame = {
    val (bidir, labels) = ccSetup(candidatePairs(spark, sfDir))
    ccRound(bidir, labels)
  }

  /** What every hash-min round reads, cut once: the bidirected
    * `(doc_a, doc_b)` edge frame and round 1's labels (each node its
    * own). */
  private def ccSetup(edges: DataFrame): (DataFrame, DataFrame) = {
    val bidir = edges
      .unionByName(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))
        .select(col("doc_a"), col("doc_b")))
      .transform(graft.Checkpoints.cut)
    val nodes = bidir.select(col("doc_a").as("doc_id")).distinct()
    (bidir, nodes.select(col("doc_id"), col("doc_id").as("lab"))
      .transform(graft.Checkpoints.cut))
  }

  /** §2#208 TWO-PHASE STAR-CONTRACTION connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components
    * in MapReduce and Beyond", SoCC 2014) — the O(log n)-round CC that
    * complements [[clusterFrom]]'s hash-min label propagation:
    *
    *   - large-star: every node connects its LARGER neighbors to the
    *     minimum of its closed neighborhood;
    *   - small-star: every node connects its smaller neighbors (and
    *     itself) to the minimum among them;
    *
    * alternating until the edge set is a fixpoint, at which point the
    * graph is a union of stars centered at each component's minimum.
    * Hash-min needs O(component diameter) rounds — optimal on near-dup
    * graphs, whose dup-family components have tiny diameters
    * (StarClusterSpec pins rounds ≤ 8 on this corpus), but a
    * 100k-node path would need 100k rounds; star contraction closes
    * that adversarial gap in ~log n rounds. Output contract is
    * IDENTICAL to clusterFrom (cluster id = component-minimum doc_id),
    * so dedup_cluster_star shares dedup_cluster's recursive-CTE oracle
    * — the sql gate itself proves the two fixpoints coincide.
    *
    * Scale shape: each half-round is one groupBy over the current edge
    * frame (map-side-combinable min) + one join back, lineage cut per
    * round ([[graft.Checkpoints.cut]] — reliable-checkpoint aware);
    * edges only ever CONTRACT (toward |nodes| star edges), so the
    * per-round shuffle shrinks as the rounds proceed. */
  def clusterStar(spark: SparkSession, sfDir: String): DataFrame =
    clusterStarFrom(candidatePairs(spark, sfDir),
      Tables.documentsPar(spark, sfDir).select(col("doc_id")))

  /** Star-contraction CC over any unique `(doc_a, doc_b)` edge frame;
    * returns (doc_id, cluster_id) over `allDocs` like clusterFrom. */
  def clusterStarFrom(edges0: DataFrame, allDocs: DataFrame): DataFrame = {
    // canonical undirected edge set (u < v), self-loops dropped
    var e = edges0
      .where(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .distinct()
      .transform(graft.Checkpoints.cut)

    // large-star: center a, closed-neighborhood min m = min(N(a) ∪ {a});
    // emit (m, b) for every neighbor b > a. m ≤ a < b keeps u < v.
    def largeStar(cur: DataFrame): DataFrame = {
      val bidir = cur.select(col("u").as("a"), col("v").as("b"))
        .unionByName(cur.select(col("v").as("a"), col("u").as("b")))
      val m = bidir.groupBy(col("a"))
        .agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      bidir.join(m, "a")
        .where(col("b") > col("a"))
        .select(col("m").as("u"), col("b").as("v"))
        .where(col("u") =!= col("v"))
      // no intermediate distinct (r17): duplicates don't change
      // smallStar's per-v min (map-side combined) and its final
      // distinct canonicalizes the round — one exchange per round
      // saved; the composed round's edge set is identical
    }

    // small-star on the canonical frame: group by the LARGER endpoint
    // v — its strictly-smaller neighbors are exactly the u's; connect
    // them (and v) to their minimum.
    def smallStar(cur: DataFrame): DataFrame = {
      val m = cur.groupBy(col("v")).agg(min(col("u")).as("m"))
      val withM = cur.join(m, "v")
      withM.select(col("m").as("u"), col("v"))
        .unionByName(withM.where(col("u") =!= col("m"))
          .select(col("m").as("u"), col("u").as("v")))
        .distinct()
    }

    val maxRounds = 60
    var rounds = 0
    var eCount = e.count()
    var changed = eCount > 0
    while (changed && rounds < maxRounds) {
      val next = graft.Checkpoints.cut(smallStar(largeStar(e)))
      // contraction converges when the edge set stabilizes. Both
      // frames are DISTINCT canonical sets, so equality ⟺ same
      // cardinality AND next ⊆ e. The count is a near-free job over
      // the just-materialized checkpoint blocks, and the (one-sided,
      // limit-1'd) anti-join only runs when the counts tie — during
      // the contracting rounds the count alone decides, so the
      // per-round set-compare join the r16 form paid (two exceptAlls
      // unioned) is paid ONCE, at the converged round (r17; at 10^9
      // edges that join is a full shuffle of both frames).
      val nextCount = next.count()
      changed = nextCount != eCount ||
        next.join(e, Seq("u", "v"), "left_anti").limit(1).count() > 0
      e = next
      eCount = nextCount
      rounds += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxRounds rounds")
    starRounds = rounds
    val members = e.select(col("v").as("doc_id"), col("u").as("lab"))
      .unionByName(e.select(col("u").as("doc_id"), col("u").as("lab")))
      .distinct()
    val isolated = allDocs
      .join(members, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("lab"))
    members.unionByName(isolated)
      .select(col("doc_id"), col("lab").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Round count of the last clusterStarFrom/clusterFrom run in this
    * JVM — diagnostic only (specs pin the round-complexity claims). */
  @volatile private[graft] var starRounds: Int = -1
  @volatile private[graft] var hashMinRounds: Int = -1

  /** §2#202 CLUSTER-SIZE HISTOGRAM — "how big are my dup families":
    * per cluster size, how many clusters and how much document mass
    * sits there. Reading it: size-1 rows are unique docs; a fat tail
    * means boilerplate families where canonical selection (#182)
    * recovers the most mass; the n_docs column is exactly what the
    * funnel (#183) will drop. Rides the memoized CC labels — one
    * |clusters|-bounded agg on top, nothing re-reads the corpus. */
  def clusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    clusterLabels(spark, sfDir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** §2#300 CLUSTER-REPRESENTATIVE EMBEDDING DEDUP — the production
    * "dedup, then embed once per cluster" bridge between the text
    * clusters (§2.4) and the vector rungs (§2.5): lexical CC (#45)
    * collapses boilerplate families first, then embedding similarity
    * runs at the REPRESENTATIVE level only — the member count the
    * embedding model (the expensive stage in a real pipeline) never
    * has to see again, and the only level where paraphrase-grade
    * near-dups BETWEEN text-clusters are still worth finding. Output
    * is the cross-cluster merge WORKLIST: the k most-similar
    * representative pairs (cosine e6, deterministic ties), each
    * carrying both families' document mass — what a curator reviews
    * before lowering the lexical threshold. A thresholded form would
    * be vacuous on this corpus (representatives of DIFFERENT lexical
    * clusters top out at cos ≈ 0.35 — by construction they aren't
    * near-dups), so the worklist shape is the non-degenerate one at
    * every scale.
    *
    * Shape: CC labels (memoized candidate pairs + O(diameter)
    * cut-per-round loop), a ≤|clusters| size agg, one narrow join of
    * embeddings onto the ≤|clusters| representative set, the pair
    * stage label-blocked like #28 (the demo blocking that keeps the
    * oracle SQL; unlabeled corpora use the #59 hyperplane-LSH
    * blocking at the rep level verbatim), top-k via
    * TakeOrderedAndProject. The rep frame is `.cut` — it feeds both
    * sides of the self-join. */
  def clusterEmbed(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame = {
    val sizes = clusterLabels(spark, sfDir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
    val reps = Similarity.corpusCut(spark, sfDir)
      .join(sizes, col("vec_id") === col("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("label"), col("emb"),
        col("nrm"))
      .cut
    reps.as("x").join(reps.as("y"),
        col("x.label") === col("y.label")
          && col("x.cluster_id") < col("y.cluster_id"))
      .select(col("x.cluster_id").as("cluster_a"),
        col("y.cluster_id").as("cluster_b"),
        col("x.n_docs").as("docs_a"), col("y.n_docs").as("docs_b"),
        Similarity.cosPre(col("x.emb"), col("x.nrm"), col("y.emb"), col("y.nrm"))
          .as("cos_e6"))
      .orderBy(col("cos_e6").desc, col("cluster_a"), col("cluster_b"))
      .limit(k)
  }

  /** §2#204 THRESHOLD SWEEP — the tuning table behind every dedup
    * rollout: at jaccard ≥ 0.5 / 0.7 / 0.9, how many multi-doc
    * families form, how much document mass they hold, and how many
    * docs a canonical-keep policy would drop. One row per candidate
    * threshold makes the aggressiveness/risk trade VISIBLE before a
    * threshold ships (0.9 ~ boilerplate-only, 0.5 ~ aggressive
    * paraphrase collapse). Shape: the memoized candidate pairs are
    * scored ONCE; each threshold filters that tiny pair frame and
    * runs the CC loop over ITS edge subset — 3 × O(diameter) rounds
    * over |edges| (the corpus is never re-read), then a 3-row union.
    * The integer threshold compare (inter·1000 ≥ t‰·union) matches
    * the oracle exactly. */
  def thresholdSweep(spark: SparkSession, sfDir: String,
      thresholdsPm: Seq[Int] = Seq(500, 700, 900)): DataFrame = {
    val (inter, sizes) = candidateInter(spark, sfDir)
    val scored = ngramJaccardFrom(inter, sizes)
      .select(col("doc_a"), col("doc_b"), col("inter_n"), col("union_n"))
      .cut
    val allDocs = Tables.documentsPar(spark, sfDir).select(col("doc_id"))
    // The three per-threshold CC fixpoints are INDEPENDENT (each runs
    // over its own filtered copy of the materialized `scored` frame),
    // so they run concurrently from a small thread pool (guide §2.6 —
    // overlap independent jobs): each loop's tail of small tasks
    // back-fills cores the others leave idle, and the wall clock is
    // the slowest loop instead of the sum of three. Results are
    // scheduling-independent — every frame is deterministic and no
    // state is shared (r17; was: sequential 3 × O(diameter) rounds).
    // Pool CLAMPED to the scheduler's core budget (r18, verdict #7):
    // at 8 cores three concurrent fixpoints oversubscribed the
    // machine (c8/c32 ratio 1.47); cores/4 keeps 32-core behavior
    // identical (3 threads) while small machines overlap only 2.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thresholdsPm.size,
        math.max(1, spark.sparkContext.defaultParallelism / 4)))
    val frames =
      try {
        val futs = thresholdsPm.map { t =>
          pool.submit(new java.util.concurrent.Callable[DataFrame] {
            override def call(): DataFrame = {
              val edges = scored
                .where(col("inter_n") * 1000 >= lit(t.toLong) * col("union_n"))
                .select(col("doc_a"), col("doc_b"))
              clusterFrom(edges, allDocs)
                .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
                .where(col("sz") >= 2L)
                .agg(coalesce(count(lit(1)), lit(0L)).as("n_multi_clusters"),
                  coalesce(sum(col("sz")), lit(0L)).as("n_dup_docs"))
                .select(lit(t.toLong).as("threshold_pm"),
                  col("n_multi_clusters"), col("n_dup_docs"),
                  (col("n_dup_docs") - col("n_multi_clusters"))
                    .as("n_would_drop"))
            }
          })
        }
        futs.map(_.get())
      } finally pool.shutdown()
    frames.reduce(_ unionByName _)
      .orderBy(col("threshold_pm"))
  }

  /** Corpus + planted near-duplicates (doc_id+1000000, last 3 words
    * dropped → shingle Jaccard ≥ ~0.85 even for the shortest docs) —
    * derived deterministically from the data so the MinHash/SimHash
    * machinery has guaranteed positives to find. */
  private[operators] def corpusWithPlants(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val plants = base
      .where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 3, lit(1))).as("toks"))
    base.unionByName(plants)
  }

  /** The k-permutation [[minhashSigs]] table over
    * [[corpusWithPlants]], MEMOIZED PER (session, sfDir, k) in a
    * [[graft.SessionMemo]]:
    * three queries (minhash_lsh, minhash_calibration, lsh_tuning)
    * consume the identical table, and the production shape builds
    * signatures once per corpus snapshot ([[persistBandTable]] is the
    * cross-job form). Bench times the build on its own as
    * "dedup_minhash_sigs_build" so a signature-stage regression still
    * shows. */
  private[graft] def minhashSignatures(spark: SparkSession,
      sfDir: String, k: Int): DataFrame = minhashSigMemo(spark, (sfDir, k))

  private val minhashSigMemo =
    SessionMemo[(String, Int), DataFrame]("dedup_minhash_sigs") {
      case (spark, (sfDir, k)) => minhashSigs(corpusWithPlants(spark, sfDir), k)
    }

  /** Drop this session's memoized signature table. */
  def invalidateMinhashSignatures(spark: SparkSession): Unit =
    minhashSigMemo.invalidate(spark)

  /** §2#26 MinHash + banded LSH near-dup detection: 96-hash signatures,
    * 32 bands × 3 rows. Signatures come from the memoized
    * [[minhashSignatures]] table (one narrow per-doc projection, no
    * shuffle) → band rows (band, bandhash, doc_id) → shuffle on the
    * band bucket → in-bucket pair-join → signature-estimated
    * Jaccard ≥ 0.5. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 96
    // REPLAYABLE basis (r11): md5-mod-2^31 per shingle window, then
    // the k permutations as the affine family (a_i·h+b_i) mod p — ONE
    // md5 + 96 multiply-adds per shingle, vs the 96 xxhash64 calls of
    // the old seeded path. The DuckDB oracle regenerates the same
    // a_i/b_i from range(96) and hash-gates the pairs.
    val sigs = minhashSignatures(spark, sfDir, k)
    val banded = lshBands(sigs)
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bandhash") === col("y.bandhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)) * lit(1000) / lit(k)).cast("long").as("est_jaccard_pm"))
      .where(col("est_jaccard_pm") >= 500)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** §2#260 MINHASH CALIBRATION — estimator-vs-truth for the
    * production (32 bands × 3 rows) pipeline, the fourth sketch-error
    * report next to #241 Count-Min, #113 HLL and #240's S-curve: for
    * every banded candidate pair, the 96-signature Jaccard ESTIMATE
    * against the EXACT shingle-set Jaccard over the same universe
    * (distinct md5 3-shingles of the planted corpus — plants provide
    * graded near-dups so the error is measured where decisions
    * happen, not only at trivial 1000‰ exact dups), histogrammed by
    * signed error bucket (100‰ bins, bucket 10 = unbiased). The table
    * answers "is 96 permutations enough at our 500‰ threshold" with
    * data — MinHash's ±1/√k standard error (Broder 1997) made
    * visible — before anyone re-shingles 100 TB with k=256.
    *
    * Shape: ONE signature build feeds banding, estimation AND the
    * exact side; exact Jaccard is computed ONLY for banded candidates
    * (per-pair shared-shingle join — work ∝ candidate overlap, never
    * doc×doc); output ≤21 buckets. No signed division: the bucket
    * shifts by +1000 before `div` (the #243 truncate-vs-floor seam). */
  def minhashCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 96
    val sigs = minhashSignatures(spark, sfDir, k)
    val banded = bandKeys(sigs, 32, 3)
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // NOT cut (r17 A/B): the est + exact-intersection consumers DO
      // replan this self-join, but its input is the memoized signature
      // table, so the replayed legs are cheap — cutting here measured
      // 2.55/2.84 s vs 1.84/1.88 s uncut (the eager job serializes
      // what the scheduler otherwise overlaps).
    val est = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m))" +
          s" * 1000 div $k").cast("long").as("est_pm"))
    val ex = corpusWithPlants(spark, sfDir)
      .select(col("doc_id"), explode(shingleMd5Hashes(col("toks"), 3)).as("h0"))
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(ex.select(col("doc_id").as("doc_a"), col("h0")), "doc_a")
      .join(ex.select(col("doc_id").as("doc_b"), col("h0")), Seq("doc_b", "h0"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter_n"))
    est
      // left join: a band key can theoretically collide across the
      // h=0 / h=2³¹−1 seam of the affine family with NO shared
      // shingle — exact_pm reads 0 there instead of dropping the pair
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter_n"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("est_pm"),
        expr("1000 * inter_n div greatest(n_a + n_b - inter_n, 1)")
          .as("exact_pm"))
      .select(expr("(est_pm - exact_pm + 1000) div 100").as("err_bucket"),
        col("est_pm"), col("exact_pm"))
      .groupBy(col("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(est_pm) div count(1)").as("avg_est_pm"),
        expr("sum(exact_pm) div count(1)").as("avg_exact_pm"))
      .orderBy(col("err_bucket"))
  }

  /** The banding sweep of [[lshTuning]]: (bands, rows) with
    * bands·rows = 96, r ≥ 3 — r = 2 is excluded on purpose: its
    * collision rate on UNRELATED pairs (1−(1−j²)ᵇ ≈ 11% at j≈0.05)
    * makes the candidate set quadratic in the corpus, the exact
    * failure mode the sweep exists to expose numerically, and one
    * config must not cost more than the whole suite. */
  val lshTuningConfigs: Seq[(Int, Int)] =
    Seq((32, 3), (24, 4), (16, 6), (12, 8), (8, 12))

  /** Theoretical S-curve midpoint (1/b)^(1/r) in per-mille for a
    * banding config — the Jaccard at which collision probability
    * crosses ½ (Leskovec/Rajaraman/Ullman, MMDS ch.3). Computed once
    * here and interpolated LITERALLY into the oracle SQL, so both
    * engines carry the identical constant. */
  def lshTStarPm(bands: Int, rows: Int): Long =
    math.floor(1000.0 * math.pow(1.0 / bands, 1.0 / rows)).toLong

  /** §2#240 LSH BANDING TUNER — the S-curve sweep that turns #26's
    * magic (32 bands × 3 rows) into a measured decision: over the
    * SAME 96-permutation signatures, evaluate five (bands, rows)
    * splits and report each config's theoretical midpoint t* =
    * (1/b)^(1/r), its measured candidate volume, how many candidates
    * verify at the est-Jaccard ≥ 0.5 operating threshold, and the
    * implied precision — the table that says "moving from 32×3 to
    * 16×6 cuts candidates N× and costs these recall points" BEFORE a
    * 100 TB re-shingle. Band keys here are the raw signature-slice
    * CONTENT (not #26's xxhash64 buckets) so the DuckDB oracle's
    * candidate COUNTS match bit-exactly — the production operator
    * keeps the hashed 8-byte keys; this table is the offline
    * calibration artifact.
    *
    * Shape: ONE signature build (the #26 plan, cut) feeds all five
    * configs; each config is a banded equi-join (shuffle on the band
    * key — work ∝ actual collisions, never corpus²) plus a
    * zip_with verify on the two signature arrays; per-config output
    * is ONE row, so the union is 5 rows. */
  def lshTuning(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 96
    val sigs = minhashSignatures(spark, sfDir, k)
    lshTuningConfigs.map { case (b, r) =>
      val banded = bandKeys(sigs, b, r)
      val cands = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      cands
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .select(size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), m => m)).cast("long").as("mt"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("mt") >= 48L, 1L).otherwise(0L)), lit(0L))
            .as("n_verified"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          lit(lshTStarPm(b, r)).as("t_star_pm"),
          col("n_candidates"), col("n_verified"),
          expr("1000 * n_verified div greatest(n_candidates, 1)").as("precision_pm"))
    }.reduce(_ unionByName _)
      .orderBy(col("bands").desc)
  }

  /** Core SimHash Hamming-LSH over any (doc_id, toks) frame: 64-bit
    * signatures (64 codegen'd per-bit vote-sum aggregates over exploded
    * token hashes), candidate pairs via Manku-style COMBINATION banding
    * (WWW'07 "Detecting Near-Duplicates for Web Crawling"), then exact
    * Hamming verification.
    *
    * Banding: the signature is split into 10 blocks (4×7 + 6×6 bits);
    * each doc emits one bucket key per PAIR of blocks — C(10,2) = 45
    * keys of 12-14 bits each. Pigeonhole GUARANTEE: maxHamming ≤ 8
    * differing bits touch at most 8 of the 10 blocks, so at least one
    * block PAIR is bit-identical on both docs → every true pair shares
    * a bucket (100% recall at Hamming ≤ 8, verified by the planted
    * spec). Versus single-block banding, pair-keys keep selectivity:
    * buckets are 2^12-2^14 wide, so collision work is ~45·n²/2^13 —
    * 13× fewer candidate checks than nine 7-bit single blocks would
    * generate. The shuffle key is the bucket key only; work scales with
    * bucket collisions, never doc×doc. */
  private val simhashBlockSizes = Seq(7, 7, 7, 7, 6, 6, 6, 6, 6, 6)
  private val simhashBlockOffsets = simhashBlockSizes.scanLeft(0)(_ + _).init
  private val simhashBlockPairs =
    for { i <- 0 until 10; j <- (i + 1) until 10 } yield (i, j)

  /** SimHash signature per doc: explode token hashes, codegen'd
    * per-bit vote sums, fold back into one BIGINT. Exposed for the
    * spec's brute-force ground truth.
    *
    * The token hash is the REPLAYABLE md5-top-60 basis (r11), so the
    * DuckDB oracle recomputes identical signatures and the query is
    * hash-gated, not rows-only. Only bits 0-59 can be set (bits 60-63
    * vote uniformly 0 for every doc — they add nothing to any Hamming
    * distance and the 10-block banding layout is unchanged). md5 per
    * TOKEN costs ~10× xxhash64 per hash, but the vote aggregation —
    * not the hash — dominates this operator (measured: no bench
    * movement at sf0.1). */
  private[operators] val simhashBits = 60
  private[operators] def simhashSigs(docs: DataFrame): DataFrame = {
    val hashes = docs
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .select(col("doc_id"), md5Hash60(col("t")).as("h"))
    val voteAggs =
      (0 until simhashBits).map(j => sum(simhashVote(col("h"), j)).as(s"b$j"))
    hashes.groupBy(col("doc_id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"),
        simhashFromVotes(j => col(s"b$j"), simhashBits).as("sig"))
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    hammingPairs64(simhashSigs(docs), maxHamming)

  /** Banded Hamming-distance pairs over ANY (doc_id, sig: long) frame —
    * the Manku block-pair machinery of [[simhashPairs]], reused by the
    * perceptual-hash image dedup (Multimodal.phashDedup). Input is
    * materialized once: both sides of the bucket self-join read it, and
    * without the checkpoint each side re-runs the (typically expensive)
    * signature computation from scratch. */
  private[operators] def hammingPairs64(sigFrame: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 8,
      s"10-block pair banding guarantees recall only to Hamming 8, got $maxHamming")
    val sigs = sigFrame.cut
    def block(i: Int): Column =
      shiftrightunsigned(col("sig"), simhashBlockOffsets(i))
        .bitwiseAND(lit((1L << simhashBlockSizes(i)) - 1))
    // one 20-bit bucket key per block pair: (pairId, blockVal_i, blockVal_j)
    // packed into a single long join column
    val bucketKeys = array(simhashBlockPairs.zipWithIndex.map {
      case ((i, j), pid) =>
        lit(pid.toLong * (1L << 14)) + block(i) * lit(1L << 7) + block(j)
    }: _*)
    val chunks = sigs.select(col("doc_id"), col("sig"),
      explode(bucketKeys).as("bk"))
    // Verify Hamming BEFORE dedup'ing candidates: bit_count(xor) is a
    // codegen'd per-row op, so running it on the raw join output costs
    // ~nothing, while it shrinks the distinct()'s shuffle input from
    // every bucket collision (correlated corpora collide a LOT — 13M
    // rows at sf0.1) down to the true pairs (thousands). Same result:
    // a pair within the radius keeps identical (hamming) on every
    // duplicate row, and pairs outside it were discarded post-distinct
    // anyway.
    chunks.as("x").join(chunks.as("y"),
        col("x.bk") === col("y.bk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming64(col("x.sig"), col("y.sig")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** §2#27 SimHash near-dup pairs (Hamming ≤ 8) over the corpus with
    * planted variants — candidate generation via signature-chunk
    * banding (see simhashPairs), not any id-derived blocking. */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(corpusWithPlants(spark, sfDir), 8)

  /** §2#28 embedding-cosine near-dup pairs: corpus = embeddings ∪ exact
    * copies of vec_id<100 (vec_id+1000000); pairs with cos ≥ 0.95 within
    * the same label block. The label is a DEMO blocking key (it keeps
    * the oracle SQL-expressible); for unlabeled corpora use
    * embeddingNearDupLsh below. */
  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame =
    embeddingPairs(plantedEmbeddings(spark, sfDir, "label", "emb", "nrm"), "label")

  /** The embedding near-dup corpus: the session's memoized (vec_id,
    * `cols`…) base ∪ exact copies of its vec_id < 100 rows re-keyed to
    * vec_id + 1000000 — real dups to find. Plants copy their source row
    * verbatim, so the memo's nrm (the same norm2 hoist, same FP ops as
    * the oracle's dot/(sqrt(aa)*sqrt(bb))) carries over bit-identically. */
  private def plantedEmbeddings(spark: SparkSession, sfDir: String,
      cols: String*): DataFrame = {
    val base = Similarity.corpusCut(spark, sfDir).select(("vec_id" +: cols).map(col): _*)
    base.unionByName(Similarity.firstIds(base, 100)
      .withColumn("vec_id", col("vec_id") + 1000000L))
  }

  /** Near-dup pairs of a planted embedding corpus: every pair sharing
    * the `block` key with cos ≥ 0.95, as (vec_a, vec_b, cos_e6). */
  private def embeddingPairs(corpus: DataFrame, block: String): DataFrame =
    corpus.as("x").join(corpus.as("y"),
        col(s"x.$block") === col(s"y.$block") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        Similarity.cosPre(col("x.emb"), col("x.nrm"), col("y.emb"), col("y.nrm"))
          .as("cos_e6"))
      .where(col("cos_e6") >= 950000L)
      .orderBy(col("vec_a"), col("vec_b"))

  /** §2#119 SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * dedup — k-means-cluster the embedding space, then within each
    * cluster drop all but one member of every cos≥threshold near-dup
    * group, KEEPING the member FARTHEST from its centroid (the paper's
    * keep-low-centroid-similarity rule: boundary examples carry more
    * training signal than cluster-archetype repeats). This is the
    * curation recipe behind LAION-scale web-data pruning, and it
    * catches what lexical dedup can't: paraphrases, translations,
    * re-encodings — same meaning, disjoint shingles.
    *
    * Distributed shape: Lloyd's runs two map-side-combinable shuffles
    * per iteration (see [[Similarity.kmeansCentroids]]); the pair
    * stage shuffles once on the cell id and joins WITHIN cells only —
    * never corpus×corpus. At 100 TB you grow nCells ∝ corpus (the
    * paper uses 50k clusters for LAION) so per-cell pair work stays
    * constant; the cell join is the same bucket-first shape as every
    * other candidate generator here.
    *
    * Drop rule is the one-pass dominance form: b is dropped iff SOME
    * same-cell a has cos(a,b) ≥ threshold and a is strictly closer to
    * keeping (lower cos-to-centroid, ties to lower vec_id). On
    * transitive chains this drops every dominated member (the paper's
    * sequential greedy would re-admit a member whose dominators were
    * themselves dropped) — deterministic, one aggregate, and
    * conservative in the right direction for dedup.
    *
    * k-means centroids are float averages → rows-only check; the spec
    * pins the structural contract (plants dropped, originals kept,
    * verdict partition, dup-free subset untouched). */
  def semantic(spark: SparkSession, sfDir: String, nCells: Int = 8,
      iters: Int = 2, thresholdE6: Long = 950000L): DataFrame = {
    // the planted corpus reads the memo's checkpoint blocks through a
    // cheap union — its consumers (seeding, two Lloyd's scans,
    // assignment) never re-materialize scan+cast+norm per call
    val corpus = plantedEmbeddings(spark, sfDir, "emb", "nrm")
    val cents = Similarity.kmeansCentroids(corpus, nCells, iters)
    // hard-assign each vector to its best cell IN-ROW against the
    // broadcast centroid array (cc = cos to OWN centroid) — no
    // corpus-wide argmax groupBy (guide §2.4)
    val assigned = Similarity.assign(corpus, cents)
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("best.cell").as("cell"), col("best.cell_cos").as("cc"))
      .cut // feeds both sides of the pair join + output
    val dropped = assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id") &&
        (col("x.cc") < col("y.cc") ||
          (col("x.cc") === col("y.cc") && col("x.vec_id") < col("y.vec_id"))))
      .where(Similarity.cosPre(col("x.emb"), col("x.nrm"),
        col("y.emb"), col("y.nrm")) >= thresholdE6)
      .select(col("y.vec_id").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("cc").as("cos_centroid_e6"),
        when(col("is_dropped").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** §2#59 LABEL-FREE embedding near-dup: blocking via 12-bit
    * random-hyperplane LSH buckets instead of any metadata column —
    * works on unlabeled corpora. Identical vectors always share a
    * bucket (every projection sign matches), so exact copies have 100%
    * recall; near-but-not-identical pairs are found when no hyperplane
    * separates them (probabilistic — standard LSH trade; add rotated
    * bucket tables to push recall up). One shuffle on the bucket key,
    * in-bucket pair join — never corpus×corpus. */
  def embeddingNearDupLsh(spark: SparkSession, sfDir: String): DataFrame =
    embeddingPairs(plantedEmbeddings(spark, sfDir, "emb", "nrm")
      .withColumn("bucket", hyperplaneBucket(col("emb"), 12, 64)), "bucket")

  /** §2#103 winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): slide a window of `w` consecutive
    * n-gram hashes over each document IN ORDER and keep each window's
    * MINIMUM — the classic guarantee: any shared run of at least
    * w+n-1 tokens yields at least one shared fingerprint, while only
    * ~2/(w+1) of positions are kept. Completes the classic
    * fingerprinting trio next to MinHash (global similarity) and
    * SimHash (global distance): winnowing catches LOCAL verbatim runs
    * regardless of how different the rest of the documents are.
    *
    * Candidate pairs = docs sharing >= `minShared` selected
    * fingerprints, via the same bucket-join shape as every other
    * generator here: one shuffle on the fingerprint, never doc×doc.
    * Fingerprints hot across > `maxDf` docs (ubiquitous runs — the
    * boilerplate the algorithm is allowed to ignore) are dropped
    * before the self-join, bounding bucket fanout at scale.
    * Hash-based output → rows-only; the spec pins plant recall. */
  /** The selected (doc_id, fp) winnowing fingerprints — exposed for the
    * spec's direct set-intersection ground truth. */
  private[operators] def winnowFps(spark: SparkSession, sfDir: String,
      ngram: Int, w: Int): DataFrame =
    // md5-ordered window hashes (r11): winnowing's SELECTION (per-
    // window argmin) depends on the hash VALUES, so replaying n_shared
    // in the oracle requires the replayable basis — unlike the
    // set-overlap ops, where hash equality ⟺ string equality lets the
    // oracle work on shingle strings while the engine keeps xxhash64
    corpusWithPlants(spark, sfDir)
      .select(col("doc_id"), shingleMd5HashesOrdered(col("toks"), ngram).as("hs"))
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), greatest(size(col("hs")) - lit(w - 1), lit(1))),
          i => array_min(slice(col("hs"), i, lit(w)))))).as("fp"))

  def winnowing(spark: SparkSession, sfDir: String, ngram: Int = 4,
      w: Int = 4, minShared: Int = 2, maxDf: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFps(spark, sfDir, ngram, w)
    // df as a COUNT WINDOW over the fp partition (r17, guide §2.4):
    // the r16 groupBy+join-back form planned the md5-heavy fingerprint
    // explode FOUR times (once per rare leg, once per self-join side).
    // The window needs the same hashpartitioning(fp) exchange the
    // self-join needs anyway, so the explode now runs ONCE below one
    // reused exchange; fps rows are distinct (doc, fp) pairs by
    // construction (array_distinct per doc), so the window count over
    // fp equals the old groupBy df — bit-identical, hash-gated.
    // Skew caveat: WindowExec buffers a whole fp partition before the
    // df<=maxDf filter drops it, so a degenerate near-universal
    // fingerprint could spill where the old map-side-combined
    // groupBy+join would not. Winnowing fps are per-window MINIMA of
    // md5 hashes (no constant-value fp exists by construction), so no
    // pre-prune is kept; corpora with adversarial constant runs should
    // reinstate a cheap high-df screen before this window.
    val pruned = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .where(col("df") <= maxDf)
      .select(col("doc_id"), col("fp"))
    pruned.as("x").join(pruned.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** §2#279 SHINGLE DF PROFILE — the boilerplate diagnostic run BEFORE
    * tuning any df cap (the winnowing maxDf, a Broder-banding df
    * prefilter, the #227 hub screen): the document-frequency
    * distribution of 3-gram shingles as a log₂ histogram, each bucket
    * carrying its shingle count, posting count, and — the number that
    * matters — its PAIR MASS Σ df·(df−1)/2, the candidate pairs that
    * bucket would inject into any inverted-index join. A handful of
    * high-df shingles owning most of the pair mass IS the boilerplate
    * problem; the per-mille column shows exactly where a cap starts
    * paying. BIGINT-safe while Σ df² ≲ 9·10¹⁸ per bucket — a shingle
    * family beyond df ≈ 3·10⁹ overflows, and at that df the cap this
    * op exists to justify is already mandatory (documented bound, the
    * #267 convention).
    *
    * Shape: one (shingle) combinable count — the corpus shuffle — a
    * ≤64-row histogram, one broadcast scalar. The string shingles
    * (not the xxhash64 ones) keep the oracle replayable; a production
    * run at 100 TB would profile the hashed shingles identically. */
  def dfProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Fns.{shingles, tokens}
    val df = Tables.documentsPar(spark, sfDir)
      .select(explode(shingles(tokens(col("text")), 3)).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val buckets = df
      .select((length(bin(col("df"))) - 1).cast("long").as("log2_df"),
        col("df"))
      .groupBy(col("log2_df"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"),
        sum(expr("df * (df - 1) div 2")).as("pair_mass"))
    val total = buckets.agg(sum(col("pair_mass")).as("tm"))
    buckets.crossJoin(broadcast(total))
      .select(col("log2_df"), col("n_shingles"), col("n_postings"),
        col("pair_mass"),
        expr("1000 * pair_mass div greatest(tm, 1)").as("pair_mass_pm"))
      .orderBy(col("log2_df"))
  }
}
