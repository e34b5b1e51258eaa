package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Fns.consistentHash

/** Deterministic sampling for training-data pipelines (§2.4/§2.6
  * adjacent): uniform per-group samples via bottom-k-by-hash.
  *
  * Unlike rand()-based sampling, bottom-k by a per-row hash is
  * merge-order independent (any partial can be combined), reproducible
  * across runs/engines, and stable under re-partitioning — the
  * properties that matter when sampling a 100 TB corpus incrementally.
  * The hash is pure integer arithmetic (Knuth multiplicative mod a
  * prime) so the DuckDB oracle computes the identical sample.
  */
object Sampling {

  /** §2#48 k docs per source, deterministically. */
  def sampleDocs(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val h = consistentHash(col("doc_id"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .orderBy(col("source"), col("rn"))
  }

  /** Per-language per-mille sampling rates: downsample the dominant
    * language, upsample the tails — the standard corpus-rebalancing
    * move. (en dominates the synthetic corpus.) */
  val stratifiedRatesPm: Map[String, Long] = Map(
    "en" -> 100L, "de" -> 400L, "fr" -> 400L, "es" -> 400L, "zh" -> 400L)

  /** §2#69 sequence packing (concat-and-chunk): lay each source's
    * documents end to end in doc_id order and cut every `capacity`
    * tokens — the standard LLM pre-training batching step. Each doc
    * reports its token offset and the [bin_start, bin_end] chunk range
    * it lands in (a doc may straddle a boundary).
    *
    * Scale: one shuffle on (source) + an in-partition sort — the
    * running sum is a window over the per-source order, never a global
    * sort; sources are independent so 1000 executors pack 1000 sources
    * concurrently. Skewed giant sources would salt the window key by
    * coarse doc_id ranges and offset with per-range totals. */
  def packSequences(spark: SparkSession, sfDir: String, capacity: Long = 512L): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(graft.functions.Fns.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tok_start"),
        (col("tok_start") / capacity).cast("long").as("bin_start"),
        ((col("tok_start") + col("n_tokens") - 1) / capacity).cast("long").as("bin_end"))
      .orderBy(col("doc_id"))
  }

  /** §2#83 source-mixture sampling — the data-MIXING step: each source
    * gets its own keep rate (here a deterministic function of the
    * source index, standing in for the tuned mixing weights of a real
    * training recipe), applied as the same stateless consistent-hash
    * threshold as [[sampleStratified]]. Changing the recipe is a
    * predicate change — no reshard, no state, previously-kept docs stay
    * kept when a source's weight only increases. Output is the per-
    * source mixing report (kept/total/achieved‰) a pipeline would log;
    * the aggregate is over the exact per-row keep decision, so the
    * oracle pins every row's fate. */
  /** §2#203 PACKING-EFFICIENCY report — the padding-waste metric of
    * the concat-and-chunk step ([[packSequences]]): per source, docs,
    * real tokens, bins consumed, bin capacity consumed, and waste in
    * per-mille (capacity paid minus tokens trained on — at pretraining
    * scale every waste point is GPU-hours, which is why packing
    * recipes are tuned against exactly this number). One aggregate
    * over the pack frame; the window cost is [[packSequences]]'s own. */
  def packEfficiency(spark: SparkSession, sfDir: String,
      capacity: Long = 512L): DataFrame =
    packSequences(spark, sfDir, capacity)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(col("bin_end")) + 1L).as("n_bins"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_bins"),
        (col("n_bins") * capacity).as("capacity_tokens"),
        expr(s"(n_bins * $capacity - total_tokens) * 1000 " +
          s"div (n_bins * $capacity)").as("waste_pm"))
      .orderBy(col("source"))

  def sampleMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = consistentHash(col("doc_id")) % lit(1000L)
    // keep‰ per source: 100 + (idx·53 mod 900) — spread over [100, 1000)
    val keepPm = (substring(col("source"), 4, 10).cast("long") * lit(53L))
      .mod(lit(900L)) + lit(100L)
    Tables.documents(spark, sfDir)
      .select(col("source"), bucket.as("bucket"), keepPm.as("keep_pm"))
      .groupBy(col("source"), col("keep_pm"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("bucket") < col("keep_pm"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("keep_pm"), col("n_total"), col("n_kept"),
        round(col("n_kept") * lit(1000.0) / col("n_total")).cast("long")
          .as("achieved_pm"))
      .orderBy(col("source"))
  }

  /** §2#163 TEMPERATURE-balanced source mixing at α = 1/2 — the
    * multilingual/multi-source re-balancing step (mT5/XLM-R style:
    * sample source s ∝ n_s^α with α < 1, so dominant sources shrink
    * and small ones surface; α=1 is natural proportions, α=0 uniform):
    * a total budget of `targetPm`‰ of the corpus is distributed
    * ∝ isqrt(n_s) (= n_s^(1/2), integer — IEEE sqrt is correctly
    * rounded, so `floor(sqrt(bigint))` is bit-identical across
    * engines), converted to a per-source keep‰ capped at 1000, and
    * applied as the SAME stateless consistent-hash threshold as
    * [[sampleMixture]] — recipe changes are predicate changes, no
    * reshard, membership stable under corpus growth.
    *
    * Shape: one combinable count agg → |sources| rows; totals are one
    * broadcast scalar row; the per-row keep decision is a narrow
    * filter against the broadcast rate table. Output is the mixing
    * report (natural share vs α-share) the pipeline logs. */
  def sampleTemperature(spark: SparkSession, sfDir: String,
      targetPm: Int = 500): DataFrame = {
    require(targetPm > 0 && targetPm <= 1000, s"targetPm out of range: $targetPm")
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      sum(col("w")).as("w_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("target_n",
        expr(s"n_total * $targetPm div 1000 * w div w_total"))
      .withColumn("keep_pm",
        least(lit(1000L), expr("1000 * target_n div n_docs")))
      .select(col("source"), col("n_docs"), col("w"), col("target_n"),
        col("keep_pm"))
    val bucket = consistentHash(col("doc_id")) % lit(1000L)
    d.select(col("source"), bucket.as("bucket"))
      .join(broadcast(rates), "source")
      .groupBy(col("source"), col("n_docs"), col("w"), col("target_n"),
        col("keep_pm"))
      .agg(sum(when(col("bucket") < col("keep_pm"), 1L).otherwise(0L))
        .as("n_kept"))
      .orderBy(col("source"))
  }

  /** §2#98 WEIGHTED priority sampling: bottom-k documents by
    * `hash(doc_id) div weight` with weight = n_chars — an integer
    * priority-sampling scheme (Duffield/Lund/Thorup shape: a doc's
    * priority is its uniform hash scaled down by its weight, so bigger
    * documents get proportionally more chance to make the sample) kept
    * entirely in integer division so both engines agree bit-for-bit.
    *
    * Scale: the bottom-k is `orderBy(...).limit(k)` →
    * TakeOrderedAndProject — per-partition top-k heaps merged on the
    * driver, never a global sort; the rank is assigned AFTER the limit
    * on a k-row frame. Deterministic, merge-order independent,
    * re-runnable (consistent hash). The hash reduces doc_id mod p BEFORE
    * multiplying (identical residue, since (x mod p)·k ≡ x·k mod p), so
    * the product stays under 2^63 for the whole Long domain — no ANSI
    * overflow in Spark, no BIGINT-overflow divergence in the oracle. */
  def sampleWeighted(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val topk = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      .withColumn("priority", expr("((doc_id % 1000000007) * 2654435761 % 1000000007) div greatest(n_chars, 1)"))
      .orderBy(col("priority"), col("doc_id")).limit(k)
    topk
      .withColumn("rn", row_number()
        .over(Window.orderBy(col("priority"), col("doc_id"))).cast("long"))
      .orderBy(col("rn"))
  }

  /** §2#68 stratified sampling: per-language rates as a pure hash
    * threshold — `hash(doc_id) mod 1000 < rate_pm(lang)`.
    *
    * Unlike the bottom-k window of [[sampleDocs]], this is a STATELESS
    * per-row filter: no window, no shuffle, no state — each of 1000
    * executors decides locally, any sample of partials merges, and a
    * re-run over grown data keeps every previously-sampled doc (hash
    * threshold = consistent sampling). That's the shape that holds at
    * 100 TB; a rate change is a predicate change, not a re-shard. */
  /** §2#136 train/val/test split assignment: the last step before any
    * model sees the data. The SAME stateless consistent-hash-threshold
    * shape as [[sampleStratified]] (per-doc bucket in ‰; <900 train,
    * <950 val, else test = 90/5/5): membership is a pure function of
    * doc_id, so a document NEVER migrates between splits as the corpus
    * grows or re-shards (the leakage bug a random split has), and the
    * assignment needs no shuffle at all. Output is the per-(source,
    * split) contingency table — the report a data audit reads — plus
    * each split's min/max bucket as a self-check that thresholds held.
    */
  def sampleSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = consistentHash(col("doc_id")) % lit(1000L)
    Tables.documents(spark, sfDir)
      .select(col("source"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 900L, lit("train"))
          .when(col("bucket") < 950L, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"),
        min(col("bucket")).as("bucket_lo"), max(col("bucket")).as("bucket_hi"))
      .orderBy(col("source"), col("split"))
  }

  /** §2#140 per-source document cap — the per-DOMAIN cap from
    * web-crawl curation (C4/Gopher-style recipes bound any single
    * domain's share of the corpus so boilerplate-heavy megadomains
    * can't dominate training): keep only the `cap` highest-QUALITY
    * docs per source, quality = text_quality's integer score, ties to
    * lower doc_id. Unlike [[sampleDocs]] (uniform-random k per source)
    * this is the quality-ranked variant — the two compose into
    * "cap-then-sample".
    *
    * Runs through the NATIVE TopKPerKey operator, not a window rank: a
    * `row_number() over (partition by source order by quality)` sorts
    * every doc of a source inside one reducer (the q_ntile_decile
    * lesson — parallelism ceiling |sources|), while TopKPerKey keeps
    * an O(cap) buffer per source per partition with map-side partials,
    * so the scan never sorts and the shuffle carries ≤ cap·|sources|
    * rows per map partition. Per-key state is cap rows and |sources|
    * is bounded — exactly TopKPerKey's memory contract. */
  def capPerSource(spark: SparkSession, sfDir: String, cap: Int = 20): DataFrame = {
    val q = TextAnalysis.qualityUnsorted(spark, sfDir)
      .select(col("doc_id"), col("quality_pm"))
    val scored = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .join(q, "doc_id")
      .select(col("source"), col("doc_id"), col("quality_pm"))
    graft.plans.TopKPerKey.ofDF(scored, Seq("source"), "quality_pm", "doc_id", cap)
      .orderBy(col("source"), col("rk"))
  }

  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = consistentHash(col("doc_id")) % lit(1000L)
    // rate lookup as a codegen'd when-chain over the tiny static map
    val rate = stratifiedRatesPm.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (lang, pm)) =>
        when(col("lang") === lang, lit(pm)).otherwise(acc)
      }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        bucket.as("bucket"), rate.as("rate_pm"))
      .where(col("bucket") < col("rate_pm"))
      .orderBy(col("doc_id"))
  }

  /** §2#223 per-source EPOCH allocation under a token budget — the
    * data-constrained mixing step (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models": when the budget exceeds a
    * source's tokens you repeat it, with rapidly diminishing returns
    * past ~4 epochs — so allocators cap repeats and report the
    * shortfall): distribute `budgetX ×` the corpus tokens across
    * sources ∝ isqrt(avail) (the α=1/2 temperature weights of
    * [[sampleTemperature]]), then per source epochs =
    * ceil(ideal/avail) capped at `maxEpochs`, realized = min(ideal,
    * epochs·avail), utilization‰ — the planning table a training run
    * logs before it starts reading.
    *
    * Integer-exact across engines: isqrt via correctly-rounded IEEE
    * sqrt (the #163 precedent) and the budget split as
    * `(b div Σw)·w + ((b mod Σw)·w) div Σw` — the exact
    * floor(b·w/Σw) WITHOUT forming b·w, which overflows BIGINT once
    * corpus tokens × isqrt(corpus) passes 2⁶³ (at 100 TB it does;
    * the oracle mirrors the same split so neither side widens).
    *
    * Shape: one map-side-combinable per-source token sum →
    * |sources| rows; the windows run on that tiny frame. */
  def sampleEpochs(spark: SparkSession, sfDir: String,
      budgetX: Int = 2, maxEpochs: Int = 4): DataFrame = {
    import graft.functions.Fns.tokens
    val win = Window.partitionBy(lit(1))
    Tables.documentsPar(spark, sfDir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("avail_toks"))
      .withColumn("w", expr("CAST(floor(sqrt(avail_toks)) AS BIGINT)"))
      // greatest(·,1) guards: a source whose docs are all empty has
      // avail_toks = 0 ⇒ w = 0 (and an all-empty corpus w_sum = 0);
      // without the guard the divisions error under ANSI Spark and
      // diverge from DuckDB. Guarded, such sources read as 0 epochs /
      // 0 realized — the allocator skips them. Oracle mirrors exactly.
      .withColumn("ws", expr("greatest(sum(w) OVER (), 1)"))
      .withColumn("budget", sum(col("avail_toks")).over(win) * lit(budgetX.toLong))
      .withColumn("ideal_toks",
        expr("(budget div ws) * w + ((budget % ws) * w) div ws"))
      .withColumn("epochs",
        least(expr("greatest(ideal_toks + avail_toks - 1, 0) div greatest(avail_toks, 1)"),
          lit(maxEpochs.toLong)))
      .withColumn("realized_toks",
        least(col("ideal_toks"), col("epochs") * col("avail_toks")))
      .select(col("source"), col("avail_toks"),
        expr("1000 * w div ws").as("weight_pm"),
        col("ideal_toks"), col("epochs"), col("realized_toks"),
        expr("1000 * realized_toks div greatest(ideal_toks, 1)").as("util_pm"))
      .orderBy(col("source"))
  }

  /** §2#226 CURRICULUM BUCKETS — the quality-ordered mixing table
    * (curriculum learning à la Bengio et al. 2009, as data pipelines
    * apply it: schedule training from high-quality strata down, or
    * anneal the mix toward quality late in training): documents land
    * in 10 fixed quality bands (bucket = quality_pm div 100, the
    * [[TextAnalysis.quality]] score), and the table reports each
    * band's doc/token mass plus the running token total from the BEST
    * band down — exactly the "how many tokens do I get above quality
    * X" lookup a schedule needs.
    *
    * Scale note: bands are VALUE buckets, not ntile ranks, on purpose —
    * a rank curriculum needs a global sort of the corpus (one range
    * exchange, then a single-partition ntile window: the known
    * scale-killer), while value bands are one map-side-combinable agg
    * to ≤11 rows; the cumulative window runs over those ≤11 rows, not
    * the corpus. */
  def sampleCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    TextAnalysis.qualityUnsorted(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("quality_pm"))
      .withColumn("bucket", least(expr("quality_pm div 100"), lit(9L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("quality_pm")).as("min_pm"), max(col("quality_pm")).as("max_pm"))
      .withColumn("cum_tokens_from_top",
        sum(col("n_tokens")).over(
          Window.orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("min_pm"), col("max_pm"), col("cum_tokens_from_top"))
      .orderBy(col("bucket"))
  }

  /** §2#236 SHELF bin packing — packing WHOLE documents (the
    * no-split regime: instruction-tuning examples, contrastive pairs,
    * anything where a truncated document is a corrupted label; #69
    * concat-and-chunk deliberately splits, this deliberately never
    * does). Classic First-Fit-Decreasing is inherently SEQUENTIAL —
    * bin state threads through every placement, which is exactly what
    * a 1000-executor packer cannot do — so this is the parallel
    * approximation the shelf/harmonic family gives (Lee & Lee, JACM
    * 1985): round each doc up to its ceiling power of two `band`,
    * give a band's bins exactly `capacity div band` slots, and assign
    * by rank within (source, band). Every placement is then PURE
    * ARITHMETIC on a per-source rank — no bin state, no sequential
    * scan — at the harmonic family's bounded waste (a full shelf of
    * band 2ᵏ docs is ≥ half full, since every member exceeds 2ᵏ⁻¹).
    *
    * Oversize docs (> capacity) keep their own bin with slots = 1 and
    * used_pm > 1000 — visible, never silently dropped or truncated.
    *
    * Shape: one narrow token-count pass; one window per (source,
    * band) partition in doc_id order (the #69 scale story: sources
    * pack independently across executors; a skewed giant source salts
    * by coarse doc_id range); one combinable per-bin agg. Integer
    * arithmetic end to end — the ceiling power of two is the exact
    * bit-length log, length(bin(n−1)), same construct both engines. */
  def packShelves(spark: SparkSession, sfDir: String,
      capacity: Long = 512L): DataFrame =
    packShelvesOf(Tables.documentsPar(spark, sfDir), capacity)

  /** [[packShelves]] over any (doc_id, source, text) frame. */
  def packShelvesOf(docs: DataFrame, capacity: Long): DataFrame = {
    import graft.functions.Fns.tokens
    val w = Window.partitionBy(col("source"), col("band"))
      .orderBy(col("doc_id"))
    docs
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n"))
      .withColumn("band", expr(
        "CASE WHEN n <= 1 THEN 1L ELSE shiftleft(1L, length(bin(n - 1))) END"))
      .withColumn("slots", expr(s"greatest($capacity div band, 1L)"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("bin_id", expr("(rn - 1) div slots"))
      .groupBy(col("source"), col("band"), col("bin_id"))
      .agg(max(col("slots")).as("slots"), count(lit(1)).as("n_docs"),
        sum(col("n")).as("load_toks"))
      .withColumn("used_pm", expr(s"1000 * load_toks div $capacity"))
      .orderBy(col("source"), col("band"), col("bin_id"))
  }

  /** Bucket count for [[sampleDsir]] — fixed, NOT corpus-proportional:
    * the whole point of hashed features is that the model size is a
    * constant of the pipeline, so the bucket table broadcast is
    * justified at ANY corpus scale (4096 rows forever). */
  val dsirBuckets = 4096L

  /** §2#231 DSIR importance scoring — Data Selection via Importance
    * Resampling (Xie et al. 2023): score every raw document by how
    * much more likely its hashed-unigram bag is under the TARGET
    * domain's token distribution than under the raw corpus's, and
    * keep the docs the target distribution prefers. Here the target
    * is the `source = 'src0'` slice (the "looks like my curated
    * domain" stand-in — any doc predicate slots in); features are md5
    * token hashes folded into [[dsirBuckets]] buckets, add-one
    * smoothed PER BUCKET (n+1, totals unpadded — padding totals by B
    * swamps a target slice smaller than the bucket count and biases
    * every score negative; measured on the sf corpus before this
    * shipped).
    *
    * Exact integers end to end, at QUARTER-bit resolution (the #221
    * half-bit convention is too coarse for cross-slice divergences
    * under ~0.35 bits/token): a bucket's surprisal under distribution
    * (N, n) is floor(4·log₂(N div (n+1))) = length(bin(q⁴))−1
    * quarter-bits with q capped at 2¹⁵−1 (q⁴ < 2⁶⁰ — no BIGINT
    * overflow; the cap saturates at p < 2⁻¹⁵, far past any keep
    * boundary), and the doc's log importance weight is logw_qb =
    * Σ_tok (surp_raw − surp_target) — positive ⇔ the doc's tokens are
    * systematically more probable under the target LM. `keep` =
    * logw_qb ≥ 0 is deliberately a PER-ROW decision, not a global
    * rank: DSIR's top-quantile resample needs a corpus-wide sort at
    * 100 TB, while the sign test is embarrassingly parallel and
    * selects "more target-like than raw" exactly.
    *
    * Shape: one map-side-combinable (doc, bucket) count; the bucket
    * distribution table is B rows (bounded by construction — hashed
    * features make the model size a pipeline constant) → broadcast
    * join back; one combinable per-doc agg. No corpus-wide shuffle
    * beyond the compacted (doc, bucket) pairs. */
  def sampleDsir(spark: SparkSession, sfDir: String): DataFrame =
    sampleDsirOf(Tables.documentsPar(spark, sfDir))

  /** [[sampleDsir]] over any (doc_id, source, text) frame. */
  def sampleDsirOf(docs: DataFrame): DataFrame = {
    import graft.functions.Fns.{tokens, md5Hash60}
    import graft.Checkpoints.CutOps
    val b = dsirBuckets
    // .cut: the compacted counts feed BOTH the bucket table and the
    // scoring join — without the cut the token explode runs twice
    val compact = docs
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"), pmod(md5Hash60(col("tok")), lit(b)).as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
      .cut
    val buckets = compact.groupBy(col("b"))
      .agg(sum(col("c")).as("nr"),
        sum(when(col("source") === "src0", col("c")).otherwise(0L)).as("nt"))
      // totals via a window over the ≤B-row bucket table, not the corpus
      .withColumn("trn", sum(col("nr")).over(Window.partitionBy(lit(1))))
      .withColumn("ttn", sum(col("nt")).over(Window.partitionBy(lit(1))))
      .withColumn("qr", expr("least(trn div (nr + 1), 32767L)"))
      .withColumn("qt", expr("least(ttn div (nt + 1), 32767L)"))
      .withColumn("sd",
        expr("""(length(bin(qr * qr * qr * qr)) - 1)
               |- (length(bin(qt * qt * qt * qt)) - 1)""".stripMargin)
          .cast("long"))
      .select(col("b"), col("sd"))
    compact.join(broadcast(buckets), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("c") * col("sd")).as("logw_qb"))
      .select(col("doc_id"), col("n_tokens"), col("logw_qb"),
        expr("CAST(CASE WHEN logw_qb >= 0 THEN 1 ELSE 0 END AS BIGINT)").as("keep"))
      .orderBy(col("doc_id"))
  }
}
