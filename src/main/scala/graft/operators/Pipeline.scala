package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Checkpoints.CutOps
import graft.functions.Fns._

/** §2#88 the COMPOSED training-data pipeline — every preparation stage
  * the library provides, chained as ONE declarative DataFrame job:
  *
  *   normalize → exact-dedup (normalized) → quality gate →
  *   benchmark decontamination → stratified sample → sequence packing
  *
  * The whole corpus-preparation flow is one declarative query per
  * stage-chain, so Catalyst plans across stage boundaries (normalize
  * fuses into the scan, the sampling filter pipelines into the pack
  * projection) and the oracle checks the END-TO-END result, not just
  * each stage alone.
  *
  * Scale shape: one window on the normalized-content hash (dedup);
  * the deduped+gated frame is materialized ONCE (eager localCheckpoint
  * — it feeds the window-extraction AND the surviving-doc paths, which
  * would otherwise re-run the scan+normalize+dedup per consumer); the
  * decontamination semi-join broadcasts the bounded benchmark window
  * set; sampling is a stateless hash-threshold filter; packing is one
  * per-source window. The corpus is never collected or cross-joined,
  * and every join side that ships is bounded (bench windows,
  * contaminated-doc ids). */
object Pipeline {

  /** §2#89 the STREAMING ingest form of the same pipeline — the exact
    * stage chain applied to an unbounded document stream (the Dataset
    * API's batch/stream unification: every transform below runs
    * unchanged on either kind of frame):
    *
    *   normalize → dedup (`dropDuplicates` on the normalized hash —
    *   swap in `dropDuplicatesWithinWatermark` when ingest carries an
    *   event time, see StreamingAggSpec) → quality gate →
    *   decontamination → stratified sample
    *
    * Decontamination here is a STATELESS per-row filter:
    * `arrays_overlap` between the doc's window hashes and the eval
    * set's — eval sets are bounded by construction (curated, ~1e3–1e6
    * windows), so they ship as a broadcast literal rather than a join
    * side, which keeps the streaming plan free of stream-static join
    * restrictions. Packing is deliberately absent: it needs a total
    * per-source order, which an unbounded stream doesn't have — that's
    * the batch job's backfill role. */
  def streamIngest(docs: DataFrame, benchWindowHashes: Seq[Long],
      minTokens: Int = 10): DataFrame = {
    val norm = docs.select(col("doc_id"), col("source"), col("lang"),
      normText(col("text")).as("norm_text"))
    val bench = array(benchWindowHashes.map(lit): _*)
    val bucket = consistentHash(col("doc_id")) % lit(1000L)
    val rate = Sampling.stratifiedRatesPm.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (lang, pm)) =>
        when(col("lang") === lang, lit(pm)).otherwise(acc)
      }
    norm
      .withColumn("norm_hash", md5(col("norm_text")))
      .dropDuplicates("norm_hash")
      .withColumn("toks", tokens(col("norm_text")))
      .where(size(col("toks")) >= minTokens)
      .where(!arrays_overlap(shingleHashes(col("toks"), 4), bench))
      .where(bucket < rate)
      .select(col("doc_id"), col("source"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"))
  }

  /** §2#187 [[streamIngest]] with NEAR-DUP admission — the banded
    * MinHash upgrade of the exact-hash `dropDuplicates` stage (the
    * streaming twin of `dedup_minhash_lsh` #26): the stateless stages
    * (normalize → quality gate → decontaminate → stratified sample)
    * run unchanged, then each survivor's k-hash MinHash signature
    * splits into `nBands` LSH band keys and the doc passes through the
    * [[graft.streaming.StreamNearDup]] registry — admitted iff NO band
    * was registered by an earlier doc, registering all its bands if
    * so. Exact duplicates are subsumed (identical normalized text ⇒
    * identical signature ⇒ every band hits), which is why the separate
    * `dropDuplicates` stage is gone: one stateful chain instead of
    * two.
    *
    * Signature computation is PER-ROW (array_min over seeded hashes of
    * the doc's own shingles — no aggregation), so everything before
    * the registry is a narrow codegen'd map; the only shuffles are the
    * two transformWithState exchanges (band key, then doc id). `docs`
    * must carry an event-time `ts` column — the chained-stateful form
    * requires a watermark. State: nBands longs per admitted doc. */
  def streamIngestNearDup(docs: DataFrame, benchWindowHashes: Seq[Long],
      minTokens: Int = 10, k: Int = 16, nBands: Int = 4,
      watermarkDelay: String = "10 seconds")
      (implicit spark: SparkSession)
      : org.apache.spark.sql.Dataset[graft.streaming.IngestAdmit] = {
    require(k % nBands == 0, s"k=$k must split into nBands=$nBands")
    val rowsPerBand = k / nBands
    val norm = docs.select(col("ts"), col("doc_id"), col("source"), col("lang"),
      normText(col("text")).as("norm_text"))
    val bench = array(benchWindowHashes.map(lit): _*)
    val bucket = consistentHash(col("doc_id")) % lit(1000L)
    val rate = Sampling.stratifiedRatesPm.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (lang, pm)) =>
        when(col("lang") === lang, lit(pm)).otherwise(acc)
      }
    val gated = norm
      .withColumn("toks", tokens(col("norm_text")))
      .where(size(col("toks")) >= minTokens)
      .where(benchWindowHashes match {
        case Nil => lit(true)
        case _ => !arrays_overlap(shingleHashes(col("toks"), 4), bench)
      })
      .where(bucket < rate)
    val shs = shingleHashes(col("toks"), 3)
    val sig = array((0 until k).map(i =>
      array_min(transform(shs, h => xxhash64(h, lit(i))))): _*)
    import spark.implicits._
    val banded = gated
      .withColumn("sig", sig)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("ts"), col("source"), col("lang"),
        col("n_tokens"),
        explode(transform(sequence(lit(0), lit(nBands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))), b)))
          .as("band"))
      .withColumn("n_bands", lit(nBands))
      .withWatermark("ts", watermarkDelay)
      .as[graft.streaming.NearDupBand]
    graft.streaming.StreamNearDup.admissions(banded)
  }

  /** Window hashes of the benchmark/eval docs — the bounded side
    * [[streamIngest]] broadcasts. Computed from the batch corpus. */
  def benchWindowHashes(spark: SparkSession, sfDir: String,
      minTokens: Int = 10): Seq[Long] = {
    val norm = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 50 === 0)
      .select(col("doc_id"),
        tokens(normText(col("text"))).as("toks"))
      .where(size(col("toks")) >= minTokens)
    norm.select(explode(shingleHashes(col("toks"), 4)).as("w"))
      .distinct().collect().map(_.getLong(0)).toSeq
  }

  def trainDataPipeline(spark: SparkSession, sfDir: String,
      minTokens: Int = 10, capacity: Long = 512L): DataFrame = {
    // 1. normalize (same transform as text_normalize)
    val norm = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        normText(col("text")).as("norm_text"))
    // 2. exact dedup on normalized content: canonical (min doc_id) wins
    val wDedup = Window.partitionBy(md5(col("norm_text"))).orderBy(col("doc_id"))
    val canon = norm.withColumn("rn", row_number().over(wDedup))
      .where(col("rn") === 1).drop("rn")
      .withColumn("toks", tokens(col("norm_text")))
    // 3. quality gate: enough tokens to be trainable. Materialized —
    //    both the decontamination-window path and the survivor path
    //    read this frame.
    val quality = canon.where(size(col("toks")) >= minTokens)
      .cut
    // 4. decontamination: drop eval docs AND any corpus doc sharing a
    //    4-token window with one (broadcast — eval sets are bounded)
    val wins = quality.select(col("doc_id"),
      explode(shingleHashes(col("toks"), 4)).as("w"))
    val benchWins = wins.where(col("doc_id") % 50 === 0)
      .select(col("w")).distinct()
    val contaminated = wins.where(col("doc_id") % 50 =!= 0)
      .join(broadcast(benchWins), "w")
      .select(col("doc_id")).distinct()
    val clean = quality.where(col("doc_id") % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 5. stratified sample (same per-language rates as sample_stratified)
    val bucket = consistentHash(col("doc_id")) % lit(1000L)
    val rate = Sampling.stratifiedRatesPm.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (lang, pm)) =>
        when(col("lang") === lang, lit(pm)).otherwise(acc)
      }
    val sampled = clean.where(bucket < rate)
    // 6. pack: per-source running token offsets + capacity bins
    val wPack = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    sampled
      .select(col("doc_id"), col("source"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(wPack), lit(0L)))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("tok_start"),
        (col("tok_start") / capacity).cast("long").as("bin_start"),
        ((col("tok_start") + col("n_tokens") - 1) / capacity).cast("long").as("bin_end"))
      .orderBy(col("doc_id"))
  }

  /** §2#183 the CURATION FUNNEL report — the "where did my corpus go"
    * dashboard every curation run publishes: document counts through
    * raw → Gopher-rules quality filter (§2#145) → near-dup canonical
    * keep (§2#182), with per-stage drop counts. Stage 3 is the
    * CONJUNCTION of the two keep sets: quality survivors that are
    * also their cluster's GLOBAL canonical. Composition order matters
    * and this is the conservative reading — a cluster whose
    * best-quality member fails the filter contributes nothing (re-
    * electing a canonical among survivors is the other pipeline
    * choice; the report makes the difference visible instead of
    * hiding it, which is the point of a funnel).
    *
    * Shape: each stage is one count over already-scan-speed frames
    * (the Gopher verdict is a projection; the canonical list reuses
    * the memoized candidate graph); the 3-row union + the lag window
    * that turns counts into drops is driver-trivial. */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val raw = Tables.documents(spark, sfDir).select(col("doc_id"))
    // MATERIALIZE the battery BEFORE filtering (production writes the
    // verdict table anyway). Filtering the lazy frame would push
    // `keep = 1` through the Gopher projection and collapse the whole
    // signal battery into one CASE filter that re-splits the text once
    // per signal REFERENCE (~20× per row — HOF lambdas block codegen
    // subexpression reuse), and the union's two consumers would pay it
    // twice: measured 18.5 s → ~1 s at sf0.1 from this one seam.
    val keepQ = TextAnalysis.gopherRules(spark, sfDir)
      .cut
      .where(col("keep") === 1L).select(col("doc_id"))
    val canon = Dedup.canonical(spark, sfDir)
      .select(col("canonical_doc_id").as("doc_id"))
    def stage(idx: Long, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"))
    val stages = stage(1L, "raw", raw)
      .unionByName(stage(2L, "quality_filter", keepQ))
      .unionByName(stage(3L, "dedup_canonical", keepQ.join(canon, "doc_id")))
    val w = Window.orderBy(col("stage_idx"))
    stages
      .withColumn("n_dropped_from_prev",
        coalesce(lag(col("n_docs"), 1).over(w) - col("n_docs"), lit(0L)))
      .orderBy(col("stage_idx"))
  }
}
