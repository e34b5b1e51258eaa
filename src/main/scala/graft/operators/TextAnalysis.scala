package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Checkpoints, SessionMemo, Tables}
import graft.Checkpoints.CutOps
import graft.functions.Fns._

/** Text analysis for training-data pipelines (§2.6). All narrow per-row
  * transforms over built-in/higher-order functions — no UDFs, no
  * shuffles except final ORDER BY. */
object TextAnalysis {

  private val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Tiny per-language lexicons for the langid heuristic. */
  private val lexicons: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "fast", "slow", "small", "big"),
    "de" -> Seq("der", "die", "das", "und", "ist", "schnell", "klein"),
    "fr" -> Seq("le", "la", "et", "est", "vite", "petit", "grand"),
    "es" -> Seq("el", "la", "y", "es", "rapido", "pequeno", "grande"),
    "zh" -> Seq("de", "shi", "he", "kuai", "xiao", "da"))

  /** §2#32 token counting: whitespace tokens, distinct tokens, and
    * BPE-ish regex tokens (letter runs / digit runs / single symbols). */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"), col("text"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).cast("long")
          .as("n_bpeish"))
      .orderBy(col("doc_id"))

  /** §2#33 quality scoring: length, punctuation ratio, stopword ratio,
    * unique-token ratio, and a composite quality score — all per-mille
    * BIGINTs. */
  def quality(spark: SparkSession, sfDir: String): DataFrame =
    // the total order is THIS query's output contract only — internal
    // consumers take qualityUnsorted, because the orderBy plans a
    // corpus-sized range exchange that an aggregate/join consumer
    // pays for nothing (the r14 shuffle-byte gate caught
    // sample_curriculum moving 9.4x bytes at 10x through exactly
    // this sort; EliminateSorts does not fire under the agg)
    qualityUnsorted(spark, sfDir).orderBy(col("doc_id"))

  /** [[quality]] without the output ordering — the form every
    * downstream aggregate/join consumes. */
  def qualityUnsorted(spark: SparkSession, sfDir: String): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        scaled(size(regexp_extract_all(col("text"), lit("[^a-z0-9\\s]"), lit(0))) *
          lit(1.0) / greatest(length(col("text")), lit(1)), 1000L).as("punct_pm"),
        scaled(size(filter(col("toks"), t => array_contains(stopArr, t))) *
          lit(1.0) / greatest(size(col("toks")), lit(1)), 1000L).as("stopword_pm"),
        scaled(size(array_distinct(col("toks"))) * lit(1.0) /
          greatest(size(col("toks")), lit(1)), 1000L).as("uniq_pm"))
      .withColumn("quality_pm",
        greatest(least(
          col("stopword_pm") + col("uniq_pm") - col("punct_pm"), lit(1000L)), lit(0L)))
  }

  /** §2#34 language ID: stopword-overlap score against 5 tiny lexicons,
    * argmax wins (ties broken by language code). */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        tokens(col("text")).as("toks"))
    val scoreCols: Seq[Column] = lexicons.toSeq.sortBy(_._1).map {
      case (langCode, lex) =>
        val lexArr = array(lex.map(lit): _*)
        struct(
          (size(filter(col("toks"), t => array_contains(lexArr, t))) * lit(1000) /
            greatest(size(col("toks")), lit(1))).cast("long").as("score_pm"),
          lit(langCode).as("lang"))
    }
    // argmax by (score, lang desc) via array_max over (score, lang) structs
    base.withColumn("best", array_max(array(scoreCols: _*)))
      .select(col("doc_id"), col("labeled_lang"),
        col("best.lang").as("predicted_lang"),
        col("best.score_pm").as("score_pm"))
      .orderBy(col("doc_id"))
  }

  /** §2#192 LANG-ID CONFUSION MATRIX — the evaluation table every
    * classifier gate ships with: per (labeled, predicted) language
    * pair, document count and its per-mille share of the label's row
    * (the diagonal is per-class recall; off-diagonal cells say WHICH
    * confusions happen, which is what you tune lexicons by). Shape:
    * the narrow langId scan → one |langs|²-bounded aggregate → a
    * window over those ≤ |langs|² rows for the row shares — the corpus
    * is read once, everything after is constant-size. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(spark, sfDir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_pm",
        expr("n_docs * 1000 div " +
          "sum(n_docs) OVER (PARTITION BY labeled_lang)"))
      .select(col("labeled_lang"), col("predicted_lang"), col("n_docs"),
        col("share_pm"))
      .orderBy(col("labeled_lang"), col("predicted_lang"))
  }

  /** §2#54 text normalization: lowercase, collapse whitespace runs,
    * strip non-alphanumerics — the canonical pre-dedup cleanup pass. */
  def normalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"),
        normText(col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).cast("long").as("n_chars_norm"))
      .orderBy(col("doc_id"))

  /** §2#55 PII scrubbing: redact email-/phone-shaped spans before
    * training (regex passes; the patterns are the industry-standard
    * first line of defense, not a complete PII system). */
  def scrubPii(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"),
            "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
          "\\+?[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>").as("scrubbed"))
      .select(col("doc_id"), col("scrubbed"),
        (length(col("scrubbed")) - length(regexp_replace(col("scrubbed"), "<EMAIL>|<PHONE>", "")))
          .cast("long").as("redacted_chars"))
      .orderBy(col("doc_id"))

  /** §2#66 benchmark decontamination: flag corpus documents sharing any
    * word n-gram with the benchmark/eval set (here: every 50th doc
    * stands in for the held-out benchmark). THE pre-training hygiene
    * pass — a train doc containing eval n-grams inflates benchmark
    * scores.
    *
    * Scale: the benchmark side is bounded by construction (eval sets
    * are hand-curated, ~1e3–1e6 n-grams), hence the explicit
    * `broadcast` — the corpus side streams through a map-side hash
    * semi-join with NO shuffle of corpus data; the only shuffle is the
    * final per-doc count on (doc_id). Matching is on xxhash64 window
    * hashes (collision odds ~2^-64), not materialized n-gram strings. */
  def decontaminate(spark: SparkSession, sfDir: String, n: Int = 4): DataFrame = {
    val sh = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"),
        explode(shingleHashes(tokens(col("text")), n)).as("sh"))
    val bench = sh.where(col("doc_id") % 50 === 0).select(col("sh")).distinct()
    sh.where(col("doc_id") % 50 =!= 0)
      .join(broadcast(bench), "sh")
      // per-doc shingles are already distinct → count(*) = distinct hits
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** §2#206 GRADED contamination — [[decontaminate]] reports WHO is
    * contaminated; this reports HOW MUCH, for every corpus doc: window
    * count, benchmark-overlapping windows, and the overlap rate in
    * per-mille. The graded signal is what threshold debates are
    * actually about (one shared window in a 10k-window doc is a quote;
    * 400‰ is a copy) — the binary filter is this query with a cut at
    * overlap_pm > 0. Same broadcast-bounded semi-join shape as #66;
    * the left join keeps the zero-overlap majority in the report. */
  def contaminationRate(spark: SparkSession, sfDir: String, n: Int = 4): DataFrame = {
    val sh = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"),
        explode(shingleHashes(tokens(col("text")), n)).as("sh"))
    val bench = sh.where(col("doc_id") % 50 === 0).select(col("sh")).distinct()
    val hits = sh.where(col("doc_id") % 50 =!= 0)
      .join(broadcast(bench), "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    sh.where(col("doc_id") % 50 =!= 0)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("coalesce(n_hits, 0) * 1000 div n_windows").as("overlap_pm"))
      .orderBy(col("doc_id"))
  }

  /** §2#67 repetition detection (the Gopher-style boilerplate filter):
    * duplicate-trigram fraction (catches looping/boilerplate text) and
    * top-token frequency (catches single-token spam), per-mille. The
    * trigram side is a narrow per-row HOF pass (window hashes WITH
    * duplicates vs their distinct count); the top-token side is one
    * map-side-combined count on (doc_id, tok) then a max per doc. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // 3-token window hashes, duplicates KEPT (shingleHashes dedups)
    val wins = transform(
      sequence(lit(1), greatest(size(col("toks")) - lit(2), lit(1))),
      i => xxhash64((0 until 3).map(j => try_element_at(col("toks"), i + lit(j))): _*))
    val tri = base.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(wins).cast("long").as("total_3g"),
      size(array_distinct(wins)).cast("long").as("distinct_3g"))
    val topTok = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_tok_n"))
    tri.join(topTok, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        floor((col("total_3g") - col("distinct_3g")) * lit(1000.0) / col("total_3g"))
          .cast("long").as("dup_3gram_pm"),
        floor(col("top_tok_n") * lit(1000.0) / greatest(col("n_tokens"), lit(1)))
          .cast("long").as("top_tok_pm"))
      .orderBy(col("doc_id"))
  }

  /** §2#74 corpus vocabulary: global token frequencies, top 50 — the
    * tokenizer-training / vocab-pruning input. Explode is narrow; the
    * count is ONE map-side-combined aggregate on the token (partial
    * counts per partition, |vocab| rows shuffle — not |corpus tokens|),
    * and the top-k is TakeOrderedAndProject (per-partition heaps, no
    * global sort). Ties at the cutoff break by token, so the top-50 set
    * is deterministic. */
  def vocab(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(k)

  /** §2#99 token-rarity scoring — the integer-exact stand-in for the
    * unigram-LM perplexity filter every corpus pipeline runs (docs full
    * of corpus-rare tokens ≈ high negative log-prob ≈ gibberish/OCR
    * noise candidates; docs of only stock tokens ≈ boilerplate). Each
    * distinct doc token scores `1e6 div df` (monotone-inverse document
    * frequency, no float log); the doc reports sum and mean. Two
    * aggregates + one join on tok; the df side is vocab-sized so AQE
    * broadcasts it — the corpus never shuffles twice. */
  def rarity(spark: SparkSession, sfDir: String): DataFrame =
    rarityOf(Tables.documentsPar(spark, sfDir))

  /** [[rarity]] over any (doc_id, text) frame. */
  def rarityOf(docs: DataFrame): DataFrame = {
    val dtok = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .where(col("tok") =!= "")
      .distinct()
    val df = dtok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    dtok.join(df, "tok")
      .withColumn("rar", expr("1000000 div df"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("rar")).as("rarity_sum"))
      .withColumn("rarity_mean", expr("rarity_sum div n_distinct"))
      .orderBy(col("doc_id"))
  }

  /** §2#225 N-GRAM NOVELTY — the curation-order complement of the
    * dedup family: per document, the share of its distinct 3-shingles
    * that are FIRST SEEN in this document (no doc with a smaller
    * doc_id carries the shingle). A corpus sorted by acquisition order
    * reads this as a novelty curve — late crawls full of already-seen
    * n-grams contribute little new text and are downweight candidates
    * (the aggregate view of what `text_chunk_dedup` flags span-by-span
    * and `dedup_incremental` decides doc-by-doc).
    *
    * Shape: 60-bit md5 window hashes (the replayable family — longs on
    * the shuffle, never shingle strings), one explode, one
    * map-side-combinable min(doc_id) per shingle to |distinct
    * shingles| rows, join back on the hash, one per-doc count agg.
    * min-attribution makes ties (two docs, same shingle) land on the
    * smaller doc_id — deterministic under any partitioning. 60-bit
    * space keeps collision odds ~n²/2⁶¹ (negligible at 10⁹ shingles,
    * vs the 31-bit variant that saturates at corpus scale); the oracle
    * recomputes the identical hashes, so the gate is bit-exact. */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame =
    ngramNoveltyOf(Tables.documentsPar(spark, sfDir))

  /** [[ngramNovelty]] over any (doc_id, text) frame. */
  def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    val ex = docs
      .select(col("doc_id"),
        explode(array_distinct(shingleMd5HashesOrdered(
          tokens(col("text")), 3))).as("sh"))
    val first = ex.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
    ex.join(first, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_pm", expr("1000 * n_novel div n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** §2#100 chunk-level duplication stats — the practical form of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): cut every document into
    * fixed 20-token chunks, hash each chunk, and report per document
    * how many of its chunks also occur in OTHER documents (near-
    * verbatim span leakage that document-level hashing misses). The
    * per-doc duplicated-chunk per-mille is the downweight/drop signal.
    *
    * Scale: chunking is a narrow codegen'd transform; the shuffle
    * carries (chunk_hash, doc_id) only — never chunk text; the
    * docs-per-chunk aggregate is map-side combinable and its result is
    * |distinct chunks| rows joined back by hash. */
  def chunkDedup(spark: SparkSession, sfDir: String, chunkTokens: Int = 20): DataFrame =
    chunkDedupOf(Tables.documentsPar(spark, sfDir), chunkTokens)

  /** [[chunkDedup]] over any (doc_id, text) frame. */
  def chunkDedupOf(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1L, greatest(size(toks) div $chunkTokens, 1L)),
           |  i -> md5(array_join(slice(toks, CAST((i-1)*$chunkTokens+1 AS INT), $chunkTokens), ' ')))"""
          .stripMargin)).as("h"))
    val docsPerChunk = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    chunks.join(docsPerChunk, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_pm", expr("n_dup_chunks * 1000 div n_chunks"))
      .orderBy(col("doc_id"))
  }

  /** §2#75 salient terms: top-3 terms per document by a tf-idf-style
    * score kept in INTEGER arithmetic (tf·1e6 div df) so the ranking is
    * bit-identical across engines — float idf (ln N/df) can flip
    * near-equal ranks by one ulp. df is monotone-inverse in the score,
    * which preserves the tf-idf ordering for fixed tf. Two aggregates
    * (tf on (doc,tok), df on tok) + one join on tok; the df side is
    * |vocab|-sized, so AQE broadcasts it and the corpus-side tf table
    * never reshuffles for the join. */
  def salientTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .where(col("tok") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // df DERIVED from tf: tf holds exactly one row per (doc, tok), so
    // counting tf rows per tok IS the document frequency. Measured r17:
    // this plans PHYSICALLY IDENTICALLY to the old distinct()+groupBy
    // (Catalyst prunes the unused count and the old distinct was the
    // same two-level aggregate), and a .cut on tf to share the explode
    // was measured SLOWER (1.80 s vs 1.37 s isolated — materializing
    // 600k (doc,tok,tf) rows costs more than re-running the codegen'd
    // tokenize+explode over columnar blocks). Kept lazy on purpose.
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** §2#123 BPE merge-pair counting (Sennrich et al. 2016,
    * arXiv:1508.07909) — ONE iteration of byte-pair-encoding tokenizer
    * training: count adjacent symbol-pair frequencies across the corpus
    * and surface the top merge candidates. Symbols here are characters
    * of whitespace tokens (the first BPE round); each later round is
    * this same shape over re-segmented symbols.
    *
    * Scale: the pair explode is a narrow per-row transform; the count
    * is map-side combinable on the pair key, so the shuffle carries
    * |distinct pairs| rows (≤ alphabet², tiny), never corpus tokens;
    * the top-k is TakeOrderedAndProject (no global sort). This is why
    * distributed BPE training is cheap per merge: the corpus-sized work
    * is embarrassingly parallel and the reducer state is alphabet-
    * bounded. */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(explode(tokens(col("text"))).as("tok"))
      .where(length(col("tok")) >= 2)
      .select(col("tok"),
        explode(sequence(lit(1), length(col("tok")) - 1)).as("i"))
      .select(expr("substr(tok, i, 2)").as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** §2#128 bigram-LM coherence scoring — the two-gram step of the
    * n-gram-LM perplexity quality filter (the CCNet/Gopher recipe, in
    * integers): per bigram instance the corpus conditional frequency
    * `P(w2|w1) ≈ c(w1 w2)/c(w1)` in ppm (`1e6·c2 div c1` — positive
    * operands, so div==floor in every engine), per doc the mean over
    * its bigram instances. Word-salad and boilerplate-shuffled docs
    * score low (their bigrams are corpus-rare given their unigrams);
    * natural prose scores high. Complements [[rarity]], which is the
    * unigram (order-blind) form.
    *
    * Shape: bigram construction is a NARROW `zip_with` over the token
    * array (no self-join, no window shuffle); the two count tables are
    * map-side-combinable and vocab-/bigram-vocab-sized, so AQE
    * broadcasts them here and shuffle-joins at 100 TB; the per-doc mean
    * is one more combinable agg. Nothing ever shuffles corpus text. */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame =
    bigramLmFrom(Tables.documentsPar(spark, sfDir))

  /** Core of [[bigramLm]] over any `(doc_id, text)` frame.
    *
    * r17 note (guide §1.1 — measured, NOT kept): a restructure to the
    * compressed (doc_id, bg, k) grain (derive `big` as Σk from it, w1
    * recovered from the bigram string, per-doc mean re-summed as
    * k·score) was same-window A/B'd at 1.85/1.68 s vs 1.53/1.66 s for
    * this form — the hoped-for ReuseExchange on the (doc_id, bg)
    * aggregate never fired (the two consumer subtrees stay distinct),
    * so the compressed form paid the SAME two bigram passes PLUS an
    * extra corpus-grain shuffle. The instance-level joins below stay
    * broadcast (vocab-/bigram-vocab-sized builds), so this shape is
    * the cheaper one until a persisted bigram table exists. */
  def bigramLmFrom(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val pairs = base.where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1)," +
          " (x, y) -> struct(x AS w1, concat(x, ' ', y) AS bg))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val uni = base.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val big = pairs.groupBy(col("bg")).agg(count(lit(1)).as("n2"))
    pairs.join(big, "bg").join(uni, "w1")
      .select(col("doc_id"), expr("1000000 * n2 div n1").as("score"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("score")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s div n_bigrams").as("coherence_ppm"))
      .orderBy(col("doc_id"))
  }

  /** §2#35 rolling-hash document fingerprint (order-sensitive — unlike
    * a bag-of-words hash, catches reorderings). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"),
        rollingFingerprint(tokens(col("text"))).as("fingerprint"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))

  /** §2#145 Gopher-rules document filter (Rae et al. 2021, Appendix A
    * — the published rule battery web-crawl curation starts from),
    * composed from this suite's integer signals into one keep/drop
    * verdict with the FIRST failing rule named (the operator-facing
    * output: "why did my corpus shrink"):
    *
    *   1. word_count        — 50 ≤ n_tokens ≤ 100000
    *   2. mean_word_length  — mean token length in [3, 10] chars
    *                          (per-mille of chars/token: [3000, 10000])
    *   3. alpha_words       — ≥ 80% of tokens contain a letter
    *   4. stop_words        — ≥ 2 stopword OCCURRENCES in the doc
    *   5. repetition        — duplicate-3-gram per-mille ≤ 300
    *
    * Shape: every signal is a narrow higher-order-function pass over
    * the token array (no explode, no join, no shuffle — the whole
    * verdict is one codegen'd projection), so at 100 TB the filter
    * runs at scan speed and its selectivity feeds partition pruning of
    * whatever materializes `keep = 1`. */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherRulesFrom(Tables.documentsPar(spark, sfDir))

  /** Core of [[gopherRules]] over any `(doc_id, text)` frame. */
  def gopherRulesFrom(docs: DataFrame): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // duplicate-3-gram windows, duplicates KEPT (same construction as
    // text_repetition, so the two ops agree on the signal)
    val wins = transform(
      sequence(lit(1), greatest(size(col("toks")) - lit(2), lit(1))),
      i => xxhash64((0 until 3).map(j => try_element_at(col("toks"), i + lit(j))): _*))
    val m = base.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      floor(aggregate(col("toks"), lit(0L), (a, t) => a + length(t)) *
        lit(1000.0) / greatest(size(col("toks")), lit(1)))
        .cast("long").as("mean_word_len_pm"),
      floor(size(filter(col("toks"), t => t.rlike("[a-zA-Z]"))) * lit(1000.0) /
        greatest(size(col("toks")), lit(1))).cast("long").as("alpha_pm"),
      size(filter(col("toks"), t => array_contains(stopArr, t)))
        .cast("long").as("n_stop"),
      floor((size(wins) - size(array_distinct(wins))) * lit(1000.0) /
        size(wins)).cast("long").as("dup_3gram_pm"))
    m.select(col("doc_id"), col("n_tokens"), col("mean_word_len_pm"),
        col("alpha_pm"), col("n_stop"), col("dup_3gram_pm"),
        when(col("n_tokens") < 50L || col("n_tokens") > 100000L,
          lit("word_count"))
          .when(col("mean_word_len_pm") < 3000L ||
            col("mean_word_len_pm") > 10000L, lit("mean_word_length"))
          .when(col("alpha_pm") < 800L, lit("alpha_words"))
          .when(col("n_stop") < 2L, lit("stop_words"))
          .when(col("dup_3gram_pm") > 300L, lit("repetition"))
          .otherwise(lit("")).as("first_fail"))
      .withColumn("keep",
        when(col("first_fail") === "", lit(1L)).otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** §2#214 DUPLICATED-SUBSTRING SPAN DETECTION — the corpus-wide
    * repeated-span pass of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", ExactSubstr): every length-w
    * token window that occurs ≥ 2 times ANYWHERE in the corpus
    * (including inside the same document) marks its span duplicated;
    * per document, report how many windows and how many TOKENS sit in
    * duplicated spans (overlapping windows union via interval
    * merging, not double-counted). This is the span-level complement
    * of doc-level dedup: boilerplate headers, license blocks, and
    * templated paragraphs light up here even when no whole document
    * duplicates.
    *
    * Shape: per-token md5-60bit hashes once per doc, then length-w
    * polynomial window hashes (integer mod 2^31 — identical math in
    * the DuckDB oracle; the published suffix-array formulation is
    * sequential, the fixed-w rolling-hash formulation is its
    * distributed equivalent). One explode to |corpus|·w-window rows of
    * LONGS (never strings), one map-side-combinable occurrence count,
    * one doc-keyed window for the interval union. 2^31 hash space
    * means ~1-in-2^31 window-pair collisions — deterministic and
    * engine-identical, documented rather than hidden. */
  def substringDedup(spark: SparkSession, sfDir: String, w: Int = 8): DataFrame =
    substringDedupOf(Tables.documentsPar(spark, sfDir), w)

  /** Shared stage of [[substringDedupOf]]/[[substringScrubOf]]:
    * (doc_id, toks, n, whs) with the length-w polynomial window
    * hashes, checkpointed once — the occurrence count and the
    * doc-side join both read it. */
  private def windowHashFrame(docs: DataFrame, w: Int): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens: $w")
    val m = 1L << 31
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("hs", expr(
        s"transform(toks, t -> pmod(CAST(conv(substring(md5(t),1,15),16,10) AS BIGINT), ${m}L))"))
      .withColumn("whs", expr(
        s"""CASE WHEN n >= $w THEN
           |  transform(sequence(1L, n - ${w - 1}L),
           |    i -> aggregate(slice(hs, CAST(i AS INT), $w), 0L,
           |      (a, h) -> pmod(a * 1000003L + h, ${m}L)))
           |ELSE array() END""".stripMargin))
      .select(col("doc_id"), col("toks"), col("n"), col("whs"))
      .cut
  }

  /** 0-based window starts of corpus-duplicated windows, per doc. */
  private def dupWindows(base: DataFrame): DataFrame = {
    val win = base
      .select(col("doc_id"), posexplode(col("whs")).as(Seq("p", "wh")))
    val dup = win.groupBy(col("wh")).agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2L).select(col("wh"))
    win.join(dup, "wh").select(col("doc_id"), col("p"))
  }

  /** [[substringDedup]] over any (doc_id, text) frame. */
  def substringDedupOf(docs: DataFrame, w: Int): DataFrame = {
    val base = windowHashFrame(docs, w)
    val dw = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val contrib = dupWindows(base)
      .withColumn("contrib",
        least(lit(w.toLong),
          coalesce(lead(col("p"), 1).over(dw) - col("p"), lit(w.toLong))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("contrib")).as("dup_tokens"))
    base.select(col("doc_id"), col("n"))
      .join(contrib, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_pm", expr("dup_tokens * 1000 div greatest(n_tokens, 1)"))
      .orderBy(col("doc_id"))
  }

  /** §2#215 DUPLICATED-SPAN SCRUB — the REMOVAL half of the Lee et al.
    * recipe ([[substringDedup]] detects; this emits the cleaned
    * corpus): tokens under any corpus-duplicated length-w window are
    * dropped, the survivors re-join into the scrubbed text. Per-doc
    * dup starts collect into ONE bounded array (≤ n windows), then the
    * keep test is a codegen'd indexed filter — token i survives iff no
    * dup window covers it. Same hash machinery, same oracle math. */
  def substringScrub(spark: SparkSession, sfDir: String, w: Int = 8): DataFrame =
    substringScrubOf(Tables.documentsPar(spark, sfDir), w)

  /** [[substringScrub]] over any (doc_id, text) frame. */
  def substringScrubOf(docs: DataFrame, w: Int): DataFrame = {
    val base = windowHashFrame(docs, w)
    val starts = dupWindows(base)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("p"))).as("starts"))
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        s"""CASE WHEN starts IS NULL THEN toks ELSE
           |  filter(toks, (x, i) ->
           |    NOT exists(starts, s -> i >= s AND i <= s + ${w - 1}))
           |END""".stripMargin))
      .select(col("doc_id"), col("n").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("scrubbed_text"))
      .orderBy(col("doc_id"))
  }

  /** §2#210 HASHED-FEATURE LINEAR CLASSIFIER INFERENCE — the
    * fastText-style quality-classifier serving pass every curation
    * pipeline runs over its full corpus (the CCNet/LLaMA wiki-ref
    * filter shape): each token hashes into one of 2^15 feature
    * buckets, the bucket indexes a weight vector, and the document
    * score is the mean token weight; `keep` thresholds it. The weights
    * here are a deterministic hash of the bucket id — a stand-in for
    * trained weights, clearly marked as such: the graded artifact is
    * the INFERENCE shape (scan speed, zero shuffle, zero UDF, one
    * codegen'd fold per document; swapping in real weights means
    * broadcasting a 32k-entry array into the same fold).
    *
    * Integer end-to-end: weights live in [0, 2000] so the fold stays
    * nonnegative (integer floor ≡ truncation on both engines) and the
    * final −1000 recenters scores to [−1000, 1000] per-mille — which
    * is what makes the op DuckDB-hash-gated rather than rows-only. */
  def classifierScore(spark: SparkSession, sfDir: String): DataFrame = {
    // w(t) ∈ [0,2000]: md5-60bit → bucket (2^15) → Knuth-multiplied,
    // double-modded to break bucket-order correlation
    def w(t: Column): Column =
      pmod(pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
        lit(32768L)) * lit(2654435761L), lit(1000003L)) % lit(2001L)
    Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + w(t)).as("sum_w"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("sum_w div greatest(n_tokens, 1)") - lit(1000L)).as("score_pm"))
      .withColumn("keep", when(col("score_pm") >= 0L, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** §2#166 COMPRESSION-RATIO quality signal: DEFLATE each document and
    * report compressed/raw per-mille. The published web-curation
    * heuristic (MassiveText/Gopher Rae et al. 2021 §A1.1 dedups on it;
    * RefinedWeb-style pipelines filter on it): boilerplate, templated
    * spam, and repeated-token degenerate text compress far below
    * natural prose, while already-compressed or random payloads sit
    * near (or above) 1000‰ — both tails get dropped.
    *
    * Shape: one narrow mapPartitions pass — the Deflater is allocated
    * ONCE per partition and `reset()` between documents (codec-init
    * amortization, the same batch shape as the multimodal decoders).
    * No shuffle except the final presentation ORDER BY; at 100 TB this
    * runs at scan speed like the rest of the filter battery. Level 6
    * (zlib default) — the ratio ordering, not the absolute byte count,
    * is the signal, so the level only needs to be fixed, not tuned. */
  def compressionRatio(spark: SparkSession, sfDir: String): DataFrame =
    compressionRatioOf(Tables.documentsPar(spark, sfDir))

  /** Core of [[compressionRatio]] over any `(doc_id, text)` frame. */
  def compressionRatioOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { iter =>
        val deflater = new java.util.zip.Deflater(6, /*nowrap=*/ true)
        // zlib state is NATIVE memory, reclaimed only on end() — on a
        // long-lived executor GC pressure alone won't release it in
        // time, so free it deterministically when the task finishes
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](8192)
        iter.map { case (docId, text) =>
          val raw = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(buf)
          (docId, raw.length.toLong, compressed)
        }
      }
      .toDF("doc_id", "raw_bytes", "deflate_bytes")
      .withColumn("ratio_pm",
        floor(col("deflate_bytes") * lit(1000.0) /
          greatest(col("raw_bytes"), lit(1L))).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Memoized (merge table, final vocab frame) per (session, sfDir,
    * merges) in a [[graft.SessionMemo]] — bpe_train and bpe_encode
    * share one trained state. Bench times the build as
    * "text_bpe_build". */
  private val bpeMemo =
    SessionMemo[(String, Int), (Seq[(Long, String, String, String, Long)], DataFrame)](
      "text_bpe") { case (spark, (sfDir, merges)) =>
      val (table, vocab) = bpeMergesOf(Tables.documentsPar(spark, sfDir), merges)
      (table, Checkpoints.cut(vocab))
    }

  /** Drop the trained-BPE memo, so the next consumer retrains. */
  def invalidateBpe(spark: SparkSession): Unit = bpeMemo.invalidate(spark)

  /** The k-round BPE merge loop over any (doc_id, text) frame — see
    * [[bpeTrain]] for semantics. Returns the merge table rows and the
    * final vocab frame (tok, n, s) with s the double-spaced symbol
    * string after all merges.
    *
    * `cutEvery`: the per-round `replace` columns chain — Catalyst
    * collapses the projections into ONE expression nested k deep, so
    * at real merge counts (k = 32k..100k in published tokenizers) the
    * un-cut plan is a codegen/analysis hazard long before it is a
    * compute one. Every `cutEvery` rounds the vocab frame is
    * materialized through [[graft.Checkpoints.cut]] (reliable or
    * local per the session conf), resetting expression depth to 1.
    * BpeProps pins k=64 ≡ the direct greedy trainer, so the cut is
    * provably value-neutral. */
  private[operators] def bpeMergesOf(docs: DataFrame, merges: Int,
      cutEvery: Int = 8)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val vocab = Checkpoints.cut(docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      // "  a  b  c  ": every symbol boundary (incl. both edges) carries
      // TWO spaces, so a merge pattern " x  y " consumes only the inner
      // space of each boundary and adjacent occurrences still match —
      // single literal replace per round = exact greedy left-to-right
      .withColumn("s",
        concat(lit("  "), regexp_replace(col("tok"), "(.)", "$1  "))))
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var cur = vocab
    var r = 1
    var done = false
    while (r <= merges && !done) {
      val sy = split(trim(col("s")), "  ")
      val prs = filter(
        zip_with(sy, slice(sy, lit(2), size(sy)),
          (a, b) => struct(a.as("x"), b.as("y"))),
        p => p.getField("y").isNotNull)
      // ONE row reaches the driver per round (the argmax pair) — the
      // bounded-collect class; the count itself is map-side combinable
      // on |distinct pairs| keys, never corpus-sized
      val top = cur.select(col("n"), explode(prs).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val x = top(0).getString(0); val y = top(0).getString(1)
        out += ((r.toLong, x, y, x + y, top(0).getLong(2)))
        cur = cur.withColumn("s",
          replace(col("s"),
            lit(" " + x + "  " + y + " "), lit(" " + x + y + " ")))
        if (r % cutEvery == 0) cur = Checkpoints.cut(cur)
        r += 1
      }
    }
    (out.result(), cur)
  }

  private def bpeMerges(spark: SparkSession, sfDir: String, merges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) =
    bpeMemo(spark, (sfDir, merges))

  /** §2#216 BPE TOKENIZER TRAINING (Sennrich et al. 2016,
    * arXiv:1508.07909) — k full merge rounds, extending #123's single
    * pair-count iteration into the actual trainer: per round, count
    * adjacent-symbol pairs across the corpus WEIGHTED by word
    * frequency (training runs over the |vocab|-sized word-count
    * table, the published recipe — the corpus is scanned ONCE), pick
    * the most frequent pair under the total order (count desc, left
    * asc, right asc), and merge every greedy left-to-right occurrence
    * corpus-wide via ONE literal `replace` over the double-spaced
    * symbol encoding (see [[bpeMergesOf]]).
    *
    * Replayable end-to-end: the DuckDB oracle runs the same k rounds
    * as unrolled MATERIALIZED CTEs with the same literal replace —
    * strings and integer counts only, hash-gated. At 100 TB: vocab is
    * ~10^8 rows (Heaps' law); each round is a map-side-combinable
    * pair count (shuffle carries |distinct pairs| rows) plus a narrow
    * replace; the driver holds one row per round. */
  def bpeTrain(spark: SparkSession, sfDir: String, merges: Int = 8)
      : DataFrame = {
    import spark.implicits._
    bpeMerges(spark, sfDir, merges)._1
      .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("round"))
  }

  /** §2#217 BPE ENCODING under the trained merges — the tokenizer-
    * fertility table (symbols per character) a tokenizer rollout is
    * judged by: per document, whitespace-token count, character mass,
    * symbol count after #216's k merges, and symbols-per-1000-chars
    * (templated/repetitive docs compress far below prose — the same
    * curation axis as deflate #166, but under the ACTUAL tokenizer).
    * The per-word symbol table is vocab-sized; the join strategy is
    * deliberately LEFT TO STATS/AQE — at test sf the vocab is tiny and
    * AQE broadcasts it, but at 100 TB Heaps' law puts the vocab near
    * 10^8 rows, where a mandated broadcast is a driver/executor OOM
    * and the right plan is a shuffled hash join on `tok` (or the
    * exchange-free bucketed scan via [[persistBpe]]'s vocab table,
    * bucketed on `tok` exactly like the band table). The corpus side
    * is a narrow explode + hash-agg per doc either way. Integer
    * division end-to-end (`div` ↔ DuckDB `//`). */
  def bpeEncode(spark: SparkSession, sfDir: String, merges: Int = 8)
      : DataFrame =
    bpeEncodeWith(Tables.documentsPar(spark, sfDir),
      bpeMerges(spark, sfDir, merges)._2)

  /** Spec seam: encode `docs` under a fresh (unmemoized) training run
    * over the same frame. */
  private[operators] def bpeEncodeOf(docs: DataFrame, merges: Int): DataFrame =
    bpeEncodeWith(docs, bpeMergesOf(docs, merges)._2)

  private def bpeEncodeWith(docs: DataFrame, trained: DataFrame): DataFrame = {
    val vocabSyms = trained
      .select(col("tok"),
        size(split(trim(col("s")), "  ")).cast("long").as("n_syms_tok"),
        length(col("tok")).cast("long").as("n_chars_tok"))
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .join(vocabSyms, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_chars_tok")).as("n_chars"),
        sum(col("n_syms_tok")).as("n_syms"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("n_syms"),
        expr("n_syms * 1000 div greatest(n_chars, 1)").as("syms_per_kchar"))
      .orderBy(col("doc_id"))
  }

  /** Plant-id offset for [[decontaminateFuzzy]]: the smallest multiple
    * of 50 past max(doc_id), DERIVED from the corpus rather than a
    * constant — a fixed offset collides with real ids the moment the
    * corpus id space grows past it (the 10× corpus remaps copies to
    * +10⁸ ranges; 100 TB ids are arbitrary), silently splitting the
    * engine's structural bench/plant split from the oracle's id-range
    * one. One single-column scan + a 1-row agg (the bounded-collect
    * class); multiple-of-50 keeps the oracle's `≥ off ⇒ plant` test
    * exact alongside the `% 50` bench test. */
  def plantOffset(docs: DataFrame): Long = {
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    (mx / 50 + 1) * 50
  }

  /** §2#220 FUZZY benchmark decontamination — the paraphrase-robust
    * complement of #66 (exact window-hash matching misses a benchmark
    * doc lightly rewritten into the crawl; near-dup contamination is
    * the documented leak class behind inflated eval scores): MinHash
    * signatures over 3-shingles for BOTH sides, the benchmark side's
    * band table BROADCAST (eval sets are hand-curated and bounded —
    * #66's scale argument, unchanged), corpus docs probe it on
    * (band, bandhash), and collisions are verified by signature
    * agreement (est. Jaccard ≥ 0.7). Per flagged doc: how many
    * benchmark docs it matches, the best match and its similarity —
    * the triage table a decontamination rollout reviews.
    *
    * Guaranteed positives by construction: paraphrased benchmark
    * plants (last 3 words dropped) at ids shifted by the
    * corpus-derived [[plantOffset]]. Replayable md5+affine family
    * throughout ⇒ the DuckDB oracle recomputes signatures bit-for-bit
    * and the query is hash-gated like the #26 family. Scale shape:
    * ONE narrow per-doc signature projection over both sides
    * ([[Dedup.minhashSigs]], no shuffle), ONE broadcast probe (no
    * corpus shuffle before verification), verify join bounded by
    * collisions — never corpus×bench. */
  def decontaminateFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 96
    val base = Tables.documentsPar(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val off = plantOffset(base)
    val bench = base.where(col("doc_id") % 50 === 0)
    val plants = bench.select((col("doc_id") + off).as("doc_id"),
      slice(col("toks"), lit(1),
        greatest(size(col("toks")) - 3, lit(1))).as("toks"))
    val train = base.where(col("doc_id") % 50 =!= 0).unionByName(plants)

    // ONE signature pass + ONE checkpoint over bench ∪ train instead
    // of two sequential signature cuts (r17, guide §2.4): the doc-id
    // sets are disjoint (bench = originals ≡0 mod 50; train = the rest
    // plus plants at id+off, off a multiple of 50 and > every original
    // id), so the two tables split back out of the union losslessly.
    val allSigs = Dedup.minhashSigs(bench.unionByName(train), k)
    val bSigs = allSigs
      .where(col("doc_id") % 50 === 0 && col("doc_id") < off)
    val tSigs = allSigs
      .where(col("doc_id") % 50 =!= 0 || col("doc_id") >= off)
    val cand = Dedup.lshBands(tSigs)
      .join(broadcast(Dedup.lshBands(bSigs)
        .select(col("band"), col("bandhash"), col("doc_id").as("bench_doc"))),
        Seq("band", "bandhash"))
      .select(col("doc_id"), col("bench_doc")).distinct()
    val scored = cand
      .join(tSigs.select(col("doc_id"), col("sig")), "doc_id")
      .join(bSigs.select(col("doc_id").as("bench_doc"), col("sig").as("sig_b")),
        "bench_doc")
      .select(col("doc_id"), col("bench_doc"),
        // integer div (repo rule): matches the oracle's `// k` exactly
        // rather than relying on float division happening to floor
        expr(s"(size(filter(zip_with(sig, sig_b, (x, y) -> x = y), " +
          s"b -> b)) * 1000L) div $k").as("est_pm"))
      .where(col("est_pm") >= 700)
    scored
      .withColumn("best_pm", max(col("est_pm")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("est_pm")).as("best_est_pm"),
        min(when(col("est_pm") === col("best_pm"), col("bench_doc")))
          .as("best_bench_id"))
      .select(col("doc_id"), col("n_bench_matches"), col("best_bench_id"),
        col("best_est_pm"))
      .orderBy(col("doc_id"))
  }

  /** PERSIST the trained tokenizer — the build-once/query-many split
    * the ANN index ([[Similarity.persistIvfPqIndex]]), the pair graph
    * ([[Dedup.persistCandidates]]) and the band table
    * ([[Dedup.persistBandTable]]) already have; a real rollout ships
    * `merges` + `vocab` as artifacts, not a session memo. Two tables:
    *
    *   - `{name}_merges` (round, left_sym, right_sym, merged,
    *     pair_count) — tiny (k rows), the shippable merge list;
    *   - `{name}_vocab`  (tok, n, s) bucketed + sorted on `tok`, so a
    *     [[bpeEncodePersisted]] probe joins the corpus's exploded
    *     tokens against it with NO exchange on the vocab side — the
    *     10^8-row-vocab plan the broadcast mandate used to break.
    *
    * Strings and longs only, deterministic trainer ⇒ persisted ≡
    * inline EXACTLY (pinned by BpePersistSpec), unlike the float ANN
    * index where only floors are pinned. */
  def persistBpe(spark: SparkSession, sfDir: String, merges: Int = 8,
      name: String = "bpe", buckets: Int = 8): Unit = {
    import spark.implicits._
    val (table, vocab) = bpeMerges(spark, sfDir, merges)
    table.toDF("round", "left_sym", "right_sym", "merged", "pair_count")
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${name}_merges")
    vocab.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "tok").sortBy("tok")
      .saveAsTable(s"${name}_vocab")
  }

  /** Merge table read back from the [[persistBpe]] artifact. */
  def bpeTrainPersisted(spark: SparkSession, name: String = "bpe")
      : DataFrame =
    spark.table(s"${name}_merges").orderBy(col("round"))

  /** Encode under the PERSISTED vocab: the corpus side shuffles on
    * `tok` into the artifact's bucketing; the vocab side is a bucketed
    * scan — zero train cost, zero vocab exchange, any corpus size. */
  def bpeEncodePersisted(spark: SparkSession, sfDir: String,
      name: String = "bpe"): DataFrame =
    bpeEncodeWith(Tables.documentsPar(spark, sfDir),
      spark.table(s"${name}_vocab"))

  /** §2#221 bigram-LM perplexity scoring (exact-integer surprisal) —
    * the log-domain companion of [[bigramLm]]: #128 reports the
    * ARITHMETIC mean of conditional bigram probabilities, where one
    * stock bigram can mask many impossible ones; perplexity is the
    * GEOMETRIC mean — mean per-bigram surprisal −log₂P(w2|w1) — the
    * statistic the CCNet recipe (Wenzek et al. 2020) actually ranks
    * corpora by before keeping the low-perplexity tail. Done in EXACT
    * integers so the DuckDB oracle hash-gates it: with q = n1 div n2
    * (≥ 1 — every bigram occurrence is also a w1 occurrence) capped at
    * 2³¹−1, the surprisal in HALF-bits is floor(2·log₂ q) =
    * length(bin(q·q)) − 1 — binary-string length is the same exact
    * integer log in Spark and DuckDB, no float ln anywhere; the
    * per-doc mean in millibits is `500·Σ div n` (half-bit → millibit).
    * Low = stock prose under the corpus LM; high = word salad / OCR
    * noise / wrong-language text — the drop tail.
    *
    * Shape: identical to [[bigramLm]] — narrow zip_with bigram build
    * (no self-join, no window), two map-side-combinable count tables
    * (vocab-/bigram-vocab-sized: AQE broadcast here, shuffle join at
    * 100 TB), one combinable per-doc agg; the surprisal itself is a
    * codegen'd string-length projection. The 2³¹ cap keeps q² inside
    * BIGINT at any corpus size — surprisal saturates at 62 half-bits
    * (a 1-in-2³¹ bigram), far past any filter's decision boundary. */
  def perplexity(spark: SparkSession, sfDir: String): DataFrame =
    perplexityFrom(Tables.documentsPar(spark, sfDir))

  /** Core of [[perplexity]] over any `(doc_id, text)` frame. */
  def perplexityFrom(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val pairs = base.where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1)," +
          " (x, y) -> struct(x AS w1, concat(x, ' ', y) AS bg))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
    val uni = base.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val big = pairs.groupBy(col("bg")).agg(count(lit(1)).as("n2"))
    pairs.join(big, "bg").join(uni, "w1")
      .withColumn("q", expr("least(n1 div n2, 2147483647L)"))
      .select(col("doc_id"),
        (length(expr("bin(q * q)")) - 1).cast("long").as("hb"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("hb")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("500 * s div n_bigrams").as("ppl_millibits"))
      .orderBy(col("doc_id"))
  }

  /** §2#222 per-document token entropy (exact-integer plug-in
    * estimate) — the classic redundancy statistic quality pipelines
    * cut on (near-zero entropy = templated/generated boilerplate, a
    * failure mode [[quality]]'s uniq-token RATIO misses: a doc that is
    * 99% one token and 1% varied has a low ratio but the shape only
    * entropy sees; the Gopher repetition rules are special cases of
    * this distribution being degenerate). Plug-in entropy
    * Σ (cᵢ/n)·log₂(n/cᵢ) with the SAME floored-integer log as
    * [[perplexity]]: per token occurrence the surprisal in half-bits
    * is floor(2·log₂(n div cᵢ)) = length(bin(q²))−1, the doc reports
    * the occurrence-mean in millibits `500·Σcᵢ·hbᵢ div n` plus the
    * raw sizes. Uniform-all-distinct docs ≈ log₂n bits (millibits
    * ≈ 1000·log₂n), single-token docs = 0 — the drop tail.
    *
    * Shape: one map-side-combinable count on (doc_id, tok) — the only
    * corpus-sized shuffle, carrying ids not text — then a window sum
    * per doc_id over the ALREADY doc-clustered counts (no second
    * exchange: (doc_id, tok) hash-clustering does not co-locate
    * doc_ids, so Spark inserts one doc_id exchange for the window —
    * |distinct (doc,tok)| rows, the compacted form) and one
    * combinable final agg. No joins, no float math anywhere. */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame =
    tokenEntropyFrom(Tables.documentsPar(spark, sfDir))

  /** Core of [[tokenEntropy]] over any `(doc_id, text)` frame. */
  def tokenEntropyFrom(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id"))
    counts
      .withColumn("n", sum(col("c")).over(w))
      .withColumn("q", expr("least(n div c, 2147483647L)"))
      .select(col("doc_id"), col("c"), col("n"),
        (length(expr("bin(q * q)")) - 1).cast("long").as("hb"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(expr("c * hb")).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("500 * s div n_tokens").as("entropy_millibits"))
      .orderBy(col("doc_id"))
  }

  /** §2#232 CCNet perplexity buckets — the head/middle/tail split
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data"): per LANGUAGE, rank documents by
    * LM perplexity ([[perplexity]]'s exact-integer millibits) and cut
    * the corpus into terciles — bucket 1 ("head", most fluent) feeds
    * training as-is, 2 is kept under scrutiny, 3 is the drop tail.
    *
    * Tercile boundaries are VALUE-granular on purpose: all docs
    * sharing a (lang, ppl) value get the bucket of that value's first
    * ntile slot — 1 + (3·docs_strictly_below) div n_lang — so ties
    * never split across buckets and, critically, the ranking runs
    * over the (lang, ppl_millibits) COUNT table, which is BOUNDED
    * (ppl_millibits ∈ [0, 31000] by the 62-half-bit surprisal cap ⇒
    * ≤ 31001 rows per language) — never a per-language sort of the
    * corpus (the single-task window that dies at 100 TB; same design
    * as [[Sampling.sampleCurriculum]]'s value bands). Docs with < 2
    * tokens have no bigrams and are excluded, as in [[perplexity]].
    *
    * Shape: [[perplexityFrom]]'s plan + one combinable (lang, ppl)
    * count → bounded table, window over that table, broadcast join
    * back by (lang, ppl). */
  def pplBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Checkpoints.CutOps
    val docs = Tables.documentsPar(spark, sfDir)
    // .cut: the scored frame feeds BOTH the cut table and the final
    // join — without it the whole bigram-LM plan executes twice
    val ppl = perplexityFrom(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .cut
    val vt = ppl.groupBy(col("lang"), col("ppl_millibits"))
      .agg(count(lit(1)).as("nv"))
    val w = Window.partitionBy(col("lang")).orderBy(col("ppl_millibits"))
    val cuts = vt
      .withColumn("below", sum(col("nv")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("n_lang", sum(col("nv")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("ppl_millibits"),
        expr("1 + (3 * coalesce(below, 0L)) div n_lang").as("bucket"))
    ppl.join(broadcast(cuts), Seq("lang", "ppl_millibits"))
      .select(col("doc_id"), col("lang"), col("ppl_millibits"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** §2#243 ZIPF CONFORMANCE check — per source, the least-squares
    * slope of the log-log rank-frequency line (Zipf 1949: natural
    * text sits near slope −1; generated/templated feeds flatten
    * toward 0, keyword-stuffed spam steepens — the corpus-level
    * companion of the per-doc Gopher screens): ranks by (freq desc,
    * token) and both axes in EXACT half-bit logs (length(bin(v²))−1,
    * the #221 construct), so the regression is pure integer sums and
    * the slope is reported as its negation in per-mille —
    * `zipf_neg_slope_pm ≈ 1000` = Zipfian, ≪ 1000 = flat/templated.
    * (Negated before the division on purpose: BIGINT `div` truncates
    * toward zero in Spark but floors in DuckDB — negative numerators
    * are the one place the two disagree, so no hash-gated op may
    * divide one.)
    *
    * The fit runs over the HEAD of the ranking — the first
    * [[zipfRankCap]] = 2¹⁸ types per source. Statistically that is
    * where the Zipf line lives anyway (the singleton tail bends it
    * for every natural corpus), and arithmetically it is the BIGINT
    * safety bound: with n ≤ 2¹⁸ and half-bit logs ≤ 124, the worst
    * regression cross-term 1000·sx·sy stays ≲ 3·10¹⁷ ≪ 2⁶³, where an
    * uncapped 10⁷-type web source would overflow `1000·(sx·sy −
    * n·sxy)` under ANSI. The head cap bounds the RANK axis but not
    * the FREQUENCY axis — the kept rows are exactly the
    * highest-frequency tokens, and a single token with f > √2⁶³ ≈
    * 3.04·10⁹ occurrences in one source (routine at 100 TB) would
    * overflow the f² inside the half-bit log — so f is saturated at
    * 2³¹−1 before squaring (Spark and oracle identically, the #232
    * perplexity construct). The saturation point (half-bit log 62)
    * is ~15 half-bits above any slope-relevant resolution: a token
    * would need >2³¹ occurrences for the cap to shave its log, and a
    * source that hot is flagged flat by every earlier rank anyway.
    *
    * Shape: one combinable (source, token) count; ranking windows
    * run per source over VOCAB-sized partitions (Heaps' law keeps
    * |types| ≪ corpus; the window never sees raw tokens); one
    * combinable per-source agg of the five regression sums. */
  def zipfCheck(spark: SparkSession, sfDir: String): DataFrame =
    zipfCheckOf(Tables.documentsPar(spark, sfDir))

  /** Fit-head bound for [[zipfCheck]] — see the overflow argument. */
  val zipfRankCap = 262144L

  /** [[zipfCheck]] over any (source, text) frame. */
  def zipfCheckOf(docs: DataFrame): DataFrame = {
    val freqs = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("f"))
    val ranked = freqs
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("f").desc, col("tok"))).cast("long"))
      .where(col("r") <= zipfRankCap)
      .select(col("source"),
        (length(expr("bin(r * r)")) - 1).cast("long").as("x"),
        (length(expr("bin(least(f, 2147483647L) * least(f, 2147483647L))"))
          - 1).cast("long").as("y"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_types"),
        expr("""1000 * greatest(sx * sy - n_types * sxy, 0)
               |div greatest(n_types * sxx - sx * sx, 1)"""
          .stripMargin).as("zipf_neg_slope_pm"))
      .orderBy(col("source"))
  }

  /** §2#245 KNESER–NEY continuation statistics — the count tables KN
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1998 §2.7) is built
    * from, for the corpus bigram LM (#128): per frequent token, its
    * raw frequency f, LEFT type diversity N1+(·w) = |distinct
    * predecessors| (how many contexts the word completes — the KN
    * continuation numerator; "Francisco" is frequent but
    * low-diversity, which is exactly why KN discounts it), RIGHT
    * diversity N1+(w·), and the continuation probability in ppm
    * (1e6 · N1+(·w) / |distinct bigram types|). A pipeline reads this
    * next to text_rarity when choosing LM-based quality filters: high
    * f with low left diversity flags boilerplate collocations.
    *
    * Shape: one distinct over bigram TYPES (Heaps-bounded ≪ corpus),
    * two type-table groupBys keyed on the token (vocab-sized), one
    * combinable unigram count, vocab-sized joins, and a broadcast
    * one-row type-count — no corpus-sized shuffle after the first
    * (map-side-combined) counts. The f ≥ 50 floor keeps the report
    * the head of the vocab, same rationale as text_rarity's df floor. */
  def knStats(spark: SparkSession, sfDir: String): DataFrame =
    knStatsOf(Tables.documentsPar(spark, sfDir))

  /** [[knStats]] over any (text) frame. */
  def knStatsOf(docs: DataFrame): DataFrame = {
    val base = docs.select(tokens(col("text")).as("toks"))
    val types = base.where(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1)," +
          " (x, y) -> struct(x AS w1, y AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .distinct()
    val left = types.groupBy(col("w2").as("tok"))
      .agg(count(lit(1)).as("left_types"))
    val right = types.groupBy(col("w1").as("tok"))
      .agg(count(lit(1)).as("right_types"))
    val uni = base.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
    uni.where(col("f") >= 50)
      .join(left, Seq("tok"), "left").join(right, Seq("tok"), "left")
      .na.fill(0L, Seq("left_types", "right_types"))
      .crossJoin(broadcast(types.agg(count(lit(1)).as("n_bigram_types"))))
      .select(col("tok"), col("f"), col("left_types"), col("right_types"),
        expr("1000000 * left_types div n_bigram_types").as("cont_ppm"))
      .orderBy(col("tok"))
  }

  /** §2#259 PMI COLLOCATIONS — pointwise mutual information of
    * adjacent token pairs (Church & Hanks 1990, the standard
    * collocation score): PMI = log₂(c(xy)·N / (c(x)·c(y))), reported
    * in exact integer HALF-bits as hb(c_xy) + hb(N) − hb(c_x) −
    * hb(c_y) with hb(v) = length(bin(least(v, 2³¹−1)²)) − 1 — each
    * log taken SEPARATELY (the #221 construct with the #243
    * saturation cap), so no product can overflow even at 10¹³-token
    * corpora where c(xy)·N would. High-PMI pairs are phrases a BPE
    * vocabulary (#216) should keep whole; a tokenizer team reads this
    * next to text_bpe_pairs (raw frequency ranks "of the" first; PMI
    * ranks real collocations). No division anywhere — PMI is signed
    * and subtraction is seam-free where `div` is not.
    *
    * Shape: one combinable bigram count (pair-key shuffle, vocab²-
    * bounded by Heaps), one combinable unigram count, a vocab-sized
    * hash join per side, one broadcast token-total scalar. */
  def pmiCollocations(spark: SparkSession, sfDir: String,
      minPair: Long = 20L): DataFrame =
    pmiCollocationsOf(Tables.documentsPar(spark, sfDir), minPair)

  /** [[pmiCollocations]] over any (text) frame. */
  def pmiCollocationsOf(docs: DataFrame, minPair: Long): DataFrame = {
    val base = docs.select(tokens(col("text")).as("toks"))
    def hb(c: Column): Column =
      (length(bin(least(c, lit(2147483647L)) * least(c, lit(2147483647L))))
        - 1).cast("long")
    val pairs = base.where(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1)," +
          " (x, y) -> struct(x AS w1, y AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minPair)
    val uni = base.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = base.select(explode(col("toks")).as("tok"))
      .agg(count(lit(1)).as("n_tokens"))
    pairs
      .join(uni.select(col("tok").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        (hb(col("c_xy")) + hb(col("n_tokens"))
          - hb(col("c_x")) - hb(col("c_y"))).as("pmi_hb"))
      .orderBy(col("w1"), col("w2"))
  }

  /** §2#246 SYNDICATION MATRIX — cross-SOURCE passage-level overlap:
    * which feeds republish each other's content (wire-service
    * syndication, mirror crawls), the between-sources companion of the
    * within-corpus dedup family. Passages are the 20-token chunks of
    * [[chunkDedup]] (ONE shared granularity, so "this chunk is
    * duplicated" and "these sources syndicate" read off the same
    * unit); for every source pair sharing at least one passage hash:
    * the shared-type count and the Jaccard of their passage-type sets
    * in per-mille. A training-data pipeline reads this before setting
    * per-source mixture weights — two 40%-overlapping crawls are NOT
    * two independent sources.
    *
    * Shape: explode to (source, passage-hash) distinct (combinable),
    * per-source type counts (|sources| rows), and the pair join runs
    * hash-to-hash over passage types shared by ≥2 sources — output
    * and join fanout bounded by |sources|² (≈ dozens), never doc×doc. */
  def syndicationMatrix(spark: SparkSession, sfDir: String): DataFrame =
    syndicationMatrixOf(Tables.documentsPar(spark, sfDir), 20)

  /** [[syndicationMatrix]] over any (source, text) frame. */
  def syndicationMatrixOf(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val sents = docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), explode(expr(
        s"""transform(sequence(1L, greatest(size(toks) div $chunkTokens, 1L)),
           |  i -> md5(array_join(slice(toks, CAST((i-1)*$chunkTokens+1 AS INT), $chunkTokens), ' ')))"""
          .stripMargin)).as("h"))
      .distinct()
    val perSource = sents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"))
    val shared = sents.as("a").join(sents.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(perSource.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_types", "types_a")), "source_a")
      .join(broadcast(perSource.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_types", "types_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("types_a"), col("types_b"),
        expr("1000 * n_shared div (types_a + types_b - n_shared)")
          .as("jaccard_pm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** §2#266 SOURCE DISTRIBUTION DISTANCE (total variation) — the
    * corpus-mixing diagnostic: for every source pair, the total
    * variation distance ½·Σ|p−q| between their unigram distributions
    * over [[Sampling.dsirBuckets]] hashed feature buckets (the DSIR
    * model table reused as a distribution fingerprint). TVD ∈ [0, 1e6]
    * ppm: ~0 = statistically interchangeable sources (merge their
    * mixture weights), → 1e6 = disjoint vocabularies (distinct domains
    * — the #83 mixture needs both). TVD instead of KL/JSD because it
    * is EXACT in integer arithmetic — no logs, no seam (#243).
    *
    * Identity used: Σ_buckets |p−q| = Σp + Σq − 2·Σ min(p,q), so only
    * the INNER bucket join is needed — buckets missing from one source
    * contribute through the marginal sums. ppm units: p_ppm =
    * 10⁶·c div T is BIGINT-safe to T ≤ 9.2·10¹² tokens per source
    * (≈ 46 TB of text per source — above the whole-corpus brief).
    *
    * Shape: one combinable (source, bucket) count — the only
    * corpus-sized shuffle; everything after runs on ≤ |sources|·4096
    * rows (distribution table self-join on bucket, ≤ |sources|²/2
    * pair aggregate, broadcast marginals). */
  def sourceTvd(spark: SparkSession, sfDir: String): DataFrame =
    sourceTvdOf(Tables.documentsPar(spark, sfDir))

  /** [[sourceTvd]] over any (source, text) frame. */
  def sourceTvdOf(docs: DataFrame): DataFrame = {
    val b = Sampling.dsirBuckets
    val compact = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .select(col("source"), pmod(md5Hash60(col("tok")), lit(b)).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
    val dist = compact
      .withColumn("t", sum(col("c")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("b"), expr("1000000 * c div t").as("p_ppm"))
    val marg = dist.groupBy(col("source")).agg(sum(col("p_ppm")).as("sp"))
    // pair spine from the |sources|-row marginal table, so pairs with
    // zero common buckets still emit (tvd = full mass)
    val spine = marg.as("ma")
      .join(marg.as("mb"), col("ma.source") < col("mb.source"))
      .select(col("ma.source").as("source_a"), col("mb.source").as("source_b"),
        col("ma.sp").as("sp_a"), col("mb.sp").as("sp_b"))
    val overlap = dist.as("a")
      .join(dist.as("b"),
        col("a.b") === col("b.b") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(least(col("a.p_ppm"), col("b.p_ppm"))).as("s_min"),
        count(lit(1)).as("common_buckets"))
    spine.join(overlap, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("s_min", "common_buckets"))
      .select(col("source_a"), col("source_b"), col("common_buckets"),
        expr("(sp_a + sp_b - 2 * s_min) div 2").as("tvd_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** §2#267 LENGTH GINI — per-source concentration of text volume
    * (Gini coefficient of doc char counts, the Lorenz-curve statistic;
    * grouped-data form after Gastwirth 1972): gini_pm → 0 when every
    * doc is the same size, → 1000 when a few giants carry the source
    * (the "one 500 MB crawl dump + a million stubs" smell that breaks
    * pack_sequences efficiency and skews per-doc quality stats).
    *
    * Exact integers via the VALUE-GRANULAR cumsum idiom (#95/#198):
    * with per-value counts c and inclusive cumulative counts cum,
    * 2·Σ rank·x = Σ v·c·(2·cum − c + 1) =: S (ties share one row, so
    * both engines rank identically), and
    * gini_pm = 1000·(S − (n+1)·T) div (n·T), T = Σ v·c. S − (n+1)·T
    * ≥ 0 by the rearrangement bound on ascending sorts (#243-safe).
    * BIGINT-safe while n·T ≲ 4.6·10¹⁸ per source (≈ 2·10⁷ docs of
    * 10⁴ chars — tens of TB of text per source); beyond that, band
    * values first (the #226 value-band fallback — same estimator on
    * coarser support).
    *
    * Shape: one combinable (source, n_chars) count, per-source windows
    * over the ≤|distinct lengths| value table, one |sources|-row agg. */
  def lengthGini(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
    hist.withColumn("cum", sum(col("c")).over(w))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("v") * col("c")).as("sum_chars"),
        sum(col("v") * col("c") * (lit(2) * col("cum") - col("c") + lit(1)))
          .as("s2"))
      .select(col("source"), col("n_docs"), col("sum_chars"),
        expr("1000 * (s2 - (n_docs + 1) * sum_chars) " +
          "div greatest(n_docs * sum_chars, 1)").as("gini_pm"))
      .orderBy(col("source"))
  }
}
