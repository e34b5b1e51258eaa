package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree hygiene, enforced mechanically. Raw control bytes
  * (anything below 0x09) inside a `.scala` file make git classify the
  * file as BINARY: no textual diffs, no review, grep warnings — the
  * exact defect r10 found in StreamSchemaDrift and r11 reintroduced in
  * StreamIvm (a literal NUL inside a `concat_ws` separator). The fix
  * is always the backslash-u0000 escape; this spec keeps the defect class
  * dead by scanning every source file on every test run. */
class RepoHygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) Seq.empty
    else Files.walk(base).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq
  }

  private def occurrences(p: Path, s: String): Int =
    new String(Files.readAllBytes(p), "UTF-8")
      .split(java.util.regex.Pattern.quote(s), -1).length - 1

  test("no source file contains raw control bytes below 0x09") {
    val offenders = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .flatMap { p =>
        val bytes = Files.readAllBytes(p)
        val bad = bytes.indexWhere(b => b >= 0 && b < 0x09)
        if (bad >= 0) Some(s"$p @ byte $bad (0x%02x)".format(bytes(bad)))
        else None
      }
    assert(offenders.isEmpty,
      s"raw control bytes (git-binary trigger) in: ${offenders.mkString(", ")}" +
        " — use the \\u0000 escape instead of a literal byte")
  }

  test("integer division in a hash-gated oracle requires sign-safety review") {
    // THE negative-division seam (r13 verdict #7): BIGINT division
    // truncates toward zero in Spark (`div`) but floors in DuckDB
    // (`//`) — a possibly-negative numerator is the ONE construct
    // where the two engines disagree on identical integer inputs
    // (text_zipf_check documents the rule and the greatest(...)
    // negate-before-divide fix). A full mechanical sign analysis of
    // arbitrary SQL is not feasible, so the enforceable seam is the
    // allowlist below: every oracle using `//` was reviewed for a
    // provably non-negative numerator (counts, lengths, greatest(x,0)
    // clamps, products of non-negatives) AND is hash-exact at two
    // scale factors. A NEW op introducing `//` fails here until its
    // numerator signs are reviewed and the name is added — the seam
    // cannot be re-hit silently.
    val signSafeDiv = Set(
      // r14 additions, reviewed at introduction: kn_stats/syndication/
      // neighbor_jaccard/skew divide count products; rfm divides
      // 5·(cum−cnt) where cum ≥ cnt by window construction; txn_stats
      // divides 1000·(n_txns − multi_row_txns) where multi ≤ n_txns
      "text_kn_stats", "text_syndication_matrix", "graph_neighbor_jaccard",
      "q_rfm_segments", "q_join_skew_report", "cdc_txn_stats",
      // wave 3: markov/coeff divide count products; calibration's
      // bucket shifts +1000 before div (est,exact ∈ [0,1000]) and its
      // averages divide non-negative sums
      "q_markov_transitions", "graph_clustering_coeff",
      "dedup_minhash_calibration",
      // wave 4: basket divides count products (c_ab ≤ c_a ≤ n_orders,
      // all ≥ 0); benford divides 1000·n with n ≥ 0 (the dev_pm
      // subtraction sits INSIDE abs(), never under //); adamic_adar
      // divides the literal 1000 by a ≥1 floor-log; assortativity's
      // // feeds only the non-negative degree-sum means (the signed
      // moment mxy is never divided)
      "q_basket_rules", "q_benford", "graph_adamic_adar",
      "graph_assortativity",
      // wave 4b: tvd divides 10⁶·c (c ≥ 0) and the marginal identity
      // sp_a + sp_b − 2·min where min ≤ min(sp_a, sp_b); gini's
      // numerator S − (n+1)·T ≥ 0 by the rearrangement bound on
      // ascending sorts (docstring proof); hot_keys/calendar divide
      // 1000·counts; growth's // is epoch-day bucketing of epoch
      // micros ≥ 0
      "text_source_tvd", "text_length_gini", "cdc_hot_keys",
      "ts_calendar_profile", "ts_growth_accounting",
      // wave 5: ri_audit divides 1000·orphans ≥ 0; wow_change is the
      // REVIEWED sign-split idiom (both // numerators are the
      // non-negative branch of the CASE); session_concurrency's //
      // are epoch-day bucketing and count(*)//2, both ≥ 0
      "q_ri_audit", "ts_wow_change", "ts_session_concurrency",
      // wave 6: audience divides 1000·n_both (≥0, union ≥ n_both ≥ 1
      // on emitted pairs); drawdown's // is epoch-day bucketing;
      // df_profile divides df·(df−1)/2 and 1000·pair_mass, all ≥ 0
      "q_audience_overlap", "ts_drawdown", "dedup_df_profile",
      // wave 7: purchase_gaps divides ordered-nonnegative window gaps
      // and 1000·counts
      "ts_purchase_gaps",
      // r15: q9's // numerator is cents(p_retailprice)·l_quantity —
      // retail prices and quantities are strictly positive in this
      // corpus (min retail 900.0, min qty 1), so floor == truncate
      "q9_part_profit",
      // r15 wave 3: q8/q14 divide 1000·(a revenue subset sum ≥ 0) by
      // a strictly positive revenue total; q17 divides a non-negative
      // price sum by 7; q22's threshold divides a sum of strictly
      // positive balances by their count
      "q8_market_share", "q14_promo_share", "q17_small_quantity",
      "q22_sales_opportunity",
      // r16: q2/q11/q16's only // is the shared partsupp fragment's
      // modular walk (s_cnt // 4 and p_partkey // s_cnt — keys are
      // 0-based non-negative, supplier count strictly positive, so
      // floor == truncate); ann_cell_health divides 1000·n_vecs and
      // rsum (sums of resid_e6 = 1e6 − cell_cos ≥ 0, since a rounded
      // e6 cosine never exceeds 1e6) by strictly positive counts
      "q2_min_cost_supp", "q11_important_stock", "q16_supplier_counts",
      "ann_cell_health",
      "cdc_order_audit", "cdc_resolved_gaps", "cdc_snapshot_diff",
      "dedup_incremental_minhash", "dedup_lsh_tuning", "dedup_minhash_lsh",
      "dedup_report", "graph_pagerank", "layout_hilbert",
      "layout_prune_compare", "layout_zorder", "pack_efficiency",
      "pack_sequences", "pack_shelves", "pipeline_train_data",
      "q_corr_moments", "q_decile_lift", "q_funnel_conversion",
      "q_funnel_windowed", "q_kmv_jaccard", "q_ntile_decile",
      "sample_curriculum", "sample_dsir", "sample_epochs",
      "sample_temperature", "sample_weighted", "text_bigram_lm",
      "text_bpe_encode", "text_chunk_dedup", "text_classifier_score",
      "text_contamination_rate", "text_decontaminate_fuzzy",
      "text_lang_confusion", "text_langid", "text_ngram_novelty",
      "text_perplexity", "text_ppl_buckets", "text_rarity",
      "text_salient_terms", "text_substring_dedup", "text_token_entropy",
      "text_zipf_check", "ts_autocorr", "ts_changepoint",
      "ts_cohort_matrix", "ts_dau_wau", "ts_dispersion", "ts_downsample",
      "ts_ewma", "ts_interpolate", "ts_retention", "ts_seasonal",
      "ts_sliding_distinct", "ts_trend", "ts_xcorr")
    val unreviewed = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("//") && !signSafeDiv(name) => name
    }
    assert(unreviewed.isEmpty,
      s"oracle SQL with UNREVIEWED integer division: ${unreviewed.toSeq.sorted}" +
        " — verify every // numerator is provably non-negative (Spark" +
        " div truncates, DuckDB // floors; they disagree below zero)," +
        " then add the op to signSafeDiv")
    // and the allowlist must not rot: names that stop using // (or
    // stop existing) get pruned so the review list stays honest
    val stale = signSafeDiv.filter(n =>
      !SparkEntry.oracleSql.get(n).exists(_.contains("//")))
    assert(stale.isEmpty, s"signSafeDiv entries no longer using //: $stale")
  }

  test("no direct localCheckpoint outside Checkpoints.scala (src/main)") {
    // every lineage cut and memo materialization must ride the
    // Checkpoints.cut seam so the reliable-checkpoint conf governs
    // ALL of them — a raw localCheckpoint is un-recomputable state a
    // preemptible cluster loses with the executor, whether it sits in
    // a fixpoint loop or a one-shot memo pin.
    val offenders = scalaFiles("src/main")
      .filterNot(_.getFileName.toString == "Checkpoints.scala")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains(".localCheckpoint("))
    assert(offenders.isEmpty,
      s"raw localCheckpoint outside Checkpoints.scala: $offenders — " +
        "route through Checkpoints.cut / .cut")
  }

  test("no SoftReference in src/main outside SessionMemo.scala") {
    // session-scoped reuse goes through graft.SessionMemo, which owns
    // the weak-session/soft-value discipline and the per-key build
    // lock; a hand-rolled memo beside it repeats the defects it fixed
    // (one lock across keys, a build Bench and ScaleCheck never see)
    val offenders = scalaFiles("src/main")
      .filterNot(_.getFileName.toString == "SessionMemo.scala")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("SoftReference"))
    assert(offenders.isEmpty,
      s"SoftReference outside SessionMemo.scala: $offenders — use graft.SessionMemo")
  }

  test("no SparkSession.builder in src/main outside Harness.scala and GraftMain.scala") {
    // the harness mains share one session shape (Harness.session); a
    // builder of their own drifts from it, as the 4-vs-32 default
    // SPARK_GRAFT_CPUS split did. GraftMain is the spark-submit app,
    // whose master and resources come from the submit. Scaladoc usage
    // examples (GraftExtensions) are not code.
    val offenders = scalaFiles("src/main")
      .filterNot(p => Set("Harness.scala", "GraftMain.scala")(p.getFileName.toString))
      .filter(p => Files.readAllLines(p).asScala
        .exists(l => l.contains("SparkSession.builder") && !l.trim.startsWith("*")))
    assert(offenders.isEmpty,
      s"SparkSession.builder outside Harness.scala/GraftMain.scala: $offenders — use graft.Harness.session")
  }

  test("Similarity: one query-set filter and one ranking window") {
    // every ANN query is the same spine (query set, candidates, exact
    // re-rank, rank); a second `where(col("vec_id") < …)` or a second
    // partitioned window in Similarity is a hand copy of a step the
    // rungs must share to stay comparable against exact search
    val src = Paths.get("src/main/scala/graft/operators/Similarity.scala")
    assert(occurrences(src, "where(col(\"vec_id\") <") === 1,
      "query-set filters in Similarity — use Similarity.firstIds / querySet")
    assert(occurrences(src, "Window.partitionBy(") === 1,
      "ranking windows in Similarity — use Similarity.firstN / topK")
  }

  test("one copy of the consistent-sampling hash in src/main") {
    // the hash gates sampling and pipeline queries the oracle checks
    // bit-exactly; a second spelling of it can drift in association or
    // literals and silently move every sampled row
    val copies = scalaFiles("src/main")
      .map(occurrences(_, "1000000007L)) * lit(2654435761L)")).sum
    assert(copies === 1, s"$copies copies of the hash — use Fns.consistentHash")
  }

  test("no min(affineHash( in src/main: one MinHash signature builder") {
    // the k-permutation signature is one native per-row expression
    // (MinHashSignature, built by Dedup.minhashSigs); a k-wide
    // min-aggregate copy beside it is a second definition that can
    // drift from the oracle and from the persisted band tables
    val offenders = scalaFiles("src/main")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("min(affineHash("))
    assert(offenders.isEmpty,
      s"min(affineHash( in: $offenders — build signatures with Dedup.minhashSigs")
  }

  test("one changefeed segment parser; payloads published as the bytes read") {
    // ChangefeedLog.SegmentReader is the one parser of the row format
    // (the relay's reader and readSegment both run on it); a line
    // reader or a tab split beside it is a second copy of the escape
    // rules, and a String round trip on the relay path re-encodes
    // every payload
    val offenders = scalaFiles("src/main/scala/graft/sources")
      .filter { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        src.contains("Files.readAllLines") || src.contains("split(\"\\t\"")
      }
    assert(offenders.isEmpty,
      s"line reader or tab split in: $offenders — parse with ChangefeedLog.SegmentReader")
    assert(occurrences(Paths.get("src/main/scala/graft/cdc/ChangefeedPipeline.scala"),
      ".getBytes(UTF_8)") === 0,
      "payload re-encoded in ChangefeedPipeline — publish the binary column's bytes")
  }
}
