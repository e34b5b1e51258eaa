package graft.plans

import graft.SparkSuite
import graft.Tables
import graft.operators._
import graft.cdc.Changefeed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-shape regressions: these pin the PHYSICAL properties the
  * operators are designed around — pushdown, pruning, broadcast,
  * map-side partial aggregation, shuffle-freedom of narrow ops. A code
  * change that silently turns one of these into a full-scan / shuffle /
  * cartesian plan fails here long before a 100 TB cluster notices. */
class PlanQualitySpec extends SparkSuite {

  private def planOf(df: DataFrame): String = {
    df.collect() // run so AQE finalizes its decisions
    df.queryExecution.executedPlan.toString
  }

  test("filters and projections reach the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .where(col("l_quantity") > 25.0)
      .select(col("l_orderkey"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed to scan:\n$plan")
    // pruned read schema: only the two referenced columns are read
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projection needs:\n$plan")
  }

  test("q1_agg aggregates map-side before the exchange") {
    val plan = planOf(Analytics.q1Agg(spark, sf))
    val firstAgg = plan.indexOf("HashAggregate")
    val firstExchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0)
    assert(plan.contains("partial_sum"),
      s"no partial (map-side) aggregation in q1 plan:\n$plan")
  }

  test("decontaminate broadcasts the benchmark side, never shuffles the corpus") {
    val plan = planOf(TextAnalysis.decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus is being shuffle-joined against the tiny benchmark side:\n$plan")
  }

  test("changefeed change rows are shuffle-free (narrow projection)") {
    val df = Changefeed.changeRowsFrom(Tables.events(spark, sf))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"narrow per-row changefeed projection should not shuffle:\n$plan")
  }

  test("q_topk_native plans through the custom TopKPerKey operator") {
    val plan = planOf(Analytics.qTopkNative(spark, sf))
    assert(plan.contains("TopKPerKey"),
      s"custom strategy not applied — fell back to a generic plan:\n$plan")
  }

  test("date-partitioned layout prunes partitions at the scan") {
    // The 100 TB table layout: facts written partitioned by day, so a
    // day-ranged query lists (not reads) only matching directories.
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val days = spark.read.parquet(dir).select("day").distinct().collect()
    assert(days.length > 1, "need multiple day partitions for the test")
    val oneDay = days.map(_.getDate(0)).min
    val df = spark.read.parquet(dir)
      .where(col("day") === lit(oneDay))
      .select(col("event_id"))
    val plan = planOf(df)
    assert(plan.contains("PartitionFilters") && plan.contains("day#"),
      s"day predicate not applied as a partition filter:\n$plan")
    // a partition-column predicate must NOT appear as a data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(day)"),
      s"day filter leaked into the parquet row-group scan:\n$plan")
  }

  test("pipeline_train_data: broadcast joins only, no sort-merge of the corpus") {
    val df = Pipeline.trainDataPipeline(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"decontamination sides not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus is being shuffle-joined against a bounded side:\n$plan")
  }

  test("ann brute force broadcasts the query side") {
    // the public entry memoizes via localCheckpoint (plan = block
    // scan), so the shape is asserted on the underlying compute plan
    val plan = planOf(Similarity.computeBruteforceTopk(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
  }

  test("q_exists_subquery decorrelates to a semi join with the date filter pushed") {
    val plan = planOf(Analytics.qExistsSubquery(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"EXISTS did not decorrelate to a semi join:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"order-date range not pushed to the orders scan:\n$plan")
  }

  test("q_pivot_native with explicit values plans one aggregate, no discovery pass") {
    val df = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view"))
      .agg(count(lit(1)))
    val plan = planOf(df)
    // pivot with a value list = pivot_first aggregate; no separate
    // collect/distinct job over the pivot column appears in the plan
    assert(plan.contains("pivotfirst") || plan.contains("HashAggregate"),
      s"pivot did not plan as an aggregate:\n$plan")
    assert(!plan.toLowerCase.contains("collectlimit"),
      s"pivot plan includes a value-discovery pass:\n$plan")
  }

  test("ts_ohlc is one two-phase aggregate: no window, no per-group sort") {
    val plan = planOf(TimeSeries.ohlc(spark, sf))
    assert(plan.contains("partial_min_by") || plan.contains("partial_max_by") ||
      plan.contains("partial_min"),
      s"OHLC open/close not computed as partial aggregates:\n$plan")
    assert(!plan.contains("Window"),
      s"OHLC should need no window function:\n$plan")
  }

  test("layout_hilbert is UDF-free codegen'd arithmetic + one partial agg") {
    val plan = planOf(Layout.hilbert(spark, sf))
    // the unrolled walk must stay inside whole-stage codegen: no
    // python/scala UDF, no non-codegen expression node
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"hilbert walk fell out of codegen:\n$plan")
    // "*(n)" prefixes = whole-stage-codegen spans in the final AQE plan
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"file stats not a two-phase aggregate:\n$plan")
    assert(!plan.contains("Window"), s"hilbert needs no window:\n$plan")
  }

  test("q_unpivot expands AFTER the aggregate: no shuffle between Expand and the agg") {
    // the Expand (unpivot fan-out) must sit DIRECTLY above the final
    // aggregate — same stage, no exchange between them — proving the
    // melt runs on |groups|×k rows, not on the fact table
    val full = planOf(Analytics.qUnpivot(spark, sf))
    val plan = full.split("== Initial Plan ==").head // final AQE plan only
    val ex = plan.indexOf("Expand")
    assert(ex >= 0, s"no Expand in unpivot plan:\n$plan")
    val agg = plan.indexOf("HashAggregate", ex)
    assert(agg > ex, s"no aggregate below the Expand:\n$plan")
    assert(!plan.substring(ex, agg).contains("Exchange"),
      s"a shuffle sits between Expand and the aggregate:\n$plan")
  }

  test("cdc_table_router: union is plan concatenation, one partial agg, no window") {
    val plan = planOf(graft.cdc.Changefeed.tableRouter(spark, sf))
    assert(plan.contains("Union"), s"no union node:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_min"),
      s"router ledger not map-side combined:\n$plan")
    assert(!plan.contains("Window"), s"router needs no window:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"router needs no join at all:\n$plan")
  }

  test("ts_ewma folds the pre-aggregate: events pay one partial agg, no window") {
    val plan = planOf(TimeSeries.ewma(spark, sf))
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"hourly compaction not map-side combined:\n$plan")
    assert(!plan.contains("Window"),
      s"the EWMA recurrence must fold arrays, not window raw rows:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"fold fell out of the higher-order-function path:\n$plan")
  }

  test("ts_downsample windows the hourly pre-aggregate, never raw events") {
    val full = planOf(TimeSeries.downsample(spark, sf))
    val plan = full.split("== Initial Plan ==").head
    // top-down print: the curvature Window must appear ABOVE (before)
    // the per-hour counting aggregate it consumes
    val win = plan.indexOf("Window")
    val agg = plan.indexOf("HashAggregate", math.max(win, 0))
    assert(win >= 0 && agg > win,
      s"Window does not sit above the hourly compaction:\n$plan")
    assert(plan.contains("partial_count"),
      s"hourly counts not map-side combined:\n$plan")
  }

  test("q_corr_moments broadcasts the per-group means back to the fact side") {
    val plan = planOf(Analytics.qCorrMoments(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"means side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side shuffle-joined against |groups| means rows:\n$plan")
  }

  test("q_robust_stats buffers histograms, not whole groups (r6 rewrite)") {
    val plan = planOf(Analytics.qRobustStats(spark, sf))
    // the exact `percentile` aggregate buffers every group row in one
    // reducer's ObjectHashAggregate — the rewrite must keep it out
    assert(!plan.toLowerCase.contains("percentile"),
      s"whole-group percentile buffer crept back into robust stats:\n$plan")
    // r17: the (grp, dev, cnt) histogram is compacted ONCE into the
    // devHist cut (the compaction's partial_count lives in that memo
    // job, not in this plan) and serves BOTH the MAD median and the
    // outlier roll-up — so the returned plan must read the checkpoint,
    // never re-scan lineitem, and combine its roll-up map-side.
    assert(!plan.contains("lineitem.parquet"),
      s"robust stats re-scans lineitem past the devHist cut:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"devHist cut missing from the robust-stats plan:\n$plan")
    assert(plan.contains("partial_sum"),
      s"outlier roll-up not map-side combined:\n$plan")
  }

  test("q_ntile_decile windows the histogram, never the raw rows (r7 rewrite)") {
    val plan = planOf(Analytics.qNtileDecile(spark, sf))
    // the old `ntile(10)` sorted every event of a type inside one
    // reducer — a parallelism ceiling of |event_types| at 100×
    assert(!plan.contains("ntile"),
      s"raw-row ntile window crept back into the decile plan:\n$plan")
    // the window's input must be the map-side-combined histogram
    assert(plan.contains("partial_count"),
      s"histogram not built with a partial (map-side) aggregate:\n$plan")
    val win = plan.indexOf("Window")
    assert(win >= 0, s"rank-band window missing:\n$plan")
    assert(plan.indexOf("HashAggregate", win) >= 0,
      s"window input is not the aggregated histogram:\n$plan")
  }

  test("runtime bloom filter from a selective dim reaches the fact scan") {
    // Spark's runtime row-level filtering: a selective filter on the
    // join's build side should inject bloom_filter_agg → the fact side
    // scans through BloomFilterMightContain BEFORE the shuffle — at
    // 100 TB this is the difference between shuffling the whole fact
    // table and shuffling the ~matching fraction. Thresholds are
    // lowered because sf0.001 sits under the production defaults; the
    // assertion is about PLAN SHAPE, which is scale-independent.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // a broadcastable dim never gets a bloom filter (the broadcast
      // hash table already prunes); model the 100 TB case where the
      // dim exceeds the broadcast threshold and the join shuffles
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = Tables.orders(spark, sf)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") ||
        optimized.contains("BloomFilterMightContain"),
        s"no runtime bloom filter injected on the fact side:\n$optimized")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_jaccard_prefix: keyed joins only, partial df agg, bounded per-doc window") {
    val plan = planOf(Dedup.jaccardPrefix(spark, sf, 500))
    assert(!plan.contains("Cartesian"),
      s"prefix path must never cross-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"),
      s"prefix path must never nested-loop:\n$plan")
    // the global-rarity df agg must combine map-side before shuffling
    assert(plan.contains("partial_count"),
      s"df agg not map-side combined:\n$plan")
    // the prefix ranking is a per-doc window (bounded by doc shingle
    // count), keyed on doc_id — present exactly as a Window operator
    assert(plan.contains("Window"), s"prefix ranking window missing:\n$plan")
  }

  test("r10 analytics ops: map-side partials, no cartesians, bounded windows") {
    // one consolidated pin for the round's sql additions — each must
    // combine map-side before its exchange and never degenerate into
    // a cartesian / nested-loop plan
    val ops: Seq[(String, DataFrame)] = Seq(
      "ts_trend" -> TimeSeries.trend(spark, sf),
      "ts_cohort_matrix" -> TimeSeries.cohortMatrix(spark, sf),
      "q_decile_lift" -> Analytics.qDecileLift(spark, sf),
      "q_funnel_windowed" -> Analytics.qFunnelWindowed(spark, sf),
      "dedup_report" -> Dedup.report(spark, sf),
      "text_lang_confusion" -> TextAnalysis.langConfusion(spark, sf))
    ops.foreach { case (name, df) =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated into a cartesian:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial_sum") ||
        plan.contains("partial_min") || plan.contains("partial_max"),
        s"$name does not combine map-side:\n$plan")
    }
    // the decile window must run over the spend HISTOGRAM, not raw
    // users: its input is an aggregated frame
    val lift = planOf(Analytics.qDecileLift(spark, sf))
    val win = lift.indexOf("Window")
    assert(win >= 0 && lift.indexOf("HashAggregate", win) >= 0,
      s"decile window input is not the aggregated histogram:\n$lift")
  }

  test("dedup_incremental_bloom screens with the native bloom pair, no UDF") {
    // r9 advisor item: the Bloom screen used a Scala UDF over a
    // driver-built .stat.bloomFilter — opaque to codegen on the one
    // stage whose whole point is a cheap map-side screen. The rewrite
    // builds with bloom_filter_agg and probes with
    // BloomFilterMightContain; both must show as native expressions.
    val df = Dedup.bloomIncremental(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BloomFilterMightContain") ||
      plan.contains("might_contain"),
      s"native bloom probe missing from the screen stage:\n$plan")
    assert(!plan.contains("UDF(") && !plan.contains("BatchEval"),
      s"a UDF survived in the bloom screen plan:\n$plan")
  }

  test("q_asof_native plans one exchange + sort per side into AsOfJoinExec") {
    val df = Temporal.asofNative(spark, sf)
    // AQE's string repeats the pre-adaptive plan under "== Initial
    // Plan ==" — count exchanges in the FINAL plan section only
    val plan = planOf(df).split("== Initial Plan ==").head
    assert(plan.contains("AsOfJoin"), s"custom asof operator not planned:\n$plan")
    // the streaming merge needs exactly the two hash exchanges the
    // distribution requirement asks for — no extra shuffle, no window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("Window"), s"window crept into the native asof plan:\n$plan")
  }

  test("asof output clustering feeds a per-key aggregate with no extra exchange") {
    import spark.implicits._
    val l = (1L to 50L).map(i => (i % 7, i, i * 10L)).toDF("k", "id", "t")
    val r = (1L to 50L).map(i => (i % 7, 1000L + i, i * 10L - 5L)).toDF("k", "id", "t")
    val agg = graft.plans.AsOfJoin.ofDF(l, r, Seq("k", "lid", "lt", "rid", "rt"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the merge's output is hash-clustered on k — the aggregate reuses
    // it; only the two child exchanges may appear
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
  }

  test("ts_lateness: one per-user exchange, O(1) window state, partial agg") {
    val plan = planOf(TimeSeries.lateness(spark, sf))
    // the frontier window must partition by user_id — a global-sort
    // window here would serialize the whole feed through one reducer
    assert(plan.contains("Window") &&
      plan.contains("windowspecdefinition(user_id#"),
      s"lateness window is not per-user partitioned:\n$plan")
    // exactly one hash exchange feeds the window; the type aggregate
    // rides the rangepartitioning of the final ORDER BY (tiny: |types|).
    // AQE prints Final + Initial sections — count the final one only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashExchanges =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(finalPlan).size
    assert(hashExchanges == 1,
      s"expected exactly one user_id exchange, got $hashExchanges:\n$plan")
    // the histogram agg combines map-side before its shuffle
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"lateness histogram is not map-side combined:\n$plan")
  }

  test("ann_filtered_topk broadcasts the query side; the label filter is an equi-join") {
    val plan = planOf(Similarity.filteredTopk(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered ANN must broadcast the tiny query side:\n$plan")
    // the label predicate must be a JOIN KEY, not a post-join filter of
    // a cartesian — at 100 TB that difference is |corpus|/|labels| vs
    // |corpus|×|queries| pairs per query
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"filtered ANN degenerated to a cross product:\n$plan")
  }

  test("dedup_semantic pair join is keyed on the cell, never cartesian") {
    val plan = planOf(Dedup.semantic(spark, sf))
    // the only cartesian allowed is the broadcast of k centroid rows
    // (assignment); the PAIR stage must be an equi-join on cell
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"semantic-dedup pair stage is not an equi-join:\n$plan")
    val cartesians = "CartesianProduct".r.findAllIn(plan).size
    assert(cartesians == 0,
      s"corpus-side cartesian in semantic dedup ($cartesians):\n$plan")
  }

  test("AQE splits a runtime-skewed join: skew=true in the final plan") {
    // the 100 TB residual-skew story MEASURED, not argued: manual
    // salting (q_skew_join_salted) handles KNOWN hot keys; AQE's
    // OptimizeSkewedJoin is the engine's runtime answer for the skew
    // you didn't predict — a hot partition is split into subpartitions
    // after the shuffle map stage reports sizes. Thresholds are
    // lowered because test data sits under production defaults; the
    // assertion is the PLAN MECHANISM, which is scale-independent.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // force a shuffle join — a broadcast would hide the skew path
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one pathological key carries 200k rows; nine healthy keys 100 each
      val fact = spark.range(200000).select(lit(0L).as("k"), col("id"))
        .unionAll(spark.range(900)
          .select((col("id") % 9 + 1).as("k"), col("id")))
      val dim = spark.range(10).select(col("id").as("k"),
        (col("id") * 10).as("attr"))
      val joined = fact.join(dim, "k")
      assert(joined.collect().length === 200900) // finalizes AQE on THIS df
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pipeline_funnel: the Gopher battery is materialized, never collapsed into a filter") {
    val plan = planOf(Pipeline.curationFunnel(spark, sf))
    // the keep filter must run against the CHECKPOINTED verdict table —
    // if the battery's HOF expressions (the xxhash64 3-gram windows)
    // appear in this plan, filter pushdown has re-collapsed them into a
    // per-reference re-splitting CASE (the 18.5 s regression this pin
    // exists for; see Pipeline.curationFunnel)
    assert(!plan.contains("xxhash64"),
      s"Gopher battery re-inlined into the funnel plan:\n${plan.take(2000)}")
  }

  test("dedup_levenshtein: the quadratic DP stays confined to equi-joined candidates") {
    val plan = planOf(Dedup.levenshteinVerify(spark, sf))
    // the pair set comes from the memoized candidate stage; the text
    // joins must be hash/merge EQUI-joins on doc_id — a cartesian here
    // would run the O(|a|·|b|) DP on corpus×corpus
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"levenshtein ran outside the candidate equi-join:\n$plan")
    assert(plan.contains("levenshtein"),
      s"edit-distance expression missing from the plan:\n$plan")
  }

  test("ts_autocorr: lag join is an equi-join; mean and m2 broadcast") {
    val plan = planOf(TimeSeries.autocorr(spark, sf))
    // the h−lag pairing must be a hash/merge EQUI-join on the tiny
    // hourly pre-aggregate — a theta-join here would be |hours|² per
    // type and at 100 TB the pre-agg is the only pass over events
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"autocorr lag pairing degenerated to a cross product:\n$plan")
    // μ and m2 are |types| rows — they ride broadcasts, and the hourly
    // count aggregate combines map-side
    assert(plan.contains("BroadcastHashJoin"), s"scalars not broadcast:\n$plan")
    assert(plan.contains("partial_count"),
      s"hourly pre-aggregate is not map-side combined:\n$plan")
  }

  test("q_string_agg: dimension join broadcasts, roster aggregation combines map-side") {
    val plan = planOf(Analytics.qStringAgg(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"nation dim not broadcast:\n$plan")
    // collect_list is partial-agg capable (ObjectHashAggregate) — the
    // shuffle carries per-partition partial rosters, not raw rows
    assert(plan.contains("partial_collect_list") ||
      plan.contains("partial_listagg"),
      s"roster aggregation not map-side combined:\n$plan")
  }

  test("ann_mmr_topk: query side broadcast; greedy stage input is the candidate top-20") {
    val plan = planOf(Similarity.mmrTopk(spark, sf))
    // the ≠-condition query×corpus stage must be the broadcast of the
    // 10-row query side (same contract as brute force), never a
    // shuffle of the corpus against it
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in MMR:\n$plan")
    // the sequential greedy runs AFTER the rank<=20 cut: the
    // MapGroups/flatMapGroups stage must sit above the window filter
    val mg = plan.indexOf("MapGroups")
    val win = plan.indexOf("RunningWindowFunction") match {
      case -1 => plan.indexOf("Window")
      case i => i
    }
    assert(mg >= 0 && win >= 0 && mg < win,
      s"greedy stage not downstream of the candidate window cut:\n$plan")
  }

  test("r13 ops: bounded broadcasts, no cartesians, partial aggs") {
    // sample_dsir: the FIXED 4096-row bucket table comes back as a
    // broadcast join; the (doc,bucket) compact is a partial agg
    val dsir = planOf(graft.operators.Sampling.sampleDsir(spark, sf))
    assert(dsir.contains("BroadcastHashJoin"),
      s"dsir bucket join not broadcast:\n$dsir")
    assert(dsir.contains("partial_count") || dsir.contains("HashAggregate"),
      s"dsir compact not a hash aggregate:\n$dsir")
    assert(!dsir.contains("CartesianProduct"))
    // text_ppl_buckets: the bounded (lang, ppl) cut table joins back
    // broadcast — the corpus is never sorted per language
    val ppl = planOf(graft.operators.TextAnalysis.pplBuckets(spark, sf))
    assert(ppl.contains("BroadcastHashJoin"),
      s"ppl cuts join not broadcast:\n$ppl")
    assert(!ppl.contains("CartesianProduct"))
    // pack_shelves: exactly one exchange family — the per-(source,
    // band) window's — then a partial agg; no global sort of the docs
    val shelves = planOf(graft.operators.Sampling.packShelves(spark, sf))
    assert(!shelves.contains("CartesianProduct"))
    assert(shelves.contains("Window"),
      s"shelves rank window missing:\n$shelves")
    // cdc_order_audit: one per-key window, then partial aggregation
    val audit = planOf(graft.cdc.Changefeed.orderAudit(spark, sf))
    assert(audit.contains("Window") && audit.contains("HashAggregate"),
      s"order audit shape off:\n$audit")
    // graph_modularity: the 1-row m frame is a broadcast nested loop
    // (allowed), never a CartesianProduct
    val mod = planOf(graft.operators.Graph.modularity(spark, sf))
    assert(!mod.contains("CartesianProduct"),
      s"modularity m-join degenerated to cartesian:\n$mod")
  }

  test("q6: all three predicates and the projection reach the parquet scan") {
    // the plan string truncates metadata values at 100 chars by
    // default — widen so the FULL pushed-filter list is assertable
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val plan = planOf(Analytics.q6ForgoneRevenue(spark, sf))
      assert(plan.contains("PushedFilters:")
        && plan.contains("GreaterThanOrEqual(l_shipdate")
        && plan.contains("GreaterThanOrEqual(l_discount,0.05)")
        && plan.contains("LessThanOrEqual(l_discount,0.07)")
        && plan.contains("LessThan(l_quantity,24.0)"),
        s"q6 predicates not pushed to the scan:\n$plan")
      // pruned read: only the four referenced columns. Asserted name
      // by name — testdata regenerations have changed physical
      // encodings before (events.ts shipped in three), so pinning the
      // exact column order / physical types would break on a
      // regenerated lineitem file even when pruning is still correct.
      val readSchema = raw"ReadSchema: struct<([^>]*)>".r
        .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
      val cols = readSchema.split(",").map(_.split(":")(0).trim).toSet
      val wanted = Set("l_quantity", "l_extendedprice", "l_discount",
        "l_shipdate")
      assert(wanted.subsetOf(cols),
        s"q6 scan missing ${wanted.diff(cols)} in ReadSchema:\n$plan")
      assert(cols.diff(wanted).isEmpty,
        s"q6 scan reads more than it needs (${cols.diff(wanted)}):\n$plan")
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("q9: dims broadcast, part family prunes before the fact shuffle") {
    val plan = planOf(Analytics.q9PartProfit(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q9 degenerated to a cartesian:\n$plan")
    // part / supplier / nation are dimension joins — they must never
    // shuffle-join the fact (the explicit broadcast() hints pin this
    // independent of AQE's stats at test scale)
    assert(plan.contains("BroadcastHashJoin"),
      s"q9 dims not broadcast:\n$plan")
    for (k <- Seq("p_partkey", "s_suppkey", "n_nationkey"))
      assert(!raw"SortMergeJoin.*$k".r.findFirstIn(plan).isDefined,
        s"q9 dim key $k shuffle-joined:\n$plan")
  }

  test("q18: one lineitem roll-up, HAVING filters before joins, top-100 never global-sorts") {
    val plan = planOf(Analytics.q18LargeOrders(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q18 degenerated to a cartesian:\n$plan")
    // exactly ONE pass over lineitem: the textbook IN-subquery form
    // scans the fact twice; the roll-up-once form must not. Count in
    // the FINAL plan only — AQE's toString appends the Initial Plan,
    // which would double-count every scan.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllMatchIn(finalPlan).size <= 1,
      s"q18 scans lineitem more than once:\n$finalPlan")
    // the survivor filter sits on the aggregate (HAVING), visible as a
    // filter on the summed quantity before any join
    assert(plan.contains("total_qty") && plan.contains("Filter"),
      s"q18 HAVING filter missing from the plan:\n$plan")
    // top-100: TakeOrderedAndProject, not a global Sort + Limit
    assert(plan.contains("TakeOrderedAndProject"),
      s"q18 top-100 is not TakeOrderedAndProject:\n$plan")
  }

  test("q10: returnflag and quarter filters pushed; agg before the customer join") {
    val plan = planOf(Analytics.q10ReturnedRevenue(spark, sf))
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"q10 returnflag filter not pushed to the lineitem scan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"q10 quarter filter not pushed to the orders scan:\n$plan")
    // the customer-grain aggregate must sit BELOW the customer join:
    // executedPlan.toString prints ROOT-FIRST, so "below" means the
    // partial aggregate appears AFTER the customer-join node (it lives
    // in the join's left subtree). Were the aggregation hoisted above
    // the join (the textbook join-4-ways-then-group shape), the
    // partial_sum line would print BEFORE the first join on c_custkey.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val agg = finalPlan.indexOf("partial_sum")
    assert(agg >= 0, s"q10 revenue not partially aggregated:\n$finalPlan")
    val custJoin = raw"(?m)^.*Join.*c_custkey.*$$".r.findFirstMatchIn(finalPlan)
    assert(custJoin.isDefined,
      s"q10 customer join not found in the final plan:\n$finalPlan")
    assert(custJoin.get.start < agg,
      s"q10 partial aggregate hoisted ABOVE the customer join " +
        s"(join@${custJoin.get.start} vs partial_sum@$agg):\n$finalPlan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q19: disjunction evaluates post-broadcast-join; lineitem never shuffles") {
    val plan = planOf(Analytics.q19DisjunctiveRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"q19 deals side not broadcast:\n$plan")
    // the only exchanges allowed are broadcasts and the 1-row final
    // agg's SinglePartition — no hashpartitioning of the fact
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      s"q19 shuffles the fact table:\n$finalPlan")
    // part-side envelope pushed to the part scan
    assert(plan.contains("In(p_brand") || plan.contains("p_brand IN"),
      s"q19 brand envelope not pushed to the part scan:\n$plan")
  }

  test("q14: ship-month pushed, part map broadcast, fact never hash-shuffles") {
    val plan = planOf(Analytics.q14PromoShare(spark, sf))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"q14 ship-month not pushed to the lineitem scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q14 part map not broadcast:\n$plan")
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      s"q14 shuffles the fact table:\n$finalPlan")
  }

  test("q8: part-type filter pushed; region/supplier sides broadcast") {
    val plan = planOf(Analytics.q8MarketShare(spark, sf))
    assert(plan.contains("EqualTo(p_type,ECONOMY)"),
      s"q8 part family filter not pushed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q8 dim sides not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q15: shipdate pushed on the revenue frame; memo cut leaves ONE lineitem scan") {
    // the pre-memo frame (the production code path feeding the cut):
    // quarter predicate must reach the lineitem scan, and the agg must
    // be a partial (combinable) roll-up
    val revPlan = planOf(Analytics.q15Revenue(spark, sf))
    assert(revPlan.contains("GreaterThanOrEqual(l_shipdate"),
      s"q15 shipdate filter not pushed to the lineitem scan:\n$revPlan")
    assert(revPlan.contains("partial_sum"),
      s"q15 revenue agg not map-side combinable:\n$revPlan")
    // the full query: the cut memoizes rev ONCE, so the final plan
    // reads the checkpoint — zero direct lineitem scans (the single
    // scan happened at memo build), and the fact grain never
    // hash-shuffles after the memo
    val plan = planOf(Analytics.q15TopSupplier(spark, sf))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllMatchIn(finalPlan).isEmpty,
      s"q15 re-scans lineitem past the memo cut:\n$finalPlan")
    assert(!finalPlan.contains("Exchange hashpartitioning"),
      s"q15 hash-shuffles after the supplier-grain memo:\n$finalPlan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q17: memo cut leaves zero direct lineitem scans; per-part table broadcast back") {
    val plan = planOf(Analytics.q17SmallQuantity(spark, sf))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    // brandLines is memoized once — the final plan reads the
    // checkpoint twice (per-part agg + the filtered sum), never the
    // parquet fact again
    assert("lineitem\\.parquet".r.findAllMatchIn(finalPlan).isEmpty,
      s"q17 re-scans lineitem past the memo cut:\n$finalPlan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q17 per-part average table not broadcast back over the memo:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q2: size/type push into the part scan; min join-back broadcast; no cartesian") {
    val plan = planOf(Analytics.q2MinCostSupp(spark, sf))
    // the narrow derivation must not block pushdown: the size/type
    // predicates belong on the PART scan (the scan's PushedFilters
    // string is metadata-truncated in toString, so match the
    // post-scan Filter node — FileSourceStrategy pushed the same set)
    assert(raw"Filter .*p_size#\d+ >= 10".r.findFirstIn(plan).isDefined,
      s"q2 size band not on the part scan's filter:\n$plan")
    assert(raw"p_type#\d+ = STANDARD".r.findFirstIn(plan).isDefined,
      s"q2 type filter not on the part scan's filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q2 min-cost join-back not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q2 top-100 is not TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q12: derived predicates prune in-row; ONE fact⋈fact shuffle") {
    val plan = planOf(Analytics.q12ShipmodePriority(spark, sf))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    // one lineitem pass, one orders pass
    assert("lineitem\\.parquet".r.findAllMatchIn(finalPlan).size <= 1,
      s"q12 scans lineitem more than once:\n$finalPlan")
    assert("orders\\.parquet".r.findAllMatchIn(finalPlan).size <= 1,
      s"q12 scans orders more than once:\n$finalPlan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q16: attribute filters push to the part scan; complainers anti-broadcast") {
    val plan = planOf(Analytics.q16SupplierCounts(spark, sf))
    assert(raw"p_size#\d+ IN \(1,4,9,14,19,23,36,45\)".r
      .findFirstIn(plan).isDefined,
      s"q16 size-set filter not on the part scan's filter:\n$plan")
    assert(raw"NOT \(p_brand#\d+ = Brand#12\)".r.findFirstIn(plan).isDefined,
      s"q16 brand exclusion not on the part scan's filter:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"q16 complaint screen is not an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q20: family prunes lineitem BEFORE its roll-up; memo cut leaves ONE scan") {
    // the pre-memo frame (the production path feeding the cut, the
    // q15Revenue idiom): ship-year pushed, family semi below the
    // roll-up
    val stockedPlan = planOf(Analytics.q20Stocked(spark, sf))
    assert(stockedPlan.contains("GreaterThanOrEqual(l_shipdate"),
      s"q20 ship-year not pushed to the lineitem scan:\n$stockedPlan")
    // the family semi-join must sit below the (partkey, suppkey)
    // roll-up: root-first print → the partial aggregate line appears
    // BEFORE (smaller index than) the lineitem-side semi-join on
    // p_partkey — were the roll-up unpruned (semi hoisted above the
    // agg), the semi would print before partial_sum.
    val stockedFinal = stockedPlan.split("== Initial Plan ==")(0)
    val agg = stockedFinal.indexOf("partial_sum")
    // physical semi joins print as "BroadcastHashJoin [keys], [keys],
    // LeftSemi, ..." — keys precede the join type, so match lines
    // carrying both tokens in any order
    val semis = raw"(?m)^(?=.*LeftSemi)(?=.*p_partkey).*$$".r
      .findAllMatchIn(stockedFinal).toSeq
    assert(agg >= 0 && semis.nonEmpty && agg < semis.last.start,
      s"q20 family prune not below the shipped roll-up " +
        s"(partial_sum@$agg vs last semi@${semis.lastOption.map(_.start)}):\n$stockedFinal")
    // the full query (r16 verdict #1): `stocked` feeds TWO consumers
    // (the 1-row share totals and the excess filter) and measurement
    // showed ReuseExchange NOT covering them (two lineitem scans) —
    // the memo cut pins it: the final plan reads the checkpoint, zero
    // direct lineitem scans (the single scan happened at memo build).
    val plan = planOf(Analytics.q20PartPromotion(spark, sf))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllMatchIn(finalPlan).isEmpty,
      s"q20 re-scans lineitem past the memo cut:\n$finalPlan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q21: ONE lineitem roll-up; status filter pushed; top-100 TakeOrdered") {
    val plan = planOf(Analytics.q21LateSuppliers(spark, sf))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("lineitem\\.parquet".r.findAllMatchIn(finalPlan).size <= 1,
      s"q21 scans lineitem more than once (the correlated-exists trap):\n$finalPlan")
    assert(plan.contains("EqualTo(o_orderstatus,F)"),
      s"q21 status filter not pushed to the orders scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q21 top-100 is not TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q22: lapse is LEFT ANTI with the date pushed; threshold a 1-row broadcast") {
    val plan = planOf(Analytics.q22SalesOpportunity(spark, sf))
    assert(plan.contains("LeftAnti"),
      s"q22 lapsed-customer filter is not an anti join:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"q22 lapse cutoff not pushed to the orders scan:\n$plan")
    // the only allowed join of the 1-row threshold is a broadcast
    // nested loop (a broadcast cross of one row) — never a cartesian
    assert(!plan.contains("CartesianProduct"),
      s"q22 threshold join degenerated to a cartesian:\n$plan")
  }

  test("cell health: centroids broadcast, in-row argmax, no corpus exchange, no cartesian") {
    val plan = planOf(graft.operators.Similarity.cellHealth(spark, sf))
    // corpus × centroids rides a broadcast (nested-loop on the tiny
    // centroid-array row), never a shuffled cartesian
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastHashJoin"),
      s"cell-health centroid join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cell-health degenerated to a cartesian:\n$plan")
    // r17: the vec-grain argmax is evaluated IN-ROW against the
    // broadcast centroid array (array_max over the same
    // (cell_cos, −cell) ordering the r16 max_by used — bit-identical
    // assignment), so the corpus must reach the ≤|cells| health agg
    // with NO vec-keyed exchange at all: the only hashpartitioning
    // exchanges allowed are on the cell key. This is STRICTER than the
    // old partial_max_by pin (which tolerated a corpus-wide shuffle,
    // merely map-side combined).
    assert(plan.contains("array_max"),
      s"cell-health argmax not the in-row array form:\n$plan")
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"cell-health still shuffles the corpus by vec_id:\n$plan")
    // the health roll-up itself must still partial-aggregate
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"cell-health roll-up not map-side combinable:\n$plan")
  }

  test("session concurrency sweeps PER DAY — no single-partition window") {
    val plan = planOf(TimeSeries.sessionConcurrency(spark, sf))
    // the sweep window must be keyed by the clipped day...
    assert(plan.contains("windowspecdefinition(day#"),
      s"sweep window not partitioned by day:\n$plan")
    // ...and nothing in the plan may funnel through one partition (a
    // global sweep is exactly the scale-killer the day clip removes;
    // the final ORDER BY over the ≤|days| ledger is rangepartitioning)
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition stage in the sweep plan:\n$plan")
  }

  test("audience overlap: pair stage is an in-row explode, never a self-join") {
    // the set build sits behind the memo cut (it feeds two consumers);
    // the visible plan is the pair stage — which must fan out IN-ROW
    // (Generate/explode over the set column) and join only the two
    // broadcast total frames, never shuffle-join the user frame
    val plan = planOf(Analytics.qAudienceOverlap(spark, sf))
    assert(plan.contains("Generate explode"),
      s"audience pair stage is not an in-row explode:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"audience pair stage shuffled a join:\n$plan")
  }

  /** The plan AQE ran (its initial plan is printed after it). */
  private def finalPlanOf(df: DataFrame): String =
    planOf(df).split("== Initial Plan ==")(0)

  private def lines(plan: String, node: String): Int =
    plan.linesIterator.count(_.contains(node))

  test("CC round: one join + one map-side-combined min aggregate, no Window/Expand") {
    val plan = finalPlanOf(Dedup.ccRoundFor(spark, sf))
    assert(lines(plan, "Join ") === 1, s"CC round joins more than once:\n$plan")
    assert(lines(plan, "partial_min(") === 1 && lines(plan, "HashAggregate(") === 2,
      s"CC round is not ONE partial+final min aggregate:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Expand"),
      s"Window/Expand in the CC round:\n$plan")
  }

  test("pagerank round: one exchange per join side + one partial_sum exchange") {
    val plan = finalPlanOf(Graph.pagerankRoundFor(spark, sf))
    assert(lines(plan, "Exchange hashpartitioning(src") <= 2,
      s"pagerank round shuffles a join side more than once:\n$plan")
    assert(lines(plan, "Exchange hashpartitioning(doc_id") === 1 &&
        lines(plan, "partial_sum(") === 1,
      s"pagerank round is not ONE partial_sum aggregate exchange:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Expand"),
      s"Window/Expand in the pagerank round:\n$plan")
  }

  test("label-prop round: one partial/final mode pair, one node-keyed exchange") {
    val plan = finalPlanOf(Graph.labelPropRoundFor(spark, sf))
    assert(lines(plan, "ObjectHashAggregate(") === 2 && lines(plan, "partial_mode(") === 1,
      s"label-prop round is not ONE ObjectHashAggregate pair:\n$plan")
    assert(lines(plan, "Exchange hashpartitioning(doc_id") === 1,
      s"label-prop round has a second node-keyed exchange:\n$plan")
  }
}
