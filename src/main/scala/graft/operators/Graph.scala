package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics over the dedup candidate-pair graph
  * (§2.4's edges reused as a general graph workload). Complements the
  * hash-min connected components of [[Dedup.cluster]] with a
  * RANK-style fixpoint — the other canonical "many rounds of joins"
  * distributed computation.
  */
object Graph {

  /** §2#106 PageRank over the near-dup graph, ALL-INTEGER: rank is
    * carried in 1e9-units and every update is
    * `rank' = 0.15·SCALE + 0.85·Σ contrib` with `contrib = rank div
    * out_degree` — integer div, integer sums, so the result is
    * bit-identical on any partitioning/core count (floating PageRank is
    * famously not). Fixed iteration count, no convergence collect.
    *
    * Use in a dedup pipeline: within a duplicate cluster the
    * highest-rank doc is the most-connected member — a principled
    * canonical-representative choice (vs min-doc_id).
    *
    * Scale: the degree-annotated edge list is built ONCE and
    * checkpointed; each round is one join (ranks ⋈ edges on src — both
    * sides pre-partitionable on the same key) + one map-side-combinable
    * sum per dst — no sink re-join: the graph is bidirected, so every
    * node receives contributions every round (see the in-loop note).
    * O(iters) shuffle rounds over |edges| rows — the standard
    * distributed PageRank shape; lineage cut per round. */
  def pagerank(spark: SparkSession, sfDir: String, iters: Int = 6): DataFrame =
    pagerankFrom(Dedup.candidatePairs(spark, sfDir), iters)

  /** PageRank over ANY (doc_a, doc_b) edge frame — the session memo's
    * pairs or a [[Dedup.persistedCandidates]] read-back. */
  def pagerankFrom(edges: DataFrame, iters: Int = 6): DataFrame = {
    val (edgesDeg, ranks0) = pagerankSetup(edges)
    var ranks = ranks0
    for (_ <- 1 to iters) {
      ranks = pagerankRound(edgesDeg, ranks).transform(graft.Checkpoints.cut)
    }
    ranks.select(col("doc_id"), col("rank").as("rank_e9"))
      .orderBy(col("doc_id"))
  }

  /** What every pagerank round reads, cut once: the degree-annotated
    * edge frame (`src`, `dst`, `out_deg`) and round 1's uniform ranks.
    * The edges are repartitioned on `src` before their cut, yet AQE's
    * final plan of each round still shuffles them on `src` again
    * (PlanQualitySpec allows one exchange per join side), so every
    * round moves |edges| rows, not only the rank frame. */
  private def pagerankSetup(edges: DataFrame): (DataFrame, DataFrame) = {
    val bidir = edges.unionByName(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val deg = bidir.groupBy(col("doc_a").as("src"))
      .agg(count(lit(1)).as("out_deg"))
    val edgesDeg = bidir.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .join(deg, "src")
      .repartition(col("src"))
      .transform(graft.Checkpoints.cut)
    val nodes = deg.select(col("src").as("doc_id")).transform(graft.Checkpoints.cut)
    (edgesDeg, nodes.select(col("doc_id"), lit(prScale).as("rank")))
  }

  private val prScale = 1000000000L

  /** ONE pagerank round, pre-cut — the body the loop checkpoints.
    * Extracted (r18, verdict #8) so [[graft.Plans]] can dump the
    * per-round plan that the lineage cuts otherwise hide: one join
    * against the pre-partitioned edge frame + one map-side-combinable
    * sum. No sink re-join (r17, guide §2.3): the graph is BIDIRECTED,
    * so every node in `nodes` (an out-edge src) is also some edge's
    * dst and every src carries a rank (induction from round 1's full
    * node set) — contrib's key set IS the node set, every round. The
    * old `nodes ⟕ contrib` guard join (one extra shuffle+sort per
    * round) was therefore a no-op; hash-gated and row-identical
    * (coalesce never fired — in_sum is never NULL). */
  private[graft] def pagerankRound(edgesDeg: DataFrame,
      ranks: DataFrame): DataFrame =
    edgesDeg
      .join(ranks.select(col("doc_id").as("src"), col("rank")), "src")
      .select(col("dst").as("doc_id"), expr("rank div out_deg").as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("in_sum"))
      .select(col("doc_id"),
        (lit(15L * prScale / 100L) +
          expr("85 * in_sum div 100")).as("rank"))

  /** The representative pre-cut pagerank round over the real corpus
    * edges — what `graft.Plans` dumps as `graph_pagerank_round` and
    * PlanQualitySpec pins (round shape: ≤1 exchange on each join side
    * + 1 partial_sum aggregate exchange, zero Expand/Window). The edge
    * side is shuffled on `src` again despite the repartition before its
    * cut. */
  private[graft] def pagerankRoundFor(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (edgesDeg, ranks) = pagerankSetup(Dedup.candidatePairs(spark, sfDir))
    pagerankRound(edgesDeg, ranks)
  }

  /** §2#133 k-core decomposition by iterative peeling: repeatedly drop
    * nodes of degree < k (and their edges) until a fixpoint — what
    * survives is the maximal subgraph where every member has ≥ k
    * neighbors INSIDE the subgraph. On the near-dup candidate graph the
    * k-core separates genuinely duplicated cliques from stars of
    * pairwise accidents: a hub with 50 one-off matches peels away the
    * moment its leaves do, while a 4-clique of true copies survives
    * k=3 forever. The density ladder next to [[triangles]] (local
    * count) and [[pagerank]] (global weight).
    *
    * Scale: each round is one map-side-combinable degree agg + two
    * left-semi joins on the edge frame, lineage cut per round
    * ([[Dedup.cluster]]'s checkpoint discipline); rounds ≤ peeling
    * depth (tiny on bounded-degeneracy dup graphs — each round removes
    * EVERY currently-underdegree node, not one). The one `count()` per
    * round is the standard convergence check on in-memory blocks. */
  def kcore(spark: SparkSession, sfDir: String, k: Int = 2): DataFrame = {
    kcoreFrom(Dedup.candidatePairs(spark, sfDir), k)
  }

  /** Core of [[kcore]] over any unique `(doc_a < doc_b)` edge list. */
  def kcoreFrom(edges0: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    var edges = edges0.select(col("doc_a"), col("doc_b")).transform(graft.Checkpoints.cut)
    var prevEdges = edges.count()
    var converged = prevEdges == 0L
    var rounds = 0
    while (!converged) {
      rounds += 1
      // rounds are bounded by the peeling depth, which can reach
      // ~nodes/2 on a long path (both ends peel per round) — the cap is
      // a runaway guard, not an expected bound
      require(rounds <= 1000, s"k-core peeling did not converge in $rounds rounds")
      val deg = edges.select(col("doc_a").as("d"))
        .unionAll(edges.select(col("doc_b").as("d")))
        .groupBy(col("d")).agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select(col("d"))
      val pruned = edges
        .join(keep.select(col("d").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(keep.select(col("d").as("doc_b")), Seq("doc_b"), "left_semi")
        .transform(graft.Checkpoints.cut)
      val n = pruned.count()
      converged = n == prevEdges || n == 0L
      prevEdges = n
      edges = pruned
    }
    edges.select(col("doc_a").as("doc_id"))
      .unionAll(edges.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("core_deg"))
      .where(col("core_deg") >= k)
      .orderBy(col("doc_id"))
  }

  /** §2#175 LABEL-PROPAGATION community detection (Raghavan, Albert &
    * Kumara 2007) over the near-dup candidate graph — the near-linear
    * community pass that groups TEMPLATED FAMILIES (docs sharing
    * boilerplate with several relatives without being pairwise
    * near-dups of all of them), one level coarser than
    * [[Dedup.cluster]]'s exact connected components. Deterministic
    * synchronous variant: every node adopts the most frequent label
    * among its neighbors PLUS ITSELF each round (the self-vote damps
    * the classic bipartite oscillation), ties broken by smallest
    * label, fixed iteration count — no RNG, no async visit order, so
    * the result is bit-identical on any partitioning.
    *
    * Scale: per round ONE join of the label frame (|nodes| rows)
    * against the once-partitioned-and-checkpointed edge frame + a
    * map-side-combinable (node, label) vote count + an argmax agg —
    * the same O(iters) shuffle-round shape as [[pagerank]], lineage
    * cut per round. A clique collapses to its min label in one round;
    * communities joined by single bridge edges stay separate (the
    * bridge vote never outnumbers the in-community majority). */
  def labelProp(spark: SparkSession, sfDir: String, iters: Int = 8): DataFrame =
    labelPropFrom(Dedup.candidatePairs(spark, sfDir), iters)

  /** Core of [[labelProp]] over any unique `(doc_a < doc_b)` edge list. */
  def labelPropFrom(edges: DataFrame, iters: Int = 8): DataFrame = {
    val (bidir, labels0) = labelPropSetup(edges)
    var labels = labels0
    for (_ <- 1 to iters) {
      labels = labelPropRound(bidir, labels).transform(graft.Checkpoints.cut)
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label")
      .select(col("doc_id"), col("label").as("community"), col("community_size"))
      .orderBy(col("doc_id"))
  }

  /** What every label-prop round reads, cut once: the bidirected
    * `(src, dst)` edge frame and round 1's labels (each node its own).
    * As in [[pagerankSetup]], AQE's final round plan still shuffles the
    * edges on `src` despite the repartition before their cut. */
  private def labelPropSetup(edges: DataFrame): (DataFrame, DataFrame) = {
    val bidir = edges.unionByName(
        edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .repartition(col("src"))
      .transform(graft.Checkpoints.cut)
    val nodes = bidir.select(col("src").as("doc_id")).distinct()
      .transform(graft.Checkpoints.cut)
    (bidir, nodes.select(col("doc_id"), col("doc_id").as("label")))
  }

  /** ONE label-propagation round, pre-cut — the body the loop
    * checkpoints, extracted (r18, verdict #8) so [[graft.Plans]] can
    * dump the per-round plan that the lineage cuts otherwise hide.
    * ONE node-keyed aggregate per round (r17, guide §2.3): the vote
    * count and the argmax used to be two stacked groupBys — an
    * Exchange(doc_id, label) followed by an Exchange(doc_id), both
    * message-frame-sized, EVERY round. `mode(label, true)` is the
    * fused form: deterministic mode returns the LOWEST value among
    * the most frequent, which is exactly the old
    * (votes desc, label asc) tie-break (probed + hash-gated), and
    * its partial ObjectHashAggregate buffers merge map-side, so the
    * one remaining shuffle carries per-node label→count maps. */
  private[graft] def labelPropRound(bidir: DataFrame,
      labels: DataFrame): DataFrame =
    bidir
      .join(labels.select(col("doc_id").as("src"), col("label")), "src")
      .select(col("dst").as("doc_id"), col("label"))
      .unionByName(labels) // the self-vote
      .groupBy(col("doc_id"))
      .agg(expr("mode(label, true)").as("label"))

  /** The representative pre-cut label-prop round over the real corpus
    * edges — what `graft.Plans` dumps as `graph_label_prop_round` and
    * PlanQualitySpec pins (round shape: ONE ObjectHashAggregate pair
    * with a partial mode, no second node-keyed exchange). */
  private[graft] def labelPropRoundFor(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (bidir, labels) = labelPropSetup(Dedup.candidatePairs(spark, sfDir))
    labelPropRound(bidir, labels)
  }

  /** §2#122 triangle counting over the near-dup candidate graph, with
    * DEGREE ORIENTATION (the distributed-triangle standard, cf. Suri &
    * Vassilvitskii WWW'11 "Counting Triangles and the Curse of the Last
    * Reducer"): every undirected edge is oriented from its
    * (degree, id)-smaller endpoint to the larger, so each triangle has
    * exactly one apex with two out-edges and is counted once. The wedge
    * join fans out Σ out_deg(v)² which degree orientation bounds by
    * O(|E|·arboricity) — a hub of degree d contributes d wedges as an
    * apex only if everything it touches is even better connected,
    * instead of the d² a naive id-orientation gives the "last reducer".
    *
    * Shape: degree agg (map-side combinable) + two broadcast-free
    * equi-joins; the edge frame is the memoized candidate-pair stage
    * shared with jaccard/containment/cluster/pagerank. Use in a dedup
    * pipeline: triangle-dense docs sit in tight copy-clusters (mutual
    * near-dups), triangle-free candidates are usually pairwise-only
    * accidents — a cheap cluster-density signal next to [[pagerank]].
    */
  def triangles(spark: SparkSession, sfDir: String): DataFrame =
    trianglesFrom(Dedup.candidatePairs(spark, sfDir))

  /** Core of [[triangles]] over any unique `(doc_a < doc_b)` edge list. */
  def trianglesFrom(e: DataFrame): DataFrame = {
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("doc_id").as("doc_a"), col("deg").as("deg_a")), "doc_a")
      .join(deg.select(col("doc_id").as("doc_b"), col("deg").as("deg_b")), "doc_b")
      .select(
        // ties broken by id; doc_a < doc_b, so equal degrees orient a→b
        when(col("deg_a") <= col("deg_b"), col("doc_a")).otherwise(col("doc_b")).as("lo"),
        when(col("deg_a") <= col("deg_b"), col("doc_b")).otherwise(col("doc_a")).as("hi"))
    // wedges at the apex; hi1 < hi2 by id so each unordered wedge
    // appears once, and the closing edge lookup key is already the
    // id-canonical (doc_a, doc_b) form the edge list stores
    val w = ed.as("e1").join(ed.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("x"), col("e1.hi").as("y"), col("e2.hi").as("z"))
    val tri = w.join(e, col("y") === col("doc_a") && col("z") === col("doc_b"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("doc_id"))
  }

  /** §2#188 MULTI-SOURCE BFS hop distance to the cluster canonical —
    * "how far is each doc from its cluster's representative", the
    * graph-distance companion to [[Dedup.cluster]]'s membership: a doc
    * at 1 hop is a direct near-dup of the canonical; 2+ hops reached
    * the cluster only transitively (chain A~B~C where A≁C — exactly
    * the pairs worth a human look before a whole chain is collapsed).
    *
    * Frontier BFS from ALL roots at once (each component's canonical
    * is its own root, so waves never cross components): per round, the
    * frontier's neighbors minus everything visited become the next
    * frontier at hops+1 — the Pregel BFS recipe. Per-round cost is one
    * join of |frontier-incident edges| + one anti-join against the
    * visited set (both keyed on doc_id, co-partitionable); rounds =
    * eccentricity of the deepest component, each lineage-cut. The same
    * loop at 100 TB is bounded by O(diameter) shuffles over |edges| —
    * the recursive-CTE formulation the oracle uses cannot distribute,
    * which is why the engine ships the iterative form.
    *
    * `maxHops` caps pathological chains (and matches the oracle's
    * recursion guard); the corpus' near-dup clusters are star-like, so
    * the loop exits on an empty frontier long before the cap. */
  /** §2#227 PER-DOC DEGREE in the near-dup candidate graph — the
    * cheapest whole-graph health read: degree 0 = unique content,
    * small degrees = ordinary near-dup pairs, large degrees = hub docs
    * (boilerplate/templates) that inflate every pairwise stage
    * downstream and are the first candidates for df-capping or
    * outright removal. Runs off the SAME memoized candidate-pair
    * frame as pagerank/kcore/cluster — zero extra pair computation in
    * a session or against the persisted pair artifact.
    *
    * Shape: pairs carry doc_a < doc_b once, so degree = one union of
    * the two endpoint columns + one map-side-combinable count, then a
    * left join against the doc spine to keep degree-0 docs (the join
    * is |docs| ⋈ |docs-with-pairs|, both sides shuffled on doc_id —
    * or exchange-free against a doc_id-bucketed table). Edges never
    * leave their source partition groups (a.source = b.source), so
    * the op is exact under whole-source stratified gates. */
  def degreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.candidatePairs(spark, sfDir)
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    Tables.documentsPar(spark, sfDir).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .orderBy(col("doc_id"))
  }

  def bfsDist(spark: SparkSession, sfDir: String, maxHops: Int = 20): DataFrame =
    bfsDistFrom(Dedup.candidatePairs(spark, sfDir),
      Dedup.clusterLabels(spark, sfDir), maxHops)

  /** BFS over ANY (doc_a, doc_b) edge frame given a (doc_id,
    * cluster_id) labeling whose cluster ids are the roots. */
  def bfsDistFrom(edges: DataFrame, clusters: DataFrame,
      maxHops: Int): DataFrame = {
    val bidir = edges.unionByName(
        edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .transform(graft.Checkpoints.cut)
    // clusters arrives as the memoized (already materialized) label
    // frame — never re-cut it here: a cut of the r16 ordered form
    // executed a dead full sort (r17: measured 3.2 s → 6.1 s before
    // reverting)
    val cl = clusters
    var visited = cl.select(col("cluster_id").as("doc_id")).distinct()
      .withColumn("hops", lit(0L)).transform(graft.Checkpoints.cut)
    var frontier = visited
    var round = 0
    var grew = 1L
    while (grew > 0 && round < maxHops) {
      val next = bidir
        .join(frontier.select(col("doc_id").as("doc_a")), "doc_a")
        .select(col("doc_b").as("doc_id")).distinct()
        .join(visited.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("hops", lit((round + 1).toLong))
        .transform(graft.Checkpoints.cut)
      grew = next.count()
      if (grew > 0) {
        // visited stays a LAZY union of already-cut waves: the
        // anti-join reads the same materialized blocks either way, so
        // the per-round re-materialization job bought nothing (r17)
        visited = visited.unionByName(next)
        frontier = next
      }
      round += 1
    }
    cl.join(visited, "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("hops"))
      .orderBy(col("doc_id"))
  }

  /** §2#239 PARTITION MODULARITY of the near-dup graph under the
    * LANGUAGE labeling (Newman & Girvan 2004): Q = Σ_c (e_c/m −
    * (d_c/2m)²) — how much more intra-language the duplicate edges
    * are than a degree-preserving random rewiring. The curation
    * question it answers: near-dups should be language-assortative
    * (same text, same language); a LOW modularity means heavy
    * cross-language edge mass — template/boilerplate duplication or a
    * broken language tagger — exactly what to inspect before trusting
    * per-language dedup or mixing decisions. (The CC clusters of
    * [[Dedup.cluster]] would be the degenerate labeling here — every
    * candidate edge is intra-component by construction — so the
    * INDEPENDENT lang label is the partition under test.)
    *
    * Exact integers: per language the summand is reported as the
    * numerator q_num = 4m·e_c − d_c² over the implied common
    * denominator 4m² (Q = Σ q_num / 4m²) — no division, no floats;
    * exact while m < 2³⁰ (4m² < 2⁶³ — the near-dup graph is orders of
    * magnitude sparser than the corpus; past that, per-language
    * reduced rationals are the upgrade path). A `__ALL__` row carries
    * the column sums — its d_sum IS 2m and its q_num IS the Q
    * numerator — so the reader reconstitutes Q from one table.
    *
    * Shape: reuses the memoized candidate pairs; two broadcast-sized
    * joins (doc → lang), one combinable per-lang agg, the global m as
    * a 1-row broadcast (the [[graft.cdc.Changefeed.fanIn]] pattern —
    * never a driver-side count). */
  def modularity(spark: SparkSession, sfDir: String): DataFrame =
    modularityFrom(Dedup.candidatePairs(spark, sfDir),
      Tables.documentsPar(spark, sfDir).select(col("doc_id"), col("lang")))

  /** [[modularity]] over any (doc_a, doc_b) edges + (doc_id, lang)
    * labeling. */
  def modularityFrom(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"))
    val labeled = pairs.join(la, "doc_a").join(lb, "doc_b")
    val mRow = pairs.agg(count(lit(1)).as("m"))
    // intra-language edge counts (cross-language edges belong to no c)
    val eIn = labeled.where(col("lang_a") === col("lang_b"))
      .groupBy(col("lang_a").as("lang")).agg(count(lit(1)).as("e_in"))
    // degree mass per language: every edge endpoint contributes 1
    val dSum = labeled.select(col("lang_a").as("lang"))
      .unionByName(labeled.select(col("lang_b").as("lang")))
      .groupBy(col("lang")).agg(count(lit(1)).as("d_sum"))
    val nDocs = labels.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val per = nDocs
      .join(dSum, Seq("lang"), "left").join(eIn, Seq("lang"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("lang"), col("n_docs"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - coalesce(col("d_sum"), lit(0L)) * coalesce(col("d_sum"), lit(0L)))
          .as("q_num"))
    val total = per.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("d_sum")).as("d_sum"), sum(col("e_in")).as("e_in"),
        sum(col("q_num")).as("q_num"))
      .select(lit("__ALL__").as("lang"), col("n_docs"), col("d_sum"),
        col("e_in"), col("q_num"))
    per.unionByName(total).orderBy(col("lang"))
  }

  /** §2#258 LOCAL CLUSTERING COEFFICIENT — per node, how close its
    * neighborhood is to a clique (Watts & Strogatz 1998):
    * 2·triangles(v) / (deg(v)·(deg(v)−1)) in per-mille. On the
    * candidate graph it separates CLIQUE members (tight dup clusters,
    * coeff → 1000) from HUB documents (boilerplate matching many
    * unrelated docs, coeff → 0) — the per-node refinement of what
    * #247 scores per edge, and the standard screen before collapsing
    * a cluster to its canonical.
    *
    * Shape: composes the wedge-join triangle count (#122, degree-
    * bounded) with the combinable degree count; one doc-spine left
    * join keeps isolated docs at coeff 0. */
  def clusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Dedup.candidatePairs(spark, sfDir)
    val deg = e.select(col("doc_a").as("doc_id"))
      .unionAll(e.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tri = trianglesFrom(e)
    Tables.documentsPar(spark, sfDir).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_pm",
        expr("2000 * n_tri div greatest(degree * (degree - 1), 1)"))
      .orderBy(col("doc_id"))
  }

  /** §2#247 NEIGHBOR-SET JACCARD — structural similarity of candidate
    * PAIRS: for each edge (a,b), the Jaccard of the two endpoints'
    * neighbor SETS in per-mille (|N(a)∩N(b)| / |N(a)∪N(b)| — the
    * classic link-prediction / role-similarity score, e.g. SimRank's
    * first iteration; Leskovec et al., MMDS ch.10). High doc-text
    * similarity with LOW structural similarity flags bridge documents
    * between dup clusters; high-high pairs sit inside a clique and are
    * safe to collapse. Complements dedup_cluster (which only labels
    * membership) with an edge-strength readout.
    *
    * Shape: the wedge join counts common neighbors per EDGE — fanout
    * bounded by degree (arboricity-bounded on the banded candidate
    * graph, the graph_triangles argument), never doc×doc; degrees are
    * one combinable count; all-integer output. Zero-common edges are
    * kept via left join so the row count is exactly |candidate pairs|. */
  def neighborJaccard(spark: SparkSession, sfDir: String): DataFrame =
    neighborJaccardFrom(Dedup.candidatePairs(spark, sfDir))

  /** [[neighborJaccard]] over any (doc_a < doc_b) edge list. */
  def neighborJaccardFrom(e: DataFrame): DataFrame = {
    // symmetric adjacency: u's neighbor list with u as the key
    val adj = e.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // common neighbors per edge: wedges closing both endpoints share
    // the middle vertex v; v can never be a or b (no self-loops), so
    // the count is exactly |N(a)∩N(b)\{a,b}| = |N(a)∩N(b)|
    val common = e.as("p")
      .join(adj.as("x"), col("p.doc_a") === col("x.u"))
      .join(adj.as("y"),
        col("p.doc_b") === col("y.u") && col("x.v") === col("y.v"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common_nbrs"))
    e.join(common, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("common_nbrs"))
      .join(deg.select(col("u").as("doc_a"), col("deg").as("deg_a")), "doc_a")
      .join(deg.select(col("u").as("doc_b"), col("deg").as("deg_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("common_nbrs"),
        (col("deg_a") + col("deg_b") - col("common_nbrs")).as("union_nbrs"),
        expr("1000 * common_nbrs div (deg_a + deg_b - common_nbrs)")
          .as("jaccard_pm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** §2#264 ADAMIC–ADAR LINK SCORE — the degree-weighted refinement of
    * #247 (Adamic & Adar 2003, the strongest classical link-prediction
    * baseline; Liben-Nowell & Kleinberg 2007): per candidate edge,
    * Σ_{z ∈ N(a)∩N(b)} 1/log₂(deg z) — a common neighbor that is
    * itself a hub (boilerplate matching everything) contributes almost
    * nothing, while a rare shared neighbor is strong evidence the pair
    * belongs to one dup cluster. In exact integers: each middle vertex
    * contributes 1000 div ⌊log₂ deg(z)⌋ milli-units (the #221 half-bit
    * log, length(bin(deg))−1; a common neighbor has deg ≥ 2 by
    * construction so the floor-log is ≥ 1 — no zero division).
    *
    * Shape: identical to #247's wedge join — the middle vertex carries
    * its precomputed weight into the join, so the score is one
    * combinable sum per edge (fanout degree-bounded, never doc²); the
    * doc-pair spine is kept via left join (zero-common edges score 0). */
  def adamicAdar(spark: SparkSession, sfDir: String): DataFrame =
    adamicAdarFrom(Dedup.candidatePairs(spark, sfDir))

  /** [[adamicAdar]] over any (doc_a < doc_b) edge list. */
  def adamicAdarFrom(e: DataFrame): DataFrame = {
    val adj = e.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // middle-vertex weight rides the adjacency row into the wedge join
    val adjW = adj.join(deg.select(col("u").as("v"), col("deg")), "v")
      .select(col("u"), col("v"),
        expr("1000 div greatest(length(bin(deg)) - 1, 1)").as("w"))
    val scored = e.as("p")
      .join(adjW.as("x"), col("p.doc_a") === col("x.u"))
      .join(adj.as("y"),
        col("p.doc_b") === col("y.u") && col("x.v") === col("y.v"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("common_nbrs"), sum(col("x.w")).as("aa_milli"))
    e.join(scored, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("common_nbrs", "aa_milli"))
      .select(col("doc_a"), col("doc_b"), col("common_nbrs"), col("aa_milli"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** §2#265 DEGREE ASSORTATIVITY MOMENTS — does the candidate graph
    * wire hubs to hubs (assortative, Newman 2002) or hubs to leaves
    * (disassortative — the boilerplate-hub signature)? The statistic
    * is the Pearson correlation of endpoint degrees over the
    * DIRECTED edge list; following #96's convention this ships the
    * exact centered integer moments (n, means, Σdx², Σdy², Σdx·dy) —
    * the sufficient statistics, from which r = mxy/√(m2x·m2y); the
    * symmetric edge list makes the two marginals identical, which the
    * equal m2x/m2y columns prove in-band. Centering around the
    * integer mean keeps every sum within int64 at any realistic edge
    * count (the #96 overflow argument: deviations are bounded by the
    * degree range, not the corpus magnitude), and Σdx·dy may be
    * NEGATIVE — no division touches it (the #243 seam rule).
    *
    * Shape: one combinable degree count, two joins to annotate edge
    * endpoints (each |edges| ⋈ |nodes| on a key), a 1-row mean agg
    * broadcast back, one combinable moment sum. One output row. */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame =
    assortativityFrom(Dedup.candidatePairs(spark, sfDir))

  /** [[assortativity]] over any (doc_a < doc_b) edge list. */
  def assortativityFrom(e: DataFrame): DataFrame = {
    val adj = e.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val ed = adj
      .join(deg.select(col("u"), col("deg").as("deg_src")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("deg_dst")), "v")
      .select(col("deg_src"), col("deg_dst"))
    val means = ed.agg(count(lit(1)).as("n_dir_edges"),
        sum(col("deg_src")).as("sx"), sum(col("deg_dst")).as("sy"))
      .select(col("n_dir_edges"),
        expr("sx div n_dir_edges").as("mean_src_deg"),
        expr("sy div n_dir_edges").as("mean_dst_deg"))
    ed.crossJoin(broadcast(means))
      .select(col("n_dir_edges"), col("mean_src_deg"), col("mean_dst_deg"),
        (col("deg_src") - col("mean_src_deg")).as("dx"),
        (col("deg_dst") - col("mean_dst_deg")).as("dy"))
      .groupBy(col("n_dir_edges"), col("mean_src_deg"), col("mean_dst_deg"))
      .agg(sum(col("dx") * col("dx")).as("m2x"),
        sum(col("dy") * col("dy")).as("m2y"),
        sum(col("dx") * col("dy")).as("mxy"))
  }
}
