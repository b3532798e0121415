package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the supplier–part bipartite graph implied by
  * lineitem (edge = "supplier ships part") — SURVEY.md §7.5 extension next
  * to dedup_cc_clusters' connected components: iterative computation
  * expressed as bounded rounds of join + hash-agg, the only graph pattern
  * that survives 100 TB (each round is one shuffle on the edge key; the
  * driver never sees a vertex).
  *
  * Node encoding: suppkey·2 for suppliers, partkey·2+1 for parts — a BIGINT
  * key keeps the per-round shuffle narrow (vs string-typed "s:123" ids).
  *
  * Determinism (hash-gate): the whole iteration runs in FIXED-POINT
  * micro-units (BIGINT, 1.0 = 1,000,000) — `r div d` integer division,
  * exact integer sums, damping as `150000 + (85·Σ) div 100`. Integer
  * arithmetic is bit-identical across engines (round-6 of a damped double
  * is NOT: a value landing within an ulp of a scale-6 midpoint rounds
  * differently in Spark's BigDecimal-HALF_UP vs DuckDB's scaled-multiply
  * round — observed at sf0.01 iteration 3). The only float op is the final
  * display divide r/1e6: one IEEE op on an exactly-representable long,
  * identical in both engines.
  */
object Graph {

  private val Iters = 3

  // Shared edge PROJECTIONS, each a `Tables.scratchRelation` memo over
  // lineitem: every graph entry starts from one of three tiny derived
  // relations (the distinct supplier–part incidence, its quantity-50
  // slice, or the co-supply pair list), so the lineitem scan + distinct
  // (+ the pair self-join) runs once per dataset instead of once per
  // metric — materialize the edge table, then run every algorithm off it.
  // Longs round-trip parquet exactly, so every consumer is hash-identical
  // to the inline derivation.

  /** The distinct (s, p) supplier–part incidence — the base relation of
    * pagerank/ppr/hits/degree/BFS/SSSP, persisted once per dataset. */
  private def spAll(spark: SparkSession, dir: String): DataFrame =
    Tables.scratchRelation(spark, dir, "graph_sp_all", Seq("lineitem"), "v1") {
      Tables.lineitem(spark, dir)
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .distinct()
    }

  /** The quantity-50 sparsified (p, s) slice — kcore's and the co-supply
    * projection's base, persisted once per dataset (version "q50" names
    * the q>49 sparsifier, a derivation constant). */
  private def sp50(spark: SparkSession, dir: String): DataFrame =
    Tables.scratchRelation(spark, dir, "graph_sp50", Seq("lineitem"), "q50") {
      Tables.lineitem(spark, dir)
        .filter(col("l_quantity") > 49)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
        .distinct()
    }

  /** Undirected edge list, both directions, from the distinct
    * supplier–part pairs. */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val e0 = spAll(spark, dir)
    e0.select((col("s") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
      .unionByName(e0.select((col("p") * 2 + 1).as("src"), (col("s") * 2).as("dst")))
  }

  /** PageRank, `Iters` damped power iterations (d=0.85, uniform init 1.0),
    * top-25 nodes. Each iteration: join static (edges ⋈ degrees) with the
    * current ranks on src — one shuffle of the edge list per round — then
    * hash-agg on dst with map-side partials. The edge⋈degree relation is
    * cached once (real 3× reuse) and PRE-PARTITIONED on the join key: the
    * cached InMemoryTableScan reports HashPartitioning(src), so
    * EnsureRequirements skips the exchange on the edge side every
    * iteration — only the (node-sized, much smaller) rank relation
    * shuffles per round. Rank relations stay lazy lineage. A fixed
    * iteration count (not convergence-to-ε) keeps the plan static and the
    * oracle expressible as chained CTEs. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val ed = edges(spark, dir)
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val withDeg = ed.join(deg, "src").repartition(col("src")).cache()
    var r = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to Iters) {
      r = withDeg.join(r, withDeg("src") === r("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(expr("150000L + (85 * sum(contrib)) div 100").as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    r.select(col("node"), (col("r") / lit(1000000.0)).as("rank"))
      .orderBy(desc("rank"), col("node")).limit(25)
  }

  /** Personalized PageRank (Page et al. 1999 §6; the random-walk-with-
    * restart of Jeh & Widom 2003) from the supplier seed set {1..5} —
    * `graph_pagerank` answers "globally important", this answers
    * "important RELATIVE TO these seeds" (the relevance ranking behind
    * recommendation and similar-entity queries). Same damped power
    * iteration, but the teleport mass returns to the SEEDS instead of
    * spreading uniformly: r'(v) = tele(v) + 0.85·Σ r(u)/d(u), with
    * tele(v) = 150000·N DIV |S| on seeds, 0 elsewhere (total teleport
    * mass matches the uniform variant's 150000·N, so magnitudes stay
    * pagerank-comparable). Fixed-point micro-units, all-positive DIV —
    * exact BIGINT in both engines, no floats until the final display
    * division.
    *
    * Scale: pagerank's shuffle shape (cached pre-partitioned edge⋈degree
    * side; only the node-sized rank relation shuffles per round) plus a
    * FULL OUTER join with the node-sized teleport relation each round —
    * early iterations' rank relations are SPARSE (only reached nodes
    * carry rows), the walk-frontier economy a dense vector misses. */
  def pprSeeded(spark: SparkSession, dir: String): DataFrame = {
    val ed = edges(spark, dir)
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val withDeg = ed.join(deg, "src").repartition(col("src")).cache()
    val seeds = deg.select(col("src").as("node"))
      .filter(col("node") % 2 === 0 && expr("node DIV 2") <= 5)
    val counts = deg.agg(count(lit(1)).as("nn"))
      .crossJoin(broadcast(seeds.agg(count(lit(1)).as("sc"))))
    val tele = seeds.crossJoin(broadcast(counts))
      .select(col("node"), expr("150000 * nn DIV sc").as("t"))
      .cache() // read every iteration + as r0
    var r = tele.select(col("node"),
      expr("1000000 * t DIV 150000").as("r")) // seeds start with full mass
    for (_ <- 1 to Iters) {
      val flow = withDeg.join(r, withDeg("src") === r("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(expr("(85 * sum(contrib)) div 100").as("flow"))
        .select(col("dst").as("node"), col("flow"))
      r = flow.join(tele, Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("flow"), lit(0L)) + coalesce(col("t"), lit(0L)))
            .as("r"))
    }
    r.select(col("node"), (col("r") / lit(1000000.0)).as("rank"))
      .orderBy(desc("rank"), col("node")).limit(25)
  }

  /** HITS (Kleinberg's hubs-and-authorities) on the DIRECTED bipartite
    * supplier→part graph — the link-analysis twin of `graph_pagerank`
    * for asymmetric roles: suppliers are pure hubs (they only point),
    * parts pure authorities (they are only pointed at), so the mutual
    * reinforcement a(p)=Σh(s), h(s)=Σa(p) ranks parts by the strength of
    * the supplier set behind them and suppliers by the strength of their
    * catalog. Two full (authority, hub) rounds from uniform hubs,
    * SUM-normalized each half-step.
    *
    * Determinism: the whole iteration is fixed-point micro-units with
    * `x * 1e6 DIV total` sum-normalization (all operands positive —
    * Spark's truncating DIV ≡ DuckDB's flooring `//`), so every score is
    * an exact BIGINT in both engines; no float appears anywhere. Long
    * bound: `raw·1e6` needs raw < 9.2e12, i.e. per-node weighted degree
    * sums below ~9e6 micro-mass — holds far past the test SFs since the
    * normalized mass totals ~1e6 across the whole side.
    *
    * Scale: per half-step one edge-key equi-join + hash-agg (the
    * pagerank shuffle shape) and a broadcast 1-row total (the A4
    * pattern); the edge list is cached once for its 4 reads (released by
    * the cache contract of `SparkEntry.runEach`). Top-15
    * per side via a per-side rank window (partitioned by node_type). */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val e = spAll(spark, dir)
      .cache()
    // Each half-step's sum-normalizer reads the raw scores ONCE via a
    // grand-total window over the grouped per-side output (the W1
    // `win_grand_avg_diff` pattern: unpartitioned window over a grouped
    // relation, the repo's documented constraint) — same exact integer
    // `x * 1e6 DIV tot` in one evaluation. The r12 form cached raw and
    // cross-joined a 1-row broadcast total (A4): correct, but it paid 4
    // cache materializations + 4 agg jobs + 4 broadcast builds per entry;
    // without SOME single-evaluation device the double read compounds
    // down the a→h→a→h chain into 2^half-steps re-evaluations of the
    // edge join (measured 15.2 s at sf0.1 — the sim_mmr_rerank lineage
    // lesson). r13 interleaved A/B (min estimator, sf0.1 local[32]):
    // cache+broadcast 2.50/2.71 s → window 1.19/1.46 s. The window frame
    // is one side's node-aggregated scores — the same relation the cache
    // previously held whole in one executor's block store.
    def normalized(raw0: DataFrame, key: String, v: String): DataFrame =
      raw0.withColumn("tot", sum(col(v)).over(Window.partitionBy(lit(1))))
        .select(col(key), expr(s"$v * 1000000 DIV tot").as(v))
    var h = e.select(col("s")).distinct().withColumn("h", lit(1000000L))
    var a: DataFrame = null
    for (_ <- 1 to 2) {
      a = normalized(
        e.join(h, "s").groupBy(col("p")).agg(sum(col("h")).as("a")), "p", "a")
      h = normalized(
        e.join(a, "p").groupBy(col("s")).agg(sum(col("a")).as("h")), "s", "h")
    }
    val auth = a.select(lit("authority").as("node_type"),
      col("p").as("node_id"), col("a").as("score_mu"))
    val hub = h.select(lit("hub").as("node_type"),
      col("s").as("node_id"), col("h").as("score_mu"))
    auth.unionByName(hub)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("node_type"))
          .orderBy(col("score_mu").desc, col("node_id"))).cast("long"))
      .filter(col("rk") <= 15)
      .orderBy(col("node_type"), col("rk"))
  }

  /** Degree distribution — the first diagnostic run on any production
    * graph (skew detection before the expensive iteration): node degree →
    * frequency histogram. Two chained hash-aggs, output bounded by
    * |distinct degrees|. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    edges(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** Per-supplier triangle participation in the co-supply graph
    * (suppliers are adjacent when they both ship some part at full
    * quantity 50 — the sparsifying slice; the unfiltered projection is a
    * near-clique and tells nothing). Triangle counting is the standard
    * graph-cohesion metric (clustering coefficient numerator).
    *
    * Scale: the Spark plan uses DEGREE ORDERING (Ortmann–Brandes /
    * "forward" algorithm): every edge is oriented from its lower-(degree,
    * id) endpoint to the higher one, wedges are enumerated only at each
    * edge's low-degree end, and a final equi-join closes them. Wedge count
    * drops from Σ deg² (hub-quadratic — a single hot vertex explodes it)
    * to O(m^1.5) regardless of skew; every step is an equi-join or
    * hash-agg, no driver state. The triangle SET is orientation-invariant,
    * so the DuckDB oracle can use the plain id-ordered closure
    * (a<b<c) — same triangles, same per-node counts.
    *
    * Encoding: one BIGINT order key `deg·2^40 + id` replaces the
    * (degree, id) lexicographic pair — scalar comparisons and narrow
    * shuffle rows. The key MUST be a total order (a collision would
    * silently DROP triangles whose two outgoing edges tie, not just
    * reorder them), so the packing bounds are load-bearing: ids < 2^40
    * (≈10^12 suppliers — far past 100 TB-class SFs) and degrees < 2^23
    * (no packing overflow). Beyond either bound, switch to a struct
    * (deg, id) comparison key. Both bounds are runtime-enforced in the
    * key projection (raise_error branch): an out-of-bounds graph fails
    * loudly instead of returning a plausible undercount. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsCore(spark, dir).orderBy(desc("n_triangles"), col("s_suppkey"))

  /** Co-supply undirected edge list (u < v by id), the sparsified
    * full-quantity slice — shared by `graph_triangles`,
    * `graph_clustering_coeff`, `graph_ktruss`, the community entries
    * (`graph_label_prop`, `graph_modularity`) and the link-prediction
    * pair (`graph_common_neighbors`, `graph_adamic_adar`) plus
    * `graph_assortativity`. The pair self-join runs ONCE per dataset and
    * the resulting edge list is scratch-persisted (`Tables.scratchRelation`). */
  private def cosupplyPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.scratchRelation(spark, dir, "graph_cosupply", Seq("lineitem"), "q50") {
      val ps = sp50(spark, dir)
      ps.as("a").join(ps.as("b"),
          col("a.p") === col("b.p") && col("a.s") < col("b.s"))
        .select(col("a.s").as("u"), col("b.s").as("v"))
        .distinct()
    }

  private[graft] def triangleCountsCore(spark: SparkSession, dir: String): DataFrame = {
    val e = cosupplyPairs(spark, dir)
      .distinct()
    val deg = e.select(col("u").as("n"))
      .unionByName(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // the packing bounds are enforced IN-PLAN: a violation must fail the
    // job loudly, because an overflowed key breaks the total order and
    // silently DROPS triangles (a plausible undercount, the worst failure
    // mode). Two scalar compares per node row — negligible next to the
    // joins they protect.
    val zkey = when(col("d") >= lit(1L << 23) || col("n") >= lit(1L << 40),
        raise_error(concat(
          lit("triangle zkey packing out of bounds (needs struct key): n="),
          col("n").cast("string"), lit(", d="), col("d").cast("string"))))
      .otherwise(col("d") * lit(1L << 40) + col("n")).as("z")
    val dz = deg.select(col("n"), zkey)
    // orient each edge from min-zkey endpoint to max-zkey endpoint
    val withZ = e
      .join(dz.select(col("n").as("u"), col("z").as("zu")), "u")
      .join(dz.select(col("n").as("v"), col("z").as("zv")), "v")
    val oriented = withZ.select(
        when(col("zu") < col("zv"), col("u")).otherwise(col("v")).as("src"),
        when(col("zu") < col("zv"), col("v")).otherwise(col("u")).as("dst"),
        greatest(col("zu"), col("zv")).as("zdst"))
      .cache() // real 3× reuse: both wedge legs + the closing semi-join
    // wedges at the low end, ordered by the dst zkey; close with an edge
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.zdst") < col("e2.zdst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.as("e3"),
        col("b") === col("e3.src") && col("c") === col("e3.dst"), "leftsemi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("s_suppkey"))
      .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient + global transitivity over the
    * co-supply graph — the cohesion readout `graph_triangles` feeds:
    * per node, C_v = 2T_v/(d_v(d_v−1)) in ppm (how close v's
    * neighborhood is to a clique), plus the graph-level transitivity
    * 3·|triangles|/|wedges| and mean local coefficient on every row.
    * Top-20 by (coeff, suppkey); triangle-free nodes and degree-1 nodes
    * emit 0 through the same mirrored CASE. The degree-ordered triangle
    * core is reused as-is (its count relation is orientation-invariant),
    * so the oracle's plain id-ordered closure matches by construction.
    *
    * Scale: degrees are one hash-agg over the pair list; the per-node
    * relation is |suppliers|-bounded, totals are a 1-row aggregate
    * broadcast back (NOT a single-partition window over all nodes), and
    * the final top-20 is a TakeOrdered. Integer throughout: d < 2²³
    * (triangle zkey bound) keeps d·(d−1) and the ppm scalings far from
    * bigint range. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val und = cosupplyPairs(spark, dir)
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val tri = triangleCountsCore(spark, dir)
      .select(col("s_suppkey").as("n"), col("n_triangles"))
    val perNode = deg.join(tri, Seq("n"), "left")
      .select(col("n").as("s_suppkey"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_tri"))
      .withColumn("coeff_ppm",
        when(col("degree") >= 2,
          expr("n_tri * 2000000 DIV (degree * (degree - 1))")).otherwise(0L))
    val tot = perNode.agg(
      sum(col("n_tri")).as("tri3"),
      sum(col("degree") * (col("degree") - 1)).as("wedges2"),
      count(lit(1)).as("n_nodes"),
      sum(col("coeff_ppm")).as("csum"))
    perNode.crossJoin(broadcast(tot))
      .select(col("s_suppkey"), col("degree"), col("n_tri").as("n_triangles"),
        col("coeff_ppm"),
        when(col("wedges2") > 0, expr("tri3 * 2000000 DIV wedges2"))
          .otherwise(0L).as("transitivity_ppm"),
        expr("csum DIV n_nodes").as("avg_coeff_ppm"))
      .orderBy(desc("coeff_ppm"), col("s_suppkey"))
      .limit(20)
  }

  /** Hop-distance horizon for the BFS entry: 4 bounded rounds keeps the
    * plan static and the oracle expressible as a depth-capped recursion —
    * the "neighborhood within k hops" query pattern (impact radius,
    * supply-chain blast zone), not full single-source shortest path. */
  private val MaxHops = 4

  /** The BFS core over an arbitrary (src, dst) edge relation and (node)
    * seed relation — split from the catalog entry so GraphSpec can drive
    * it on a long-path fixture where depths actually reach the horizon
    * (the harness supply graph is dense: most nodes sit ≤ 2 hops from any
    * seed, so the catalog oracle alone under-exercises the deep levels). */
  private[graft] def bfsDistances(edgeRel: DataFrame, seeds: DataFrame,
                                  maxHops: Int): DataFrame = {
    val ed = edgeRel.repartition(col("src")).cache()
    var dist = seeds.select(col("node")).withColumn("d", lit(0L))
    for (k <- 1 to maxHops) {
      val frontier = dist.filter(col("d") === (k - 1))
      val next = frontier.select(col("node")).alias("f")
        .join(ed.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node"), lit(k.toLong).as("d"))
        .distinct()
      // eager checkpoint per round (the ccContract rule): without it the
      // round-k plan REPLAYS rounds 1..k-1 — O(K²) joins total and a 5×
      // measured slowdown at K=4; with it each round's node-sized result
      // materializes once and the loop is O(K)
      dist = dist.unionByName(next)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
    }
    dist.select(col("node"), col("d").as("dist")).orderBy(col("node"))
  }

  /** Multi-source BFS: exact shortest HOP distance (≤ MaxHops) from a
    * seed set (suppliers 1–5) to every reachable node in the bipartite
    * supply graph — the traversal primitive next to pagerank's fixed-point
    * and dedup_cc's contraction. Level-synchronous frontier expansion:
    * each round joins ONLY the current frontier (nodes first discovered
    * last round — strictly shrinking as the neighborhood saturates)
    * against the cached, pre-partitioned edge list, then folds candidates
    * into the distance relation with a min-agg. Everything is equi-join +
    * hash-agg; per-round wire cost is |frontier|·avg-degree, never
    * |edges|, and the driver holds no vertex state — the 100 TB BFS
    * shape. Distances are small integers: bit-deterministic, no float
    * anywhere. Oracle: depth-capped WITH RECURSIVE (UNION dedup) + MIN —
    * topology-independent, like dedup_cc's closure oracle. Eager
    * iterative fit: the BFS rounds run at construction. */
  def khopDistance(spark: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") <= 5)
      .select((col("l_suppkey") * 2).as("node")).distinct()
    bfsDistances(edges(spark, dir), seeds, MaxHops)
  }

  /** Common-neighbors link prediction over the sparsified co-supply graph
    * (same quantity-50 slice as triangleCounts): top-20 NON-adjacent
    * supplier pairs ranked by shared neighbors — the classic "who should
    * be connected" score. Wedge enumeration at the shared middle node is
    * inherently Σdeg² work (unlike triangles it cannot be orientation-
    * pruned: the wedge set IS the output domain), so the scale levers are
    * the ones this entry demonstrates: a sparsified edge slice, and in
    * production a hub df-cap exactly like dedup_ngram_jaccard's — a hot
    * middle node contributes deg² candidate pairs and gets capped, not
    * enumerated. Plan: two equi-joins on the middle node + hash-agg +
    * left-anti against existing edges + TakeOrderedAndProject. Counts are
    * integers; ties broken by the pair ids — fully deterministic. */
  def commonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val e = cosupplyPairs(spark, dir)
    val und = e.select(col("u").as("m"), col("v").as("x"))
      .unionByName(e.select(col("v").as("m"), col("u").as("x")))
      .cache() // real 2× reuse: both wedge legs
    val pairs = und.as("t1").join(und.as("t2"),
        col("t1.m") === col("t2.m") && col("t1.x") < col("t2.x"))
      .groupBy(col("t1.x").as("sa"), col("t2.x").as("sc"))
      .agg(count(lit(1)).as("n_common"))
    pairs.join(e, pairs("sa") === e("u") && pairs("sc") === e("v"), "left_anti")
      .orderBy(desc("n_common"), col("sa"), col("sc"))
      .limit(20)
  }

  /** Adamic–Adar link prediction over the same sparsified co-supply graph —
    * commonNeighbors' weighted refinement (Adamic & Adar 2003): a shared
    * neighbor is evidence inversely proportional to how promiscuous it is,
    * score(u,v) = Σ_{m ∈ Γ(u)∩Γ(v)} 1/ln(deg m). Same wedge enumeration and
    * scale levers as graph_common_neighbors (sparsified slice; in
    * production a hub df-cap — a hot middle contributes deg² candidate
    * pairs AND the least information per the 1/ln weighting, so capping it
    * is doubly right).
    *
    * Determinism: the per-middle weight is the one libm call, rounded to
    * the DECIMAL(18,9) lattice BEFORE summation (decimal sums are
    * order-free exact; the rounding absorbs last-ulp ln differences — the
    * text_js_divergence rule); the ORDER BY key is the final DOUBLE cast
    * in both engines so limit-boundary ties resolve identically. Middles
    * always have deg ≥ 2 (a wedge needs two distinct spokes), so
    * ln(deg) ≥ ln 2 > 0. Plan: degree hash-agg + two equi-joins on the
    * middle + hash-agg + left-anti + TakeOrderedAndProject. */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val e = cosupplyPairs(spark, dir)
    val und = e.select(col("u").as("m"), col("v").as("x"))
      .unionByName(e.select(col("v").as("m"), col("u").as("x")))
      .cache() // real 3x reuse: the degree agg plus both wedge legs
    val w = und.groupBy(col("m")).agg(count(lit(1)).as("d"))
      // deg-1 nodes can never be wedge middles, and ln(1) = 0 would trip
      // ANSI divide-by-zero during the weight projection — drop them here
      .filter(col("d") >= 2)
      .select(col("m").as("wm"),
        round(lit(1.0) / log(col("d").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("aa_w"))
    val pairs = und.as("t1").join(und.as("t2"),
        col("t1.m") === col("t2.m") && col("t1.x") < col("t2.x"))
      .join(w, col("t1.m") === col("wm"))
      .groupBy(col("t1.x").as("sa"), col("t2.x").as("sc"))
      .agg(count(lit(1)).as("n_common"), sum(col("aa_w")).as("aa_dec"))
    pairs.join(e, pairs("sa") === e("u") && pairs("sc") === e("v"), "left_anti")
      .select(col("sa"), col("sc"), col("n_common"),
        col("aa_dec").cast("double").as("aa_score"))
      .orderBy(desc("aa_score"), col("sa"), col("sc"))
      .limit(20)
  }

  /** Jaccard-coefficient link prediction over the same sparsified
    * co-supply graph — the NORMALIZED member of the link-prediction
    * triple (`graph_common_neighbors` counts, `graph_adamic_adar`
    * weights, this one normalizes): score(u,v) =
    * |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)|, so a hub pair sharing 3 of 200 neighbors
    * ranks below a niche pair sharing 3 of 6 — the signal the raw count
    * inverts. Same wedge enumeration and scale levers (sparsified slice,
    * production hub df-cap).
    *
    * Determinism: the union size deg_u + deg_v − n_common is exact
    * integer; Jaccard is ONE IEEE division + round6 — no libm at all
    * (the triple's only libm member stays adamic_adar); ties break
    * (jaccard desc, n_common desc, sa, sc). Plan: degree hash-agg + two
    * wedge equi-joins + hash-agg + two broadcast degree joins +
    * left-anti + TakeOrderedAndProject. */
  def jaccardLinks(spark: SparkSession, dir: String): DataFrame = {
    val e = cosupplyPairs(spark, dir)
    val und = e.select(col("u").as("m"), col("v").as("x"))
      .unionByName(e.select(col("v").as("m"), col("u").as("x")))
      .cache() // real 3× reuse: the degree agg plus both wedge legs
    val deg = und.groupBy(col("x")).agg(count(lit(1)).as("d"))
    val pairs = und.as("t1").join(und.as("t2"),
        col("t1.m") === col("t2.m") && col("t1.x") < col("t2.x"))
      .groupBy(col("t1.x").as("sa"), col("t2.x").as("sc"))
      .agg(count(lit(1)).as("n_common"))
    val scored = pairs
      .join(deg.select(col("x").as("sa"), col("d").as("d_a")), "sa")
      .join(deg.select(col("x").as("sc"), col("d").as("d_c")), "sc")
      .withColumn("n_union", col("d_a") + col("d_c") - col("n_common"))
      .withColumn("jaccard", expr(
        "ROUND(CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE), 6)"))
    scored.join(e, scored("sa") === e("u") && scored("sc") === e("v"),
        "left_anti")
      .select(col("sa"), col("sc"), col("n_common"), col("n_union"),
        col("jaccard"))
      .orderBy(desc("jaccard"), desc("n_common"), col("sa"), col("sc"))
      .limit(20)
  }

  /** Label-propagation community detection (Raghavan et al. 2007) on the
    * sparsified co-supply graph — the near-linear community primitive next
    * to dedup_cc's connectivity: labels start as node ids and each
    * SYNCHRONOUS round every node adopts the label most frequent among its
    * neighbors (ties → smallest label, the deterministic variant — the
    * async/random-order original is irreproducible by construction). A
    * FIXED round budget keeps the plan static and the oracle an unrolled
    * CTE chain; fixed-depth LPA is the standard scalable form (each extra
    * round refines, none invalidates).
    *
    * Scale: per round one edge-key equi-join + (node,label) hash-agg +
    * an argmax window PARTITIONED BY node (never global); the edge list
    * is cached once for its LpaRounds+1 reads. Lineage grows linearly in
    * rounds (each round references the previous labels once), so no
    * checkpoint is needed at this depth. Output: every node with its
    * final label and community size — all-integer, fully deterministic. */
  private val LpaRounds = 4

  /** The synchronous LPA loop over a both-directions (m, x) edge
    * relation — shared by graph_label_prop and graph_modularity. */
  private[graft] def lpaLabels(und: DataFrame): DataFrame = {
    var lab = und.select(col("m").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to LpaRounds) {
      lab = und.join(lab, und("x") === lab("node"))
        .groupBy(col("m"), col("label")).agg(count(lit(1)).as("nv"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("m")).orderBy(col("nv").desc, col("label"))))
        .filter(col("rk") === 1)
        .select(col("m").as("node"), col("label"))
    }
    lab
  }

  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val e = cosupplyPairs(spark, dir)
    val und = e.select(col("u").as("m"), col("v").as("x"))
      .unionByName(e.select(col("v").as("m"), col("u").as("x")))
      .cache() // real reuse: init + one read per round
    val lab = lpaLabels(und)
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("comm_size"))
    lab.join(sizes, "label")
      .select(col("node"), col("label"), col("comm_size"))
      .orderBy(col("node"))
  }

  /** Modularity of the LPA partition (Newman & Girvan 2004) — the number
    * that tells you whether graph_label_prop's communities are REAL:
    * Q = Σ_c [e_c/m − (deg_c/2m)²] compares each community's internal
    * edge share against the configuration-model expectation from its
    * degree mass; Q ≈ 0 means the "communities" are what random wiring
    * gives you anyway.
    *
    * Determinism: counts and degree sums are exact longs; each
    * community's term is ONE identical IEEE chain (explicit d·d, never
    * pow) rounded to the DECIMAL(18,9) lattice, and Q is the order-free
    * exact decimal sum of those terms, broadcast back over the
    * per-community audit rows (A4). Scale: the LPA loop's own cost plus
    * two label-decorating equi-joins and |labels|-key hash-aggs. */
  def modularityQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = cosupplyPairs(spark, dir).cache() // edge count + internal-edge join
    val und = e.select(col("u").as("m"), col("v").as("x"))
      .unionByName(e.select(col("v").as("m"), col("u").as("x")))
      .cache() // degree agg + one read per LPA round
    val lab = lpaLabels(und).cache() // both endpoint decorations + degree side
    val mcnt = e.agg(count(lit(1)).as("m_edges"))
    val internal = e
      .join(lab.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("node").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("n_internal_edges"))
    val degMass = und.groupBy(col("m")).agg(count(lit(1)).as("d"))
      .join(lab, col("m") === lab("node"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("deg_sum"))
    val comm = degMass.join(internal, Seq("label"), "left")
      .select(col("label"), col("n_nodes"), col("deg_sum"),
        coalesce(col("n_internal_edges"), lit(0L)).as("n_internal_edges"))
      .crossJoin(broadcast(mcnt))
      .withColumn("term", round(
        col("n_internal_edges").cast("double") / col("m_edges").cast("double")
          - (col("deg_sum").cast("double") / (lit(2.0) * col("m_edges")))
            * (col("deg_sum").cast("double") / (lit(2.0) * col("m_edges"))), 9)
        .cast(DecimalType(18, 9)))
    val q = comm.agg(sum(col("term")).as("qdec"))
      .select(col("qdec").cast("double").as("modularity_q"))
    comm.crossJoin(broadcast(q))
      .select(col("label"), col("n_nodes"), col("n_internal_edges"),
        col("deg_sum"), col("term").cast("double").as("term"),
        col("modularity_q"))
      .orderBy(col("label"))
  }

  /** Degree assortativity (Newman 2002) of the sparsified co-supply
    * graph — THE one-number topology summary read before trusting any
    * epidemic/robustness intuition: the Pearson correlation of endpoint
    * degrees over every directed edge (both directions, the standard
    * undirected convention). Positive = hubs link hubs (social), negative
    * = hub-and-spoke (technological/bipartite projections, the expected
    * sign here).
    *
    * Determinism: the agg_corr_manual rule — all five moment sums are
    * EXACT decimal sums of integer degrees (products DECIMAL-seeded so
    * nothing wraps), converted to double once, formula in double, round-6
    * absorbing the single- vs double-rounded decimal→double conversion.
    * Scale: one degree hash-agg + two equi-joins decorating the edge list
    * + a 1-row global agg — one pass over edges, no window, no all-pairs
    * anywhere. Output: a 1-row audit (n directed edges, mean degree in
    * ppm, assortativity r). */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = cosupplyPairs(spark, dir)
    val und = e.select(col("u").as("m"), col("v").as("x"))
      .unionByName(e.select(col("v").as("m"), col("u").as("x")))
      .cache() // real 3x reuse: degree agg + both endpoint decorations
    val deg = und.groupBy(col("m")).agg(count(lit(1)).as("d"))
    val dd = und
      .join(deg.select(col("m").as("m1"), col("d").as("dm")), col("m") === col("m1"))
      .join(deg.select(col("m").as("m2"), col("d").as("dx")), col("x") === col("m2"))
      .select(col("dm"),
        col("dm").cast(DecimalType(18, 0)).as("jx"),
        col("dx").cast(DecimalType(18, 0)).as("jy"))
    dd.agg(
        count(lit(1)).as("n_directed_edges"),
        sum(col("dm")).as("sum_deg"),
        sum(col("jx")).cast("double").as("sx"),
        sum(col("jy")).cast("double").as("sy"),
        sum(col("jx") * col("jx")).cast("double").as("sxx"),
        sum(col("jy") * col("jy")).cast("double").as("syy"),
        sum(col("jx") * col("jy")).cast("double").as("sxy"))
      .select(col("n_directed_edges"),
        // exact-long mean (never the double sum: double→BIGINT casts
        // truncate in Spark and round in DuckDB), quotient-then-remainder
        expr("(sum_deg DIV n_directed_edges) * 1000000 + " +
          "(sum_deg % n_directed_edges) * 1000000 DIV n_directed_edges")
          .as("mean_degree_ppm"),
        round((col("n_directed_edges") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("n_directed_edges") * col("sxx") - col("sx") * col("sx"))
            * (col("n_directed_edges") * col("syy") - col("sy") * col("sy"))), 6)
          .as("assortativity"))
  }

  /** Bounded-hop weighted shortest path (Bellman–Ford relaxation) — the
    * "cheapest procurement path within 4 hops" companion to khopDistance's
    * hop counting. Edge weight = cents of the cheapest lineitem price ever
    * observed for the supplier–part pair (exact: one double MIN, then one
    * decimal cast — no float summation anywhere; costs add in BIGINT).
    * Level-synchronous delta relaxation: each round joins only the
    * IMPROVED frontier (nodes whose cost changed last round — the delta
    * optimization that keeps per-round wire cost |changed|·avg-degree,
    * not |nodes|·|edges|) against the cached pre-partitioned edge list,
    * folds candidates with a min-agg, and eager-localCheckpoints so round
    * k never replays rounds 1..k-1 (the ccContract rule). After k rounds
    * dist(v) = min cost over walks of ≤ k edges — exactly the depth-capped
    * recursive-CTE closure the oracle computes. */
  private val SsspRounds = 4

  private[graft] def ssspDistances(edgeRel: DataFrame, seeds: DataFrame,
                                   rounds: Int): DataFrame = {
    val ed = edgeRel.repartition(col("src")).cache()
    var dist = seeds.select(col("node")).withColumn("cost", lit(0L))
      .localCheckpoint(true)
    var frontier = dist
    for (_ <- 1 to rounds) {
      val cand = frontier.alias("f")
        .join(ed.alias("e"), col("f.node") === col("e.src"))
        .select(col("e.dst").as("node"), (col("f.cost") + col("e.w")).as("cost"))
      val next = dist.unionByName(cand)
        .groupBy(col("node")).agg(min(col("cost")).as("cost"))
        .localCheckpoint(true)
      frontier = next.join(
          dist.select(col("node"), col("cost").as("old_cost")), Seq("node"), "left")
        .filter(col("old_cost").isNull || col("cost") < col("old_cost"))
        .select(col("node"), col("cost"))
      dist = next
    }
    dist.select(col("node"), col("cost").as("cost_cents")).orderBy(col("node"))
  }

  def ssspWeighted(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val e0 = li.filter(col("l_quantity") >= 48)
      .groupBy(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .agg((min(col("l_extendedprice")).cast("decimal(12,2)") * 100)
        .cast("long").as("w"))
    val edgeRel = e0.select((col("s") * 2).as("src"), (col("p") * 2 + 1).as("dst"), col("w"))
      .unionByName(e0.select((col("p") * 2 + 1).as("src"), (col("s") * 2).as("dst"), col("w")))
    val seeds = li.filter(col("l_suppkey") <= 5)
      .select((col("l_suppkey") * 2).as("node")).distinct()
    ssspDistances(edgeRel, seeds, SsspRounds)
  }

  /** k-core decomposition (k=2) of the sparsified quantity-50 co-supply
    * slice: iteratively peel nodes of degree < k until the fixed point —
    * THE subgraph-robustness primitive (spam/bot rings, dense community
    * seeds). Each round is one degree hash-agg plus two semi-shaped
    * equi-joins restricting edges to surviving endpoints, checkpointed so
    * the lineage stays O(1) per round; the driver sees only edge COUNTS
    * (the convergence flag — the ccContract rule, no vertex data ever
    * collected). The round budget is a failsafe: peeling this slice
    * reaches the fixed point in ≤ 6 rounds at every harness SF (measured
    * 6/4/4 at sf0.001/0.01/0.1), and `require(converged)` turns an
    * exceeded budget into a loud failure, never a silent partial core.
    * The oracle unrolls the peel to the same depth — extra layers are
    * idempotent once converged, so fixed-depth unrolling equals the fixed
    * point. Output: each surviving node with its in-core degree. */
  private val KCoreK = 2
  private val KCoreRounds = 8

  /** The peel core over an arbitrary directed-both-ways (src, dst) edge
    * relation — split from the catalog entry so GraphSpec can drive it on
    * a clique-plus-pendant-chain fixture with a known core. */
  private[graft] def kcoreSurvivors(ed0: DataFrame, k: Int,
                                    rounds: Int): DataFrame =
    peelToFixpoint(ed0, rounds, "k-core") { ed =>
      val keep = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      ed.join(keep.select(col("node").as("ksrc")), col("src") === col("ksrc"))
        .join(keep.select(col("node").as("kdst")), col("dst") === col("kdst"))
        .select(col("src"), col("dst"))
    }.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
      .orderBy(col("node"))

  /** The peel loop shared by k-core and k-truss: applies `peel` to the
    * edge relation until its edge count stops changing, with an eager
    * localCheckpoint per round so the lineage stays O(1) (the ccContract
    * rule) and only edge COUNTS reach the driver. A round budget exceeded
    * before the fixed point is a loud failure naming the `what` peel,
    * never a silent partial result. */
  private def peelToFixpoint(e0: DataFrame, rounds: Int, what: String)(
      peel: DataFrame => DataFrame): DataFrame = {
    var e = e0.localCheckpoint(true)
    var prev = -1L
    var cur = e.count()
    var round = 0
    while (round < rounds && cur != prev) {
      e = peel(e).localCheckpoint(true)
      prev = cur
      cur = e.count()
      round += 1
    }
    require(cur == prev,
      s"$what peel did not converge within $rounds rounds " +
        s"(edges $prev -> $cur); raise the round budget")
    e
  }

  /** k-truss (k = 4): the edge-level analogue of k-core — iteratively
    * delete every edge lying in fewer than k−2 triangles until the edge
    * set is stable; what survives is the cohesive backbone a k-core can
    * overstate (a star has high core degrees but zero triangles). Runs on
    * the supplier co-purchase projection (suppliers sharing a qty-50
    * part — the one graph in the harness with real triangles; the kcore
    * bipartite graph has none by construction). Same fixpoint discipline
    * as `kcoreSurvivors` (`peelToFixpoint`): per-round eager localCheckpoint, convergence
    * REQUIREd inside the round budget.
    *
    * Support counting is the standard adjacency equi-join (edge ⋈ und ⋈
    * und on the shared wedge node, grouped per edge) — Σ deg(u)·deg(v)
    * bounded, never all-triples; at 100 TB the projection's df-style cap
    * is the part fan-out, and each peel round is two shuffles on node
    * keys. Output: the surviving edges with their in-truss support. */
  private val TrussMinSup = 2 // k = 4 ⇒ every surviving edge in ≥ 2 triangles
  private val TrussRounds = 8

  /** Per-edge triangle support over an undirected (u < v) edge relation. */
  private def edgeSupports(e: DataFrame): DataFrame = {
    val und = e.select(col("u").as("x"), col("v").as("y"))
      .unionByName(e.select(col("v").as("x"), col("u").as("y")))
    e.join(und.select(col("x").as("x1"), col("y").as("w1")), col("u") === col("x1"))
      .join(und.select(col("x").as("x2"), col("y").as("w2")),
        col("v") === col("x2") && col("w1") === col("w2"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
  }

  /** The truss peel over an arbitrary (u < v) edge relation — split out so
    * GraphSpec can drive it on a clique-plus-pendant fixture. */
  private[graft] def trussSurvivors(e0: DataFrame, minSup: Int,
                                    rounds: Int): DataFrame =
    edgeSupports(peelToFixpoint(e0, rounds, "k-truss") { e =>
      edgeSupports(e).filter(col("support") >= minSup).select(col("u"), col("v"))
    }).orderBy(col("u"), col("v"))

  // quantity is integral ≤ 50, so the shared > 49 slice IS the = 50
  // slice the oracle filters on — one persisted pair list serves both
  def ktruss(spark: SparkSession, dir: String): DataFrame =
    trussSurvivors(cosupplyPairs(spark, dir), TrussMinSup, TrussRounds)

  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val e0 = sp50(spark, dir)
      .select((col("s") * 2).as("a"), (col("p") * 2 + 1).as("b"))
    val ed0 = e0.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e0.select(col("b").as("src"), col("a").as("dst")))
    kcoreSurvivors(ed0, KCoreK, KCoreRounds)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_sssp_weighted" -> (ssspWeighted _),
    "graph_kcore"      -> (kcore _),
    "graph_ktruss"     -> (ktruss _),
    "graph_pagerank"   -> (pagerank _),
    "graph_ppr_seeded" -> (pprSeeded _),
    "graph_hits"       -> (hits _),
    "graph_clustering_coeff" -> (clusteringCoeff _),
    "graph_degree_hist" -> (degreeHistogram _),
    "graph_triangles"  -> (triangleCounts _),
    "graph_khop_distance" -> (khopDistance _),
    "graph_common_neighbors" -> (commonNeighbors _),
    "graph_adamic_adar" -> (adamicAdar _),
    "graph_jaccard_links" -> (jaccardLinks _),
    "graph_label_prop" -> (labelPropagation _),
    "graph_modularity" -> (modularityQ _),
    "graph_assortativity" -> (assortativity _)
  )

  private val edgeCtes =
    """e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
      |edges AS (
      |  SELECT s * 2 AS src, p * 2 + 1 AS dst FROM e0
      |  UNION ALL
      |  SELECT p * 2 + 1 AS src, s * 2 AS dst FROM e0),
      |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)""".stripMargin

  private def pprIterCte(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT COALESCE(f.node, tele.node) AS node,
       |    COALESCE(f.flow, 0) + COALESCE(tele.t, 0) AS r
       |  FROM (
       |    SELECT e.dst AS node,
       |      (85 * CAST(SUM(r.r // deg.d) AS BIGINT)) // 100 AS flow
       |    FROM edges e
       |    JOIN $prev r ON e.src = r.node
       |    JOIN deg ON e.src = deg.src
       |    GROUP BY e.dst) f
       |  FULL JOIN tele ON f.node = tele.node)""".stripMargin

  private def iterCte(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT e.dst AS node,
       |    150000 + (85 * CAST(SUM(r.r // deg.d) AS BIGINT)) // 100 AS r
       |  FROM edges e
       |  JOIN $prev r ON e.src = r.node
       |  JOIN deg ON e.src = deg.src
       |  GROUP BY e.dst)""".stripMargin

  /** One k-core peel layer: degree filter + endpoint restriction.
    * MATERIALIZED is load-bearing: each layer references the previous one
    * THREE times (the edge scan plus both endpoint semi-joins), so an
    * inlining planner re-evaluates ed0 3^depth times — the un-hinted form
    * measurably hangs DuckDB at depth 8 where the materialized form runs
    * in 50 ms. */
  private def peelCte(prev: String, keep: String, cur: String): String =
    s"""$keep AS MATERIALIZED (
       |  SELECT src AS node FROM $prev GROUP BY src HAVING COUNT(*) >= 2),
       |$cur AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM $prev e
       |  JOIN $keep k1 ON e.src = k1.node
       |  JOIN $keep k2 ON e.dst = k2.node)""".stripMargin

  /** DuckDB oracle for `graph_ktruss`: the peel unrolled to TrussRounds
    * = 8 rounds — the SAME bound the Spark side's convergence guard
    * accepts, so any dataset that satisfies the Spark `require` also
    * gets a fully-peeled oracle (measured fixpoint ≤ 4 at every SF; the
    * peel is idempotent once converged, so extra rounds are no-ops) —
    * then one final support readout over the stable edge set. */
  private val ktrussOracle: String = {
    def roundCtes(i: Int): String =
      s"""u$i AS MATERIALIZED (
         |  SELECT u AS x, v AS y FROM e$i
         |  UNION ALL SELECT v AS x, u AS y FROM e$i),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT e.u, e.v
         |  FROM e$i e
         |  JOIN u$i n1 ON n1.x = e.u
         |  JOIN u$i n2 ON n2.x = e.v AND n2.y = n1.y
         |  GROUP BY e.u, e.v
         |  HAVING COUNT(*) >= 2)""".stripMargin
    val rounds = (0 until TrussRounds).map(roundCtes).mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p
       |  FROM lineitem WHERE l_quantity = 50),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.s AS u, b.s AS v
       |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
       |$rounds,
       |uf AS (
       |  SELECT u AS x, v AS y FROM e$TrussRounds
       |  UNION ALL SELECT v AS x, u AS y FROM e$TrussRounds)
       |SELECT e.u, e.v, COUNT(*) AS support
       |FROM e$TrussRounds e
       |JOIN uf n1 ON n1.x = e.u
       |JOIN uf n2 ON n2.x = e.v AND n2.y = n1.y
       |GROUP BY e.u, e.v
       |ORDER BY e.u, e.v""".stripMargin
  }

  private val kcoreOracle: String = {
    val layers = (0 until 8)
      .map(i => peelCte(s"ed$i", s"kp$i", s"ed${i + 1}"))
      .mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b
       |  FROM lineitem WHERE l_quantity = 50),
       |ed0 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM e0
       |  UNION ALL
       |  SELECT b AS src, a AS dst FROM e0),
       |$layers
       |SELECT src AS node, COUNT(*) AS core_degree
       |FROM ed8 GROUP BY src
       |ORDER BY node""".stripMargin
  }

  /** One synchronous LPA round: neighbor-label votes + per-node argmax
    * (count desc, label asc). MATERIALIZED for the same reason as peelCte:
    * each round reads the previous labels once but the chain would
    * otherwise inline 4-deep. */
  private def lpaCte(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT m AS node, label FROM (
       |    SELECT und.m, l.label,
       |      ROW_NUMBER() OVER (PARTITION BY und.m
       |        ORDER BY COUNT(*) DESC, l.label) AS rk
       |    FROM und JOIN $prev l ON und.x = l.node
       |    GROUP BY und.m, l.label)
       |  WHERE rk = 1)""".stripMargin

  /** Shared LPA CTE chain (edges + 4 unrolled rounds, final labels in
    * `l4`) — prefix of both the graph_label_prop and graph_modularity
    * oracles. */
  private val lpaCtePrefix: String = {
    val rounds = (0 until 4)
      .map(i => lpaCte(s"l$i", s"l${i + 1}"))
      .mkString(",\n")
    s"""ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
       |  FROM lineitem WHERE l_quantity > 49),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.s AS u, b.s AS v
       |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
       |und AS MATERIALIZED (
       |  SELECT u AS m, v AS x FROM e
       |  UNION ALL
       |  SELECT v AS m, u AS x FROM e),
       |l0 AS (SELECT DISTINCT m AS node, m AS label FROM und),
       |$rounds""".stripMargin
  }

  private val lpaOracle: String =
    s"""WITH $lpaCtePrefix,
       |sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS comm_size
       |       FROM l4 GROUP BY label)
       |SELECT l4.node, l4.label, sz.comm_size
       |FROM l4 JOIN sz USING (label)
       |ORDER BY node""".stripMargin

  private val modularityOracle: String =
    s"""WITH $lpaCtePrefix,
       |mc AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM e),
       |internal AS (
       |  SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS n_internal_edges
       |  FROM e
       |  JOIN l4 lu ON e.u = lu.node
       |  JOIN l4 lv ON e.v = lv.node
       |  WHERE lu.label = lv.label
       |  GROUP BY lu.label),
       |deg AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY m),
       |dm AS (
       |  SELECT l4.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg.d) AS BIGINT) AS deg_sum
       |  FROM deg JOIN l4 ON deg.m = l4.node
       |  GROUP BY l4.label),
       |comm AS (
       |  SELECT dm.label, dm.n_nodes,
       |    CAST(COALESCE(i.n_internal_edges, 0) AS BIGINT) AS n_internal_edges,
       |    dm.deg_sum,
       |    CAST(ROUND(
       |      CAST(COALESCE(i.n_internal_edges, 0) AS DOUBLE) / m_edges
       |      - (CAST(dm.deg_sum AS DOUBLE) / (2.0 * m_edges))
       |        * (CAST(dm.deg_sum AS DOUBLE) / (2.0 * m_edges)), 9)
       |      AS DECIMAL(18,9)) AS term
       |  FROM dm LEFT JOIN internal i ON dm.label = i.label
       |  CROSS JOIN mc),
       |qv AS (SELECT CAST(SUM(term) AS DOUBLE) AS modularity_q FROM comm)
       |SELECT label, n_nodes, n_internal_edges, deg_sum,
       |  CAST(term AS DOUBLE) AS term, modularity_q
       |FROM comm CROSS JOIN qv
       |ORDER BY label""".stripMargin

  val oracle: Map[String, String] = Map(
    "graph_adamic_adar" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 49),
        |e AS (
        |  SELECT DISTINCT a.s AS u, b.s AS v
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
        |und AS MATERIALIZED (
        |  SELECT u AS m, v AS x FROM e
        |  UNION ALL
        |  SELECT v AS m, u AS x FROM e),
        |w AS (
        |  SELECT m,
        |    CAST(ROUND(1.0 / ln(CAST(COUNT(*) AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS aa_w
        |  FROM und GROUP BY m
        |  HAVING COUNT(*) >= 2),
        |pr AS (
        |  SELECT t1.x AS sa, t2.x AS sc, COUNT(*) AS n_common,
        |    CAST(SUM(w.aa_w) AS DOUBLE) AS aa_score
        |  FROM und t1
        |  JOIN und t2 ON t1.m = t2.m AND t1.x < t2.x
        |  JOIN w ON w.m = t1.m
        |  GROUP BY t1.x, t2.x)
        |SELECT sa, sc, n_common, aa_score FROM pr
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e WHERE e.u = pr.sa AND e.v = pr.sc)
        |ORDER BY aa_score DESC, sa, sc
        |LIMIT 20""".stripMargin,
    "graph_label_prop" -> lpaOracle,
    "graph_modularity" -> modularityOracle,
    "graph_assortativity" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 49),
        |e AS (
        |  SELECT DISTINCT a.s AS u, b.s AS v
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
        |und AS MATERIALIZED (
        |  SELECT u AS m, v AS x FROM e
        |  UNION ALL
        |  SELECT v AS m, u AS x FROM e),
        |deg AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY m),
        |dd AS (
        |  SELECT d1.d AS dm,
        |    CAST(d1.d AS DECIMAL(18,0)) AS jx,
        |    CAST(d2.d AS DECIMAL(18,0)) AS jy
        |  FROM und
        |  JOIN deg d1 ON und.m = d1.m
        |  JOIN deg d2 ON und.x = d2.m),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
        |    CAST(SUM(dm) AS BIGINT) AS sum_deg,
        |    CAST(SUM(jx) AS DOUBLE) AS sx,
        |    CAST(SUM(jy) AS DOUBLE) AS sy,
        |    CAST(SUM(jx * jx) AS DOUBLE) AS sxx,
        |    CAST(SUM(jy * jy) AS DOUBLE) AS syy,
        |    CAST(SUM(jx * jy) AS DOUBLE) AS sxy
        |  FROM dd)
        |SELECT n_directed_edges,
        |  (sum_deg // n_directed_edges) * 1000000 +
        |    (sum_deg % n_directed_edges) * 1000000 // n_directed_edges
        |    AS mean_degree_ppm,
        |  ROUND((n_directed_edges * sxy - sx * sy)
        |    / sqrt((n_directed_edges * sxx - sx * sx)
        |      * (n_directed_edges * syy - sy * sy)), 6) AS assortativity
        |FROM s""".stripMargin,
    "graph_sssp_weighted" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT l_suppkey AS s, l_partkey AS p,
        |    CAST(CAST(MIN(l_extendedprice) AS DECIMAL(12,2)) * 100 AS BIGINT) AS w
        |  FROM lineitem WHERE l_quantity >= 48
        |  GROUP BY l_suppkey, l_partkey),
        |e AS MATERIALIZED (
        |  SELECT s * 2 AS src, p * 2 + 1 AS dst, w FROM e0
        |  UNION ALL
        |  SELECT p * 2 + 1 AS src, s * 2 AS dst, w FROM e0),
        |walk(node, cost, depth) AS (
        |  SELECT DISTINCT l_suppkey * 2 AS node, CAST(0 AS BIGINT) AS cost, 0 AS depth
        |  FROM lineitem WHERE l_suppkey <= 5
        |  UNION
        |  SELECT e.dst, walk.cost + e.w, walk.depth + 1
        |  FROM walk JOIN e ON walk.node = e.src
        |  WHERE walk.depth < 4)
        |SELECT node, MIN(cost) AS cost_cents
        |FROM walk GROUP BY node
        |ORDER BY node""".stripMargin,
    "graph_kcore" -> kcoreOracle,
    "graph_ktruss" -> ktrussOracle,
    "graph_ppr_seeded" ->
      s"""WITH $edgeCtes,
         |seeds AS (
         |  SELECT src AS node FROM deg WHERE node % 2 = 0 AND node // 2 <= 5),
         |consts AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS nn,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM seeds) AS sc),
         |tele AS (
         |  SELECT node, 150000 * consts.nn // consts.sc AS t
         |  FROM seeds CROSS JOIN consts),
         |p0 AS (SELECT node, 1000000 * t // 150000 AS r FROM tele),
         |${pprIterCte("p0", "p1")},
         |${pprIterCte("p1", "p2")},
         |${pprIterCte("p2", "p3")}
         |SELECT node, r / 1000000.0 AS rank FROM p3
         |ORDER BY rank DESC, node
         |LIMIT 25""".stripMargin,
    "graph_pagerank" ->
      s"""WITH $edgeCtes,
         |r0 AS (SELECT src AS node, 1000000::BIGINT AS r FROM deg),
         |${iterCte("r0", "r1")},
         |${iterCte("r1", "r2")},
         |${iterCte("r2", "r3")}
         |SELECT node, r / 1000000.0 AS rank FROM r3
         |ORDER BY rank DESC, node
         |LIMIT 25""".stripMargin,
    "graph_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        |h0 AS (SELECT DISTINCT s, 1000000::BIGINT AS h FROM e),
        |a1r AS (SELECT p, SUM(h) AS a FROM e JOIN h0 USING (s) GROUP BY p),
        |a1 AS (SELECT p, CAST(a * 1000000 // (SELECT SUM(a) FROM a1r) AS BIGINT) AS a FROM a1r),
        |h1r AS (SELECT s, SUM(a) AS h FROM e JOIN a1 USING (p) GROUP BY s),
        |h1 AS (SELECT s, CAST(h * 1000000 // (SELECT SUM(h) FROM h1r) AS BIGINT) AS h FROM h1r),
        |a2r AS (SELECT p, SUM(h) AS a FROM e JOIN h1 USING (s) GROUP BY p),
        |a2 AS (SELECT p, CAST(a * 1000000 // (SELECT SUM(a) FROM a2r) AS BIGINT) AS a FROM a2r),
        |h2r AS (SELECT s, SUM(a) AS h FROM e JOIN a2 USING (p) GROUP BY s),
        |h2 AS (SELECT s, CAST(h * 1000000 // (SELECT SUM(h) FROM h2r) AS BIGINT) AS h FROM h2r),
        |sides AS (
        |  SELECT 'authority' AS node_type, p AS node_id, a AS score_mu FROM a2
        |  UNION ALL
        |  SELECT 'hub' AS node_type, s AS node_id, h AS score_mu FROM h2),
        |rk AS (
        |  SELECT node_type, node_id, score_mu,
        |    ROW_NUMBER() OVER (PARTITION BY node_type
        |      ORDER BY score_mu DESC, node_id) AS rk
        |  FROM sides)
        |SELECT node_type, node_id, score_mu, rk FROM rk
        |WHERE rk <= 15
        |ORDER BY node_type, rk""".stripMargin,
    "graph_jaccard_links" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 49),
        |e AS (
        |  SELECT DISTINCT a.s AS u, b.s AS v
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
        |und AS (
        |  SELECT u AS m, v AS x FROM e
        |  UNION ALL
        |  SELECT v AS m, u AS x FROM e),
        |deg AS (SELECT x, COUNT(*) AS d FROM und GROUP BY x),
        |pr AS (
        |  SELECT t1.x AS sa, t2.x AS sc, COUNT(*) AS n_common
        |  FROM und t1 JOIN und t2 ON t1.m = t2.m AND t1.x < t2.x
        |  GROUP BY t1.x, t2.x),
        |sc0 AS (
        |  SELECT pr.sa, pr.sc, pr.n_common,
        |    da.d + dc.d - pr.n_common AS n_union
        |  FROM pr
        |  JOIN deg da ON da.x = pr.sa
        |  JOIN deg dc ON dc.x = pr.sc)
        |SELECT sa, sc, n_common, n_union,
        |  ROUND(CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
        |    AS jaccard
        |FROM sc0
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e WHERE e.u = sc0.sa AND e.v = sc0.sc)
        |ORDER BY jaccard DESC, n_common DESC, sa, sc
        |LIMIT 20""".stripMargin,
    "graph_common_neighbors" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 49),
        |e AS (
        |  SELECT DISTINCT a.s AS u, b.s AS v
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
        |und AS (
        |  SELECT u AS m, v AS x FROM e
        |  UNION ALL
        |  SELECT v AS m, u AS x FROM e),
        |pr AS (
        |  SELECT t1.x AS sa, t2.x AS sc, COUNT(*) AS n_common
        |  FROM und t1 JOIN und t2 ON t1.m = t2.m AND t1.x < t2.x
        |  GROUP BY t1.x, t2.x)
        |SELECT sa, sc, n_common FROM pr
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e WHERE e.u = pr.sa AND e.v = pr.sc)
        |ORDER BY n_common DESC, sa, sc
        |LIMIT 20""".stripMargin,
    "graph_khop_distance" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT s * 2 AS src, p * 2 + 1 AS dst FROM e0
        |  UNION ALL
        |  SELECT p * 2 + 1 AS src, s * 2 AS dst FROM e0),
        |bfs(node, d) AS (
        |  SELECT DISTINCT l_suppkey * 2 AS node, 0 AS d
        |  FROM lineitem WHERE l_suppkey <= 5
        |  UNION
        |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON bfs.node = e.src
        |  WHERE bfs.d < 4)
        |SELECT node, CAST(MIN(d) AS BIGINT) AS dist
        |FROM bfs GROUP BY node
        |ORDER BY node""".stripMargin,
    "graph_degree_hist" ->
      s"""WITH $edgeCtes
         |SELECT d AS degree, COUNT(*) AS n_nodes
         |FROM deg
         |GROUP BY d
         |ORDER BY degree""".stripMargin,
    "graph_clustering_coeff" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 49),
        |e AS (
        |  SELECT DISTINCT a.s AS u, b.s AS v
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
        |deg AS (
        |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY n),
        |t AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tc AS (
        |  SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |    SELECT a AS s_suppkey FROM t
        |    UNION ALL SELECT b FROM t
        |    UNION ALL SELECT c FROM t)
        |  GROUP BY s_suppkey),
        |pn AS (
        |  SELECT deg.n AS s_suppkey, deg.d AS degree,
        |    COALESCE(tc.n_tri, 0) AS n_tri,
        |    CASE WHEN deg.d >= 2
        |      THEN COALESCE(tc.n_tri, 0) * 2000000 // (deg.d * (deg.d - 1))
        |      ELSE 0 END AS coeff_ppm
        |  FROM deg LEFT JOIN tc ON tc.s_suppkey = deg.n),
        |tot AS (
        |  SELECT SUM(n_tri) AS tri3, SUM(degree * (degree - 1)) AS wedges2,
        |    CAST(COUNT(*) AS BIGINT) AS n_nodes, SUM(coeff_ppm) AS csum
        |  FROM pn)
        |SELECT pn.s_suppkey, pn.degree, pn.n_tri AS n_triangles,
        |  CAST(pn.coeff_ppm AS BIGINT) AS coeff_ppm,
        |  CAST(CASE WHEN t2.wedges2 > 0 THEN t2.tri3 * 2000000 // t2.wedges2
        |    ELSE 0 END AS BIGINT) AS transitivity_ppm,
        |  CAST(t2.csum // t2.n_nodes AS BIGINT) AS avg_coeff_ppm
        |FROM pn CROSS JOIN tot t2
        |ORDER BY coeff_ppm DESC, s_suppkey LIMIT 20""".stripMargin,
    "graph_triangles" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem WHERE l_quantity > 49),
        |e AS (
        |  SELECT DISTINCT a.s AS u, b.s AS v
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
        |t AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |m AS (
        |  SELECT a AS s_suppkey FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t)
        |SELECT s_suppkey, COUNT(*) AS n_triangles
        |FROM m GROUP BY s_suppkey
        |ORDER BY n_triangles DESC, s_suppkey""".stripMargin
  )
}
