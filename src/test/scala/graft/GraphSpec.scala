package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Invariants for the graph module (fixed-point PageRank + degree
  * histogram) that the DuckDB hash gate can't express:
  * handshake-lemma mass balance, the damping floor, and run-to-run
  * bit-determinism of the integer iteration. The graph entries are also
  * recomputed on the driver from the collected sf0.001 rows ([[BaseRows]])
  * by imperative second implementations (power iteration, LPA with the
  * Newman–Girvan score, brute-force wedges) and compared exactly or on
  * the documented round-9 lattice.
  */
class GraphSpec extends SparkSpec {

  import BaseRows._
  import HalfUp._

  test("degree histogram obeys the handshake lemma") {
    val pairs = Tables.lineitem(spark, sf0001)
      .select(col("l_suppkey"), col("l_partkey")).distinct().count()
    val mass = Graph.degreeHistogram(spark, sf0001)
      .agg(sum(col("degree") * col("n_nodes"))).head().getLong(0)
    // undirected doubling: every distinct (s,p) pair contributes one out-edge
    // at each endpoint
    assert(mass == 2 * pairs, s"edge mass $mass != 2 * $pairs")
  }

  test("pagerank: top-25, every rank at or above the damping floor") {
    val rows = Graph.pagerank(spark, sf0001).collect()
    assert(rows.length == 25)
    val ranks = rows.map(_.getDouble(1))
    // r = 0.15 + 0.85 * (truncated nonneg sum) >= 0.15 for every node
    assert(ranks.forall(_ >= 0.15), s"rank below damping floor: ${ranks.min}")
    assert(ranks.sameElements(ranks.sorted(Ordering[Double].reverse)),
      "top-25 not rank-descending")
  }

  test("fixed-point iteration is bit-deterministic across runs") {
    val a = Graph.pagerank(spark, sf0001).collect().toSeq
    spark.catalog.clearCache()
    val b = Graph.pagerank(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  test("degree-ordered triangle count equals the naive id-ordered closure") {
    // the oracle uses the plain a<b<c enumeration; this pins the Spark-side
    // equivalence too (triangle SET is orientation-invariant), on Spark
    // semantics alone so a dialect quirk can't mask an algorithm bug
    val ps = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") > 49)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .distinct()
    val e = ps.as("a").join(ps.as("b"),
        col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
    val naive = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"), "leftsemi")
      .select(explode(array(col("e1.u"), col("e1.v"), col("e2.v"))).as("s_suppkey"))
      .groupBy(col("s_suppkey")).agg(count(lit(1)).as("n_triangles"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fast = Graph.triangleCounts(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == naive, s"degree-ordered=$fast naive=$naive")
    assert(fast.nonEmpty, "fixture produced no triangles at sf0.001")
  }

  test("BFS on a long path fixture: exact depths out to the horizon, beyond it absent") {
    import spark.implicits._
    // path 0-1-2-...-40, seed {0}: the harness supply graph is too dense to
    // reach depth 4, so the deep frontier levels are pinned here instead
    val path = (0L until 40L).map(i => (i, i + 1))
    val edges = path.toDF("src", "dst")
      .unionByName(path.map(_.swap).toDF("src", "dst"))
    val seeds = Seq(0L).toDF("node")
    val dist = Graph.bfsDistances(edges, seeds, maxHops = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // exactly nodes 0..4, each at its true path distance; 5+ unreachable in 4 hops
    assert(dist == (0L to 4L).map(i => i -> i).toMap,
      s"path-graph BFS distances wrong: $dist")
  }

  test("weighted SSSP prefers a cheap 2-hop detour over an expensive direct edge") {
    import spark.implicits._
    // 0→1 direct costs 100; 0→2→1 costs 1+1: min-COST must beat min-HOP.
    // Node 3 hangs at the end of a 5-edge unit chain 1-3a-3b-3c-3d-3 —
    // beyond the 4-round horizon via the cheap side, reachable only at
    // hop-bounded cost. Undirected edges, both directions.
    val und = Seq((0L, 1L, 100L), (0L, 2L, 1L), (2L, 1L, 1L),
      (1L, 10L, 1L), (10L, 11L, 1L), (11L, 12L, 1L), (12L, 13L, 1L))
    val edges = und.toDF("src", "dst", "w")
      .unionByName(und.map { case (a, b, w) => (b, a, w) }.toDF("src", "dst", "w"))
    val seeds = Seq(0L).toDF("node")
    val dist = Graph.ssspDistances(edges, seeds, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist(1L) == 2L, s"detour not taken: cost(1) = ${dist(1L)}")
    assert(dist(2L) == 1L)
    // chain: 1 is at cost 2 (2 edges), so 10,11 land inside the 4-edge
    // horizon; 12 is reachable only via the EXPENSIVE direct edge within
    // 4 edges (100+3), 13 not at all
    assert(dist(10L) == 3L && dist(11L) == 4L)
    assert(dist(12L) == 103L, s"horizon fallback wrong: ${dist.get(12L)}")
    assert(!dist.contains(13L), s"beyond-horizon node present: $dist")
  }

  test("k-core peel keeps the clique, sheds the pendant chain") {
    import spark.implicits._
    // K4 on {0,1,2,3} + chain 3-4-5-6: every chain node has degree ≤ 2 in
    // any subgraph, so k=3 peeling must strip the chain (cascading from
    // the far end) and leave exactly the clique, each at degree 3
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val und = k4 ++ Seq((3L, 4L), (4L, 5L), (5L, 6L))
    val edges = und.toDF("src", "dst")
      .unionByName(und.map(_.swap).toDF("src", "dst"))
    val core = Graph.kcoreSurvivors(edges, k = 3, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"3-core of K4+chain wrong: $core")
  }

  test("4-truss of a K4 plus a triangle-free tail keeps exactly the clique edges") {
    import spark.implicits._
    // K4 over {0..3}: every clique edge lies in exactly 2 triangles →
    // survives k=4 (support ≥ 2). The pendant path 3-10-11 has no
    // triangles → peeled in round 1. A triangle 20-21-22 has support 1
    // per edge → also peeled (below the k−2 = 2 bar), proving the
    // threshold is support ≥ 2, not merely "in a triangle".
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val extra = Seq((3L, 10L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
    val edges = (k4 ++ extra).toDF("u", "v")
    val truss = Graph.trussSurvivors(edges, minSup = 2, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(truss.keySet == k4.toSet, s"4-truss edge set wrong: $truss")
    assert(truss.values.forall(_ == 2L), s"K4 supports must all be 2: $truss")
  }

  test("label propagation separates two cliques joined by a bridge") {
    import spark.implicits._
    // two K4s {0..3} and {10..13} plus the bridge 3-10: synchronous
    // min-tie-break LPA must converge each clique to its own minimum
    // label (0 and 10) — the bridge is outvoted 3-to-1 on both sides
    def k4(off: Long) = for { a <- 0L to 3L; b <- 0L to 3L if a < b }
      yield (a + off, b + off)
    val und = k4(0) ++ k4(10) ++ Seq((3L, 10L))
    val edges = und.toDF("m", "x")
      .unionByName(und.map(_.swap).toDF("m", "x"))
    val lab = Graph.lpaLabels(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L to 3L).foreach(n => assert(lab(n) == 0L, s"left clique: $lab"))
    (10L to 13L).foreach(n => assert(lab(n) == 10L, s"right clique: $lab"))
  }

  test("modularity: structural invariants hold on the corpus partition") {
    // NOTE deliberately NOT "Q > 0": the sparse sf0.001 co-supply slice is
    // near-complete, so its true modularity is negative for ANY partition —
    // asserting a sign here would measure fixture noise (the
    // ZorderLayoutSpec lesson). Sign-correctness is covered by the
    // two-clique LPA fixture above; here we pin the identities that hold
    // for every graph: Σ_c deg_c = 2m (degree mass), Σ_c e_c ≤ m, Q ∈ [−1, 1],
    // and the broadcast Q identical on every audit row
    val rows = Graph.modularityQ(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val q = rows.head.getDouble(5)
    assert(rows.forall(_.getDouble(5) == q), "Q differs across rows")
    assert(q >= -1.0 && q <= 1.0, s"Q outside [-1, 1]: $q")
    val degMass = rows.map(_.getLong(3)).sum
    val internal = rows.map(_.getLong(2)).sum
    assert(degMass % 2 == 0, s"degree mass odd: $degMass")
    assert(internal <= degMass / 2,
      s"internal edges $internal exceed m = ${degMass / 2}")
  }

  test("BFS level monotonicity on the corpus: every non-seed node sits one hop above some neighbor") {
    val d = Graph.khopDistance(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val edges = supplierParts.flatMap { case (s0, p0) =>
      val s = s0 * 2; val p = p0 * 2 + 1
      Seq((s, p), (p, s))
    }
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    d.foreach { case (n, dn) =>
      if (dn > 0)
        assert(adj(n).exists(m => d.get(m).contains(dn - 1)),
          s"node $n at depth $dn has no neighbor at depth ${dn - 1}")
    }
  }

  test("k-hop distances follow a rewrite of lineitem within one session") {
    // a private copy of lineitem, so the spec can rewrite it in place
    TempDirs.withDir("graph_stale_input") { dir =>
      val li = dir.resolve("lineitem.parquet")
      Files.copy(Paths.get(s"$sf0001/lineitem.parquet"), li)
      def dist(s: SparkSession): Seq[(Long, Long)] =
        Graph.khopDistance(s, dir.toString).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val before = dist(spark)
      // drop supplier 1 — one of the BFS seeds — and publish the smaller
      // file under the same name
      val out = dir.resolve("rewrite").toString
      spark.read.parquet(li.toString).filter(col("l_suppkey") =!= 1)
        .coalesce(1).write.parquet(out)
      val part = new File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, li, StandardCopyOption.REPLACE_EXISTING)
      val after = dist(spark)
      assert(after == dist(spark.newSession()),
        "the session served distances computed from the old lineitem")
      assert(after.nonEmpty && after != before,
        "dropping a seed supplier should change, not empty, the distances")
    }
  }

  // ------------------------------------------------------------- recomputes

  test("pagerank equals an imperative integer power iteration, exactly") {
    val sp = supplierParts.map { case (s, p) => (s * 2, p * 2 + 1) }
    val edges = sp.flatMap { case (s, p) => Seq((s, p), (p, s)) }
    val outAdj = edges.groupBy(_._1).map { case (s, g) => s -> g.map(_._2) }
    val deg = outAdj.map { case (s, g) => s -> g.length.toLong }
    var r: Map[Long, Long] = deg.keys.map(n => n -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inbox = scala.collection.mutable.HashMap.empty[Long, Long]
      outAdj.foreach { case (src, dsts) =>
        val contrib = r.getOrElse(src, 0L) / deg(src)
        dsts.foreach(d => inbox(d) = inbox.getOrElse(d, 0L) + contrib)
      }
      r = inbox.map { case (node, s) => node -> (150000L + 85L * s / 100L) }.toMap
    }
    val expected = r.toSeq.map { case (node, rr) => (node, rr / 1000000.0) }
      .sortBy { case (node, rank) => (-rank, node) }.take(25)
    val got = Graph.queries("graph_pagerank")(spark, sf0001).collect()
      .map(r2 => (r2.getAs[Long]("node"), r2.getAs[Double]("rank"))).toSeq
    assert(got == expected, s"\nentry: ${got.take(5)}\nindependent: ${expected.take(5)}")
  }

  test("modularity Q equals an imperative LPA + Newman-Girvan recompute") {
    val edges = coSupplyEdges
    val und = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val adj = und.groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2) }
    // synchronous LPA, 4 rounds, ties -> smallest label (the deterministic
    // variant the entry documents)
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lab = adj.map { case (m, nbrs) =>
        val best = nbrs.map(lab).groupBy(identity).toSeq
          .map { case (l, g) => (l, g.size) }
          .minBy { case (l, c) => (-c, l) }._1
        m -> best
      }
    }
    val mEdges = edges.length.toLong
    val byLabel = lab.groupBy(_._2)
    val expected = byLabel.toSeq.map { case (label, members) =>
      val nodes = members.keySet
      val internal = edges.count { case (u, v) => lab(u) == label && lab(v) == label }.toLong
      val degSum = nodes.toSeq.map(n => adj(n).length.toLong).sum
      val rawTerm = internal.toDouble / mEdges.toDouble -
        (degSum.toDouble / (2.0 * mEdges)) * (degSum.toDouble / (2.0 * mEdges))
      (label, nodes.size.toLong, internal, degSum, round9(rawTerm).toDouble)
    }.sortBy(_._1)
    val q = expected.map(t => BigDecimal(t._5)).sum.toDouble
    val got = Graph.queries("graph_modularity")(spark, sf0001).collect()
    assert(got.length == expected.length)
    got.sortBy(_.getAs[Long]("label")).zip(expected).foreach { case (r, e) =>
      assert(r.getAs[Long]("label") == e._1)
      assert(r.getAs[Long]("n_nodes") == e._2, s"label ${e._1} n_nodes")
      assert(r.getAs[Long]("n_internal_edges") == e._3, s"label ${e._1} internal")
      assert(r.getAs[Long]("deg_sum") == e._4, s"label ${e._1} deg_sum")
      assert(math.abs(r.getAs[Double]("term") - e._5) < 1e-9, s"label ${e._1} term")
      assert(math.abs(r.getAs[Double]("modularity_q") - q) < 1e-8, "Q")
    }
  }

  test("assortativity equals a driver Pearson over endpoint degrees") {
    val edges = coSupplyEdges
    val und = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = und.groupBy(_._1).map { case (m, xs) => m -> xs.length.toLong }
    val pairsDeg = und.map { case (m, x) => (deg(m), deg(x)) }
    val n = pairsDeg.length.toLong
    val sx = pairsDeg.map(_._1).sum; val sy = pairsDeg.map(_._2).sum
    val sxx = pairsDeg.map(p => p._1.toDouble * p._1).sum
    val syy = pairsDeg.map(p => p._2.toDouble * p._2).sum
    val sxy = pairsDeg.map(p => p._1.toDouble * p._2).sum
    val r = (n * sxy - sx.toDouble * sy) /
      math.sqrt((n * sxx - sx.toDouble * sx) * (n * syy - sy.toDouble * sy))
    val sumDeg = pairsDeg.map(_._1).sum
    val meanPpm = (sumDeg / n) * 1000000L + (sumDeg % n) * 1000000L / n
    val row = Graph.queries("graph_assortativity")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_directed_edges") == n)
    assert(row.getAs[Long]("mean_degree_ppm") == meanPpm)
    assert(math.abs(row.getAs[Double]("assortativity") - r) < 1e-6,
      s"entry ${row.getAs[Double]("assortativity")} vs independent $r")
  }

  /** Brute-force wedge scores over the co-supply graph: for every
    * non-adjacent pair, the shared-neighbor count and the Adamic–Adar sum
    * on the entry's round-9 weight lattice. */
  private lazy val linkPredScores: Seq[(Long, Long, Long, Double)] = {
    val edges = coSupplyEdges.toSet
    val und = coSupplyEdges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val adj = und.groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).toSet }
    val deg = adj.map { case (m, xs) => m -> xs.size }
    val nodes = adj.keys.toSeq.sorted
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      a = nodes(i); c = nodes(j)
      if !edges.contains((a, c))
      common = adj(a) & adj(c)
      if common.nonEmpty
    } yield {
      val aa = common.toSeq.map(m => BigDecimal(round9(1.0 / math.log(deg(m).toDouble)).toDouble)).sum
      (a, c, common.size.toLong, aa.toDouble)
    }
  }

  test("common-neighbors top-20 equals the brute-force non-adjacent wedge count") {
    val expected = linkPredScores
      .map { case (a, c, n, _) => (a, c, n) }
      .sortBy { case (a, c, n) => (-n, a, c) }.take(20)
    val got = Graph.queries("graph_common_neighbors")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("sa"), r.getAs[Long]("sc"), r.getAs[Long]("n_common")))
      .toSeq
    assert(got == expected)
  }

  test("adamic-adar top-20 equals the brute-force weighted wedge sum") {
    val expected = linkPredScores
      .sortBy { case (a, c, _, aa) => (-aa, a, c) }.take(20)
    val got = Graph.queries("graph_adamic_adar")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("sa"), r.getAs[Long]("sc"),
        r.getAs[Long]("n_common"), r.getAs[Double]("aa_score"))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) == expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-9, s"pair (${g._1},${g._2}) aa_score")
    }
  }

}
