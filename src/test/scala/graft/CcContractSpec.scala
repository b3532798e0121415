package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Topology stress for the large-star/small-star connected-components
  * contraction (Dedup.ccContract). The DuckDB WITH RECURSIVE oracle gates
  * the real-corpus path (dedup_cc_clusters); this spec gates the claim the
  * oracle cannot see at harness scale: convergence is O(log² n) rounds on
  * ANY topology, including the long-chain graphs that break any
  * fixed-round min-label budget.
  */
class CcContractSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(pairs: Seq[(Long, Long)], maxRounds: Int = 25): (Map[Long, Long], Int) = {
    val df = pairs.toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.ccContract(df, maxRounds)
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (m, rounds)
  }

  test("300-node chain converges in O(log n) rounds, far under the diameter") {
    // diameter 300: min-label propagation needs 300 rounds (15× the old
    // MaxCcIters=20 budget, which would have thrown); contraction needs ~log
    val chain = (0L until 300L).map(i => (i, i + 1))
    val (labels, rounds) = labelsOf(chain, maxRounds = 15)
    assert(rounds <= 15, s"took $rounds rounds on a 301-node chain")
    assert(labels.size == 301)
    assert(labels.values.forall(_ == 0L), "all chain nodes must label to the min (0)")
  }

  test("labels match a union-find ground truth on a multi-component graph") {
    // several shapes at once: a chain, a star, a cycle, a clique, an edge —
    // deliberately listed with arbitrary edge orientation and duplicates
    val edges = Seq[(Long, Long)](
      (10, 11), (12, 11), (12, 13), (14, 13),          // chain 10..14
      (20, 25), (25, 21), (25, 22), (25, 23),          // star centered off-min
      (30, 31), (31, 32), (32, 33), (33, 30),          // cycle
      (40, 41), (41, 40), (40, 42), (41, 42),          // clique + dup edge
      (50, 51))
    // driver-side union-find over the tiny fixture = independent ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    val (labels, _) = labelsOf(edges)
    assert(labels == expected)
  }

  test("contraction agrees with the recursive-closure shape on the real corpus") {
    // dedupClusters (the oracled entry) and a bare ccContract over the same
    // pairs must agree exactly — pins the entry's wrapping to the algorithm
    val pairs = Dedup.minhashLsh(spark, sf0001).select(col("doc_a"), col("doc_b"))
    val (labels, rounds) = Dedup.ccContract(pairs)
    assert(rounds >= 1)
    val fromEntry = Dedup.dedupClusters(spark, sf0001)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fresh = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fresh == fromEntry)
  }
}
