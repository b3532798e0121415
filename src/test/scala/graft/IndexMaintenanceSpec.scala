package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The tombstone-delete + compaction path (`sim_index_delete`): deleted
  * vectors must be unreachable through EVERY serving phase, compaction
  * must be a pure storage transform (identical results), and the serve
  * must still find the true surviving neighbors. */
class IndexMaintenanceSpec extends SparkSpec {

  private lazy val served = Similarity.indexDeleteCompact(spark, sf0001).collect()

  private def phase(name: String): Array[Row] =
    served.filter(_.getAs[String]("phase") == name)

  test("no deleted id ever surfaces in served results") {
    assert(served.nonEmpty, "delete-compact serve returned nothing")
    val dead = served.filter(r => r.getAs[Long]("vec_id") % 5 == 2)
    assert(dead.isEmpty,
      s"tombstoned ids surfaced: ${dead.map(_.getAs[Long]("vec_id")).toSet}")
    // and the probes are planted copies of DELETED vectors, so their twin
    // (which would win at cos ~ 1 pre-delete) being absent is the sharp
    // form of the check
    served.foreach { r =>
      assert(r.getAs[Long]("q_id") - (1L << 41) != r.getAs[Long]("vec_id"),
        "a probe's deleted twin came back")
    }
  }

  test("compaction is a pure storage transform: phases return identical results") {
    def key(rows: Array[Row]) = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rn"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"))).toSet
    val (t, c) = (key(phase("tombstoned")), key(phase("compacted")))
    assert(t.nonEmpty && t == c,
      s"phase mismatch: tombstoned-only ${t -- c}, compacted-only ${c -- t}")
  }

  test("rank-1 results match brute-force nearest survivors (recall gate)") {
    val all = Similarity.vectors(spark, sf0001)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("vn"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).toArray))
    val survivors = all.filter(_._1 % 5 != 2)
    val deleted = all.filter(_._1 % 5 == 2).sortBy(_._1).take(3)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    var hits = 0
    deleted.foreach { case (vid, qv) =>
      val want = survivors.maxBy(s => (dot(qv, s._2), -s._1))._1
      val got = phase("tombstoned")
        .filter(r => r.getAs[Long]("q_id") == vid + (1L << 41))
        .minBy(_.getAs[Long]("rn")).getAs[Long]("vec_id")
      if (got == want) hits += 1
    }
    assert(hits >= 2, s"only $hits/3 probes found their true surviving nearest")
  }

  test("semdedup losers retire cleanly as the tombstone feed") {
    // the production wiring: semantic dedup's loser relation IS the
    // delete feed — losers become tombstones, and probing with a loser's
    // own vector must return only SURVIVORS
    val (idx, nprobe, refineT) = Similarity.ensureIvfPqIndex(spark, sf0001)
    val (_, losersAll) = Similarity.semDedupAssignLosers(spark, sf0001)
    // only real corpus ids — semdedup's synthetic twins (+2^41) never
    // entered the index
    val tombs = losersAll.filter(col("vec_id") < (1L << 41)).cache()
    val loserIds = tombs.collect().map(_.getAs[Long]("vec_id")).toSet
    assert(loserIds.nonEmpty, "semdedup found no losers on this corpus")
    val all = Similarity.vectors(spark, sf0001)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("vn"))
    val maskedCells = spark.read.parquet(s"$idx/cells")
      .join(tombs, Seq("vec_id"), "left_anti")
    val q = all.join(tombs, Seq("vec_id")).orderBy(col("vec_id")).limit(3)
      .select((col("vec_id") + (1L << 41)).as("q_id"), col("vn").as("qv"))
    val served = Similarity.serveIvfPqQueries(q,
      all.join(tombs, Seq("vec_id"), "left_anti"),
      spark.read.parquet(s"$idx/centroids"),
      spark.read.parquet(s"$idx/codebook"),
      maskedCells, spark.read.parquet(s"$idx/codes"),
      nprobe, refineT).collect()
    assert(served.nonEmpty, "loser-probe serve returned nothing")
    served.foreach { r =>
      assert(!loserIds.contains(r.getAs[Long]("vec_id")),
        s"deduplicated vector ${r.getAs[Long]("vec_id")} surfaced after deletion")
    }
    // each loser-probe's top answer is a real survivor with sane cosine —
    // typically the pair WINNER the loser was deduplicated against
    served.filter(_.getAs[Long]("rn") == 1L).foreach { r =>
      assert(r.getAs[Double]("cos") <= 1.0000001)
    }
    tombs.unpersist()
  }

  test("index health reads healthy on a fresh build and flags a skewed one") {
    val (idx, _, _) = Similarity.ensureIvfPqIndex(spark, sf0001)
    val cells = spark.read.parquet(s"$idx/cells")
    val centroids = spark.read.parquet(s"$idx/centroids")
    val fresh = Similarity.indexHealth(spark, sf0001).head()
    // bookkeeping invariants: counts add up against the index relations
    assert(fresh.getAs[Long]("n_vecs") == cells.count())
    assert(fresh.getAs[Long]("k_cells") == centroids.count())
    assert(fresh.getAs[Long]("n_occupied") + fresh.getAs[Long]("n_empty") ==
      fresh.getAs[Long]("k_cells"))
    // a just-trained KMeans assignment is balanced: no rebuild signal
    assert(fresh.getAs[Long]("rebuild_flag") == 0L,
      s"fresh index flagged for rebuild: $fresh")
    // doctored assignment: every vector piled into cell 0 — the shape a
    // drifted corpus produces after long append-only operation
    val skewed = cells.select(col("vec_id"), lit(0).as("cell"))
    val bad = Similarity.healthOf(skewed, centroids).head()
    assert(bad.getAs[Long]("rebuild_flag") == 1L, s"skewed index not flagged: $bad")
    assert(bad.getAs[Long]("n_empty") == bad.getAs[Long]("k_cells") - 1)
    assert(bad.getAs[Long]("max_occ") == bad.getAs[Long]("n_vecs"))
  }

  test("compaction rewrites exactly the hot cells and retires their tombstones") {
    val (idx, _, _) = Similarity.ensureIvfPqIndex(spark, sf0001)
    // force a fresh run so the gen1 relations on disk match this corpus
    Similarity.indexDeleteCompact(spark, sf0001).count()
    val cells0 = spark.read.parquet(s"$idx/cells")
    val cells1 = spark.read.parquet(s"${idx}_gen1/cells")
    val tombs1 = spark.read.parquet(s"${idx}_gen1/tombstones")
    val deadIds = cells0.filter(col("vec_id") % 5 === 2)
    // residual tombstones are a subset of the original delete feed, and
    // every residual tombstone's row is still present (mask, not rewrite)
    assert(tombs1.join(deadIds, Seq("vec_id"), "left_anti").count() == 0)
    assert(tombs1.join(cells1, Seq("vec_id")).count() == tombs1.count())
    // every dead id is gone from gen1 one way or the other: either its
    // row was compacted away or it is residual-tombstoned
    val reachable = cells1.join(tombs1, Seq("vec_id"), "left_anti")
    assert(reachable.join(deadIds, Seq("vec_id")).count() == 0)
    // compaction only ever REMOVES rows, and removes only dead ones
    assert(cells1.join(cells0, Seq("vec_id", "cell"), "left_anti").count() == 0)
    assert(cells0.join(cells1, Seq("vec_id"), "left_anti")
      .filter(col("vec_id") % 5 =!= 2).count() == 0)
    // codes stay aligned with the surviving cell rows (PqM codes each)
    val codes1 = spark.read.parquet(s"${idx}_gen1/codes")
    assert(codes1.count() == cells1.count() * Similarity.PqM)
  }
}
