package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Similarity}

/** ANN quality gates: the bucketed variants can't be hash-oracled (LSH is
  * oracle'd separately; IVF centroids are float-order-dependent), so the
  * gate is recall against the exact brute-force top-k — the standard ANN
  * evaluation. */
class SimilaritySpec extends SparkSpec {

  private def neighbors(df: DataFrame, k: Int): Map[Long, Set[Long]] =
    df.collect()
      .groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rn")).take(k)
        .map(_.getAs[Long]("vec_id")).toSet)
      .toMap

  test("IVF recall@3 vs brute force is well above the random floor") {
    val sf001 = "/root/testdata/sf0.01"
    val brute = neighbors(Similarity.knnBrute(spark, sf001), 3)
    val ivf = neighbors(Similarity.knnIvf(spark, sf001), 3)
    assert(ivf.nonEmpty)
    val recalls = brute.keys.toSeq.map { q =>
      val got = ivf.getOrElse(q, Set.empty)
      (got intersect brute(q)).size.toDouble / brute(q).size
    }
    val recall = recalls.sum / recalls.size
    info(s"IVF multi-probe (nprobe=${Similarity.NProbe}) recall@3 = $recall")
    // The test embeddings are uniform random, which caps how often true
    // neighbors share a cell (real corpora cluster, random ones don't).
    // nprobe=1 measured ~0.2 on this corpus (r2 gate: 0.10 over the 1/16
    // random floor); nprobe=3 measured ~0.6 — gate at 0.35, comfortably
    // above anything single-probe can deliver, robust to regeneration.
    assert(recall >= 0.35, s"IVF multi-probe recall@3 $recall below floor")
  }

  test("IVF-PQ recall@3 rises with nprobe (serving-knob monotonicity)") {
    val sf001 = "/root/testdata/sf0.01"
    val brute = neighbors(Similarity.knnBrute(spark, sf001), 3)
    def recall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.keys.toSeq.map { q =>
        (m.getOrElse(q, Set.empty) intersect brute(q)).size.toDouble / brute(q).size
      }
      rs.sum / rs.size
    }
    // same trained quantizers at both points (seeded fits), so the two
    // runs differ ONLY in cells scanned — probing 8 of 16 cells covers a
    // strict superset of candidates vs 1 cell, and the ADC order plus
    // exact refine can only improve with more true neighbors in range.
    // Measured curve (COVERAGE.md): 0.22 @ nprobe=1 → 0.67 @ nprobe=8.
    val lo = recall(neighbors(
      Similarity.knnIvfPqTuned(spark, sf001, 1, Similarity.RefineT), 3))
    val hi = recall(neighbors(
      Similarity.knnIvfPqTuned(spark, sf001, 8, Similarity.RefineT), 3))
    info(s"IVF-PQ recall@3: nprobe=1 $lo, nprobe=8 $hi")
    assert(hi >= lo, s"recall fell as nprobe rose: $hi < $lo")
    assert(hi > 0.3, s"nprobe=8 recall $hi below the half-the-index floor")
  }

  test("multiprobe LSH recall@3 is at least single-probe recall@3") {
    val sf001 = "/root/testdata/sf0.01"
    val brute = neighbors(Similarity.knnBrute(spark, sf001), 3)
    def recall(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.keys.toSeq.map { q =>
        (m.getOrElse(q, Set.empty) intersect brute(q)).size.toDouble / brute(q).size
      }
      rs.sum / rs.size
    }
    val single = recall(neighbors(Similarity.knnLsh(spark, sf001), 3))
    val multi = recall(neighbors(Similarity.knnLshMultiprobe(spark, sf001), 3))
    info(s"sign-LSH recall@3: single-probe $single, multiprobe(+${Similarity.MultiProbeFlips} flips) $multi")
    // probing a superset of buckets can only add candidates, and every
    // candidate is scored exactly — so multiprobe recall dominates
    assert(multi >= single, s"multiprobe $multi < single-probe $single")
    assert(multi > 0.0, "multiprobe found no true neighbors at all")
  }

  test("banded embedding LSH: subset of brute pairs, identical cosines, recall above floor") {
    val sf001 = "/root/testdata/sf0.01"
    def pairs(df: DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) ->
        r.getAs[Double]("cos")).toMap
    val brute = pairs(Dedup.embeddingPairs(spark, sf001))
    val lsh = pairs(Dedup.embeddingLsh(spark, sf001))
    assert(lsh.nonEmpty, "banded LSH found no pairs")
    // soundness: every LSH pair is a true pair with the bit-identical cosine
    lsh.foreach { case (k, cos) =>
      assert(brute.contains(k), s"LSH invented pair $k")
      assert(brute(k) == cos, s"cosine mismatch for $k")
    }
    // recall floor: 12 bands × 5 bits measured ~0.85 on this corpus;
    // gate at 0.5 to stay robust to data regeneration
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.5, s"banded LSH recall $recall below floor (${lsh.size}/${brute.size})")
  }

  test("int8-quantized KNN preserves exact-cosine neighbor rank fidelity") {
    val sf001 = "/root/testdata/sf0.01"
    val brute = neighbors(Similarity.knnBrute(spark, sf001), 3)
    val quant = neighbors(Similarity.knnQuantized(spark, sf001), 3)
    assert(quant.nonEmpty)
    assert(quant.keySet == brute.keySet,
      "quantized and brute paths disagree on the query set")
    val recalls = brute.keys.toSeq.map { q =>
      (quant(q) intersect brute(q)).size.toDouble / brute(q).size
    }
    val recall = recalls.sum / recalls.size
    info(s"int8 quantized recall@3 vs exact = $recall")
    // int8 on 64 dims loses ~7 bits of mantissa per element; measured
    // recall ~0.9+ on this corpus — gate at 0.7, far above the LSH/IVF
    // floors: quantization approximates VALUES, not candidate sets.
    assert(recall >= 0.7, s"quantized recall@3 $recall below floor")
  }

  test("PQ-ADC recall@3 vs brute force is well above the random floor") {
    val sf001 = "/root/testdata/sf0.01"
    val brute = neighbors(Similarity.knnBrute(spark, sf001), 3)
    val pq = neighbors(Similarity.knnPq(spark, sf001), 3)
    assert(pq.nonEmpty)
    val recalls = brute.keys.toSeq.map { q =>
      (pq.getOrElse(q, Set.empty) intersect brute(q)).size.toDouble / brute(q).size
    }
    val recall = recalls.sum / recalls.size
    info(s"PQ ${Similarity.PqM}x${Similarity.PqK} ADC recall@3 = $recall")
    // uniform random embeddings are the worst case for PQ (no cluster
    // structure for the codebook to exploit); the random floor for top-3
    // of ~n candidates is ~0. Gate conservatively under the measured value.
    assert(recall >= 0.2, s"PQ ADC recall@3 $recall below floor")
  }

  test("IVF-PQ composition still finds true neighbors above the random floor") {
    val sf001 = "/root/testdata/sf0.01"
    val brute = neighbors(Similarity.knnBrute(spark, sf001), 3)
    val ivfpq = neighbors(Similarity.knnIvfPq(spark, sf001), 3)
    assert(ivfpq.nonEmpty)
    val recalls = brute.keys.toSeq.map { q =>
      (ivfpq.getOrElse(q, Set.empty) intersect brute(q)).size.toDouble / brute(q).size
    }
    val recall = recalls.sum / recalls.size
    info(s"IVF-PQ (nprobe=${Similarity.NProbe}, ${Similarity.PqM}x${Similarity.PqK}, refine=${Similarity.RefineT}) recall@3 = $recall")
    // cell pruning caps the ceiling at exact-IVF's ~0.6 (nprobe=3); the
    // residual-encode + exact-refine stack recovers most of the PQ
    // distortion inside the probed cells — measured 0.45 (was ~0.32 raw
    // ADC, floor 0.1). Gate at 0.3: comfortably under the measurement,
    // 3x the old floor, robust to data regeneration.
    assert(recall >= 0.3, s"IVF-PQ recall@3 $recall below floor")
  }

  test("scaled-parameter IVF-PQ beats the fixed-parameter recall decay at 10x corpus") {
    // The measured gap this entry exists to close (COVERAGE.md §7.5): with
    // K=16/nprobe=3/refineT=10 held fixed, recall@3 decayed 0.53 → 0.35
    // going sf0.01 → sf0.1. The scaled sizing (cells=√n, nprobe=√cells,
    // refineT tracking expected candidates) must hold recall UP at the
    // larger corpus — and stay green at the smaller one.
    def recallAt(dir: String, df: DataFrame, brute: Map[Long, Set[Long]]): Double = {
      val m = neighbors(df, 3)
      val rs = brute.keys.toSeq.map { q =>
        (m.getOrElse(q, Set.empty) intersect brute(q)).size.toDouble / brute(q).size
      }
      rs.sum / rs.size
    }
    val sf01 = "/root/testdata/sf0.1"
    val brute01 = neighbors(Similarity.knnBrute(spark, sf01), 3)
    val fixed01 = recallAt(sf01, Similarity.knnIvfPq(spark, sf01), brute01)
    val scaled01 = recallAt(sf01, Similarity.knnIvfPqScaled(spark, sf01), brute01)
    val (c1, np1, rt1) = Similarity.scaledIvfPqParams(2000L)
    info(s"sf0.1 recall@3: fixed(K=16,np=3,rt=10) $fixed01, scaled(cells=$c1,np=$np1,rt=$rt1) $scaled01")
    assert(scaled01 >= fixed01,
      s"scaled parameterization $scaled01 lost to fixed $fixed01 at sf0.1")
    // measured ~0.35 fixed / substantially higher scaled; hard floor keeps
    // the gate meaningful even if fixed drifts up on regeneration
    assert(scaled01 >= 0.45, s"scaled recall@3 $scaled01 below floor at sf0.1")

    val sf001 = "/root/testdata/sf0.01"
    val brute001 = neighbors(Similarity.knnBrute(spark, sf001), 3)
    val scaled001 = recallAt(sf001, Similarity.knnIvfPqScaled(spark, sf001), brute001)
    info(s"sf0.01 scaled recall@3 = $scaled001")
    assert(scaled001 >= 0.3, s"scaled recall@3 $scaled001 below floor at sf0.01")
  }

  test("scaled IVF-PQ sizing rule: sublinear scan fraction, occupancy-tracking refine") {
    // the rule itself, pinned: cells=√n (clamped), nprobe=√cells so the
    // scanned fraction FALLS with corpus size, refineT ≈ 10% of expected
    // ADC candidates
    val (c500, np500, rt500) = Similarity.scaledIvfPqParams(500L)
    assert(c500 == 22 && np500 == 5 && rt500 == 12, s"($c500, $np500, $rt500)")
    val (c2k, np2k, rt2k) = Similarity.scaledIvfPqParams(2000L)
    assert(c2k == 45 && np2k == 7 && rt2k == 32, s"($c2k, $np2k, $rt2k)")
    // billion-scale shape: ~0.6% of the corpus scanned, clamp respected
    val (cB, npB, rtB) = Similarity.scaledIvfPqParams(1000000000L)
    assert(cB == Similarity.TrainCap / 4, s"upper clamp violated: $cB")
    assert(npB.toDouble / cB < 0.04, s"scan fraction ${npB.toDouble / cB} not sublinear")
    assert(rtB > rt2k, "refine shortlist must track occupancy")
  }

  test("persisted-index serve returns exactly the in-memory scaled results") {
    // build-once/serve-many: seeded fits make the persisted quantizers
    // identical to the in-memory ones, and parquet roundtrips doubles
    // losslessly — so the serve path must reproduce sim_knn_ivfpq_tuned
    // row for row (ranks included), at BOTH probed SFs. Run twice to
    // exercise both the build-and-serve and the serve-only code paths.
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rn"))).toSeq
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val mem = rows(Similarity.knnIvfPqScaled(spark, dir))
      val served1 = rows(Similarity.knnIvfPqServed(spark, dir))
      val served2 = rows(Similarity.knnIvfPqServed(spark, dir)) // warm index
      assert(served1 == mem, s"served != in-memory at $dir")
      assert(served2 == mem, s"warm-index serve != in-memory at $dir")
    }
  }

  test("SemDeDup drops exactly one member per planted near-dup pair") {
    // The entry plants a twin (+0.01 on dim 1, id+1e6) for every 8th
    // vector; random within-cluster pairs sit far below the 0.9 cosine
    // gate, so the ONLY duplicate groups are those 2-cliques. The
    // dominance survivor rule must therefore drop exactly one member per
    // CO-CLUSTERED pair — never both, never an undominated vector — and
    // a pair split across clusters (the blocking approximation) keeps
    // both. Checked at two SFs so the cross-cluster case (observed at
    // sf0.1: 249/250) is exercised, not just the all-co-clustered one.
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val base = graft.Tables.embeddings(spark, dir).count()
      val twins = (base + 7) / 8 // vec_id ∈ {0, 8, …}: ⌈base/8⌉
      val rows = Similarity.semDedup(spark, dir).collect()
      val nVecs = rows.map(_.getAs[Long]("n_vecs")).sum
      val nKept = rows.map(_.getAs[Long]("n_kept")).sum
      val nDropped = rows.map(_.getAs[Long]("n_dropped")).sum
      assert(nVecs == base + twins, s"member count at $dir")
      assert(nKept + nDropped == nVecs, s"kept+dropped != members at $dir")
      // one drop per co-clustered pair: never more than the pair count,
      // and blocking loses at most a sliver of pairs to cluster splits
      assert(nDropped <= twins, s"dropped both ends of a pair at $dir")
      assert(nDropped >= twins * 9 / 10,
        s"blocking lost >10% of planted pairs at $dir ($nDropped/$twins)")
      rows.foreach { r =>
        assert(r.getAs[Long]("n_kept") >= 1, s"cluster emptied at $dir")
      }
    }
  }

  test("random projection preserves norms within JL distortion") {
    import org.apache.spark.sql.functions._
    // the JL property the entry exists for: E[||y||²] = ||x||² under ±1
    // signs, so the per-vector ratio ||y||²/(k·||x||²)·k ... concretely
    // ||y||²/||x||² concentrates around k — with ±1 signs each y_j has
    // E[y_j²]=||x||², so Σy_j² ≈ k·||x||². For a FIXED sign matrix over
    // CORRELATED embedding dims the per-vector spread is wide (measured
    // min ≈ 2.5 on this corpus), so the pin is a [k/10, 10k] band per
    // vector plus a [k/2, 2k] median — still far outside failure modes:
    // the separable parity matrix this test caught collapsed the map to
    // rank 1 and scored 0.14 (k/114), and an all-+1 matrix inflates to
    // ~k·d on correlated dims.
    val k = 16.0
    val y2 = Similarity.queries("sim_random_projection")(spark, sf0001)
      .groupBy(col("vec_id")).agg(sum(col("y") * col("y")).as("y2"))
    val x2 = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        aggregate(col("embedding").cast("array<double>"), lit(0.0),
          (acc, v) => acc + v * v).as("x2"))
    val ratios = y2.join(x2, "vec_id")
      .select((col("y2") / col("x2")).as("r")).collect().map(_.getDouble(0))
    assert(ratios.nonEmpty)
    ratios.foreach(r => assert(r > k / 10 && r < k * 10, s"JL ratio $r out of band"))
    val med = ratios.sorted.apply(ratios.length / 2)
    assert(med > k / 2 && med < k * 2, s"median JL ratio $med")
  }

  test("scalar quantization reconstructs within the per-dim bucket bound") {
    import org.apache.spark.sql.functions._
    // SQ8's defining guarantee: |x − recon| ≤ half a bucket = (mx−mn)/512
    // per dimension, so per-vector sum_sqerr ≤ Σ_dim ((mx−mn)/512)² — a
    // bound that breaks if the code or the midpoint reconstruction is
    // off by even one bucket anywhere
    val comps = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
    val bound = comps.groupBy(col("pos"))
      .agg(((max(col("col")) - min(col("col"))) / 512.0).as("half"))
      .agg(sum(col("half") * col("half"))).collect().head.getDouble(0)
    val worst = Similarity.queries("sim_scalar_quant")(spark, sf0001)
      .agg(max(col("sum_sqerr"))).collect().head.getDouble(0)
    // round-9 lattice adds ≤ 64·5e-10 absolute slack
    assert(worst <= bound + 1e-7, s"reconstruction error $worst > bound $bound")
  }

  test("power-iteration output is near an eigenvector of an independent covariance") {
    // the self-consistent-oracle lesson applied to PCA: recompute the
    // covariance INDEPENDENTLY (plain driver doubles from the raw floats,
    // no lattice, no decimals) and check the entry's vector v actually
    // satisfies C·v ≈ λ·v — a plan bug that produced a deterministic but
    // wrong direction would pass the hash oracle and fail here
    val out = Similarity.queries("sim_pca_power")(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("dim"))
    val v = out.map(_.getAs[Double]("loading"))
    val lambda = out.head.getAs[Double]("lambda")
    val xs = Tables.embeddings(spark, sf0001)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = v.length
    assert(xs.head.length == d)
    val mu = Array.tabulate(d)(j => xs.map(_(j)).sum / xs.length)
    val c = Array.tabulate(d, d)((a, b) =>
      xs.map(x => (x(a) - mu(a)) * (x(b) - mu(b))).sum)
    val w = Array.tabulate(d)(a => (0 until d).map(b => c(a)(b) * v(b)).sum)
    def dot(p: Array[Double], q: Array[Double]) = p.zip(q).map { case (x, y) => x * y }.sum
    val cos = dot(w, v) / math.sqrt(dot(w, w) * dot(v, v))
    info(f"cos(Cv, v) = $cos%.6f, lambda = $lambda%.3f, max|Cv| = ${w.map(math.abs).max}%.3f")
    assert(cos > 0.9, s"power iterate not aligned with its own image: cos=$cos")
    // the reported eigenvalue is the max-norm of C·v — same up to lattice noise
    assert(math.abs(w.map(math.abs).max - lambda) / lambda < 0.05,
      s"lambda ${lambda} vs independent max|Cv| ${w.map(math.abs).max}")
  }

  test("IVF emits at most 3 ranked neighbors per query, no self-matches") {
    val rows = Similarity.knnIvf(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Long]("rn")).sorted.sameElements(1L to rs.length))
      assert(!rs.exists(_.getAs[Long]("vec_id") == q), s"self-match for $q")
    }
  }

}

/** The imperative Lloyd fit that the cluster-quality pins share. */
object SimilaritySpec {

  import BaseRows._
  import HalfUp._

  /** The shared Lloyd fit, fully imperative on the round-6 lattice: the
    * rounded components of every vector, the centroids after two cosine
    * assign/average rounds seeded with vectors 0..7, and the final
    * assignment. */
  lazy val lloydFit
      : (Map[Long, Array[BigDecimal]], Map[Long, Array[BigDecimal]], Map[Long, Long]) = {
    val comps: Map[Long, Array[BigDecimal]] =
      embeddings.map(e => e.vecId -> e.vec.map(round6)).toMap
    val d = embeddings.head.vec.length
    def assign(cent: Map[Long, Array[BigDecimal]]): Map[Long, Long] =
      comps.map { case (vid, x) =>
        val vsq = x.map(b => b * b).sum.toDouble
        val best = cent.toSeq.map { case (cl, c) =>
          val dotv = x.zip(c).map { case (a, b) => a * b }.sum.toDouble
          val csq = c.map(b => b * b).sum.toDouble
          (cl, dotv / math.sqrt(vsq * csq))
        }.minBy { case (cl, cos) => (-cos, cl) }._1
        vid -> best
      }
    var cent: Map[Long, Array[BigDecimal]] =
      comps.filter(_._1 < 8L).map { case (id, x) => id -> x.clone }
    for (_ <- 1 to 2) {
      val asg = assign(cent)
      cent = asg.groupBy(_._2).map { case (cl, members) =>
        val ids = members.keys.toSeq
        cl -> Array.tabulate(d) { j =>
          round6(ids.map(id => comps(id)(j)).sum.toDouble / ids.length)
        }
      }
    }
    (comps, cent, assign(cent))
  }

  /** Euclidean distance on the round-9 lattice. */
  def dist(x: Array[BigDecimal], c: Array[BigDecimal]): BigDecimal =
    round9(math.sqrt(x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum.toDouble))
}
