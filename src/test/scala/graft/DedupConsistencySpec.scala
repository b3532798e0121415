package graft

import graft.operators.Dedup

/** Cross-operator consistency: the dedup paths are independent
  * implementations over the same corpus, so set-algebra relations between
  * their outputs are theorems, not coincidences — stronger evidence than
  * any single oracle because a bug would have to break two pipelines in
  * the same way to pass. The sf0.001 pins below add the threshold and
  * sizing readouts: the ROI curve against the exact pair set, and the LSH
  * sizing curve against brute-force pairs over the collected documents
  * ([[BaseRows]]).
  */
class DedupConsistencySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH pairs are a subset of exact inverted-index Jaccard pairs") {
    // minhash verifies candidates with the SAME exact jaccard >= 0.7 the
    // inverted-index path computes, and the inverted-index path is complete
    // (df cap is a no-op here, pinned by OperatorSpec) — so minhash ⊆ ngram,
    // with the gap = banding recall loss
    val mh = pairSet(Dedup.minhashLsh(spark, sf))
    val exact = pairSet(Dedup.ngramJaccard(spark, sf))
    assert(mh.nonEmpty && exact.nonEmpty)
    val invented = mh -- exact
    assert(invented.isEmpty, s"minhash invented pairs not in exact set: $invented")
    val recall = (mh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"minhash recall $recall vs exact inverted index")
  }

  test("exact simhash clusters are a subset of the Hamming<=1 pair set") {
    // same-signature pairs have hamming 0, so every cluster pair must
    // reappear in the hamming entry's output
    val clusters = Dedup.simhashClusters(spark, sf).collect()
    val hamming = pairSet(Dedup.simhashHamming(spark, sf))
    assert(clusters.nonEmpty && hamming.nonEmpty)
    // each cluster's (min_doc, max_doc) is one of its same-signature pairs
    clusters.filter(_.getAs[Long]("n_docs") > 1).foreach { c =>
      val pair = (c.getAs[Long]("min_doc"), c.getAs[Long]("max_doc"))
      assert(hamming.contains(pair), s"cluster pair $pair missing from hamming set")
    }
  }

  test("containment dominates Jaccard on every shared pair") {
    // theorem: C(a→b) = |∩|/|S(a)| >= |∩|/|∪| = J(a,b). So any jaccard
    // pair with jaccard >= 0.8 (containment's own cut) and n_inter >= 5
    // (which forces |S(a)| >= 5, clearing the min-size floor) MUST
    // reappear in the containment entry, scored at least as high — two
    // independent pipelines over the same index agreeing on a strict
    // inequality, not just set overlap
    val jac = Dedup.ngramJaccard(spark, sf)
      .filter("jaccard >= 0.8 AND n_inter >= 5")
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val cont = Dedup.containmentPairs(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("containment"))
      .toMap
    assert(jac.nonEmpty && cont.nonEmpty)
    jac.foreach { case (pair, j) =>
      val c = cont.get(pair)
      assert(c.isDefined, s"jaccard pair $pair (j=$j) missing from containment set")
      assert(c.get >= j - 1e-12, s"containment ${c.get} < jaccard $j for $pair")
    }
  }

  test("span removal removes exactly from the docs span profiling flags") {
    // spanNgrams (profile) and spanRemoval (cleanup) are independent
    // formulations over the same shared-span definition, so:
    //   - a doc has n_removed > 0  IFF  it appears in the profile
    //     (profile only emits docs with >= 1 shared span);
    //   - removal counts are bounded: each shared span covers 8 positions,
    //     so n_removed <= min(n_tokens, 8 * n_shared_spans);
    //   - untouched docs keep their original text verbatim (md5 of the
    //     split-rejoin equals clean_md5 — rebuild is order-faithful).
    val removal = Dedup.spanRemoval(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"), r.getAs[String]("clean_md5")))
      .toMap
    val profile = Dedup.spanNgrams(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_spans")).toMap
    assert(removal.nonEmpty && profile.nonEmpty)
    removal.foreach { case (d, (nTok, nRem, _)) =>
      assert(nRem >= 0 && nRem <= nTok, s"doc $d: removed $nRem of $nTok")
      profile.get(d) match {
        case Some(nShared) =>
          assert(nRem > 0, s"doc $d profiled with $nShared shared spans but nothing removed")
          assert(nRem <= math.min(nTok, 8L * nShared),
            s"doc $d: removed $nRem > 8×$nShared shared spans")
        case None =>
          assert(nRem == 0, s"doc $d removed $nRem tokens but is not in the span profile")
      }
    }
    // clean_md5 of an untouched doc == md5 of its original tokens rejoined
    import org.apache.spark.sql.functions.{col, md5, array_join, split}
    val untouched = removal.filter { case (_, (_, nRem, _)) => nRem == 0 }.keySet
    assert(untouched.nonEmpty, "fixture has no uncontaminated docs")
    val originals = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        md5(array_join(split(col("text"), " "), " ")).as("orig_md5"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("orig_md5")).toMap
    untouched.foreach { d =>
      assert(removal(d)._3 == originals(d), s"untouched doc $d text changed by removal")
    }
  }

  test("prefix-filtered jaccard equals the full inverted-index join on fewer candidates") {
    import org.apache.spark.sql.functions._
    // output identity: prefix filtering is a completeness THEOREM, and the
    // entry's oracle is the unfiltered SQL — here the two Spark paths are
    // additionally compared row-for-row including scores
    val full = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val pref = Dedup.ngramJaccardPrefix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full.nonEmpty)
    assert(pref == full, s"prefix twin diverged: only-full=${full -- pref} only-prefix=${pref -- full}")
    // candidate reduction: prefix-index pair volume must be strictly less
    // than the full inverted-index pair volume (Σ df·(df−1)/2 per token)
    val d = graft.Tables.documents(spark, sf)
    val toks = split(col("text"), " ")
    val sh = d.select(col("doc_id"),
      when(size(toks) >= 3,
        array_distinct(transform(sequence(lit(1), size(toks) - 2),
          i => array_join(slice(toks, i, lit(3)), " "))))
        .otherwise(array().cast("array<string>")).as("shingles"))
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val fullPairs = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(sum(expr("(df * (df - 1)) DIV 2"))).collect().head.getLong(0)
    val prefPairs = Dedup.prefixCandidateVolume(spark, sf)
    assert(prefPairs < fullPairs,
      s"prefix filter does not shrink the candidate join: $prefPairs >= $fullPairs")
  }

  test("prefix-filtered containment equals the full inverted-index join on fewer candidates") {
    import org.apache.spark.sql.functions._
    // output identity: the containment prefix filter is the asymmetric
    // form of the same completeness theorem, and the entry's oracle is the
    // unfiltered SQL — here the two Spark paths are additionally compared
    // row-for-row including scores
    val full = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val pref = Dedup.containmentPairsPrefix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(full.nonEmpty)
    assert(pref == full, s"containment prefix twin diverged: " +
      s"only-full=${full -- pref} only-prefix=${pref -- full}")
    // candidate reduction: subject-prefix × full-index ordered-pair volume
    // must be strictly less than the unfiltered Σ df·(df−1) the full join
    // examines
    val sh = Dedup.shingleDocs(Tables.documents(spark, sf))
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val fullPairs = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 1000L)
      .agg(sum(col("df") * (col("df") - lit(1L)))).collect().head.getLong(0)
    val prefPairs = Dedup.containmentPrefixCandidateVolume(spark, sf)
    info(f"containment candidates: $prefPairs prefix vs $fullPairs full " +
      f"(${prefPairs.toDouble / fullPairs * 100}%.1f%%)")
    assert(prefPairs < fullPairs,
      s"containment prefix filter does not shrink the candidate join: $prefPairs >= $fullPairs")
  }

  test("admission gate examines band-bounded candidates, not arrivals x corpus") {
    import org.apache.spark.sql.functions._
    // the gate's whole scale claim: the band equi-join bounds the pairs
    // the exact-Jaccard verify touches by Σ(bucket collisions), which on
    // a mostly-novel arrival stream is a tiny fraction of the all-pairs
    // |arrivals|·|corpus| a naive gate would score
    val sh = Dedup.shingleDocs(Tables.documents(spark, sf)).cache()
    val isArr = col("doc_id") % 10 === 7
    val arrBands = Dedup.bandRelation(sh.filter(isArr))
    val baseBands = Dedup.bandRelation(sh.filter(!isArr))
      .select(col("doc_id").as("base_id"), col("band_idx"), col("band_val"))
    val candidates = arrBands.join(baseBands, Seq("band_idx", "band_val"))
      .filter(col("doc_id") =!= col("base_id"))
      .select(col("doc_id"), col("base_id")).distinct().count()
    val nArr = sh.filter(isArr).count()
    val nBase = sh.filter(!isArr).count()
    val allPairs = nArr * nBase
    info(f"gate candidates: $candidates of $allPairs all-pairs " +
      f"(${candidates.toDouble / allPairs * 100}%.2f%%)")
    assert(candidates > 0, "fixture has no near-dup collisions to measure")
    assert(candidates * 10 < allPairs,
      s"band join examined >10% of all pairs: $candidates vs $allPairs")
    // six planted arrivals, ids above any corpus doc_id: exact copies of
    // three corpus docs are rejected at jaccard 1 against a corpus doc; a
    // word-reversed copy (no shared 3-word shingle: word order is part of
    // near-dup identity), a fresh out-of-vocabulary doc and a sub-3-word
    // doc (no shingles, so no band collides) are admitted
    import spark.implicits._
    val idBase = 1L << 41
    val copies = Tables.documents(spark, sf).filter(!isArr)
      .orderBy(col("doc_id")).limit(3).select(col("text")).as[String].collect().toSeq
    val planted = copies ++ Seq(copies.head.split(" ").reverse.mkString(" "),
      "zxqv wbfk pltm djrn ghsc", "two words")
    val arrSh = Dedup.shingleDocs(
      planted.zipWithIndex.map { case (t, i) => (idBase + i, t) }.toDF("doc_id", "text"))
    // the base side also holds a sub-3-word doc: a doc without shingles
    // has null minhash lanes, which never equal a band value, so the
    // planted "two words" arrival must not collide with it
    val base = sh.filter(!isArr).unionByName(Dedup.shingleDocs(
      Seq((idBase + planted.length, "lone pair")).toDF("doc_id", "text")))
    val gateBands = Dedup.bandRelation(base)
      .select(col("doc_id").as("base_id"), col("band_idx"), col("band_val"))
    val verdicts = Dedup.gateVerdicts(arrSh, base, gateBands).collect()
      .map(r => (r.getAs[Long]("doc_id") - idBase).toInt -> r).toMap
    (0 until 3).foreach { i =>
      val v = verdicts(i)
      assert(v.getAs[String]("verdict") == "reject", s"exact copy $i was admitted")
      assert(v.getAs[Double]("jaccard") == 1.0,
        s"copy $i jaccard ${v.getAs[Double]("jaccard")}, want 1.0")
      assert(v.getAs[Long]("dup_of") < idBase, "dup_of must point into the corpus")
    }
    Seq(3 -> "reversed-word", 4 -> "fresh OOV", 5 -> "sub-3-word").foreach { case (i, what) =>
      assert(verdicts(i).getAs[String]("verdict") == "admit", s"$what doc was rejected")
    }
    sh.unpersist()
  }

  test("dedup_roi_curve 0.7 row counts the ngram-jaccard pair set; measures are threshold-monotone") {
    val rows = Dedup.queries("dedup_roi_curve")(spark, sf0001).collect()
      .map(r => (r.getAs[Double]("thr"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs_dropped"), r.getAs[Long]("chars_dropped")))
      .sortBy(_._1)
    val jacPairs = Dedup.queries("dedup_ngram_jaccard")(spark, sf0001).count()
    assert(rows.find(_._1 == 0.7).get._2 == jacPairs)
    for (Array(lo, hi) <- rows.sliding(2).map(_.toArray)) {
      assert(lo._2 >= hi._2 && lo._3 >= hi._3 && lo._4 >= hi._4,
        s"non-monotone: $lo -> $hi")
    }
    // the curve must actually discriminate on this corpus (not flat)
    assert(rows.head._2 > rows.last._2)
  }

  test("LSH sizing curve equals a driver S-curve recompute over brute-force pairs") {
    val docs = BaseRows.documents.map(d => (d.docId, d.text))
    val shingles = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val sh = if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
               else Set.empty[String]
      id -> sh
    }.toMap
    // brute-force all-pairs sharing >= 1 shingle (df cap is a no-op here,
    // pinned elsewhere) — a different pair generator than the inverted index
    val ids = shingles.keys.toSeq.sorted
    val pairSims = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = shingles(ids(i)); b = shingles(ids(j))
      inter = (a & b).size
      if inter > 0
    } yield inter.toDouble / (a.size + b.size - inter)
    val expected = Dedup.LshCurveConfigs.map { case (bnd, r) =>
      val terms = pairSims.map { s =>
        // mirror the entry's left-assoc chains exactly
        var sr = s; for (_ <- 2 to r) sr *= s
        val q = 1.0 - sr
        var qb = q; for (_ <- 2 to bnd) qb *= q
        1.0 - qb
      }
      (bnd.toLong, r.toLong, terms.length.toLong,
        terms.count(_ > 0.5).toLong,
        terms.map(HalfUp.round9).sum.toDouble)
    }
    val rows = Dedup.queries("dedup_lsh_curve")(spark, sf0001).collect()
      .map(r => (r.getAs[Int]("bands").toLong, r.getAs[Int]("rows_per_band").toLong,
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_likely"),
        r.getAs[Double]("expected_cands"))).toSeq
    rows.zip(expected).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2)
      assert(g._3 == e._3, s"config ${g._1}x${g._2} n_pairs ${g._3} vs ${e._3}")
      assert(g._4 == e._4, s"config ${g._1}x${g._2} n_likely")
      assert(math.abs(g._5 - e._5) < 1e-7, s"config ${g._1}x${g._2} expected_cands")
    }
  }

}
