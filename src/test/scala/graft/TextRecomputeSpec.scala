package graft

import graft.operators.TextAnalysis

/** Independent recomputes of the `TextAnalysis` corpus statistics.
  *
  * Each recompute tokenizes the collected sf0.001 documents
  * ([[BaseRows]]) on the driver as the entries do (split on single
  * spaces) and rebuilds the entry in plain Scala, comparing exactly on
  * the integer kernels or to the documented rounding lattice. */
class TextRecomputeSpec extends SparkSpec {

  import BaseRows._
  import HalfUp._

  /** Token frequencies of the corpus, tokenized on the driver as the text
    * entries do: split on single spaces, empties dropped. */
  private lazy val tokenFreq: Map[String, Long] = {
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    documents.foreach { d =>
      d.text.split(" ").filter(_.nonEmpty)
        .foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1L)
    }
    freq.toMap
  }

  // -------------------------------------------------------- corpus statistics

  test("zipf fit equals a driver OLS over an independently tokenized head") {
    val top = tokenFreq.toSeq.sortBy { case (w, f) => (-f, w) }.take(32)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (math.log((i + 1).toDouble), math.log(f.toDouble))
    }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - sx * slope) / n
    val r2 = (n * sxy - sx * sy) * (n * sxy - sx * sy) /
      ((n * sxx - sx * sx) * (n * syy - sy * sy))
    val row = TextAnalysis.queries("text_zipf_fit")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_points") == pts.length.toLong)
    assert(math.abs(row.getAs[Double]("zipf_slope") - slope) < 1e-5,
      s"slope ${row.getAs[Double]("zipf_slope")} vs independent $slope")
    assert(math.abs(row.getAs[Double]("intercept") - intercept) < 1e-5)
    assert(math.abs(row.getAs[Double]("r2") - r2) < 1e-5)
  }

  test("heavy hitters equal the exact token set with cnt·33 > n") {
    // the entry's Misra–Gries pass only nominates candidates; its exact
    // recount must keep precisely the tokens above 3% of all tokens
    val n = tokenFreq.values.sum
    val truth = tokenFreq.filter { case (_, c) => c * 33 > n }
    assert(truth.nonEmpty, "fixture lost its heavy hitters — check the corpus")
    val got = TextAnalysis.queries("text_heavy_hitters")(spark, sf0001).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toMap
    assert(got == truth,
      s"extra=${got.keySet -- truth.keySet} missing=${truth.keySet -- got.keySet}")
  }

  test("JS divergence equals a driver two-corpus recompute on the round-9 lattice") {
    val docs = docTexts
    val counts = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    docs.foreach { case (id, text) =>
      val arm = id % 2
      text.split(" ").filter(_.nonEmpty).foreach { t =>
        val (a, b) = counts.getOrElse(t, (0L, 0L))
        counts(t) = if (arm == 0) (a + 1, b) else (a, b + 1)
      }
    }
    val na = counts.values.map(_._1).sum; val nb = counts.values.map(_._2).sum
    val js = counts.values.map { case (ca, cb) =>
      val p = ca.toDouble / na; val q = cb.toDouble / nb
      val m = (p + q) / 2.0
      round9((if (ca > 0) p * math.log(p / m) else 0.0) * 0.5 +
        (if (cb > 0) q * math.log(q / m) else 0.0) * 0.5)
    }.sum
    val row = TextAnalysis.queries("text_js_divergence")(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_tokens_a") == na && row.getAs[Long]("n_tokens_b") == nb)
    assert(row.getAs[Long]("n_vocab") == counts.size.toLong)
    assert(math.abs(row.getAs[Double]("js_nats") - js.toDouble) < 1e-8,
      s"js_nats ${row.getAs[Double]("js_nats")} vs independent ${js.toDouble}")
    assert(math.abs(row.getAs[Double]("js_bits") - js.toDouble / math.log(2.0)) < 1e-5)
  }

  test("readability report equals an exact driver Flesch recompute") {
    val syl = "[aeiouy]+".r
    val docs = documents.map(d => (d.source, d.text))
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      val words = g.flatMap(_._2.split(" ").filter(_.nonEmpty))
      val nWords = words.length.toLong
      val nSyl = words.map(w => syl.findAllIn(w).length.toLong).sum
      val nDocs = g.length.toLong
      val wps = nWords * 1000L / nDocs
      val spw = nSyl * 1000L / nWords
      src -> (nDocs, nWords, nSyl, wps, spw, 206835L - 1015L * wps / 1000L - 84600L * spw / 1000L)
    }
    val got = TextAnalysis.queries("text_readability")(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getAs[String]("source"))
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_syllables"), r.getAs[Long]("wps_milli"),
        r.getAs[Long]("spw_milli"), r.getAs[Long]("flesch_milli")) == e,
        s"source ${r.getAs[String]("source")}")
    }
  }

}
