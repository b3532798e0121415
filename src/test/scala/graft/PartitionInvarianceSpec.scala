package graft

/** Catalog-wide cluster-size independence: every deterministic entry must
  * return the exact same multiset of rows no matter how the engine
  * partitions the work. On a real cluster the shuffle partition count is a
  * deployment knob (AQE retunes it per stage); an answer that shifts when
  * the knob does is a latent 100 TB wrong-answer bug that small-SF oracle
  * gates can miss (they always run at one fixed partitioning).
  *
  * Method: compare an order-invariant multiset digest
  * ([[CatalogSweep.digest]]) of each entry at deliberately co-prime
  * shuffle-partition counts (3 vs 17, both != the suite default 4). The
  * 3-partition side is the shared [[CatalogSweep]]'s pass, which also runs
  * with codegen fallback off. The 17-partition side runs here, through
  * [[SparkEntry.runEach]], on isolated `newSession()` clones — same
  * SparkContext, separate SQLConf and temp-view catalogs, so the sweep
  * cannot leak config into other suites — with broadcast joins and AQE
  * disabled too, so one compare certifies partition-count, join-strategy,
  * AND adaptive-replan independence. The runner clears the context's cache
  * before every entry: the CacheManager is shared by the `newSession()`
  * clones and matches plans without looking at their conf, so a fragment
  * an entry cache()d at 3 partitions would otherwise be served to the
  * 17-partition run and hide its subtree from the compare.
  *
  * Exclusions = exactly the catalog's no-oracle set (derived, so it can
  * never drift): the seeded-sample / trained-quantizer / approx entries
  * whose outputs are partition-dependent BY CONTRACT (per-partition RNG
  * streams, KMeans aggregation order) and are spec-gated elsewhere
  * (SamplingSpec rate bounds, SimilaritySpec recall floors).
  *
  * The wall seconds of both sides are kept per entry, and the 15 entries
  * with the largest total are reported.
  */
class PartitionInvarianceSpec extends SparkSpec {

  test("every oracled entry is invariant to the shuffle partition count") {
    val swept = CatalogSweep.entries.filter(e => SparkEntry.oracleSql.contains(e.name))
    assert(swept.size >= 140, s"sweep unexpectedly small: ${swept.size}")
    // the "hostile deployment" run: no broadcast joins (every join becomes
    // a shuffle join — strategy choice must never change the answer) and
    // no adaptive re-planning (static plans only)
    val hostile = () => {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "17")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s
    }
    val at17 = SparkEntry.runEach(hostile, Some(swept.map(_.name))) { (_, s, fn) =>
      SparkEntry.timed(CatalogSweep.digest(fn(s, sf0001)))
    }.toMap
    val seconds = Seq.newBuilder[(String, Double, Double)]
    val failures = swept.flatMap { e =>
      (e.ran, at17(e.name)) match {
        case (Right(a), Right((b, secB))) =>
          seconds += ((e.name, a.buildSeconds + a.digestSeconds, secB))
          if (a.digest == b) None
          else Some(s"${e.name}: digest@${CatalogSweep.Partitions}=${a.digest} digest@17/hostile=$b")
        case (Left(err), _) => Some(s"${e.name}: ${err.getMessage}")
        case (_, Left(err)) => Some(s"${e.name}: ${err.getMessage}")
      }
    }
    seconds.result().sortBy { case (_, a, b) => -(a + b) }.take(15).foreach {
      case (name, a, b) => info(f"$name: @${CatalogSweep.Partitions} $a%.2f s, @17/hostile $b%.2f s")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
