package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog-wide cluster-size independence: every deterministic entry must
  * return the exact same multiset of rows no matter how the engine
  * partitions the work. On a real cluster the shuffle partition count is a
  * deployment knob (AQE retunes it per stage); an answer that shifts when
  * the knob does is a latent 100 TB wrong-answer bug that small-SF oracle
  * gates can miss (they always run at one fixed partitioning).
  *
  * Method: run each entry twice on isolated `newSession()` clones — same
  * SparkContext, separate SQLConf and temp-view catalogs, so the sweep
  * cannot leak config into other suites — at
  * deliberately co-prime shuffle-partition counts (3 vs 17, both != the
  * suite default 4) — the second run additionally with broadcast joins
  * and AQE disabled, so one compare certifies partition-count,
  * join-strategy, AND adaptive-replan independence — and compare an
  * order-invariant multiset digest ([[CatalogSweep.digest]]). The context's
  * cache is cleared before every run: the CacheManager is shared by the
  * `newSession()` clones and matches plans without looking at their conf,
  * so a fragment an entry cache()d at 3 partitions would otherwise be
  * served to the 17-partition run and hide its subtree from the compare.
  *
  * Exclusions = exactly the catalog's no-oracle set (derived, so it can
  * never drift): the seeded-sample / trained-quantizer / approx entries
  * whose outputs are partition-dependent BY CONTRACT (per-partition RNG
  * streams, KMeans aggregation order) and are spec-gated elsewhere
  * (SamplingSpec rate bounds, SimilaritySpec recall floors).
  *
  * The wall seconds of both runs are kept per entry, and the 15 entries
  * with the largest total are reported.
  */
class PartitionInvarianceSpec extends SparkSpec {

  private def runAt(partitions: Int, name: String, hostile: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): (Seq[Any], Double) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    if (hostile) {
      // the "hostile deployment" run: no broadcast joins (every join
      // becomes a shuffle join — strategy choice must never change the
      // answer) and no adaptive re-planning (static plans only). One
      // digest compare thus certifies partition-count, join-strategy,
      // and AQE independence at once.
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
    }
    s.catalog.clearCache()
    CatalogSweep.timed(CatalogSweep.digest(fn(s, sf0001)))
  }

  test("every oracled entry is invariant to the shuffle partition count") {
    val partitionDependent = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val swept = SparkEntry.queries.toSeq
      .filterNot { case (n, _) => partitionDependent(n) }
      .sortBy(_._1)
    assert(swept.size >= 140, s"sweep unexpectedly small: ${swept.size}")
    val seconds = Seq.newBuilder[(String, Double, Double)]
    val failures = swept.flatMap { case (name, fn) =>
      try {
        val (a, secA) = runAt(3, name)(fn)
        val (b, secB) = runAt(17, name, hostile = true)(fn)
        seconds += ((name, secA, secB))
        if (a == b) None
        else Some(s"$name: digest@3=$a digest@17/hostile=$b")
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    seconds.result().sortBy { case (_, a, b) => -(a + b) }.take(15).foreach {
      case (name, a, b) => info(f"$name: @3 $a%.2f s, @17/hostile $b%.2f s")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    // drop the last run's cache()d fragments so later suites (PlanSpec's
    // shape pins especially) see fresh plans
    spark.catalog.clearCache()
  }
}
