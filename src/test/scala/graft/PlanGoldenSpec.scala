package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Round-over-round physical-plan STABILITY pin: every catalog entry's
  * operator multiset (HashAggregate=2, Exchange=1, …) is recorded in a
  * committed golden file and diffed on every run. PlanSpec pins specific
  * known invariants (pushdown, no cartesian, partial agg); this spec
  * catches the regressions nobody predicted — an optimizer rule or Spark
  * upgrade silently re-shaping a plan (the way `InferFiltersFromGenerate`
  * once re-ran the span window+md5 projection 8×) shows up as a diff in
  * the operator counts even when correctness stays green.
  *
  * The fingerprint is deliberately COARSE — operator names only, no ids,
  * no expressions, subqueries included — so it survives run-to-run noise
  * (exchange/codegen numbering, alias ids) but not shape changes
  * (an extra Exchange, a lost TakeOrderedAndProject, a window where none
  * was). Every entry is pinned, the trained-quantizer and memoized-fit
  * entries included: their fits are seeded, and a memoized one plans over
  * the published memo whether it built it or found it, so each shape is
  * the same on an empty and on a warm scratch root. The plans come from
  * the shared [[CatalogSweep]].
  *
  * On an intentional plan change: re-run with
  * `GRAFT_PLANS_REGEN=true sbt "testOnly graft.PlanGoldenSpec"`
  * (tests fork, so the env var — not a -D on the sbt JVM — reaches them),
  * review the golden-file diff like source, commit both. A regen run
  * reports the test as canceled, never as passed. */
class PlanGoldenSpec extends SparkSpec {

  private val GoldenPath = "src/test/scala/graft/plan_fingerprints_sf0001.golden"

  private def fingerprint(s: String): String = {
    val op = """(?m)^\(\d+\) ([A-Za-z][A-Za-z0-9 ]*)""".r
    op.findAllMatchIn(s).map(_.group(1).trim).toSeq
      .groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${v.size}" }.mkString(",")
  }

  private def current(): Seq[(String, String)] =
    // a MATERIALIZED cache entry prints its executed AQE query stages
    // (ShuffleQueryStage, ColumnarToRow, …) inside InMemoryTableScan, so
    // the same plan would fingerprint differently after an earlier entry
    // ran; the sweep clears the cache before each build and takes the
    // explain string before execution, pinning the unmaterialized shape
    CatalogSweep.entries.map { e =>
      e.name -> fingerprint(e.ran.fold(throw _, _.built.explain))
    }

  test("per-entry physical-plan operator multisets match the committed golden file") {
    val now = current()
    val regen = sys.props.get("graft.plans.regen").contains("true") ||
      sys.env.get("GRAFT_PLANS_REGEN").contains("true")
    if (regen) {
      val body = now.map { case (n, f) => s"$n|$f" }.mkString("", "\n", "\n")
      Files.write(Paths.get(GoldenPath), body.getBytes(StandardCharsets.UTF_8))
      // a regen run checks nothing, so it must not read as a pass
      cancel(s"regenerated $GoldenPath with ${now.size} entries; review the diff " +
        "and re-run without GRAFT_PLANS_REGEN to check it")
    } else {
      assert(Files.exists(Paths.get(GoldenPath)),
        s"golden file missing — run with GRAFT_PLANS_REGEN=true to create $GoldenPath")
      val golden = Files.readAllLines(Paths.get(GoldenPath), StandardCharsets.UTF_8)
        .asScala.filter(_.nonEmpty)
        .map { l => val Array(n, f) = l.split("\\|", 2); n -> f }.toMap
      val nowMap = now.toMap
      val added = nowMap.keySet -- golden.keySet
      val removed = golden.keySet -- nowMap.keySet
      val changed = (nowMap.keySet intersect golden.keySet)
        .filter(k => nowMap(k) != golden(k)).toSeq.sorted
      val report = changed.map { k =>
        s"  $k:\n    golden: ${golden(k)}\n    now:    ${nowMap(k)}"
      }.mkString("\n")
      assert(added.isEmpty && removed.isEmpty && changed.isEmpty,
        s"plan fingerprints drifted (intentional? regen with GRAFT_PLANS_REGEN=true):\n" +
          s"added=${added.toSeq.sorted} removed=${removed.toSeq.sorted}\n$report")
    }
  }
}
