package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each catalog module contributes `(name -> query)` pairs plus the matching
  * DuckDB oracle SQL. Invariants (enforced by ContractSpec):
  *  - every oracleSql key exists in queries;
  *  - Spark result column names == oracle result column names (the driver
  *    sorts columns by name before hashing, so aliases must agree);
  *  - every query output carries a deterministic total ordering.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY §7.3 composite: join → multi-agg + countDistinct → HAVING →
    * RANK() window → top-k. */
  def entry(spark: SparkSession): DataFrame =
    Windows.rankTopNations(spark, "/root/testdata/sf0.001")

  type Query = (SparkSession, String) => DataFrame

  private val modules: Seq[(Map[String, Query], Map[String, String])] =
    Seq(
      (Aggregates.queries, Aggregates.oracle),
      (Windows.queries, Windows.oracle),
      (Joins.queries, Joins.oracle),
      (TpchTail.queries, TpchTail.oracle),
      (SortsAndSets.queries, SortsAndSets.oracle),
      (Etl.queries, Etl.oracle),
      (TextAnalysis.queries, TextAnalysis.oracle),
      (Dedup.queries, Dedup.oracle),
      (Similarity.queries, Similarity.oracle),
      (Events.queries, Events.oracle),
      (Behavior.queries, Behavior.oracle),
      (Graph.queries, Graph.oracle),
      (Recommend.queries, Recommend.oracle),
      (Layout.queries, Layout.oracle),
      (Multimodal.queries, Multimodal.oracle),
      (Sql.queries, Sql.oracle),
      (Sources.queries, Sources.oracle)
    )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] =
    modules.iterator.flatMap(_._1).toMap

  /** The one loop over catalog entries (Bench, Verify, Probe, the test
    * sweeps). Runs the entries named in `only`, or all, in sorted name
    * order, since the order decides which entry pays for shared memo
    * builds and warm codegen caches. `action` gets each entry's name, the
    * session `session()` returns for it, and its query. The context's
    * cache is cleared before and after every entry: entries `cache()`
    * intermediates and never release them, so through the shared
    * CacheManager a later entry would plan over an earlier one's
    * InMemoryRelation, and the footprint would grow with the catalog. A
    * throw becomes that entry's `Left` and the loop goes on; an unknown
    * name fails before any entry runs. */
  def runEach[A](session: () => SparkSession, only: Option[Iterable[String]] = None,
                 entries: Map[String, Query] = queries)(
      action: (String, SparkSession, Query) => A): Seq[(String, Either[Throwable, A])] = {
    val names = only.fold(entries.keySet)(_.toSet)
    val unknown = names -- entries.keySet
    require(unknown.isEmpty, s"unknown catalog entries: ${unknown.toSeq.sorted.mkString(", ")}")
    names.toSeq.sorted.map { name =>
      name -> (try {
        val spark = session()
        spark.catalog.clearCache()
        try Right(action(name, spark, entries(name)))
        finally spark.catalog.clearCache()
      } catch { case e: Throwable => Left(e) })
    }
  }

  /** `a` and the wall seconds it took. */
  def timed[A](a: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = a
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.flatMap(_._2).toMap
}
