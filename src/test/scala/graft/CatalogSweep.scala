package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionStateProbe

/** One pass over the whole catalog at sf0.001, shared by the catalog-wide
  * checks (ContractSpec, PlanSpec, PlanGoldenSpec): each entry is built
  * and run once per test JVM, and every check reads what that pass kept.
  *
  * Each entry runs on its own `newSession()` of the suite session with
  * `spark.sql.codegen.fallback=false`, so a stage whose generated code
  * janino cannot compile (the 64 KB method limit) fails its entry instead
  * of running interpreted, and whatever the entry leaves in its session is
  * its own. Entries run in sorted name order; for each one the pass
  *  1. clears the context's cache: CacheManager substitution would print
  *     an earlier entry's cache()d fragment as an InMemoryRelation inside
  *     this entry's plan, hiding its lineage;
  *  2. builds the DataFrame;
  *  3. keeps its optimized plan and its formatted explain string, both
  *     taken before execution;
  *  4. keeps its columns;
  *  5. computes its [[digest]], which evaluates every output column;
  *  6. keeps the error of whichever step failed. An entry that failed
  *     before step 4 has no [[Built]];
  *  7. keeps the kinds of session state the entry left behind: temp views,
  *     temporary functions a fresh session lacks, session variables;
  *  8. keeps the wall seconds of steps 2–3 (build) and of step 5 (digest),
  *     so a slow run can be traced to the entries that own the time. */
object CatalogSweep {

  final case class Built(plan: LogicalPlan, explain: String, columns: Seq[String])
  final case class Entry(name: String, built: Option[Built], error: Option[Throwable],
                         leftovers: Seq[String], buildSeconds: Double, digestSeconds: Double)

  private val mod1 = 1000000007L // both prime, keep each term < 2^31
  private val mod2 = 998244353L

  /** An order-invariant multiset digest computed in-plan, with no
    * driver-side row materialization: count, sum(xxhash64(cols) mod p1),
    * sum(xxhash64(cols) mod p2). Columns are sorted by name and cast to
    * string, the oracle compare's canonicalization, so the digest covers
    * the surface the oracle gate hashes and every column is evaluated.
    * Residues are < 2^31, so the sums stay far from Long overflow under
    * ANSI mode at any realistic row count. */
  def digest(df: DataFrame): Seq[Any] = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`").cast("string")).toSeq: _*)
    df.select(count(lit(1)), sum(pmod(h, lit(mod1))), sum(pmod(h, lit(mod2))))
      .head().toSeq
  }

  private def attempt[A](a: => A): Either[Throwable, A] =
    try Right(a) catch { case e: Throwable => Left(e) }

  /** `a` and the wall seconds it took. */
  def timed[A](a: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = a
    (r, (System.nanoTime() - t0) / 1e9)
  }

  lazy val entries: Seq[Entry] = {
    val freshFunctions = SessionStateProbe.tempFunctions(SparkSpec.session.newSession())
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val spark = SparkSpec.session.newSession()
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.catalog.clearCache()
      val (built, buildSeconds) = timed(attempt {
        val df = fn(spark, SparkSpec.Sf0001)
        val qe = df.queryExecution
        df -> Built(qe.optimizedPlan, qe.explainString(ExplainMode.fromString("formatted")),
          df.columns.toSeq)
      })
      val (ran, digestSeconds) = timed(built.flatMap { case (df, _) => attempt(digest(df)) })
      val leftovers =
        SessionStateProbe.tempViews(spark).map(v => s"temp view $v") ++
          (SessionStateProbe.tempFunctions(spark) -- freshFunctions).toSeq.sorted
            .map(f => s"temporary function $f") ++
          (if (SessionStateProbe.hasVariables(spark)) Seq("session variables") else Nil)
      Entry(name, built.toOption.map(_._2), ran.left.toOption, leftovers,
        buildSeconds, digestSeconds)
    }
  }
}
