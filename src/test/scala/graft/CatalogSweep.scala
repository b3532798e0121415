package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionStateProbe

/** One pass over the whole catalog at sf0.001, shared by the catalog-wide
  * checks (ContractSpec, PlanSpec, PlanGoldenSpec, PartitionInvarianceSpec):
  * each entry is built and run once per test JVM, and every check reads
  * what that pass kept.
  *
  * The pass goes through [[SparkEntry.runEach]], which runs the entries in
  * sorted name order and clears the context's cache before and after each
  * one (CacheManager substitution would otherwise print an earlier entry's
  * cache()d fragment as an InMemoryRelation inside this entry's plan,
  * hiding its lineage). Each entry runs on its own `newSession()` of the
  * suite session with `spark.sql.codegen.fallback=false`, so a stage whose
  * generated code janino cannot compile (the 64 KB method limit) fails its
  * entry instead of running interpreted, and whatever the entry leaves in
  * its session is its own. That session runs 3 shuffle partitions, not the
  * suite's 4, so its digest is the first side of PartitionInvarianceSpec's
  * 3 vs 17 compare. For each entry the pass keeps
  *  1. its optimized plan and its formatted explain string, both taken
  *     before execution;
  *  2. its columns;
  *  3. its [[digest]], which evaluates every output column;
  *  4. the kinds of session state the entry left behind: temp views,
  *     temporary functions a fresh session lacks, session variables;
  *  5. the wall seconds of step 1 (build) and of step 3 (digest), so a
  *     slow run can be traced to the entries that own the time;
  * or, when any step threw, the error instead. */
object CatalogSweep {

  final case class Built(plan: LogicalPlan, explain: String, columns: Seq[String])
  final case class Ran(built: Built, digest: Seq[Any], leftovers: Seq[String],
                       buildSeconds: Double, digestSeconds: Double)
  final case class Entry(name: String, ran: Either[Throwable, Ran])

  /** The shuffle partition count of the sweep's sessions. */
  val Partitions = 3

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

  lazy val entries: Seq[Entry] = {
    val freshFunctions = SessionStateProbe.tempFunctions(SparkSpec.session.newSession())
    val session = () => {
      val s = SparkSpec.session.newSession()
      s.conf.set("spark.sql.shuffle.partitions", Partitions.toLong)
      s.conf.set("spark.sql.codegen.fallback", "false")
      s
    }
    SparkEntry.runEach(session) { (_, spark, fn) =>
      val ((df, built), buildSeconds) = SparkEntry.timed {
        val df = fn(spark, SparkSpec.Sf0001)
        val qe = df.queryExecution
        df -> Built(qe.optimizedPlan, qe.explainString(ExplainMode.fromString("formatted")),
          df.columns.toSeq)
      }
      val (d, digestSeconds) = SparkEntry.timed(digest(df))
      val leftovers =
        SessionStateProbe.tempViews(spark).map(v => s"temp view $v") ++
          (SessionStateProbe.tempFunctions(spark) -- freshFunctions).toSeq.sorted
            .map(f => s"temporary function $f") ++
          (if (SessionStateProbe.hasVariables(spark)) Seq("session variables") else Nil)
      Ran(built, d, leftovers, buildSeconds, digestSeconds)
    }.map { case (name, ran) => Entry(name, ran) }
  }
}
