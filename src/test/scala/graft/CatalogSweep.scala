package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ExplainMode

/** One pass over the whole catalog at sf0.001, shared by the catalog-wide
  * checks (ContractSpec, PlanSpec, PlanGoldenSpec): each entry is built
  * and run once per test JVM, and every check reads what that pass kept.
  *
  * The pass runs on a clone of the suite session with
  * `spark.sql.codegen.fallback=false`, so a stage whose generated code
  * janino cannot compile (the 64 KB method limit) fails its entry instead
  * of running interpreted. Entries run in sorted name order; for each one
  * the pass
  *  1. clears the context's cache: CacheManager substitution would print
  *     an earlier entry's cache()d fragment as an InMemoryRelation inside
  *     this entry's plan, hiding its lineage;
  *  2. builds the DataFrame;
  *  3. keeps its optimized plan and its formatted explain string, both
  *     taken before execution;
  *  4. keeps its columns;
  *  5. runs count();
  *  6. keeps the error of whichever step failed. An entry that failed
  *     before step 4 has no [[Built]]. */
object CatalogSweep {

  final case class Built(plan: LogicalPlan, explain: String, columns: Seq[String])
  final case class Entry(name: String, built: Option[Built], error: Option[Throwable])

  private def attempt[A](a: => A): Either[Throwable, A] =
    try Right(a) catch { case e: Throwable => Left(e) }

  lazy val entries: Seq[Entry] = {
    val spark = SparkSpec.session.newSession()
    spark.conf.set("spark.sql.codegen.fallback", "false")
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.catalog.clearCache()
      val built = attempt {
        val df = fn(spark, SparkSpec.Sf0001)
        val qe = df.queryExecution
        df -> Built(qe.optimizedPlan, qe.explainString(ExplainMode.fromString("formatted")),
          df.columns.toSeq)
      }
      val ran = built.flatMap { case (df, _) => attempt(df.count()) }
      Entry(name, built.toOption.map(_._2), ran.left.toOption)
    }
  }
}
