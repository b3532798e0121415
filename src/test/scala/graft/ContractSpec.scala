package graft

/** Driver-contract invariants (SparkEntry scaladoc):
  *  - every oracleSql key has a queries entry;
  *  - every query runs at sf0.001 and yields rows with distinct column names
  *    (the driver sorts columns by name before hashing — duplicates would
  *    silently corrupt the compare);
  *  - the flagship entry() returns rows > 0 (the smoke check on entry());
  *  - the shared session is the GraftSession configuration Verify and
  *    Bench run: UTC, with the GraftExtensions ladder injected.
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without queries: $orphans")
  }

  test("flagship entry() returns rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the suite session runs in UTC and resolves graft_dot via the extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // a fresh session carries no per-session function registrations, so
    // graft_dot can only resolve through the context's injected extensions
    val d = spark.newSession()
      .sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
  }

  test("every query runs at sf0.001 with unique column names") {
    // (zero rows is legal for near-dup thresholds at tiny SF; the driver's
    // rows>0 smoke applies only to entry())
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sf0001)
        val cols = df.columns.toSeq
        val dups = cols.groupBy(identity).collect { case (c, g) if g.size > 1 => c }
        df.count()
        if (dups.nonEmpty) Some(s"$name: duplicate columns $dups") else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
