package graft

/** Driver-contract invariants (SparkEntry scaladoc):
  *  - every oracleSql key has a queries entry;
  *  - every query runs at sf0.001 and yields rows with distinct column names
  *    (the driver sorts columns by name before hashing — duplicates would
  *    silently corrupt the compare), read from the shared [[CatalogSweep]],
  *    whose codegen-fallback-off session also fails a stage janino cannot
  *    compile, and whose digest evaluates every output column; the 15
  *    entries with the most build + digest seconds are reported;
  *  - no entry leaves a temp view, a temporary function or a session
  *    variable in the session it is given (the sweep's leftovers);
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
    val ran = CatalogSweep.entries.collect { case CatalogSweep.Entry(name, Right(r)) => name -> r }
    ran.sortBy { case (_, r) => -(r.buildSeconds + r.digestSeconds) }.take(15).foreach {
      case (name, r) => info(f"$name: build ${r.buildSeconds}%.2f s, digest ${r.digestSeconds}%.2f s")
    }
    val failures = CatalogSweep.entries.flatMap {
      case CatalogSweep.Entry(name, Left(err)) => Some(s"$name: ${err.getMessage}")
      case CatalogSweep.Entry(name, Right(r)) =>
        val dups = r.built.columns.groupBy(identity).collect { case (c, g) if g.size > 1 => c }
        if (dups.nonEmpty) Some(s"$name: duplicate columns $dups") else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("no entry leaves temp views, temporary functions or session variables behind") {
    val dirty = CatalogSweep.entries.collect {
      case CatalogSweep.Entry(name, Right(r)) if r.leftovers.nonEmpty =>
        s"$name: ${r.leftovers.mkString(", ")}"
    }
    assert(dirty.isEmpty, s"${dirty.size} entries left session state:\n${dirty.mkString("\n")}")
  }
}
