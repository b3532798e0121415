package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of the project. Bench, Verify, Probe,
  * DataGen and the test suites all build their session here, so the
  * benchmark measures and the dump checks the same planned program the
  * tests verify: `local[cores]` with one shuffle partition per core, UTC
  * session time, no UI, the full [[GraftExtensions]] ladder (functions,
  * the constant-folding optimizer rule, the as-of join strategy) and WARN
  * logging.
  *
  * Session extensions are read from the SparkContext conf, so they take
  * effect only on the builder that creates the context; everything is set
  * here, on every call, so whichever caller wins that race gets them. */
object GraftSession {

  /** Core count of the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
