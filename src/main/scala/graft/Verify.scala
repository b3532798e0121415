package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare (tools/check.py), and
  * failed.json naming every entry that threw (exit status 1 when it is
  * not empty). */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // The driver passes two args (full dump); the filter is a builder-side
    // convenience for re-verifying just-changed entries.
    val (sfDir, outDir) = (args(0), args(1))
    // (the runner rejects an unknown filter name before any entry runs)
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.runEach(() => spark, only) { (name, s, fn) =>
      fn(s, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.collect { case (name, Left(e)) =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      name -> e.getClass.getName
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      // filtered runs dump only the matching oracles, so tools/check.py
      // checks exactly what was produced instead of FAILing the rest
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the failure manifest: failed entry name -> error class ({} when clean)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    // non-zero only now, after every dump and both manifests are on disk
    if (failed.nonEmpty) sys.exit(1)
  }
}
