package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Dirty-ingest behavior of the CSV source (SURVEY.md S1: the reference
  * reads PERMISSIVE) — at 100 TB malformed rows are a certainty, and the
  * difference between "quarantine the row" and "silently corrupt the
  * column" is the whole ballgame:
  *  - PERMISSIVE + columnNameOfCorruptRecord: bad rows parse to nulls and
  *    the raw line lands in the corrupt column for quarantine/repair;
  *  - DROPMALFORMED: bad rows vanish — correct only when loss is
  *    acceptable, and (gotcha pinned here) malformedness is judged against
  *    the COLUMNS ACTUALLY PARSED, so column pruning can resurrect rows.
  */
class CsvRobustnessSpec extends SparkSpec {

  private val csvDir = Files.createTempDirectory("graft_csv_bad")
  private lazy val csvFile = {
    val f = csvDir.resolve("data.csv")
    Files.writeString(f, "id,amount\n1,10.5\n2,not_a_number\n3,7.25\n")
    f.toString
  }

  override protected def afterAll(): Unit = {
    try TempDirs.remove(csvDir)
    finally super.afterAll()
  }

  test("PERMISSIVE quarantines the malformed row in the corrupt-record column") {
    val df = spark.read
      .options(Map("header" -> "true", "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record"))
      .schema("id BIGINT, amount DOUBLE, _corrupt_record STRING")
      .csv(csvFile)
      .cache() // Spark requires caching before filtering on the corrupt column
    assert(df.count() == 3, "PERMISSIVE must keep every row")
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(df.filter(col("id") === 2 && col("amount").isNull).count() == 1,
      "bad cell must null out, not poison the row")
    assert(df.filter(col("_corrupt_record").isNotNull)
      .head().getAs[String]("_corrupt_record").contains("not_a_number"),
      "raw line must be preserved for quarantine")
  }

  test("DROPMALFORMED drops the row — but only when the bad column is parsed") {
    val df = spark.read
      .options(Map("header" -> "true", "mode" -> "DROPMALFORMED"))
      .schema("id BIGINT, amount DOUBLE")
      .csv(csvFile)
    // full-row materialization parses every column → row 2 is malformed
    assert(df.collect().length == 2, "DROPMALFORMED must drop the bad row")
    // the pruning gotcha: a projection that never touches `amount` parses
    // only `id`, so row 2 is NOT malformed w.r.t. the parsed subset and
    // survives — counts over pruned scans can disagree with full scans
    assert(df.select(col("id")).collect().length == 3,
      "column pruning changes DROPMALFORMED semantics (documented gotcha)")
  }
}
