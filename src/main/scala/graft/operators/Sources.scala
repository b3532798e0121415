package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Det._

/** Source/sink + sampling surface — SURVEY.md §2.1/§2.3.
  *
  * - CSV scan/sink (S1): the reference's primary ingest is an option-laden
  *   CSV read (header, multiLine, quote=escape=`"`, PERMISSIVE;
  *   /root/reference/code/01_DataPreprocessing.scala:14-21). Re-expressed
  *   with an EXPLICIT schema (SURVEY.md §1: fix the inferred-schema
  *   fragility) as a parquet→csv→aggregate roundtrip, oracled against the
  *   same aggregate on the original parquet table — proving the CSV path
  *   is lossless for every column type it carries.
  * - The round-trips (text, CSV, JSON, XML, corrupt JSON, ORC) each write
  *   their serialized file set as a `Tables.scratchDir` memo keyed on the
  *   table they serialize, and read it back outside the memo: one write
  *   per input version, published whole, never a fixed path rewritten
  *   under a concurrent reader.
  * - Stratified sample (U2, `stat.sampleBy`) and random split (U3,
  *   `randomSplit`): seeded but partition-order-sensitive → rows-only
  *   driver check + rate assertions in SamplingSpec (SURVEY.md §7.6).
  * - Summary stats (A5, `df.summary`): quantile profile of a money column.
  */
object Sources {

  /** Raw line-corpus roundtrip via the `text` source — the rawest LLM
    * ingest format (one record per line, no schema, no quoting layer):
    * documents serialized as id<TAB>lang<TAB>text lines, written with
    * `write.text`, read back with `spark.read.text` (whole line as one
    * `value` column — the point of the source vs CSV's field machinery),
    * re-parsed by split, aggregated per lang. The oracle runs the same
    * aggregate on the parquet table, so ANY roundtrip loss — a swallowed
    * newline, an un-reparsable line, a lost char — hash-mismatches. The
    * corpus text is newline-free (pinned at generation); a real pipeline
    * would escape embedded newlines before the write, exactly the
    * contract this entry's serialization step documents. */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratchDir(spark, dir, "textlines", Seq("documents"), "v1") { tmp =>
      Tables.documents(spark, dir)
        .select(concat_ws("\t",
          col("doc_id").cast("string"), col("lang"), col("text")).as("value"))
        .write.text(tmp)
    }
    spark.read.text(out)
      .select(split(col("value"), "\t", 3).as("f"))
      .select(col("f").getItem(0).cast("long").as("doc_id"),
        col("f").getItem(1).as("lang"),
        col("f").getItem(2).as("text"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        min(md5(col("text").cast("binary"))).as("min_md5"))
      .orderBy(col("lang"))
  }

  /** S1/S3: supplier → CSV (header, quoted) → explicit-schema PERMISSIVE
    * read → per-nation aggregate. Oracle runs the same aggregate on the
    * parquet table, so any roundtrip loss would hash-mismatch. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.supplier(spark, dir)
    val out = Tables.scratchDir(spark, dir, "csv", Seq("supplier"), "v1")(
      src.write.options(Map("header" -> "true", "quote" -> "\"", "escape" -> "\"")).csv(_))
    spark.read
      .options(Map(
        "header" -> "true", "multiLine" -> "true",
        "quote" -> "\"", "escape" -> "\"", "mode" -> "PERMISSIVE"))
      .schema(src.schema) // explicit, never inferSchema (SURVEY.md §1)
      .csv(out)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        dsum(col("s_acctbal")).as("sum_acctbal"),
        min(col("s_name")).as("first_name"))
      .orderBy(col("s_nationkey"))
  }

  /** S1 breadth: JSON-lines roundtrip — the second text source format.
    * Same contract as the CSV path: explicit schema on read (JSON schema
    * inference costs an extra full scan AND can drift types between
    * partitions at scale), oracled against the same aggregate on the
    * original parquet, so any serialization loss hash-mismatches. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.nation(spark, dir)
    val out = Tables.scratchDir(spark, dir, "json", Seq("nation"), "v1")(src.write.json(_))
    spark.read
      .schema(src.schema) // explicit, never inferred
      .json(out)
      .groupBy(col("n_regionkey"))
      .agg(
        count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_nation"),
        max(col("n_nationkey")).as("max_key"))
      .orderBy(col("n_regionkey"))
  }

  /** S1 breadth: XML roundtrip — Spark 4 ships the (formerly spark-xml)
    * XML source in core, and enterprise feeds still arrive as XML. Same
    * contract as the CSV/JSON paths: explicit schema on read (XML
    * inference costs a full extra scan), row-tag framing, oracled against
    * the same aggregate on the original parquet so any serialization or
    * type-mapping loss hash-mismatches. Aggregates on customer (the
    * largest of the small dims) so string escaping (&, <) in names/
    * comments actually gets exercised by the writer/reader pair. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.customer(spark, dir)
    val out = Tables.scratchDir(spark, dir, "xml", Seq("customer"), "v1")(
      src.write.format("xml").option("rowTag", "customer").save(_))
    spark.read.format("xml")
      .option("rowTag", "customer")
      .schema(src.schema) // explicit, never inferred
      .load(out)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("sum_acctbal"),
        min(col("c_name")).as("first_name"),
        max(col("c_nationkey")).as("max_nation"))
      .orderBy(col("c_mktsegment"))
  }

  /** PERMISSIVE corrupt-record handling — the half of S1's read contract
    * the clean roundtrips can't show: a JSON-lines source where every
    * third record is deterministically truncated mid-object. PERMISSIVE
    * mode (the mode the reference's ingest declares) yields null fields
    * for the broken rows and captures the raw line in
    * `_corrupt_record` instead of failing the batch — exactly what a
    * 100 TB ingest needs (one bad crawl shard must not kill the job).
    * Reported as good/corrupt counts + a checksum of surviving keys;
    * the oracle derives the same split from the corruption rule. */
  def jsonCorrupt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val out = Tables.scratchDir(spark, dir, "json_corrupt", Seq("nation"), "v1") { tmp =>
      Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .select(
          // every 3rd record: drop the closing brace region — broken JSON
          when(col("n_nationkey") % 3 === 0,
            concat(lit("{\"n_nationkey\": "), col("n_nationkey"),
              lit(", \"n_name\": \""), col("n_name"))) // truncated mid-string
            .otherwise(to_json(struct(col("n_nationkey"), col("n_name"),
              col("n_regionkey")))).as("value"))
        .coalesce(1).write.text(tmp)
    }
    val schema = new StructType()
      .add("n_nationkey", LongType).add("n_name", StringType)
      .add("n_regionkey", LongType).add("_corrupt_record", StringType)
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .agg(
        count(col("n_regionkey")).as("n_good"),
        count(col("_corrupt_record")).as("n_corrupt"),
        // corrupt rows carry null data fields, so this sums good keys only
        sum(col("n_nationkey")).as("key_sum_good"))
  }

  /** S1 breadth: ORC roundtrip — the columnar alternative to parquet.
    * ORC carries its own schema+stats like parquet (no explicit schema
    * needed), so the roundtrip also proves the second columnar format
    * preserves types bit-for-bit against the parquet-side oracle. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratchDir(spark, dir, "orc", Seq("region"), "v1")(
      Tables.region(spark, dir).write.orc(_))
    spark.read.orc(out)
      .groupBy(lit(1).as("probe"))
      .agg(
        count(lit(1)).as("n_regions"),
        min(col("r_name")).as("first_region"),
        max(col("r_regionkey")).as("max_key"))
      .orderBy(col("probe"))
  }

  /** S3 + data layout (round-2 verdict, missing #2): `write.partitionBy` +
    * partition-directory pruning — the other half of the layout lever next
    * to bucketing (`join_bucketed_revenue`) and range-sorted files
    * (WriteLayoutSpec). Orders are written partitioned by order year
    * (7 year directories at every sf), read back with a year predicate,
    * and aggregated. At 100 TB the scan then lists and reads ONLY the
    * matching year's directory — a 7× IO cut here, a date=... daily-
    * partition cut in a real pipeline; PlanSpec asserts the scan's
    * PartitionFilters prune to exactly one partition. Oracle computes the
    * same aggregate with a `year()` predicate on the unpartitioned table,
    * so the roundtrip (including the partition-value encode/parse) is
    * under the hash gate. */
  def partitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    partitionedOrdersScan(spark, dir)
      .groupBy(col("o_year"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_year"), col("o_orderpriority"))
  }

  /** The pruned scan behind `src_partitioned_prune`, exposed so PlanSpec
    * can assert directory pruning on the exact plan the entry runs.
    * Partition values come back as inferred INT32 → cast to long so the
    * output schema matches the oracle's BIGINT `year()`. */
  private[graft] def partitionedOrdersScan(spark: SparkSession, dir: String): DataFrame =
    partitionedOrdersTable(spark, dir)
      .filter(col("o_year") === 1997) // prunes to one directory
      .withColumn("o_year", col("o_year").cast("long"))

  /** The year-partitioned orders scratch table itself (a
    * `Tables.scratchDir` memo over orders), UNfiltered — also the fixture
    * for the dynamic-partition-pruning pin in RuntimeFilterSpec. Catalog-
    * wide plan sweeps construct every entry repeatedly and the layout
    * write is eager at construction time, so it runs once per key. */
  private[graft] def partitionedOrdersTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      Tables.scratchDir(spark, dir, "partby_year", Seq("orders"), "v1") { out =>
        Tables.orders(spark, dir)
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(out)
      })

  /** Schema evolution across parquet batches — the 100 TB reality that a
    * table's files were written over years by different pipeline versions:
    * epoch-1 files carry the original 4-column orders schema; epoch-2
    * files (1995+) add an `o_channel` column. The read unifies them with
    * `mergeSchema` — Spark reconciles footers by NAME, so old files
    * surface the new column as null — and the per-year report proves both
    * halves: pre-1995 years count 0 non-null channels, later years carry
    * the derived values through. Oracle recomputes the same report from
    * the unevolved table, putting the whole write→merge→read roundtrip
    * under the hash gate.
    *
    * Scale note: mergeSchema footer reconciliation reads every file's
    * footer at planning time — the entry documents the production stance
    * (declare the union schema once in a catalog/metastore and let per-file
    * name-matching fill nulls) while exercising the reconciliation path
    * itself. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame =
    evolvedOrdersTable(spark, dir)
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        count(col("o_channel")).as("n_with_channel"),
        count(when(col("o_channel") === "web", 1)).as("n_web"))
      .orderBy(col("o_year"))

  /** The two-epoch scratch table behind `src_schema_evolution` (a
    * `Tables.scratchDir` memo over orders: both epochs publish together
    * or not at all). */
  private[graft] def evolvedOrdersTable(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratchDir(spark, dir, "schema_evo", Seq("orders"), "v1") { tmp =>
      val o = Tables.orders(spark, dir)
        .withColumn("o_year", year(col("o_orderdate")))
      o.filter(col("o_year") < 1995)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), col("o_year"))
        .write.mode("overwrite").parquet(s"$tmp/epoch1")
      o.filter(col("o_year") >= 1995)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), col("o_year"),
          when(col("o_orderkey") % 3 === 0, lit("web"))
            .otherwise(lit("store")).as("o_channel"))
        .write.mode("overwrite").parquet(s"$tmp/epoch2")
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$out/epoch1", s"$out/epoch2")
  }

  /** `binaryFile` source — the multimodal ingest path (SURVEY.md §7.5):
    * a corpus of opaque per-document files (here one .bin per doc_id<120,
    * written by the executors) read back as (path, length, content) rows,
    * keyed by filename and fingerprinted. This is step 0 of every
    * image/audio pipeline: millions of small objects → one binary-column
    * relation (which `mm_binary_meta` then carries forward as parquet).
    *
    * Scale: Spark's FileSourceScan bin-packs small files into partitions
    * (`spark.sql.files.openCostInBytes` charges ~4 MB per file, so a task
    * reads many files, not one) and `pathGlobFilter` prunes non-matching
    * objects at listing time. `modificationTime` is deliberately NOT
    * selected — it is run-dependent, everything else is pure content.
    * Oracle recomputes length+md5 from the source table's text, putting
    * the write→list→read→fingerprint roundtrip under the hash gate. */
  def binaryFiles(spark: SparkSession, dir: String): DataFrame = {
    val filesDir = binaryFilesFixture(spark, dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(filesDir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length"),
        md5(col("content")).as("digest"))
      .orderBy(col("doc_id"))
  }

  /** Executor-side fixture writer behind `src_binary_files`: each task
    * writes its partition's documents as individual .bin files through the
    * Hadoop FS API, nothing is collected. A `Tables.scratchDir` memo over
    * documents: the file set publishes only after every partition
    * committed. Returns the directory holding the .bin files. */
  private def binaryFilesFixture(spark: SparkSession, dir: String): String =
    Tables.scratchDir(spark, dir, "binfiles", Seq("documents"), "v1") { out =>
      val filesDir = s"$out/files"
      // ship the REAL hadoop conf to the tasks (fs.defaultFS, credentials —
      // a bare `new Configuration()` would resolve the executor's local FS
      // on a real cluster and scatter the files across nodes)
      val serConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      Tables.documents(spark, dir)
        .filter(col("doc_id") < 120) // fixed budget: file count is sf-invariant
        .select(col("doc_id"), col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val tfs = new org.apache.hadoop.fs.Path(filesDir)
            .getFileSystem(serConf.value)
          rows.foreach { r =>
            val p = new org.apache.hadoop.fs.Path(
              filesDir, s"doc_${r.getLong(0)}.bin")
            val os = tfs.create(p, true)
            os.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            os.close()
          }
        }
    } + "/files"

  /** U2: seeded stratified sample by order status; per-stratum achieved
    * counts. Sampling is partition-order-sensitive → no SQL oracle; the
    * driver records rows>0 and SamplingSpec asserts the rate. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val strata = o.select(col("o_orderstatus")).distinct().collect()
      .map(_.getString(0)).sorted
    val sampled = o.stat.sampleBy(
      "o_orderstatus", strata.map(_ -> 0.2).toMap, 42L)
    sampled.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("o_orderstatus"))
  }

  /** Content-hash split — the REPRODUCIBLE train/valid/test split a
    * training pipeline should prefer over `randomSplit` (U3): the split
    * is a pure function of the document text (first hex digit of md5:
    * 0-b → train, c-d → valid, e-f → test ⇒ 75/12.5/12.5), so it is
    * independent of partitioning, cluster size, and run order, stable
    * under re-ingestion, and — unlike the seeded-but-partition-order-
    * sensitive randomSplit — fully under the DuckDB hash gate. One
    * projection + one 3-row hash-agg. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("text")), 1, 1)
    Tables.documents(spark, dir)
      .select(
        when(h.isin("c", "d"), "valid")
          .when(h.isin("e", "f"), "test")
          .otherwise("train").as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"))
  }

  /** U3: seeded 70/30 random split; returns the split sizes (the ML
    * pipeline's split, surfaced as a relation). Rows-only check. */
  def randomSplitSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Array(train, test) = Tables.orders(spark, dir)
      .randomSplit(Array(0.7, 0.3), seed = 42)
    Seq(("train", train.count()), ("test", test.count()))
      .toDF("split", "n_rows").orderBy(col("split"))
  }

  /** A5: `df.summary` quantile profile (count/min/quartiles/max/mean) of
    * o_totalprice. Approx percentiles → rows-only check.
    * Ref: /root/reference/code/01_DataPreprocessing.scala:144-146. */
  def summaryStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_totalprice"))
      .summary("count", "min", "25%", "50%", "75%", "max", "mean")

  /** A5 exact twin of `agg_summary_stats`, fully oracled: the same profile
    * with EXACT interpolated percentiles (`percentile`, not the t-digest
    * approximation behind `summary()`), rounded to 4 decimals like
    * `agg_percentiles` (lossless for 2-decimal prices ± quartile
    * interpolation; absorbs last-ulp engine differences). Exact
    * percentile's partial agg
    * buffers a value→count map bounded by distinct-price cardinality —
    * fine here; at extreme scale `summary()`'s approx path is the answer. */
  def summaryExact(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def q(p: Double) =
      round(percentile(col("o_totalprice"), lit(p)), 4)
    o.agg(
      count(lit(1)).as("n_orders"),
      min(col("o_totalprice")).as("min_price"),
      q(0.25).as("p25"),
      q(0.50).as("p50"),
      q(0.75).as("p75"),
      max(col("o_totalprice")).as("max_price"),
      davg(col("o_totalprice")).as("mean_price"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_text_roundtrip" -> (textRoundtrip _),
    "src_csv_roundtrip"    -> (csvRoundtrip _),
    "src_json_roundtrip"   -> (jsonRoundtrip _),
    "src_xml_roundtrip"    -> (xmlRoundtrip _),
    "src_json_corrupt"     -> (jsonCorrupt _),
    "src_orc_roundtrip"    -> (orcRoundtrip _),
    "src_partitioned_prune" -> (partitionedPrune _),
    "src_schema_evolution" -> (schemaEvolution _),
    "src_binary_files"     -> (binaryFiles _),
    "etl_stratified_sample" -> (stratifiedSample _),
    "etl_random_split"     -> (randomSplitSizes _),
    "etl_hash_split"       -> (hashSplit _),
    "agg_summary_stats"    -> (summaryStats _),
    "agg_summary_exact"    -> (summaryExact _)
  )

  val oracle: Map[String, String] = Map(
    "src_json_corrupt" ->
      """SELECT
        |  CAST(SUM(CASE WHEN n_nationkey % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |  CAST(SUM(CASE WHEN n_nationkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN n_nationkey % 3 <> 0 THEN n_nationkey END) AS BIGINT) AS key_sum_good
        |FROM nation""".stripMargin,
    "src_schema_evolution" ->
      """WITH o AS (
        |  SELECT o_orderkey, year(o_orderdate) AS o_year,
        |    CASE WHEN year(o_orderdate) >= 1995 THEN
        |      CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
        |    END AS o_channel
        |  FROM orders)
        |SELECT o_year, COUNT(*) AS n_orders,
        |  COUNT(o_channel) AS n_with_channel,
        |  COUNT(CASE WHEN o_channel = 'web' THEN 1 END) AS n_web
        |FROM o GROUP BY o_year ORDER BY o_year""".stripMargin,
    "src_binary_files" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS BIGINT) AS length,
        |  md5(text) AS digest
        |FROM documents
        |WHERE doc_id < 120
        |ORDER BY doc_id""".stripMargin,
    "etl_hash_split" ->
      """SELECT CASE
        |    WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'valid'
        |    WHEN substr(md5(text), 1, 1) IN ('e', 'f') THEN 'test'
        |    ELSE 'train' END AS split,
        |  COUNT(*) AS n_docs
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "src_text_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |  MIN(md5(text)) AS min_md5
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "src_csv_roundtrip" ->
      """SELECT s_nationkey,
        |  COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  MIN(s_name) AS first_name
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    "src_orc_roundtrip" ->
      """SELECT 1 AS probe,
        |  COUNT(*) AS n_regions,
        |  MIN(r_name) AS first_region,
        |  MAX(r_regionkey) AS max_key
        |FROM region
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "src_json_roundtrip" ->
      """SELECT n_regionkey,
        |  COUNT(*) AS n_nations,
        |  MIN(n_name) AS first_nation,
        |  MAX(n_nationkey) AS max_key
        |FROM nation
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,
    "src_xml_roundtrip" ->
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  MIN(c_name) AS first_name,
        |  MAX(c_nationkey) AS max_nation
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "src_partitioned_prune" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) = 1997
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "agg_summary_exact" ->
      """SELECT COUNT(*) AS n_orders,
        |  MIN(o_totalprice) AS min_price,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        |  MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS mean_price
        |FROM orders""".stripMargin
  )
}
