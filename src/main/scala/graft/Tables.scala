package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness star schema (TESTDATA.md / FIXTURES.md §A).
  *
  * Parquet carries its own schema, so we rely on the embedded footer types
  * (int32/int64/double/string/timestamp) instead of re-declaring StructTypes;
  * the vectorized reader + pushdown/pruning come for free. Each loader is a
  * plain scan — callers compose filters/projections so Catalyst can push them
  * into the scan (SURVEY.md §4).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a scan across every core.
    *
    * The harness parquet files are single-row-group, so a scan yields ONE
    * task no matter how many cores exist — and every narrow pipeline above
    * it (shingling, hashing, regex) inherits that single thread. The
    * repartition is unconditional: inspecting the scan's split count to
    * decide would force physical planning on every load (the round-1
    * `df.rdd` mistake).
    *
    * Applied ONLY to tables whose downstream per-row work is expensive
    * (documents: regex/shingling/digests; embeddings: vector folds). For
    * plain relational scans the shuffle costs more than the single-threaded
    * scan saves — measured, not guessed. */
  private def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Scratch location/name for operators that materialize to disk or the
    * catalog (csv/json/orc roundtrips, bucketed tables): one shared
    * sanitization scheme, keyed by tag + source dir so different sfs never
    * collide. */
  def scratchName(tag: String, dir: String): String =
    s"graft_${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** Same, as an absolute tmp path. */
  def scratchPath(tag: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/${scratchName(tag, dir)}"

  /** Scratch-parquet memo for small DERIVED projections shared by an
    * operator family (the graph-family pattern, commit `5e646c8`,
    * generalized per the r10 verdict items #2/#3): build once per
    * (dataset, EVERY input table's length+mtime, derivation version),
    * read parquet thereafter. This is exactly what a production pipeline
    * does with its shared substrates — materialize the incidence/
    * posting-list table, run every algorithm off it — and at 100 TB it
    * is the difference between one extraction shuffle per DAG and one
    * per metric. Only exact types (long/string/decimal) may flow
    * through: they round-trip parquet bit-for-bit, so every consumer
    * stays hash-identical to the inline derivation. HDFS/S3-safe
    * (Hadoop FileSystem, never java.io.File).
    *
    * Key contract (r11 ADVICE item #1): `srcTables` must list EVERY
    * table the build reads — a memo keyed on a strict subset silently
    * serves stale data when an unlisted input changes. `version` encodes
    * the derivation's code constants (df caps, prefix thresholds,
    * tokenization rules); bump it whenever the build's semantics change.
    *
    * Publish contract (r11 ADVICE item #2): the build lands in a unique
    * temp dir and is RENAMED into place (atomic on local FS/HDFS), so a
    * concurrent reader never scans a half-written directory and two
    * concurrent writers converge on one complete copy instead of
    * interleaving overwrites. */
  def scratchRelation(spark: SparkSession, dir: String, tag: String,
                      srcTables: Seq[String], version: String)
                     (build: => DataFrame): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val sig = srcTables.map { t =>
      val src = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val st = src.getFileSystem(hconf).getFileStatus(src)
      s"${st.getLen}_${st.getModificationTime}"
    }.mkString("_")
    val path = s"${scratchPath(tag, dir)}_${sig}_$version"
    val dst = new org.apache.hadoop.fs.Path(path)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
    val fs = dst.getFileSystem(hconf)
    if (!fs.exists(marker)) {
      val tmp = new org.apache.hadoop.fs.Path(
        s"${path}__tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      build.write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(marker)) {
        fs.delete(tmp, true) // a concurrent writer published first — keep theirs
      } else {
        // clear any markerless partial leftover, then publish via
        // FileContext.rename(Rename.NONE). FileSystem.rename(tmp, dst)
        // is the WRONG primitive here: on HDFS and RawLocalFileSystem it
        // moves tmp INTO a dst directory that appeared since the check
        // (nesting __tmp_* under the published relation → duplicate
        // rows), instead of returning false. Rename.NONE fails atomically
        // when dst exists, which routes the race to the loser branch.
        if (fs.exists(dst)) fs.delete(dst, true)
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, hconf)
        try fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
        catch {
          case e: java.io.IOException =>
            // lost the (tiny) publish race: the winner's copy is complete
            // iff the marker now exists — then ours is redundant; any
            // other rename failure is a real error
            if (fs.exists(marker)) fs.delete(tmp, true)
            else throw new IllegalStateException(
              s"cannot publish scratch relation at $path", e)
        }
      }
    }
    spark.read.parquet(path)
  }

  /** Single-source convenience overload (version "v1"). */
  def scratchRelation(spark: SparkSession, dir: String, tag: String,
                      srcTable: String)(build: => DataFrame): DataFrame =
    scratchRelation(spark, dir, tag, Seq(srcTable), "v1")(build)

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` ingestion is PROBED, never assumed: the harness has shipped
    * this column as both TIMESTAMP(NANOS) (which Spark 4's reader rejects
    * outright — PARQUET_TYPE_ILLEGAL) and TIMESTAMP(MICROS) (which decodes
    * natively) across testdata regenerations. We read the footer schema once
    * per (dir) and branch:
    *   - ts infers as TimestampType/TimestampNTZ → plain scan, native decode.
    *   - schema inference throws (nanos) or ts infers as INT64 raw nanos →
    *     explicit BIGINT schema + truncate to micros, the same truncation
    *     DuckDB applies when it reads nanos, so oracle comparisons agree.
    * Hard-coding either branch silently corrupts the other encoding's
    * timeline by 1000× — the probe is the contract. */
  /** Footer-probe results per path — the physical encoding of a parquet
    * file cannot change without the path changing in any sane layout
    * (testdata regeneration restarts the process), and the events loader
    * runs once per catalog entry, so caching saves a listing + footer
    * read per call without staleness risk. */
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[org.apache.spark.sql.types.DataType]]()

  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$dir/events.parquet"
    // Cache ONLY successful probes: a thrown probe is ambiguous between
    // "genuine nanos footer" (the reader rejects it every time — re-failing
    // is cheap) and a transient I/O error (file momentarily absent during
    // regeneration). Pinning the failure would lock the raw-INT64 branch for
    // the process lifetime and silently divide a later-appearing MICROS file
    // by 1000 — the exact corruption the probe exists to prevent.
    val tsType: Option[org.apache.spark.sql.types.DataType] = {
      val cached = tsTypeCache.get(path)
      if (cached ne null) cached
      else
        try {
          val probed = spark.read.parquet(path).schema.fields.find(_.name == "ts").map(_.dataType)
          tsTypeCache.put(path, probed)
          probed
        } catch { case scala.util.control.NonFatal(_) => None } // nanos: not cached, re-probed next call
    }
    tsType match {
      case Some(TimestampType) =>
        spark.read.parquet(path)
      case Some(TimestampNTZType) =>
        // pyarrow writes isAdjustedToUTC=false → Spark infers NTZ. Normalize
        // to TimestampType: the whole events family (unix_micros, windows,
        // watermarks) and the driver's oracle comparison were proven against
        // TimestampType, and under the UTC session timezone the cast is
        // value-preserving (same micros).
        spark.read.parquet(path)
          .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case Some(LongType) | None =>
        spark.read
          .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
          .parquet(path)
          .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(other) =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet-decoded type $other at $path; " +
            "expected TIMESTAMP(MICROS/NANOS) or raw INT64 nanos")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = fanOut(table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = fanOut(table(spark, dir, "embeddings"))
}
