package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution

import graft.{SparkEntry, Tables}

/** The JVM side of the benchmark: one fresh JVM per run, one client thread
  * submitting one catalog entry at a time (closed loop, concurrency 1).
  *
  * Modes (first argument):
  *  - `run`: set up the session and warm it with `--warmup-passes` untimed
  *    passes over the entries of `--entries`, then make timed passes over
  *    them, each in an order drawn from `--seed`: build, materialise and
  *    check every entry. Write a JSON record.
  *  - `prepare`: construct (never execute) every entry, which builds the
  *    scratch memos the entries read; untimed.
  *  - `expect`: read a `graft.Verify` dump back and write the row count and
  *    digest of every entry in it, in the format of the expectation files.
  *
  * Every entry is materialised in full: each output row is projected to an
  * UnsafeRow and hashed, so Catalyst cannot prune a column away as it can
  * under `count()`. The order-independent digest is the wrapping sum of the
  * rows' XXH64 hashes. `clearCache()` runs between entries, outside the
  * timed window. */
object Harness {

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    mode match {
      case "run"     => run(opt)
      case "prepare" => prepare(opt)
      case "expect"  => expect(opt)
      case other     => sys.error(s"unknown mode $other")
    }
  }

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs the plan and folds every row into (row count, digest). */
  def materialise(df: DataFrame, label: String): (Long, String) = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some(label)) {
      qe.executedPlan.execute().mapPartitions { rows =>
        lazy val toUnsafe = UnsafeProjection.create(types)
        var n = 0L
        var h = 0L
        rows.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  // ---------------------------------------------------------------- run

  private final case class Expected(rows: Long, digest: Option[String])

  private def loadExpected(path: String): Map[String, Expected] = {
    val root = json.readTree(new File(path))
    root.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong(),
        Option(v.get("digest")).filterNot(_.isNull).map(_.asText()))
    }.toMap
  }

  private def run(opt: Map[String, String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val launchMs = opt("launch-ms").toLong
    val dir = opt("data")
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val emptyScratch = opt("scratch") == "empty"
    val warmupPasses = opt("warmup-passes").toInt
    val coldCodegen = opt("codegen") == "cold"
    val names = lines(opt("entries"))
    val rng = new scala.util.Random(opt("seed").toLong)
    val expected = loadExpected(opt("expected"))
    val scratch = new File(sys.props("java.io.tmpdir"))
    val catalog = SparkEntry.queries
    val heap = new HeapWatch
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threads = ManagementFactory.getThreadMXBean

    val s0 = System.nanoTime()
    val spark = session(cores)
    val s1 = System.nanoTime()
    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    // after the session: Spark replaces a default log4j configuration once
    val fallbacks = FallbackAppender.install()
    val memoSig = dataSignatures(dir)
    val memoStart = memoDirs(scratch, memoSig)
    val tracer = new Tracer

    /** Builds, materialises and checks one entry. With a parent span (a
      * traced, timed pass) it records the entry's phases and counts; every
      * count is read after the entry, once the listener bus has drained. */
    def entry(name: String, parent: Option[Span]): mutable.LinkedHashMap[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any]("name" -> name)
      // with cold codegen, each entry compiles its generated code as a first
      // run of it does, whatever the entries before it compiled
      if (coldCodegen) clearCodegenCache()
      val before = parent.map(_ => (counts.snapshot(), codegenCount(), fallbacks.count,
        memoDirs(scratch, memoSig)))
      val taskCpu0 = counts.snapshot()("task_cpu_ns")
      val entrySpan = parent.map(p => tracer.open(s"entry:$name", Some(p), name))
      def phase[T](label: String)(body: => T): T = entrySpan match {
        case None => body
        case Some(e) =>
          val s = tracer.open(label, Some(e))
          try body finally tracer.close(s)
      }
      val startMs = System.currentTimeMillis()
      var buildEndMs = Long.MaxValue
      var built: Option[DataFrame] = None
      val cpu0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      try {
        val fn = catalog.getOrElse(name, throw new NoSuchElementException(s"entry $name is not in the catalog"))
        val df = phase("build")(fn(spark, dir))
        buildEndMs = System.currentTimeMillis()
        built = Some(df)
        if (entrySpan.isDefined) {
          phase("optimize")(df.queryExecution.optimizedPlan)
          phase("physical_plan")(df.queryExecution.executedPlan)
        }
        val (rows, digest) = phase("execute")(materialise(df, name))
        val problem = phase("check") {
          expected.get(name) match {
            case None => Some("no stored expectation")
            case Some(e) if e.rows != rows => Some(s"rows $rows, expected ${e.rows}")
            case Some(Expected(_, Some(d))) if d != digest => Some(s"digest $digest, expected $d")
            case _ => None
          }
        }
        rec ++= Seq("secs" -> (System.nanoTime() - t0) / 1e9, "rows" -> rows, "digest" -> digest,
          "ok" -> problem.isEmpty) ++ problem.map("error" -> _)
      } catch {
        case e: Throwable =>
          rec ++= Seq("ok" -> false, "secs" -> (System.nanoTime() - t0) / 1e9,
            "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      }
      val clientCpu = threads.getCurrentThreadCpuTime - cpu0
      entrySpan.foreach(tracer.close)
      // CPU time of the entry's own work: the client thread plus its tasks
      ListenerDrain(spark.sparkContext)
      rec("cpu_s") = (clientCpu + counts.snapshot()("task_cpu_ns") - taskCpu0) / 1e9
      for (span <- entrySpan; (c, cg, fb, memo) <- before) {
        val tr = built.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
        def ph(p: String) = tr.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        span.attrs ++= counts.snapshot().map { case (k, v) => k -> (v - c(k)) } ++ Seq(
          "build_jobs" -> counts.jobsStartedBetween(startMs, buildEndMs),
          "analysis_s" -> ph("analysis"), "optimize_s" -> ph("optimization"),
          "planning_s" -> ph("planning"),
          "codegen_compiles" -> (codegenCount() - cg),
          "codegen_fallbacks" -> (fallbacks.count - fb),
          "memo_builds" -> (memoDirs(scratch, memoSig) -- memo).size)
      }
      spark.catalog.clearCache()
      rec
    }

    /** One pass over every entry, in an order drawn from the seed. Before
      * it, outside the timed window: scratch is emptied on workloads that
      * start from an empty one, and a full GC gives every pass the same
      * heap to start from. */
    def pass(k: Int, parent: Option[Span]): mutable.LinkedHashMap[String, Any] = {
      if (emptyScratch) clearScratch(scratch)
      System.gc()
      val order = rng.shuffle(names)
      val memo0 = memoDirs(scratch, memoSig)
      ListenerDrain(spark.sparkContext)
      val c0 = counts.snapshot()
      heap.reset()
      val passSpan = parent.map(p => tracer.open(s"pass:$k", Some(p)))
      val cpu0 = cpu.getProcessCpuTime
      val t0 = System.nanoTime()
      val results = order.map(entry(_, passSpan))
      val secs = (System.nanoTime() - t0) / 1e9
      val cpuSecs = (cpu.getProcessCpuTime - cpu0) / 1e9
      passSpan.foreach(tracer.close)
      ListenerDrain(spark.sparkContext)
      val c1 = counts.snapshot()
      mutable.LinkedHashMap[String, Any](
        "pass" -> k, "order" -> order, "secs" -> secs, "cpu_s" -> cpuSecs,
        "peak_live_heap_mb" -> heap.peakAfterGc() / 1048576.0,
        "totals" -> (c1.map { case (key, v) => key -> (v - c0(key)) } +
          ("memo_builds" -> (memoDirs(scratch, memoSig) -- memo0).size.toLong)),
        "entries" -> results)
    }

    // Set-up, as a fresh JVM's user pays it: the session, then untimed
    // passes over the workload that load classes and warm the JIT.
    val warm = (1 to warmupPasses).map(k => pass(k - warmupPasses, None))
    val s2 = System.nanoTime()
    val readyMs = System.currentTimeMillis()

    // Timed passes: at least `minPasses`, and more while the timed window is
    // shorter than `seconds`.
    val runSpan = tracer.open("run", None)
    val timed = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val t0 = System.nanoTime()
    while (timed.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      timed += pass(timed.size + 1, if (traced) Some(runSpan) else None)
    tracer.close(runSpan)

    // Loader cost, timed directly after the passes so it cannot warm them.
    val tableLoadMs = if (!traced) Nil else
      dataTables(dir).flatMap { t =>
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          Tables.table(spark, dir, t)
          (System.nanoTime() - t0) / 1e6
        }
      }

    val record = mutable.LinkedHashMap[String, Any](
      "jvm" -> sys.props("java.vm.version"),
      "spark" -> spark.version,
      "cores" -> cores,
      "jvm_start_s" -> (mainMs - launchMs) / 1e3,
      "session_build_s" -> (s1 - s0) / 1e9,
      "warmup_s" -> (s2 - s1) / 1e9,
      "setup_s" -> (readyMs - launchMs) / 1e3,
      "memo_builds" -> (memoDirs(scratch, memoSig) -- memoStart).size,
      "passes" -> (warm ++ timed))
    if (traced) {
      record("tables_load_ms") = tableLoadMs
      record("spans") = tracer.spans.map(_.toMap)
    }
    spark.stop()
    Files.write(Paths.get(opt("out")), json.writeValueAsBytes(record))
  }

  // ------------------------------------------------------------ prepare

  private def prepare(opt: Map[String, String]): Unit = {
    val spark = session(opt("cores").toInt)
    lines(opt("entries")).foreach { name =>
      SparkEntry.queries(name)(spark, opt("data"))
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  // ------------------------------------------------------------- expect

  private def expect(opt: Map[String, String]): Unit = {
    val spark = session(opt("cores").toInt)
    val dump = new File(opt("dump"))
    val out = lines(opt("entries")).map { name =>
      val (rows, digest) = materialise(spark.read.parquet(new File(dump, name).getPath), name)
      name -> Map("rows" -> rows, "digest" -> digest)
    }
    spark.stop()
    Files.write(Paths.get(opt("out")), json.writeValueAsBytes(out.toMap))
  }

  // ----------------------------------------------------------- counters

  private def codegenCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empties Spark's cache of compiled generated classes. The cache is
    * private to `CodeGenerator`, so it is reached by reflection. */
  private def clearCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** Removes everything the program wrote to scratch (`Tables.scratchPath`). */
  private def clearScratch(scratch: File): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    Option(scratch.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_")).foreach(rm)
  }

  private def dataTables(dir: String): Seq[String] =
    new File(dir).list().toSeq.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  /** `Tables.scratchRelation` names a memo after the length and mtime of
    * each input table; a directory carrying one of those signatures and a
    * `_SUCCESS` marker is a published memo. */
  private def dataSignatures(dir: String): Seq[String] =
    dataTables(dir).map { t =>
      val f = new File(dir, s"$t.parquet")
      s"_${f.length}_${f.lastModified}"
    }

  private def memoDirs(scratch: File, sigs: Seq[String]): Set[String] =
    Option(scratch.listFiles()).toSeq.flatten
      .filter(d => sigs.exists(d.getName.contains) && new File(d, "_SUCCESS").exists)
      .map(_.getName).toSet
}

/** Task- and job-level counts from Spark's public listener interface. */
final class Counts extends SparkListener {
  private val keys = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes")
  private val m = mutable.Map[String, Long]() ++ keys.map(_ -> 0L)
  private val jobStartMs = mutable.ArrayBuffer[Long]()

  private def add(kv: (String, Long)*): Unit = m.synchronized {
    kv.foreach { case (k, v) => m(k) += v }
  }

  def snapshot(): Map[String, Long] = m.synchronized(m.toMap)

  /** Jobs submitted in [fromMs, toMs], by their submission time. */
  def jobsStartedBetween(fromMs: Long, toMs: Long): Long = m.synchronized {
    jobStartMs.count(t => t >= fromMs && t <= toMs).toLong
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    m.synchronized(jobStartMs += e.time)
    add("jobs" -> 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages" -> 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = e.taskMetrics
    if (t == null) add("tasks" -> 1)
    else add("tasks" -> 1, "task_run_ms" -> t.executorRunTime, "task_cpu_ns" -> t.executorCpuTime,
      "gc_ms" -> t.jvmGCTime, "shuffle_write_bytes" -> t.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> (t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      "spill_bytes" -> t.diskBytesSpilled, "input_bytes" -> t.inputMetrics.bytesRead,
      "output_bytes" -> t.outputMetrics.bytesWritten)
  }
}

/** Counts codegen fallbacks, which Spark reports only as log events, once
  * each: a plan that runs without whole-stage codegen, because its code
  * failed to compile (WARN) or is too long to JIT (INFO), and an expression
  * evaluated by the interpreter because its code failed to compile (WARN,
  * logged by the `CodeGeneratorWithInterpretedFallback` object in use). */
final class FallbackAppender extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  @volatile private var n = 0L
  def count: Long = n
  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    val wholeStage = e.getLoggerName == FallbackAppender.WholeStage &&
      (msg.startsWith("Whole-stage codegen disabled for plan") ||
       msg.contains("whole-stage codegen was disabled for this plan"))
    if (wholeStage || msg.startsWith("Expr codegen error and falling back to interpreter mode"))
      synchronized(n += 1)
  }
}

object FallbackAppender {
  val WholeStage = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  def install(): FallbackAppender = {
    val a = new FallbackAppender
    a.start()
    Configurator.setLevel(WholeStage, Level.INFO)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.INFO, null)
    ctx.updateLoggers()
    a
  }
}

/** Highest heap occupancy right after a GC, from GC notifications. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  @volatile private var seen = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener((n: Notification, _: AnyRef) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used); seen += 1 }
        }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Forces one collection so a run always has a sample, then reads. */
  def peakAfterGc(): Long = {
    val before = seen
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (seen == before && System.nanoTime() < deadline) Thread.sleep(5)
    peak
  }
}

/** One timed interval; `entry` ties the spans of one catalog entry together. */
final class Span(val id: Int, val name: String, val parent: Option[Int], val entry: String,
                 val start: Long) {
  var end: Long = -1L
  val attrs = mutable.LinkedHashMap[String, Any]()
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "parent" -> parent.getOrElse(null),
    "entry" -> entry, "start_ns" -> start, "end_ns" -> end) ++
    (if (attrs.isEmpty) Nil else Seq("counts" -> attrs))
}

/** Spans kept in memory and written with the record at the end. */
final class Tracer {
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()

  def open(name: String, parent: Option[Span], entry: String = null): Span = {
    val s = new Span(spans.size, name, parent.map(_.id),
      Option(entry).orElse(parent.map(_.entry)).orNull, System.nanoTime() - origin)
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = System.nanoTime() - origin
}
