package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{GraftSession, SparkEntry, Tables}
import graft.engine.GraftEngine
import graft.queries.Pipeline

/** One closed-loop client: it sends the statements of a plan file to one
  * [[GraftEngine]] in a fresh JVM, each only after the previous one has
  * returned its rows, and records what it saw.
  *
  * Usage: `Harness <plan.json> <out-dir>`, with the system property
  * `perfbench.launchMs` set to the wall clock (epoch ms) at which the
  * caller started this process, so set-up time includes JVM start.
  *
  * The plan holds laps of statements. Lap 0 is the cold lap; the settle
  * laps and the measured laps, from `first_warm_lap` on, follow it. Every
  * settle lap and the first measured lap run; no further lap starts once
  * `max_seconds` of measured laps have passed (a cap that keeps a slow
  * program's run bounded).
  * Untraced, the client only times statements and reads process-level
  * counters around each warm lap. Traced, every cold statement and every
  * other warm statement (alternating by lap, so each shape is traced in
  * half its laps) also records spans: the statement, `engine.run`,
  * `engine.collect`, the Catalyst phases of the returned DataFrame (of a
  * read; a write returns an empty placeholder), and
  * Spark's jobs and stages. The untraced statements in between give the
  * tracing overhead inside one run.
  *
  * A traced run then runs the serve step, after the warm laps so that it
  * moves no lap figure: `Pipeline.prebuildModels` from the run's empty
  * store root, timed per store, and a few `SparkEntry` operator queries,
  * each timed while its function builds the DataFrame and while the rows
  * are collected.
  *
  * Output files in `<out-dir>`: `result.json` (environment, set-up,
  * probes, one record per statement), `rows.jsonl` (every checked
  * statement's rows, for the caller's correctness check) and, traced,
  * `spans.jsonl`, `tasks.jsonl` and `serve.json` (per-store fit seconds,
  * and per query its timings, rows and DuckDB oracle text).
  */
object Harness {

  final case class Stmt(id: Int, kind: String, sql: String, check: Boolean)

  /** One executed statement: its wall time, error (null when none), rows
    * and, traced, its layer counters as JSON fields.
    */
  final case class Rec(stmt: Stmt, lap: Int, traced: Boolean, ns: Long, error: String,
      rows: Array[Row], extra: String)

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val launchMs = sys.props.get("perfbench.launchMs").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val plan = mapper.readTree(new File(args(0)))
    val out = new File(args(1))
    out.mkdirs()
    val laps: IndexedSeq[IndexedSeq[Stmt]] = plan.get("laps").elements().asScala.map {
      lap => lap.elements().asScala.map { s =>
        Stmt(s.get("id").asInt, s.get("kind").asText, s.get("sql").asText,
          s.get("check").asBoolean)
      }.toIndexedSeq
    }.toIndexedSeq
    val maxSeconds = plan.get("max_seconds").asDouble
    val firstWarmLap = plan.get("first_warm_lap").asInt
    val traced = plan.get("trace").asInt == 1
    val dataDir = plan.get("data_dir").asText

    // ---- set-up: session, engine, table registration -----------------------
    val spark = GraftSession.build(master = plan.get("master").asText, appName = "perfbench")
    val engine = new GraftEngine(spark)
    plan.get("tables").elements().asScala.foreach { t =>
      engine.createParquetTable(t.asText, s"$dataDir/${t.asText}.parquet")
    }
    val readyMs = System.currentTimeMillis()

    val clock = new Clock
    val listener = new TraceListener
    val spans = new mutable.ArrayBuffer[String]()
    val recs = new mutable.ArrayBuffer[Rec]()
    val probes = mutable.ArrayBuffer(Probe.cpuMs())

    // registered for the whole run: events arrive after their statement
    // returns, and a listener removed early would miss them
    if (traced) spark.sparkContext.addSparkListener(listener)
    def runLap(lapNo: Int, lap: IndexedSeq[Stmt]): Unit =
      lap.zipWithIndex.foreach { case (st, i) =>
        recs += (if (traced && (lapNo == 0 || (lapNo + i) % 2 == 0))
          runTraced(spark, engine, st, lapNo, clock, spans)
        else runPlain(engine, st, lapNo))
      }

    val cold0 = System.nanoTime()
    runLap(0, laps(0))
    val coldNs = System.nanoTime() - cold0
    probes += Probe.cpuMs()

    var warm0 = 0L
    val lapTimes = mutable.ArrayBuffer[String]()
    var lapNo = 1
    while (lapNo < laps.length &&
        (lapNo <= firstWarmLap || System.nanoTime() - warm0 < maxSeconds * 1e9)) {
      if (lapNo == firstWarmLap) warm0 = System.nanoTime()
      val c0 = Counters.now()
      val t0 = System.nanoTime()
      runLap(lapNo, laps(lapNo))
      lapTimes += Json.obj("lap" -> lapNo, "ns" -> (System.nanoTime() - t0),
        "cpu_ns" -> (Counters.now().cpuNs - c0.cpuNs))
      lapNo += 1
    }
    probes += Probe.cpuMs()

    // ---- state read after the window (outside every timed interval) --------
    val storageBytes = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val partitions =
      try engine.table(plan.get("partition_table").asText).rdd.getNumPartitions
      catch { case NonFatal(_) => -1 }
    if (traced) listener.drain()
    if (traced) {
      val names = plan.get("serve_queries").elements().asScala.map(_.asText).toSeq
      write(new File(out, "serve.json"), Seq(serve(spark, dataDir, names)))
    }

    val env = Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> sys.props("java.version"),
      "jvm" -> sys.props("java.vm.name"),
      "spark" -> spark.version,
      "master" -> plan.get("master").asText,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val result = Json.obj(
      "env" -> Json.Raw(env),
      "launch_ms" -> launchMs,
      "ready_ms" -> readyMs,
      "cold_lap_ns" -> coldNs,
      "warm_laps" -> Json.Raw(lapTimes.mkString("[", ",", "]")),
      "probe_ms" -> Json.Raw(probes.map(p => Json.num(p).text).mkString("[", ",", "]")),
      "peak_rss_kb" -> Counters.peakRssKb(),
      "storage_bytes" -> storageBytes,
      "partitions" -> partitions,
      "statements" -> Json.Raw(recs.map(recJson).mkString("[\n", ",\n", "]")))
    write(new File(out, "result.json"), Seq(result))
    write(new File(out, "rows.jsonl"), recs.iterator.filter(r => r.stmt.check && r.error == null)
      .map(r => Json.obj("id" -> r.stmt.id,
        "rows" -> Json.Raw(r.rows.map(Json.row).mkString("[", ",", "]")))).toSeq)
    if (traced) {
      write(new File(out, "spans.jsonl"), spans.toSeq ++ listener.spanLines())
      write(new File(out, "tasks.jsonl"), listener.stageLines())
    }
    spark.stop()
  }

  /** The serve step: store fit from an empty root, then operator queries. */
  private def serve(spark: SparkSession, dataDir: String, names: Seq[String]): String = {
    val fit0 = System.nanoTime()
    var fitError: String = null
    val built =
      try Pipeline.prebuildModels(spark, dataDir)
      catch { case NonFatal(e) => fitError = errorText(e); Seq.empty[(String, Double)] }
    val fitMs = (System.nanoTime() - fit0) / 1e6
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val recs = names.map { name =>
      val fn = queries(name)
      val t0 = System.nanoTime()
      var t1 = t0
      var rows: Array[Row] = Array.empty
      var columns: Seq[String] = Seq.empty
      var error: String = null
      try {
        val df = fn(spark, dataDir)
        t1 = System.nanoTime()
        rows = df.collect()
        columns = df.columns.toSeq
      } catch { case NonFatal(e) => error = errorText(e) }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      Json.obj("name" -> name, "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6,
        "error" -> error, "oracle" -> oracles.get(name).orNull, "columns" -> columns,
        "rows" -> Json.Raw(rows.map(Json.row).mkString("[", ",", "]")))
    }
    Json.obj("fit_ms" -> fitMs, "fit_error" -> fitError,
      "stores" -> Json.Raw(built.map { case (n, sec) => Json.obj("name" -> n, "s" -> sec) }
        .mkString("[", ",", "]")),
      "models_dir" -> Tables.modelsDir(dataDir),
      "queries" -> Json.Raw(recs.mkString("[", ",", "]")))
  }

  private def runPlain(engine: GraftEngine, st: Stmt, lap: Int): Rec = {
    val t0 = System.nanoTime()
    try {
      val rows = engine.run(st.sql).collect()
      Rec(st, lap, traced = false, System.nanoTime() - t0, null, rows, "")
    } catch {
      case NonFatal(e) =>
        Rec(st, lap, traced = false, System.nanoTime() - t0, errorText(e), Array.empty, "")
    }
  }

  /** [[runPlain]] plus spans and per-statement layer counters. */
  private def runTraced(spark: SparkSession, engine: GraftEngine, st: Stmt, lap: Int,
      clock: Clock, spans: mutable.ArrayBuffer[String]): Rec = {
    spark.sparkContext.setJobDescription(s"stmt:${st.id}")
    val c0 = Counters.now()
    val cg0 = Counters.codegenClasses()
    val t0 = System.nanoTime()
    var t1 = t0
    var df: DataFrame = null
    var rows: Array[Row] = Array.empty
    var error: String = null
    try {
      df = engine.run(st.sql)
      t1 = System.nanoTime()
      rows = df.collect()
    } catch { case NonFatal(e) => error = errorText(e) }
    val t2 = System.nanoTime()
    val c1 = Counters.now()
    val cg1 = Counters.codegenClasses()
    spark.sparkContext.setJobDescription(null)
    if (t1 == t0) t1 = t2 // failed inside run: no collect span
    def span(name: String, a: Double, b: Double): Unit =
      spans += Json.obj("stmt" -> st.id, "name" -> name, "start_us" -> Json.num(a),
        "end_us" -> Json.num(b))
    span("statement", clock.us(t0), clock.us(t2))
    span("engine.run", clock.us(t0), clock.us(t1))
    span("engine.collect", clock.us(t1), clock.us(t2))
    var stages = 0
    // the DataFrame of a write is an empty placeholder: its phases say
    // nothing about the write, so only reads report Catalyst phases
    if (df != null && st.kind == "read") {
      df.queryExecution.tracker.phases.foreach { case (phase, s) =>
        span(s"catalyst.$phase", s.startTimeMs * 1000.0, s.endTimeMs * 1000.0)
      }
      stages = try wscgStages(df.queryExecution.executedPlan) catch { case NonFatal(_) => 0 }
    }
    val extra = Json.fields("gc_ms" -> (c1.gcMs - c0.gcMs), "jit_ms" -> (c1.jitMs - c0.jitMs),
      "codegen_classes" -> (cg1 - cg0), "wscg_stages" -> stages)
    Rec(st, lap, traced = true, t2 - t0, error, rows, extra)
  }

  /** Whole-stage-codegen subtrees in a physical plan, through adaptive
    * query stages and subqueries.
    */
  private def wscgStages(p: SparkPlan): Int = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => wscgStages(a.executedPlan)
      case q: QueryStageExec => wscgStages(q.plan)
      case w: WholeStageCodegenExec => 1 + wscgStages(w.child)
      case other => other.children.map(wscgStages).sum
    }
    here + p.subqueries.map(wscgStages).sum
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"

  private def recJson(r: Rec): String = {
    val base = Json.fields("id" -> r.stmt.id, "kind" -> r.stmt.kind, "lap" -> r.lap,
      "traced" -> r.traced, "ns" -> r.ns, "error" -> r.error)
    if (r.extra.isEmpty) s"{$base}" else s"{$base,${r.extra}}"
  }

  private def write(f: File, lines: Seq[String]): Unit = {
    val w = new PrintWriter(Files.newBufferedWriter(f.toPath, StandardCharsets.UTF_8))
    try lines.foreach(w.println) finally w.close()
  }
}

/** Maps `System.nanoTime` onto epoch microseconds, the time base of Spark's
  * own timestamps (Catalyst phases, jobs, stages are epoch milliseconds).
  * The anchor is read with microsecond resolution, so it adds no
  * millisecond floor of its own.
  */
final class Clock {
  private val nano0 = System.nanoTime()
  private val anchorUs: Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1e6 + now.getNano / 1000
  }
  def us(nano: Long): Double = anchorUs + (nano - nano0) / 1000.0
}

/** Process-wide counters read through the JVM's management beans. */
final case class Counters(cpuNs: Long, gcMs: Long, jitMs: Long)

object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  private val jit = ManagementFactory.getCompilationMXBean

  def now(): Counters = Counters(
    os.map(_.getProcessCpuTime).getOrElse(-1L),
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum,
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime
    else -1L)

  /** Janino compilations so far (one per generated class compiled). */
  def codegenClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The process's high-water resident set (VmHWM), in kB; -1 if unknown. */
  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }
}

/** A fixed CPU-bound loop, timed: on an idle machine repeated probes agree,
  * and a spread between the start, middle and end probes of a run marks it
  * as taken on a contended machine. Min of three, so the first call's JIT
  * warm-up does not count.
  */
object Probe {
  @volatile private var sink = 0L
  def cpuMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var h = 1L
    var i = 0
    while (i < 20000000) { h = h * 6364136223846793005L + i; i += 1 }
    sink ^= h
    (System.nanoTime() - t0) / 1e6
  }.min
}

/** Minimal JSON writer for the harness's output files. */
object Json {
  final case class Raw(text: String)

  def num(d: Double): Raw =
    Raw(if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case f: Float => num(f.toDouble).text
    case d: Double => num(d).text
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${value(k)},${value(x)}]" }.sorted.mkString("[", ",", "]")
    case other => str(other.toString) // dates, timestamps, intervals
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("[", ",", "]")

  def fields(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString(",")

  def obj(kv: (String, Any)*): String = s"{${fields(kv: _*)}}"
}
