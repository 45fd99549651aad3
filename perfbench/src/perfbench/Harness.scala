package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Fixtures, Pipeline, Sessions, SparkEntry, Tables}
import graft.operators.Consolidation
import graft.sinks.{AlertSink, UpsertWriter}
import graft.streaming.MultiSignalIngest
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Work counters fed by the listeners the traced run registers: task
  * metrics per finished task (scheduler, scan rows, exchange, operator
  * work), and from each finished query's executed plan the file scans'
  * bytes and the write commands' files, bytes and duration. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = new ConcurrentHashMap[String, java.lang.Long]()
  private def add(k: String, v: Long): Unit =
    c.merge(k, v, (a: java.lang.Long, b: java.lang.Long) => a + b)

  def snapshot: Map[String, Long] =
    c.asScala.map { case (k, v) => k -> v.longValue }.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      add("tasks", 1)
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("read_rows", m.inputMetrics.recordsRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.diskBytesSpilled)
    }
  }

  /** Every operator that ran, through adaptive and command wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  override def onSuccess(
      funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ran = nodes(qe.executedPlan)
    ran.collect { case f: FileSourceScanExec => f }
      .foreach(_.metrics.get("filesSize").foreach(m => add("scan_bytes", m.value)))
    val ws = ran.collect { case w: DataWritingCommandExec => w }
    if (ws.nonEmpty) {
      add("write_ns", durationNs)
      ws.foreach { w =>
        w.cmd.metrics.get("numFiles").foreach(m => add("write_files", m.value))
        w.cmd.metrics.get("numOutputBytes")
          .foreach(m => add("write_bytes", m.value))
      }
    }
  }
  override def onFailure(
      funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** In-memory spans for the traced run: name, start, end, parent, workload
  * and run id, with the listener counts taken at the same boundaries.
  * Written out once, when the run ends. */
final class Tracer(
    spark: SparkSession, counters: Counters, workload: String, runId: String) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var stack = List.empty[Int]

  private def counts(): Map[String, Long] = {
    PerfbenchBus.drain(spark.sparkContext)
    counters.snapshot
  }

  def span[A](name: String)(f: => A): A = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Map.empty
    stack = id :: stack
    val c0 = counts()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val c1 = counts()
      stack = stack.tail
      spans(id) = record(id, parent, name, t0, t1,
        c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) })
    }
  }

  /** A span measured by someone else (a streaming batch, from its
    * progress event) under the currently open span. */
  def add(name: String, startNs: Long, endNs: Long): Unit =
    spans += record(spans.size, stack.headOption.getOrElse(-1), name,
      startNs, endNs, Map.empty)

  /** This tracer's clock at a wall-clock instant. */
  def nanoAt(epochMs: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - epochMs) * 1000000L

  private def record(id: Int, parent: Int, name: String, t0: Long, t1: Long,
      counts: Map[String, Long]): Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "name" -> name,
      "start_s" -> (t0 - origin) / 1e9, "end_s" -> (t1 - origin) / 1e9,
      "workload" -> workload, "run" -> runId, "counts" -> counts)

  def all: Seq[Map[String, Any]] = spans.toSeq
}

/** The benchmark's JVM side: sets the session up, warms it, runs one
  * workload through the library's public entry points, checks the outputs
  * it can check in-process and writes every raw sample to
  * `<out>/result.json`. Arithmetic over the samples lives in stats.py.
  *
  * args: --workload daily_mart|ingest_drain --data <image> --out <dir>
  *       --trace 0|1 --cpus <n>
  *       [--days <n>] (daily_mart) [--landing <dir of batch files>] (drain)
  */
object Main {
  private val SetupRepeats = 3
  private val StateBuckets = 8
  private val MartKeys = Seq("id_anuncio", "id_anuncio_variacao")

  private val res = mutable.LinkedHashMap[String, Any]()
  private val checks = mutable.LinkedHashMap[String, Any]()
  private var attempted = 0
  private var failed = 0

  private val phases = mutable.LinkedHashMap[String, Double]()
  private def phase[A](name: String)(f: => A): A = {
    val (r, s) = secondsOf(f)
    phases(name) = s
    r
  }

  private def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def files(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val w = Files.walk(Paths.get(dir))
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }

  private def bytesUnder(dirs: String*): Long =
    dirs.flatMap(files).map(Files.size).sum

  private def parquetFilesUnder(dirs: String*): Int =
    dirs.flatMap(files).count(_.getFileName.toString.endsWith(".parquet"))

  private def check(name: String)(ok: => Boolean, detail: => String = ""): Unit = {
    attempted += 1
    val (pass, msg) =
      try (ok, detail)
      catch { case e: Throwable => (false, e.toString) }
    if (!pass) failed += 1
    checks(name) = Map("ok" -> pass, "detail" -> msg)
  }

  private def newSession(cpus: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (workload, out, data) = (a("workload"), a("out"), a("data"))
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    res("workload") = workload
    res("cpus") = cpus
    res("jvm_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

    // set-up, repeated: a session, Sessions.tune and Fixtures.ensureAll
    // into an empty fixtures dir. The first repeat is timed from JVM launch
    // and starts the SparkContext; the others open a new session on it.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setups = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      spark = if (spark == null) newSession(cpus, out) else spark.newSession()
      Sessions.tune(spark)
      System.setProperty("graft.fixtures.dir", s"$out/fixtures$i")
      Fixtures.ensureAll(spark, data)
      if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }
    res("setup_s") = setups
    res("spark_version") = spark.version

    try workload match {
      case "daily_mart" => dailyMart(spark, data, out, a("days").toInt, trace)
      case "ingest_drain" => ingestDrain(spark, a("landing"), out, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        attempted += 1
        failed += 1
        res("error") = e.toString
    }
    res("checks") = checks
    res("phase_s") = phases
    res("attempted") = attempted
    res("failed") = failed
    res("peak_rss_kb") = peakRssKb()
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValueAsString(res)
    Files.writeString(Paths.get(out, "result.json"), json)
  }

  /** Registers the traced run's listeners; the untraced run has none. */
  private def tracer(spark: SparkSession, workload: String, out: String): Tracer = {
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(counters)
    new Tracer(spark, counters, workload, out)
  }

  // ── daily_mart ────────────────────────────────────────────────────────

  /** runDaily's steps replayed through the same public calls, one span
    * each (the traced form of `Pipeline.runDaily(..., noReplayers = true)`
    * at its default compaction threshold). */
  private def tracedDay(spark: SparkSession, data: String, wh: String,
      version: Long, tr: Tracer): Int = {
    val martPath = s"$wh/relatorio_diario"
    var compactions = 0
    tr.span(s"day.v$version") {
      Sessions.tune(spark)
      require(UpsertWriter.taggedDeltas(martPath).isEmpty)
      tr.span("operators.consolidate") {
        Consolidation.relatorio(spark, data)
          .write.format("noop").mode("overwrite").save()
      }
      tr.span("sinks.upsert") {
        UpsertWriter.upsert(spark, martPath,
          Consolidation.relatorio(spark, data)
            .withColumn("run_version", lit(version)),
          keys = MartKeys, versionCol = "run_version")
      }
      tr.span("sinks.alerts") {
        val unmapped = Tables.part(spark, data)
          .join(Tables.lineitem(spark, data).filter(col("l_quantity") >= 48.0),
            col("p_partkey") === col("l_partkey"), "left_anti")
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
        AlertSink.emit(spark, s"$wh/alerts", unmapped, version)
      }
      tr.span("sinks.maintenance") {
        if (parquetFilesUnder(martPath) > 64) {
          compactions += 1
          UpsertWriter.compact(spark, martPath)
        }
        UpsertWriter.clearReplayMetadata(martPath)
      }
    }
    compactions
  }

  private def dailyMart(spark: SparkSession, data: String, out: String,
      days: Int, trace: Boolean): Unit = {
    // warm-up: a cold and a restated day on the same image. Days on a
    // smaller image leave the JIT cold for this one: timed days then kept
    // getting faster through the run.
    phase("warmup") {
      Pipeline.runDaily(spark, data, s"$out/warm", 1L, noReplayers = true)
      Pipeline.runDaily(spark, data, s"$out/warm", 2L, noReplayers = true)
    }

    // closed loop, one caller: day 1 is cold (fresh warehouse), the
    // following days restate the existing mart
    res("load_before") = loadAvg()
    val wh = s"$out/daily/wh"
    res("ops") = phase("timed") {
      (1 to days).map { v =>
        attempted += 1
        val (_, s) = secondsOf(
          Pipeline.runDaily(spark, data, wh, v.toLong, noReplayers = true))
        Map("day" -> v, "s" -> s)
      }
    }
    res("load_after") = loadAvg()
    val (mart, alerts) = (s"$wh/relatorio_diario", s"$wh/alerts")
    res("warehouse_bytes") = bytesUnder(mart, alerts)

    if (trace) {
      val tr = tracer(spark, "daily_mart", out)
      val twh = s"$out/traced/wh"
      var compactions = 0
      val traced = phase("traced")(tr.span("traced") {
        (1 to days).map { v =>
          val (c, s) = secondsOf(tracedDay(spark, data, twh, v.toLong, tr))
          compactions += c
          Map("day" -> v, "s" -> s)
        }
      })
      val tables = Seq(s"$twh/relatorio_diario", s"$twh/alerts")
      res("traced") = Map(
        "ops" -> traced, "spans" -> tr.all, "compactions" -> compactions,
        "warehouse_bytes" -> bytesUnder(tables: _*),
        "live_files" -> parquetFilesUnder(tables: _*))
    }
    phase("checks")(checkDaily(spark, out, mart, alerts, days))
  }

  /** The mart is keyed and carries the last day's version; it is dumped
    * for the DuckDB twin compare (scripts/check.py's oracle_sql.json
    * layout), and the alerts for the unmapped-part compare. */
  private def checkDaily(spark: SparkSession, out: String, mart: String,
      alerts: String, lastDay: Long): Unit = {
    val m = spark.read.parquet(mart)
    val rows = m.count()
    res("mart_rows") = rows
    check("mart_keys_unique")(
      rows == m.select(MartKeys.map(col): _*).distinct().count())
    check("mart_run_version_is_last_day")(
      m.filter(col("run_version") =!= lastDay).count() == 0)
    val name = "ep1_consolidar_relatorio"
    m.drop("run_version").write.mode("overwrite").parquet(s"$out/check/$name")
    spark.read.parquet(alerts)
      .select(col("alert_key"), col("status"), col("run_version"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/check/alerts")
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out, "check", "oracle_sql.json"),
      mapper.writeValueAsString(Map(name -> SparkEntry.oracleSql(name))))
  }

  // ── ingest_drain ──────────────────────────────────────────────────────

  private def drain(spark: SparkSession, landing: String, dir: String,
      buckets: Option[Int]): (Double, Seq[StreamingQueryProgress]) = {
    val (q, s) = secondsOf {
      val q = MultiSignalIngest.start(spark, landing, s"$dir/wh", s"$dir/ckpt",
        filesPerTrigger = 1, stateBuckets = buckets)
      q.awaitTermination()
      q
    }
    (s, q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  private def batches(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] =
    ps.map { p =>
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "trigger_ms" -> p.durationMs.get("triggerExecution").longValue,
        "add_batch_ms" -> p.durationMs.get("addBatch").longValue,
        "timestamp" -> p.timestamp)
    }

  private def ingestDrain(spark: SparkSession, landing: String, out: String,
      trace: Boolean): Unit = {
    val nFiles = files(landing).count(_.getFileName.toString.endsWith(".parquet"))
    // warm-up AND reference: the plain-state (stateBuckets = None) drain
    // of the same batches, which the timed bucketed drain must equal
    phase("warmup")(drain(spark, landing, s"$out/ref", None))

    res("load_before") = loadAvg()
    attempted += nFiles
    val (drainS, ps) =
      phase("timed")(drain(spark, landing, s"$out/timed", Some(StateBuckets)))
    res("load_after") = loadAvg()
    res("drain_s") = drainS
    res("ops") = batches(ps)
    val wh = s"$out/timed/wh"
    val tables = Seq("ms_survivors", "ms_index", "ms_log").map(t => s"$wh/$t")
    res("warehouse_bytes") = bytesUnder(tables: _*)

    if (trace) {
      val tr = tracer(spark, "ingest_drain", out)
      val (ts, tp) = phase("traced")(tr.span("traced") {
        tr.span("drain") {
          val r = drain(spark, landing, s"$out/traced", Some(StateBuckets))
          r._2.foreach { p =>
            val start = java.time.Instant.parse(p.timestamp).toEpochMilli
            val end = start + p.durationMs.get("triggerExecution").longValue
            tr.add(s"batch${p.batchId}", tr.nanoAt(start), tr.nanoAt(end))
          }
          r
        }
      })
      val twh = s"$out/traced/wh"
      val ttables = Seq("ms_survivors", "ms_index", "ms_log").map(t => s"$twh/$t")
      res("traced") = Map(
        "drain_s" -> ts, "ops" -> batches(tp), "spans" -> tr.all,
        "warehouse_bytes" -> bytesUnder(ttables: _*),
        "live_files" -> parquetFilesUnder(ttables: _*))
    }

    phase("checks")(checkDrain(spark, landing, out, nFiles, trace))
  }

  /** Admission accounting, key uniqueness, and equality with the
    * plain-state reference drain (and with the traced drain). */
  private def checkDrain(spark: SparkSession, landing: String, out: String,
      nFiles: Int, trace: Boolean): Unit = {
    val wh = s"$out/timed/wh"
    val surv = MultiSignalIngest.survivors(spark, wh)
    val log = MultiSignalIngest.ingestLog(spark, wh).persist()
    val input = spark.read.parquet(landing).select("doc_id")
    val (nIn, nAdmitted) = {
      val r = log.agg(sum("n_in"), sum("n_admitted")).head()
      (r.getLong(0), r.getLong(1))
    }
    res("admitted") = nAdmitted
    res("arrived") = nIn
    check("one_log_row_per_batch")(
      log.count() == nFiles && log.select("batch_id").distinct().count() == nFiles)
    check("every_doc_admitted_once_or_dropped")(
      nIn == input.count() &&
        log.filter(col("n_in") =!= col("n_batch_dupes") +
          col("n_corpus_dupes") + col("n_admitted")).count() == 0 &&
        surv.count() == nAdmitted &&
        surv.join(input, Seq("doc_id"), "left_anti").count() == 0,
      s"arrived=$nIn admitted=$nAdmitted")
    check("survivor_keys_unique")(
      surv.count() == surv.select("doc_id").distinct().count())
    def sameAs(dir: String): Boolean = {
      val cols = Seq("doc_id", "text", "embedding", "sig", "batch_id",
        "first_admitted_batch").map(col)
      val other = MultiSignalIngest.survivors(spark, s"$dir/wh").select(cols: _*)
      val mine = surv.select(cols: _*)
      val otherLog = MultiSignalIngest.ingestLog(spark, s"$dir/wh")
      mine.exceptAll(other).isEmpty && other.exceptAll(mine).isEmpty &&
        log.exceptAll(otherLog).isEmpty && otherLog.exceptAll(log).isEmpty
    }
    check("survivors_equal_plain_state_drain")(sameAs(s"$out/ref"))
    if (trace) check("traced_drain_equals_untraced")(sameAs(s"$out/traced"))
    log.unpersist()
  }
}
