package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.cli.TaskRunner
import graft.sources.Csv
import graft.streaming.EventStreams

/** One benchmark run in a fresh JVM: set up a session, drive one
  * workload from a single client thread for a fixed time, run an
  * untimed verification pass, and write one JSON record of raw timings
  * (`perfbench/run.py` turns it into metrics and checks the results).
  *
  * {{{
  * java ... perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *   <dataDir> <workDir> <launchEpochMs>
  * }}}
  *
  * Every layer is timed from outside, through its public entry point:
  * `TaskRunner.resolve`, `SparkEntry.queries(name)(spark, dir)`,
  * `Csv.writeKv` or the `noop` sink, and `EventStreams.readEventStream`
  * into `upsertWindowCounts`. With trace=1 the run also attaches a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * and writes every span it saw to `<workDir>/spans.jsonl`.
  */
object Harness {

  val referenceTasks: Seq[String] =
    Seq("TaskA", "TaskB", "TaskC", "TaskD", "TaskE", "TaskF", "TaskG", "TaskH", "WordCount", "Pi")
  val llmPipeline: Seq[String] = Seq(
    "er_jaro_winkler_sql", "dedup_edit_distance_sql", "dedup_minhash_portable",
    "bitext_mine_exact_baseline", "bpe_encode")
  val streamQuery = "stream_window_counts"
  /** The warm phase lasts until it has at least this many latency
    * samples, so no median is taken over a pass of five queries or one
    * short stream repetition.
    */
  val minWarmSamples = 6

  /** Session config of `graft.Bench`, with the core count made explicit. */
  def session(cpus: Int): SparkSession =
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def now: Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val Array(workload, seedArg, secondsArg, traceArg, dataDir, workDir, launchArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(trace)
    val out = mutable.LinkedHashMap[String, Any]()

    // ---- setup: jvm → session → warm-up ----
    val t0 = now
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = now
    tracer.attach(spark)
    val setupId = tracer.span("setup", 0L, "", launchArg.toLong * 1000000L, 0L)
    tracer.span("jvm", setupId, "", launchArg.toLong * 1000000L, mainMs * 1000000L)
    tracer.span("session", setupId, "", tracer.wallOf(t0), tracer.wallOf(t1))
    tracer.withSpan("warmup", setupId, "") { _ =>
      graft.Tables.events(spark, dataDir).limit(1000).write.mode("overwrite").format("noop").save()
    }
    val t2 = now
    tracer.close(setupId, tracer.wallOf(t2))
    out("setup") = Map(
      "jvm_start_s" -> (mainMs - launchArg.toLong) / 1000.0,
      "session_build_s" -> secs(t0, t1),
      "warmup_s" -> secs(t1, t2))

    val rng = new scala.util.Random(seed)
    workload match {
      case "reference_tasks" | "llm_pipeline" =>
        val (names, sink) =
          if (workload == "reference_tasks") (referenceTasks, "tsv") else (llmPipeline, "noop")
        out("runs") = runQueries(spark, tracer, names, sink, rng, seconds, dataDir, workDir)
        out("verify") = tracer.withSpan("verify", 0L, "") { _ =>
          names.map { task =>
            val name = TaskRunner.resolve(task).get
            val dir = s"$workDir/verify/$name"
            SparkEntry.queries(name)(spark, dataDir).write.mode("overwrite").parquet(dir)
            spark.catalog.clearCache()
            Map("query" -> name, "dir" -> dir, "oracle" -> SparkEntry.oracleSql.getOrElse(name, ""))
          }
        }
      case "stream_upsert" =>
        out("stream") = runStream(spark, tracer, s"$workDir/stream_in", seconds, workDir)
        out("verify") = Seq(Map(
          "query" -> streamQuery, "dir" -> s"$workDir/stream_last_out",
          "oracle" -> SparkEntry.oracleSql(streamQuery)))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    out("confs") = spark.conf.getAll.toMap
    out("jvm_flags") = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    out("cpus") = cpus
    out("peak_rss_mb") = peakRssMb
    out("live_mb") = liveMb.toSeq
    tracer.finish(spark, s"$workDir/spans.jsonl")
    spark.stop()
    Files.writeString(Paths.get(s"$workDir/result.json"), Json.render(out))
  }

  /** One cold pass, then warm passes until `seconds` of warm time have
    * passed and `minWarmSamples` warm requests have run. Each pass runs
    * every query once, in an order drawn from `rng`.
    */
  def runQueries(spark: SparkSession, tracer: Tracer, tasks: Seq[String], sink: String,
                 rng: scala.util.Random, seconds: Double, dataDir: String,
                 workDir: String): Seq[Map[String, Any]] = {
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    var pass = 0
    var warmStart = 0L
    while (pass <= 1 || secs(warmStart, now) < seconds || (pass - 1) * tasks.size < minWarmSamples) {
      val order = rng.shuffle(tasks)
      if (pass == 1) warmStart = now
      order.foreach { task =>
        val req = s"p$pass:$task"
        val cg0 = codegenCompiles
        val r0 = now
        val (name, b0, e0, r1) = tracer.withSpan("request", 0L, req) { reqId =>
          val name = TaskRunner.resolve(task).get
          val b0 = now
          val df = tracer.withSpan("build", reqId, req) { _ => SparkEntry.queries(name)(spark, dataDir) }
          tracer.planned("build", df.queryExecution)
          val e0 = now
          tracer.withSpan("execute", reqId, req) { _ =>
            if (sink == "tsv") Csv.writeKv(df, s"$workDir/out/$name")
            else df.write.mode("overwrite").format("noop").save()
          }
          (name, b0, e0, now)
        }
        // untimed, as in graft.Bench: settle listener events and drop
        // the query's cached tables so the next request starts cold
        org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
        spark.catalog.clearCache()
        runs += Map("req" -> req, "query" -> name, "pass" -> pass,
          "resolve_s" -> secs(r0, b0), "build_s" -> secs(b0, e0), "execute_s" -> secs(e0, r1),
          "latency_s" -> secs(r0, r1),
          "codegen_compiles" -> (codegenCompiles - cg0),
          "output_files" -> outputFiles(s"$workDir/out/$name"))
      }
      sampleLive()
      pass += 1
    }
    runs.toSeq
  }

  private def outputFiles(dir: String): Int = {
    val f = new java.io.File(dir)
    if (!f.isDirectory) 0 else f.listFiles().count(_.getName.startsWith("part-"))
  }

  /** AvailableNow repetitions over the same input files, each with a
    * fresh checkpoint and output dir: one cold repetition, then warm
    * ones until `seconds` of warm time have passed and the warm
    * repetitions hold `minWarmSamples` steady-state micro-batches (all
    * but the first of each repetition, which starts the query).
    */
  def runStream(spark: SparkSession, tracer: Tracer, inDir: String, seconds: Double,
                workDir: String): Seq[Map[String, Any]] = {
    val reps = mutable.ArrayBuffer[Map[String, Any]]()
    var rep = 0
    var warmStart = 0L
    var lastOut = ""
    var steady = 0
    while (rep <= 1 || secs(warmStart, now) < seconds || steady < minWarmSamples) {
      val out = s"$workDir/stream_out_$rep"
      val ckpt = s"$workDir/stream_ckpt_$rep"
      val req = s"r$rep"
      val cg0 = codegenCompiles
      val s0 = now
      if (rep == 1) warmStart = s0
      val q = tracer.withSpan("stream_run", 0L, req) { runId =>
        val q = EventStreams.upsertWindowCounts(EventStreams.readEventStream(spark, inDir), out, ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        tracer.streamRun(q.runId.toString, runId, req)
        q.awaitTermination()
        q
      }
      val s1 = now
      org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
      val batches = q.recentProgress.filter(_.numInputRows > 0).map { p =>
        Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_s" -> p.durationMs.get("triggerExecution").longValue / 1000.0)
      }.toSeq
      reps += Map("rep" -> rep, "wall_s" -> secs(s0, s1), "rows" -> batches.map(_("rows").asInstanceOf[Long]).sum,
        "batches" -> batches, "codegen_compiles" -> (codegenCompiles - cg0))
      if (rep >= 1) steady += batches.size - 1
      lastOut = out
      sampleLive()
      rep += 1
    }
    Files.move(Paths.get(lastOut), Paths.get(s"$workDir/stream_last_out"))
    reps.toSeq
  }

  /** Memory the program holds at each pass (or repetition) boundary,
    * in MiB: heap in use after a full GC plus non-heap in use
    * (metaspace, code cache). Sampled outside the timed requests.
    */
  val liveMb = mutable.ArrayBuffer[Double]()

  private def sampleLive(): Unit = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    liveMb += (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Span recorder. Client-side spans (setup, request, build, execute,
  * verify, stream_run) are opened by the driver loop; job spans come
  * from a SparkListener, planning records from a QueryExecutionListener
  * and micro-batch records from a StreamingQueryListener. Everything is
  * kept in memory and written once, at exit. Disabled, every call is a
  * no-op that returns span id 0 and no listener is attached.
  */
final class Tracer(enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[mutable.Map[String, Any]]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Long, mutable.Map[String, Any]]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val runs = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  // wall clock (epoch ns) of System.nanoTime() == 0, so spans and
  // listener event times (epoch ms) share one time axis
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var sc: org.apache.spark.SparkContext = _

  def wallOf(nano: Long): Long = epochOffset + nano

  def span(name: String, parent: Long, req: String, start: Long, end: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      val s = mutable.Map[String, Any]("id" -> id, "name" -> name, "parent" -> parent,
        "req" -> req, "start_ns" -> start, "end_ns" -> end)
      spans.add(s)
      if (end == 0L) open.put(id, s)
      id
    }

  def close(id: Long, end: Long): Unit =
    if (enabled) Option(open.remove(id)).foreach(_("end_ns") = end)

  /** Runs `body` inside a span, passing it the span id; jobs it
    * submits (also from threads it starts) carry the span id.
    */
  def withSpan[T](name: String, parent: Long, req: String)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = span(name, parent, req, wallOf(System.nanoTime()), 0L)
    val prev = (sc.getLocalProperty("perfbench.span"), sc.getLocalProperty("perfbench.req"))
    sc.setLocalProperty("perfbench.span", s"$id")
    sc.setLocalProperty("perfbench.req", req)
    try body(id)
    finally {
      close(id, wallOf(System.nanoTime()))
      sc.setLocalProperty("perfbench.span", prev._1)
      sc.setLocalProperty("perfbench.req", prev._2)
    }
  }

  def streamRun(runId: String, span: Long, req: String): Unit =
    if (enabled) runs.put(runId, (span, req))

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (!enabled) return
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val prop = (k: String) => props.flatMap(p => Option(p.getProperty(k)))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        jobs.put(e.jobId, mutable.Map[String, Any](
          "job" -> e.jobId, "start_ns" -> e.time * 1000000L, "end_ns" -> 0L,
          "parent" -> prop("perfbench.span").map(_.toLong).getOrElse(0L),
          "req" -> prop("perfbench.req").getOrElse(""),
          "sql_execution" -> prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
          "stages" -> 0, "tasks" -> 0, "executor_run_ms" -> 0L, "executor_cpu_ns" -> 0L,
          "gc_ms" -> 0L, "shuffle_write_b" -> 0L, "shuffle_read_b" -> 0L, "spill_b" -> 0L,
          "output_rows" -> 0L, "output_b" -> 0L))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_("end_ns") = e.time * 1000000L)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        job(e.stageInfo.stageId).foreach(j => add(j, "stages", 1))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        job(e.stageId).foreach { j =>
          add(j, "tasks", 1)
          val m = e.taskMetrics
          if (m != null) {
            add(j, "executor_run_ms", m.executorRunTime)
            add(j, "executor_cpu_ns", m.executorCpuTime)
            add(j, "gc_ms", m.jvmGCTime)
            add(j, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
            add(j, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
            add(j, "spill_b", m.diskBytesSpilled)
            add(j, "output_rows", m.outputMetrics.recordsWritten)
            add(j, "output_b", m.outputMetrics.bytesWritten)
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planned(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val state = p.stateOperators
        progress.add(Map(
          "run_id" -> p.runId.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
          "start_ns" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L,
          "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_commit_ms" -> state.map(_.commitTimeMs).sum,
          "state_rows_total" -> state.map(_.numRowsTotal).sum,
          "state_rows_updated" -> state.map(_.numRowsUpdated).sum,
          "state_memory_b" -> state.map(_.memoryUsedBytes).sum))
      }
    })
  }

  /** Records the planning phases and rule counts `qe`'s tracker holds
    * so far. The listener passes each action's QueryExecution; the
    * driver loop passes the built Dataset's, whose analysis ran eagerly
    * inside the build span. Reading the tracker plans nothing.
    */
  def planned(func: String, qe: QueryExecution): Unit =
    if (enabled) {
      val t = qe.tracker
      queries.add(Map(
        "func" -> func, "sql_execution" -> qe.id,
        "phases" -> t.phases.map { case (k, p) =>
          k -> Map("start_ns" -> p.startTimeMs * 1000000L, "end_ns" -> p.endTimeMs * 1000000L)
        },
        "rules_effective" -> t.rules.values.map(_.numEffectiveInvocations).sum,
        "graft_rules_effective" -> t.rules.collect {
          case (k, r) if k.startsWith("graft.plans") => r.numEffectiveInvocations
        }.sum))
    }

  private def job(stage: Int): Option[mutable.Map[String, Any]] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  private def add(m: mutable.Map[String, Any], k: String, v: Long): Unit = m.synchronized {
    m(k) = m(k) match {
      case i: Int => i + v.toInt
      case l: Long => l + v
      case _ => v
    }
  }

  /** Settles the listener bus and writes one JSON object per line:
    * client spans, job spans, planning records and micro-batches.
    */
  def finish(spark: SparkSession, path: String): Unit = {
    if (!enabled) return
    org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
    val lines = mutable.ArrayBuffer[String]()
    spans.asScala.foreach(s => lines += Json.render(Map("kind" -> "span") ++ s))
    jobs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int])
      .foreach(j => lines += Json.render(Map("kind" -> "job", "name" -> "job") ++ j))
    queries.asScala.foreach(q => lines += Json.render(Map("kind" -> "qe") ++ q))
    progress.asScala.foreach { p =>
      val (span, req) = Option(runs.get(p("run_id").toString)).getOrElse((0L, ""))
      lines += Json.render(Map("kind" -> "batch", "name" -> "batch", "parent" -> span, "req" -> req) ++ p)
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
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
    b += '"'
    b.toString
  }
}
