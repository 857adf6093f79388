package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line. Failures are loud:
  * a throwing query lands in the `failed` list (and is excluded from
  * `queries`/`value`) instead of being silently recorded as a timing.
  * Optional args name a subset to time (iteration loop:
  * `sbt "runMain graft.Bench copurchase_pairs corpus_curate"`).
  */
object Bench {

  /** `SPARK_GRAFT_CPUS` when set, else every core (as perfbench runs). */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session definition of every main and the test fixture.
    * Engine confs always apply; the local sizing only when no launcher
    * (spark-submit) has set `spark.master`. perfbench/run.py parses this
    * chain's text, so each conf stays a literal `.config(key, value)`.
    */
  def builder(cpus: Int): SparkSession.Builder = {
    val engine = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      // defensive: lets a nanos-encoded events regeneration scan as
      // LongType; Tables.normalizeTs dispatches on whatever arrives
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // let AQE coalesce shuffle partitions UNDER cached plans too
      // (off by default): the iterative families persist their edge/
      // label tables, and without this every fixpoint round runs
      // full-width 32-partition exchanges over batch-sized data —
      // measured ~25% off the components merge-fold rounds at sf0.1
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Codegen class cache sized for the whole registry (default 100
      // entries): a 284-query sweep generates ~10k codegen sources, so
      // at the default size every query's classes are EVICTED between
      // its sweep-1 and sweep-2 runs and each timed run re-pays its
      // Janino compilation — measured 2.1s for minhash_error_profile
      // against a 1.25s steady-state wall, which is exactly the
      // "codegen oscillation" class (same code, bytes unmoved, wall
      // flipping 1.25↔3.2s across records: the flip was the eviction
      // state, r19 pin via PlanAudit --exec's compile readout). With the
      // registry's classes resident, the recorded min measures the
      // query, not the compiler — the steady-state figure a deployment
      // re-running a pipeline sees.
      .config("spark.sql.codegen.cache.maxEntries", "20000")
    if (sys.props.contains("spark.master")) engine
    else engine
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
  }

  /** [[builder]]'s session, logging at WARN. */
  def session(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per rule name, (time ns, runs, effective runs) so far in Spark's
    * JVM-wide rule metering, parsed from `RuleExecutor.dumpTimeSpent`,
    * its one public per-rule reader.
    */
  def ruleMetering(): Map[String, (Long, Long, Long)] = {
    val row = """(\S+)\s+\d+ / (\d+)\s+(\d+) / (\d+)""".r
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator
      .map(_.trim).collect { case row(rule, ns, eff, runs) =>
        rule -> ((ns.toLong, runs.toLong, eff.toLong))
      }.toMap
  }

  /** Optimizer ms per `graft.plans` rule that changed a plan between
    * two [[ruleMetering]] readings, keyed by the rule's simple name.
    */
  private def graftRuleMs(before: Map[String, (Long, Long, Long)],
                          after: Map[String, (Long, Long, Long)]): Map[String, Double] =
    after.collect {
      case (rule, (ns, _, eff)) if rule.startsWith("graft.plans.") &&
          eff > before.get(rule).fold(0L)(_._3) =>
        rule.stripPrefix("graft.plans.") -> (ns - before.get(rule).fold(0L)(_._1)) / 1e6
    }

  /** PIDs of java processes that are neither this JVM, its ancestors
    * (the sbt launcher), nor its descendants — i.e. a co-resident
    * Verify/test JVM whose compile or GC activity would contaminate
    * wall-clock timings on this shared box.
    */
  private def foreignJvms(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    import scala.jdk.OptionConverters._
    val self = ProcessHandle.current()
    val family = scala.collection.mutable.Set(self.pid)
    Iterator.iterate(self.parent.toScala)(_.flatMap(_.parent.toScala))
      .takeWhile(_.isDefined).flatten.foreach(p => family += p.pid)
    self.descendants().iterator().asScala.foreach(p => family += p.pid)
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.info.command.toScala.exists(_.endsWith("java")))
      .map(_.pid).filterNot(family).toSeq
  }

  /** One host-CPU sample for ambient-drift accounting, in jiffies:
    * (busy, steal, self). `busy` sums user+nice+system+irq+softirq+
    * steal over all cpus from /proc/stat; `self` is THIS JVM's
    * utime+stime from /proc/self/stat (every Spark local[n] thread is
    * in-process, so self covers the bench's entire own load). The
    * foreign CPU spent inside a window is Δbusy − Δself — work done
    * by anything that is not this bench (sibling JVMs, host services,
    * and, via the steal column, the hypervisor) — which is exactly
    * the signal `foreignJvms()` cannot see: loadavg includes our own
    * saturating sweeps, but Δbusy−Δself is self-load-immune. (-1, 0,
    * 0) when /proc is unreadable (non-Linux), disabling the stamps.
    */
  private def procCpuSample(): (Long, Long, Long) =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+")
      val n = (i: Int) => if (i < cpu.length) cpu(i).toLong else 0L
      val steal = n(8)
      val busy = n(1) + n(2) + n(3) + n(6) + n(7) + steal
      val self = {
        val s = scala.io.Source.fromFile("/proc/self/stat").mkString
        // comm can contain spaces — parse after the closing paren;
        // utime/stime are fields 14/15 (1-based), i.e. 11/12 past state
        val post = s.substring(s.lastIndexOf(')') + 2).split(" ")
        post(11).toLong + post(12).toLong
      }
      (busy, steal, self)
    } catch { case _: Throwable => (-1L, 0L, 0L) }

  /** Jiffies per second — the kernel's USER_HZ, fixed at 100 on Linux
    * (the value /proc/stat and /proc/<pid>/stat report in).
    */
  private val Hz = 100.0

  def main(args: Array[String]): Unit = {
    // --stream-only: run ONLY the streaming-throughput harness in this
    // fresh JVM — the isolation protocol for adjudicating throughput
    // movers (a full bench runs it after ~265 queries of JIT/code-cache
    // history; this mode measures the same min-of-2 figure cold).
    val streamOnly = args.contains("--stream-only")
    val queryArgs = args.filterNot(_ == "--stream-only")
    val unknown = queryArgs.filterNot(q => Registry.specs.exists(_.name == q))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // Single-JVM bench hygiene: a mid-drain sibling JVM (a just-launched
    // Verify, a test suite finishing up) inflates timings 2-7x and has
    // produced false per-query regressions three rounds running. Wait
    // for any foreign JVM to exit before timing; if one outlives the
    // wait, proceed but stamp the output JSON as contended so the
    // reader discounts this run instead of adjudicating it.
    var contended = foreignJvms()
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (contended.nonEmpty && System.nanoTime() < deadline) {
      System.err.println(
        s"[bench] waiting for foreign JVM(s) ${contended.mkString(",")} to drain")
      Thread.sleep(5000)
      contended = foreignJvms()
    }
    if (contended.nonEmpty)
      System.err.println(s"[bench] CONTENDED: JVM(s) ${contended.mkString(",")} " +
        "still running — timings in this output are not trend-comparable")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = envCpus
    val spark = session(cpus)

    // Warm the session once (FS/committer init, first codegen, executor
    // spin-up) so per-query timings measure the query, not JVM startup —
    // the first query otherwise absorbs ~4s of one-time cost.
    try Tables.lineitem(spark, sfDir).limit(1000)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    // Per-query shuffle volume: wall time at sf0.1 cannot see an
    // exchange that grows superlinearly with scale; bytes can. One
    // task-metrics listener accumulates shuffle WRITE bytes (each byte
    // shuffled is written exactly once; reads double-count retries),
    // and each timed run records its delta — after draining the async
    // listener bus so a straggler's bytes never land on the next query.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val shuffles = scala.collection.mutable.LinkedHashMap[String, Long]()
    val failed = scala.collection.mutable.ListBuffer[String]()
    // Per-query ambient stamps: the foreign-CPU share (Δbusy − Δself
    // over the window's wall × cpus capacity) of the run whose timing
    // is RECORDED (the min run), plus run-total foreign/steal seconds.
    // This machine-stamps host-pressure windows per query instead of
    // leaving drift adjudication to next round's hand analysis — the
    // r18 close burned a judge cycle on exactly that.
    // Host capacity for the share denominator: count the cpuN lines in
    // /proc/stat (the host the busy jiffies are summed OVER), not
    // availableProcessors — under a cpuset/quota container the JVM's
    // processor count undercounts host CPUs and would inflate every
    // foreign-CPU share past the 10% flag threshold.
    val nCpus =
      try scala.io.Source.fromFile("/proc/stat").getLines()
        .count(_.matches("cpu\\d+ .*")) max 1
      catch { case _: Throwable => Runtime.getRuntime.availableProcessors() }
    val ambientShare = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Per-query optimizer ms of each graft.plans rule that fired in the
    // recorded run: a delta of Spark's rule metering, read outside the
    // timed window
    val ruleMs = scala.collection.mutable.LinkedHashMap[String, Map[String, Double]]()
    var foreignJiffies = 0L
    var stealJiffies = 0L
    // Min of repeated timed runs per query: a one-shot measurement is
    // dominated by JIT/whole-stage-codegen compilation of that query's
    // generated methods (measured: same query swings 2-10x run to run
    // while GC totals ~0.7s and host CPU is stable); the min is the
    // steady-state figure a real deployment sees. Queries still over 1s
    // after two runs get a third: in a ~100-query session those are the
    // ones exposed to cross-query JIT/code-cache pressure (measured:
    // copurchase_pairs 8.7s mid-session vs a stable 1.6s isolated).
    val selected =
      if (streamOnly) Seq.empty
      else Registry.specs.filter(s => queryArgs.isEmpty || queryArgs.contains(s.name))
        .map(s => s.name -> s.build)
    // returns (wall sec, foreign-CPU share of the window, graft rule
    // ms): share = (Δbusy − Δself) / (wall · Hz · cpus) — 0 when /proc
    // is absent
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Map[String, Double]) = {
      org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
      val rules0 = ruleMetering()
      val s0 = shuffleBytes.get
      val (b0, st0, self0) = procCpuSample()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val (b1, st1, self1) = procCpuSample()
      val rules = graftRuleMs(rules0, ruleMetering())
      org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
      // bytes are deterministic run to run (unlike wall time) — the
      // last run's delta is the recorded figure
      shuffles(name) = shuffleBytes.get - s0
      // drop the query's persisted sketch tables so the repeat run
      // (and later queries) start cold and dead caches don't pile up
      spark.catalog.clearCache()
      val share =
        if (b0 < 0 || b1 < 0 || dt <= 0) 0.0
        else {
          val foreign = math.max(0L, (b1 - b0) - (self1 - self0))
          foreignJiffies += foreign
          stealJiffies += math.max(0L, st1 - st0)
          foreign / (dt * Hz * nCpus)
        }
      (dt, share, rules)
    }
    // Two FULL sweeps rather than same-query back-to-back repeats: by
    // the time the recorded second sweep starts, every family's
    // generated code is JIT-compiled, so no query pays a compile hiccup
    // that its immediate repeat (still inside the hiccup) would also
    // absorb. Back-to-back min-of-2 left 2-4 movers per bench pair from
    // exactly that class; two sweeps is the same total work, ordered so
    // sweep 2 measures a uniformly warm JVM.
    val sweep1 = scala.collection.mutable.Map[String, (Double, Double, Map[String, Double])]()
    selected.sortBy(_._1).foreach { case (name, fn) =>
      try sweep1(name) = timed(name, fn)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed += name
          spark.catalog.clearCache()
      }
    }
    selected.sortBy(_._1).filterNot(kv => failed.contains(kv._1))
      .foreach { case (name, fn) =>
        try {
          val a = sweep1(name); val b = timed(name, fn)
          var best = if (a._1 <= b._1) a else b
          // Third run when the sweeps disagree >1.5x (a hiccup landed
          // in one) or the min is still over 1s (the cross-query-
          // pressure class) — the min of three is the steady-state
          // figure.
          if (best._1 > 1.0 || math.max(a._1, b._1) > 1.5 * best._1) {
            val c = timed(name, fn)
            if (c._1 < best._1) best = c
          }
          timings(name) = best._1
          // the ambient stamp that matters is the one on the RECORDED
          // (min) run — a clean min makes slower contaminated runs moot
          ambientShare(name) = best._2
          if (best._3.nonEmpty) ruleMs(name) = best._3
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed += name
            spark.catalog.clearCache()
        }
      }
    // Streaming throughput (full runs only): drive the windowed-count
    // pipeline through the REAL file source — multi-file input,
    // maxFilesPerTrigger-bounded micro-batches, AvailableNow trigger,
    // checkpointed — and record end-to-end rows/s. This is the
    // true-trigger evidence the batch-replay oracle can't give:
    // micro-batch scheduling, state-store commits, and checkpoint I/O
    // are all on the measured path.
    // Full runs DELEGATE the measurement to a fresh `--stream-only`
    // child JVM (same classpath, same JVM flags, same env): after ~283
    // queries of JIT/code-cache/GC history the in-JVM reading has
    // sampled anywhere from 6.5k to 26k rows/s on identical code, and
    // three rounds of BENCH_DIFF adjudication re-derived the isolated
    // figure by hand each time — so record the isolated figure
    // directly. The in-JVM path remains as the fallback (and IS the
    // measurement when this process already runs --stream-only).
    def isolatedStreamJson(): String = {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths
        .get(System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench", "--stream-only")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      // child stderr → parent stderr (progress visible, no pipe to drain)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
      val rc = p.waitFor()
      if (rc != 0) ""
      else {
        // Parse the child's compact summary LINE as JSON (it is printed
        // last for exactly this purpose) instead of regex-scraping the
        // whole stream: a regex truncated the object at its first '}'
        // if it ever gained a nested field, and a whole-stdout
        // substring check for "contended":true could mis-stamp the
        // reading off an incidental occurrence. The record's own
        // fields are the only evidence consulted.
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val rec = out.linesIterator.map(_.trim)
          .filter(l => l.startsWith("{") && l.endsWith("}"))
          .flatMap(l =>
            try Option(om.readTree(l)).filter(_.has("stream_throughput"))
            catch { case _: Throwable => None })
          .toSeq.lastOption
        rec.fold("") { n =>
          val st = n.get("stream_throughput")
            .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          st.put("isolated", true)
          // the child saw a foreign JVM (its own pre-run wait expired
          // or a sibling appeared mid-run): carry the stamp INTO the
          // recorded object so the reading is discounted, not silently
          // trusted — the exact unstamped-contamination class the
          // isolation protocol exists to kill
          if (n.path("contended").asBoolean(false)) st.put("contended", true)
          ",\"stream_throughput\":" + om.writeValueAsString(st)
        }
      }
    }
    def inJvmStreamJson(): String =
      try {
        val tmpIn = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
        // fan the events table out to many files so the 16-files-per-
        // trigger option yields several micro-batches, not one big one
        spark.read.parquet(s"$sfDir/events.parquet")
          .repartition(64).write.mode("overwrite").parquet(s"$tmpIn/events.parquet")
        // Min-of-2 like the query timings (fresh checkpoint each run so
        // both drive the full micro-batch sequence): run 1 pays the
        // streaming codegen + state-store provider init, run 2 is the
        // steady-state rows/s a long-lived deployment sees.
        val (rows, batches, sec) = (1 to 2).map { _ =>
          val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
          val t0 = System.nanoTime()
          val q = graft.streaming.EventStreams
            .windowedCounts(graft.streaming.EventStreams.readEventStream(spark, tmpIn))
            .writeStream.outputMode("update").format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val sec = (System.nanoTime() - t0) / 1e9
          val rows = q.recentProgress.map(_.numInputRows).sum
          val batches = q.recentProgress.count(_.numInputRows > 0)
          // per-run contention sample: a short-lived sibling JVM that
          // starts and exits inside the stream harness evades both the
          // pre-bench wait and the post-bench re-sample (the r14 close
          // record's 2x throughput dip was exactly this unstamped class)
          if (contended.isEmpty) contended = foreignJvms()
          (rows, batches, sec)
        }.minBy(_._3)
        f""","stream_throughput":{"query":"stream_window_counts","rows":$rows,"micro_batches":$batches,"sec":$sec%.3f,"rows_per_sec":${rows / sec}%.0f}"""
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] stream_throughput FAILED: ${e.getMessage}")
          ""
      }
    val streamJson: String =
      if (queryArgs.nonEmpty) ""
      else if (streamOnly) inJvmStreamJson()
      else {
        val iso =
          try isolatedStreamJson()
          catch { case e: Throwable =>
            System.err.println(s"[bench] isolated stream harness FAILED: ${e.getMessage}")
            ""
          }
        if (iso.nonEmpty) iso
        else {
          // the in-JVM reading rides ~284 queries of JIT/code-cache
          // history — stamp the fallback so a contaminated figure is
          // never mistaken for the isolated one in BENCH_DIFF
          val f = inJvmStreamJson()
          if (f.isEmpty) ""
          else f.replaceFirst("""\"stream_throughput\":\{""",
            "\"stream_throughput\":{\"isolated\":false,\"fallback\":true,")
        }
      }

    val qs = timings.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val sh = timings.keys
      .map(k => "\"" + k + f"""\":${shuffles.getOrElse(k, 0L) / 1048576.0}%.2f""")
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rm = ruleMs.map { case (q, rules) =>
      "\"" + q + "\":" + rules.toSeq.sorted
        .map { case (r, ms) => "\"" + r + "\":" + f"$ms%.1f" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val total = timings.values.sum
    // Re-sample the foreign-JVM check AFTER the sweeps: a Verify/test
    // JVM that started mid-bench contaminates timings exactly like one
    // present at launch, and the pre-bench check alone cannot see it.
    if (contended.isEmpty) contended = foreignJvms()
    val cont = if (contended.nonEmpty) ""","contended":true""" else ""
    // Machine-stamped ambient record: total foreign-CPU and steal
    // seconds observed across every timed window, plus the per-query
    // stamps whose RECORDED (min) run had >10% of the host's capacity
    // going to non-bench work — the positional-window evidence
    // BENCH_DIFF's adjudication reads instead of re-deriving drift by
    // hand each round.
    val ambientJson =
      if (procCpuSample()._1 < 0 || timings.isEmpty) ""
      else {
        val flagged = ambientShare.filter(_._2 > 0.10)
          .map { case (k, v) => "\"" + k + f"""\":$v%.2f""" }
          .mkString("{", ",", "}")
        f""","ambient":{"cpus":$nCpus,"foreign_cpu_sec":${foreignJiffies / Hz}%.1f,"steal_sec":${stealJiffies / Hz}%.1f,"flagged":$flagged}"""
      }
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"shuffle_mb":$sh,"graft_rule_ms":$rm,"failed":$fs,"sf":"$sfDir"$cont$ambientJson$streamJson}"""
    println(json)
    // The full line above is the contract record (and lands verbatim in
    // BENCH_LAST.json), but at 274 queries it runs ~8 KB — longer than
    // the 2000-char stdout tail the round harness keeps, so its head is
    // truncated out of every BENCH_r{N}.json and `parsed` comes back
    // null. Print a compact summary line LAST (only the sbt epilogue
    // follows it): short enough to survive the tail window whole, so a
    // line-wise JSON scan of the tail parses it.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${timings.size},"n_failed":${failed.size},"ambient_flagged":${ambientShare.count(_._2 > 0.10)},"sf":"$sfDir"$cont$streamJson}""")
    // Robust copy for parsers that can't read sbt-prefixed stdout.
    // FULL runs only: a single-query or --stream-only invocation must
    // not clobber the committed full-bench record (the restore-from-log
    // trap of rounds past).
    if (args.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LAST.json"), json)
    spark.stop()
  }
}
