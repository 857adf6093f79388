package graft

import org.apache.spark.scheduler._

/** Prints formatted physical plans for every registered query — the
  * "is this the plan you'd want at 100 TB" review loop.
  * Run: sbt "runMain graft.PlanAudit [--exec] [queryName...]"
  *
  * With `--exec`, each named query is additionally RUN to a noop sink
  * three times (cold, warm, recorded warm) and followed by:
  *  - every Spark job of the recorded run with its wall time, the gap
  *    before it and its label (the operators its stages run, read off
  *    their RDD operation scopes), then the union of the job
  *    intervals and the driver-only time (wall minus that union) — the
  *    "where do the seconds of a job-count-bound query go" readout that
  *    per-query bench totals cannot give;
  *  - its final adaptive plan (AQE's runtime broadcast conversions and
  *    coalesced exchanges only exist after an action);
  *  - the session's codegen health counters — max generated-method
  *    bytecode size against the JVM's 8000-byte JIT HugeMethodLimit,
  *    and the total Janino compile time a cold run pays. The
  *    compile-time readout is what pinned the r19
  *    `minhash_error_profile` bench oscillation: ~2.1s of
  *    generated-source compilation re-paid inside timed runs whenever
  *    the codegen class cache had evicted the query's stages (see
  *    Bench's cache sizing).
  */
object PlanAudit {

  /** Length of the union of `(start, end)` intervals: the time spent
    * inside at least one job, counting overlapping and nested jobs once.
    */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var coveredTo = Long.MinValue
    intervals.sortBy(_._1).foreach { case (start, end) =>
      val from = start.max(coveredTo)
      if (end > from) { total += end - from; coveredTo = end }
    }
    total
  }

  /** The operation scope names of a job's stages, its final stage
    * first (a job also lists the parent stages it may skip). AQE
    * submits its query-stage jobs from its own thread, so their call
    * site is a `CompletableFuture` frame; the scopes name the operators
    * the job runs.
    */
  def jobScopes(e: SparkListenerJobStart): Seq[String] =
    e.stageInfos.sortBy(-_.stageId).flatMap(org.apache.spark.GraftSparkGlue.scopeNames).distinct

  /** A job's label: its scope names, else its description, else the
    * call sites of its stages.
    */
  def jobLabel(e: SparkListenerJobStart): String = {
    val scopes = jobScopes(e)
    if (scopes.nonEmpty) scopes.mkString("|")
    else Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.nonEmpty)
      .getOrElse(e.stageInfos.map(_.name.takeWhile(_ != '(')).distinct.mkString("|"))
  }

  private case class Job(id: Int, label: String, start: Long, stages: Int, var end: Long = 0L)

  def main(args: Array[String]): Unit = {
    val exec = args.contains("--exec")
    val queryArgs = args.filterNot(_ == "--exec")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.session(Bench.envCpus)
    val names = if (queryArgs.nonEmpty) queryArgs.toSeq
      else SparkEntry.queries.keys.toSeq.sorted

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    // written on this thread, read on the listener-bus thread
    @volatile var record = false
    if (exec) spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record)
        jobs.put(e.jobId, Job(e.jobId, jobLabel(e), e.time, e.stageIds.size))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    })
    def drain(): Unit = org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)

    names.foreach { name =>
      println(s"\n===================== $name =====================")
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).explain("formatted")
      if (exec) {
        // the cold run pays standing-table builds + codegen; the second
        // run warms the codegen cache fully — the recorded third run is
        // the bench's steady-state min-of-3 shape
        def run(): (org.apache.spark.sql.DataFrame, Double) = {
          val df = fn(spark, sfDir)
          val t0 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          val sec = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          (df, sec)
        }
        val (_, cold) = run()
        run()
        drain()
        jobs.clear(); record = true
        val (df, warm) = run()
        drain()
        record = false

        import scala.jdk.CollectionConverters._
        val js = jobs.values.asScala.toSeq.sortBy(j => (j.start, j.id))
        println(f"----- $name: cold $cold%.2f s, warm $warm%.2f s, ${js.size} jobs -----")
        // AQE jobs overlap: each gap runs from the latest end seen so far
        var latestEnd = js.headOption.fold(0L)(_.start)
        js.foreach { j =>
          val gap = (j.start - latestEnd).max(0L) / 1e3
          latestEnd = latestEnd.max(j.end)
          println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  gap ${gap}%6.3f s  stages=${j.stages}%2d  ${j.label.take(90)}")
        }
        val union = unionMs(js.map(j => (j.start, j.end))) / 1e3
        println(f"  job interval union ${union}%.2f s; driver-only ${warm - union}%.2f s")

        println(s"----- $name: final adaptive plan -----")
        println(df.queryExecution.executedPlan.toString)
        val m = org.apache.spark.metrics.source.CodegenMetrics
        val h = m.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot
        val src = m.METRIC_SOURCE_CODE_SIZE.getSnapshot
        val ct = m.METRIC_COMPILATION_TIME.getSnapshot.getValues
        println(f"----- $name: codegen (session-cumulative) -----")
        println(f"methods: max bytecode ${h.getMax}%d B, p99 ${h.getValue(0.99)}%.0f B " +
          f"(JIT HugeMethodLimit = 8000 B); sources: n=${src.size}%d, " +
          f"total ≈ ${src.getValues.sum}%d B; Janino compile ${ct.sum}%d ms")
      }
    }
    spark.stop()
  }
}
