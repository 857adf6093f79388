package graft

/** Prints formatted physical plans for every registered query — the
  * "is this the plan you'd want at 100 TB" review loop.
  * Run: sbt "runMain graft.PlanAudit [queryName...]"
  *
  * With `--exec`, each named query is additionally RUN to a noop sink
  * and followed by its final adaptive plan (AQE's runtime broadcast
  * conversions and coalesced exchanges only exist after an action)
  * plus the session's codegen health counters — max generated-method
  * bytecode size against the JVM's 8000-byte JIT HugeMethodLimit, and
  * the total Janino compile time a cold run pays. The compile-time
  * readout is what pinned the r19 `minhash_error_profile` bench
  * oscillation: ~2.1s of generated-source compilation re-paid inside
  * timed runs whenever the codegen class cache had evicted the
  * query's stages (see Bench's cache sizing).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val exec = args.contains("--exec")
    val queryArgs = args.filterNot(_ == "--exec")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Bench.session(Bench.envCpus)
    val names = if (queryArgs.nonEmpty) queryArgs.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===================== $name =====================")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      if (exec) {
        df.write.mode("overwrite").format("noop").save()
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
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
