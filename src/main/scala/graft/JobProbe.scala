package graft

import org.apache.spark.scheduler._

/** Diagnostic: run named queries twice (cold + warm) and print every
  * Spark job of the WARM run with its wall time and description — the
  * "where do the seconds of a job-count-bound query go" readout that
  * per-query bench totals cannot give. Not registered; tooling only.
  * Run: sbt "runMain graft.JobProbe <query> [query...]"
  */
object JobProbe {

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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session(Bench.envCpus)

    case class J(id: Int, desc: String, start: Long, stages: Int, var end: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // written on this thread, read on the listener-bus thread
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .getOrElse(e.stageInfos.map(_.name.takeWhile(_ != '(')).distinct.mkString("|"))
        jobs.put(e.jobId, J(e.jobId, d, e.time, e.stageIds.size))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // cold run pays standing-table builds + codegen; second run warms
      // the codegen cache fully — the recorded third run is the bench's
      // steady-state min-of-3 shape
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val cold = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
      jobs.clear(); record = true
      val t1 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val warm = (System.nanoTime() - t1) / 1e9
      org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
      record = false
      spark.catalog.clearCache()
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(j => (j.start, j.id))
      println(f"\n===== $name: cold $cold%.2f s, warm $warm%.2f s, ${js.size} jobs =====")
      // AQE jobs overlap: each gap runs from the latest end seen so far
      var latestEnd = js.headOption.fold(0L)(_.start)
      js.foreach { j =>
        val gap = (j.start - latestEnd).max(0L) / 1e3
        latestEnd = latestEnd.max(j.end)
        println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  gap ${gap}%6.3f s  stages=${j.stages}%2d  ${j.desc.take(90)}")
      }
      val union = unionMs(js.map(j => (j.start, j.end))) / 1e3
      println(f"  job interval union ${union}%.2f s; driver-only ${warm - union}%.2f s")
    }
    spark.stop()
  }
}
