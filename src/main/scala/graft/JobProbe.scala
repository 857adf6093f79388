package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Diagnostic: run named queries twice (cold + warm) and print every
  * Spark job of the WARM run with its wall time and description — the
  * "where do the seconds of a job-count-bound query go" readout that
  * per-query bench totals cannot give. Not registered; tooling only.
  * Run: sbt "runMain graft.JobProbe <query> [query...]"
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class J(id: Int, desc: String, start: Long, var end: Long = 0L,
                 var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // written on this thread, read on the listener-bus thread
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .getOrElse(e.stageInfos.map(_.name.takeWhile(_ != '(')).distinct.mkString("|"))
        jobs.put(e.jobId, J(e.jobId, d, e.time, stages = e.stageIds.size))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ()
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
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      println(f"\n===== $name: cold $cold%.2f s, warm $warm%.2f s, ${js.size} jobs =====")
      var prevEnd = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = j.end
        println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  gap ${gap}%6.3f s  stages=${j.stages}%2d  ${j.desc.take(90)}")
      }
      val jobSum = js.map(j => (j.end - j.start) / 1e3).sum
      println(f"  job wall sum ${jobSum}%.2f s; gaps (driver-only) ${warm - jobSum}%.2f s")
    }
    spark.stop()
  }
}
