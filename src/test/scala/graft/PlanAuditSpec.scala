package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[PlanAudit.unionMs]]: driver-only time is wall minus the union of
  * the job intervals, which must count overlapping AQE jobs once.
  * [[PlanAudit.jobLabel]]: each job is named by the operators it runs.
  */
class PlanAuditSpec extends AnyFunSuite with SparkFixture {

  test("unionMs: disjoint jobs sum; overlapping and nested jobs count once; empty is 0") {
    import PlanAudit.unionMs
    assert(unionMs(Seq((0L, 2L), (5L, 6L), (8L, 10L))) === 5L)
    // AQE submits the next job before the previous one ends
    assert(unionMs(Seq((3L, 7L), (0L, 4L), (6L, 9L))) === 9L)
    assert(unionMs(Seq((1L, 9L), (2L, 3L), (4L, 8L), (5L, 6L))) === 8L)
    assert(unionMs(Seq.empty) === 0L)
    assert(unionMs(Seq((3L, 3L), (5L, 4L))) === 0L)
  }

  test("jobLabel names AQE's query-stage jobs by their operators, not their call site") {
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = labels.add(PlanAudit.jobLabel(e))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // the shuffle map stage runs as its own job, submitted from AQE's thread
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .write.mode("overwrite").format("noop").save()
      assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val ls = labels.asScala.toSeq
    assert(ls.size >= 2, ls)
    assert(ls.forall(l => l.nonEmpty && !l.contains(".java:")), ls)
    assert(ls.exists(_.contains("Exchange")), ls)
  }
}
