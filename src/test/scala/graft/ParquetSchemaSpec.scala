package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, GraftGlue}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Opening a table reads its schema from a parquet footer on the driver
  * ([[Tables.parquet]]) instead of running Spark's schema-inference job.
  * The schema must be exactly the one `spark.read.parquet` infers, for
  * Spark-written tables (schema stored under Spark's footer metadata
  * key) and for other writers (schema converted from the parquet types),
  * and opening must submit no job.
  */
class ParquetSchemaSpec extends AnyFunSuite with SparkFixture {

  /** The sf0.01 testdata tables, written by a non-Spark parquet writer;
    * byte-identical copies of them ship with the benchmark.
    */
  private val foreignDir = "perfbench/testdata/sf0.01"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The footer holds the data columns; partition columns come from the
    * directory names, which the reader still discovers.
    */
  private def assertSparkSchema(path: String, partitionCols: Set[String] = Set.empty): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(GraftGlue.parquetFooterSchema(spark, path) ===
      Some(StructType(inferred.filterNot(f => partitionCols(f.name)))), path)
    assert(Tables.parquet(spark, path).schema === inferred, path)
  }

  test("footer schema equals Spark's inferred schema on every fixture and testdata table") {
    val dirs = Seq(fixtureDir, foreignDir)
    for (nanosAsLong <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong) {
        for (dir <- dirs; t <- Sql.tableNames) assertSparkSchema(s"$dir/$t.parquet")
      }
  }

  test("footer schema equals Spark's on multi-file and partitioned nested tables") {
    import spark.implicits._
    val dir = scratchDir("graft-footer")
    val ntz = java.time.LocalDateTime.of(2024, 1, 1, 12, 30)
    val rows = (0 until 40).map { i =>
      (i.toLong, (s"n$i", Seq(i, i + 1)), Map(s"k$i" -> i.toDouble),
        BigDecimal(i) / 7, ntz.plusHours(i), i % 3)
    }
    val df = rows.toDF("id", "nested", "tags", "amount", "at_ntz", "bucket")
      .withColumn("amount", $"amount".cast("decimal(12,4)"))
    df.repartition(4).write.parquet(s"$dir/multi")
    df.write.partitionBy("bucket").parquet(s"$dir/partitioned")
    assert(new java.io.File(s"$dir/multi").list().count(_.endsWith(".parquet")) > 1)
    for ((p, partitionCols) <- Seq(s"$dir/multi" -> Set.empty[String],
        s"$dir/partitioned" -> Set("bucket"))) {
      assertSparkSchema(p, partitionCols)
      assert(Tables.parquet(spark, p).collect().toSet ===
        spark.read.parquet(p).collect().toSet, p)
    }
  }

  test("with mergeSchema on, every footer is merged as Spark merges them") {
    import spark.implicits._
    val dir = scratchDir("graft-footer-merge")
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/t/gen=1")
    Seq((2L, "b", 0.5)).toDF("doc_id", "text", "quality").write.parquet(s"$dir/t/gen=2")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val merged = spark.read.parquet(s"$dir/t").schema
      assert(merged.fieldNames.contains("quality"))
      assert(Tables.parquet(spark, s"$dir/t").schema === merged)
    }
  }

  test("Tables.table and Sql.registerAll submit no Spark job") {
    val dir = fixtureDir
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftSparkGlue.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      Sql.tableNames.foreach(t => Tables.table(spark, dir, t).schema)
      Sql.registerAll(spark, dir)
      Tables.parquet(spark, s"$foreignDir/lineitem.parquet")
      assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc))
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0)
  }

  test("a missing path raises the same AnalysisException as spark.read.parquet") {
    val missing = s"${scratchDir("graft-footer-missing")}/absent.parquet"
    val expected = intercept[AnalysisException](spark.read.parquet(missing))
    val got = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(expected.getCondition === "PATH_NOT_FOUND")
    assert(got.getCondition === expected.getCondition)
  }
}
