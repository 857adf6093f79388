package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cli.TaskRunner

/** The spark-submit CLI surface: reference task names resolve, output
  * lands as Hadoop-shaped part-* files, and the rows match the
  * registered query bit-for-bit.
  */
class CliSpec extends AnyFunSuite with SparkFixture {

  test("every reference task alias resolves to a registered query") {
    for (spec <- Registry.specs; task <- spec.alias)
      assert(TaskRunner.resolve(task) === Some(spec.name))
    assert(Registry.specs.flatMap(_.alias).size === 10)
    // registry names pass through verbatim; junk is rejected
    assert(TaskRunner.resolve("dedup_exact") === Some("dedup_exact"))
    assert(TaskRunner.resolve("TaskZ") === None)
  }

  test("TaskC via the CLI writes tab-separated part files matching the query") {
    val out = scratchDir("graft-cli")
    TaskRunner.main(Array("TaskC", fixtureDir, out))
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty, "no Hadoop-shaped part-* output")
    val got = spark.read.option("sep", "\t").csv(out)
      .collect().map(r => (r.getString(0), r.getString(1).toLong)).toSet
    val want = graft.operators.Relational.taskCGroupCount(spark, fixtureDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("parquet format round-trips typed") {
    val out = scratchDir("graft-cli-pq")
    TaskRunner.main(Array("wordcount", fixtureDir, out, "--format=parquet"))
    val got = spark.read.parquet(out)
    assert(got.schema.fieldNames.toSeq === Seq("word", "cnt"))
    assert(got.count() > 0)
  }

  test("unknown task fails loud with usage") {
    val e = intercept[IllegalArgumentException] {
      TaskRunner.main(Array("TaskZ", fixtureDir, "/tmp/nope"))
    }
    assert(e.getMessage.contains("unknown task"))
    assert(e.getMessage.contains("usage:"))
  }
}
