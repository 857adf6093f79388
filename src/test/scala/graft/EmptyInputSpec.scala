package graft

import org.scalatest.funsuite.AnyFunSuite

/** Zero-row robustness gate: every registered BATCH query must execute
  * (not necessarily return rows) against a dataset whose ten tables all
  * have the production schema and zero rows — the day-one / empty-ingest
  * / over-filtered-partition shape a production pipeline hits
  * constantly. Catches null-scalar propagation (max/avg over nothing),
  * empty-array reducers, and first-batch index builds that assume a
  * non-empty corpus.
  *
  * Streaming queries ([[QuerySpec]] `streaming`) are excluded: their
  * multi-batch file-source lifecycle needs at least one input file per
  * micro-batch plan and has its own dedicated specs.
  */
class EmptyInputSpec extends AnyFunSuite with SparkFixture {

  lazy val emptyDir: String = {
    val dir = scratchDir("graft-empty")
    // limit(0) copies keep each table's real scanned schema, so the
    // ts-encoding dispatch and column pruning behave exactly as on data
    Sql.tableNames.foreach { t =>
      spark.read.parquet(s"$fixtureDir/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every batch query tolerates zero-row inputs") {
    val failures = Registry.specs.sortBy(_.name).filterNot(_.streaming)
      .flatMap { spec =>
        try {
          spec.build(spark, emptyDir).collect()
          spark.catalog.clearCache()
          None
        } catch {
          case e: Throwable =>
            spark.catalog.clearCache()
            Some(s"${spec.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
        }
      }
    assert(failures.isEmpty,
      s"\n${failures.size} queries fail on empty input:\n${failures.mkString("\n")}")
  }
}
