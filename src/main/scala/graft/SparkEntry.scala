package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Relational

/** Driver contract — see SURVEY.md §7: the registered queries and their
  * DuckDB oracle SQL, both read off [[Registry]]. Keys with an
  * [[oracleSql]] entry are hash-compared against DuckDB on the same
  * parquet tables at sf0.01; keys without one (the sketches) get a
  * rows-only check plus ScalaTest coverage.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.taskAFilterProject(spark, "/root/testdata/sf0.001")

  /** Query name → builder, one entry per [[QuerySpec]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.specs.map(s => s.name -> s.build).toMap

  /** Query name → DuckDB SQL, for every spec that has an oracle. */
  def oracleSql: Map[String, String] =
    Registry.specs.flatMap(s => s.oracle.map(text => s.name -> text())).toMap
}
