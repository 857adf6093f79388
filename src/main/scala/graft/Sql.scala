package graft

import org.apache.spark.sql.{DataFrame, GraftGlue, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Pure-SQL surface: register testdata tables as temp views, so the
  * whole engine is usable from `spark.sql(...)` alone — the interface a
  * reference user migrating hand-written jobs to SQL would reach for.
  * [[registerAll]] registers every table; [[query]] only the tables one
  * statement reads. The graft native functions and optimizer rules come
  * from the session's extension ([[GraftExtensions]], installed by
  * [[Bench.builder]]), the only installer; nothing here adds them.
  */
object Sql {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def register(spark: SparkSession, dir: String, t: String): Unit = t match {
    case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
    case _        => Tables.table(spark, dir, t).createOrReplaceTempView(t)
  }

  /** Create/replace temp views over `dir`. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(register(spark, dir, _))

  /** `spark.sql(statement)` after registering only the testdata tables
    * the statement names (every open reads a parquet footer and
    * resolves a data source on the driver). A table counts as named
    * when a single-part relation name of the parsed statement, in any
    * subquery or CTE body, equals it case-insensitively; a CTE that
    * shadows a table name registers that table needlessly but harmlessly.
    */
  def query(spark: SparkSession, dir: String, statement: String): DataFrame = {
    val named = relationNames(GraftGlue.parsePlan(spark, statement)).map(_.toLowerCase).toSet
    tableNames.filter(named).foreach(register(spark, dir, _))
    spark.sql(statement)
  }

  /** Single-part relation names anywhere in a parsed plan: its
    * children, CTE definitions (inner children) and expression
    * subqueries.
    */
  private def relationNames(plan: LogicalPlan): Seq[String] = {
    val here = plan match {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 => r.multipartIdentifier
      case _                                                       => Nil
    }
    val nested = plan.children ++ plan.subqueries ++
      plan.innerChildren.collect { case p: LogicalPlan => p }
    here ++ nested.flatMap(relationNames)
  }

  /** Additionally expose every registered query as a lazy temp view
    * (`graft_<name>`), so SQL users can compose over engine results:
    * `SELECT * FROM graft_dedup_exact WHERE n_dups > 1`. Views are
    * plans, not materializations — each reference re-optimizes into the
    * enclosing query. (Exceptions: the IVF/centroid queries load their
    * metadata-scale codebook eagerly at registration, like loading a
    * model, and the iterative dedup queries (components/curate) run
    * their label-propagation rounds eagerly — register selectively if
    * that cost matters.)
    */
  def registerQueryViews(spark: SparkSession, dir: String): Unit =
    Registry.specs.foreach { spec =>
      spec.build(spark, dir).createOrReplaceTempView(s"graft_${spec.name}")
    }
}
