package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL interface produces the same results as the DataFrame
  * API — a user can drive the engine entirely through spark.sql.
  */
class SqlSurfaceSpec extends AnyFunSuite with SparkFixture {

  test("SQL over registered views matches the DataFrame formulation") {
    Sql.registerAll(spark, fixtureDir)

    val viaSql = spark.sql(
      """SELECT c_custkey AS custkey, c_name AS name,
                coalesce(n_orders, 0) AS n_orders
         FROM customer LEFT JOIN
           (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o
           ON c_custkey = o_custkey""").collect().toSet
    val viaDf = graft.operators.Relational
      .taskDIndegreeLeftJoin(spark, fixtureDir).collect().toSet
    assert(viaSql === viaDf)

    // events view carries the converted timestamp (the raw file is
    // unreadable without the loader's nanos handling)
    assert(spark.sql("SELECT max(ts) FROM events").collect()
      .head.get(0).toString === "2024-01-01 00:00:00.0")

    // native functions compose with views in one SQL statement
    val dups = spark.sql(
      """SELECT count(*) FROM documents a JOIN documents b
         ON a.doc_id < b.doc_id
         AND simhash64(ws_tokens(a.text)) = simhash64(ws_tokens(b.text))""")
      .collect().head.getLong(0)
    assert(dups === 3L) // (0,1), (0,4), (1,4): same token multisets
  }

  test("Sql.query registers only the testdata tables its statement reads") {
    def views(s: org.apache.spark.sql.SparkSession): Set[String] =
      s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    for (row <- Seq("dedup_edit_distance_sql", "er_jaro_winkler_sql")) {
      val fresh = spark.newSession()
      SparkEntry.queries(row)(fresh, fixtureDir)
      assert(views(fresh) === Set("documents"), row)
    }
    // a CTE name is not a table
    val cte = spark.newSession()
    assert(Sql.query(cte, fixtureDir, "WITH docs AS (SELECT 1 AS x) SELECT x FROM docs")
      .collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(views(cte).isEmpty)
    // CTE bodies and expression subqueries are read too, names in any case
    val nested = spark.newSession()
    val n = Sql.query(nested, fixtureDir,
      """WITH o AS (SELECT o_custkey FROM ORDERS)
         SELECT count(*) FROM o WHERE o_custkey IN (SELECT c_custkey FROM customer)""")
      .collect().head.getLong(0)
    assert(views(nested) === Set("orders", "customer"))
    Sql.registerAll(spark, fixtureDir)
    assert(n === spark.sql("SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey")
      .collect().head.getLong(0))
  }

  test("every query is composable as a graft_<name> SQL view") {
    Sql.registerAll(spark, fixtureDir)
    Sql.registerQueryViews(spark, fixtureDir)
    // compose OVER an engine result in plain SQL
    val kept = spark.sql(
      "SELECT count(*) FROM graft_dedup_exact WHERE n_dups > 1")
      .collect().head.getLong(0)
    assert(kept === 1L) // docs 0 and 1 share a text
    // spot-check a view from each operator family resolves and runs
    for (v <- Seq("graft_q1_agg", "graft_similarity_topk",
        "graft_stream_window_counts", "graft_cohort_retention"))
      spark.sql(s"SELECT * FROM $v").collect()
  }
}
