package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** Edge-semantics assertions for Tasks A–H (SURVEY.md §5.2): each rule
  * the reference encodes in reducer branches is pinned against the tiny
  * fixture tables, so a plan rewrite that silently changes a boundary
  * (left-join zero-fill, <= vs <, avg denominator) fails here rather
  * than in the driver's oracle diff.
  */
class RelationalSpec extends AnyFunSuite with SparkFixture {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("taskA: constant filter + projection keeps only the matching nation") {
    val got = rows(Relational.taskAFilterProject(spark, fixtureDir))
    assert(got === Set(Row("alice", "SEG_A"), Row("bob", "SEG_B")))
  }

  test("taskB: counts join is per-user event counts") {
    val got = rows(Relational.taskBCountsJoin(spark, fixtureDir))
    assert(got === Set(Row(1L, "alice", 2L), Row(2L, "bob", 2L)))
  }

  test("taskC: group-count per nation") {
    val got = rows(Relational.taskCGroupCount(spark, fixtureDir))
    assert(got === Set(Row("NATION_7", 2L), Row("NATION_1", 2L)))
  }

  test("taskD: zero-order customers kept with count 0 (TaskD.java:101)") {
    val got = rows(Relational.taskDIndegreeLeftJoin(spark, fixtureDir))
    assert(got === Set(
      Row(1L, "alice", 3L), Row(2L, "bob", 1L),
      Row(3L, "carol", 0L), Row(4L, "dave", 0L)))
  }

  test("taskE: zero-event customers emitted 0/0 (TaskE.java:83-85)") {
    val got = rows(Relational.taskECountDistinct(spark, fixtureDir))
    assert(got === Set(
      Row(1L, "alice", 2L, 2L), Row(2L, "bob", 2L, 2L),
      Row(3L, "carol", 0L, 0L), Row(4L, "dave", 0L, 0L)))
  }

  test("taskF: supplier qualifies iff SOME pair has max(qty) <= 25 (TaskF.java:95-132)") {
    // supplier 1: pair (1,10) max 30 is excluded but pair (1,11) max 20
    // qualifies; supplier 2's only pair max 30 → out.
    val got = rows(Relational.taskFAntiJoin(spark, fixtureDir))
    assert(got === Set(Row(1L, "supp_one")))
  }

  test("taskG: never-active customers qualify; exactly-14-days is inactive (<=) (TaskG.java:144-155)") {
    val got = rows(Relational.taskGInactive(spark, fixtureDir))
    // bob's last event is EXACTLY ref - 14d (boundary in), alice is
    // active at ref (out), carol/dave have no events (in).
    assert(got === Set(Row(2L, "bob"), Row(3L, "carol"), Row(4L, "dave")))
  }

  test("taskH: avg denominator counts only customers WITH orders (TaskH.java:123-133)") {
    // oc = {alice:3, bob:1} → avg 2.0 over the 2 order-havers (NOT 1.0
    // over all 4 customers); alice is the only one above it.
    val got = rows(Relational.taskHAboveAvg(spark, fixtureDir))
    assert(got === Set(Row(1L, "alice", 3L)))
  }

  test("q1: pricing summary aggregates over the single (N,O) group") {
    val got = Relational.q1Agg(spark, fixtureDir).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getString(0) === "N" && r.getString(1) === "O")
    assert(r.getDouble(2) === 90.0) // 10+30+20+30
    assert(r.getLong(5) === 4L)
  }

  test("parts_never_shipped: left-anti keeps only parts absent from lineitem") {
    val got = rows(Relational.partsNeverShipped(spark, fixtureDir))
    assert(got === Set(Row("Brand#2", 1L, 12L))) // parts 10/11 shipped
  }

  test("rollup_pricing emits group, subtotal, and grand-total rows in one pass") {
    val got = rows(Relational.rollupPricing(spark, fixtureDir))
    assert(got === Set(
      Row("N", "O", 90.0, 4L),   // the single (flag, status) group
      Row("N", null, 90.0, 4L),  // per-flag subtotal
      Row(null, null, 90.0, 4L)) // grand total
    )
  }

  test("q5: region-filtered six-table join runs (fixture has no ASIA orders)") {
    // fixture: ASIA customers (carol/dave) have no orders, and fixture
    // lineitem orderkeys don't land in orders — the join chain must
    // still plan and return empty, not error.
    assert(Relational.q5RegionalRevenue(spark, fixtureDir).count() === 0L)
  }

  test("events loader converts INT64 nanos to exact microsecond timestamps") {
    import org.apache.spark.sql.functions._
    val ts = Tables.events(spark, fixtureDir)
      .agg(max(col("ts")).cast("string")).collect().head.getString(0)
    assert(ts === "2024-01-01 00:00:00") // RefTs nanos, UTC session TZ
  }

  test("q10: returned revenue counts only R-flag lines inside the order-date window") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("graft-q10")
    def w(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val in = java.time.LocalDateTime.of(1998, 4, 1, 0, 0)   // inside window
    val out = java.time.LocalDateTime.of(1998, 1, 1, 0, 0)  // outside
    w(Seq((0, "NATION_0", 0)).toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    w(Seq((1L, "alice", 0, 1.0, "SEG_A"), (2L, "bob", 0, 1.0, "SEG_A"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    w(Seq((10L, 1L, "O", 1.0, in, "1-URGENT"), (11L, 2L, "O", 1.0, out, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "orders")
    w(Seq(
      (10L, 10L, 1L, 1, 1.0, 100.0, 0.1, 0.0, "R", "O", in), // counted: 90
      (10L, 11L, 1L, 2, 1.0, 50.0, 0.0, 0.0, "N", "O", in),  // not returned
      (11L, 10L, 1L, 1, 1.0, 100.0, 0.0, 0.0, "R", "O", out)) // order outside window
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"), "lineitem")

    val got = operators.Relational.q10ReturnedRevenue(spark, dir).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3))
      === ((1L, "alice", "NATION_0", 90.0)))
  }

  test("pagerank matches an independent in-memory reference on seeded random multigraphs") {
    // mirrors the operator's exact integer recurrence: symmetrize
    // (duplicates and self-loops included), r0 = 1e6, per-round
    // inflow = sum(r div deg) over incoming edges, damped floor update
    def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var r: Map[Long, Long] = deg.keys.map(_ -> 1000000L).toMap
      (1 to iters).foreach { _ =>
        val inflow = sym.groupBy(_._2).view
          .mapValues(_.map { case (src, _) => r(src) / deg(src) }.sum).toMap
        r = r.keys.map(id =>
          id -> (150000L + 850000L * inflow.getOrElse(id, 0L) / 1000000L)).toMap
      }
      r
    }
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    (1 to 5).foreach { trial =>
      val n = 2 + rng.nextInt(7)
      val edges = Seq.fill(1 + rng.nextInt(12))(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)) // self-loops + dupes allowed
      val got = operators.Relational.pagerank(edges.toDF("src", "dst"), iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === ref(edges, 2), s"trial $trial edges $edges")
    }
  }

  test("integer pagerank reproduces the hand-computed two-round star-graph ranks") {
    val s = spark
    import s.implicits._
    // star 1—2, 1—3: after round 1 the hub holds 1_850_000, the
    // leaves 575_000; round 2 re-spreads through the hub:
    //   r2(hub)  = 150000 + 850000·(575000 + 575000) div 10⁶ = 1_127_500
    //   r2(leaf) = 150000 + 850000·(1850000 div 2)   div 10⁶ =   936_250
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val got = operators.Relational.pagerank(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1127500L, 2L -> 936250L, 3L -> 936250L))
  }

  test("pagerank deltas: star-graph per-round changes exact, damping contracts them") {
    val s = spark
    import s.implicits._
    // star 1—2, 1—3 (see previous test): round-1 ranks (1850000,
    // 575000, 575000) → deltas |Δ| = (850000, 425000); round-2 ranks
    // (1127500, 936250, 936250) → deltas (722500, 361250). max |Δ| per
    // round: 850000 then 722500, all three vertices moving both rounds.
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val got = operators.Relational.pagerankDeltasOf(edges, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 4)
    assert(got.take(2).toSeq === Seq((1L, 850000L, 3L), (2L, 722500L, 3L)))
    // 0.85 damping contracts the update map — max delta must shrink
    // every round (the termination evidence the query exists to surface)
    got.sliding(2).foreach { case Array((_, a, _), (_, b, _)) =>
      assert(b < a, s"max delta did not shrink: $a -> $b")
    }
    // empty graph → empty telemetry, matching the oracle's empty CTE
    assert(operators.Relational.pagerankDeltasOf(
      Seq.empty[(Long, Long)].toDF("src", "dst"), rounds = 4).count() === 0L)
  }

  test("q19: disjunctive branch predicates keep exactly their band intersections") {
    // fixture: part 10 = Brand#1 size 1, part 11 = Brand#1 size 2.
    // branch 1 (Brand#1, size 1-15, qty 1-20) keeps lines qty 10 and 20;
    // the qty-30 line fails the band; Brand#3 has no parts at all
    val got = operators.Relational.q19DiscountedRevenue(spark, fixtureDir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got === Map("Brand#1" -> ((180.0, 2L))))
  }

  test("q6: every predicate must hold simultaneously") {
    import spark.implicits._
    val dir = scratchDir("graft-q6")
    val d1997 = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    val d1998 = java.time.LocalDateTime.of(1998, 6, 1, 0, 0)
    Seq(
      (1L, 1L, 1L, 1, 10.0, 100.0, 0.06, 0.0, "N", "O", d1997), // kept: 6.0
      (2L, 1L, 1L, 1, 30.0, 100.0, 0.06, 0.0, "N", "O", d1997), // qty too high
      (3L, 1L, 1L, 1, 10.0, 100.0, 0.04, 0.0, "N", "O", d1997), // discount low
      (4L, 1L, 1L, 1, 10.0, 100.0, 0.06, 0.0, "N", "O", d1998), // wrong year
      (5L, 1L, 1L, 1, 23.0, 200.0, 0.05, 0.0, "N", "O", d1997)) // kept: 10.0
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = operators.Relational.q6ForecastRevenue(spark, dir).collect().head
    assert(r.getDouble(0) === 16.0)
    assert(r.getLong(1) === 2L)
  }

  test("q7: bilateral pairs only — same-nation and third-party trades excluded") {
    import spark.implicits._
    val dir = scratchDir("graft-q7")
    val ots = java.time.LocalDateTime.ofEpochSecond(
      Fixtures.RefTs / 1000000000L, 0, java.time.ZoneOffset.UTC) // 2024-01-01
    Seq((1, "NATION_1", 0), (2, "NATION_2", 0), (3, "NATION_3", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, "c1", 1, 0.0, "S"), (2L, "c2", 2, 0.0, "S"), (3L, "c3", 3, 0.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, "s_n2", 2, 0.0), (11L, "s_n1", 1, 0.0), (12L, "s_n3", 3, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((100L, 1L, "O", 1.0, ots, "1-URGENT"),   // customer in NATION_1
      (101L, 2L, "O", 1.0, ots, "1-URGENT"),     // customer in NATION_2
      (102L, 3L, "O", 1.0, ots, "1-URGENT"))     // customer in NATION_3
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      // N2 supplier -> N1 customer: kept, revenue 100·0.9 = 90
      (100L, 10L, 10L, 1, 1.0, 100.0, 0.1, 0.0, "N", "O", ots),
      // N1 supplier -> N1 customer: same nation, excluded
      (100L, 10L, 11L, 2, 1.0, 50.0, 0.0, 0.0, "N", "O", ots),
      // N1 supplier -> N2 customer: kept, reverse direction, 50
      (101L, 10L, 11L, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", ots),
      // N3 supplier -> N3 customer: third party, excluded
      (102L, 10L, 12L, 1, 1.0, 70.0, 0.0, 0.0, "N", "O", ots))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Relational.q7VolumeShipping(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getDouble(3), r.getLong(4)))).toMap
    assert(got === Map(
      ("NATION_2", "NATION_1", 2024L) -> ((90.0, 1L)),
      ("NATION_1", "NATION_2", 2024L) -> ((50.0, 1L))))
  }

  private val liCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")
  private val ordCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  test("q4: one count per late order, not per late line; ship==order date is on time") {
    import spark.implicits._
    val dir = scratchDir("graft-q4")
    val d0 = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, 1L, "O", 10.0, d0, "1-URGENT"),
        (2L, 1L, "O", 10.0, d0, "5-LOW"))
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      // order 1: TWO late lines and an early one → counts exactly once
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d0.plusDays(3)),
      (1L, 1L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d0.plusDays(5)),
      (1L, 1L, 1L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", d0.minusDays(1)),
      // order 2: shipped the order day — strict > means NOT late
      (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d0))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.q4PriorityExists(spark, dir))
    assert(got === Set(Row("1-URGENT", 1L)))
  }

  test("q13: distribution includes the zero-order bucket") {
    // shared fixture: alice 3 orders, bob 1, carol+dave 0
    val got = rows(Relational.q13Custdist(spark, fixtureDir))
    assert(got === Set(Row(3L, 1L), Row(1L, 1L), Row(0L, 2L)))
  }

  test("q15: revenue ties at the max keep BOTH suppliers; out-of-window revenue ignored") {
    import spark.implicits._
    val dir = scratchDir("graft-q15")
    val in = java.time.LocalDateTime.of(1998, 2, 1, 0, 0)
    val out = java.time.LocalDateTime.of(1998, 6, 1, 0, 0)
    Seq((1L, "s_one", 0, 0.0), (2L, "s_two", 0, 0.0), (3L, "s_three", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq(
      (1L, 1L, 1L, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", in),   // supp 1: 10
      (2L, 1L, 2L, 1, 1.0, 4.0, 0.0, 0.0, "N", "O", in),    // supp 2: 4 + 6 = 10 (tie)
      (3L, 1L, 2L, 1, 1.0, 6.0, 0.0, 0.0, "N", "O", in),
      (4L, 1L, 3L, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", in),    // supp 3: below max
      (5L, 1L, 3L, 1, 1.0, 99.0, 0.0, 0.0, "N", "O", out))  // outside the quarter
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.q15TopSupplier(spark, dir))
    assert(got === Set(Row(1L, "s_one", 10.0), Row(2L, "s_two", 10.0)))
  }

  test("q17: only lines under 20% of their part's average quantity contribute") {
    import spark.implicits._
    val dir = scratchDir("graft-q17")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, "a", "Brand#11", "STD", 1, 1.0),
        (2L, "b", "Brand#11", "STD", 1, 1.0),
        (3L, "c", "Brand#99", "STD", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq(
      // part 1: qtys 1,10,10 → avg 7, threshold 1.4 → only qty 1 (price 700)
      (1L, 1L, 1L, 1, 1.0, 700.0, 0.0, 0.0, "N", "O", d),
      (2L, 1L, 1L, 1, 10.0, 5.0, 0.0, 0.0, "N", "O", d),
      (3L, 1L, 1L, 1, 10.0, 5.0, 0.0, 0.0, "N", "O", d),
      // part 2: qtys 5,5 → threshold 1.0 → nothing qualifies
      (4L, 2L, 1L, 1, 5.0, 50.0, 0.0, 0.0, "N", "O", d),
      (5L, 2L, 1L, 1, 5.0, 50.0, 0.0, 0.0, "N", "O", d),
      // wrong brand: excluded even at tiny quantity
      (6L, 3L, 1L, 1, 0.5, 9999.0, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Relational.q17SmallQtyRevenue(spark, dir).collect().head
    assert(r.getDouble(0) === 100.0) // 700 / 7.0
  }

  test("q8: share = NATION_12 revenue over ASIA-promo revenue, per order year") {
    import spark.implicits._
    val dir = scratchDir("graft-q8")
    Seq((2, "ASIA"), (0, "AFRICA"))
      .toDF("r_regionkey", "r_name").write.mode("overwrite").parquet(s"$dir/region.parquet")
    Seq((5, "NATION_12", 2), (6, "NATION_1", 2), (7, "NATION_3", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, "asia_cust", 5, 0.0, "SEG_A"), (2L, "africa_cust", 7, 0.0, "SEG_A"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((1L, "s12", 5, 0.0), (2L, "s1", 6, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((1L, "p", "Brand#1", "PROMO", 1, 1.0), (2L, "q", "Brand#1", "ECONOMY", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val d97 = java.time.LocalDateTime.of(1997, 5, 1, 0, 0)
    val d98 = java.time.LocalDateTime.of(1998, 5, 1, 0, 0)
    Seq((10L, 1L, "O", 1.0, d97, "1-URGENT"),
        (11L, 1L, "O", 1.0, d98, "1-URGENT"),
        (12L, 2L, "O", 1.0, d97, "1-URGENT")) // non-ASIA customer
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      (10L, 1L, 1L, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d97), // 1997 NATION_12: 10
      (10L, 1L, 2L, 1, 1.0, 30.0, 0.0, 0.0, "N", "O", d97), // 1997 other supp: 30
      (10L, 2L, 1L, 1, 1.0, 999.0, 0.0, 0.0, "N", "O", d97), // non-promo part: out
      (11L, 1L, 1L, 1, 1.0, 7.0, 0.0, 0.0, "N", "O", d98),  // 1998 NATION_12: 7
      (12L, 1L, 1L, 1, 1.0, 888.0, 0.0, 0.0, "N", "O", d97)) // non-ASIA order: out
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.q8MarketShare(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got === Map(
      1997 -> ((10.0, 40.0, 0.25)),
      1998 -> ((7.0, 7.0, 1.0))))
  }

  test("delta-agg maintenance: base-only, delta-only, and mixed keys all merge; cutoff day is delta") {
    import spark.implicits._
    val dir = scratchDir("graft-deltaagg")
    def d(y: Int, m: Int): java.time.LocalDateTime = java.time.LocalDateTime.of(y, m, 1, 0, 0)
    Seq(
      (1L, 1L, "O", 10.0, d(1999, 3), "1-URGENT"), // c1 base
      (2L, 1L, "O", 20.0, d(1999, 6), "1-URGENT"), // c1 base
      (3L, 1L, "O", 5.0, d(2001, 1), "1-URGENT"),  // c1 delta
      (4L, 2L, "O", 7.0, d(1998, 1), "1-URGENT"),  // c2 base only
      (5L, 3L, "O", 3.0, d(2000, 1), "1-URGENT"))  // c3: exactly the cutoff → delta
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = rows(Relational.ordersDeltaAgg(spark, dir))
    assert(got === Set(
      Row(1L, 2L, 1L, 3L, 35.0),
      Row(2L, 1L, 0L, 1L, 7.0),
      Row(3L, 0L, 1L, 1L, 3.0)))
  }

  test("q22: only lapsed customers above the positive-balance average; negatives never qualify") {
    import spark.implicits._
    val dir = scratchDir("graft-q22")
    Seq((1L, "recent", 0, 10.0, "SEG_A"),  // active after cutoff → excluded
        (2L, "lapsed_hi", 0, 8.0, "SEG_A"), // idle, 8 > avg 20/3 → kept
        (3L, "lapsed_lo", 1, 2.0, "SEG_A"), // idle, below avg
        (4L, "negative", 1, -4.0, "SEG_A")) // excluded from avg AND below it
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val recent = java.time.LocalDateTime.of(2001, 1, 1, 0, 0)
    val old = java.time.LocalDateTime.of(1999, 1, 1, 0, 0)
    Seq((1L, 1L, "O", 1.0, recent, "1-URGENT"),
        (2L, 2L, "O", 1.0, old, "1-URGENT"))
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = rows(Relational.q22IdleCustomers(spark, dir))
    assert(got === Set(Row(0, 1L, 8.0)))
  }

  test("q2: unit-price ties at a part's minimum keep BOTH suppliers") {
    import spark.implicits._
    val dir = scratchDir("graft-q2")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, "a", "Brand#1", "LARGE", 5, 1.0),   // in family
        (2L, "b", "Brand#1", "LARGE", 50, 1.0))  // size > 10 → out
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, "s_one", 0, 0.0), (2L, "s_two", 0, 0.0), (3L, "s_three", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((0, "NATION_0", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq(
      // part 1: supp 1 offers 2.0 (4/2), supp 2 ties at 2.0 (6/3 and a
      // worse 5.0 offer that the per-supplier MIN discards), supp 3 at 3.0
      (1L, 1L, 1L, 1, 2.0, 4.0, 0.0, 0.0, "N", "O", d),
      (2L, 1L, 2L, 1, 3.0, 6.0, 0.0, 0.0, "N", "O", d),
      (3L, 1L, 2L, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", d),
      (4L, 1L, 3L, 1, 1.0, 3.0, 0.0, 0.0, "N", "O", d),
      // excluded part: cheap offer must not leak in
      (5L, 2L, 3L, 1, 1.0, 0.5, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.q2MinCostSupplier(spark, dir))
    assert(got === Set(
      Row(1L, "s_one", "NATION_0", 2.0), Row(1L, "s_two", "NATION_0", 2.0)))
  }

  test("q21: a supplier waits-counts only multi-supplier orders where it is the SOLE returner") {
    import spark.implicits._
    val dir = scratchDir("graft-q21")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, "s_one", 0, 0.0), (2L, "s_two", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq(
      // order 1: supp 1 returns, supp 2 clean → supp 1 counts it
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "R", "O", d),
      (1L, 1L, 2L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      // order 2: both return → neither is the sole returner
      (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "R", "O", d),
      (2L, 1L, 2L, 2, 1.0, 1.0, 0.0, 0.0, "R", "O", d),
      // order 3: supp 2 returns but is the ONLY supplier → no wait
      (3L, 1L, 2L, 1, 1.0, 1.0, 0.0, 0.0, "R", "O", d),
      // order 4: supp 2 returns on one line, is clean on another, supp 1
      // clean → per-pair dedup must still count supp 2 exactly once
      (4L, 1L, 2L, 1, 1.0, 1.0, 0.0, 0.0, "R", "O", d),
      (4L, 1L, 2L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (4L, 1L, 1L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.q21WaitingSuppliers(spark, dir))
    assert(got === Set(Row(1L, "s_one", 1L), Row(2L, "s_two", 1L)))
  }

  test("q16: supplier count dedupes repeat shipments and excludes the blocked brand") {
    import spark.implicits._
    val dir = scratchDir("graft-q16")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, "a", "Brand#1", "LARGE", 5, 1.0),
        (2L, "b", "Brand#11", "LARGE", 5, 1.0)) // blocked brand
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq(
      // part 1 shipped twice by supp 1, once by supp 2 → 2 suppliers
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (3L, 1L, 2L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      // blocked brand must not appear at all
      (4L, 2L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.q16SupplierCnt(spark, dir))
    assert(got === Set(Row("Brand#1", "LARGE", 5, 2L)))
  }

  test("q11: the value threshold is strict and scoped to the chosen nation's suppliers") {
    import spark.implicits._
    val dir = scratchDir("graft-q11")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, "s_in", 3, 0.0), (2L, "s_out", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    Seq((3, "NATION_3", 0), (0, "NATION_0", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq(
      // nation-3 supplier: part 1 value 999000, part 2 value 1000 →
      // total 10**6; threshold value·1000 > total keeps ONLY part 1
      // (part 2 sits exactly AT the boundary: 1000·1000 = 10**6)
      (1L, 1L, 1L, 1, 1.0, 999000.0, 0.0, 0.0, "N", "O", d),
      (2L, 2L, 1L, 1, 1.0, 1000.0, 0.0, 0.0, "N", "O", d),
      // other-nation supplier's huge line must not count
      (3L, 2L, 2L, 1, 1.0, 5e6, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.q11ImportantParts(spark, dir))
    assert(got === Set(Row(1L, 999000.0)))
  }

  test("partPairLift: lift is n_ab·N / (n_a·n_b) over deduped order part-sets") {
    import spark.implicits._
    val dir = scratchDir("graft-lift")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    // orders: {1,2} ×3 (one with a duplicate line of part 1 — the set
    // dedupes it), {1,3} ×1 → pair (1,2) n_ab=3 survives the ≥3 gate;
    // (1,3) n_ab=1 does not. N=4, n_1=4, n_2=3 → lift = 3·4/(4·3) = 1.
    Seq(
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (1L, 1L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d), // dup line
      (1L, 2L, 1L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (2L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (3L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (3L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (4L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (4L, 3L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.partPairLift(spark, dir))
    assert(got === Set(Row(1L, 2L, 3L, 4L, 3L, 1.0)))
  }

  test("priceQuantityOls: a perfect line recovers slope and intercept exactly") {
    import spark.implicits._
    val dir = scratchDir("graft-ols")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, "a", "Brand#1", "STD", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // price = quantity dollars exactly → slope 100 cents/unit, intercept 0;
    // the integer power sums make both land as exact doubles
    Seq(
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (2L, 1L, 1L, 1, 2.0, 2.0, 0.0, 0.0, "N", "O", d),
      (3L, 1L, 1L, 1, 3.0, 3.0, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.priceQuantityOls(spark, dir))
    assert(got === Set(Row("Brand#1", 3L, 100.0, 0.0)))
  }

  test("revenueBootstrap: 32 deterministic replicates, each an integer multiple of the row revenue") {
    // fixture lineitem: 4 rows, each rev = 100·0.9 = 90 → every replicate
    // total is 90 × (sum of its four integer Poisson weights)
    val got = Relational.revenueBootstrap(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === 32)
    got.values.foreach { b =>
      assert(b >= 0.0 && (b / 90.0) === math.rint(b / 90.0))
    }
    // deterministic: a second run reproduces every replicate exactly
    val again = Relational.revenueBootstrap(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === got)
    // the replicate mean should sit near the true total (360): Poisson(1)
    // weights have mean 1, so a wild mean means the CDF table is wrong
    val mean = got.values.sum / 32.0
    assert(mean > 180.0 && mean < 540.0)
  }

  test("nationRevenueShare: share is nation revenue over its region's window total") {
    // all fixture orders belong to nation 0 (AFRICA): 10+20+30+40 = 100
    val got = rows(Relational.nationRevenueShare(spark, fixtureDir))
    assert(got === Set(Row("AFRICA", "NATION_7", 100.0, 100.0, 1.0)))
  }

  test("orderFulfillmentLag: negative lags truncate toward zero and count as early") {
    import spark.implicits._
    val dir = scratchDir("graft-lag")
    val od = java.time.LocalDateTime.of(1997, 6, 10, 0, 0)
    Seq((1L, 1L, "O", 1.0, od, "1-URGENT"))
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      // +3 days, then 36 hours EARLY: -1.5 days must truncate to -1
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", od.plusDays(3)),
      (1L, 1L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", od.minusHours(36)))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.orderFulfillmentLag(spark, dir))
    assert(got === Set(Row("1-URGENT", 2L, -1L, 3L, 2L, 1L, 1.0)))
  }

  test("supplierShareHhi: single-sourced types score 1, even splits score 1/n") {
    import spark.implicits._
    val dir = scratchDir("graft-hhi")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq((1L, "a", "B", "SOLO", 1, 1.0), (2L, "b", "B", "SPLIT", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq(
      (1L, 1L, 1L, 1, 5.0, 1.0, 0.0, 0.0, "N", "O", d),  // SOLO: all supp 1
      (2L, 2L, 1L, 1, 4.0, 1.0, 0.0, 0.0, "N", "O", d),  // SPLIT: 4 + 4
      (3L, 2L, 2L, 1, 4.0, 1.0, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.supplierShareHhi(spark, dir))
    assert(got === Set(Row("SOLO", 1L, 1.0), Row("SPLIT", 2L, 0.5)))
  }

  test("tableProfile: fixture row counts with unique non-null PKs everywhere") {
    val got = rows(Relational.tableProfile(spark, fixtureDir))
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size === 10)
    // every fixture PK is unique and non-null: n_rows == n_distinct_pk
    got.foreach { case (t, (n, d, nulls)) =>
      assert(n === d, t); assert(nulls === 0L, t)
    }
    assert(got("customer")._1 === 4L)
    assert(got("lineitem")._1 === 4L) // composite key counts all 4 lines
    assert(got("events")._1 === 4L)
    assert(got("documents")._1 === 5L)
    assert(got("embeddings")._1 === 60L)
  }

  test("customerOrderRegularity: clockwork gaps class regular; wild gaps bursty; one gap insufficient") {
    import spark.implicits._
    val dir = scratchDir("graft-cad")
    val d0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    def ord(k: Long, c: Long, daysOut: Long) =
      (k, c, "O", 1.0, d0.plusDays(daysOut), "1-URGENT")
    Seq(
      // cust 1: gaps 7,7,7 → cv² = 0 → regular
      ord(1, 1, 0), ord(2, 1, 7), ord(3, 1, 14), ord(4, 1, 21),
      // cust 2: gaps 1,20,1 → heavily dispersed → bursty
      ord(5, 2, 0), ord(6, 2, 1), ord(7, 2, 21), ord(8, 2, 22),
      // cust 3: single gap → insufficient
      ord(9, 3, 0), ord(10, 3, 5),
      // cust 4: no gaps at all → contributes nothing
      ord(11, 4, 0))
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = rows(Relational.customerOrderRegularity(spark, dir))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("regular" -> 1L, "bursty" -> 1L, "insufficient" -> 1L))
  }

  test("ordersGroupingSets: three granularities in one pass, no priority-by-status cross") {
    // fixture orders: priorities 1-URGENT(1), 3-MEDIUM(2), 5-LOW(1);
    // statuses O(3), F(1); totals 100
    val got = rows(Relational.ordersGroupingSets(spark, fixtureDir))
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(got((Some("1-URGENT"), None, 1L)) === ((1L, 10.0)))
    assert(got((Some("3-MEDIUM"), None, 1L)) === ((2L, 50.0)))
    assert(got((Some("5-LOW"), None, 1L)) === ((1L, 40.0)))
    assert(got((None, Some("O"), 2L)) === ((3L, 70.0)))
    assert(got((None, Some("F"), 2L)) === ((1L, 30.0)))
    assert(got((None, None, 3L)) === ((4L, 100.0)))
    assert(got.size === 6) // and nothing at the priority×status cross
  }

  test("customerBalancePctrank: ties share percent_rank but advance cume_dist together") {
    import spark.implicits._
    val dir = scratchDir("graft-pctr")
    Seq((1L, "a", 0, 5.0, "S"), (2L, "b", 0, 5.0, "S"),
        (3L, "c", 0, 9.0, "S"), (4L, "d", 1, 1.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Relational.customerBalancePctrank(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getDouble(4), r.getLong(5))))
      .toMap
    // nation 0: tied 5.0s share pct_rank 0 but BOTH sit at cume 2/3
    assert(got(1L) === ((0.0, 2.0 / 3, 1L)))
    assert(got(2L) === ((0.0, 2.0 / 3, 2L)))
    assert(got(3L) === ((1.0, 1.0, 3L)))
    // single-row nation: percent_rank degenerates to 0, cume to 1
    assert(got(4L) === ((0.0, 1.0, 1L)))
  }

  test("ordersTrailing7dRevenue: RANGE includes same-day peers and the 7-day boundary drops out") {
    import spark.implicits._
    val dir = scratchDir("graft-trail")
    val d0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    Seq(
      (1L, 1L, "O", 10.0, d0, "1-URGENT"),
      (2L, 1L, "O", 20.0, d0, "1-URGENT"),             // same-day peer
      (3L, 1L, "O", 5.0, d0.plusDays(6), "1-URGENT"),  // inside the frame
      (4L, 1L, "O", 1.0, d0.plusDays(7), "1-URGENT"))  // day 0 just aged out
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.ordersTrailing7dRevenue(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // RANGE peers: both day-0 orders see 30; day 6 sees 35; day 7 sees 6
    assert(got === Map(1L -> 30.0, 2L -> 30.0, 3L -> 35.0, 4L -> 6.0))
  }

  test("basketSizeHist: pair budget is exactly b(b-1)/2 per order, summed per band") {
    // fixture orders: 1000 → {10} (b=1), 1001 → {11} (b=1), 1002 → {10}
    // (b=1) → band 0, 3 orders, zero pair budget
    val got = rows(Relational.basketSizeHist(spark, fixtureDir))
    assert(got === Set(Row(0L, 3L, 1L, 0L)))
    // planted 3-part basket: budget 3 = 3·2/2
    import spark.implicits._
    val dir = scratchDir("graft-basket")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    Seq(
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (1L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (1L, 3L, 1L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (1L, 3L, 1L, 4, 1.0, 1.0, 0.0, 0.0, "N", "O", d)) // dup part dedupes
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(rows(Relational.basketSizeHist(spark, dir)) === Set(Row(1L, 1L, 3L, 3L)))
  }

  test("customerRevenueTopnShare: fewer than N customers puts the whole corpus in the top") {
    // fixture has 2 ordering customers (alice 60, bob 40) → top-10
    // covers everyone, share exactly 1
    val got = rows(Relational.customerRevenueTopnShare(spark, fixtureDir))
    assert(got === Set(Row(2L, 100.0, 100.0, 1.0)))
  }

  test("brandTypeChi2: margins and expected counts match hand math on the fixture catalog") {
    // cells: (B1,ECONOMY,1) (B1,STD,1) (B2,STD,1) → margins B1=2, B2=1,
    // ECONOMY=1, STD=2, total 3
    val got = rows(Relational.brandTypeChi2(spark, fixtureDir))
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    val (n1, e1, t1) = got(("Brand#1", "ECONOMY"))
    assert(n1 === 1L && close(e1, 2.0 / 3) && close(t1, 1.0 / 6))
    val (n2, e2, t2) = got(("Brand#1", "STD"))
    assert(n2 === 1L && close(e2, 4.0 / 3) && close(t2, 1.0 / 12))
    val (n3, e3, t3) = got(("Brand#2", "STD"))
    assert(n3 === 1L && close(e3, 2.0 / 3) && close(t3, 1.0 / 6))
  }

  test("ordersCohortLtv: cumulative revenue accumulates within each cohort by offset") {
    import spark.implicits._
    val dir = scratchDir("graft-ltv")
    val m0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val m1 = m0.plusDays(30)
    Seq(
      (1L, 1L, "O", 10.0, m0, "1-URGENT"),  // cust 1 cohort m0: 10 then 20
      (2L, 1L, "O", 20.0, m1, "1-URGENT"),
      (3L, 2L, "O", 5.0, m1, "1-URGENT"))   // cust 2 cohort m1: 5
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.ordersCohortLtv(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val c0 = got.keys.map(_._1).min
    assert(got((c0, 0L)) === ((1L, 10.0, 10.0)))
    assert(got((c0, 1L)) === ((1L, 20.0, 30.0)))   // cumulative 10+20
    assert(got((c0 + 1, 0L)) === ((1L, 5.0, 5.0))) // cust 2's own cohort
    assert(got.size === 3)
  }

  test("ordersWowGrowth: basis-point growth from the previous week; first week NULL") {
    import spark.implicits._
    val dir = scratchDir("graft-wow")
    val w1 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)  // a Monday
    val w2 = w1.plusDays(7)
    Seq(
      (1L, 1L, "O", 10.0, w1, "1-URGENT"), (2L, 1L, "O", 10.0, w1, "1-URGENT"),
      (3L, 1L, "O", 10.0, w2, "1-URGENT"), (4L, 1L, "O", 10.0, w2, "1-URGENT"),
      (5L, 1L, "O", 10.0, w2, "1-URGENT"))
      .toDF(ordCols: _*).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.ordersWowGrowth(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.get(3)))).toMap
    // weeks keyed by count: 2 orders then 3 → +50% = 5000 bps
    assert(got === Map(2L -> ((20.0, null)), 3L -> ((30.0, 5000L))))
  }

  test("graphDegreeHist: both endpoints of each kept edge gain one degree") {
    import spark.implicits._
    val dir = scratchDir("graft-deg")
    val d = java.time.LocalDateTime.of(1997, 6, 1, 0, 0)
    // edges kept at n>=2: (1,2) from orders 1,2 and (1,3) from orders 3,4
    // → part 1 degree 2 (band 1), parts 2 and 3 degree 1 (band 0)
    Seq(
      (1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (1L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (2L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (2L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (3L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (3L, 3L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (4L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
      (4L, 3L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.graphDegreeHist(spark, dir))
    assert(got === Set(Row(1L, 1L, 2L, 2L), Row(0L, 2L, 1L, 1L)))
  }

  test("customerRfm: log2 bands from exact integers; same-day orders give recency band 0") {
    // all fixture orders share one date → recency_days 0 → band(1) = 0.
    // alice: 3 orders, 6000 cents → '0-1-12'; bob: 1 order, 4000 → '0-0-11'
    val got = rows(Relational.customerRfm(spark, fixtureDir))
    assert(got === Set(Row("0-1-12", 1L, 6000L), Row("0-0-11", 1L, 4000L)))
  }

  test("tableProfile: NULL composite-key component counted as distinct AND flagged null") {
    import spark.implicits._
    val dir = scratchDir("graft-prof-null")
    Fixtures.writeAll(spark, dir)
    val ots = java.time.LocalDateTime.ofEpochSecond(
      Fixtures.RefTs / 1000000000L, 0, java.time.ZoneOffset.UTC)
    // row 2 has a NULL l_linenumber: SQL row-value distinct still counts
    // it (the struct is non-null), and n_null_pk must flag it — the
    // pre-fix multi-arg countDistinct silently dropped such rows.
    Seq(
      (1L, 10L, 1L, Option(1), 1.0, 1.0, 0.0, 0.0, "N", "O", ots),
      (1L, 10L, 1L, Option.empty[Int], 1.0, 1.0, 0.0, 0.0, "N", "O", ots),
      (2L, 10L, 1L, Option(1), 1.0, 1.0, 0.0, 0.0, "N", "O", ots))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.tableProfile(spark, dir))
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("lineitem") === ((3L, 3L, 1L)))
  }

  test("referentialIntegrityAudit: a NULL FK is neither a key nor an orphan") {
    import spark.implicits._
    val dir = scratchDir("graft-ri-null")
    Fixtures.writeAll(spark, dir)
    val ots = java.time.LocalDateTime.ofEpochSecond(
      Fixtures.RefTs / 1000000000L, 0, java.time.ZoneOffset.UTC)
    // partkey NULL on one row, live 10 and dangling 99 on the others:
    // n_keys counts {10, 99} only (SQL count(DISTINCT fk) ignores NULL),
    // orphans counts just 99 — the NULL must not inflate either side.
    Seq(
      (100L, Option(10L), 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ots),
      (100L, Option(99L), 1L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ots),
      (100L, Option.empty[Long], 1L, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", ots))
      .toDF(liCols: _*).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = rows(Relational.referentialIntegrityAudit(spark, dir))
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("lineitem.partkey->part") === ((2L, 1L)))
  }

  test("referentialIntegrityAudit: dangling FKs counted per edge, intact edges report zero") {
    // fixture lineitem orderkeys 1000-1002 have no orders rows → all 3
    // dangle; every other edge is intact
    val got = rows(Relational.referentialIntegrityAudit(spark, fixtureDir))
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("lineitem.orderkey->orders") === ((3L, 3L)))
    assert(got("lineitem.partkey->part") === ((2L, 0L)))
    assert(got("lineitem.suppkey->supplier") === ((2L, 0L)))
    assert(got("orders.custkey->customer") === ((2L, 0L)))
    assert(got("customer.nationkey->nation") === ((2L, 0L)))
    assert(got("supplier.nationkey->nation") === ((1L, 0L)))
    assert(got("nation.regionkey->region") === ((2L, 0L)))
  }
}
