package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operators covering the reference's Tasks A–H semantics
  * (SURVEY.md §2), re-targeted onto the harness testdata tables.
  *
  * Each function is one declarative DataFrame plan — Catalyst handles
  * column pruning, predicate pushdown, partial aggregation, and join
  * strategy (AQE); nothing is hand-scheduled. Scale posture: no
  * collect() in any query path, aggregations happen BEFORE joins so the
  * shuffled side is pre-reduced, and dimension tables are broadcast.
  */
object Relational {

  /** Task A (reference TaskA.java:17,42-44): constant-equality filter +
    * projection — a map-only job there; a scan+filter+project (no
    * exchange) here, with both the filter and the 2-column projection
    * pushed into the parquet scan.
    * Realization: customers of one nation, name + market segment.
    */
  def taskAFilterProject(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val nation   = Tables.nation(spark, dir)
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .select(col("c_name").as("name"), col("c_mktsegment").as("mktsegment"))
  }

  /** Task B implemented semantics (reference TaskB.java:59-67): per-page
    * access counts inner-joined to broadcast page metadata (the reference
    * ships pages.csv via distributed cache; we use broadcast()).
    * Realization: events per user ⋈ broadcast customer.
    * Aggregate FIRST, then join — the join input is one row per user,
    * not one row per event.
    */
  def taskBCountsJoin(spark: SparkSession, dir: String): DataFrame = {
    val events   = Tables.events(spark, dir)
    val customer = Tables.customer(spark, dir)
    val counts = events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // No broadcast hint on customer: it is scale-proportional (15M rows at
    // sf100), unlike the reference's 20-row pages.csv distributed cache.
    // AQE picks broadcast when the side is actually small.
    counts
      .join(customer, counts("user_id") === customer("c_custkey"))
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"), col("cnt"))
  }

  /** Task B advertised semantics (reference README.md:134 "Top 10 popular
    * pages" — the Java never sorts or limits; SURVEY.md §2.5 flags the
    * discrepancy, so both variants ship). Deterministic tie-break on key.
    */
  def taskBTop10(spark: SparkSession, dir: String): DataFrame =
    taskBCountsJoin(spark, dir)
      .orderBy(col("cnt").desc, col("custkey").asc)
      .limit(10)

  /** Task C (reference TaskC.java:42-43): group-count per nationality. */
  def taskCGroupCount(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val nation   = Tables.nation(spark, dir)
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Task D (reference TaskD.java:81-106): left-outer repartition join —
    * every entity appears with its in-degree, zero when no edges arrive
    * ("Even if count == 0", TaskD.java:101).
    * Realization: order count per customer, zero-order customers kept.
    * Count-then-join: the per-customer aggregate is shuffled, not the
    * raw fact table.
    */
  def taskDIndegreeLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val oc = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    customer
      .join(oc, customer("c_custkey") === oc("o_custkey"), "left")
      .select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  /** Task E (reference TaskE.java:64-88): COUNT + COUNT(DISTINCT) per
    * person, persons with zero activity emitted as 0/0 (the reference
    * reducer emits "name 0 0" when only the NAME: tag arrives).
    * Realization: total events + distinct event types per customer.
    */
  def taskECountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val events   = Tables.events(spark, dir)
    val agg = events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("total"), countDistinct(col("event_type")).as("n_types"))
    customer
      .join(agg, customer("c_custkey") === agg("user_id"), "left")
      .select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("n_types"), lit(0L)).as("n_types"))
  }

  /** Task F (reference TaskF.java:95-132): existence anti-join — entities
    * with ≥1 declared pair that never appears in the "accessed" set.
    * Realization: suppliers having some (supplier, part) shipping pair
    * that never shipped with quantity > 25.
    *
    * Single-shuffle plan: "pair never shipped with qty > 25" ≡
    * "max(qty) over the pair ≤ 25", so one groupBy on the composite key
    * (with map-side partial max) replaces the naive
    * distinct + distinct + left_anti (three fact-scale exchanges). The
    * follow-up distinct runs on the already-reduced pair aggregate.
    */
  def taskFAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val li       = Tables.lineitem(spark, dir)
    val supplier = Tables.supplier(spark, dir)
    // Explicit hash-repartition on the grouping key: (suppkey, partkey)
    // pairs are near-unique (~1 row each), so map-side partial agg can't
    // reduce volume — it only builds a fact-sized hash table inside the
    // single scan partition (the testdata is one row group). Shuffling
    // the pruned 3-column rows first costs the same bytes the groupBy
    // exchange would move anyway and lets the whole aggregate run at
    // full parallelism; the groupBy then needs no further exchange.
    li.select(col("l_suppkey"), col("l_partkey"), col("l_quantity"))
      .repartition(col("l_suppkey"), col("l_partkey"))
      .groupBy(col("l_suppkey").as("suppkey"), col("l_partkey").as("partkey"))
      .agg(max(col("l_quantity")).as("max_qty"))
      .filter(col("max_qty") <= 25)
      .select(col("suppkey")).distinct()
      .join(supplier, col("suppkey") === col("s_suppkey"))
      .select(col("suppkey"), col("s_name").as("name"))
  }

  /** Task G (reference TaskG.java:144-155): per-key MAX(timestamp), a
    * global MAX (the reference smuggles it through a __GLOBAL_MAX__
    * sentinel key + an HDFS re-read, TaskG.java:162-186), and a ≥14-day
    * inactivity filter where never-active entities qualify too
    * (TaskG.java:146-150). Here the global max is a 1-row aggregate
    * crossJoined into the plan (broadcast NL join) — no sentinel, no
    * file round-trip, one lazy DAG.
    * The reference's Duration.toDays() >= 14 truncates whole 24h periods
    * — equivalent to last_ts <= ref_ts - 14 days, which both Spark and
    * the DuckDB oracle evaluate identically on timestamps (SURVEY.md
    * §2.6 note).
    */
  def taskGInactive(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val events   = Tables.events(spark, dir)
    val last = events.groupBy(col("user_id")).agg(max(col("ts")).as("last_ts"))
    val ref  = events.agg(max(col("ts")).as("ref_ts"))
    customer
      .join(last, customer("c_custkey") === last("user_id"), "left")
      .crossJoin(broadcast(ref))
      .filter(col("last_ts").isNull || col("last_ts") <= col("ref_ts") - expr("INTERVAL 14 DAYS"))
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
  }

  /** Task H (reference TaskH.java:85-109): per-key count compared against
    * the average of those counts — denominator is keys-with-≥1-edge, not
    * all keys (computeAverage counts only emitted lines,
    * TaskH.java:123-133). The scalar average stays IN-PLAN as a 1-row
    * aggregate crossJoin (the reference re-reads job-1 output from HDFS
    * and ships the scalar via job Configuration, TaskH.java:114-134,171).
    * Realization: customers with more orders than the average order
    * count among customers having orders.
    */
  def taskHAboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val oc  = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val avgDf = oc.agg(avg(col("n_orders")).as("avg_orders"))
    oc.join(customer, col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(avgDf))
      .filter(col("n_orders") > col("avg_orders"))
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"), col("n_orders"))
  }

  /** TPC-H Q5-style regional revenue: a six-table join chain
    * (region → nation → customer → orders → lineitem → supplier) with
    * the local-supplier condition (supplier in the customer's nation).
    * Join-order posture for 100 TB: the two bounded dimensions
    * (region, nation) are broadcast; the fact-side chain joins
    * customer → orders → lineitem on their keys, then supplier. The
    * revenue sum goes through DECIMAL for oracle hash-stability.
    */
  def q5RegionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region   = Tables.region(spark, dir)
    val nation   = Tables.nation(spark, dir)
    val customer = Tables.customer(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val li       = Tables.lineitem(spark, dir)
    val supplier = Tables.supplier(spark, dir)
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        nation("n_regionkey") === col("r_regionkey"))
      .join(orders, customer("c_custkey") === orders("o_custkey"))
      .join(li, orders("o_orderkey") === li("l_orderkey"))
      .join(supplier,
        li("l_suppkey") === supplier("s_suppkey") &&
          supplier("s_nationkey") === customer("c_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q6 forecasting revenue change: the pure scan-filter-agg
    * probe — every predicate (ship-year window, discount band, quantity
    * cap) sits directly on scan columns, so the whole query is one
    * pushed-down filtered scan plus a two-phase scalar aggregate;
    * `.explain` shows the three predicates inside `PushedFilters`. The
    * query the reference's map-only jobs approximate, with zero reduce
    * work beyond one partial row per partition.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        year(col("l_shipdate").cast("timestamp")) === 1997 &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24.0)
      .agg(
        sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q19-shaped disjunctive-predicate revenue: OR-of-ANDs over
    * brand × size × quantity bands — the optimizer stress case where a
    * naive engine evaluates each branch as its own scan+union. Planned
    * here as ONE part⋈lineitem join with the disjunction as a single
    * residual filter: the shared conjuncts (join key) stay factored,
    * the branch predicates on `part` columns prune the broadcast side,
    * and the fact table is read once.
    */
  def q19DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1.0, 20.0)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10.0, 35.0)))
      .groupBy(col("p_brand").as("brand"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q7 volume shipping: bilateral trade between two nations,
    * per (supplier nation, customer nation, ship year). Both nation
    * dimensions pre-filter to the two parties BEFORE touching facts —
    * the broadcast joins then act as semi-join reducers on lineitem
    * and customer, so only the two nations' rows ever reach the
    * fact-fact joins (at 25 nations that is a ~99% fact-row kill
    * before any shuffle). The yearly rollup groups a 2×2×years-bounded
    * key; revenue sums in DECIMAL for hash-stable doubles.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val parties = Seq("NATION_1", "NATION_2")
    def nations(kc: String, nc: String) =
      Tables.nation(spark, dir).filter(col("n_name").isin(parties: _*))
        .select(col("n_nationkey").as(kc), col("n_name").as(nc))
    val li   = Tables.lineitem(spark, dir)
    val sup  = Tables.supplier(spark, dir)
    val ord  = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    li
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nations("s_nk", "supp_nation")), col("s_nationkey") === col("s_nk"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nations("c_nk", "cust_nation")), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .select(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate").cast("timestamp")).cast("long").as("l_year"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("vol"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("vol")).cast("double").as("revenue"), count(lit(1)).as("n_items"))
  }

  /** Dimension-side anti-join: parts that never appear in any lineitem,
    * counted per brand. The anti-join runs directly on the join key —
    * no pre-distinct pass (anti semantics already dedupe the probe
    * side), so lineitem contributes one pruned column to one exchange.
    */
  def partsNeverShipped(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    part
      .join(li, part("p_partkey") === li("l_partkey"), "left_anti")
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_unsold"), min(col("p_partkey")).as("min_partkey"))
  }

  /** Full-outer reconciliation: per-nation customer and supplier
    * counts side by side, keeping nations that have only one of the
    * two (the report shape that audits two fact populations against
    * each other). Both sides pre-aggregate to one row per nation before
    * the full join, so the outer join is dimension-sized.
    */
  def nationBalanceFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cc = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_customers"))
    val sc = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_suppliers"))
    cc.join(sc, Seq("nk"), "full_outer")
      .select(
        col("nk").cast("long").as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }

  /** Left-semi existence filter: nations having at least one customer
    * with an order — semi joins keep the probe side untouched (no
    * duplication, no columns from the build side), the plan shape for
    * "EXISTS" at scale.
    */
  def nationsWithOrdersSemi(spark: SparkSession, dir: String): DataFrame = {
    val nation   = Tables.nation(spark, dir)
    val customer = Tables.customer(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val active = customer.join(orders,
      customer("c_custkey") === orders("o_custkey"), "left_semi")
    nation.join(active, nation("n_nationkey") === active("c_nationkey"), "left_semi")
      .select(col("n_nationkey").cast("long").as("nationkey"), col("n_name").as("name"))
  }

  /** Market-basket co-occurrence: part pairs appearing in the same
    * order, counted across orders. One groupBy collects each order's
    * distinct sorted part set (dedup rides the aggregation — no separate
    * DISTINCT exchange), the a<b pairs are generated map-side from the
    * sorted array, and a second groupBy counts pairs: two exchanges
    * total, versus four for the naive distinct + self-join + count plan
    * (the self-join re-shuffles both sides from (order,part) to order).
    * Pair fanout stays bounded by order size squared — per-group
    * quadratic, never corpus-quadratic, which is what keeps basket
    * analysis tractable at 100 TB.
    */
  def copurchasePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        // ps is sorted+distinct, so nested prefix×suffix = exactly the a<b pairs
        """flatten(transform(ps, (x, i) ->
           transform(slice(ps, i + 2, size(ps) - i - 1),
                     y -> struct(x AS part_a, y AS part_b))))""")).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)

  /** Association lift over the co-purchase pairs: how much more often
    * parts a and b share an order than independence predicts,
    * lift = P(ab) / (P(a)·P(b)) = n_ab·N / (n_a·n_b). Everything but
    * the final ratio stays in exact integers: the pair table reuses
    * [[copurchasePairs]]' sorted-set explode, per-part order counts
    * come off the same per-order part sets, and the order total N is a
    * 1-row broadcast scalar. n_ab·N tops out near |orders|² — under
    * 2⁶³ until ~3·10⁹ orders, far past this schema's realistic reach.
    * The per-part count table joins twice (once per endpoint); both
    * probes are key-partitioned hash joins on the part id.
    */
  def partPairLift(spark: SparkSession, dir: String): DataFrame = {
    // persisted: three consumers (per-part counts, the 1-row order
    // total, the pair explode) otherwise each re-run the lineitem
    // scan + collect_set aggregate — the query's dominant pass (§2.4)
    val orderSets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perPart = orderSets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n_part"))
    val total = orderSets.agg(count(lit(1)).as("n_orders_total"))
    orderSets
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
           transform(slice(ps, i + 2, size(ps) - i - 1),
                     y -> struct(x AS part_a, y AS part_b))))""")).as("p"))
      .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
      .join(perPart.withColumnRenamed("n_part", "n_a"), col("part_a") === col("pk"))
      .drop("pk")
      .join(perPart.withColumnRenamed("n_part", "n_b"), col("part_b") === col("pk"))
      .drop("pk")
      .crossJoin(broadcast(total))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab") * col("n_orders_total")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Per-brand price~quantity OLS: slope and intercept of extended
    * price (exact cents) against quantity, fitted independently per
    * brand — the closed-form regression a pricing pipeline publishes
    * nightly. Both coordinates quantize to exact integers BEFORE any
    * aggregation (quantity is integral in this schema; price → cents
    * via floor·100), so the five power sums are order-free BIGINTs and
    * the slope/intercept are two deterministic double expressions per
    * output row. Σxy tops out near qty·cents·rows ≈ 5·10¹⁴ at sf0.1 —
    * room for ~10⁴× more rows before BIGINT pressure. One shuffle
    * (brand rollup), part dim broadcast.
    */
  def priceQuantityOls(spark: SparkSession, dir: String): DataFrame = {
    val brands = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * lit(100.0)).cast("long").as("y"))
      .join(broadcast(brands), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_cents_per_unit",
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("intercept_cents",
        (col("sy").cast("double") - col("slope_cents_per_unit")
          * col("sx").cast("double")) / col("n").cast("double"))
      .select(col("p_brand"), col("n"), col("slope_cents_per_unit"),
        col("intercept_cents"))
  }

  /** Whole-warehouse profile: one row per table with its row count,
    * distinct primary-key count and PK null count — the
    * ingest-freshness dashboard that catches duplicate-key loads
    * (n_rows ≠ n_distinct_pk) and null-key corruption the moment a
    * load lands, before any query silently mis-joins. Each table
    * contributes one scalar aggregate (count-distinct is the only
    * exchange, keyed); lineitem profiles its COMPOSITE key. The ten
    * 1-row results union into the report.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    // Composite keys distinct over a STRUCT: Spark's multi-arg
    // countDistinct drops a row when ANY component is NULL, while the
    // oracle's row-value count(DISTINCT (a,b)) keeps it — and a
    // null-component key is exactly the corruption this profile exists
    // to flag. struct() is never NULL, so both engines agree.
    def prof(name: String, df: DataFrame, pk: Seq[String]): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        (if (pk.size == 1) countDistinct(col(pk.head))
         else countDistinct(struct(pk.map(col): _*))).as("n_distinct_pk"),
        sum(when(pk.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L))
          .as("n_null_pk"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("n_distinct_pk"), col("n_null_pk"))
    Seq(
      prof("region", Tables.region(spark, dir), Seq("r_regionkey")),
      prof("nation", Tables.nation(spark, dir), Seq("n_nationkey")),
      prof("customer", Tables.customer(spark, dir), Seq("c_custkey")),
      prof("supplier", Tables.supplier(spark, dir), Seq("s_suppkey")),
      prof("part", Tables.part(spark, dir), Seq("p_partkey")),
      prof("orders", Tables.orders(spark, dir), Seq("o_orderkey")),
      prof("lineitem", Tables.lineitem(spark, dir),
        Seq("l_orderkey", "l_linenumber")),
      prof("events", Tables.events(spark, dir), Seq("event_id")),
      prof("documents", Tables.documents(spark, dir), Seq("doc_id")),
      prof("embeddings", Tables.embeddings(spark, dir), Seq("vec_id")))
      .reduce(_ unionAll _)
  }

  /** Referential-integrity audit across every FK edge in the star
    * schema: per edge, how many distinct FK values exist and how many
    * dangle (no match on the PK side) — the ingest-gate report that
    * catches a truncated dim load before queries silently drop rows.
    * Each edge distincts the FK column FIRST (the aggregate collapses
    * fact-table volume to key cardinality before any join) and probes
    * the dim with a LEFT ANTI join; dims broadcast. The seven 1-row
    * summaries union into one narrow report.
    */
  def referentialIntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, fk: DataFrame, fkCol: String,
             pk: DataFrame, pkCol: String): DataFrame = {
      // NULL FKs are excluded to match SQL count(DISTINCT fk) semantics —
      // otherwise a single NULL FK (the ingest-corruption case this audit
      // targets) would inflate n_keys and n_orphans by 1 vs the oracle.
      val keys = fk.select(col(fkCol)).where(col(fkCol).isNotNull).distinct()
      val orphans = keys.join(broadcast(pk.select(col(pkCol))),
        col(fkCol) === col(pkCol), "left_anti")
      keys.agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
        .select(lit(name).as("edge"), col("n_keys"), col("n_orphans"))
    }
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    Seq(
      edge("lineitem.orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
      edge("lineitem.partkey->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      edge("lineitem.suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
      edge("orders.custkey->customer", ord, "o_custkey", cust, "c_custkey"),
      edge("customer.nationkey->nation", cust, "c_nationkey", nat, "n_nationkey"),
      edge("supplier.nationkey->nation", supp, "s_nationkey", nat, "n_nationkey"),
      edge("nation.regionkey->region", nat, "n_regionkey",
        Tables.region(spark, dir), "r_regionkey"))
      .reduce(_ unionAll _)
  }

  /** Deterministic Poisson bootstrap of total revenue: 32 resampled
    * totals whose spread IS the standard error of the headline number —
    * the only way to put error bars on a 100 TB aggregate without a
    * second pass or distributional assumptions. Each (row, replicate)
    * draws a Poisson(1) weight by inverting the CDF against a
    * uniform md5 hash — deterministic, engine-reproducible, and
    * embarrassingly parallel (the classic streaming-bootstrap trick;
    * a true multinomial resample would need global coordination).
    * Replicate fanout is a 32-element literal explode inside codegen;
    * the rollup is 32 groups of DECIMAL sums.
    */
  def revenueBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val reps = 32
    // P(Poisson(1) ≤ k)·10⁶ for k = 0..5 (≥6 treated as 6: the tail
    // above 10⁻⁴ of mass is irrelevant to a variance estimate)
    val cdf = Array(367879L, 735758L, 919698L, 980947L, 996259L, 999999L)
    // All 32 replicate draws run in ONE native kernel call per fact row
    // ([[graft.functions.PoissonBootWeights]]): the old shape exploded
    // a replicate literal and evaluated a codegen'd
    // md5(concat_ws(…)) → conv(substring) → CDF CASE chain per
    // (row, replicate) — 19M digest+hex+parse round-trips at sf0.1.
    // The kernel reuses one MessageDigest, builds the ":okey:lineno"
    // suffix once per row, reads u straight off the digest's top 28
    // bits (≡ the 7-hex-char conv) and walks the same ≤-threshold
    // table — identical u, identical weights, identical DECIMAL sums,
    // so the oracle replays unchanged.
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
      // spread BEFORE the weight pass: the per-row 32-draw kernel is
      // the dominant cost, and without this it inherits the SCAN's
      // partitioning — a compact input (one file / one row group)
      // would serialize every draw onto one core (measured: 17.9s
      // single-task vs ~2s spread at sf0.1, pre-kernel). The shuffle
      // moves only the narrow 3-column rows; sums are exact DECIMAL,
      // so the round-robin layout can't move the result.
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("rev"),
        posexplode(graft.functions.functions.poisson_boot_weights(
          col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
          "boot", reps, cdf)))
      .groupBy(col("pos").cast("long").as("rep"))
      .agg(sum(col("rev") * col("col")).cast("double").as("boot_revenue"))
  }

  /** Brand × type independence test: the R×C chi-square over the part
    * catalog's contingency table — "is brand mix independent of type"
    * generalizes the 2×2 A/B readout to arbitrary categorical pairs.
    * Margins are window sums over the |brands|·|types|-bounded cell
    * table, the grand total a 1-row broadcast; each cell emits its
    * exact observed count plus the double expected/χ² terms, computed
    * identically on both engines from exact integers.
    */
  def brandTypeChi2(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.part(spark, dir)
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_obs"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("p_brand"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("p_type"))
    val total = cells.agg(sum(col("n_obs")).as("n_total"))
    cells
      .withColumn("n_brand", sum(col("n_obs")).over(wb))
      .withColumn("n_type", sum(col("n_obs")).over(wt))
      .crossJoin(broadcast(total))
      .withColumn("expected",
        col("n_brand").cast("double") * col("n_type").cast("double")
          / col("n_total").cast("double"))
      .select(col("p_brand"), col("p_type"), col("n_obs"), col("expected"),
        ((col("n_obs").cast("double") - col("expected"))
          * (col("n_obs").cast("double") - col("expected")) / col("expected"))
          .as("chi2_term"))
  }

  /** Cohort LTV curves: cumulative revenue per first-order cohort by
    * month offset — the unit-economics table behind "when does a
    * cohort pay back". Cohorts key on the epoch-month of each
    * customer's FIRST order (one keyed min aggregate); revenue rolls
    * up per (cohort, offset) in DECIMAL and accumulates with a
    * running window over the calendar-bounded curve table. Integer
    * month math end to end — no date truncation surface.
    */
  def ordersCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val monthUs = 30L * 86400L * 1000000L
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr(s"unix_micros(o_orderdate) div ${monthUs}L").as("m"),
        col("o_totalprice").cast("decimal(18,2)").as("rev"))
    val cohorts = o.groupBy(col("o_custkey").as("ck"))
      .agg(min(col("m")).as("cohort_month"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_month")).orderBy(col("month_offset"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    o.join(cohorts, col("o_custkey") === col("ck"))
      .groupBy(col("cohort_month"), (col("m") - col("cohort_month")).as("month_offset"))
      .agg(count(lit(1)).as("n_orders"), sum(col("rev")).as("rev_dec"))
      .withColumn("cum_rev_dec", sum(col("rev_dec")).over(w))
      .select(col("cohort_month"), col("month_offset"), col("n_orders"),
        col("rev_dec").cast("double").as("revenue"),
        col("cum_rev_dec").cast("double").as("cumulative_revenue"))
  }

  /** Week-over-week growth accounting: weekly order counts and DECIMAL
    * revenue with the previous week's figures carried by a lag window
    * over the ≤ |weeks|-row rollup, plus integer-basis-point growth
    * ((cur−prev)·10⁴ div prev — exact, no float drift in the headline
    * metric). First week reports NULL growth rather than a fake 0.
    * One fact-scale aggregate; everything after is bounded by the
    * calendar.
    */
  def ordersWowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("week"))
    Tables.orders(spark, dir)
      .select(expr(s"unix_micros(o_orderdate) div ${weekUs}L").as("week"),
        col("o_totalprice").cast("decimal(18,2)").as("rev"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_orders"), sum(col("rev")).as("rev_dec"))
      .withColumn("prev_orders", lag(col("n_orders"), 1).over(w))
      .select(col("week"), col("n_orders"),
        col("rev_dec").cast("double").as("revenue"),
        when(col("prev_orders").isNotNull,
          expr("((n_orders - prev_orders) * 10000L) div prev_orders"))
          .as("growth_bps"))
  }

  /** Order-cadence regularity classes: each customer's inter-order
    * gaps classified by the squared coefficient of variation —
    * cv² < ¼ reads as subscription-like clockwork, cv² ≥ 1 as bursty
    * (a Poisson process sits exactly at 1) — the renewal-process
    * triage behind churn models and replenishment forecasts. The cv²
    * thresholds evaluate as integer cross-multiplications over exact
    * gap power sums (4·(m·Σg²−(Σg)²) vs (Σg)²), so no boundary
    * customer flips on a float; single-gap customers report
    * 'insufficient' rather than a fake class. One lag window keyed by
    * customer, one 4-row rollup.
    */
  def customerOrderRegularity(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("day"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        expr(s"unix_micros(o_orderdate) div ${dayUs}L").as("day"))
      .withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), (col("day") - col("prev")).as("g"))
    gaps.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("m"), sum(col("g")).as("s"),
        sum(col("g") * col("g")).as("s2"))
      .select(
        when(col("m") < 2 || col("s") === 0, lit("insufficient"))
          .when((col("m") * col("s2") - col("s") * col("s")) * 4
            < col("s") * col("s"), lit("regular"))
          .when(col("m") * col("s2") - col("s") * col("s")
            < col("s") * col("s"), lit("moderate"))
          .otherwise(lit("bursty")).as("cadence_class"))
      .groupBy(col("cadence_class"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Mixed-granularity revenue report via GROUPING SETS — the exact
    * construct CUBE and ROLLUP can't express: per-priority totals,
    * per-status totals, and the grand total in ONE pass, but NOT the
    * priority×status cross that a CUBE would needlessly compute.
    * `grouping_id` disambiguates aggregated-out NULLs from data
    * NULLs. One scan, one partial-aggregated exchange — Spark expands
    * the sets map-side, so the shuffle carries one partial row per
    * (set, key), not one pass per set.
    */
  def ordersGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.createOrReplaceTempView("orders_gs")
    o.sparkSession.sql(
      """SELECT o_orderpriority, o_orderstatus,
               CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT)
                 AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
         FROM orders_gs
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")
  }

  /** Relative standing of each customer's balance WITHIN its nation:
    * percent_rank (share of peers strictly below) and cume_dist
    * (share at-or-below) over the nation-keyed window — the two rank
    * normalizations a fair per-segment comparison needs, and the two
    * whose ≤-vs-< boundary semantics silently differ (ties share a
    * percent_rank but advance cume_dist together; the spec pins
    * both). Both are exact rational values of integer ranks — no
    * estimator, no sort beyond the keyed partition.
    */
  def customerBalancePctrank(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"), col("c_custkey"))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nationkey"),
        col("c_acctbal"),
        percent_rank().over(wt).as("pct_rank"),
        cume_dist().over(wt).as("cum_dist"),
        row_number().over(w).cast("long").as("rn"))
  }

  /** Trailing-7-day revenue per order via a RANGE window frame — the
    * frame type ROWS can't express: "everything within 7 calendar
    * days", however many orders that is. The frame is keyed per
    * customer and ordered by the exact integer epoch-day, so the
    * range bound is integer arithmetic; revenue accumulates in
    * DECIMAL inside the frame. Same-day orders all see the same
    * trailing total (RANGE groups peers — the semantics ROWS would
    * get wrong), which is what makes the oracle comparison exact.
    */
  def ordersTrailing7dRevenue(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr(s"unix_micros(o_orderdate) div ${dayUs}L").as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("rev"))
      .withColumn("trailing_7d_dec", sum(col("rev")).over(w))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        col("rev").cast("double").as("revenue"),
        col("trailing_7d_dec").cast("double").as("trailing_7d_revenue"))
  }

  /** Basket-size histogram with the pair-fanout budget: orders banded
    * by log2 of their distinct-part count, each band carrying the
    * Σ b·(b−1)/2 pair contributions its orders would explode into —
    * the EXACT row count [[copurchasePairs]]' flatten-transform emits,
    * read BEFORE running it. A drifting top band is the early warning
    * that a mega-basket is about to quadratically dominate the
    * pair/triangle pipeline. One (order) aggregate; ≤ 64-row rollup.
    */
  def basketSizeHist(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_partkey")).as("b"))
      .groupBy((length(bin(col("b"))) - 1).cast("long").as("band"))
      .agg(count(lit(1)).as("n_orders"),
        max(col("b")).as("max_basket"),
        sum(col("b") * (col("b") - 1) / 2).cast("long").as("pair_budget"))

  /** Revenue concentration in the top-10 customers: the whale share
    * that decides whether per-customer partitioning needs salting and
    * how much one churned account moves the topline. The top side is
    * a `TakeOrderedAndProject` (per-partition heaps — no global
    * sort); deterministic under revenue ties by the customer-key
    * tiebreak; the denominator is the usual 1-row broadcast scalar.
    * DECIMAL sums end to end, one double division in the report.
    */
  def customerRevenueTopnShare(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_dec"))
    val total = perCust.agg(sum(col("rev_dec")).as("total_dec"))
    perCust
      .orderBy(col("rev_dec").desc, col("o_custkey"))
      .limit(10)
      .agg(count(lit(1)).as("n_top"), sum(col("rev_dec")).as("top_dec"))
      .crossJoin(broadcast(total))
      .select(col("n_top"),
        col("top_dec").cast("double").as("top_revenue"),
        col("total_dec").cast("double").as("total_revenue"),
        (col("top_dec").cast("double") / col("total_dec").cast("double"))
          .as("top_share"))
  }

  /** Degree distribution of the co-purchase graph, log2-banded — the
    * first thing to read before ANY graph algorithm runs at scale:
    * the top band's width bounds triangle/PageRank fanout, and a
    * drifting histogram flags when a super-node is forming. Each
    * canonical a<b edge contributes one degree to both endpoints via
    * a 2-element struct-array explode (no union-of-two-scans); bands
    * come from exact binary digit counts.
    */
  def graphDegreeHist(spark: SparkSession, dir: String): DataFrame =
    copurchasePairs(spark, dir)
      .select(explode(array(col("part_a"), col("part_b"))).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("degree"))
      .groupBy((length(bin(col("degree"))) - 1).cast("long").as("band"))
      .agg(count(lit(1)).as("n_parts"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"))

  /** Fulfillment-lag profile per order priority: ship date minus order
    * date in whole days, rolled up with exact integer sums plus an
    * early-ship anomaly count (negative lags — data-quality signal in
    * this synthetic feed, SLA breach radar in a real one). Day lags
    * use truncating integer division, which Spark's `div` and
    * DuckDB's `//` agree on for NEGATIVE operands too (both
    * truncate toward zero — verified, not assumed). One orderkey
    * join; orders project to (key, priority, date) before it.
    */
  def orderFulfillmentLag(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        unix_micros(col("o_orderdate")).as("order_us"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), unix_micros(col("l_shipdate")).as("ship_us"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        expr("(ship_us - order_us) div 86400000000L").as("lag_days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        min(col("lag_days")).as("min_lag_days"),
        max(col("lag_days")).as("max_lag_days"),
        sum(col("lag_days")).as("sum_lag_days"),
        sum(when(col("lag_days") < 0, 1L).otherwise(0L)).as("n_early"))
      .withColumn("mean_lag_days",
        col("sum_lag_days").cast("double") / col("n_lines").cast("double"))
  }

  /** Supplier-concentration HHI per part type: Σ(supplier share)² of
    * shipped quantity — the market-concentration scalar (1/n_suppliers
    * = perfectly spread, 1.0 = single-sourced) a supply-chain review
    * reads before a part family becomes a single point of failure.
    * Quantities are integral in this schema, so Σq and Σq² are exact
    * BIGINTs off one (type, supplier) aggregate; the HHI is one
    * deterministic double expression per ≤ |types| output row.
    */
  def supplierShareHhi(spark: SparkSession, dir: String): DataFrame = {
    val kinds = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity").cast("long").as("q"))
      .join(broadcast(kinds), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(col("q")).as("qs"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("qs")).as("total_qty"),
        sum(col("qs") * col("qs")).as("s2"))
      .select(col("p_type"), col("n_suppliers"),
        (col("s2").cast("double")
          / (col("total_qty").cast("double") * col("total_qty").cast("double")))
          .as("hhi"))
  }

  /** RFM customer segmentation on exact integer coordinates: recency
    * (days since last order, against the corpus max date), frequency
    * (order count) and monetary (total cents) each band by BINARY
    * DIGIT COUNT — the log2 pyramid that needs no quantile sort and
    * never moves with corpus growth, unlike percentile-edged bands
    * that re-segment every customer when the distribution shifts. One
    * keyed customer rollup; the corpus max date is a 1-row broadcast;
    * the segment report groups ≤ r·f·m band combinations.
    */
  def customerRfm(spark: SparkSession, dir: String): DataFrame = {
    def band(c: org.apache.spark.sql.Column) = (length(bin(c)) - 1).cast("long")
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(floor(col("o_totalprice") * lit(100.0)).cast("long"))
          .as("monetary_cents"))
    val maxDate = perCust.agg(max(col("last_order")).as("corpus_max"))
    perCust.crossJoin(broadcast(maxDate))
      .withColumn("recency_days",
        expr("(unix_micros(corpus_max) - unix_micros(last_order)) div 86400000000L"))
      .groupBy(concat_ws("-",
          band(col("recency_days") + 1), band(col("frequency")),
          band(col("monetary_cents"))).as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary_cents")).as("segment_cents"))
  }

  /** Ratio-to-parent revenue share: each nation's slice of its
    * region's revenue, computed with a window sum over the region
    * prefix of the already-aggregated (region, nation) rollup — the
    * OLAP share-of-parent idiom with NO second aggregate and NO join
    * back. The window re-partitions only the ≤ |nations|-row summary;
    * the one fact-scale exchange is the rollup itself. DECIMAL
    * revenue; the share divides once per output row.
    */
  def nationRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val natRegion = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val custNation = Tables.customer(spark, dir)
      .join(broadcast(natRegion), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("r_name"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice").cast("decimal(18,2)").as("rev"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("rev")).as("nation_rev"))
      .withColumn("region_rev", sum(col("nation_rev")).over(w))
      .select(col("r_name"), col("n_name"),
        col("nation_rev").cast("double").as("nation_revenue"),
        col("region_rev").cast("double").as("region_revenue"),
        (col("nation_rev").cast("double") / col("region_rev").cast("double"))
          .as("share"))
  }

  /** Triangle count over the co-purchase graph — the classic
    * distributed graph-analytics kernel. Edges are the a<b co-purchase
    * pairs (already canonically oriented), so each triangle {a<b<c} is
    * found exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c): the
    * orientation IS the standard degree-ordering trick that keeps the
    * wedge join from double-counting and bounds fanout by out-degree.
    * Scale shape: two hash joins on edge endpoints (never vertices ×
    * vertices) over the already-thresholded pair table, then a global
    * count — shuffle keys are ids, volumes are edge-scale.
    */
  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchasePairs(spark, dir)
      .select(col("part_a").as("a"), col("part_b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e1.b").as("wb"), col("e2.b").as("wc"))
    wedges
      .join(e.as("e3"), col("wa") === col("e3.a") && col("wc") === col("e3.b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Integer-exact PageRank (damping 0.85, `iters` synchronous rounds)
    * over an UNDIRECTED edge list — the link-analysis kernel of
    * web-corpus curation (CommonCrawl-lineage pipelines rank domains
    * by centrality to gate crawl quality). Ranks are micro-units
    * (1 000 000 = rank 1.0) and every step is integer: per-edge
    * contribution `r div deg`, damped update
    * `150000 + (850000·inflow) div 1000000` — floor division sheds
    * ≤ 1 micro-unit per term, deterministically, so both engines
    * compute bit-identical ranks with no float accumulation anywhere
    * (the standard double formulation cannot cross the oracle's hash
    * compare; headroom: inflow ≤ deg_max·10⁶, ×850000 ≪ 2⁶³).
    *
    * Scale shape (Pregel-in-SQL): the symmetrized edge list is
    * hash-partitioned by src once and persisted; each round is one
    * co-partitioned rank join plus one partial-agg'd inflow groupBy —
    * shuffle volume is edge-scale per round, vertex-scale for the
    * update, nothing iterates on the driver. Vertices outside the edge
    * list have no inflow and no outflow; the rank vector covers the
    * graph's vertex set (isolated ids sit at the teleport floor by
    * definition and are not materialized).
    */
  /** Frees the storage blocks of a localCheckpoint'd Dataset
    * deterministically. `Dataset.unpersist` only clears CacheManager
    * entries — a local checkpoint's blocks live on the underlying
    * RDD inside the plan's `LogicalRDD` leaf and are otherwise freed
    * only when the ContextCleaner GCs the reference, so an iterative
    * loop would accumulate every round's vertex-scale blocks until an
    * opportunistic GC. Non-blocking. The invariant is structural, not
    * documentation: only the plan ROOT is matched, which is a
    * `LogicalRDD` exactly when `df` IS the Dataset `localCheckpoint()`
    * returned (the checkpoint wraps its RDD as the entire plan). A
    * derived plan that merely EMBEDS some RDD-backed leaf — where
    * unpersisting could destroy the only block copy of an unrelated
    * lineage-truncated RDD still in use elsewhere — has a non-leaf
    * root and is a no-op here.
    */
  private[operators] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  def pagerank(edges: DataFrame, iters: Int = 2): DataFrame = {
    // Symmetrize via explode, not self-union: `edges` arrives as an
    // UN-persisted pair pipeline (copurchasePairs), so a
    // `edges.union(edges.select(flip))` evaluates that pipeline once
    // per branch inside the sym materialization — and even over a
    // cached input the analyzer's relation-dedup rewrite defeats cache
    // substitution for the second branch (measured 27 MB of re-paid
    // pair generation on `dedup_components` before the same fix in
    // Dedup.propagateMinLabels). One scan, same row multiset.
    val sym = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The per-vertex degree is CARRIED as a column of the rank vector
    // instead of living in its own persisted table joined back every
    // round: deg(id) is loop-invariant, so folding it into the
    // checkpointed (id, r, deg) rows removes one vertex-scale join
    // (and its broadcast/exchange stage) from every round's plan
    // (§2.4) — the update arithmetic is unchanged, only where `deg`
    // rides. The init evaluates once inside round 1's checkpoint.
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var ranks = deg.select(col("src").as("id"), lit(1000000L).as("r"), col("deg"))
    var prevCk: Option[DataFrame] = None
    (1 to iters).foreach { _ =>
      val inflow = sym.join(ranks, col("src") === col("id"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      // localCheckpoint (eager): materializes the round AND truncates
      // its lineage to an in-memory leaf. Each round references its
      // predecessor twice (directly + via inflow), so a persist-only
      // chain keeps a LOGICAL plan that doubles per iteration — the
      // cache serves execution, but plan construction, canonicalization
      // and stringification (persist() itself prints the plan for the
      // cache name) go exponential in the round count. Truncation caps
      // plan size and recompute at per-round constant. (Cluster caveat:
      // localCheckpoint trades executor-loss recovery for speed — a
      // reliable checkpoint dir restores it at the same plan shape.)
      ranks = ranks.select(col("id"), col("r"), col("deg"))
        .join(inflow, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(150000L) + expr("(850000 * coalesce(inflow, 0L)) div 1000000")).as("r"),
          col("deg"))
        .localCheckpoint()
      // the new round is materialized (eager checkpoint), so the
      // predecessor's blocks are dead — free them now instead of
      // waiting for the ContextCleaner to notice the dropped reference
      prevCk.foreach(freeLocalCheckpoint)
      prevCk = Some(ranks)
    }
    if (iters > 0) sym.unpersist(blocking = false)
    ranks.select(col("id"), col("r"))
  }

  /** Per-round convergence telemetry for [[pagerank]]: for each of
    * `rounds` synchronous updates over the co-purchase graph, the max
    * absolute micro-unit rank change and the number of vertices whose
    * rank moved — the termination evidence for the fixed-round
    * formulation (damping 0.85 contracts the update, so
    * max_delta_micro must shrink ~geometrically; a corpus where it
    * doesn't is flagged by this query, not silently mis-ranked).
    *
    * The rank rounds run exactly [[pagerank]]'s distributed loop
    * (same persisted edge partitioning, same integer update); the
    * previous rank rides the round update as a carried column, so the
    * per-round delta is a 1-row scalar aggregate over a RESCAN of the
    * round's checkpointed leaf — no old-vs-new self-join, no extra
    * shuffle. The checkpoint is lazy: the delta aggregate is the one
    * job that both materializes the round and collects its telemetry
    * (collected like [[Dedup.dedupComponents]]'s convergence sums) —
    * every rank stays distributed. Integer-exact end to end, so the
    * DuckDB recursive-CTE oracle replays it hash-for-hash.
    */
  def pagerankDeltas(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame =
    pagerankDeltasOf(
      copurchasePairs(spark, dir)
        .select(col("part_a").as("src"), col("part_b").as("dst")),
      rounds)

  private[graft] def pagerankDeltasOf(edges: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // explode-symmetrize for the same single-evaluation reason as
    // [[pagerank]] — the telemetry twin must pay the identical cost
    val sym = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // degree carried as a rank-vector column, as in [[pagerank]] — one
    // fewer vertex-scale join per round
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // localCheckpoint per round, exactly like [[pagerank]]'s loop: the
    // delta self-join references BOTH rounds, so a persist-only chain
    // triples its logical plan per round — at the registered rounds=8
    // the plan string alone (persist prints it for the cache name) goes
    // exponential. Truncated leaves keep every round's plan constant.
    val ck0 = deg.select(col("src").as("id"), lit(1000000L).as("r"), col("deg"))
      .localCheckpoint()
    var ranks: DataFrame = ck0
    val ckpts = scala.collection.mutable.ListBuffer[DataFrame](ck0)
    val deltas =
      if (ranks.isEmpty) Seq.empty[(Long, Long, Long)]
      else {
        // Per-round delta aggregates are built LAZILY (each over its
        // round's lazy checkpoint, `r_prev` riding along so no
        // old-vs-new self-join) and folded by ONE action at the end:
        // the old loop head()-collected each round — 8 sequential
        // driver round-trips, each with its own Catalyst/AQE pass —
        // where one union job materializes the checkpoint chain in
        // lineage order and collects all 8 telemetry rows together
        // (§2.4/§5 — fewer jobs for the same fixpoint). The blocks of
        // all rounds stay live until that action (bounded: rounds ×
        // vertex-scale slim rows, spillable) and are freed explicitly
        // below.
        val deltaFrames = (1 to rounds).map { rnd =>
          val inflow = sym.join(ranks, col("src") === col("id"))
            .select(col("dst"), expr("r div deg").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
          val next = ranks.select(col("id"), col("r"), col("deg"))
            .join(inflow, col("id") === col("dst"), "left")
            .select(col("id"),
              (lit(150000L) + expr("(850000 * coalesce(inflow, 0L)) div 1000000")).as("r"),
              col("r").as("r_prev"), col("deg"))
            .localCheckpoint(eager = false)
          ckpts += next
          ranks = next.select(col("id"), col("r"), col("deg"))
          next.agg(
              coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)).as("md"),
              coalesce(sum(when(col("r") =!= col("r_prev"), 1L).otherwise(0L)), lit(0L)).as("nc"))
            .select(lit(rnd.toLong).as("round"), col("md"), col("nc"))
        }
        deltaFrames.reduce(_ unionAll _).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      }
    // telemetry is collected; no rank vector is returned — free every
    // round's checkpoint blocks deterministically
    ckpts.foreach(freeLocalCheckpoint)
    sym.unpersist()
    deltas.toDF("round", "max_delta_micro", "n_changed")
  }

  /** PageRank over the co-purchase graph ([[copurchasePairs]] edges):
    * part centrality in the basket graph, two exact rounds.
    */
  def copurchasePagerank(spark: SparkSession, dir: String): DataFrame =
    pagerank(copurchasePairs(spark, dir)
      .select(col("part_a").as("src"), col("part_b").as("dst")))
      .select(col("id").as("part"), col("r").as("rank_micro"))

  /** TPC-H Q3 shape (shipping priority): segment-filtered customers,
    * date-bounded orders and lineitems, revenue per order, top-10.
    * Both date filters push into the parquet scans; the revenue sum is
    * DECIMAL (exact → deterministic ordering), with l_orderkey as the
    * tiebreak; the final top-10 compiles to TakeOrderedAndProject, so
    * nothing is ever globally sorted. Dates are emitted as epoch
    * microseconds (the proven cross-engine timestamp encoding).
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    // order/ship dates are TIMESTAMP_NTZ — keep the literal NTZ too
    val cutoff = lit("1998-06-01").cast("timestamp_ntz")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).as("rev_dec"))
      .orderBy(col("rev_dec").desc, col("l_orderkey").asc)
      .limit(10)
      .select(
        col("l_orderkey").as("orderkey"),
        col("rev_dec").cast("double").as("revenue"),
        // NTZ → TZ cast is the identity under the UTC session, so this
        // equals DuckDB's epoch_us over the naive timestamp
        unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"),
        col("o_orderpriority"))
  }

  /** TPC-H Q10 shape (returned-item reporting): customers ranked by
    * revenue lost to returns in a date window — lineitem filtered to
    * `l_returnflag = 'R'` (pushed to the scan), date-bounded orders,
    * revenue pre-aggregated per order key BEFORE the customer join, and
    * the nation dimension broadcast last. DECIMAL(18,4) revenue keeps
    * the ordering and top-20 cut engine-exact (the q3 pattern).
    */
  def q10ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1998-03-01").cast("timestamp_ntz")
    val hi = lit("1998-06-01").cast("timestamp_ntz")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).as("rev_dec"))
    rev
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev_dec").desc, col("c_custkey").asc)
      .limit(20)
      .select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        col("n_name").as("nation"),
        col("rev_dec").cast("double").as("revenue"))
  }

  /** TPC-H Q18 shape (large-volume orders): the aggregate-in-HAVING
    * pattern — per-order quantity totals filtered on the aggregate,
    * then enriched with order/customer attributes. The HAVING filter
    * runs on the reduced per-order rows BEFORE the joins, so the join
    * inputs are already thousands-fold smaller than the fact table
    * (quantities are integral-valued doubles → sums are exact).
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300.0)
    big
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("total_qty"))
  }

  /** CUBE over (event_type, value-band): all four grouping combinations
    * (full, per-type, per-band, grand total) in ONE pass — Catalyst
    * expands the cube into a single Expand + hash aggregate, so the
    * fact table is scanned once, not 2ⁿ times. NULL group markers are
    * disambiguated with explicit grouping-ID flags so oracle rows align
    * even if a real group key were NULL.
    */
  def eventsCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), floor(col("value") / 10.0).cast("long").as("band"))
      .cube(col("event_type"), col("band"))
      .agg(
        count(lit(1)).as("cnt"),
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("band")).cast("long").as("g_band"))

  /** Single-pass argmax: the most common brand per part type via
    * `max(struct(cnt, brand))` — one aggregation instead of a ranking
    * window over the grouped table (no sort, no second shuffle; ties
    * break toward the greater brand string, pinned in the oracle's
    * window formulation). The idiom that replaces "top-1 per group"
    * windows at scale.
    */
  def topBrandPerType(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_type"), col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("p_type"))
      .agg(max(struct(col("cnt"), col("p_brand"))).as("m"))
      .select(col("p_type"), col("m.p_brand").as("brand"), col("m.cnt").as("cnt"))

  /** NTILE quartile profiling: customers ranked into four account-
    * balance quartiles (deterministic tiebreak on custkey), then
    * per-quartile population stats. NTILE needs a total order — the
    * global window sort is the one deliberate global-sort operator in
    * the library, and the downstream aggregate reduces it immediately
    * to four rows. (At 100 TB you'd swap the exact NTILE for
    * percentile-threshold bucketing — `events_above_p95` shows that
    * shape; this query keeps the exact-rank semantics for parity with
    * warehouse NTILE reports.)
    */
  def customerQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("quartile"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"))
  }

  /** Market-share proportions: per-brand part counts with each brand's
    * share of the total — the window-after-aggregate shape (a global
    * window over the already-reduced per-brand rows, so the unpartitioned
    * window sees #brands rows, never the fact table). Share is one
    * int/int double division, identical in both engines.
    */
  def brandMarketShare(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.part(spark, dir)
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("share",
        col("n_parts").cast("double") / sum(col("n_parts")).over(w))
  }

  /** Grouping-sets aggregate (ROLLUP over returnflag → linestatus):
    * per-group, per-flag subtotal, and grand-total rows in ONE pass —
    * Catalyst expands the rollup into a single Expand + hash aggregate,
    * not three scans.
    */
  def rollupPricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.rollup(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
  }

  /** Batch MERGE INTO / CDC apply — the lakehouse upsert: a change
    * batch (updates, deletes, inserts) merged into a base table with
    * latest-version-wins semantics. The change feed here is derived
    * deterministically from `orders` (orderkey mod 10: 0–2 → price
    * update, 5 → delete, 3–4 → insert under a shifted key), so the
    * whole merge is oracle-replayable; in production the feed is the
    * CDC stream and the shape is identical.
    *
    * Plan shape: union + per-key `row_number` window (partitioned by
    * the merge key — parallel at any scale) + filter, which is exactly
    * how Delta/Iceberg-style MERGE compiles when change batches
    * overlap base files. No global sort, one exchange on the key.
    */
  def ordersCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val base = o
      .withColumn("version", lit(0L)).withColumn("op", lit("keep"))
    val updates = o.filter(pmod(col("o_orderkey"), lit(10L)) < 3)
      .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
      .withColumn("version", lit(1L)).withColumn("op", lit("U"))
    val deletes = o.filter(pmod(col("o_orderkey"), lit(10L)) === 5)
      .withColumn("version", lit(1L)).withColumn("op", lit("D"))
    val inserts = o.filter(pmod(col("o_orderkey"), lit(10L)).isin(3L, 4L))
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
      .withColumn("version", lit(1L)).withColumn("op", lit("I"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    base.unionAll(updates).unionAll(deletes).unionAll(inserts)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("op"))
  }

  /** TPC-H Q1-style pricing summary — the canonical wide-aggregation
    * bench headline. Money sums go through DECIMAL(18,2) so Spark and
    * the DuckDB oracle produce bit-identical results regardless of
    * floating-point accumulation order (SURVEY.md §7.4 risk 2).
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integral-valued: exact in double
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("n_rows"))
  }

  /** Incremental aggregate maintenance — the materialized-view pattern
    * behind every "daily refresh" pipeline: a standing per-customer
    * aggregate (orders before the 2000-01-01 cutoff) is combined with
    * the aggregate of JUST the new delta batch via a FULL OUTER merge
    * on the group key, never rescanning the base facts. Count merge is
    * addition; sum merges in DECIMAL so the maintained total is
    * bit-identical to a from-scratch recompute (the invariant that
    * makes incremental maintenance trustworthy). At 100 TB the base
    * side is a pre-aggregated standing table (customers-scale, not
    * orders-scale) and only the delta batch is scanned and shuffled —
    * both aggregates and the merge hash on the same key, so AQE plans
    * one co-partitioned exchange chain.
    */
  def ordersDeltaAgg(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2000-01-01").cast("timestamp_ntz")
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
    val base = ord.filter(col("o_orderdate") < cutoff)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_base"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("t_base"))
    val delta = ord.filter(col("o_orderdate") >= cutoff)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_delta"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("t_delta"))
    val zero = lit(0).cast("decimal(18,2)")
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
          .as("n_total"),
        (coalesce(col("t_base"), zero) + coalesce(col("t_delta"), zero))
          .cast("double").as("total_price"))
  }

  /** TPC-H Q4 shape (order priority checking): orders with at least one
    * LATE line (shipped after the order date), counted per priority.
    * The EXISTS subquery is a LEFT SEMI hash join on `l_orderkey` with
    * the non-equi lateness predicate evaluated inside the join — the
    * fact table is never materialized per-order, and the post-semi
    * aggregate runs on the already-reduced order rows. At 100 TB both
    * sides shuffle once on the shared order key; nothing re-expands.
    */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord
      .join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q8 shape (national market share): for PROMO-type parts sold
    * into the ASIA region during 1997–1998, the share of revenue
    * supplied by NATION_12, per order year. The fact table is reduced
    * FIRST (part-type semi filter + date-bounded orders), every
    * dimension (part, supplier, nation, customer→region) broadcasts,
    * and the share is a conditional-sum / sum over one aggregate pass.
    * DECIMAL(18,4) revenue keeps both sums engine-exact; the single
    * double division happens once per year row.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp_ntz")
    val hi = lit("1999-01-01").cast("timestamp_ntz")
    val nat = Tables.nation(spark, dir)
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(nat
          .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)").as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_12", col("rev"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("nation_rev_dec"),
        sum(col("rev")).as("total_rev_dec"))
      .select(
        col("o_year"),
        col("nation_rev_dec").cast("double").as("nation_revenue"),
        col("total_rev_dec").cast("double").as("total_revenue"),
        (col("nation_rev_dec").cast("double") / col("total_rev_dec").cast("double"))
          .as("mkt_share"))
  }

  /** TPC-H Q13 shape (customer order-count distribution): how many
    * customers placed exactly N orders, including N = 0. Orders are
    * pre-aggregated per customer BEFORE the join — the left join then
    * carries one row per customer, not one per order — and the outer
    * distribution aggregate runs over |customers| rows grouped by a
    * small-cardinality count. Both shuffles hash on the customer key.
    */
  def q13Custdist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("c_count"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q15 shape (top supplier): per-supplier revenue over one
    * quarter, keeping the supplier(s) whose revenue equals the global
    * maximum. The max is a 1-row aggregate broadcast back over the
    * per-supplier rows (the reference's Task-H temp-file re-read,
    * SURVEY §2 S5, done in-plan) — no driver round-trip, no second
    * scan of the fact table. DECIMAL revenue makes the `= max` exact;
    * a double compare could drop or duplicate the top row.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1998-01-01").cast("timestamp_ntz")
    val hi = lit("1998-04-01").cast("timestamp_ntz")
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("total_rev_dec"))
    val mx = rev.agg(max(col("total_rev_dec")).as("max_rev"))
    rev
      .crossJoin(broadcast(mx))
      .filter(col("total_rev_dec") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").as("suppkey"), col("s_name").as("name"),
        col("total_rev_dec").cast("double").as("total_revenue"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): for one brand's
    * parts, revenue from lines whose quantity is below 20% of that
    * part's average quantity. The correlated scalar subquery
    * decorrelates into a per-part aggregate joined back to the fact
    * rows — one shuffle on `l_partkey` feeds BOTH the average and the
    * join probe. The threshold compare cross-multiplies
    * (5·qty·cnt < sum) in exact arithmetic instead of dividing, so no
    * engine-specific double rounding can flip a boundary row.
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#11").select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val perPart = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg(sum(col("l_quantity")).as("qty_sum"), count(lit(1)).as("qty_cnt"))
    li.join(perPart, col("l_partkey") === col("ap_partkey"))
      // l_quantity < 0.2 * (qty_sum / qty_cnt), exactly:
      .filter(col("l_quantity") * lit(5.0) * col("qty_cnt") < col("qty_sum"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  /** TPC-H Q22 shape (global sales opportunity): lapsed customers —
    * no orders since 2000-01-01 — whose balance beats the average
    * positive balance, counted per nation. (The classic "no orders
    * ever" predicate is vacuous on this data: every customer has
    * orders, so the anti-join is date-bounded instead; the date filter
    * pushes into the orders scan before the single-column anti probe.)
    * The average-threshold compare is cross-multiplied in DECIMAL
    * (bal·cnt > total) so no double-rounding flips a boundary
    * customer, and the "no recent orders" test is a LEFT ANTI hash
    * join (the reference's Task-F composition, SURVEY §2 J4).
    */
  /** TPC-H Q2 shape (min-cost supplier): for each part of one
    * size/type family, the supplier(s) offering the lowest unit price.
    * The testdata has no `partsupp`, so the offer book is derived from
    * observed lineitem rows: unit price = l_extendedprice / l_quantity
    * (IEEE double division — bit-identical on both engines), MIN'd per
    * (part, supplier) and then per part. Ties keep every tied supplier,
    * as the real Q2 does. One shuffle on (part, supp) feeds the offer
    * aggregate; the per-part MIN is a window over the part prefix of
    * the same key, and the 10-row supplier+nation dim broadcasts.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_type") === "LARGE" && col("p_size") <= 10)
      .select(col("p_partkey"))
    val offers = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"), "left_semi")
      .filter(col("l_quantity") > 0)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    offers
      .withColumn("best", min(col("unit_price")).over(w))
      .filter(col("unit_price") === col("best"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("partkey"), col("s_name").as("supp_name"),
        col("n_name").as("supp_nation"), col("unit_price"))
  }

  /** TPC-H Q9 shape (product-type profit by nation and year): revenue
    * from one part family, rolled up by the supplying nation and ship
    * year. Without `partsupp` the profit term is plain discounted
    * revenue. The part filter broadcasts as a semi join ahead of the
    * fact scan (only matching lines survive to the agg), supplier →
    * nation is a broadcast dim, and the single wide shuffle is the
    * (nation, year) rollup with map-side partials over DECIMAL.
    */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val stdParts = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(spark, dir)
      .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("sum_profit"))
  }

  /** TPC-H Q11 shape (important stock): parts whose total traded value
    * through one nation's suppliers exceeds a fixed fraction of that
    * nation's total. `partsupp` value is stood in by summed
    * l_extendedprice. The fraction threshold is cross-multiplied in
    * DECIMAL (value · 1000 > total) so no double rounding flips a
    * boundary part. The per-part aggregate is the one real shuffle;
    * the national total is a 1-row broadcast back over it — the
    * reference's Task-H temp-file scalar re-read done in-plan.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("value_dec"))
    val total = perPart.agg(sum(col("value_dec")).as("total_dec"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_dec") * 1000 > col("total_dec"))
      .select(col("partkey"), col("value_dec").cast("double").as("value"))
  }

  /** TPC-H Q12 shape (shipping-priority audit): per lineitem class
    * (return flag stands in for the missing ship mode), how many 1997
    * lines belong to critical-priority orders vs not. Orders project to
    * (key, 1-bit priority) before the join, so the orderkey shuffle
    * moves two narrow columns; the final rollup has 3 groups.
    */
  def q12PriorityClasses(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp_ntz")
    val hi = lit("1998-01-01").cast("timestamp_ntz")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("is_high"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("is_high"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(col("is_high"), 0L).otherwise(1L)).as("low_line_count"))
  }

  /** TPC-H Q14 shape (promotion effect): the percentage of one year's
    * revenue earned by PROMO-type parts. Numerator and denominator
    * accumulate in DECIMAL inside ONE aggregate over the
    * part-classified fact rows (no second scan); the 100·promo/total
    * division happens once, on the final 1-row result. The part dim
    * broadcasts with just (key, is-promo bit).
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp_ntz")
    val hi = lit("1998-01-01").cast("timestamp_ntz")
    val partKind = Tables.part(spark, dir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .join(broadcast(partKind), col("l_partkey") === col("p_partkey"))
      .select((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)").as("rev"), col("is_promo"))
      .agg(
        sum(when(col("is_promo"), col("rev"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("promo_dec"),
        sum(col("rev")).as("total_dec"))
      .select((lit(100.0) * col("promo_dec").cast("double")
        / col("total_dec").cast("double")).as("promo_revenue_pct"))
  }

  /** TPC-H Q16 shape (part/supplier relationship count): how many
    * distinct suppliers have shipped each (brand, type, size) family,
    * excluding one brand. Supplier evidence comes from lineitem (no
    * `partsupp`): the (part, supp) pairs dedupe in a first aggregate
    * keyed on the pair — map-side partials collapse the fact table's
    * repetition before the exchange — and the count-distinct then
    * rolls up by the part attributes with plain COUNT.
    */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#11")
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(count(lit(1)).as("supplier_cnt"))
  }

  /** TPC-H Q20 shape (excess shippers): suppliers whose 1997 shipped
    * quantity of PROMO parts beats the cross-supplier average —
    * `partsupp.availqty` stood in by observed shipments. The average
    * threshold is cross-multiplied (qty · n > total) over exact
    * DECIMAL sums; the 1-row global aggregate broadcasts back over the
    * 10-row per-supplier frame, and supplier + nation names resolve
    * from broadcast dims.
    */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1997-01-01").cast("timestamp_ntz")
    val hi = lit("1998-01-01").cast("timestamp_ntz")
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val perSupp = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty_dec"))
    val avg = perSupp.agg(sum(col("qty_dec")).as("qty_total"),
      count(lit(1)).as("n_supp"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    perSupp.crossJoin(broadcast(avg))
      .filter(col("qty_dec") * col("n_supp") > col("qty_total"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name").as("supp_name"), col("n_name").as("supp_nation"),
        col("qty_dec").cast("double").as("promo_qty"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): with no
    * commit/receipt dates in this schema, the "at fault" marker is a
    * returned line (l_returnflag = 'R'). A supplier waits-counts an
    * order when it returned a line there, at least one OTHER supplier
    * participated, and NO other supplier returned. Both existence
    * tests run on the deduped (order, supplier) pair table — one
    * aggregate keyed on the pair collapses the fact rows, then a
    * window over the ORDER prefix of the same key (suppliers seen /
    * suppliers who returned) turns the correlated EXISTS / NOT EXISTS
    * into two integer compares computed in place. The window
    * formulation matters at scale: a groupBy-then-join-back rollup
    * re-evaluates the pair subtree — two fact scans and two pair
    * aggregates (verified in the physical plan) — where the window
    * re-exchanges only the key-cardinality pair table.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("ret"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
    pairs
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_ret", sum(col("ret")).over(w))
      // someone else participated, and this supplier is the ONLY returner
      .filter(col("ret") === 1 && col("n_supp") > 1 && col("n_ret") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      // the key rides along so two suppliers sharing a name stay two rows
      .select(col("s_suppkey").cast("long").as("suppkey"),
        col("s_name").as("supp_name"), col("numwait"))
  }

  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2000-01-01").cast("timestamp_ntz")
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    val posAvg = cust.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("pos_total"), count(lit(1)).as("pos_cnt"))
    cust
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= cutoff).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(posAvg))
      .filter(col("bal") * col("pos_cnt") > col("pos_total"))
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast("double").as("totacctbal"))
  }
}
