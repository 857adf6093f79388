package graft

import org.scalatest.funsuite.AnyFunSuite

/** The native expressions through their SQL surface. */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {

  test("graft functions are SQL-callable after registration") {
    GraftExtensions.register(spark)

    val sh = spark.sql(
      "SELECT bigram_shingles(array('a','b','c','b','c')) AS sh").collect().head
      .getSeq[String](0)
    assert(sh === Seq("a b", "b c", "c b")) // distinct, first-occurrence order

    val bands = spark.sql(
      "SELECT minhash_bands(array('x','y'), 64, 4) AS b").collect().head
      .getSeq[Long](0)
    assert(bands.length === 16)

    // identical sets intersect fully; simhash of equal token sets matches
    val r = spark.sql(
      """SELECT sorted_intersect_count(sorted_hashes(array('p','q','r')),
                                       sorted_hashes(array('r','q','p'))) AS i,
                simhash64(array('p','q')) = simhash64(array('q','p')) AS same
      """).collect().head
    assert(r.getLong(0) === 3L)
    assert(r.getBoolean(1))

    // composite zorder2: all-ones halves interleave to the alternating masks
    val z = spark.sql(
      "SELECT zorder2(65535L, 0L) AS za, zorder2(0L, 65535L) AS zb, " +
        "zorder2(12345L, 54321L) AS zc").collect().head
    assert(z.getLong(0) === 0x55555555L)
    assert(z.getLong(1) === 0xAAAAAAAAL)
    // SQL builder ≡ Column implementation (two formulations, one truth)
    val sess = spark
    import sess.implicits._
    val viaColumn = Seq((12345L, 54321L)).toDF("a", "b")
      .select(graft.operators.Layout.zorder2(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")))
      .collect().head.getLong(0)
    assert(z.getLong(2) === viaColumn)
  }

  test("the fixture session carries the graft extensions from config time") {
    // a new session keeps the config-time extensions but none of the
    // runtime registrations that suites make on the shared session
    val fresh = spark.newSession()
    assert(fresh.sql(
      "SELECT simhash64(array('p','q')) = simhash64(array('q','p'))").head().getBoolean(0))
    assert(fresh.sessionState.optimizer.batches
      .exists(_.rules.contains(graft.plans.TokenRewrite)))
  }

  test("EditDistanceJoinRewrite: naive levenshtein join becomes a blocked equi-join") {
    val sess = spark
    import sess.implicits._
    // short strings, empty string, NULL, and a duplicate row — every
    // semantic edge the rewrite must preserve vs the naive nested loop
    val rows = Seq((1L, "abcdef"), (2L, "abcdxf"), (3L, "zzzzzz"),
      (4L, "ab"), (5L, null.asInstanceOf[String]), (6L, ""), (7L, "abcdef"))
    rows.toDF("id", "s").createOrReplaceTempView("edj_a")
    val res = spark.sql(
      "SELECT a.id AS ia, b.id AS ib FROM edj_a a JOIN edj_a b ON levenshtein(a.s, b.s) <= 2")

    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if sa != null && sb != null && lev(sa, sb) <= 2
    } yield (ia, ib)).sorted
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === expected)
    // the point of the rule: no nested-loop join anywhere in the plan
    val phys = res.queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"), phys)

    // flipped comparison spelling rewrites too
    val flipped = spark.sql(
      "SELECT a.id FROM edj_a a JOIN edj_a b ON 2 >= levenshtein(a.s, b.s)")
    assert(!flipped.queryExecution.executedPlan.toString.contains("NestedLoop"))
    assert(flipped.count() === res.count())

    // extra conjuncts rewrite too — they come back as a post-filter
    val mixed = spark.sql(
      "SELECT a.id FROM edj_a a JOIN edj_a b ON a.id < b.id AND levenshtein(a.s, b.s) <= 2")
    assert(!mixed.queryExecution.executedPlan.toString.contains("NestedLoop"))
    assert(mixed.count() === expected.count { case (ia, ib) => ia < ib })

    // out of scope: an outer join keeps Spark's own (nested-loop) plan
    val outer = spark.sql(
      "SELECT a.id FROM edj_a a LEFT JOIN edj_a b ON levenshtein(a.s, b.s) <= 2")
    assert(outer.queryExecution.executedPlan.toString.contains("NestedLoop"))

    // out of scope: an equi conjunct means Spark already hash-joins —
    // no rewrite (also what protects the library's own PassJoin plans,
    // whose pushed-back verify filter rides segment equi-joins)
    val equi = spark.sql(
      """SELECT a.id FROM edj_a a JOIN edj_a b
         ON a.id = b.id AND levenshtein(a.s, b.s) <= 2""")
    val equiPlan = equi.queryExecution.executedPlan.toString
    assert(equiPlan.contains("SortMergeJoin") || equiPlan.contains("HashJoin"))
    assert(equi.count() ===
      rows.count { case (_, s) => s != null }) // every non-null row self-matches
  }

  test("EditDistanceJoinRewrite builds its blocked plan without running the analyzer") {
    // Spark's rule metering is JVM-wide: reset it, optimize the analyzed
    // plan of the registered SQL row once, and read the per-rule runs
    val analyzed = SparkEntry.queries("dedup_edit_distance_sql")(spark, fixtureDir)
      .queryExecution.analyzed
    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
    val optimized = spark.sessionState.optimizer.execute(analyzed)
    val metering = Bench.ruleMetering()
    assert(optimized.toString.contains("__graft_edj_seg"), "the rule did not fire")
    assert(metering.get("graft.plans.EditDistanceJoinRewrite").map(_._3) === Some(1L))
    val analyzerRuns = metering.collect {
      case (rule, (_, runs, _)) if rule.contains(".Analyzer$") => rule -> runs
    }
    assert(analyzerRuns.isEmpty, s"${analyzerRuns.size} analyzer rules ran inside the " +
      s"optimizer, ${analyzerRuns.values.sum} times: ${analyzerRuns.keys.take(3)}")
  }

  test("JaroWinklerThresholdRewrite: jw threshold predicates fuse into the gte kernel") {
    val sess = spark
    import sess.implicits._
    val base = "the quick brown fox jumps over the lazy dog then naps"
    // rotation pair (high jw, differing FIRST characters — the case
    // naive jw blocking schemes drop), a one-typo pair, duplicates,
    // short/empty/NULL strings, and a non-BMP character
    val rows = Seq(
      (1L, "x" + base), (2L, base + "x"),
      (3L, base), (4L, base.replace("quick", "quack")),
      (5L, base.take(20)), (6L, "zz"), (7L, ""),
      (8L, null.asInstanceOf[String]), (9L, base),
      (10L, "😀unicode " + base.take(30)))
    rows.toDF("id", "s").createOrReplaceTempView("jwt_a")
    val res = spark.sql(
      "SELECT a.id AS ia, b.id AS ib FROM jwt_a a JOIN jwt_a b ON jaro_winkler(a.s, b.s) >= 0.9")

    def jw(a: String, b: String): Double =
      functions.HashOps.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if sa != null && sb != null && jw(sa, sb) >= 0.9
    } yield (ia, ib)).sorted
    assert(expected.contains((1L, 2L)), s"fixture broke: jw=${jw("x" + base, base + "x")}")
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === expected)
    // the predicate is the fused kernel, not score-then-compare
    val phys = res.queryExecution.executedPlan.toString
    assert(phys.contains("jaro_winkler_gte"), phys)
    // ... and SimJoinParallelize repartitioned the streamed side of the
    // (size-gated small) nested loop so the kernel runs on every core
    assert(phys.contains("RoundRobinPartitioning"), phys)

    // flipped and strict spellings fuse too, with matching semantics
    val flipped = spark.sql(
      "SELECT a.id FROM jwt_a a JOIN jwt_a b ON 0.9 <= jaro_winkler(a.s, b.s)")
    assert(flipped.queryExecution.executedPlan.toString.contains("jaro_winkler_gte"))
    assert(flipped.count() === res.count())
    val strict = spark.sql(
      "SELECT a.id FROM jwt_a a JOIN jwt_a b ON jaro_winkler(a.s, b.s) > 0.9")
    assert(strict.queryExecution.executedPlan.toString.contains("jaro_winkler_gt"))
    assert(strict.count() === (for {
      (_, sa) <- rows; (_, sb) <- rows
      if sa != null && sb != null && jw(sa, sb) > 0.9
    } yield 1).size.toLong)

    // a plain filter context fuses as well (over the local fixture the
    // optimizer then folds the whole filter into a LocalTableScan — the
    // join plans above carry the visible kernel assertion; here the
    // RESULT proves the fused evaluation decided correctly)
    val filt = spark.sql(
      "SELECT id FROM jwt_a WHERE jaro_winkler(s, 'the quick brown fox jumps over the lazy dog then naps') >= 0.9")
    assert(filt.collect().map(_.getLong(0)).sorted ===
      rows.collect { case (id, s) if s != null && jw(s, base) >= 0.9 => id }.sorted)

    // out of scope: the bare score projection stays the score expression
    val proj = spark.sql("SELECT jaro_winkler(s, 'abc') AS j FROM jwt_a")
    assert(!proj.queryExecution.executedPlan.toString.contains("jaro_winkler_g"))
  }

  test("the similarity rewrites compose: lev bound blocks, jw bound fuses as residual") {
    val sess = spark
    import sess.implicits._
    val base = "a reasonably long similarity fixture string for both"
    val rows = Seq((1L, base), (2L, base.replace("long", "lonng")),
      (3L, "completely different content here entirely"), (4L, base))
    rows.toDF("id", "s").createOrReplaceTempView("combo_a")
    // both conjuncts on one join: EditDistanceJoinRewrite claims the
    // levenshtein bound (the blocked plan), and the jw conjunct comes
    // back as a residual filter, where JaroWinklerThresholdRewrite
    // must still fuse it into the gte kernel
    val res = spark.sql(
      """SELECT a.id AS ia, b.id AS ib FROM combo_a a JOIN combo_a b
         ON levenshtein(a.s, b.s) <= 2 AND jaro_winkler(a.s, b.s) >= 0.9
            AND a.id < b.id""")
    val phys = res.queryExecution.executedPlan.toString
    assert(!phys.contains("NestedLoop") && !phys.contains("Cartesian"), phys)
    assert(phys.contains("jaro_winkler_gte"), phys)

    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def jw(a: String, b: String): Double =
      functions.HashOps.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= 2 && jw(sa, sb) >= 0.9
    } yield (ia, ib)).sorted
    assert(expected.nonEmpty, "fixture must exercise the kept path")
    assert(res.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted === expected)
  }

  test("jaro_winkler matches the published vectors and DuckDB's conventions") {
    def jw(a: String, b: String): Double = spark.sql(
      s"SELECT jaro_winkler('$a', '$b')").collect().head.getDouble(0)
    // classic Winkler vectors, values pinned from DuckDB's
    // jaro_winkler_similarity (bit-compatibility is the contract —
    // er_jaro_winkler hash-compares raw DOUBLEs against the oracle)
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("DWAYNE", "DUANE") === 0.8400000000000001)
    // no boost below the 0.7 jaro threshold, despite the 4-char prefix
    assert(jw("abcdxxxxxx", "abcdyyyyyy") === 0.6)
    // odd transposition count floors: t = 3/2 = 1
    assert(jw("abcdef", "bcadef") === 0.9444444444444445)
    // rapidfuzz conventions: empty → 0, window-excluded matches → 0
    assert(jw("abc", "") === 0.0 && jw("", "") === 0.0 && jw("ab", "ba") === 0.0)
    assert(jw("same", "same") === 1.0)
    // symmetric
    assert(jw("DIXON", "DICKSONX") === jw("DICKSONX", "DIXON"))
  }

  test("damerau_levenshtein is the FULL variant, DuckDB-pinned") {
    def dl(a: String, b: String): Long = spark.sql(
      s"SELECT damerau_levenshtein('$a', '$b')").collect().head.getLong(0)
    // the OSA discriminator: full DL may edit between transposed chars
    assert(dl("CA", "ABC") === 2L) // OSA would say 3
    assert(dl("ab", "ba") === 1L)  // one transposition
    assert(dl("abcdef", "abcdfe") === 1L)
    assert(dl("same", "same") === 0L)
    assert(dl("", "abc") === 3L && dl("abc", "") === 3L)
    assert(dl("kitten", "sitting") === 3L) // no transpositions → plain lev
    // symmetric
    assert(dl("MARTHA", "MARHTA") === dl("MARHTA", "MARTHA"))
  }

  test("mg_candidates UDAF: SQL heavy-hitter candidates cover every frequent token") {
    Sql.registerAll(spark, fixtureDir)
    val cand = spark.sql(
      """SELECT mg_candidates(token) AS c
         FROM (SELECT explode(ws_tokens(text)) AS token FROM documents)""")
      .collect().head.getSeq[String](0).toSet
    // MG(64) retains every item with freq > 200/65 ≈ 3.08 — the 39
    // freq-4 tokens must all be candidates; the state bound caps |c|
    assert((1 to 39).map(i => s"w$i").toSet.subsetOf(cand), cand)
    assert(cand.size <= 64)
  }

  test("null array elements are skipped, never NPE (public SQL surface)") {
    // each kernel ignores NULL elements: result equals the null-free call
    val r = spark.sql(
      """SELECT simhash64(array('a', CAST(NULL AS STRING), 'b')) = simhash64(array('a','b')) AS sh_eq,
                sorted_hashes(array('a', CAST(NULL AS STRING), 'b')) = sorted_hashes(array('a','b')) AS hs_eq,
                bigram_shingles(array('a', CAST(NULL AS STRING), 'b')) AS bg,
                minhash_bands(array('a', CAST(NULL AS STRING), 'b'), 8, 4) =
                  minhash_bands(array('a','b'), 8, 4) AS mh_eq,
                dot_product(array(1.0d, CAST(NULL AS DOUBLE), 2.0d),
                            array(3.0d, 5.0d, 4.0d)) AS dp
      """).collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(3))
    // 'a NULL' and 'NULL b' bigrams are dropped; no null crosses a pair
    assert(r.getSeq[String](2) === Seq.empty)
    assert(r.getDouble(4) === 1.0 * 3.0 + 2.0 * 4.0)
  }

  test("wrong arity / bad band config raise named plan-time errors") {
    val e1 = intercept[Exception](spark.sql("SELECT simhash64()").collect())
    assert(e1.getMessage.contains("simhash64"))
    val e2 = intercept[Exception](spark.sql("SELECT sorted_intersect_count(array(1L))").collect())
    assert(e2.getMessage.contains("sorted_intersect_count"))
    val e3 = intercept[Exception](
      spark.sql("SELECT minhash_bands(array('a'), 64, 0)").collect())
    assert(e3.getMessage.contains("minhash_bands"))
    val e4 = intercept[Exception](
      spark.sql("SELECT minhash_bands(array('a'), 64, 3)").collect())
    assert(e4.getMessage.contains("minhash_bands"))
  }

  test("TokenRewrite rewrites user-written split+filter to ws_tokens") {
    // non-foldable input (a parquet scan): literals/VALUES would be
    // constant-folded into a LocalRelation before extension rules run
    Tables.documents(spark, fixtureDir).createOrReplaceTempView("docs_tv")
    val df = spark.sql(
      """SELECT doc_id, filter(split(text, '\\s+'), t -> t != '') AS toks
         FROM docs_tv""")
    assert(df.queryExecution.optimizedPlan.toString.contains("ws_tokens"),
      df.queryExecution.optimizedPlan.toString)
    // rewritten plan computes the same tokens as the declarative form
    val viaRule = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(viaRule(0L) === Fixtures.DocA.split("\\s+").toSeq)
    // a DIFFERENT pattern must NOT be rewritten
    val other = spark.sql(
      "SELECT filter(split(text, ','), t -> t != '') AS toks FROM docs_tv")
    assert(!other.queryExecution.optimizedPlan.toString.contains("ws_tokens"))
  }

  test("SQL results agree with the Column-API expressions") {
    import org.apache.spark.sql.functions.col
    val viaSql = spark.sql("SELECT simhash64(array('alpha','beta','gamma')) AS s")
      .collect().head.getLong(0)
    val viaCol = spark.range(1)
      .select(graft.functions.functions.simhash64(
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit("alpha"),
          org.apache.spark.sql.functions.lit("beta"),
          org.apache.spark.sql.functions.lit("gamma"))).as("s"))
      .collect().head.getLong(0)
    assert(viaSql === viaCol)
  }

  test("SimJoinParallelize size gate: stats decide, absent/stale stats fail safe") {
    import org.apache.spark.sql.functions.{col, expr}
    def hasRoundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.shuffle
        case _ => false
      }
    // under the 256 MB gate: Range stats = 8 bytes/row -> 8 KB; the
    // streamed side must be repartitioned to full parallelism
    val small = spark.range(1000).select(col("id"), col("id").cast("string").as("s"))
    val smallJoin = small.as("a").join(small.as("b"),
      expr("damerau_levenshtein(a.s, b.s) <= 1"))
    assert(hasRoundRobin(smallJoin), "small sim join must gain a repartition")

    // over the gate: 64M rows -> 512 MB stats; shuffling the streamed
    // side would move the table to win parallelism its file splits
    // already give it, so the rule must leave the join alone
    val big = spark.range(64L * 1000 * 1000).select(col("id"), col("id").cast("string").as("s"))
    val bigJoin = big.as("a").join(big.as("b"),
      expr("damerau_levenshtein(a.s, b.s) <= 1"))
    assert(!hasRoundRobin(bigJoin), "large sim join must keep its natural partitioning")

    // stale CBO stats: a PHYSICALLY TINY catalog table whose injected
    // statistics claim ~1 TB. The gate reads stats.sizeInBytes
    // (pre-AQE, the only size available at optimize time), so the
    // stale figure wins and the repartition is SKIPPED -- the fail-safe
    // direction: worst case is lost parallelism on one small query,
    // never a full-table shuffle of something actually huge. (Absent
    // stats on non-file relations land on defaultSizeInBytes =
    // Long.MaxValue, the same safe side; file-backed reads carry real
    // file sizes, which er_jaro_winkler_sql's RoundRobin plan pins.)
    spark.sql("DROP TABLE IF EXISTS simgate_stale")
    spark.range(100).select(col("id"), col("id").cast("string").as("s"))
      .write.saveAsTable("simgate_stale")
    // inject through the catalog API (the in-memory test catalog does
    // not round-trip ANALYZE's spark.sql.statistics.* tblproperties
    // the way the Hive catalog does)
    spark.sessionState.catalog.alterTableStats(
      org.apache.spark.sql.catalyst.TableIdentifier("simgate_stale"),
      Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        sizeInBytes = BigInt(999999999999L),
        rowCount = Some(BigInt(99999999999L)))))
    spark.catalog.refreshTable("simgate_stale")
    val stale = spark.table("simgate_stale")
    val staleJoin = stale.as("a").join(stale.as("b"),
      expr("damerau_levenshtein(a.s, b.s) <= 1"))
    assert(staleJoin.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
    assert(!hasRoundRobin(staleJoin),
      "stale-huge stats must skip the repartition (fail-safe)")
    // and refreshed stats restore the parallelism path
    spark.sql("ANALYZE TABLE simgate_stale COMPUTE STATISTICS")
    val fresh = spark.table("simgate_stale")
    val freshJoin = fresh.as("a").join(fresh.as("b"),
      expr("damerau_levenshtein(a.s, b.s) <= 1"))
    assert(hasRoundRobin(freshJoin),
      "refreshed stats must re-enable the repartition")
    spark.sql("DROP TABLE IF EXISTS simgate_stale")
  }
}
