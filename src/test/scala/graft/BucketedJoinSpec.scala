package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the co-located-join story for repeated fact-fact joins.
  *
  * At 100 TB, a customer⋈orders join that runs every hour should not
  * re-shuffle both fact tables every hour: writing both sides bucketed
  * by the join key makes the join exchange-free forever after — the
  * scan's output partitioning already satisfies the join requirement.
  * This spec pins that contract: same key, same bucket count → the
  * executed plan contains NO shuffle exchange on either side.
  */
class BucketedJoinSpec extends AnyFunSuite with SparkFixture {

  test("equal-bucketed tables join with zero shuffle exchanges") {
    import org.apache.spark.sql.functions.col

    Tables.orders(spark, fixtureDir)
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_bucketed")
    Tables.customer(spark, fixtureDir)
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_bucketed")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_bucketed")
        .join(spark.table("customer_bucketed"),
          col("o_custkey") === col("c_custkey"))
      assert(joined.count() === 4L) // alice 3 + bob 1

      // inspect the FINAL adaptive plan, post-execution
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be exchange-free, got:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS customer_bucketed")
    }
  }

  test("dedup_minhash_standing: persisted bucketed index side crosses zero shuffles") {
    standingIndexProbeCheck("graft_minhash_band_index",
      graft.operators.Dedup.minhashStanding)
  }

  test("dedup_minhash_append: appended bucketed index still probes shuffle-free") {
    // Same check against the APPEND lifecycle: epoch-1 build (≤60%) +
    // epoch-2 mode("append") of (60%,80%], then the 20% probe. Appends
    // add files per bucket id; the bucketed scan must still group them
    // into one partition per bucket and satisfy the join distribution
    // with zero exchanges — this is the claim that the standing index
    // "grows by appended batch signatures" without rebuild, executed.
    standingIndexProbeCheck("graft_minhash_band_appended",
      graft.operators.Dedup.minhashStandingAppend)
  }

  /** Shared drive for both standing-index lifecycles: build the
    * incremental corpus, run `variant`, check verified pairs match the
    * in-query incremental twin, then walk the executed plan and assert
    * the index side of the band_key probe join crossed no exchange and
    * was read as a bucketed scan.
    */
  private def standingIndexProbeCheck(
      indexBase: String,
      variant: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.operators.Dedup

    // AQE hides the real tree behind AdaptiveSparkPlanExec/QueryStage
    // leaf wrappers; inline them so collect() walks the whole executed
    // plan. (The previous version of this test located the index branch
    // by string offsets into the printed plan — a build-side reorder
    // would have silently pointed the Exchange check at the wrong
    // region. Walking the tree is reorder-proof.)
    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
      case q: QueryStageExec        => strip(q.plan)
      case other => other.withNewChildren(other.children.map(strip))
    }
    // index tables are scoped per (app, dir) — match on the base prefix
    def indexScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec
        if s.tableIdentifier.exists(_.table.startsWith(indexBase)) => s
    }

    // DedupSpec's incremental corpus: docs 8,9 are near-dups of standing
    // doc 0 (j = 38/40) — non-empty candidates keep AQE from folding the
    // probe join into an EmptyRelation, so the plan shape is inspectable.
    import spark.implicits._
    val dir = scratchDir("graft-minhash-standing")
    val near = ((1 to 39).map(i => s"w$i") :+ "edited").mkString(" ")
    (Seq((0L, Fixtures.DocA), (1L, Fixtures.DocD)) ++
      Seq("y", "z", "q", "u", "v", "t").zipWithIndex.map { case (p, i) =>
        (i + 2L, (1 to 40).map(j => s"$p$j").mkString(" ")) } ++
      Seq((8L, near), (9L, near)))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = variant(spark, dir)
      // same verified pairs as the in-query incremental variant — the
      // physical plan is the only thing that changed
      val rows = out.collect().map(_.toSeq).toSet
      assert(rows === Set(Seq(8L, 0L, 38L, 40L), Seq(9L, 0L, 38L, 40L)))
      val incr = Dedup.minhashIncremental(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(rows === incr)

      // execution done → AQE final plan; find the shuffled band_key
      // probe join whose one side is the persisted index
      val plan = strip(out.queryExecution.executedPlan)
      val probeJoins = plan.collect {
        case j: SortMergeJoinExec    => j: BaseJoinExec
        case j: ShuffledHashJoinExec => j: BaseJoinExec
      }.filter(j => j.leftKeys.exists(_.toString.contains("band_key"))
        && j.children.exists(c => indexScans(c).nonEmpty))
      assert(probeJoins.nonEmpty,
        s"no shuffled band_key join over the persisted index found:\n$plan")

      val idxSide = probeJoins.head.children.filter(c => indexScans(c).nonEmpty)
      val reShuffles = idxSide.flatMap(_.collect { case e: ShuffleExchangeLike => e })
      assert(reShuffles.isEmpty,
        s"index side must read pre-bucketed, got exchanges on it:\n$plan")
      assert(indexScans(plan).exists(_.bucketedScan),
        s"index scan should be bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS ${Tables.scopedIndex(spark, indexBase, dir)._1}")
    }
  }

  test("dedup_edit_distance_standing: persisted segment index probes shuffle-free") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.operators.Dedup
    import spark.implicits._

    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
      case q: QueryStageExec        => strip(q.plan)
      case other => other.withNewChildren(other.children.map(strip))
    }
    def indexScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec
        if s.tableIdentifier.exists(_.table.startsWith("graft_editdist_seg_index")) => s
    }

    // standing doc 0 = base window; batch doc 8 = one substitution —
    // a non-empty probe result keeps the join inspectable under AQE
    val dir = scratchDir("graft-editdist-standing")
    val filler = "f" * 100
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKL"
    Seq(0L -> base, 1L -> base.reverse,
        8L -> (base.take(10) + "#" + base.drop(11)), 9L -> ("Q" * 48))
      .map { case (id, wnd) =>
        (id, filler + wnd, "en", "src", (filler + wnd).length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.editDistanceStanding(spark, dir)
      val rows = out.collect().map(_.toSeq).toSet
      assert(rows === Set(Seq(8L, 0L, 1L)))
      assert(rows === Dedup.editDistanceIncremental(spark, dir)
        .collect().map(_.toSeq).toSet)

      val plan = strip(out.queryExecution.executedPlan)
      val probeJoins = plan.collect {
        case j: SortMergeJoinExec    => j: BaseJoinExec
        case j: ShuffledHashJoinExec => j: BaseJoinExec
      }.filter(j => j.leftKeys.exists(_.toString.contains("seg_key"))
        && j.children.exists(c => indexScans(c).nonEmpty))
      assert(probeJoins.nonEmpty,
        s"no shuffled seg_key join over the persisted index found:\n$plan")
      val idxSide = probeJoins.head.children.filter(c => indexScans(c).nonEmpty)
      val reShuffles = idxSide.flatMap(_.collect { case e: ShuffleExchangeLike => e })
      assert(reShuffles.isEmpty,
        s"index side must read pre-bucketed, got exchanges on it:\n$plan")
      assert(indexScans(plan).exists(_.bucketedScan),
        s"index scan should be bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS ${Tables.scopedIndex(spark, "graft_editdist_seg_index", dir)._1}")
    }
  }

  test("dedup_components_standing: bucketed label index probes shuffle-free") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup

    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
      case q: QueryStageExec        => strip(q.plan)
      case other => other.withNewChildren(other.children.map(strip))
    }
    def indexScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec
        if s.tableIdentifier.exists(_.table.startsWith("graft_components_index")) => s
    }

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the materialize/probe round-trip is lossless: identical relation
      // to the one-shot clustering on the same corpus
      val idx = Dedup.componentLabels(spark, fixtureDir)
      assert(idx.collect().map(_.toSeq).toSet ===
        Dedup.dedupComponents(spark, fixtureDir).collect().map(_.toSeq).toSet)

      // downstream-consumer shape: labels joined back to per-doc
      // metadata on doc_id — the index side must read pre-bucketed
      val probe = Tables.documents(spark, fixtureDir)
        .select(col("doc_id"), col("source"))
        .join(Dedup.componentLabels(spark, fixtureDir), "doc_id")
      assert(probe.count() > 0)

      val plan = strip(probe.queryExecution.executedPlan)
      val probeJoins = plan.collect {
        case j: SortMergeJoinExec    => j: BaseJoinExec
        case j: ShuffledHashJoinExec => j: BaseJoinExec
      }.filter(_.children.exists(c => indexScans(c).nonEmpty))
      assert(probeJoins.nonEmpty,
        s"no shuffled doc_id join over the persisted label index found:\n$plan")
      val idxSide = probeJoins.head.children.filter(c => indexScans(c).nonEmpty)
      val reShuffles = idxSide.flatMap(_.collect { case e: ShuffleExchangeLike => e })
      assert(reShuffles.isEmpty,
        s"index side must read pre-bucketed, got exchanges on it:\n$plan")
      assert(indexScans(plan).exists(_.bucketedScan),
        s"index scan should be bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS ${Tables.scopedIndex(spark, "graft_components_index", fixtureDir)._1}")
      // the memo would otherwise hand a later call the dropped table
      Dedup.componentIndexMemo.clear()
    }
  }

  test("mismatched bucket counts fall back to a shuffle on one side only") {
    import org.apache.spark.sql.functions.col

    Tables.orders(spark, fixtureDir)
      .write.bucketBy(4, "o_custkey").mode("overwrite").saveAsTable("orders_b4")
    Tables.customer(spark, fixtureDir)
      .write.bucketBy(2, "c_custkey").mode("overwrite").saveAsTable("customer_b2")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b4")
        .join(spark.table("customer_b2"), col("o_custkey") === col("c_custkey"))
      assert(joined.count() === 4L)
      val plan = joined.queryExecution.executedPlan.toString
      // the 4-bucket side is already partitioned; only the 2-bucket side
      // may need repartitioning — never both
      assert(plan.split("Exchange").length - 1 <= 1,
        s"at most one side should shuffle, got:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b4")
      spark.sql("DROP TABLE IF EXISTS customer_b2")
    }
  }

  test("lsh signature standing table: probe matches the memo path, " +
       "append epoch scans only the batch, layout is bucketed") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"

    // 1. the standing-table probe and the append-lifecycle probe both
    // return the memo-backed annLsh's rows bit-identically (base ∪
    // appended batch = the full corpus's signature set)
    def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val memo = rowSet(Similarity.annLsh(spark, dir))
    assert(memo.nonEmpty)
    assert(rowSet(Similarity.annLshStanding(spark, dir)) === memo)
    assert(rowSet(Similarity.annLshStandingAppend(spark, dir)) === memo)

    // 2. the table is versioned by derivation params and bucketed by
    // vec_id — the layout contract appends are validated against
    val bb = Similarity.corpusBandBits(spark, dir)
    val nBands = Similarity.derivedBandCount(bb)
    val (table, _, _) =
      Similarity.lshSigStandingTable(spark, dir, appendEpoch = false)
    assert(table.startsWith(s"graft_lsh_sig_v${nBands}x${bb}x64"))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    assert(meta.bucketSpec.exists(b =>
      b.numBuckets == 8 && b.bucketColumnNames == Seq("vec_id")))

    // 3. batch-shaped append: the epoch-2 cut must sit BELOW the
    // band-value projection, so the nBands·bandBits dot products run
    // over batch rows only. In a fresh session the filter pushes to
    // the parquet scan (PushedFilters); with the session's memoized
    // corpus frame it lands in the InMemoryTableScan's batch pruning —
    // either way it prints DEEPER than the projection (children print
    // after parents), never above it.
    val batchPlan = Similarity.lshSigPlan(spark, dir, nBands, bb, 64)
      .filter(col("vec_id") > 400L)
      .queryExecution.sparkPlan.toString
    val iProj = batchPlan.indexOf("dot_product") // band-value projection
    val iCut = batchPlan.indexOf("> 400")        // the batch cut
    assert(iProj >= 0 && iCut > iProj,
      s"vec_id cut should evaluate below the signature projection, got:\n$batchPlan")
  }

  test("components fold: shuffle bytes fall strictly as the batch shrinks from 50% to 5%") {
    // the fold's data volume is batch-shaped plus a fixed corpus-side
    // floor; shuffle bytes are deterministic where wall time at this
    // scale is all fixed overhead
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.01"
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => written.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    val sc = spark.sparkContext
    def drained(): Long = {
      assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc))
      written.get
    }
    sc.addSparkListener(listener)
    val foldBytes = try Seq(50, 30, 20, 10, 5).map { batchPct =>
      spark.catalog.clearCache()
      val (shas, sets, prefAll) = Dedup.splitTables(spark, dir, 100 - batchPct)
      val base = Dedup.baseComponentLabels(shas, sets, prefAll, s"fold spec base, batch=$batchPct%")
      base.count()
      val before = drained()
      Dedup.foldBatchIntoLabels(shas, sets, prefAll, base).count()
      batchPct -> (drained() - before)
    } finally {
      sc.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
    info(s"fold shuffle-write bytes by batch %: $foldBytes")
    foldBytes.sliding(2).foreach { case Seq((p0, b0), (p1, b1)) =>
      assert(b1 < b0, s"fold bytes did not fall from batch $p0% ($b0 B) to $p1% ($b1 B)")
    }
  }
}
