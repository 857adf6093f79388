package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing-index lifecycle probe: drives the two bucketed standing
  * indexes (minhash band index, PassJoin segment index) through TEN
  * consecutive append batches — the cadence a production ingest
  * actually runs — timing each batch's probe + append.
  *
  * The claim under test is that per-batch cost is BATCH-shaped, not
  * index-shaped: the index side of each probe join reads pre-bucketed
  * (zero exchanges), so a batch's cost is its own signature/probe
  * generation plus a sequential scan of the index — and while the
  * index DOUBLES over the run (50% of the corpus at batch 1 → 100% at
  * batch 10), per-batch wall time should grow far less than 2×. The
  * summary line reports `growth` = mean(last 3 batches) / mean(first
  * 3 batches) against the 2.0× index growth; a growth ratio at or
  * above the index growth would mean the ingest path re-pays the
  * whole index per batch (the failure mode standing indexes exist to
  * avoid).
  *
  * Usage: sbt "runMain graft.LifecycleProbe /root/testdata/sf0.1 10"
  */
object LifecycleProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val batches = if (args.length > 1) args(1).toInt else 10
    val spark = Bench.session(Bench.envCpus)
    import operators.Dedup

    val maxId = Tables.documents(spark, baseDir)
      .agg(max(col("doc_id"))).head.getLong(0)
    // initial standing corpus: ids <= 50%; each batch appends
    // (50/batches)% — parameterized so any batch count keeps the
    // 50% base (b = batches lands exactly on maxId)
    def hi(b: Int): Long = maxId * (batches + b) / (2 * batches)

    def timeIt[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- minhash band index lifecycle -------------------------------
    val sh = Dedup.shingleSets(spark, baseDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withKey = Dedup.md5BandTable(sh)
      .withColumn("band_key", concat_ws("#", col("band"), col("band_hash")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withKey.count() // signatures precomputed: batches time probe+append
    val (mhTable, mhPath) = Tables.scopedIndex(spark, "graft_lifecycle_mh", baseDir)
    def writeMh(rows: DataFrame, mode: String): Unit =
      rows.select(col("doc_id").as("dup_of"), col("band_key"))
        .write.bucketBy(8, "band_key").sortBy("band_key")
        .option("path", mhPath).mode(mode).saveAsTable(mhTable)
    writeMh(withKey.filter(col("doc_id") <= hi(0)), "overwrite")

    val mhRows = (1 to batches).map { b =>
      val batch = withKey
        .filter(col("doc_id") > hi(b - 1) && col("doc_id") <= hi(b))
      val (pairs, probeSec) = timeIt {
        spark.table(mhTable)
          .join(batch.select(col("doc_id"), col("band_key")), "band_key")
          .filter(col("dup_of") < col("doc_id"))
          .select(col("doc_id"), col("dup_of")).distinct()
          .join(sh.select(col("doc_id"), col("sh").as("shb")), "doc_id")
          .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sha")), "dup_of")
          .filter(size(array_intersect(col("sha"), col("shb"))).cast("double") /
            (size(col("sha")) + size(col("shb")) -
              size(array_intersect(col("sha"), col("shb")))) >= 0.8)
          .count()
      }
      val (_, appendSec) = timeIt(writeMh(batch, "append"))
      val idxRows = spark.table(mhTable).count()
      System.err.println(
        f"[lifecycle] minhash batch $b: probe=$probeSec%.2fs append=$appendSec%.2fs " +
          f"pairs=$pairs index_rows=$idxRows")
      (b, probeSec + appendSec, idxRows)
    }

    // ---- PassJoin segment index lifecycle ---------------------------
    val k = 2
    val docs = Dedup.edWindows(spark, baseDir, 101, 48, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val (edTable, edPath) = Tables.scopedIndex(spark, "graft_lifecycle_ed", baseDir)
    def writeEd(rows: DataFrame, mode: String): Unit =
      Dedup.edSegments(rows, k)
        .withColumn("seg_key", concat_ws("#", col("la"), col("i"), col("seg")))
        .select(col("doc_id").as("dup_of"), col("s").as("s_a"), col("seg_key"))
        .write.bucketBy(8, "seg_key").sortBy("seg_key")
        .option("path", edPath).mode(mode).saveAsTable(edTable)
    writeEd(docs.filter(col("doc_id") <= hi(0)), "overwrite")

    val edRows = (1 to batches).map { b =>
      val batch = docs.filter(col("doc_id") > hi(b - 1) && col("doc_id") <= hi(b))
      val (pairs, probeSec) = timeIt {
        val probes = Dedup.edProbes(batch, k)
          .withColumn("seg_key", concat_ws("#", col("la"), col("i"), col("seg")))
          .select(col("doc_id"), col("s").as("s_b"), col("seg_key"))
        spark.table(edTable).join(probes, "seg_key")
          .filter(col("dup_of") < col("doc_id"))
          .select(col("doc_id"), col("dup_of"), col("s_a"), col("s_b"))
          .distinct()
          .filter(levenshtein(col("s_b"), col("s_a"), k) >= 0)
          .count()
      }
      val (_, appendSec) = timeIt(writeEd(batch, "append"))
      val idxRows = spark.table(edTable).count()
      System.err.println(
        f"[lifecycle] editdist batch $b: probe=$probeSec%.2fs append=$appendSec%.2fs " +
          f"pairs=$pairs index_rows=$idxRows")
      (b, probeSec + appendSec, idxRows)
    }

    // ---- LSH signature standing table lifecycle ---------------------
    // The r20 signature table (Similarity.lshSigStandingTable): the
    // banded-signature corpus scan persisted as a bucketBy(vec_id)
    // parquet table, appended per ingest batch. The claim under test:
    // per-batch APPEND cost (batch signature dot products + bucketed
    // write) is batch-shaped — flat while the table doubles — because
    // the vec_id cut evaluates below the band-value projection
    // (BucketedJoinSpec pins that plan shape), so an append never
    // re-pays the corpus's dot products.
    import operators.Similarity
    val vecMax = Tables.embeddings(spark, baseDir)
      .agg(max(col("vec_id"))).head.getLong(0)
    def vhi(b: Int): Long = vecMax * (batches + b) / (2 * batches)
    val sigBb = Similarity.corpusBandBits(spark, baseDir)
    val sigNb = Similarity.derivedBandCount(sigBb)
    val (sigTable, sigPath) =
      Tables.scopedIndex(spark, "graft_lifecycle_lsh_sig", baseDir)
    def writeSig(rows: DataFrame, mode: String): Unit =
      rows.write.bucketBy(8, "vec_id").sortBy("vec_id")
        .option("path", sigPath).mode(mode).saveAsTable(sigTable)
    val sigPlan = Similarity.lshSigPlan(spark, baseDir, sigNb, sigBb, 64)
    writeSig(sigPlan.filter(col("vec_id") <= vhi(0)), "overwrite")
    val sigRows = (1 to batches).map { b =>
      val batchSig =
        sigPlan.filter(col("vec_id") > vhi(b - 1) && col("vec_id") <= vhi(b))
      val (_, appendSec) = timeIt(writeSig(batchSig, "append"))
      val idxRows = spark.table(sigTable).count()
      System.err.println(
        f"[lifecycle] lsh_sig batch $b: append=$appendSec%.2fs index_rows=$idxRows")
      (b, appendSec, idxRows)
    }
    spark.sql(s"DROP TABLE IF EXISTS $sigTable")

    // ---- components fold: cost vs batch fraction --------------------
    // The incremental-clustering claim is that the FOLD's data volume
    // is batch-shaped (plus the fixed corpus-side scaffolding the
    // in-query replay rebuilds — the sha index and the probe's
    // corpus-side prefix explode, which a deployment keeps as standing
    // artifacts). At sf0.1 WALL time cannot resolve this: both phases
    // are fixed-overhead-bound (~15 driver jobs of scheduling/JIT
    // constants each). Shuffle BYTES can — they are deterministic and
    // scale-shaped, the same reason Bench records them. Sweep the cut
    // so the batch shrinks 50% → 5% and record each phase's shuffle
    // delta: fold bytes should fall with the batch fraction toward the
    // fixed corpus-side floor.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def shuffleDelta[A](f: => A): (A, Double) = {
      org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
      val s0 = shuffleBytes.get
      val a = f
      org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
      (a, (shuffleBytes.get - s0) / 1e6)
    }
    val compPoints = Seq(50, 30, 20, 10, 5).map { batchPct =>
      spark.catalog.clearCache()
      val (shas, sets, prefAll) =
        operators.Dedup.splitTables(spark, baseDir, 100 - batchPct)
      val (base, baseMb) = shuffleDelta {
        val b = operators.Dedup.baseComponentLabels(
          shas, sets, prefAll, s"lifecycle(components base, batch=$batchPct%)")
        b.count(); b
      }
      val (_, foldMb) = shuffleDelta {
        operators.Dedup.foldBatchIntoLabels(shas, sets, prefAll, base).count()
      }
      System.err.println(
        f"[lifecycle] components batch=$batchPct%d%% base=$baseMb%.1fMB fold=$foldMb%.1fMB shuffled")
      (batchPct, baseMb, foldMb)
    }

    // ---- components APPEND path: 10 versioned compactions ----------
    // The deployed shape componentsStandingAppend proves once is here
    // driven through a 10-version lifecycle: version b folds batch
    // (hi(b-1), hi(b)] into version b-1's PERSISTED bucketed labels
    // and compacts the result into version b (never in-place). The
    // claim: per-version fold+write cost is BATCH-shaped — flat
    // seconds and bytes while the standing index doubles. Corpus-side
    // signature scaffolding (splitTables) rebuilds OUTSIDE the timed
    // section, same framing as the fold sweep above: a deployment
    // keeps those standing.
    val (caTable0, caPath0) =
      Tables.scopedIndex(spark, "graft_lifecycle_comp_v0", baseDir)
    locally {
      spark.catalog.clearCache()
      val (shas, sets, prefAll) = operators.Dedup.splitTables(spark, baseDir, 50)
      val capped = shas.filter(col("doc_id") <= hi(0))
      operators.Dedup.baseComponentLabels(
          capped, sets.filter(col("doc_id") <= hi(0)),
          prefAll.filter(col("doc_id") <= hi(0)), "lifecycle(append base)")
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", caPath0).mode("overwrite").saveAsTable(caTable0)
    }
    val caRows = (1 to batches).map { b =>
      spark.catalog.clearCache()
      // cut at hi(b-1): pct such that maxId*pct div 100 == hi(b-1)
      // (floor-equal because 100/(2*batches) scales both terms when
      // batches divides 100; for other batch counts the sweep would
      // pass the cut explicitly)
      val pct = 100 * (batches + b - 1) / (2 * batches)
      val (shas, sets, prefAll) =
        operators.Dedup.splitTables(spark, baseDir, pct)
      val cap = hi(b)
      val (prevTable, _) =
        Tables.scopedIndex(spark, s"graft_lifecycle_comp_v${b - 1}", baseDir)
      val (vTable, vPath) =
        Tables.scopedIndex(spark, s"graft_lifecycle_comp_v$b", baseDir)
      val t0 = System.nanoTime()
      val (_, mb) = shuffleDelta {
        operators.Dedup.foldBatchIntoLabels(
            shas.filter(col("doc_id") <= cap),
            sets.filter(col("doc_id") <= cap),
            prefAll.filter(col("doc_id") <= cap),
            spark.table(prevTable).select(col("doc_id"), col("comp")))
          .write.bucketBy(8, "doc_id").sortBy("doc_id")
          .option("path", vPath).mode("overwrite").saveAsTable(vTable)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val idxRows = spark.table(vTable).count()
      System.err.println(
        f"[lifecycle] components append v$b: fold+write=$sec%.2fs " +
          f"shuffle=$mb%.1fMB index_rows=$idxRows")
      (b, sec, mb, idxRows)
    }
    (0 to batches).foreach { b =>
      val (t, _) = Tables.scopedIndex(spark, s"graft_lifecycle_comp_v$b", baseDir)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }

    // ---- components bootstrap vs steady-state consumers -------------
    // The family-lens accounting ScaleProbe's curation_funnel note
    // points at, separated into first-class numbers: the FIRST
    // standing-components consumer in a session pays the one-time base
    // clustering (componentLabels building + bucketing the standing
    // label table), and every later consumer rides it. bootstrap_sec
    // is that one-time cost, measured cold (no earlier section of this
    // probe touches graft_components_base); each consumer row is the
    // steady-state per-readout cost on the SAME session afterwards —
    // the number a deployment actually pays per query once its index
    // stands.
    spark.catalog.clearCache()
    val (_, bootstrapSec) = timeIt {
      operators.Dedup.componentLabels(spark, baseDir).count()
    }
    System.err.println(
      f"[lifecycle] components bootstrap (base clustering + bucketed write): $bootstrapSec%.2fs")
    val consumerRows = Seq[(String, (SparkSession, String) => DataFrame)](
      "curation_funnel" -> (operators.Curation.curationFunnel _),
      "corpus_curate" -> (operators.Dedup.corpusCurate _),
      "dedup_canonical" -> (operators.Dedup.dedupCanonical _),
      "dedup_components_delete" -> (operators.Dedup.componentsDelete _)
    ).map { case (name, fn) =>
      val (_, sec) = timeIt(fn(spark, baseDir)
        .write.mode("overwrite").format("noop").save())
      System.err.println(f"[lifecycle] components consumer $name: $sec%.2fs (steady-state)")
      (name, sec)
    }

    def growth(rows: Seq[(Int, Double, Long)]): Double = {
      val secs = rows.map(_._2)
      secs.takeRight(3).sum / math.max(secs.take(3).sum, 1e-9)
    }
    def fmt(name: String, rows: Seq[(Int, Double, Long)]): String = {
      val bs = rows.map { case (b, s, n) =>
        f"""{"batch":$b,"sec":$s%.2f,"index_rows":$n}"""
      }.mkString("[", ",", "]")
      f""""$name":{"batches":$bs,"growth":${growth(rows)}%.2f}"""
    }
    val compJson = compPoints.map { case (pct, b, f) =>
      f"""{"batch_pct":$pct,"base_shuffle_mb":$b%.1f,"fold_shuffle_mb":$f%.1f}"""
    }.mkString("[", ",", "]")
    // fold shuffle at a 5% batch relative to a 50% batch — the
    // batch-shaped-fold claim as one number (the remainder is the
    // fixed corpus-side scaffolding floor)
    val foldRatio = compPoints.last._3 / math.max(compPoints.head._3, 1e-9)
    val caJson = caRows.map { case (b, s, mb, n) =>
      f"""{"version":$b,"sec":$s%.2f,"shuffle_mb":$mb%.1f,"index_rows":$n}"""
    }.mkString("[", ",", "]")
    val caGrowth = {
      val secs = caRows.map(_._2)
      secs.takeRight(3).sum / math.max(secs.take(3).sum, 1e-9)
    }
    val bootJson = {
      val cs = consumerRows.map { case (n, s) =>
        f"""{"name":"$n","sec":$s%.2f}"""
      }.mkString("[", ",", "]")
      f""""components_bootstrap":{"bootstrap_sec":$bootstrapSec%.2f,"steady_state_consumers":$cs,"note":"one-time base clustering paid by the session's FIRST standing-components consumer; ScaleProbe's curation_funnel ratio reads bootstrap+consumer as one number -- the consumer rows here are the amortized per-readout cost"}"""
    }
    println(s"""{"metric":"lifecycle","index_growth":2.0,${fmt("minhash", mhRows)},${fmt("editdist", edRows)},${fmt("lsh_sig", sigRows)},"components_append":{"versions":$caJson,"growth":${f"$caGrowth%.2f"}},"components":{"points":$compJson,"fold_mb_5_over_50":${f"$foldRatio%.2f"}},$bootJson}""")
    spark.sql(s"DROP TABLE IF EXISTS $mhTable")
    spark.sql(s"DROP TABLE IF EXISTS $edTable")
    spark.stop()
  }
}
