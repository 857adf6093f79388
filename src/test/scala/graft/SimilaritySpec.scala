package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Fixture embeddings are 3 well-separated Gaussian clusters
  * (label = vec_id % 3), so exact top-5 neighbors must share the
  * query's cluster, and the LSH path is measured by recall against the
  * exact result (deterministic: seeded hyperplanes).
  */
class SimilaritySpec extends AnyFunSuite with SparkFixture {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("brute-force top-5 returns 5 same-cluster neighbors per query") {
    val got = Similarity.topKBrute(spark, fixtureDir).collect()
    assert(got.length === 50) // 10 queries x 5
    assert(got.forall(r => r.getLong(0) % 3 === r.getLong(1) % 3))
    assert(got.forall(r => r.getLong(0) !== r.getLong(1)))
    assert(got.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 5L))
  }

  test("IVF ANN recalls most exact neighbors on clustered data") {
    val exact = pairs(Similarity.topKBrute(spark, fixtureDir))
    val ivfRows = Similarity.annIvf(spark, fixtureDir, nlist = 8, nprobe = 2).collect()
    assert(ivfRows.forall(r => r.getLong(0) !== r.getLong(1)))
    assert(ivfRows.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 5L))
    val ivfPairs = ivfRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivfPairs).size.toDouble / exact.size
    info(f"IVF recall vs brute force: $recall%.2f (${ivfPairs.size} returned)")
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("embedding dedup finds exactly the same-cluster high-sim pairs the brute scorer finds") {
    // fixture clusters are tight: same-cluster sims >> cross-cluster.
    val got = Similarity.dedupEmbedding(spark, fixtureDir, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    assert(got.forall { case (a, b) => a % 3 === b % 3 && a < b })
  }

  test("LSH ANN recalls most exact neighbors on clustered data") {
    val exact = pairs(Similarity.topKBrute(spark, fixtureDir))
    val ann = Similarity.annLsh(spark, fixtureDir)
    val annRows = ann.collect()
    assert(annRows.forall(r => r.getLong(0) !== r.getLong(1)))
    assert(annRows.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 5L))
    val annPairs = annRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect annPairs).size.toDouble / exact.size
    info(f"ANN recall vs brute force: $recall%.2f (${annPairs.size} returned)")
    assert(recall >= 0.5, s"LSH recall $recall too low")
  }

  test("LSH-candidate embedding dedup: precision 1 vs exact all-pairs, high recall on tight clusters") {
    val exact = pairs(Similarity.dedupEmbedding(spark, fixtureDir, threshold = 0.9))
    val ann = pairs(Similarity.dedupEmbeddingAnn(spark, fixtureDir, threshold = 0.9))
    assert(exact.nonEmpty)
    // every emitted pair passed the exact-cosine verify → strict subset
    // of the all-pairs baseline at the same threshold (precision = 1)
    assert(ann.subsetOf(exact), s"ANN emitted non-dup pairs: ${ann diff exact}")
    assert(ann.forall { case (a, b) => a < b })
    val recall = (exact intersect ann).size.toDouble / exact.size
    info(f"LSH-candidate dedup recall vs all-pairs: $recall%.2f (${ann.size}/${exact.size})")
    // tight clusters → near-parallel vectors → per-band collision
    // probability ~1; recall must be high here
    assert(recall >= 0.8, s"dedup ANN recall $recall too low")
  }

  test("contrastive pairs: one positive per emitting anchor, negatives banded and ranked") {
    val rows = Similarity.contrastivePairs(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)

    // in-memory exact cosine over the 60 fixture vectors
    val emb = spark.read.parquet(s"$fixtureDir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (emb(a), emb(b))
      val d = va.zip(vb).map { case (x, y) => x * y }.sum
      d / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }

    val byAnchor = rows.groupBy(_._1)
    byAnchor.foreach { case (anchor, rs) =>
      val pos = rs.filter(_._3 == "pos")
      // exactly one positive at rank 1, and it clears the band
      assert(pos.length === 1 && pos.head._4 === 1L)
      assert(cos(anchor, pos.head._2) >= 0.35 - 1e-9)
      // tight clusters: the positive must share the anchor's cluster
      assert(pos.head._2 % 3 === anchor % 3,
        s"anchor $anchor pos ${pos.head._2} crosses clusters")
      val negs = rs.filter(_._3 == "neg")
      assert(negs.length <= 3)
      assert(negs.map(_._4).sorted === (1L to negs.length).toSeq)
      negs.foreach { case (_, p, _, _) =>
        val c = cos(anchor, p)
        assert(c >= 0.05 - 1e-9 && c < 0.35 + 1e-9, s"neg sim $c out of band")
      }
      // a pair never carries both roles for the same anchor
      assert(pos.map(_._2).toSet.intersect(negs.map(_._2).toSet).isEmpty)
    }
    // no anchor emits negatives without a positive (union precedes semi-join)
    assert(rows.filter(_._3 == "neg").map(_._1).toSet
      .subsetOf(rows.filter(_._3 == "pos").map(_._1).toSet))
    info(s"${byAnchor.size} anchors, ${rows.count(_._3 == "neg")} hard negatives")
  }

  test("PQ-ADC ANN: 5 ranked neighbors per query, good recall on clustered data") {
    val exact = pairs(Similarity.topKBrute(spark, fixtureDir))
    val pq = Similarity.annPq(spark, fixtureDir).collect()
    assert(pq.length === 50) // 10 queries x 5
    assert(pq.forall(r => r.getLong(0) !== r.getLong(1)))
    assert(pq.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 5L))
    val pqPairs = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pqPairs).size.toDouble / exact.size
    info(f"PQ-ADC recall vs brute force: $recall%.2f")
    // r20 refine tail: ADC is only the candidate generator now — the
    // exact-cosine re-rank of its top-100 restores the within-cluster
    // order PQ distortion used to scramble (recall was graded against
    // the ~0.26 same-cluster-random baseline before; it reads ~0.94
    // with the tail). Grade well above the old baseline.
    assert(recall >= 0.8, s"PQ recall $recall below the refine-tail expectation")
    // every approximate neighbor at least lands in the query's cluster
    assert(pq.forall(r => r.getLong(0) % 3 === r.getLong(1) % 3))
  }

  test("IVF-PQ ANN: candidates come from probed cells only, recall above cluster-random") {
    val exact = pairs(Similarity.topKBrute(spark, fixtureDir))
    val rows = Similarity.annIvfPq(spark, fixtureDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) !== r.getLong(1)))
    assert(rows.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 5L))
    // ranks are contiguous from 1 within each query
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq === (1L to rs.length).toSeq)
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    info(f"IVF-PQ recall vs brute force: $recall%.2f (${got.size} returned)")
    // r20: ADC selects top-refineR inside probed cells and exact
    // cosine re-ranks them, so recall is bounded by the probe stage,
    // not PQ code resolution — 0.92 measured on the fixture (the
    // pre-refine form read 0.26, losing to its own 0.35 floor)
    assert(recall >= 0.8, s"IVF-PQ refine recall $recall regressed")
  }

  test("ann_recall_clustered: trained codebook >= untrained control, no collapse") {
    // the registered clustered scoreboard (synthetic md5-integer
    // corpus, independent of dir) — pins the r19 failure class: a
    // variant collapsing ONLY on clustered data went unnoticed until
    // a probe happened to run
    val rows = graft.operators.Similarity.annRecallClustered(spark, fixtureDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rows.keySet === Set("ann_ivf", "ann_ivf_ctl", "ann_ivfpq", "ann_lsh", "ann_pq"))
    assert(rows("ann_ivf") >= rows("ann_ivf_ctl"),
      s"trained IVF ${rows("ann_ivf")} fell below the untrained control ${rows("ann_ivf_ctl")}")
    assert(rows("ann_ivf") >= 45L)
    assert(rows("ann_ivfpq") >= 40L, s"IVF-PQ clustered recall collapsed: ${rows("ann_ivfpq")}/50")
    assert(rows("ann_lsh") >= 45L)
  }

  test("standing IVF index: bit-identical to in-query IVF, probe scan partition-pruned") {
    standingIvfCheck("graft_ivf_cell_index",
      (s, d) => Similarity.annIvfStanding(s, d, nlist = 16, nprobe = 1))
  }

  test("appended IVF index: partition layout survives mode(append), pruning unchanged") {
    // The append lifecycle: even-vec_id half written, odd half appended
    // into the same cell-partitioned table. Contents union to the full
    // corpus, so the result must stay bit-identical to the in-query
    // plan AND the probe's static partition pruning must keep working
    // over the per-cell file sets the append grew.
    standingIvfCheck("graft_ivf_cell_appended",
      (s, d) => Similarity.annIvfStandingAppend(s, d, nlist = 16, nprobe = 1))
  }

  /** Shared drive for both IVF index lifecycles. nlist=16, nprobe=1:
    * the 10 queries ARE centroids (vec_id < 16), so each probes exactly
    * its own cell — 10 distinct cells of 16, making the pruning
    * OBSERVABLE. (At nlist=8 every query-centroid cell union covers all
    * 8 cells by construction; the filter is still in the plan there,
    * but prunes nothing.)
    */
  private def standingIvfCheck(
      indexBase: String,
      variant: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

    val inQuery = Similarity.annIvf(spark, fixtureDir, nlist = 16, nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val standing = variant(spark, fixtureDir)
    try {
      val rows = standing.collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === inQuery)

      // the probe must READ less than the whole index: the cell filter
      // has to reach the scan as a partition filter, and the selected
      // partition count has to be the probed-cell count, not nlist
      def strip(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
        case q: QueryStageExec        => strip(q.plan)
        case other => other.withNewChildren(other.children.map(strip))
      }
      val scans = strip(standing.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec
          if s.tableIdentifier.exists(_.table.startsWith(indexBase)) => s
      }
      assert(scans.nonEmpty, "index scan not found in executed plan")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        "cell IN (...) did not reach the index scan as a partition filter")
      val selected = scans.map(_.selectedPartitions.partitionCount)
      info(s"index partitions read: ${selected.mkString(",")} of 16 cells")
      assert(selected.forall(_ < 16),
        s"probe read every index partition ($selected) — pruning inactive")
    } finally spark.sql(
      s"DROP TABLE IF EXISTS ${Tables.scopedIndex(spark, indexBase, fixtureDir)._1}")
  }

  test("IVF delete lifecycle: tombstoned vectors vanish; untouched queries keep their neighbors") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val tomb = (0L until 60L).filter(id => id % 10 == 3 && id >= 16).toSet

    // full standing index (uncompacted, tombstones present)
    val full = rows(Similarity.annIvfStanding(spark, fixtureDir))
    // full lifecycle: build, compact without tombstones, probe
    val compacted = rows(Similarity.annIvfStandingDelete(spark, fixtureDir))

    assert(compacted.nonEmpty)
    assert(compacted.forall { case (_, n, _) => !tomb.contains(n) },
      "a tombstoned vector survived as a neighbor")
    // queries whose full top-5 never touched a tombstone are unaffected
    val untouched = full.groupBy(_._1).filter(_._2.forall(r => !tomb.contains(r._2))).keySet
    assert(untouched.nonEmpty)
    untouched.foreach { q =>
      assert(full.filter(_._1 == q) === compacted.filter(_._1 == q))
    }
  }

  test("kmeans inertia: cells partition all vectors; centroid self-distance is zero") {
    val rows = Similarity.kmeansInertia(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (cell, _, _) => cell >= 0L && cell < 16L })
    assert(rows.map(_._2).sum === 60L) // every fixture vector in exactly one cell
    assert(rows.forall(_._3 >= 0L))
    // a centroid is its own cell's member at distance 0, so a cell of
    // size 1 (centroid alone) must have inertia exactly 0
    rows.filter(_._2 === 1L).foreach { case (cell, _, in) =>
      assert(in === 0L, s"singleton cell $cell has nonzero inertia $in")
    }
  }

  test("centroid update: every vector lands in one valid cell; means are exact int ratios") {
    val rows = Similarity.centroidUpdate(spark, fixtureDir).collect()
    assert(rows.forall(r => r.getLong(0) >= 0L && r.getLong(0) < 16L))
    assert(rows.map(_.getLong(1)).toSet === (0L until 64L).toSet)
    // every (dim) slice accounts for all 60 fixture vectors exactly once
    val perDim = rows.groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(perDim.values.toSet === Set(60L))
    assert(rows.forall(r =>
      r.getDouble(4) === r.getLong(3).toDouble / r.getLong(2)))
  }

  test("TopK aggregator matches the window row_number formulation, NaN sims included") {
    // A zero-norm embedding scores sim = 0/0 = NaN. Spark's DESC sort
    // ranks NaN first (greatest); the aggregator's explicit
    // Double.compare ordering must agree with the window plan it
    // replaces — on the exact output rows, not just counts.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val scored = Seq(
      (0L, 10L, 0.9), (0L, 11L, Double.NaN), (0L, 12L, 0.3),
      (0L, 13L, Double.NaN), (0L, 14L, 0.7), (0L, 15L, -0.2),
      (1L, 20L, 0.1), (1L, 21L, Double.NaN), (1L, 22L, 0.1))
      .toDF("qid", "vec_id", "sim")
    val viaAgg = graft.functions.TopK.perQuery(scored, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    val viaWindow = scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3).select("qid", "vec_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaAgg === viaWindow)
    // NaN outranks every finite sim in both formulations
    assert(viaAgg.contains((0L, 11L, 1L)) && viaAgg.contains((0L, 13L, 2L)))
  }

  test("ann_recall scoreboard matches per-variant intersections computed directly") {
    val rows = Similarity.annRecall(spark, fixtureDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows.map(_._1).sorted === Seq("ann_ivf", "ann_ivfpq", "ann_lsh", "ann_pq"))
    val exact = pairs(Similarity.topKBrute(spark, fixtureDir))
    assert(rows.forall(_._4 === exact.size.toLong)) // possible = |exact|
    assert(rows.forall(_._2 === 5L))
    // each variant's hits = |variant ∩ exact| recomputed independently
    val direct = Map(
      "ann_ivf"   -> pairs(Similarity.annIvf(spark, fixtureDir)),
      "ann_ivfpq" -> pairs(Similarity.annIvfPq(spark, fixtureDir)),
      "ann_lsh"   -> pairs(Similarity.annLsh(spark, fixtureDir)),
      "ann_pq"    -> pairs(Similarity.annPq(spark, fixtureDir)))
    rows.foreach { case (v, _, hits, possible) =>
      assert(hits === (direct(v) intersect exact).size.toLong, s"variant $v")
      assert(hits >= 0L && hits <= possible)
      info(f"$v recall@5 = ${hits.toDouble / possible}%.2f")
    }
    // clustered fixture: the coarse-cell variants should recall well
    val byV = rows.map(t => t._1 -> t._3).toMap
    assert(byV("ann_ivf").toDouble / exact.size >= 0.5)
    assert(byV("ann_lsh").toDouble / exact.size >= 0.5)
  }

  test("nprobe sweep: candidates and recall non-decreasing in nprobe, level 4 = annIvf's recall") {
    val rows = Similarity.annNprobeSweep(spark, fixtureDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8))
    info(rows.map(r =>
      f"np=${r._1}: cand=${r._2} hits=${r._3}/${r._4} recall=${r._5}%.2f").mkString("; "))
    // cost axis: widening the probe set can only add candidate rows
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"candidates fell ${a._1}->${b._1}")
      assert(a._5 <= b._5 + 1e-12, s"recall fell ${a._1}->${b._1}")
    }
    // level 4 IS the registered annIvf (same codebook, tie rules, k)
    val exact = pairs(Similarity.topKBrute(spark, fixtureDir))
    val ivfHits = (pairs(Similarity.annIvf(spark, fixtureDir)) intersect exact).size.toLong
    val row4 = rows.find(_._1 == 4).get
    assert(row4._3 === ivfHits)
    assert(rows.forall(_._4 === exact.size.toLong))
  }

  test("hybrid RRF: the doc matching BOTH signals outranks each single-signal match") {
    import spark.implicits._
    val dir = scratchDir("graft-hybrid")
    // query doc 0; doc 10 = lexical-only match (same tokens, orthogonal
    // embedding), doc 11 = semantic-only (disjoint vocab, near-parallel
    // embedding), doc 12 = BOTH; 13..15 = filler. RRF must put 12
    // first: one contribution from each ranker beats either alone.
    val shared = "alpha beta gamma delta"
    val docs = Seq(
      0L -> shared, 10L -> shared, 11L -> "omega psi chi phi",
      12L -> shared, 13L -> "one two three four",
      14L -> "five six seven eight", 15L -> "nine ten eleven twelve")
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 10L -> Seq(0f, 1f, 0f, 0f),
      11L -> Seq(0.8f, 0.2f, 0f, 0f), 12L -> Seq(0.9f, 0.1f, 0f, 0f),
      13L -> Seq(0f, 0f, 1f, 0f), 14L -> Seq(0f, 0f, 0.9f, 0.1f),
      15L -> Seq(0f, 0f, 0.1f, 0.9f))
    emb.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val rows = Similarity.hybridSearchRrf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._4)
    assert(rows.forall(_._1 === 0L))
    // 12 fuses lex rank 2 + sem rank 1; 10 fuses lex rank 1 + sem rank
    // 3 (cos 0, lowest id among the ties); 11 is semantic-only rank 2
    assert(rows.take(3).map(_._2).toSeq === Seq(12L, 10L, 11L))
    val byId = rows.map(r => r._2 -> r._3).toMap
    assert(byId(12L) === 1000000L / 62 + 1000000L / 61)
    assert(byId(10L) === 1000000L / 61 + 1000000L / 63)
    assert(byId(11L) === 1000000L / 62)
    assert(byId(12L) > byId(10L) && byId(10L) > byId(11L))
  }

  test("prototype prune drops the floor(n/4) most-prototypical per cell, deterministically") {
    val kept = Similarity.prototypePrune(spark, fixtureDir, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 3 separated clusters of 20 (init = one seed per cluster) → each
    // cell drops its 5 closest-to-centroid vectors, keeping 15
    assert(kept.length === 45)
    val byCell = kept.groupBy(_._2)
    assert(byCell.size === 3)
    byCell.foreach { case (_, rows) =>
      assert(rows.length === 15)
      // kept ranks are exactly (n/4)+1 .. n — the prototypical head is gone
      assert(rows.map(_._4).sorted.toSeq === (6L to 20L))
      // d2 non-decreasing with prototypicality rank
      val byRank = rows.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
      // well-separated fixture: a cell holds exactly one true cluster
      assert(rows.map(t => t._1 % 3).distinct.length === 1)
    }
  }

  test("semantic contamination flags every corpus doc near a benchmark vector") {
    // benchmark = ids 0..9 → cluster 0 has 4 bench members, clusters
    // 1/2 have 3; tight fixture clusters keep same-cluster cosine high
    val got = Similarity.contaminationSemantic(spark, fixtureDir, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall(_._1 >= 10L))
    assert(got.map(_._1).toSet === (10L until 60L).toSet)
    got.foreach { case (id, nHits, best) =>
      val benchInCluster = (0L until 10L).count(_ % 3 === id % 3)
      assert(nHits >= 1L && nHits <= benchInCluster.toLong)
      assert(best > 0.9)
    }
  }

  test("cluster top-terms ranks each cell's distinctive vocabulary by corpus share") {
    // docs 0..4 land in cells 0/1/2/0/1 (k=3 seeds = one per true
    // cluster). Corpus counts (over the 5 docs): w1..w39 = 4, w40 = 3,
    // x* = 1, zz = 1 — minCorpusCnt=2 keeps only the w's.
    val got = Similarity.clusterTopTerms(spark, fixtureDir, k = 3,
        topn = 5, minCorpusCnt = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byCell = got.groupBy(_._1)
    assert(byCell.keySet === Set(0L, 1L, 2L))
    def ranked(cell: Long): Seq[String] =
      byCell(cell).sortBy(_._5).map(_._2).toSeq
    // w40 is absent from doc2 (cell 2), so its corpus count is 3 and
    // its share in cells 0/1 (333333 / 666666 micro) beats the
    // 250000/500000 of the w1..w39 mass; ties order lexicographically
    assert(ranked(0L) === Seq("w40", "w1", "w10", "w11", "w12"))
    assert(ranked(1L) === Seq("w40", "w1", "w10", "w11", "w12"))
    assert(ranked(2L) === Seq("w1", "w10", "w11", "w12", "w13"))
    val shares = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(shares((0L, "w40")) === 1000000L / 3)
    assert(shares((1L, "w40")) === 2000000L / 3)
    assert(shares((1L, "w1")) === 500000L)
    assert(shares((2L, "w1")) === 250000L)
    // the cell-2 doc's unique term zz is filtered by the corpus floor
    assert(!got.exists(_._2 === "zz"))
  }

  test("embedding covariance matches an in-memory integer reference exactly") {
    // reference: quantize each vector with the embeddingQuantize
    // formula, then accumulate the upper-triangle sums in plain Scala
    val vecs = spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val codes = vecs.map { case (_, v) =>
      val ma = v.map(math.abs).max
      v.map(x => if (ma == 0.0) 0L
        else math.max(-127L, math.min(127L, math.floor(x * 127.0 / ma).toLong)))
    }
    val d = codes.head.length
    val expPairs = (for { i <- 0 until d; j <- i until d } yield
      (i.toLong, j.toLong) -> codes.map(q => q(i) * q(j)).sum).toMap
    val expDim = (0 until d).map(i => i.toLong -> codes.map(_(i)).sum).toMap

    val got = Similarity.embeddingCovariance(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.size === d * (d + 1) / 2)
    got.foreach { case ((i, j), (sumQq, sumQi, sumQj, n)) =>
      assert(sumQq === expPairs((i, j)), s"sum_qq($i,$j)")
      assert(sumQi === expDim(i) && sumQj === expDim(j), s"dim sums ($i,$j)")
      assert(n === codes.length.toLong)
      // raw-moment Cauchy-Schwarz: a violated bound means broken sums
      assert(sumQq * sumQq <= expPairs((i, i)) * expPairs((j, j)) ||
        i == j, s"CS($i,$j)")
    }
  }

  test("pca projection: power iteration finds the planted dominant axis") {
    import spark.implicits._
    val dir = scratchDir("graft-pca")
    // axis 0 carries 3 vectors (one negative), axis 1 one, plus a
    // zero vector — the dominant direction is +e0 (all-ones start
    // fixes the sign), so projections are the axis-0 codes × 10^6
    Seq(
      (0L, Array(10f, 0f, 0f, 0f), 0),
      (1L, Array(-8f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 0),
      (3L, Array(3f, 0f, 0f, 0f), 0),
      (4L, Array(0f, 0f, 0f, 0f), 0)) // all-zero: quantizes to 0, projects to 0
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.embeddingPcaProject(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 5)
    assert(got(0L) === 127L * 1000000L)
    assert(got(1L) === -127L * 1000000L)
    assert(got(3L) === 127L * 1000000L)
    assert(got(4L) === 0L)
    // the off-axis vector's projection decays by ~(1/3)^8 per the
    // eigenvalue gap — far below the axis-0 magnitude
    assert(math.abs(got(2L)) < 100000L, s"off-axis leak: ${got(2L)}")
  }

  test("threshold sweep: monotone pair counts, 0.35 row equals the ANN dedup pair set") {
    val sweep = Similarity.dedupThresholdSweep(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // higher threshold can only drop pairs
    val ordered = Seq(250000L, 350000L, 500000L, 700000L).flatMap(sweep.get)
    assert(ordered === ordered.sorted.reverse)
    // the 0.35 row IS dedupEmbeddingAnn's pair count (same candidates,
    // same verify predicate)
    val annPairs = Similarity.dedupEmbeddingAnn(spark, fixtureDir).count()
    assert(sweep.getOrElse(350000L, 0L) === annPairs)
  }

  test("embedding outliers: closed-form flag on a planted off-axis vector") {
    import spark.implicits._
    val dir = scratchDir("graft-outl")
    // label 0: three e0-axis vectors (q=[127,0,0,0]) + one e1-axis
    // (q=[0,127,0,0]). centroid = [381,127,0,0] div 4 = [95,31,0,0];
    // inlier dist2 = 32²+31² = 1985, off-axis dist2 = 95²+96² = 18241;
    // sum = 3·1985+18241 = 24196 → flag iff 2·dist2·4 > 3·24196=72588:
    // only the off-axis vector (145928). label 1: two identical
    // vectors → dist2 0 each, sum 0: 0 > 0 false — nobody flagged.
    Seq(
      (0L, Array(5f, 0f, 0f, 0f), 0),
      (1L, Array(9f, 0f, 0f, 0f), 0),
      (2L, Array(2f, 0f, 0f, 0f), 0),
      (3L, Array(0f, 4f, 0f, 0f), 0),
      (4L, Array(1f, 1f, 0f, 0f), 1),
      (5L, Array(3f, 3f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.embeddingOutliers(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(0L) === ((0L, 1985L, false)))
    assert(got(1L) === ((0L, 1985L, false)))
    assert(got(2L) === ((0L, 1985L, false)))
    assert(got(3L) === ((0L, 18241L, true)))
    assert(got(4L) === ((1L, 0L, false)))
    assert(got(5L) === ((1L, 0L, false)))
  }

  test("JL projection: hand-computed signs/quantization reproduce exactly; zero vector projects to zero") {
    import spark.implicits._
    val dir = scratchDir("graft-jl")
    Seq(
      (1L, Seq(1.0f, -1.0f, 0.5f, -0.25f), 0),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // mirror the operator: q = [127, -127, 63, -32]; s(i,j) from md5 parity
    val q = Seq(127L, -127L, 63L, -32L)
    def sign(i: Int, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"jl:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    val expected = (0 until 16).map(j =>
      j -> q.zipWithIndex.map { case (qi, i) => qi * sign(i, j) }.sum).toMap
    val got = Similarity.embeddingRandomProjection(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size === 32) // 2 vectors × k=16
    (0 until 16).foreach { j =>
      assert(got((1L, j)) === expected(j), s"j=$j")
      assert(got((2L, j)) === 0L)
    }
  }

  test("embeddingNormBands: every vector lands in exactly one band; bands partition the counts") {
    val rows = operators.Similarity.embeddingNormBands(spark, fixtureDir).collect()
    assert(rows.map(_.getLong(1)).sum === 60L) // all 60 fixture vectors
    rows.foreach { r =>
      val (band, mn, mx) = (r.getLong(0), r.getLong(2), r.getLong(3))
      // min/max norms must actually fall inside the claimed log2 band
      assert(java.lang.Long.toBinaryString(mn + 1).length - 1 === band)
      assert(java.lang.Long.toBinaryString(mx + 1).length - 1 === band)
    }
  }

  test("bitext mining: margin accepts the true pair per language, rejects the uniform-neighborhood source") {
    import spark.implicits._
    val dir = scratchDir("graft-bitext")
    // en doc 0 has a genuine de translation (10) and a genuine fr one
    // (20); en doc 1 is the HUB case — equidistant from every target
    // (all sims ≈ 0.0995), so raw cosine ranks it somewhere but its
    // margin ≈ 0.3 never clears 1.05. de docs 11/12 are decoys at
    // sim ≈ 0.5 to doc 0: best-match selection must pick 10
    // (margin ≈ 1.65) and emit ONE row per (lang, src).
    Seq((0L, "en"), (1L, "en"), (10L, "de"), (11L, "de"), (12L, "de"), (20L, "fr"))
      .map { case (id, l) => (id, s"doc $id", l, "src", 6L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(0f, 0f, 1f, 0f), 0),
      (10L, Array(1f, 0f, 0.1f, 0f), 0),
      (11L, Array(0.5f, 0.87f, 0.1f, 0f), 0),
      (12L, Array(0.5f, -0.87f, 0.1f, 0f), 0),
      (20L, Array(1f, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Similarity.bitextMine(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("de", 0L, 10L), ("fr", 0L, 20L)))
  }

  test("embeddingDimStats: one row per dimension with consistent exact sums") {
    val rows = operators.Similarity.embeddingDimStats(spark, fixtureDir).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      assert(r.getLong(1) === 60L) // every dim sees every vector
      val (n, sum, mn, mx) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mn <= mx)
      assert(sum >= n * mn && sum <= n * mx) // exact-sum sanity envelope
      assert(r.getDouble(6) >= 0.0) // variance non-negative
      // derived mean reconstructs from the exact sum
      assert(r.getDouble(5) === sum.toDouble / n.toDouble / 1e6)
    }
  }
}
