package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Dedup-operator semantics on fixture documents:
  * doc0 = doc1 (exact dup), doc2 differs in the final token
  * (bigram-jaccard 38/40 = 0.95), doc3 unrelated, doc4 is a permutation
  * of doc0 (same token SET → same simhash, but disjoint bigrams →
  * not a jaccard near-dup).
  */
class DedupSpec extends AnyFunSuite with SparkFixture {

  test("dedup_exact groups identical text; keeper is the min doc_id") {
    val got = Dedup.dedupExact(spark, fixtureDir)
      .select("keep_id", "n_dups").collect().toSet
    assert(got === Set(Row(0L, 2L), Row(2L, 1L), Row(3L, 1L), Row(4L, 1L)))
  }

  test("ngram-jaccard finds exactly the >=0.8 pairs with exact counts") {
    val got = Dedup.ngramJaccard(spark, fixtureDir).collect().toSet
    assert(got === Set(
      Row(0L, 1L, 39L, 39L), // identical: 39 shared bigrams
      Row(0L, 2L, 38L, 40L), // one-token edit: j = 0.95
      Row(1L, 2L, 38L, 40L)))
  }

  test("containment finds the >=0.9 near-subset pairs, one orientation each") {
    val got = Dedup.containment(spark, fixtureDir).collect().toSet
    // 40-token docs → 36 5-grams; the one-token edit breaks only the
    // final gram (35/36 = 0.972). Equal-size near-dups orient ties to
    // the lower id; the reversed permutation doc 4 shares no grams and
    // the unrelated doc 3 none
    assert(got === Set(
      Row(0L, 1L, 36L, 36L),
      Row(0L, 2L, 35L, 36L),
      Row(1L, 2L, 35L, 36L)))
  }

  test("containment removal keeps exactly the maximal + unrelated docs") {
    // pairs (0,1) (0,2) (1,2) mark 1 and 2 contained; 3, 4 unrelated
    val kept = Dedup.containmentRemove(spark, fixtureDir).collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(0L, 3L, 4L))
  }

  test("containment catches a verbatim quote jaccard dedup misses by construction") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("graft-containment")
    val big = (1 to 100).map(i => s"u$i").mkString(" ")
    val quote = (20 to 39).map(i => s"u$i").mkString(" ") // verbatim span of big
    Seq((10L, big), (11L, quote))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // all 16 of the quote's 5-grams sit inside big's 96: containment 1.0
    val got = Dedup.containment(spark, dir).collect().toSet
    assert(got === Set(Row(10L, 11L, 16L, 16L)))
    // jaccard = 19/99 — far under 0.8, so the symmetric path stays silent
    assert(Dedup.ngramJaccard(spark, dir).collect().isEmpty)
  }

  test("minhash+LSH finds the same near-dup pairs as the exact inverted index") {
    val exact = Dedup.ngramJaccard(spark, fixtureDir).collect().toSet
    val lsh = Dedup.minhashLsh(spark, fixtureDir).collect().toSet
    assert(lsh === exact) // P(band miss | j>=0.95) < 1e-11 per pair
  }

  test("connected components cluster exact+near dups; min id survives") {
    val got = Dedup.dedupComponents(spark, fixtureDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("comp"), r.getAs[Boolean]("keep"))).toMap
    // {0,1,2}: 0=1 exact, 0~2 near-dup; {3} and {4} are singletons
    // (the permutation doc 4 shares no bigrams with 0, so it's its own
    // cluster here — simhash, not jaccard, is the op that links it)
    assert(got === Map(
      0L -> ((0L, true)), 1L -> ((0L, false)), 2L -> ((0L, false)),
      3L -> ((3L, true)), 4L -> ((4L, true))))
  }

  // Base (ids <= cut 8): components {1,2} and {5,6} — exact-dup pairs
  // whose texts share 70 of 90 union bigrams (j = 0.778 < 0.8, so the
  // base clustering keeps them separate) — plus singleton 7.
  // Batch (ids > 8): doc 9 contains BOTH texts' token runs
  // (j = 80/91 = 0.879 to each side — a bridge that must MERGE the
  // two standing components, the case probe-only labeling misses),
  // and doc 10 is an exact dup of base doc 7.
  private val core = (1 to 71).map(i => s"w$i")
  private val aTxt = (core ++ (1 to 10).map(i => s"x$i")).mkString(" ")
  private val bTxt = (core ++ (1 to 10).map(i => s"y$i")).mkString(" ")
  private val bridge = (core ++ (1 to 10).map(i => s"x$i")
    ++ core ++ (1 to 10).map(i => s"y$i")).mkString(" ")
  private val lone = (1 to 30).map(i => s"z$i").mkString(" ")

  private def writeDocs(dir: String, mode: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(mode).parquet(s"$dir/documents.parquet")
  }

  /** The bridge corpus above in a fresh scratch dir. */
  private def bridgeCorpus(): String = {
    val dir = scratchDir("graft-comp-incr")
    writeDocs(dir, "overwrite", Seq(1L -> aTxt, 2L -> aTxt, 5L -> bTxt, 6L -> bTxt,
      7L -> lone, 9L -> bridge, 10L -> lone))
    dir
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("comp"), r.getAs[Boolean]("keep")))).toMap

  test("incremental components: a batch doc bridges two standing components") {
    val dir = bridgeCorpus()
    val incr = labelMap(Dedup.componentsIncremental(spark, dir))
    assert(incr === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 5L -> ((1L, false)),
      6L -> ((1L, false)), 9L -> ((1L, false)),
      7L -> ((7L, true)), 10L -> ((7L, false))))
    // and the lifecycle loses nothing vs clustering from scratch
    assert(incr === labelMap(Dedup.dedupComponents(spark, dir)))
    // the persisted-index twin folds against a bucketed base-label
    // table and compacts to the next version — same relation again
    assert(labelMap(Dedup.componentsStandingAppend(spark, dir)) === incr)
    // and the session-scoped carve-out: a REPEAT call reads the
    // already-compacted v2 table (no re-fold) and must return the
    // identical relation — the bench/deployment steady-state path
    assert(labelMap(Dedup.componentsStandingAppend(spark, dir)) === incr)
  }

  test("an in-place append rebuilds the components-lifecycle standing tables") {
    val dir = bridgeCorpus()
    Dedup.componentLabels(spark, dir).collect()
    Dedup.componentsIncremental(spark, dir).collect()
    Dedup.componentsStandingAppend(spark, dir).collect()
    // a dup of base doc 1 and an unrelated doc; the cut moves 8 -> 9,
    // so the bridge doc 9 moves from the batch into the base
    writeDocs(dir, "append", Seq(11L -> aTxt,
      12L -> (1 to 30).map(i => s"v$i").mkString(" ")))
    val scratch = labelMap(Dedup.dedupComponents(spark, dir))
    assert(scratch === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 5L -> ((1L, false)),
      6L -> ((1L, false)), 9L -> ((1L, false)), 11L -> ((1L, false)),
      7L -> ((7L, true)), 10L -> ((7L, false)), 12L -> ((12L, true))))
    assert(labelMap(Dedup.componentLabels(spark, dir)) === scratch)
    assert(labelMap(Dedup.componentsIncremental(spark, dir)) === scratch)
    assert(labelMap(Dedup.componentsStandingAppend(spark, dir)) === scratch)
  }

  test("portable md5 minhash+LSH agrees with the exact inverted index") {
    val exact = Dedup.ngramJaccard(spark, fixtureDir).collect().toSet
    val portable = Dedup.minhashPortable(spark, fixtureDir).collect().toSet
    assert(portable === exact)
  }

  test("xxh64 minhash fast path emits the identical verified rows as the md5 portable twin") {
    // this equality is what lets dedup_minhash share the portable
    // oracle SQL: the hash family only affects candidate recall, and
    // the verified (inter, uni) values are hash-independent
    val fast = Dedup.minhashLsh(spark, fixtureDir).collect().toSet
    val portable = Dedup.minhashPortable(spark, fixtureDir).collect().toSet
    assert(fast === portable)
  }

  test("portable simhash finds the same pair set as the xxh64 variant") {
    val native = Dedup.simhash(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val portable = Dedup.simhashPortable(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // different hash families, same similarity structure on the fixture:
    // identical token multisets pair at hamming 0 in both
    assert(Set((0L, 1L), (0L, 4L), (1L, 4L)).subsetOf(portable))
    assert(portable === native)
  }

  test("simhash: permutation has identical signature; unrelated docs don't pair") {
    val got = Dedup.simhash(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // same token multiset → hamming 0 for (0,1), (0,4), (1,4)
    assert(Set((0L, 1L, 0L), (0L, 4L, 0L), (1L, 4L, 0L)).subsetOf(got))
    assert(got.forall(_._3 <= 3))
    assert(!got.exists(p => p._2 == 3L || p._1 == 3L)) // doc3 unrelated
  }

  test("incremental dedup: batch probes the existing index; batch-internal dups collapse") {
    import spark.implicits._
    val dir = scratchDir("graft-incr")
    // existing corpus ids 0..4 (cut = 22*8/10 = 17); ingest batch 20..22
    Seq((0L, "alpha text"), (1L, "beta text"), (2L, "gamma text"),
      (3L, "delta text"), (4L, "epsilon text"),
      (20L, "alpha text"),  // dup of existing doc 0
      (21L, "zeta text"),   // novel — NOT reported
      (22L, "zeta text"))   // batch-internal dup of 21
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupIncremental(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(20L -> 0L, 22L -> 21L))
  }

  test("span removal: duplicated 8-gram spans drop from ALL holders; unique tails survive") {
    val got = Dedup.dedupSpanRemove(spark, fixtureDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // docs 0,1 identical → every position covered → emptied (not dropped)
    assert(got(0L) === ((40L, 0L, "")))
    assert(got(1L) === ((40L, 0L, "")))
    // doc2 shares w1..w39 with doc0: dup grams start at 1..32, covering
    // positions 1..39 — only the unique final token survives
    assert(got(2L) === ((40L, 1L, "zz")))
    // unrelated / permuted docs share no 8-gram → untouched
    assert(got(3L) === ((40L, 40L, Fixtures.DocD)))
    assert(got(4L) === ((40L, 40L, Fixtures.DocE)))
  }

  test("span removal boundaries: sub-window docs pass through; within-doc repeats count") {
    import spark.implicits._
    val dir = scratchDir("graft-span")
    val periodic = (1 to 3).flatMap(_ => (1 to 8).map(i => s"r$i")).mkString(" ")
    Seq(
      (0L, "tiny doc"),          // < 8 tokens: no grams, even though duplicated
      (1L, "tiny doc"),
      (2L, periodic),            // period-8 text: every gram repeats WITHIN the doc
      (3L, ""))                  // empty text: zero tokens
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupSpanRemove(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) === ((2L, 2L, "tiny doc"))) // exact dup, but sub-window: kept
    assert(got(1L) === ((2L, 2L, "tiny doc")))
    assert(got(2L) === ((24L, 0L, "")))        // multiplicity >= 2 inside one doc
    assert(got(3L) === ((0L, 0L, "")))
  }

  test("incremental minhash: batch probes the standing band index, batch-internal pairs out of scope") {
    import spark.implicits._
    val dir = scratchDir("graft-minhash-incr")
    val near = ((1 to 39).map(i => s"w$i") :+ "edited").mkString(" ")
    Seq(
      (0L, Fixtures.DocA), (1L, Fixtures.DocD),
      (2L, (1 to 40).map(i => s"y$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")),
      (4L, (1 to 40).map(i => s"q$i").mkString(" ")),
      (5L, (1 to 40).map(i => s"u$i").mkString(" ")),
      (6L, (1 to 40).map(i => s"v$i").mkString(" ")),
      (7L, (1 to 40).map(i => s"t$i").mkString(" ")),
      // cut = 9*8 div 10 = 7 → batch is {8, 9}
      (8L, near),  // j(8,0) = 38/40 ≥ 0.8 → reported against standing doc 0
      (9L, near))  // exact batch-internal dup of 8 — reported only vs doc 0
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.minhashIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((8L, 0L, 38L, 40L), (9L, 0L, 38L, 40L)))
  }

  test("standing-index delete: tombstoned docs vanish; soft and compacted probes agree") {
    import spark.implicits._
    val dir = scratchDir("graft-minhash-del")
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = ((1 to 39).map(i => s"w$i") :+ "edited").mkString(" ")
    // ids 0..9 → cut 7: standing {0..7}, batch {8,9}. Docs 0 and 3 are
    // both near-dups of the batch docs; 0 is in the takedown set
    // (doc_id % 10 == 0), 3 is not.
    (Seq((0L, near), (3L, near)) ++
      Seq(1L, 2L, 4L, 5L, 6L, 7L).map(i => (i, (1 to 10).map(j => s"f${i}_$j").mkString(" "))) ++
      Seq((8L, base), (9L, base)))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val full = rows(Dedup.minhashStanding(spark, dir))
    assert(full === Set((8L, 0L, 38L, 40L), (8L, 3L, 38L, 40L),
      (9L, 0L, 38L, 40L), (9L, 3L, 38L, 40L)))
    // full lifecycle: build, compact without tombstones, probe
    val compacted = rows(Dedup.minhashStandingDelete(spark, dir))
    assert(compacted === Set((8L, 3L, 38L, 40L), (9L, 3L, 38L, 40L)))
    // soft delete: the uncompacted probe's pairs minus tombstoned dup_of
    assert(full.filter(_._2 % 10 != 0) === compacted)
  }

  test("components delete: removing a bridge doc SPLITS its cluster; untouched clusters keep labels") {
    import spark.implicits._
    val dir = scratchDir("graft-comp-del")
    val words = (1 to 40).map(i => s"w$i")
    val bridge = words.mkString(" ")                                   // id 7 (tombstoned)
    val left = ((1 to 3).map(i => s"x$i") ++ words.drop(3)).mkString(" ")   // ~0.857 vs bridge
    val right = (words.dropRight(3) ++ (1 to 3).map(i => s"y$i")).mkString(" ") // ~0.857 vs bridge
    // left~right ≈ 0.733 < 0.8: ONLY the bridge connects them
    val docs = Seq(
      (1L, left), (2L, right), (7L, bridge),
      (3L, "same text here ok"), (4L, "same text here ok"),  // untouched exact pair
      (5L, (1 to 10).map(i => s"p$i").mkString(" ")),
      (6L, (1 to 10).map(i => s"q$i").mkString(" ")),
      // touched but NOT split: 8, 9, 17 exact dups, 17 tombstoned
      (8L, "dup trio common body"), (9L, "dup trio common body"),
      (17L, "dup trio common body"))
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // pre-delete: the chain is one component (the split below is real)
    val full = Dedup.dedupComponents(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full(1L) === 1L && full(7L) === 1L && full(2L) === 1L)

    val got = Dedup.componentsDelete(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (1L, 1L, true), (2L, 2L, true),          // the split: two new singletons
      (3L, 3L, true), (4L, 3L, false),         // untouched labels verbatim
      (5L, 5L, true), (6L, 6L, true),
      (8L, 8L, true), (9L, 8L, false)))        // shrunk but connected
  }

  test("soft weights: cluster mass splits by size; singletons keep full 10^6") {
    // fixture clusters: {0,1,2} (exact dup + j=0.95 near-dup), {3}, {4}
    val got = Dedup.dedupSoftWeights(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      0L -> ((0L, 3L, 333333L)), 1L -> ((0L, 3L, 333333L)),
      2L -> ((0L, 3L, 333333L)),
      3L -> ((3L, 1L, 1000000L)), // cluster-of-1 boundary: weight exactly 10^6
      4L -> ((4L, 1L, 1000000L))))
  }

  test("token savings: per-source token ROI of the component keep-policy") {
    val got = Dedup.dedupTokenSavings(spark, fixtureDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("tok_total"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("tok_kept"),
          r.getAs[Long]("savings_ppm")))).toMap
    // component {0,1,2} keeps doc 0 (src0); 3 and 4 keep themselves.
    // every fixture doc is 40 tokens: src0 loses doc1 of its two docs,
    // src1 loses doc2 of {2,3}, src2's singleton doc4 saves nothing
    assert(got === Map(
      "src0" -> ((2L, 80L, 1L, 40L, 500000L)),
      "src1" -> ((2L, 80L, 1L, 40L, 500000L)),
      "src2" -> ((1L, 40L, 1L, 40L, 0L))))
  }

  test("edit-distance join: PassJoin blocking matches brute force on a planted corpus") {
    import spark.implicits._
    val dir = scratchDir("graft-editdist")
    // windows live at text chars 101-148; the 100-char filler is shared
    // (it must NOT leak into the result) and doc ids are assigned so
    // every distance 0/1/2 relation and both exclusion rules (dist 3,
    // degenerate short window) are exercised.
    val filler = "f" * 100
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKL" // 48 chars
    val windows = Seq(
      0L -> base,
      1L -> base,                                      // (0,1) dist 0
      2L -> (base.take(10) + "#" + base.drop(11)),     // sub@10: dist 1 to base
      3L -> (base.take(20) + base.drop(21)),           // del@20: dist 1 to base
      4L -> (base.take(10) + "#" + base.slice(11, 30) + "%" + base.drop(31)),
      // sub@10 (same char as doc2) + sub@30: dist 2 to base, 1 to doc2
      5L -> base.reverse,                              // far from everything
      6L -> (base.take(5) + "@" + base.slice(6, 25) + "@" + base.slice(26, 40)
        + "@" + base.drop(41)))                        // 3 subs: dist 3 to base
    val docs = windows.map { case (id, wnd) => (id, filler + wnd) } :+
      (7L, filler.take(50))                            // empty window: excluded
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent in-test oracle: classic DP levenshtein over windows
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
      (ia, sa) <- windows; (ib, sb) <- windows
      if ia < ib && lev(sa, sb) <= 2
    } yield (ia, ib, lev(sa, sb).toLong)).toSet

    val got = Dedup.editDistanceJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    // the planted relations the corpus was built to exercise
    assert(got((0L, 1L, 0L)) && got((0L, 2L, 1L)) && got((0L, 3L, 1L)) &&
      got((0L, 4L, 2L)) && got((2L, 4L, 1L)) && got((2L, 3L, 2L)))
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L), "dist-3 doc leaked in")
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L), "degenerate window leaked in")
  }

  test("edit-distance join equals brute force on a seeded random corpus") {
    import spark.implicits._
    val dir = scratchDir("graft-editdist-rnd")
    // 120 windows over a 3-char alphabet, lengths 0..60, a third of
    // them derived from an earlier window by <=3 random edits — dense
    // near-miss structure around the k=2 threshold, including
    // length-boundary and duplicate-window cases the planted corpus
    // can't enumerate
    val rnd = new scala.util.Random(42)
    val windows = scala.collection.mutable.ArrayBuffer[String]()
    (0 until 120).foreach { i =>
      if (i % 3 == 2 && windows.nonEmpty) {
        var s = windows(rnd.nextInt(windows.length))
        (0 until rnd.nextInt(4)).foreach { _ =>
          val p = if (s.isEmpty) 0 else rnd.nextInt(s.length)
          s = rnd.nextInt(3) match {
            case 0 if s.nonEmpty => s.patch(p, ("abc" (rnd.nextInt(3))).toString, 1)
            case 1               => s.patch(p, ("abc" (rnd.nextInt(3))).toString, 0)
            case _ if s.nonEmpty => s.patch(p, "", 1)
            case _               => s
          }
        }
        windows += s
      } else windows += (0 until rnd.nextInt(61)).map(_ => "abc" (rnd.nextInt(3))).mkString
    }
    val filler = "f" * 100
    windows.zipWithIndex.toSeq.map { case (wnd, id) =>
      (id.toLong, filler + wnd, "en", "src", (filler + wnd).length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val ws = windows.zipWithIndex.map { case (w, id) => (id.toLong, w.take(48)) }
    val expected = (for {
      (ia, sa) <- ws; (ib, sb) <- ws
      if ia < ib && sa.length > 2 && sb.length > 2 && lev(sa, sb) <= 2
    } yield (ia, ib, lev(sa, sb).toLong)).toSet
    val got = Dedup.editDistanceJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "seeded corpus produced no pairs — regenerate")
  }

  test("ER blocking scoreboard: per-strategy counts match an in-test replay") {
    import spark.implicits._
    val dir = scratchDir("graft-erblock")
    val filler = "f" * 100
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKL"
    val windows = Seq(
      0L -> base, 1L -> base,
      2L -> (base.take(10) + "#" + base.drop(11)),
      3L -> (base.take(20) + base.drop(21)),
      4L -> (base.take(10) + "#" + base.slice(11, 30) + "%" + base.drop(31)),
      5L -> base.reverse,
      6L -> (base.take(5) + "@" + base.slice(6, 25) + "@" + base.slice(26, 40)
        + "@" + base.drop(41)),
      7L -> (base.take(2) + "!" + base.drop(3))) // edit INSIDE the 8-prefix
    windows.map { case (id, wnd) =>
      (id, filler + wnd, "en", "src", (filler + wnd).length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = for {
      (ia, sa) <- windows; (ib, sb) <- windows
      if ia < ib && lev(sa, sb) <= 2
    } yield (ia, ib, lev(sa, sb))
    def c2(groups: Map[_, Seq[Long]]): Long =
      groups.values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val byWindow = windows.groupMap(_._2)(_._1)
    val byPrefix = windows.groupMap(_._2.take(8))(_._1)
    val byLen = windows.groupMap(_._2.length)(_._1)
    val bandCand = c2(byLen) + (for {
      (la, ga) <- byLen; (lb, gb) <- byLen if lb > la && lb <= la + 2
    } yield ga.size.toLong * gb.size).sum
    val prefixFound = truth.count { case (a, b, _) =>
      windows.toMap.apply(a).take(8) == windows.toMap.apply(b).take(8) }

    val rows = Dedup.erBlockingReport(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val t = truth.size.toLong
    assert(rows("exact") === ((c2(byWindow), truth.count(_._3 == 0).toLong, t)))
    assert(rows("prefix8") === ((c2(byPrefix), prefixFound.toLong, t)))
    assert(rows("length_band") === ((bandCand, t, t)))
    // segment: lossless (found = total), collision-bounded (≤ band)
    val (segCand, segFound, segTotal) = rows("segment")
    assert(segFound === t && segTotal === t)
    assert(segCand >= t && segCand <= bandCand)
    // the scoreboard's point: recall separates exact from prefix8 here
    assert(rows("exact")._2 < t && rows("prefix8")._2 < t)
  }

  test("incremental edit-distance: batch probes standing only, never batch-batch") {
    import spark.implicits._
    val dir = scratchDir("graft-editdist-inc")
    val filler = "f" * 100
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKL"
    // ids 0/1 standing (cut = 9*8 div 10 = 7); 8/9 batch. 8 is dist-1
    // to standing 0 AND dist-2 to batch 9 — the 8-9 pair must NOT
    // appear (batch-batch is out of contract), 8-0 must.
    val windows = Seq(
      0L -> base,
      1L -> base.reverse,
      8L -> (base.take(10) + "#" + base.drop(11)),
      9L -> (base.take(10) + "#" + base.slice(11, 30) + "%" + base.drop(31)))
    windows.map { case (id, wnd) =>
      (id, filler + wnd, "en", "src", (filler + wnd).length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.editDistanceIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((8L, 0L, 1L), (9L, 0L, 2L)))
  }

  test("segment-index delete: tombstoned standing docs vanish; soft and compacted probes agree") {
    import spark.implicits._
    val dir = scratchDir("graft-editdist-del")
    val filler = "f" * 100
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKL"
    // ids {0, 5, 8}: cut = 8*8 div 10 = 6 → standing {0, 5}, batch {8}.
    // Batch 8 matches BOTH standing docs; 5 is in the takedown set
    // (doc_id % 10 == 5), 0 is not.
    val windows = Seq(
      0L -> base,
      5L -> (base.take(5) + "#" + base.drop(6)),
      8L -> (base.take(20) + "%" + base.drop(21)))
    windows.map { case (id, wnd) =>
      (id, filler + wnd, "en", "src", (filler + wnd).length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val full = rows(Dedup.editDistanceStanding(spark, dir))
    assert(full === Set((8L, 0L, 1L), (8L, 5L, 2L)))
    // full lifecycle: build, compact without tombstones, probe
    val compacted = rows(Dedup.editDistanceStandingDelete(spark, dir))
    assert(compacted === Set((8L, 0L, 1L)))
    // soft delete: the uncompacted probe's pairs minus tombstoned dup_of
    assert(full.filter(_._2 % 10 != 5) === compacted)
  }

  test("modality agreement partitions the union of lexical and semantic pair sets") {
    val lex = Dedup.minhashPortable(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = graft.operators.Similarity.dedupEmbeddingAnn(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.dedupModalityAgreement(spark, fixtureDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.getOrElse("both", 0L) === (lex & sem).size.toLong)
    assert(got.getOrElse("lexical_only", 0L) === (lex -- sem).size.toLong)
    assert(got.getOrElse("semantic_only", 0L) === (sem -- lex).size.toLong)
    assert(got.values.sum === (lex ++ sem).size.toLong)
  }

  test("KMV cardinality: exact under k shingles, bounded error above") {
    import spark.implicits._
    val dir = scratchDir("graft-kmv")
    // doc 1: 11 tokens → 10 distinct shingles < k=16 → exact report
    // doc 2: 500 distinct tokens → 499 shingles → estimator kicks in
    val docs = Seq(
      (1L, (1 to 11).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 500).map(i => s"b$i").mkString(" ")))
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.minhashCardinality(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((10L, 10L, 0L)))
    val (n2, est2, err2) = got(2L)
    assert(n2 === 499L)
    // KMV rse = 1/sqrt(k-2) ~ 27% at k=16; allow a 2-sigma envelope
    assert(err2 < 600000L, s"estimate $est2 off by $err2 micro from $n2")
    assert(est2 > 150L && est2 < 1500L)
  }

  test("cluster stats: fixture histogram is one 3-cluster plus two singletons") {
    val got = Dedup.dedupClusterStats(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(3L -> 1L, 1L -> 2L))
  }

  test("minhash error profile: buckets calibrate against exact jaccard on a planted corpus") {
    import spark.implicits._
    val dir = scratchDir("graft-mh-profile")
    // per-pair disjoint token prefixes so ONLY planted pairs can pair;
    // each interior, non-adjacent edit breaks exactly 2 of 39 bigrams:
    // k edits → j = (39-2k)/(39+2k)
    def doc(p: String, edits: Set[Int]): String =
      (1 to 40).map(i => if (edits(i)) s"${p}X$i" else s"$p$i").mkString(" ")
    val docs = Seq(
      (0L, doc("a", Set())), (1L, doc("a", Set())),            // j = 1.0
      (2L, doc("b", Set())), (3L, doc("b", Set(20))),          // j = 37/41 ≈ 0.902
      (4L, doc("c", Set())), (5L, doc("c", Set(10, 30))),      // j = 35/43 ≈ 0.814
      (6L, doc("d", Set())), (7L, doc("d", Set(10, 20, 30))),  // j = 33/45 ≈ 0.733
      (8L, doc("e", Set())), (9L, doc("e", Set(5, 15, 25, 35)))) // j = 31/47 ≈ 0.660
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.minhashErrorProfile(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // deterministic (md5): j=0.66 → bucket 5 false; j=0.814 + j=0.733
    // share bucket 6 (one true); j=0.902 → bucket 7; identical → bucket 8
    assert(rows.toSeq === Seq(
      (5L, 1L, 0L, 31L, 47L), (6L, 2L, 1L, 68L, 88L),
      (7L, 1L, 1L, 37L, 41L), (8L, 1L, 1L, 39L, 39L)))
    // exactly the j >= 0.8 pairs are true, wherever they bucket
    assert(rows.map(_._3).sum === 3L)
    // the identical pair agrees on all 64 hashes → top bucket is true-only
    val top = rows.last
    assert(top._1 === 8L && top._3 === top._2)
    // calibration: true-rate is monotone non-decreasing in the bucket
    val ratios = rows.map(r => r._3.toDouble / r._2)
    assert(ratios.zip(ratios.tail).forall { case (lo, hi) => lo <= hi },
      s"non-monotone true-rate: ${rows.mkString(", ")}")
    // per-bucket invariants
    rows.foreach { case (b, nPairs, nTrue, sInter, sUni) =>
      assert(b >= 0L && b <= 8L && nTrue <= nPairs && sInter <= sUni)
    }
  }

  test("simhashBitBalance: 56 bit rows over every signed-up doc; shares stay in [0,1]") {
    val rows = operators.Dedup.simhashBitBalance(spark, fixtureDir).collect()
    assert(rows.length === 56)
    rows.foreach { r =>
      val (bit, nSet, nDocs, share) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(bit >= 0L && bit < 56L)
      assert(nDocs === 5L && nSet >= 0L && nSet <= nDocs)
      assert(share === nSet.toDouble / nDocs.toDouble)
    }
    // identical docs 0/1 share a signature: every bit's count reflects
    // at most 4 distinct signatures, so no bit can have n_set == 5
    // unless docs 2-4's signatures also set it — sanity: some bit varies
    assert(rows.map(_.getLong(1)).distinct.length > 1)
  }
}
