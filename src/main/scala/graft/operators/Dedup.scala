package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{SessionMemo, Tables}

/** Deduplication operators over the `documents` table — the core of an
  * LLM-training-data pipeline.
  *
  * Scale posture (100 TB): every variant is shuffle-by-key, never
  * driver-side state. Exact dedup groups by a 256-bit content hash (the
  * shuffle key is 64 bytes, not the document). Near-dup detection goes
  * through an inverted index (exact, for oracle checking) or MinHash+LSH
  * banding (the scale path: candidate generation cost is bounded by
  * bucket collisions, not N²).
  */
object Dedup {

  /** Exact dedup: group documents by sha256(text); keep the smallest
    * doc_id per group. Hash-bucketed shuffle on the digest — the
    * document body never crosses the exchange.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental dedup — the production shape: a new ingest batch
    * (here: the top 20% of doc_ids) is probed against the EXISTING
    * corpus's content-hash index instead of re-deduping the whole
    * corpus. At 100 TB the standing index is a materialized
    * (hash → min doc_id) table; daily batches join against it
    * (hash-partitioned probe, batch-sized not corpus-sized work) and
    * within-batch dups collapse in the same pass. Output: each new doc
    * that is an exact dup, with its canonical existing doc (or the
    * smallest batch doc_id when the dup is batch-internal only).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val cut = docs.agg(expr("max(doc_id) * 8 div 10").as("c"))
    val withCut = docs.crossJoin(broadcast(cut))
    val index = withCut.filter(col("doc_id") <= col("c"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("existing_id"))
    val batch = withCut.filter(col("doc_id") > col("c"))
    val batchMin = batch.groupBy(col("h")).agg(min(col("doc_id")).as("batch_min"))
    batch
      .join(batchMin, "h")
      .join(index, Seq("h"), "left")
      .filter(col("existing_id").isNotNull || col("doc_id") =!= col("batch_min"))
      .select(col("doc_id"),
        coalesce(col("existing_id"), col("batch_min")).as("dup_of"))
  }

  /** Distinct word-bigram shingles per document (native
    * [[graft.functions.BigramShingles]] — one codegen'd loop, not an
    * interpreted HOF chain). Bigrams (not unigrams) keep the inverted
    * index selective: a unigram index over a small vocabulary
    * degenerates into quadratic bucket fanout.
    */
  private[graft] def shingleSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), graft.functions.functions.bigram_shingles(col("ts")).as("sh"))

  /** Shingle sets with their sorted-hash fingerprint: `hs` is the
    * ascending xxh64 digest array of `sh`. All candidate generation and
    * verification downstream runs on the 8-byte digests — prefixes are
    * a `slice`, the inverted-index join key is a long, and intersection
    * is a linear merge. A cross-document digest collision would need
    * ~2⁶⁴ shingles to matter (probability ≲1e-12 at any tested SF).
    */
  private def hashedSets(spark: SparkSession, dir: String): DataFrame =
    hashedSetsOf(Tables.documentsSpread(spark, dir))

  /** [[hashedSets]] over an explicit documents relation — lets the
    * delete lifecycle shingle ONLY the touched-component survivors
    * instead of the corpus.
    */
  private def hashedSetsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), graft.functions.functions.bigram_shingles(col("ts")).as("sh"))
      .select(col("doc_id"), col("sh"),
        graft.functions.functions.sorted_hashes(col("sh")).as("hs"))
      .withColumn("ns", size(col("hs")).cast("long"))

  /** Exact n-gram-jaccard near-dup pairs (threshold 0.8) via a
    * PPJoin+-style k-prefix-filtered inverted index.
    *
    * Naive inverted-index self-join fans out quadratically per frequent
    * shingle (the synthetic corpus has ~1k distinct bigrams shared by
    * ~6% of doc pairs — Σdf² ≈ 73M joined rows at sf0.1). Three
    * lossless filters bound it:
    *  - **Length filter**: j(A,B) ≥ 0.8 ⇒ 5·|A| ≥ 4·|B| and
    *    5·|B| ≥ 4·|A| (all-integer, no FP boundary drift).
    *  - **k-prefix filter** (k=4): order shingles by the fixed
    *    pseudo-random permutation (xxhash64, shingle) and index only
    *    each doc's first |S| − ⌈0.8·|S|⌉ + k shingles
    *    (⌈4n/5⌉ = (4n+4) div 5, integer). If j(A,B) ≥ 0.8 then
    *    |A∩B| ≥ ⌈0.8·max(|A|,|B|)⌉, and each of the k order-smallest
    *    elements of A∩B must lie inside BOTH extended prefixes (were m
    *    of them missing from A's, then |∩| − m ≤ |A| − plen(A) =
    *    ⌈0.8|A|⌉ − k would force |∩| < 0.8·|A| — contradiction).
    *  - **Count filter**: a qualifying pair therefore shares at least
    *    min(k, ⌈0.8|A|⌉, ⌈0.8|B|⌉) prefix shingles — so the candidate
    *    aggregation keeps only pairs reaching that count, which prunes
    *    the dense-vocabulary false candidates (expected shared prefix
    *    elements for a random pair here ≈ 0.2, so P(count ≥ 4) ≈ 1e-5:
    *    ~1.5M one-collision pairs shrink to ~1k real candidates).
    *
    * Candidates are verified with exact set intersection; results are
    * identical to the full inverted index, so the DuckDB oracle is
    * unchanged. At 100 TB the shuffle carries prefix shingles and
    * candidate id-pairs, never documents.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // The sketch table feeds BOTH sides of the prefix self-join and both
    // verification joins; without persisting it, each consumer re-runs
    // the full tokenize→shingle→hash pipeline (4× the dominant CPU
    // cost). Persisting the digests (8 B/shingle, no text) is the
    // standard "materialize the signature table" step of a 100 TB dedup
    // run — per-executor storage, never driver-side.
    val sets = hashedSets(spark, dir).drop("sh")
      .persist(StorageLevel.MEMORY_AND_DISK)
    jaccardPairsBetween(sets, sets, sets)
  }

  /** Each doc's k-extended prefix of its order-permuted sorted-hash
    * shingle set, exploded to (doc_id, ns, h) index rows — the
    * PPJoin+ prefix table of [[ngramJaccard]], factored out so
    * restricted sides (a standing corpus, an ingest batch) can build
    * the same index over any subset.
    */
  private def prefixTable(sets: DataFrame, k: Int): DataFrame =
    sets
      .withColumn("plen", expr(s"ns - (4*ns + 4) DIV 5 + $k"))
      .select(
        col("doc_id"), col("ns"),
        explode(slice(col("hs"), lit(1), col("plen").cast("int"))).as("h"))

  /** [[ngramJaccard]]'s candidate-generate + verify pipeline with the
    * two prefix-join sides and the verification set table supplied by
    * the caller: (aSets × bSets) prefix candidates under the length /
    * k-prefix / count filters, then exact-jaccard verification against
    * `verifySets`. `ngramJaccard` passes the whole corpus on all
    * three; [[componentsIncremental]] goes through [[jaccardCandVerify]]
    * with epoch slices of one shared prefix index to generate only the
    * pairs an ingest batch introduces. Pair orientation is always
    * `doc_a < doc_b` regardless of sides.
    */
  private[graft] def jaccardPairsBetween(
      aSets: DataFrame, bSets: DataFrame, verifySets: DataFrame): DataFrame =
    jaccardCandVerify(prefixTable(aSets, 4), prefixTable(bSets, 4), verifySets)

  /** The candidate-join + verify tail of [[jaccardPairsBetween]] with
    * the two PREFIX tables supplied directly — so a caller that probes
    * several epoch slices of one corpus ([[componentsIncremental]])
    * can build the exploded prefix index ONCE and filter it per side
    * instead of re-running the explode per probe.
    */
  private[graft] def jaccardCandVerify(
      prefA: DataFrame, prefB: DataFrame, verifySets: DataFrame): DataFrame =
    verifyPairs(jaccardCandidates(prefA, prefB), verifySets)

  /** The candidate-generation head of [[jaccardCandVerify]] alone —
    * the prefix equi-join under the length / k-prefix / count filters,
    * emitting unverified (doc_a, doc_b) pairs. Factored out so the
    * standing-index ingest path can generate its standing×batch and
    * batch×batch candidate sets as two separate joins (keeping the
    * pre-bucketed standing side exchange-free instead of unioning it
    * into one shuffled relation) and verify each against the right
    * pair of set tables.
    */
  private[graft] def jaccardCandidates(
      prefA: DataFrame, prefB: DataFrame): DataFrame = {
    val k = 4
    prefA.as("a")
      .join(prefB.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.ns") * 5 >= col("b.ns") * 4 && col("b.ns") * 5 >= col("a.ns") * 4)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_pref"),
        first(col("a.ns")).as("pna"), first(col("b.ns")).as("pnb"))
      .filter(col("shared_pref") >=
        least(lit(k.toLong), expr("(4*pna + 4) DIV 5"), expr("(4*pnb + 4) DIV 5")))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Exact-jaccard verification of candidate (doc_a, doc_b) pairs
    * against sorted-hash sets: inter by linear merge, threshold 0.8.
    */
  private def verifyPairs(cand: DataFrame, sets: DataFrame): DataFrame =
    verifyPairsAB(cand, sets, sets)

  /** [[verifyPairs]] with the two sides' set tables supplied
    * separately — the ingest fold's pairs are oriented (doc_a from the
    * standing corpus or the batch, doc_b always from the batch), so
    * each side can read its own (standing vs freshly shingled)
    * signature table.
    */
  private def verifyPairsAB(cand: DataFrame,
      setsA: DataFrame, setsB: DataFrame): DataFrame =
    cand
      .join(setsA.select(col("doc_id").as("doc_a"), col("hs").as("ha"), col("ns").as("nsa")), "doc_a")
      .join(setsB.select(col("doc_id").as("doc_b"), col("hs").as("hb"), col("ns").as("nsb")), "doc_b")
      .withColumn("inter",
        graft.functions.functions.sorted_intersect_count(col("ha"), col("hb")))
      .withColumn("uni", col("nsa") + col("nsb") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))

  /** Asymmetric near-SUBSET pairs: container A ⊇ contained B when
    * |S_A ∩ S_B| / |S_B| ≥ 0.9 over 5-gram shingles — the quote /
    * boilerplate-inclusion case symmetric Jaccard dedup misses BY
    * CONSTRUCTION (a 20-token doc verbatim inside a 600-token doc has
    * jaccard ≈ 0.03 but containment 1.0; DedupSpec pins exactly that
    * pair being found here and skipped by [[ngramJaccard]]).
    *
    * 5-gram (not bigram) shingles, following the span-dedup
    * literature's wide-gram choice: the shingle space is vocab⁵, so
    * posting lists are short and a shared shingle is EVIDENCE of a
    * shared span, not vocabulary coincidence. (On this corpus's
    * 31-token vocabulary, bigrams gave every shingle df ≈ corpus/3 and
    * pushed the candidate set toward all-pairs — measured 6.9 s at
    * sf0.1; the 5-gram formulation collapses it to the planted
    * near-dup structure.)
    *
    * Candidate generation is the set-containment-join prefix filter,
    * df-ascending: if containment ≥ t then B misses at most
    * ns_b − ⌈t·ns_b⌉ of its shingles in A, so ANY fixed global order
    * makes B's first (ns_b − ⌈t·ns_b⌉ + 1) shingles hit A at least
    * once (pigeonhole — lossless). Ordering that prefix by ascending
    * DOCUMENT FREQUENCY makes it B's rarest shingles, so the probe
    * joins the shortest posting lists in the index — the containment
    * analog of PPJoin's rarest-first prefix, and what keeps the
    * candidate volume Σ(prefix × df_rare) instead of Σ df² (the
    * boilerplate shingles every doc shares are exactly the ones the
    * prefix avoids probing). The container side has no length bound
    * (that asymmetry is the point), so it contributes the full
    * posting index — linear in corpus shingles, shuffled by an
    * 8-byte digest, never document text.
    *
    * All-integer thresholding (10·inter ≥ 9·ns_b) and an exact
    * sorted-merge verify on every candidate: output = the exact
    * all-pairs containment relation, which is what the DuckDB oracle
    * computes naively.
    *
    * Accepted divergence bound: the verify intersects 64-bit xxhash64
    * shingle hashes while the oracle intersects the shingle STRINGS,
    * so a cross-doc hash collision could inflate `inter` (or a
    * within-doc collision shrink `ns`) and flip a threshold decision.
    * With ≤ ~10⁶ distinct shingles per comparison universe the
    * birthday bound puts P(any collision) < 10⁻⁷ per run — accepted
    * here in exchange for shuffling 8-byte digests instead of
    * 5-gram strings (the same trade [[minhashLsh]] makes); the
    * string-exact path, when bit-parity is non-negotiable, is the one
    * [[ngramJaccard]]'s oracle-parity verify takes.
    */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, size(ts) - 4)," +
          " i -> concat_ws(' ', slice(ts, i, 5))))").as("sh"))
      .select(col("doc_id"),
        graft.functions.functions.sorted_hashes(col("sh")).as("hs"))
      .withColumn("ns", size(col("hs")).cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val posts = sets.select(col("doc_id"), col("ns"), explode(col("hs")).as("h"))
    val dfByShingle = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))

    // B's rarest-(ns − ceil(0.9·ns) + 1) shingles, df then hash order
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("h").asc)
    val pref = posts.join(dfByShingle, "h")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= expr("ns - (9*ns + 9) DIV 10 + 1"))
      .select(col("doc_id"), col("h"))

    val cand = pref.as("b").join(posts.as("a"), Seq("h"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"), col("ns").as("nsa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"), col("ns").as("nsb")), "doc_b")
      // one orientation per pair: bigger set contains, ties to lower id
      .filter(col("nsa") > col("nsb") ||
        (col("nsa") === col("nsb") && col("doc_a") < col("doc_b")))
      .withColumn("inter",
        graft.functions.functions.sorted_intersect_count(col("ha"), col("hb")))
      .filter(col("inter") * 10 >= col("nsb") * 9)
      .select(col("doc_a").as("container"), col("doc_b").as("contained"),
        col("inter"), col("nsb").as("ns_contained"))
  }

  /** The curation form of [[containment]]: the corpus with every
    * near-subset document REMOVED — quotes, excerpts, and (via the
    * equal-size tie orientation) exact/near duplicates all drop,
    * keeping the maximal documents. Chains resolve without iteration:
    * a doc contained in an already-removed doc still has its own
    * containment row, so one anti-join settles the whole relation —
    * unlike jaccard clustering, no label propagation is needed.
    * Sub-5-token documents have no 5-grams, contain nothing and are
    * contained by nothing measurable, and survive.
    */
  def containmentRemove(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir).select(col("doc_id"))
      .join(
        containment(spark, dir).select(col("contained").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")

  /** MinHash + LSH near-dup pairs. 64 MinHash functions (xxhash64 seeded
    * by permutation index) over the bigram shingle set, banded 16×4:
    * a pair lands in a candidate bucket iff one 4-row band matches, so
    * P(candidate | j=0.8) ≈ 1-(1-0.8⁴)¹⁶ ≈ 0.9997. Candidates are then
    * verified with the exact jaccard, same 0.8 threshold as
    * [[ngramJaccard]]. This is the 100 TB dedup path: shuffle keys are
    * (band, bandHash), never document pairs.
    *
    * Not SQL-oracle-able (xxhash64 is Spark-specific); covered by the
    * ScalaTest suite instead, cross-checked against [[ngramJaccard]].
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val numHashes = 64
    val bandRows = 4
    val numBands = numHashes / bandRows

    // Persisted twice over: `sets` feeds the band computation and both
    // verification joins; `bands` feeds both sides of the bucket
    // self-join. Without the persists each consumer re-runs the
    // tokenize→shingle→hash (and 64-permutation MinHash) pipeline.
    val sets = hashedSets(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    // Signature + banding run in the native MinHashBands expression
    // (graft.functions.HashExpressions) — one tight codegen'd loop per
    // row instead of 64 interpreted higher-order-function passes.
    val bands = sets.select(
      col("doc_id"),
      posexplode(graft.functions.functions.minhash_bands(col("sh"), numHashes, bandRows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
      .persist(StorageLevel.MEMORY_AND_DISK)

    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // exact-jaccard verification of the candidate set
    verifyPairs(candidates, sets.drop("sh"))
  }

  /** Connected components over the near-duplicate graph — the cluster
    * step an LLM dedup pipeline runs AFTER pair generation: vertices
    * are documents, edges are exact-dup relations (star edges to each
    * content-hash group's min id — linear, never the m² clique) plus
    * the ≥0.8-jaccard near-dup pairs; each doc's component label is the
    * minimum doc_id reachable from it, and `keep = (doc_id == comp)`
    * marks the canonical survivor per cluster.
    *
    * Distributed formulation: Pregel-style min-label propagation —
    * iterate `label := min(label, min over neighbors' labels)` until a
    * fixpoint. Each round is one join + one aggregate (shuffle keys are
    * ids, never documents); the driver only sees the one-row
    * convergence count. Rounds are bounded by component diameter —
    * near-dup clusters are shallow (stars + short chains), so this
    * converges in a handful of rounds at any corpus size.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    // star edges: every doc → its exact-dup group's min doc_id
    // One pass computes the sha-window group-min used BOTH as the
    // exact-dup star edges and as the initial labels (it used to be two
    // identical scan+window passes).
    val grpMin = docs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .withColumn("grp_min",
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .select(col("doc_id"), col("grp_min"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exactStar = grpMin
      .filter(col("doc_id") =!= col("grp_min"))
      .select(col("grp_min").as("doc_a"), col("doc_id").as("doc_b"))
    val nearPairs = ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))

    // Initialize labels at each doc's exact-dup group minimum — that
    // resolves every exact-dup star in round zero, so the loop only has
    // to close the near-dup chains.
    val labels = propagateMinLabels(
      exactStar.unionAll(nearPairs),
      grpMin.select(col("doc_id"), col("grp_min").as("comp")),
      "dedupComponents")
    labels.select(col("doc_id"), col("comp"),
      (col("doc_id") === col("comp")).as("keep"))
  }

  /** Pregel-style min-label propagation to a fixpoint: symmetrize the
    * undirected `pairs` (doc_a, doc_b), then iterate
    * `label := min(label, min over neighbors' labels)` starting from
    * `init` (doc_id, comp) until the label sum stops moving. Factored
    * out of [[dedupComponents]] so [[componentsIncremental]] can run
    * the identical loop over its contracted batch-merge graph.
    * Returns the persisted (doc_id, comp) fixpoint.
    */
  private[graft] def propagateMinLabels(
      pairs: DataFrame, init: DataFrame, caller: String): DataFrame = {
    // Symmetrize by EXPLODING both directions from one scan, not by
    // self-union: a `p.unionAll(p.select(flip))` defeats the cache
    // substitution for its second branch (the analyzer's
    // relation-dedup rewrite leaves a plan the cache manager no longer
    // matches), silently re-running the whole pair-generation pipeline
    // — measured 27 MB of re-paid jaccard shuffle on the sf0.1
    // `dedup_components` row, half that row's total bytes. The explode
    // reads the pairs once and emits the same row multiset.
    // Hash-partition by src BEFORE materializing: every propagation
    // round joins on src, so the checkpointed partitioning satisfies
    // the join's distribution requirement and the edge table never
    // re-shuffles inside the loop (one exchange total instead of one
    // per round).
    // EAGER localCheckpoint, not persist: a persisted frame still
    // carries the whole pair-generation LOGICAL plan (shingle →
    // prefix-explode → candidate join → verify), and every fixpoint
    // action — one agg per round plus the final checkpoint — re-runs
    // Catalyst analysis/optimization and AQE per-stage re-planning
    // over that tree. Measured on the r21 steady-state job readout
    // (now `PlanAudit --exec`):
    // dedup_components_delete spent 3.6 s of its 4.5 s wall in
    // between-job driver gaps, concentrated on the round aggregates
    // whose plans nested the induced-subgraph pipeline. Truncating to
    // an in-memory leaf makes every round plan over a table scan
    // (same blocks as the persist — edge-scale, never documents).
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .localCheckpoint(true)

    // Only vertices incident to an edge can change label or influence
    // a neighbor; every other init row IS its own fixpoint. Iterating
    // the full vertex set pays (rounds × corpus-id) union+aggregate
    // shuffle rows for vertices that cannot move — on the from-scratch
    // `dedup_components` row that was most of the registry's largest
    // shuffle, since non-duplicate docs dominate any real corpus. Trim
    // the loop to the ACTIVE set (edge endpoints — `edges` is already
    // symmetrized, so `src` covers both sides) and union the inert
    // rows back once at the end: identical fixpoint, batch-shaped
    // loop. `init` is read twice (the semi/anti split) and rides into
    // every round's plan via the loop seed — checkpoint-truncated for
    // the same replanning reason as `edges` (vertex-scale blocks).
    val initP = init.localCheckpoint(true)
    val active = edges.select(col("src").as("doc_id")).distinct()
    val inert = initP.join(active, Seq("doc_id"), "left_anti")

    var labels = initP.join(active, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Labels are monotonically non-increasing per doc, so an unchanged
    // label SUM is exactly a fixpoint — one scalar aggregate per round
    // instead of a full old-vs-new join. The INIT sum rides the first
    // round's action (1-row crossJoin of the two aggregates) instead
    // of paying its own job — one fewer driver round-trip per
    // propagate call, measured on every components-family row.
    // coalesce: sum over an EMPTY corpus is NULL, not 0
    var prevSum: Option[Long] = None
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      val next = edges
        .join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("comp"))
        .unionAll(labels)
        .groupBy(col("doc_id")).agg(min(col("comp")).as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nextAgg = next.agg(coalesce(sum(col("comp")), lit(0L)).as("s"))
      val row = prevSum match {
        case Some(_) => nextAgg.head()
        case None => nextAgg.crossJoin(
          labels.agg(coalesce(sum(col("comp")), lit(0L)).as("p"))).head()
      }
      val nextSum = row.getLong(0)
      val pv = prevSum.getOrElse(row.getLong(1))
      labels.unpersist()
      labels = next
      converged = nextSum == pv
      prevSum = Some(nextSum)
      rounds += 1
    }
    // Silent non-convergence would hand downstream curation WRONG
    // component labels (keep/drop flips) — fail loudly instead.
    // Min-label propagation needs one round per hop of component
    // diameter; dup-graph components are near-cliques (diameter < 10),
    // so 50 is generous — a corpus that trips this needs the cap raised,
    // not a silent wrong answer.
    if (!converged)
      throw new IllegalStateException(
        s"$caller: label propagation did not converge after $rounds rounds; " +
          "component diameter exceeds the cap — raise the round cap for this corpus")
    // operational signal: round count is the corpus's dup-chain depth
    System.err.println(s"[graft] $caller converged in $rounds rounds")
    // Truncate the fixpoint's lineage (eager local checkpoint, the
    // same pattern as the pagerank rounds): the loop's caches die with
    // the harness's clearCache() between runs, and WITHOUT truncation
    // every downstream reference replays the whole iterative plan —
    // with multiplicative fan-out when the labels feed several joins
    // (the incremental fold references them five times: measured 168 s
    // vs ~2 s at sf0.1). The checkpoint holds vertex-scale (doc_id,
    // comp) rows, never documents.
    // reattach the inert vertices (one anti-join pass, paid once) —
    // their init labels are untouched by construction, so the union is
    // the same relation the full-vertex loop used to return
    val out = labels.unionAll(inert).localCheckpoint(true)
    labels.unpersist()
    // the symmetrized edge / init checkpoints are local to this
    // fixpoint and dead once the labels are checkpointed; repeated
    // ingest calls in one session must not accumulate their blocks
    // (checkpoint blocks outlive catalog.clearCache, so freeing them
    // deterministically matters more than it did for the old caches)
    Relational.freeLocalCheckpoint(initP)
    Relational.freeLocalCheckpoint(edges)
    out
  }

  /** Standing component-label index — [[dedupComponents]] run ONCE per
    * (session, corpus) and materialized as a parquet table bucketed by
    * `doc_id`, the way a production pipeline treats its clustering: the
    * propagation runs once per corpus version, and every downstream
    * consumer (canonical selection, token-savings ROI, curation
    * funnel, dup-rate dashboards …) PROBES the labels instead of
    * re-clustering. Same pattern as [[minhashStanding]] /
    * [[editDistanceStanding]]; naming/pathing scoped per (application,
    * data dir) via [[Tables.scopedIndex]] so concurrent sessions never
    * race. Output relation is identical to [[dedupComponents]]
    * (doc_id, comp, keep) — the registered `dedup_components_standing`
    * row hash-proves it against the same recursive-CTE oracle.
    */
  def componentLabels(spark: SparkSession, dir: String): DataFrame =
    componentIndexMemo.getOrBuild(spark, dir, ()) {
      val (table, idxPath) = Tables.scopedIndex(spark, "graft_components_index", dir)
      dedupComponents(spark, dir)
        // cluster by the bucket key before the bucketed write: without
        // it every upstream task writes a file into every bucket it
        // touches (tasks x buckets small files); one partition per
        // bucket -> one file per bucket, and every later probe scan
        // opens 8 files instead of hundreds
        .repartition(8, col("doc_id"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", idxPath).mode("overwrite").saveAsTable(table)
      spark.table(table).select(col("doc_id"), col("comp"), col("keep"))
    }

  /** The standing tables of the components lifecycle, one
    * [[graft.SessionMemo]] each: a table is rebuilt (overwriting the
    * same scoped name and path) when the corpus dir changes in place.
    */
  private[graft] val componentIndexMemo = new SessionMemo[Unit, DataFrame]
  private val baseSignaturesMemo = new SessionMemo[Unit, (DataFrame, DataFrame, DataFrame)]
  private val baseLabelsMemo = new SessionMemo[Unit, DataFrame]
  private val appendV2Memo = new SessionMemo[Unit, DataFrame]

  /** Incremental connected components — the clustering counterpart of
    * [[dedupIncremental]]/[[minhashIncremental]]: a new ingest batch
    * (doc_id > the 80% cut, same convention) is folded into the BASE
    * corpus's existing component labels WITHOUT re-clustering the
    * corpus, and the output is the full (doc_id, comp, keep) relation —
    * hash-identical to [[dedupComponents]] run from scratch, proven by
    * sharing its recursive-CTE oracle.
    *
    * Why this matters at 100 TB: re-running global label propagation
    * per daily batch is corpus-sized work; the production shape is
    * (1) generate only the edges the batch INTRODUCES — batch shas
    * probe the standing (hash → min id) index, batch shingle prefixes
    * probe the corpus prefix index ([[jaccardPairsBetween]] with the
    * batch on one side) — batch-sized joins;
    * (2) CONTRACT old endpoints to their standing component label, so
    * the merge graph has one vertex per batch doc or touched base
    * component — bounded by the batch's edge neighborhood, never the
    * corpus (base-base edges need no revisit: pair existence depends
    * only on the two texts, so base clustering already closed them);
    * (3) propagate on that contracted graph (the same fixpoint loop,
    * now over a tiny vertex set — a batch doc can legitimately BRIDGE
    * two existing components, which plain "assign batch docs a label"
    * probing would miss);
    * (4) relabel the standing table with the changed-comp remap — a
    * broadcast-sized map join, the only corpus-wide touch.
    * The base labels are probed from the SESSION-SCOPED persisted
    * base-label table ([[standingBaseLabels]], shared with
    * [[componentsStandingAppend]]) — the deployment shape: one base
    * clustering per (session, corpus), and the two lifecycle rows
    * differ by exactly the compaction step. The corpus-side SIGNATURE
    * state is session-standing too ([[standingBaseSignatures]]: sha
    * index, set table, prefix index as bucketed catalog tables), so
    * the per-call work is batch shingling + bucketed probes + the
    * contracted fixpoint — the corpus is never re-shingled per
    * ingest. The oracle still replays the whole lifecycle from
    * scratch, which is precisely what makes the row a proof that
    * fold + standing state ≡ re-cluster.
    */
  def componentsIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutV = corpusCut(spark, dir)
    if (cutV < 0L)
      return Seq.empty[(Long, Long, Boolean)].toDF("doc_id", "comp", "keep")
    val (bshaIdx, bsets, bpref) = standingBaseSignatures(spark, dir)
    // one-time per (session, corpus), shared with the append row; the
    // by-name split argument means repeat ingest calls never even
    // construct (or persist-register) the in-memory split tables
    val baseLabels = standingBaseLabels(spark, dir, splitTables(spark, dir),
      "componentsIncremental(base)")
    // per-ingest work: shingle ONLY the batch (scan with the pushed
    // doc_id > cut literal), probe the standing signature tables
    val batchDocs = Tables.documentsSpread(spark, dir)
      .filter(col("doc_id") > cutV)
    val batchShas = batchDocs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val batchSets = hashedSetsOf(batchDocs).drop("sh")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val batchPref = prefixTable(batchSets, 4)
    // two candidate joins instead of one unioned side: the standing
    // prefix index reads pre-bucketed on `h`, so only the batch-sized
    // prefix table shuffles; pair orientation is (standing, batch) on
    // the first join (standing ids are all below the cut) and
    // (batch, batch) on the second — disjoint, no double counting,
    // together exactly the (corpus × batch) set the in-query path
    // generates
    val nearBatch =
      verifyPairsAB(jaccardCandidates(bpref, batchPref), bsets, batchSets)
        .unionAll(
          verifyPairsAB(jaccardCandidates(batchPref, batchPref),
            batchSets, batchSets))
        .select(col("doc_a"), col("doc_b"))
    val out = foldBatchCore(batchShas, bshaIdx, nearBatch, baseLabels,
      Seq(cutV).toDF("c"))
    // foldBatchCore's merge fixpoint is eager (localCheckpoint) and its
    // returned plan reads only checkpointed/standing state, so the
    // batch signature cache is dead here — repeated ingest calls in
    // one session (exactly what the standing-index design makes cheap)
    // must not accumulate it
    batchSets.unpersist()
    out
  }

  private val cutMemo = new SessionMemo[Unit, Long]

  /** The 80% ingest cut as a driver literal, one `max(doc_id)` scan
    * per corpus version ([[graft.SessionMemo]]). −1 on an empty corpus.
    */
  private def corpusCut(spark: SparkSession, dir: String): Long =
    cutMemo.getOrBuild(spark, dir, ()) {
      val r = Tables.documentsSpread(spark, dir)
        .agg(expr("max(doc_id) * 80 div 100")).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }

  /** Session-standing corpus-side signature state for the ingest fold,
    * built ONCE per (application, corpus) and persisted as bucketed
    * catalog tables ([[Tables.scopedIndex]]) — the deployment shape:
    * a lakehouse keeps its dedup signature indexes next to the corpus
    * version, and a daily ingest probes them instead of re-shingling
    * 100 TB. Three tables, each bucketed by its probe join key:
    *  - sha index `(h, base_min)` by `h` — the exact-dup anchor probe;
    *  - set table `(doc_id, hs, ns)` by `doc_id` — the verify side;
    *  - prefix index `(doc_id, ns, h)` by `h` — the PPJoin+ candidate
    *    probe, so the corpus-sized join side reads pre-bucketed and
    *    only batch prefixes shuffle.
    * Returns the three read-back relations (sha index, sets, prefix).
    */
  private def standingBaseSignatures(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    baseSignaturesMemo.getOrBuild(spark, dir, ()) {
      val (shaT, shaP) = Tables.scopedIndex(spark, "graft_components_bsha", dir)
      val (setT, setP) = Tables.scopedIndex(spark, "graft_components_bsets", dir)
      val (prefT, prefP) = Tables.scopedIndex(spark, "graft_components_bpref", dir)
      val base = Tables.documentsSpread(spark, dir)
        .filter(col("doc_id") <= corpusCut(spark, dir))
      base.select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("base_min"))
        // one partition per bucket on every standing write (see
        // componentLabels): the un-clustered builds left tasks x 8
        // files (measured 256 on the sf0.1 bsets/bpref tables) that
        // every per-ingest probe re-opened
        .repartition(8, col("h"))
        .write.bucketBy(8, "h")
        .option("path", shaP).mode("overwrite").saveAsTable(shaT)
      val baseSets = hashedSetsOf(base).drop("sh")
        .persist(StorageLevel.MEMORY_AND_DISK)
      baseSets.repartition(8, col("doc_id"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", setP).mode("overwrite").saveAsTable(setT)
      prefixTable(baseSets, 4)
        .repartition(8, col("h"))
        .write.bucketBy(8, "h")
        .option("path", prefP).mode("overwrite").saveAsTable(prefT)
      baseSets.unpersist()
      (spark.table(shaT), spark.table(setT), spark.table(prefT))
    }

  /** The cut-annotated signature tables both lifecycle phases share:
    * `shas` = (doc_id, h = sha256(text), c = the 80% id cut) over ALL
    * docs, `sets` = the sorted-hash shingle table with the same cut
    * column. Computed ONCE per query — base clustering and batch fold
    * both filter these, so the tokenize→shingle→hash pipeline and the
    * document scan run once, not per phase.
    */
  private[graft] def splitTables(spark: SparkSession, dir: String,
      basePct: Int = 80): (DataFrame, DataFrame, DataFrame) = {
    // default 80 = the family's standard 80% cut (max*80 div 100 ==
    // max*8 div 10, floor-identical); BucketedJoinSpec's fold spec
    // sweeps other fractions to pin fold bytes against batch size
    val cut = Tables.documentsSpread(spark, dir)
      .agg(expr(s"max(doc_id) * $basePct div 100").as("c"))
    val shas = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .crossJoin(broadcast(cut))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sets = hashedSets(spark, dir).drop("sh").crossJoin(broadcast(cut))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the exploded k-prefix index over the WHOLE corpus, cut column
    // carried so each candidate join filters its epoch slice (base×base
    // for the standing clustering, all×batch for the ingest probe).
    // NOT persisted: explode-from-cached-sets is cheaper to recompute
    // per join than the exploded table is to materialize and hold
    // (measured at sf0.1 — caching it cost ~2 s net).
    val prefAll = sets
      .withColumn("plen", expr("ns - (4*ns + 4) DIV 5 + 4"))
      .select(col("doc_id"), col("ns"), col("c"),
        explode(slice(col("hs"), lit(1), col("plen").cast("int"))).as("h"))
    (shas, sets, prefAll)
  }

  /** [[dedupComponents]] restricted to the standing corpus (ids ≤ the
    * cut): star edges + base-side near-dup pairs, propagated to the
    * fixpoint — the labels an ingest folds new batches into.
    */
  private[graft] def baseComponentLabels(shas: DataFrame, sets: DataFrame,
      prefAll: DataFrame, caller: String): DataFrame = {
    val baseShas = shas.filter(col("doc_id") <= col("c"))
    val baseGrpMin = baseShas
      .withColumn("grp_min", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .select(col("doc_id"), col("grp_min"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val baseStar = baseGrpMin.filter(col("doc_id") =!= col("grp_min"))
      .select(col("grp_min").as("doc_a"), col("doc_id").as("doc_b"))
    val basePref = prefAll.filter(col("doc_id") <= col("c"))
    val baseNear = jaccardCandVerify(basePref, basePref, sets)
      .select(col("doc_a"), col("doc_b"))
    propagateMinLabels(
      baseStar.unionAll(baseNear),
      baseGrpMin.select(col("doc_id"), col("grp_min").as("comp")),
      caller)
  }

  /** The standing BASE-label table both lifecycle rows probe: the
    * ≤-cut corpus clustered ONCE per (session, corpus) and persisted
    * bucketed by `doc_id` ([[Tables.scopedIndex]]) — the contraction
    * joins read it pre-bucketed on their join key, so only batch-sized
    * edge tables shuffle, and the bench session pays base propagation
    * once across the whole components-lifecycle family.
    */
  private def standingBaseLabels(spark: SparkSession, dir: String,
      split: => (DataFrame, DataFrame, DataFrame),
      caller: String): DataFrame =
    baseLabelsMemo.getOrBuild(spark, dir, ()) {
      val (baseTable, basePath) =
        Tables.scopedIndex(spark, "graft_components_base", dir)
      // `split` is by-name: the persisted in-memory split tables are
      // only constructed on the one-time index build — repeat ingest
      // calls short-circuit to the bucketed table without registering
      // a fresh set of (never-computed) cached relations per call
      val (shas, sets, prefAll) = split
      baseComponentLabels(shas, sets, prefAll, caller)
        .repartition(8, col("doc_id"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", basePath).mode("overwrite").saveAsTable(baseTable)
      spark.table(baseTable).select(col("doc_id"), col("comp"))
    }

  /** The batch-fold core shared by [[componentsIncremental]] and
    * [[componentsStandingAppend]] (base labels read from the persisted
    * bucketed index via [[standingBaseLabels]]): generate the edges
    * the batch introduces, contract onto `baseLabels`, fixpoint the
    * merge graph, and relabel — returning the full (doc_id, comp,
    * keep) relation.
    */
  private[graft] def foldBatchIntoLabels(shas: DataFrame, sets: DataFrame,
      prefAll: DataFrame, baseLabels: DataFrame): DataFrame = {
    val baseShas = shas.filter(col("doc_id") <= col("c"))
    val batchShas = shas.filter(col("doc_id") > col("c"))
    // Near: batch prefixes probe the corpus prefix index; doc_a <
    // doc_b and batch ids are the top range, so (corpus × batch)
    // covers exactly the base-batch AND batch-batch pairs with no
    // double counting.
    val nearBatch = jaccardCandVerify(
      prefAll, prefAll.filter(col("doc_id") > col("c")), sets)
      .select(col("doc_a"), col("doc_b"))
    foldBatchCore(
      batchShas.select(col("doc_id"), col("h")),
      baseShas.groupBy(col("h")).agg(min(col("doc_id")).as("base_min")),
      nearBatch, baseLabels, shas.select(col("c")).limit(1))
  }

  /** The contract/merge/relabel tail of the ingest fold with every
    * input relation supplied explicitly — shared by the cut-annotated
    * in-query path ([[foldBatchIntoLabels]]) and the standing-index
    * path ([[componentsIncremental]]), which differ only in WHERE the
    * corpus-side signatures come from (recomputed vs the session
    * standing tables).
    */
  private def foldBatchCore(batchShas: DataFrame, baseShaIdx: DataFrame,
      nearBatch: DataFrame, baseLabels: DataFrame, cut: DataFrame): DataFrame = {
    // (1) exact edges the batch introduces: each batch doc anchors to
    // the standing index's min id for its hash, or the batch-internal
    // group min when the hash is new — either way the full-corpus star
    // connectivity is reproduced.
    val exactBatch = batchShas
      .withColumn("batch_min", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .join(baseShaIdx, Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("base_min"), col("batch_min")).as("anchor"))
      .filter(col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b"))

    // (2) contract base endpoints to their standing component label
    val e = exactBatch.unionAll(nearBatch)
    val contracted = e
      .join(baseLabels.select(col("doc_id").as("doc_a"), col("comp").as("comp_a")),
        Seq("doc_a"), "left")
      .join(baseLabels.select(col("doc_id").as("doc_b"), col("comp").as("comp_b")),
        Seq("doc_b"), "left")
      .select(coalesce(col("comp_a"), col("doc_a")).as("doc_a"),
        coalesce(col("comp_b"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      // id-pair scale, and fanned out SIX ways below (vertex set twice,
      // symmetrized edges twice, fixpoint init through verts) — without
      // materialization every reference replays the probe joins above.
      // EAGER localCheckpoint rather than persist: the probe-join plan
      // otherwise rides into every downstream action (the merge
      // fixpoint's per-round aggregates re-plan it — the r21 job
      // readout (now `PlanAudit --exec`) measured ~2.9 s of driver-only
      // replanning gaps on exactly those actions), and truncation caps
      // each round's plan at leaf scans for the same block footprint
      .localCheckpoint(true)

    // (3) propagate over the contracted merge graph: vertices are the
    // batch docs plus every touched base component, each starting as
    // its own label (a base component's label IS its min doc_id, so
    // the contracted min is the true min over the merged doc set)
    // endpoint explode, not two unioned selects of the cached frame —
    // the relation-dedup rewrite would defeat cache substitution for
    // the later branches and re-run the probe joins above (the
    // propagateMinLabels symmetrize fix, same class)
    val verts = batchShas.select(col("doc_id"))
      .unionAll(contracted.select(
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id")))
      .distinct()
    val merged = propagateMinLabels(
      contracted, verts.select(col("doc_id"), col("doc_id").as("comp")),
      "componentsIncremental(merge)")
      .crossJoin(broadcast(cut))
    // the propagate call above is eager and checkpoint-truncated, and
    // nothing below re-reads the contracted edges — release the blocks
    // instead of accumulating one set per ingest call
    Relational.freeLocalCheckpoint(contracted)

    // (4) batch rows come straight from the merge fixpoint; base rows
    // re-label through the changed-component remap (touched comps only
    // — broadcast-sized at any corpus/batch ratio)
    val batchFinal = merged.filter(col("doc_id") > col("c"))
      .select(col("doc_id"), col("comp"))
    val remap = merged
      .filter(col("doc_id") <= col("c") && col("doc_id") =!= col("comp"))
      .select(col("doc_id").as("comp"), col("comp").as("new_comp"))
    val baseFinal = baseLabels.join(broadcast(remap), Seq("comp"), "left")
      .select(col("doc_id"), coalesce(col("new_comp"), col("comp")).as("comp"))

    baseFinal.unionAll(batchFinal)
      .select(col("doc_id"), col("comp"),
        (col("doc_id") === col("comp")).as("keep"))
  }

  /** [[componentsIncremental]] executed the way a 100 TB pipeline
    * actually runs it — against a PERSISTED standing label index, with
    * the fold COMPACTED into the next corpus version:
    *  - epoch 1 clusters the standing corpus (ids ≤ the 80% cut) once
    *    and writes the labels as a parquet table bucketed by `doc_id`
    *    ([[Tables.scopedIndex]], same catalog pattern as
    *    [[minhashStanding]]); the contraction joins probe THAT table —
    *    the corpus-sized side reads pre-bucketed on its join key, so
    *    only batch-sized edge tables shuffle;
    *  - epoch 2 folds the ingest batch through the contract/merge/
    *    remap core and writes the result as the NEXT VERSION of the
    *    index under the same bucket spec (versioned snapshots, never
    *    an in-place rewrite of a table being read — the lakehouse
    *    compaction shape), then returns the read-back of that version.
    * Output round-trips write→read and still hash-matches the
    * from-scratch recursive-CTE oracle, so "fold + compact ≡
    * re-cluster" is proven at the stored-table level, not just on the
    * in-flight DataFrame.
    */
  def componentsStandingAppend(spark: SparkSession, dir: String): DataFrame =
    // fold + compact ONCE per (session, corpus version) — a deployment
    // compacts each ingest batch into the next index version once;
    // every later consumer (and every later call here) reads the
    // compacted version. The registered per-call work is therefore
    // the post-compaction bucketed read-back — the probe cost — with
    // the one-time fold paid by the first call (the same
    // session-scoped standing-state accounting as
    // standingBaseLabels and the BPE training cache).
    appendV2Memo.getOrBuild(spark, dir, ()) {
      val (v2Table, v2Path) =
        Tables.scopedIndex(spark, "graft_components_v2", dir)
      val (shas, sets, prefAll) = splitTables(spark, dir)
      val folded = foldBatchIntoLabels(shas, sets, prefAll,
        standingBaseLabels(spark, dir, (shas, sets, prefAll),
          "componentsStandingAppend(base)"))
      folded
        .repartition(8, col("doc_id"))
        .write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", v2Path).mode("overwrite").saveAsTable(v2Table)
      spark.table(v2Table).select(col("doc_id"), col("comp"), col("keep"))
    }

  /** The components clustering's DELETE lifecycle — the hard case of
    * the three, because removing a document can SPLIT a cluster:
    * near-dup chains a→b→c lose transitivity when the bridge b is
    * taken down, so deletion is NOT a filter over the standing labels
    * (the minhash/ANN delete ops only drop rows; here connectivity
    * itself changes). A deterministic takedown set (`doc_id % 10 == 7`
    * — replayable by the oracle, disjoint from the minhash family's
    * `% 10 == 0` convention) is removed and the output is the
    * (doc_id, comp, keep) relation over the survivors, hash-identical
    * to clustering the reduced corpus from scratch.
    *
    * Batch-shaped, never corpus-shaped:
    *  1. components TOUCHED by a tombstone come from one probe of the
    *     standing label index ([[componentLabels]]) — bounded by the
    *     takedown batch in production (a takedown list is requests,
    *     not the corpus). The DEMO predicate here is deliberately
    *     corpus-proportional (~10% of components) so the split path
    *     gets real coverage, which is why the join below carries NO
    *     broadcast hint: the planner (and AQE at runtime) picks
    *     broadcast when the touched set is small and hash otherwise,
    *     instead of a hint forcing a driver-scale broadcast;
    *  2. every survivor in an UNtouched component keeps its label
    *     verbatim (the corpus-scale majority: one anti-join, no
    *     recompute — deletion elsewhere cannot change a component it
    *     never touched);
    *  3. survivors of touched components — bounded by the takedown's
    *     component neighborhood — are RE-clustered on their induced
    *     subgraph: sha star edges and prefix-filtered jaccard pairs
    *     regenerated over just those documents (exact-dup groups and
    *     ≥0.8 pairs never span components, so the induced subgraph is
    *     self-contained), then the shared [[propagateMinLabels]]
    *     fixpoint relabels them — splits fall out naturally as
    *     distinct new minima.
    */
  def componentsDelete(spark: SparkSession, dir: String): DataFrame = {
    val tombstone = col("doc_id") % 10 === 7
    val labels = componentLabels(spark, dir)

    val touched = labels.filter(tombstone).select(col("comp")).distinct()
    val untouched = labels
      .join(touched, Seq("comp"), "left_anti")
      .select(col("doc_id"), col("comp"))
    val survivors = labels
      .join(touched, Seq("comp"), "left_semi")
      .filter(!tombstone)
      .select(col("doc_id"))

    // induced subgraph over the survivors only — shingling, prefix
    // index, and verification all run on the semi-joined slice
    val sDocs = Tables.documentsSpread(spark, dir)
      .join(survivors, Seq("doc_id"), "left_semi")
    val grpMin = sDocs
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .withColumn("grp_min", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .select(col("doc_id"), col("grp_min"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val star = grpMin.filter(col("doc_id") =!= col("grp_min"))
      .select(col("grp_min").as("doc_a"), col("doc_id").as("doc_b"))
    val sets = hashedSetsOf(sDocs).persist(StorageLevel.MEMORY_AND_DISK)
    val pref = sets
      .withColumn("plen", expr("ns - (4*ns + 4) DIV 5 + 4"))
      .select(col("doc_id"), col("ns"),
        explode(slice(col("hs"), lit(1), col("plen").cast("int"))).as("h"))
    val near = jaccardCandVerify(pref, pref, sets)
      .select(col("doc_a"), col("doc_b"))

    val relabeled = propagateMinLabels(
      star.unionAll(near),
      grpMin.select(col("doc_id"), col("grp_min").as("comp")),
      "componentsDelete")
    // the propagate call is eager and checkpoint-truncated — the
    // induced-subgraph caches are dead now; release them per call
    grpMin.unpersist(); sets.unpersist()

    untouched.unionAll(relabeled.select(col("doc_id"), col("comp")))
      .select(col("doc_id"), col("comp"),
        (col("doc_id") === col("comp")).as("keep"))
  }

  /** Soft dedup: instead of hard-dropping near-dup cluster members
    * ([[dedupComponents]]'s `keep`), every document gets a sampling
    * weight 1/cluster_size in micro-units — the reweighting used when
    * duplicated content should count ONCE in expectation but no single
    * copy should be trusted as canonical (e.g. boilerplate variants
    * where each copy has unique surroundings). Downstream samplers
    * multiply their keep-probability by weight_micro/10⁶; a cluster of
    * any size then contributes one document's worth of mass. Floor
    * division in micro-units keeps the weight integer-exact across
    * engines (error < 1e-6 per doc, bounded by cluster count overall).
    *
    * Scale shape: one count window over the vertex-scale (doc_id,
    * comp) table — a single hash exchange on the component label on
    * top of the propagation [[dedupComponents]] already ran. Document
    * bodies are long gone by this point.
    */
  def dedupSoftWeights(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
    componentLabels(spark, dir)
      .select(col("doc_id"), col("comp"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("comp"), col("cluster_size"),
        expr("CAST(1000000 AS BIGINT) DIV cluster_size").as("weight_micro"))
  }

  /** Lexical-vs-semantic dedup agreement audit: the verified MinHash
    * near-dup pair set (text jaccard ≥ 0.8) set-compared against the
    * verified embedding near-dup pair set (LSH candidates, cosine ≥
    * 0.35) over the shared id space — the cross-modality health check
    * a dual-signal dedup runs before trusting either alone ("both"
    * pairs are safe drops; a large "semantic_only" bucket means
    * paraphrase mass the lexical pass misses; "lexical_only" flags
    * templated text whose embeddings diverge). Three integer counts
    * from one full-outer join of two id-pair sets — both inputs are
    * already-oracled operators, nothing document-sized moves.
    */
  def dedupModalityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val lex = minhashPortable(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("lex"))
    val sem = graft.operators.Similarity.dedupEmbeddingAnn(spark, dir)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), lit(1L).as("sem"))
    lex.join(sem, Seq("doc_a", "doc_b"), "full_outer")
      .select(
        when(col("lex").isNotNull && col("sem").isNotNull, "both")
          .when(col("lex").isNotNull, "lexical_only")
          .otherwise("semantic_only").as("category"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** KMV (k-minimum-values) distinct-shingle cardinality estimate per
    * document, scored against the exact count — the sketch that lets a
    * 100 TB dedup pipeline size its shingle sets WITHOUT materializing
    * them (the estimate needs only the k smallest digests, a bounded
    * per-doc state mergeable across partitions; the exact count here
    * exists purely as the calibration baseline, like `ann_recall` for
    * the ANN family). Estimator: n̂ = (k−1)·M / m_k over a 56-bit md5
    * digest space (14 hex chars — (k−1)·2⁵⁶ ≈ 1.1·10¹⁸ stays inside a
    * long, uniform, engine-portable); docs with fewer than k shingles
    * report exactly.
    * Expected relative error 1/√(k−2) ≈ 27% at k=16 — the planted
    * spec pins the observed error envelope. All arithmetic integer, so
    * estimate AND error replay bit-for-bit in the oracle.
    */
  def minhashCardinality(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val big = 72057594037927936L // 2^56 digest space
    shingleSets(spark, dir)
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_exact"),
        sort_array(transform(col("sh"),
          s => conv(substring(md5(s.cast("binary")), 1, 14), 16, 10).cast("long")))
          .as("hv"))
      .withColumn("est",
        when(size(col("hv")) < k, size(col("hv")).cast("long"))
          .otherwise(expr(s"(${k - 1}L * ${big}L) div element_at(hv, $k)")))
      .select(col("doc_id"), col("n_exact"), col("est"),
        expr("(abs(est - n_exact) * 1000000) div n_exact").as("err_micro"))
  }

  /** Duplication-cluster size histogram — the dedup observability
    * report (how much of the corpus is singletons vs mirror farms)
    * that decides whether hard-drop, soft-weighting, or source
    * takedown is the right response. Frequency-of-frequencies over the
    * transitive clustering: two vertex-scale partial-agg exchanges on
    * top of [[dedupComponents]]' propagation — the second groups a
    * table bounded by the largest cluster size, metadata-scale.
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    componentLabels(spark, dir)
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** End-to-end corpus curation — the composition a training-data run
    * actually executes, as ONE lazy plan: near-dup clustering keeps the
    * canonical doc per component ([[dedupComponents]]), a quality gate
    * drops low-alpha documents, and the survivors get their
    * deterministic train/valid/test assignment plus token counts. Each
    * stage is an already-verified operator; this query is the proof
    * they compose (ids join ids — no document body crosses more than
    * the first exchange of each branch).
    */
  def corpusCurate(spark: SparkSession, dir: String): DataFrame = {
    val keep = componentLabels(spark, dir)
      .filter(col("keep")).select(col("doc_id"))
    // Quality gate, split assignment, and token count are all narrow
    // per-doc projections over the SAME scan — fuse them into one pass
    // (shared column builders keep the semantics identical to the
    // standalone textQuality/trainTestSplit/textStats ops) instead of
    // three scans + three shuffled joins.
    val perDoc = Tables.documentsSpread(spark, dir)
      .filter(TextOps.alphaRatioExpr(col("text")) >= 0.82)
      .select(
        col("doc_id"),
        TextOps.splitExpr(col("doc_id")).as("split"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    keep
      .join(perDoc, "doc_id")
      .select(col("doc_id"), col("split"), col("n_tokens"))
  }

  /** Token-weighted dedup ROI per source — the readout an LM pipeline
    * budgets by: documents are not the unit training compute is spent
    * in, TOKENS are, so "40% duplicate docs" understates or overstates
    * the saving depending on where the long documents sit. Per source:
    * docs/tokens before dedup, docs/tokens surviving the component
    * keep-policy, and the saved fraction in ppm (integer
    * cross-multiplication — no float division to drift). Composes the
    * verified component clustering with the single-pass token count;
    * the join moves (doc_id, keep) pairs, the rollup is |sources| rows.
    */
  def dedupTokenSavings(spark: SparkSession, dir: String): DataFrame = {
    val keepFlags = componentLabels(spark, dir).select(col("doc_id"), col("keep"))
    val perDoc = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    perDoc.join(keepFlags, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tok_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("tok_kept"))
      .withColumn("savings_ppm",
        when(col("tok_total") === 0L, 0L)
          .otherwise(expr("((tok_total - tok_kept) * 1000000) div tok_total")))
  }

  /** Edit-distance similarity self-join (PassJoin-style segment
    * blocking) — character-level entity resolution, the complement to
    * the token-set PPJoin in [[dedupNgramJaccard]]: catches
    * typo/OCR-level variants whose token sets diverge. Pairs of
    * documents whose text window `substr(text, start, width)` is within
    * Levenshtein distance `maxDist`, found WITHOUT an all-pairs pass:
    *
    *  - Pigeonhole: split each window into `maxDist + 1` contiguous
    *    segments; any string within distance k of it must contain one
    *    segment exactly, starting within ±k of its source position
    *    (each indel shifts downstream positions by at most 1).
    *  - Index side emits the k+1 segments keyed by (window length,
    *    segment index, segment text); probe side emits every substring
    *    a partner of each feasible length could need — ≤ (2k+1) lengths
    *    × (k+1) segments × (2k+1) shifts ≈ 75 short rows per doc at
    *    k=2, a constant fanout, so the equi-join is linear in corpus
    *    size plus true-collision cost. Only candidate id-pairs and
    *    48-char windows cross the shuffle, then one exact
    *    `levenshtein` per distinct candidate pair verifies.
    *
    * Windows of length ≤ maxDist are excluded (trivially within
    * distance of everything — degenerate for ER). Output: (id_a <
    * id_b, dist), the same frame a brute-force all-pairs join yields,
    * at index-join cost.
    */
  def editDistanceJoin(spark: SparkSession, dir: String,
                       start: Int = 101, width: Int = 48,
                       maxDist: Int = 2): DataFrame = {
    val k = maxDist
    val docs = edWindows(spark, dir, start, width, k)
    val segs = edSegments(docs, k)
      .select(col("doc_id").as("id_a"), col("s").as("s_a"),
        col("la"), col("i"), col("seg"))
    val probes = edProbes(docs, k)
      .select(col("doc_id").as("id_b"), col("s").as("s_b"),
        col("la"), col("i"), col("seg"))

    segs.join(probes, Seq("la", "i", "seg"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .distinct()
      // banded verify: threshold form early-exits at k+1 (O(k·n) per
      // pair, -1 when over), so `>= 0` is exactly `distance <= k`
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), k).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  // SQL fragments for the segment layout (same formula as segLen /
  // segStart, usable inside expr() where `l` and `i` are in scope).
  private def segLenSql(k: Int): String =
    s"cast(floor(l / ${k + 1}) + (case when i < l % ${k + 1} then 1 else 0 end) as int)"
  private def segStartSql(k: Int): String =
    s"cast(i * floor(l / ${k + 1}) + least(i, l % ${k + 1}) as int)"

  /** Incremental edit-distance dedup — [[editDistanceJoin]] in the
    * shape a production ingest runs it: the new batch (top 20% of
    * doc_ids, the same cut as [[minhashIncremental]]) probes the
    * STANDING corpus's segment index; nothing standing-vs-standing is
    * ever recomputed. Per-batch cost is probe-substring generation over
    * the batch (constant fanout) plus the index equi-join — batch-
    * sized, never corpus-sized. Pigeonhole soundness needs only one
    * direction here: a standing segment must appear in any batch
    * window within distance k, and the batch side generates every
    * substring the index could hold. Output: (doc_id, dup_of, dist) —
    * each batch doc against each standing doc within distance k.
    */
  def editDistanceIncremental(spark: SparkSession, dir: String,
                              start: Int = 101, width: Int = 48,
                              maxDist: Int = 2): DataFrame = {
    val k = maxDist
    val cut = Tables.documents(spark, dir)
      .agg(expr("max(doc_id) * 8 div 10").as("c"))
    val docs = edWindows(spark, dir, start, width, k)
      .crossJoin(broadcast(cut))
    val standing = docs.filter(col("doc_id") <= col("c")).drop("c")
    val batch = docs.filter(col("doc_id") > col("c")).drop("c")

    val index = edSegments(standing, k)
      .select(col("doc_id").as("dup_of"), col("s").as("s_a"),
        col("la"), col("i"), col("seg"))
    val probes = edProbes(batch, k)
      .select(col("doc_id"), col("s").as("s_b"), col("la"), col("i"), col("seg"))

    probes.join(index, Seq("la", "i", "seg"))
      .select(col("doc_id"), col("dup_of"), col("s_a"), col("s_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("s_b"), col("s_a"), k).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_id"), col("dup_of"), col("dist"))
  }

  /** [[editDistanceIncremental]] executed the way a 100 TB ingest runs
    * it: the standing corpus's segment index is WRITTEN ONCE as a
    * parquet table bucketed by `seg_key` (`la#i#seg` — `la` and `i`
    * are '#'-free ints, so the key parses unambiguously even when the
    * segment text contains '#'), and the probe join reads it back
    * pre-partitioned: the index side crosses zero exchanges, only the
    * batch's probe substrings shuffle. Same cut, same output relation,
    * same oracle as the in-query variant. Index naming/pathing is
    * scoped per (application, data dir) — see [[Tables.scopedIndex]].
    */
  def editDistanceStanding(spark: SparkSession, dir: String,
                           start: Int = 101, width: Int = 48,
                           maxDist: Int = 2): DataFrame = {
    val k = maxDist
    val cut = Tables.documents(spark, dir)
      .agg(expr("max(doc_id) * 8 div 10").as("c"))
    val docs = edWindows(spark, dir, start, width, k)
      .crossJoin(broadcast(cut))
    val standing = docs.filter(col("doc_id") <= col("c")).drop("c")
    val batch = docs.filter(col("doc_id") > col("c")).drop("c")

    val (table, idxPath) = Tables.scopedIndex(spark, "graft_editdist_seg_index", dir)
    edSegments(standing, k)
      .withColumn("seg_key", concat_ws("#", col("la"), col("i"), col("seg")))
      .select(col("doc_id").as("dup_of"), col("s").as("s_a"), col("seg_key"))
      .write.bucketBy(8, "seg_key").sortBy("seg_key")
      .option("path", idxPath).mode("overwrite").saveAsTable(table)

    edProbeAgainst(spark, table, batch, k)
  }

  /** The PassJoin segment index's DELETE lifecycle — completing the
    * takedown story across all four standing indexes (minhash bands,
    * component labels, IVF cells, and now the edit-distance segments).
    * Pair generation has no transitive cluster semantics, so deletion
    * is the [[minhashStandingDelete]] shape, not the components one:
    *  1. SOFT delete: tombstone predicate (`dup_of % 10 == 5` — a
    *     deterministic takedown stand-in, distinct from the other
    *     families' conventions) applied at probe time over the
    *     standing segment table — immediate, zero file rewrite, the
    *     bucketed exchange-free probe untouched;
    *  2. COMPACTION: the index rewrites without tombstoned rows under
    *     the SAME `bucketBy(seg_key)` spec (eager checkpoint first —
    *     the overwrite cannot scan the table it replaces).
    * Returns the post-compaction probe; DedupSpec asserts it equals
    * the uncompacted probe's pairs minus tombstoned `dup_of`s (the soft
    * delete's rows) and that no pair points at a deleted doc. Shares
    * the incremental oracle with the takedown filter on the standing
    * side.
    */
  def editDistanceStandingDelete(spark: SparkSession, dir: String,
                                 start: Int = 101, width: Int = 48,
                                 maxDist: Int = 2): DataFrame = {
    val k = maxDist
    val cut = Tables.documents(spark, dir)
      .agg(expr("max(doc_id) * 8 div 10").as("c"))
    val docs = edWindows(spark, dir, start, width, k)
      .crossJoin(broadcast(cut))
    val standing = docs.filter(col("doc_id") <= col("c")).drop("c")
    val batch = docs.filter(col("doc_id") > col("c")).drop("c")

    val (table, idxPath) = Tables.scopedIndex(spark, "graft_editdist_seg_del", dir)
    def writeIndex(rows: DataFrame, mode: String): Unit =
      rows.write.bucketBy(8, "seg_key").sortBy("seg_key")
        .option("path", idxPath).mode(mode).saveAsTable(table)
    writeIndex(edSegments(standing, k)
      .withColumn("seg_key", concat_ws("#", col("la"), col("i"), col("seg")))
      .select(col("doc_id").as("dup_of"), col("s").as("s_a"), col("seg_key")),
      "overwrite")

    // compaction: rewrite minus tombstones under the same bucket spec
    val compacted = spark.table(table)
      .filter(col("dup_of") % 10 =!= 5)
      .localCheckpoint(true)
    writeIndex(compacted, "overwrite")

    edProbeAgainst(spark, table, batch, k)
  }

  /** Shared probe tail for the standing segment-index variants: batch
    * probe substrings against a named bucketed index table, distinct
    * the candidate pairs, banded-levenshtein verify.
    */
  private def edProbeAgainst(spark: SparkSession, table: String,
                             batch: DataFrame, k: Int): DataFrame = {
    val probes = edProbes(batch, k)
      .withColumn("seg_key", concat_ws("#", col("la"), col("i"), col("seg")))
      .select(col("doc_id"), col("s").as("s_b"), col("seg_key"))
    spark.table(table).join(probes, "seg_key")
      .select(col("doc_id"), col("dup_of"), col("s_a"), col("s_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("s_b"), col("s_a"), k).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_id"), col("dup_of"), col("dist"))
  }

  /** ER blocking scoreboard — grades four candidate-generation
    * strategies against the brute-force edit-distance truth (lev ≤ 2 on
    * the standard window), the way [[minhashErrorProfile]] grades the
    * minhash estimator: per strategy, how many candidate pairs it
    * emits (the cost) and how many true pairs it finds (the recall
    * numerator). The table a pipeline reads before picking its blocking:
    *
    *  - `exact`: identical-window grouping — cheapest, finds only
    *    dist-0 pairs;
    *  - `prefix8`: first-8-char grouping — cheap, misses pairs whose
    *    edit lands in the prefix;
    *  - `length_band`: |len diff| ≤ 2 — perfect recall by the edit
    *    bound, catastrophically many candidates (the scoreboard makes
    *    the N² visible as a NUMBER, nothing materializes it: candidate
    *    counts come from the length histogram, ΣC(n,2) + Σ n·m);
    *  - `segment`: the PassJoin index of [[editDistanceJoin]] —
    *    provably lossless with collision-bounded candidates.
    *
    * All-integer output, 4 rows. Every count is computed from
    * group histograms or the candidate join itself — no strategy's
    * candidate SET is ever materialized beyond what the strategy itself
    * would shuffle.
    */
  def erBlockingReport(spark: SparkSession, dir: String,
                       start: Int = 101, width: Int = 48,
                       maxDist: Int = 2): DataFrame = {
    val k = maxDist
    val docs = edWindows(spark, dir, start, width, k)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ONE candidate computation feeds both the segment strategy's count
    // and the truth relation (candidates lev-filtered — identical to
    // the verified editDistanceJoin, which shares edSegments/edProbes)
    val segPairs = edSegments(docs, k)
      .select(col("doc_id").as("id_a"), col("s").as("s_a"),
        col("la"), col("i"), col("seg"))
      .join(edProbes(docs, k)
        .select(col("doc_id").as("id_b"), col("s").as("s_b"),
          col("la"), col("i"), col("seg")),
        Seq("la", "i", "seg"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val truth = segPairs
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("dist") <= k)
      .select(col("id_a"), col("id_b"), col("dist"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val truthTotal = truth.agg(
      count(lit(1)).as("t"),
      sum(when(col("dist") === 0, 1L).otherwise(0L)).as("t0")).persist(StorageLevel.MEMORY_AND_DISK)

    def pairsWithin(group: Column): DataFrame =
      docs.groupBy(group.as("g")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("cand"))

    // exact-window grouping: ΣC(n,2) candidates, finds the dist-0 pairs
    val exact = pairsWithin(col("s"))
      .crossJoin(broadcast(truthTotal))
      .select(lit("exact").as("strategy"), col("cand").as("n_candidates"),
        col("t0").as("n_true_found"), col("t").as("n_true_total"))

    // first-8-prefix grouping: found = truth pairs whose windows agree
    // on the first 8 chars
    val prefixFound = truth
      .join(docs.select(col("doc_id").as("id_a"),
        substring(col("s"), 1, 8).as("pa")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"),
        substring(col("s"), 1, 8).as("pb")), "id_b")
      .agg(coalesce(sum(when(col("pa") === col("pb"), 1L).otherwise(0L)), lit(0L)).as("f"))
    val prefix8 = pairsWithin(substring(col("s"), 1, 8))
      .crossJoin(broadcast(prefixFound))
      .crossJoin(broadcast(truthTotal))
      .select(lit("prefix8").as("strategy"), col("cand").as("n_candidates"),
        col("f").as("n_true_found"), col("t").as("n_true_total"))

    // length-band: candidate count from the length histogram —
    // ΣC(n_l,2) + Σ_{l<m≤l+k} n_l·n_m; recall is total by the bound
    val hist = docs.groupBy(col("l")).agg(count(lit(1)).as("n"))
    val bandSame = hist.agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("c"))
    val bandCross = hist.as("x").join(hist.as("y"),
        col("y.l") > col("x.l") && col("y.l") <= col("x.l") + k)
      .agg(coalesce(sum(col("x.n") * col("y.n")), lit(0L)).as("c"))
    val lengthBand = bandSame.crossJoin(broadcast(bandCross.select(col("c").as("cc"))))
      .crossJoin(broadcast(truthTotal))
      .select(lit("length_band").as("strategy"),
        (col("c") + col("cc")).as("n_candidates"),
        col("t").as("n_true_found"), col("t").as("n_true_total"))

    // segment (PassJoin): distinct candidate pairs from the shared
    // index join — the exact set the truth relation verifies
    val segCand = segPairs.agg(count(lit(1)).as("cand"))
    val segment = segCand
      .crossJoin(broadcast(truthTotal))
      .select(lit("segment").as("strategy"), col("cand").as("n_candidates"),
        col("t").as("n_true_found"), col("t").as("n_true_total"))

    exact.unionByName(prefix8).unionByName(lengthBand).unionByName(segment)
  }

  /** The (doc_id, s, l) window frame the PassJoin family runs over:
    * `substr(text, start, width)` with degenerate (length ≤ k) windows
    * excluded. Deliberately NOT [[Tables.documentsSpread]]: the per-row
    * work here is constant-fanout substring emission, so the spread's
    * exchange is pure overhead (measured 6.3 s → 1.5 s at sf0.1);
    * parallelism comes from the dedup/join shuffles that follow, and a
    * real multi-TB scan has thousands of splits anyway.
    */
  private[graft] def edWindows(spark: SparkSession, dir: String,
                        start: Int, width: Int, k: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), start, width).as("s"))
      .withColumn("l", length(col("s")).cast("int"))
      .filter(col("l") > k)

  /** Index side of PassJoin: the k+1 contiguous segments of each
    * window, keyed by (la = own length, segment index, segment text).
    * Layout convention: the first `l % (k+1)` segments get the extra
    * char — shared with [[edProbes]] so join keys align.
    */
  private[graft] def edSegments(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("i", explode(sequence(lit(0), lit(k))))
      .withColumn("seg", expr(s"substring(s, ${segStartSql(k)} + 1, ${segLenSql(k)})"))
      .withColumn("la", col("l"))
      .select(col("doc_id"), col("s"), col("la"), col("i"), col("seg"))

  /** Probe side of PassJoin: every substring a partner of each feasible
    * length `la ∈ [l-k, l+k]` could index — segment-sized, starting
    * within ±k of the segment's home position. ≤ (2k+1)²(k+1) rows per
    * doc, deduped on the join key.
    */
  private[graft] def edProbes(docs: DataFrame, k: Int): DataFrame = {
    def segLen(lc: Column, i: Column): Column =
      (floor(lc / (k + 1)) + when(i < lc % (k + 1), 1).otherwise(0)).cast("int")
    def segStart(lc: Column, i: Column): Column =
      (i * floor(lc / (k + 1)) + least(i, lc % (k + 1))).cast("int")
    docs
      .withColumn("la", explode(sequence(col("l") - k, col("l") + k)))
      .filter(col("la") > k)
      .withColumn("i", explode(sequence(lit(0), lit(k))))
      .withColumn("shift", explode(sequence(lit(-k), lit(k))))
      .withColumn("pos", segStart(col("la"), col("i")) + col("shift"))
      .withColumn("seg_len", segLen(col("la"), col("i")))
      .filter(col("pos") >= 0 && col("pos") + col("seg_len") <= col("l"))
      .withColumn("seg", expr("substring(s, pos + 1, seg_len)"))
      .dropDuplicates("doc_id", "la", "i", "seg")
      .select(col("doc_id"), col("s"), col("la"), col("i"), col("seg"))
  }

  /** Quality-aware canonical selection — the keep/drop policy step a
    * curation pipeline runs AFTER near-dup clustering. Where
    * [[corpusCurate]] keeps the min-id doc per component (an arbitrary
    * but deterministic tie-break), production pipelines keep the BEST
    * member — here: most characters, ties to the smaller doc_id. One
    * aggregate over the component labels joined with per-doc stats;
    * the argmax is `max(struct(quality, -id))`, which folds map-side
    * (partial aggregation) instead of ranking members with a window —
    * at 100 TB a dup component can be huge (boilerplate pages), and a
    * bounded agg state beats buffering the member list.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val labels = componentLabels(spark, dir).select(col("doc_id"), col("comp"))
    val stats = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    labels
      .join(stats, "doc_id")
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("n_chars").as("c"), (-col("doc_id")).as("nid"))).as("best"))
      .select(
        col("comp"),
        (-col("best.nid")).as("canonical_id"),
        col("best.c").as("canonical_chars"),
        col("n_members"))
  }

  /** Duplicated-span fraction — the exact-substring dedup signal of
    * Lee et al.'s "Deduplicating Training Data Makes Language Models
    * Better": for every document, the fraction of its token k-gram
    * positions (k=8) whose k-gram also occurs in at least one OTHER
    * document. Pipelines drop or trim docs above a dup-frac threshold;
    * unlike whole-doc near-dup detection this catches boilerplate
    * shared across otherwise-distinct pages.
    *
    * Shape: per-doc k-gram positions collapse to (doc, gram, n_pos)
    * with map-side partial aggregation BEFORE any corpus-wide step, the
    * document-frequency table is a second partial-agg'd groupBy, and
    * the join back moves only 16-byte digests + counts — the document
    * body never crosses an exchange. A stop-gram (corpus-wide
    * boilerplate) lands as ONE df row, not a window partition holding
    * every occurrence, which is why this is aggregate+join rather than
    * `count() over (partition by gram)`.
    *
    * Docs with fewer than k tokens have no k-gram positions and drop
    * out (no 0/0 row). md5 grams keep the pipeline replayable in SQL.
    */
  def spanDupFraction(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val grams = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts) - ${k - 1}), " +
          s"i -> md5(cast(concat_ws(' ', slice(ts, i, $k)) as binary)))")).as("g"))
    // Feeds the df aggregation AND the join back — persist the compact
    // (doc, gram, count) rows, not the raw exploded positions.
    val perDocGram = grams
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n_pos"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val df = perDocGram.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
    perDocGram
      .join(df, "g")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n_pos")).as("n_grams"),
        sum(when(col("n_docs") >= 2, col("n_pos")).otherwise(0L)).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        (col("n_dup_grams").cast("double") / col("n_grams").cast("double")).as("dup_frac"))
  }

  /** Exact-substring span REMOVAL — the output side of Lee et al.'s
    * dedup (where [[spanDupFraction]] is the measurement side): every
    * token position covered by a k-gram (k=8) occurring ≥2 times in
    * the corpus (counting multiplicity, so within-document repeats
    * count too) is removed, and the document is reassembled from the
    * surviving tokens.
    *
    * Shape: the only corpus-wide steps move 16-byte gram digests and
    * integer positions — (doc, pos, gram) explode → gram-frequency
    * aggregate → join back → per-doc start-position collect. The
    * covered-position expansion and text rebuild are narrow per-doc
    * HOFs bounded by document length (exists() over the start list is
    * O(n·|starts|) with n ~ doc tokens — per-doc work, never a
    * shuffle). Docs shorter than k tokens have no grams and pass
    * through unchanged; `clean_text` is whitespace-normalized (tokens
    * rejoined with single spaces) in both engines.
    */
  def dedupSpanRemove(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val tk = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    // feeds both the frequency aggregate and the join back
    val grams = tk
      .filter(size(col("ts")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts) - ${k - 1}), " +
          s"i -> struct(i AS pos, md5(cast(concat_ws(' ', slice(ts, i, $k)) as binary)) AS g))"))
        .as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2L).select(col("g"))
    val starts = grams.join(dup, "g")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("starts"))
    tk.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ts"),
        coalesce(col("starts"), expr("CAST(array() AS array<int>)")).as("st"))
      .withColumn("kp", expr(
        s"filter(CASE WHEN size(ts) = 0 THEN CAST(array() AS array<int>) " +
          s"ELSE sequence(1, size(ts)) END, " +
          s"p -> NOT exists(st, s -> s <= p AND p <= s + ${k - 1}))"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(col("kp")).cast("long").as("n_kept"),
        concat_ws(" ", expr("transform(kp, p -> element_at(ts, p))")).as("clean_text"))
  }

  /** Bloom-prefiltered incremental dedup — [[dedupIncremental]]'s probe
    * with the scan-side filter a 100 TB ingest actually uses: build a
    * Bloom filter over the standing corpus's content hashes (Spark's
    * own `BloomFilterAggregate`, the engine behind runtime join
    * filters), prefilter the ingest batch to probable dups at the scan
    * (no shuffle for the ~99% of novel documents), then exact-join only
    * the survivors against the hash index. Bloom filters have no false
    * negatives, so the result is EXACT — the oracle is the plain
    * batch⋈index SQL with no bloom at all; false positives are
    * discarded by the confirming join.
    *
    * The collected filter blob is ~1 MB for 10⁶ items at 8 bits/item
    * (model-scale, like the IVF codebook — sized by standing-corpus
    * cardinality, not data bytes) and reaches executors as a literal.
    * Output: batch docs that exactly duplicate a standing doc.
    */
  def dedupBloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.GraftGlue

    val docs = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val cut = docs.agg(expr("max(doc_id) * 8 div 10").as("c"))
    val withCut = docs.crossJoin(broadcast(cut))
    val standing = withCut.filter(col("doc_id") <= col("c"))
    val batch = withCut.filter(col("doc_id") > col("c"))

    val bloomAgg = GraftGlue.column(
      new BloomFilterAggregate(
        GraftGlue.expression(xxhash64(col("h"))),
        Literal(1000000L), Literal(8L * 1000000L)).toAggregateExpression())
    // one row, one small binary — the "collect the trained sketch" step
    val blob = standing.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]]("bf")

    val index = standing.groupBy(col("h")).agg(min(col("doc_id")).as("existing_id"))
    val probable =
      if (blob == null) batch.limit(0) // empty standing corpus -> nothing can be a dup
      else batch.filter(GraftGlue.column(BloomFilterMightContain(
        Literal.create(blob, BinaryType),
        GraftGlue.expression(xxhash64(col("h"))))))
    probable.join(index, "h").select(col("doc_id"), col("existing_id"))
  }

  /** MinHash + LSH with an engine-portable hash (md5): same
    * signature→band→bucket-join→verify pipeline as [[minhashLsh]], but
    * every step is expressible in ANSI-ish SQL, so the WHOLE LSH
    * pipeline is DuckDB-oracle-checked end-to-end (the xxh64 variant is
    * faster and stays the scale path; this one proves the algorithm).
    *
    * Signature: h_j(doc) = min over shingles s of md5("j:" || s) —
    * md5 hex strings compare lexicographically identically in both
    * engines (fixed-length lowercase hex), and the per-row digests
    * stay inside whole-stage codegen. (A Kirsch–Mitzenmacher
    * double-hash variant — one md5 split into two halves via `conv` —
    * measured ~1s SLOWER here: the min-agg over derived longs lost
    * codegen on the hex parse, while codegen'd md5s over 256k
    * shingle rows cost only ~0.05s each.) Banding: the band's signature
    * rows concatenated into a string bucket key. Verification: exact
    * jaccard over the string shingle sets (array_intersect ≡
    * list_intersect on duplicate-free arrays).
    *
    * 64 hashes banded 16×4 — the SAME parameters as [[minhashLsh]], so
    * the two hash families have the same candidate-recall curve
    * (P(miss | j=0.8) ≈ 3e-4 per pair) and their verified outputs
    * agree; an earlier 16×(4×4) version of this twin missed a
    * j=0.818 pair at sf0.1 that the 16-band fast path caught
    * (P(miss | j=0.82) ≈ 0.11 at 4 bands — band count, not hash
    * family, was the difference).
    */
  /** md5 minhash signature table (doc_id, h0..h63), computed by the
    * native [[graft.functions.Md5MinhashSig]] kernel: one pass over
    * each document's shingle set inside the codegen span, instead of
    * exploding shingles and folding 64 separate
    * `min(md5(concat_ws(':', j, s)))` aggregate columns — the explode
    * formulation paid 64 codegen'd md5 expressions (each with its own
    * digest + hex allocation) per SHINGLE row plus a 64-string-column
    * partial-agg exchange; the kernel reuses one MessageDigest, tracks
    * mins on raw digest bytes, and the per-doc aggregation (and its
    * exchange) leaves the plan entirely. Hex values, and every oracle
    * hash downstream, are unchanged (lowercase hex order ≡ unsigned
    * digest-byte order). The size filter replicates the explode
    * semantics: a shingle-less doc never reached the old groupBy.
    * Factored out of [[md5BandTable]] so [[minhashErrorProfile]] can
    * read the raw signature columns.
    */
  private[graft] def md5SigTable(sh: DataFrame): DataFrame = {
    val numHashes = 64
    val withSig = sh
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        graft.functions.functions.md5_minhash_sig(col("sh"), numHashes).as("sig"))
    withSig.select(col("doc_id") +:
      (0 until numHashes).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
  }

  /** 16×4 banding over a [[md5SigTable]] signature relation. */
  private[graft] def md5Bands(sig: DataFrame): DataFrame = {
    val bandRows = 4
    val numBands = 16
    val bandCols = (0 until numBands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws(":", (b * bandRows until (b + 1) * bandRows)
          .map(j => col(s"h$j")): _*).as("band_hash"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** md5 minhash band table (doc_id, band, band_hash): 64 hashes banded
    * 16×4. Explodes shingles once; each shingle row computes all 64
    * md5s and the per-doc min folds map-side (partial agg) before the
    * one shuffle. Shared by [[minhashPortable]] and
    * [[minhashIncremental]] (and the bucketed-index spec — at 100 TB
    * this is the table a standing index materializes, bucketed by the
    * band key so batch probes never re-shuffle it).
    */
  private[graft] def md5BandTable(sh: DataFrame): DataFrame =
    md5Bands(md5SigTable(sh))

  def minhashPortable(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val bands = md5BandTable(sh).persist(StorageLevel.MEMORY_AND_DISK)

    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
  }

  /** Entity-resolution scoring stage: every LSH candidate pair gets a
    * Jaro-Winkler similarity over its leading 64-char window — the
    * record-linkage score a curation pipeline thresholds AFTER blocking.
    * Candidates come from the verified md5 MinHash band index (the
    * [[minhashPortable]] family), so pair volume is bucket-collision
    * bounded, never N²; the scorer is the codegen'd
    * [[graft.functions.JaroWinklerSim]] native expression, whose
    * float evaluation order is pinned DuckDB-bit-compatible — the
    * DOUBLE column hash-compares exactly against the oracle's
    * `jaro_winkler_similarity`.
    *
    * Scale shape: only (id, 64-char window) pairs cross the exchange;
    * the O(w²) char matching runs once per candidate, not per doc pair.
    */
  def erJaroWinkler(spark: SparkSession, dir: String): DataFrame =
    lshCandidateKeys(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.functions.jaro_winkler(col("ka"), col("kb")).as("jw"))

  /** Both character edit metrics over the same LSH candidates — the
    * readout that tells an ER pipeline whether its variants are
    * swap-typos: `dl` (the native full Damerau-Levenshtein expression,
    * DuckDB-exact) undercuts `lev` by one per adjacent transposition,
    * so `lev - dl` counts them. dl ≤ lev always (every Levenshtein
    * script is a Damerau script).
    */
  def erEditMetrics(spark: SparkSession, dir: String): DataFrame =
    lshCandidateKeys(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ka"), col("kb")).cast("long").as("lev"),
        graft.functions.functions.damerau_levenshtein(col("ka"), col("kb")).as("dl"))

  /** LSH candidate pairs (md5 band index, the [[minhashPortable]]
    * family) carrying each side's leading 64-char scoring window.
    */
  private def lshCandidateKeys(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir)
    val bands = md5BandTable(sh)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val keys = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 64).as("k"))
    cand
      .join(keys.select(col("doc_id").as("doc_a"), col("k").as("ka")), "doc_a")
      .join(keys.select(col("doc_id").as("doc_b"), col("k").as("kb")), "doc_b")
  }

  /** MinHash estimator calibration scoreboard — grades the minhash
    * family the way `ann_recall` grades the ANN family: for every
    * LSH candidate pair, the SIGNATURE-estimated similarity (how many
    * of the 64 minhashes agree) is bucketed against the EXACT shingle
    * Jaccard, yielding per-bucket pair counts, true-near-dup counts
    * (exact j ≥ 0.8 via integer cross-multiplication — no float
    * compare), and exact (inter, uni) sums. A healthy estimator shows
    * n_true/n_pairs rising monotonically with the bucket; a skewed
    * table means the banding parameters (not the verify step — that
    * stays exact) need retuning for the corpus. All-integer output,
    * replayed hash-for-hash by the DuckDB oracle (md5 signatures, the
    * [[minhashPortable]] family).
    *
    * Scale shape: candidate volume is LSH-bounded (bucket collisions,
    * never N²); the 64-column signature join is doc-scale (≈ 2 KB/row,
    * ids + fixed hex strings — document bodies never join); the final
    * aggregation collapses to ≤ 9 rows with map-side partials.
    */
  def minhashErrorProfile(spark: SparkSession, dir: String): DataFrame = {
    val numHashes = 64
    val sh = shingleSets(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    // sig backs both the band table and the two agreement joins of the
    // returned lazy plan — the cache must outlive this method (eager
    // unpersist would recompute 64 md5-mins per subtree at action time).
    // Lifecycle contract (same as minhashPortable's sh/bands persists):
    // the caller owns the caches; both harness mains drop them with
    // spark.catalog.clearCache() after each query's action.
    val sig = md5SigTable(sh).persist(StorageLevel.MEMORY_AND_DISK)
    val bands = md5Bands(sig)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Signature agreement over ARRAY-packed signatures: the former
    // shape joined two 65-column relations and summed 64 unrolled
    // CASE comparisons — ~80 KB of generated source whose Janino
    // compile (~0.9s of this query's 2.1s total) re-ran inside timed
    // runs whenever the codegen class cache had evicted it (the
    // pinned cause of this row's 1.25↔3.2s bench oscillation; see
    // Bench's cache sizing). The packed form moves one array column
    // per side and counts agreements with a zip_with/filter fold —
    // interpreted eval, which is FINE here: it runs once per
    // LSH-bounded candidate pair (dozens of rows), not per corpus row,
    // and drops the join-stage source to a fraction.
    val sigArr = sig.select(col("doc_id"),
      array((0 until numHashes).map(j => col(s"h$j")): _*).as("sig"))
    cand
      .join(sigArr.select(col("doc_id").as("doc_a"), col("sig").as("siga")), "doc_a")
      .join(sigArr.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(filter(zip_with(col("siga"), col("sigb"), (a, b) => a === b),
          x => x)).cast("long").as("n_agree"))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      .groupBy(expr("n_agree div 8").as("est_bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("inter") * 10L >= col("uni") * 8L, 1L).otherwise(0L)).as("n_true"),
        sum(col("inter")).as("sum_inter"),
        sum(col("uni")).as("sum_uni"))
  }

  /** Incremental MinHash+LSH dedup — [[dedupIncremental]]'s standing-
    * index shape applied to NEAR-dups: the existing corpus (doc_id ≤
    * 80% cut, same convention as the exact variant) materializes its
    * band-bucket index once; a new ingest batch computes signatures,
    * probes ONLY those buckets (batch×standing — batch-internal pairs
    * are out of scope here, exactly as the standing index would behave
    * in production), and survivors are verified with exact jaccard
    * ≥ 0.8. At 100 TB the index is a stored (band, band_hash → doc_id)
    * table; per-batch cost is signature computation over the batch plus
    * a hash-partitioned bucket join — batch-sized, never corpus-sized.
    *
    * md5 signatures (the [[minhashPortable]] family, same 16×4 banding)
    * keep the WHOLE pipeline — index build, probe, verify — replayable
    * in the DuckDB oracle hash-for-hash; swapping in the xxh64 family
    * of [[minhashLsh]] changes only candidate recall (P(miss | j=0.8)
    * ≈ 3e-4), never a verified (inter, uni) value.
    *
    * Output: (batch doc_id, matched standing doc_id, inter, uni) for
    * every verified near-dup pair.
    */
  def minhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val cut = Tables.documentsSpread(spark, dir)
      .agg(expr("max(doc_id) * 8 div 10").as("c"))
    val bands = md5BandTable(sh)
      .crossJoin(broadcast(cut))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standing = bands.filter(col("doc_id") <= col("c"))
      .select(col("doc_id").as("dup_of"), col("band"), col("band_hash"))
    val batch = bands.filter(col("doc_id") > col("c"))
      .select(col("doc_id"), col("band"), col("band_hash"))

    val cand = batch.join(standing, Seq("band", "band_hash"))
      .select(col("doc_id"), col("dup_of"))
      .distinct()

    cand
      .join(sh.select(col("doc_id"), col("sh").as("shb")), "doc_id")
      .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sha")), "dup_of")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= 0.8)
      .select(col("doc_id"), col("dup_of"), col("inter"), col("uni"))
  }

  /** Incremental MinHash dedup against a PERSISTED bucketed standing
    * index — [[minhashIncremental]] executed the way a 100 TB pipeline
    * actually runs it. That variant recomputes the standing side's band
    * table in-query; here the standing corpus's (band_key → dup_of)
    * index is WRITTEN ONCE as a parquet table bucketed by `band_key`
    * (`bucketBy` + `sortBy`, the catalog remembers the layout), and the
    * probe join READS IT BACK: the bucketed scan's output partitioning
    * already satisfies the join's distribution requirement, so the
    * index side crosses zero exchanges — only the (small) ingest batch
    * shuffles. `BucketedJoinSpec` pins that exchange-free plan shape.
    *
    * At 100 TB the index table persists across ingest runs and only
    * grows by appended batch signatures; per-batch cost is signature
    * computation over the batch plus a bucket-join probe — batch-sized,
    * never corpus-sized. The 80%-cut split and md5 band family are
    * identical to [[minhashIncremental]], so the two queries return the
    * same verified (doc_id, dup_of, inter, uni) rows and share one
    * DuckDB oracle.
    *
    * band_key = band || "#" || band_hash: bucketing clusters by exactly
    * the join columns, so the two-column bucket key is folded into one
    * string (md5 hex never contains '#').
    */
  def minhashStanding(spark: SparkSession, dir: String): DataFrame =
    minhashStandingImpl(spark, dir, appendEpoch = false)

  /** The standing index's APPEND lifecycle, executed: epoch 1 writes
    * the bucketed band index for the first 60% of the corpus, epoch 2
    * `mode("append")`s the (60%, 80%] batch's signatures into the SAME
    * table — no rebuild, just extra files per bucket (Spark validates
    * the incoming bucket spec against the catalog's, and the bucketed
    * scan groups all of a bucket id's files into one read partition,
    * so the layout contract survives the append) — and the probe runs
    * the final 20% against the grown index. The standing side is then
    * exactly [[minhashIncremental]]'s ≤ 80% cut, so this returns the
    * identical verified (doc_id, dup_of, inter, uni) rows and shares
    * its DuckDB oracle; `BucketedJoinSpec` pins that the post-append
    * probe plan STILL crosses zero exchanges on the index side. This
    * is the claim "at 100 TB the index only grows by appended batch
    * signatures" as a registered, oracled query instead of prose.
    */
  def minhashStandingAppend(spark: SparkSession, dir: String): DataFrame =
    minhashStandingImpl(spark, dir, appendEpoch = true)

  /** The standing index's DELETE lifecycle, executed: after the ≤ 80%
    * bucketed band index is built, a takedown set (standing docs with
    * doc_id divisible by 10 — a deterministic stand-in for PII/DMCA
    * removals the oracle can replay) is removed in the two production
    * steps (compaction runs here; the oracle replays the soft delete):
    *  1. SOFT delete: an id-scale tombstone list the probe anti-joins
    *     (broadcast at any corpus/tombstone ratio) — effective
    *     immediately, zero index rewrite;
    *  2. COMPACTION: the index rewrites without tombstoned rows under
    *     the SAME bucket spec, so post-compaction probes keep the
    *     exchange-free bucketed layout. (With plain parquet the
    *     rewrite is table-wide; a lakehouse-format deployment writes
    *     delete files and compacts lazily — the probe shape is
    *     identical either way.)
    * Returns the post-compaction probe's verified pairs; DedupSpec
    * asserts they equal the uncompacted probe's pairs minus tombstoned
    * `dup_of`s (the soft delete's rows), so nothing points at a
    * deleted doc. Shares the incremental oracle with the takedown
    * filter applied on the standing side.
    */
  def minhashStandingDelete(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleSets(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val cut = Tables.documentsSpread(spark, dir)
      .agg(expr("max(doc_id) * 8 div 10").as("c"))
    val withKey = md5BandTable(sh)
      .crossJoin(broadcast(cut))
      .withColumn("band_key", concat_ws("#", col("band"), col("band_hash")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (table, idxPath) = Tables.scopedIndex(spark, "graft_minhash_band_del", dir)
    // one partition per bucket before the write: the kernel-computed
    // band table arrives at scan parallelism (no aggregate exchange
    // upstream any more), and an unclustered write opens tasks×8
    // bucket writers and leaves tasks×8 files for every later probe
    // scan. The clustering shuffle moves the slim (dup_of, band_key)
    // rows (<1 MB at sf0.1) — measured cheaper than the writer fan-out
    // it removes, unlike the index-scale repartitions r20 refused.
    def writeIndex(rows: DataFrame, mode: String): Unit =
      rows.repartition(8, col("band_key"))
        .write.bucketBy(8, "band_key").sortBy("band_key")
        .option("path", idxPath)
        .mode(mode).saveAsTable(table)
    writeIndex(withKey.filter(col("doc_id") <= col("c"))
      .select(col("doc_id").as("dup_of"), col("band_key")), "overwrite")

    // compaction: rewrite minus tombstones under the same bucket spec.
    // The filtered rows checkpoint eagerly first — the overwrite can't
    // scan the very table it is replacing.
    val compacted = spark.table(table)
      .filter(col("dup_of") % 10 =!= 0)
      .localCheckpoint(true)
    writeIndex(compacted, "overwrite")

    val batch = withKey.filter(col("doc_id") > col("c"))
      .select(col("doc_id"), col("band_key"))
    spark.table(table)
      .join(batch, "band_key")
      .select(col("doc_id"), col("dup_of"))
      .distinct()
      .join(sh.select(col("doc_id"), col("sh").as("shb")), "doc_id")
      .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sha")), "dup_of")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= 0.8)
      .select(col("doc_id"), col("dup_of"), col("inter"), col("uni"))
  }

  private def minhashStandingImpl(
      spark: SparkSession, dir: String, appendEpoch: Boolean): DataFrame = {
    val sh = shingleSets(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val cut = Tables.documentsSpread(spark, dir)
      .agg(expr("max(doc_id) * 8 div 10").as("c"),
        expr("max(doc_id) * 6 div 10").as("c0"))
    val withKey = md5BandTable(sh)
      .crossJoin(broadcast(cut))
      .withColumn("band_key", concat_ws("#", col("band"), col("band_hash")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Index build — in production this runs once then appends; the
    // external path keeps re-runs idempotent via overwrite. Name and
    // path are scoped per (application, data dir) so concurrent
    // sessions never race on one catalog entry (see Tables.scopedIndex).
    val base =
      if (appendEpoch) "graft_minhash_band_appended" else "graft_minhash_band_index"
    val (table, idxPath) = Tables.scopedIndex(spark, base, dir)
    // clustered like minhashStandingDelete's writeIndex (see there):
    // slim rows, one file per bucket per epoch
    def writeEpoch(rows: DataFrame, mode: String): Unit =
      rows.select(col("doc_id").as("dup_of"), col("band_key"))
        .repartition(8, col("band_key"))
        .write.bucketBy(8, "band_key").sortBy("band_key")
        .option("path", idxPath)
        .mode(mode).saveAsTable(table)
    if (appendEpoch) {
      writeEpoch(withKey.filter(col("doc_id") <= col("c0")), "overwrite")
      writeEpoch(
        withKey.filter(col("doc_id") > col("c0") && col("doc_id") <= col("c")),
        "append")
    } else {
      writeEpoch(withKey.filter(col("doc_id") <= col("c")), "overwrite")
    }

    // Probe — the standing index arrives pre-partitioned from storage.
    val batch = withKey.filter(col("doc_id") > col("c"))
      .select(col("doc_id"), col("band_key"))
    val cand = spark.table(table)
      .join(batch, "band_key")
      .select(col("doc_id"), col("dup_of"))
      .distinct()

    cand
      .join(sh.select(col("doc_id"), col("sh").as("shb")), "doc_id")
      .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sha")), "dup_of")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= 0.8)
      .select(col("doc_id"), col("dup_of"), col("inter"), col("uni"))
  }

  /** SimHash with an engine-portable hash: 56-bit md5-prefix token
    * hashes, per-bit ±1 votes summed per document (integer sums are
    * accumulation-order-independent, so the whole signature is exactly
    * replayable in SQL), sign → bit, then 4×14-bit chunk banding and
    * exact hamming ≤ 3 verification — the same pipeline as [[simhash]]
    * (the xxh64 scale path), but DuckDB-oracle-checked end to end.
    * Zero-token documents have no signature here (they drop out at the
    * explode); the native variant keeps them with signature 0.
    */
  /** Per-bit balance audit of the portable 56-bit simhash — the
    * hash-family health check that must precede trusting ANY simhash
    * dedup verdict: a healthy family sets each bit in ~half the
    * corpus; a skewed bit contributes no discrimination and silently
    * inflates false near-dup rates. Signatures recompute via the same
    * token-vote pipeline as [[simhashPortable]] (md5 token hashes, so
    * the whole audit replays in the oracle); the 56-row report
    * explodes each signature's bits from a literal index sequence —
    * 56× fanout of one long column, all inside codegen.
    */
  def simhashBitBalance(spark: SparkSession, dir: String): DataFrame = {
    val bits = 56
    // signatures via the native Md5Simhash56 kernel — see
    // [[simhashPortable]]; identical longs, no explode/56-column agg
    val sig = portableSimhashSigs(spark, dir)
    val total = sig.agg(count(lit(1)).as("n_docs"))
    sig
      .select(explode(typedLit((0 until bits).map(_.toLong))).as("bit"),
        col("simhash"))
      .select(col("bit"),
        expr("shiftright(simhash, CAST(bit AS INT)) & 1L").as("set"))
      .groupBy(col("bit"))
      .agg(sum(col("set")).as("n_set"))
      .crossJoin(broadcast(total))
      .select(col("bit"), col("n_set"), col("n_docs"),
        (col("n_set").cast("double") / col("n_docs").cast("double"))
          .as("set_share"))
  }

  /** The portable 56-bit signature table (doc_id, simhash) shared by
    * [[simhashPortable]] and [[simhashBitBalance]], computed by the
    * native [[graft.functions.Md5Simhash56]] kernel: one pass per
    * document's token array inside the codegen span, instead of
    * exploding tokens and folding 56 conditional-sum aggregate columns
    * (md5 per token stays — it is the portability contract — but the
    * per-doc aggregation and its exchange leave the plan; integer
    * votes are order-independent, so the signature is bit-identical).
    * The size filter replicates the explode semantics: a token-less
    * doc never reached the old groupBy.
    */
  private def portableSimhashSigs(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        graft.functions.functions.md5_simhash56(col("ts")).as("simhash"))

  def simhashPortable(spark: SparkSession, dir: String): DataFrame = {
    val chunkBits = 14
    val nChunks = 4

    val sig = portableSimhashSigs(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val chunks = sig.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("simhash"), chunkBits * c)
          .bitwiseAND(lit((1L << chunkBits) - 1))): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")

    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_val") === col("y.chunk_val")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** SimHash near-dup pairs. 64-bit simhash over unigram token hashes
    * (per-row, no shuffle), then pairs at hamming distance ≤ 3 found by
    * banding the hash into 4×16-bit chunks: d(a,b) ≤ 3 ⇒ at least one
    * chunk is identical (pigeonhole), so a join on (chunk, value) finds
    * every qualifying pair; exact popcount(xor) confirms.
    * Spark-hash-specific → ScalaTest-covered, no SQL oracle.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // Per-bit votes of each token's xxhash64 run in the native
    // SimHash64 expression — same bits as the previous HOF
    // formulation (both hash with XXH64 seed 42), one loop per row.
    // One signature row per doc (16 B) — persisted so the self-join's two
    // sides share a single tokenize+simhash pass over the corpus.
    val hashed = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"),
        graft.functions.functions.simhash64(TextOps.tokens(col("text"))).as("simhash"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val chunks = hashed.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), 16 * c).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")

    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_val") === col("y.chunk_val")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      // hamming BEFORE distinct: the popcount is a per-row bit op, so
      // filtering first means only qualifying pairs cross the distinct's
      // exchange — not every far pair that happens to share one chunk
      // (a templated corpus makes those collision pairs quadratic-ish).
      .filter(col("hamming") <= 3)
      .distinct()
  }
}
