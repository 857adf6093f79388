package graft

import graft.operators.QualityWeights

/** DuckDB replays of the registered queries: each member is ANSI SQL
  * that DuckDB runs over the same parquet tables as the Spark plan,
  * and the query's [[QuerySpec]] in [[Registry]] names the member it is
  * checked against. A query without one gets a rows-only check (see
  * [[QuerySpec.oracle]]).
  *
  * Column-name/type contract: the driver sorts columns by name before
  * hashing, so every computed column is aliased identically in the
  * DataFrame plan and the SQL, counts are BIGINT on both sides, and
  * float columns only appear where both engines compute the identical
  * IEEE expression (int/int divisions, decimal-cast sums).
  */
object OracleSql {

  /** Shared CTE chain replaying [[graft.operators.Similarity.kmeansTrain]]'s
    * two integer-exact Lloyd rounds for a given k: int8 quantize → init
    * (vec_id < k) → assign/update ×2. Ends exposing `u2` (the round-2
    * exploded update input) and `c2l` (round-2 centroid lists) — shared
    * by the kmeans_train and dedup_semantic oracles.
    */
  private def kmeansCtes(k: Int): String =
    s"""m AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                     list_max(list_transform(cast(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS ma
              FROM embeddings),
        q AS (SELECT vec_id,
                     list_transform(v, x -> CASE WHEN ma = 0.0 THEN 0
                          ELSE greatest(-127, least(127,
                                 cast(floor(x * 127.0 / ma) AS BIGINT))) END) AS q
              FROM m),
        c0 AS (SELECT vec_id AS cell, q AS c FROM q WHERE vec_id < $k),
        d1 AS (SELECT q.vec_id, q.q, c0.cell,
                      list_sum(list_transform(range(1, len(q.q) + 1),
                        i -> (q.q[i] - c0.c[i]) * (q.q[i] - c0.c[i]))) AS dist
               FROM q, c0),
        a1 AS (SELECT vec_id, q, cell FROM (
                 SELECT vec_id, q, cell,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cell) AS rn
                 FROM d1) WHERE rn = 1),
        u1 AS (SELECT cell, unnest(q) AS qv,
                      unnest(range(0, len(q))) AS dim_idx FROM a1),
        c1 AS (SELECT cell, dim_idx,
                      CAST(trunc(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c_q
               FROM u1 GROUP BY cell, dim_idx),
        c1l AS (SELECT cell, list(c_q ORDER BY dim_idx) AS c FROM c1 GROUP BY cell),
        d2 AS (SELECT q.vec_id, q.q, c1l.cell,
                      list_sum(list_transform(range(1, len(q.q) + 1),
                        i -> (q.q[i] - c1l.c[i]) * (q.q[i] - c1l.c[i]))) AS dist
               FROM q, c1l),
        a2 AS (SELECT vec_id, q, cell FROM (
                 SELECT vec_id, q, cell,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cell) AS rn
                 FROM d2) WHERE rn = 1),
        u2 AS (SELECT cell, unnest(q) AS qv,
                      unnest(range(0, len(q))) AS dim_idx FROM a2),
        c2 AS (SELECT cell, dim_idx,
                      CAST(trunc(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c_q
               FROM u2 GROUP BY cell, dim_idx),
        c2l AS (SELECT cell, list(c_q ORDER BY dim_idx) AS c FROM c2 GROUP BY cell)"""

  /** The IVF family's `nlist` derivation as a CTE — the
    * [[lshBandCtes]] `params` pattern applied to the coarse quantizer:
    * `nl` runs the SAME integer rule as
    * [[graft.operators.Similarity.derivedNlist]] (the smallest power
    * of two 2^b, b in [4, 20], with 2^b·2^b·8 ≥ count(embeddings) —
    * nlist ≈ √(N/8), pure integer shifts). The derivation is REPLAYED,
    * not baked in, so one oracle string stays hash-exact at every SF
    * while the engine's cell count scales ∝ √N.
    */
  private val nlistParamsCte: String =
    """nlparams AS (SELECT CAST(1 AS BIGINT) << lb AS nl FROM (
         SELECT coalesce(
           (SELECT min(b) FROM (SELECT unnest(range(4, 21)) AS b)
            WHERE (CAST(1 AS BIGINT) << b) * (CAST(1 AS BIGINT) << b) * 8
                    >= (SELECT count(*) FROM embeddings)),
           20) AS lb))"""

  /** [[kmeansCtes]]'s SPHERICAL twin, replaying
    * [[graft.operators.Similarity.sphericalCentroids]]'s two
    * cosine-assignment Lloyd rounds at the DERIVED k (the
    * [[nlistParamsCte]] rule — the same k the engine resolves): int8
    * quantize → init (vec_id < nl) → (assign by dot(q,c)/‖c‖ with a
    * −1e9 sentinel for dead all-zero centroids, ties to the lowest
    * cell; update = per-dim trunc'd integer mean) ×2. Ends exposing
    * `c2l` (cell → integer centroid list) under the same contract as
    * kmeansCtes, so the IVF-family oracles consume either chain
    * unchanged. Dot products of int8 codes are exact integers; the
    * sim ratio is the only double and both engines compute it from
    * identical operands.
    */
  private val sphericalKmeansCtesDerived: String =
    s"""$nlistParamsCte,
        m AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                     list_max(list_transform(cast(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS ma
              FROM embeddings),
        q AS (SELECT vec_id,
                     list_transform(v, x -> CASE WHEN ma = 0.0 THEN 0
                          ELSE greatest(-127, least(127,
                                 cast(floor(x * 127.0 / ma) AS BIGINT))) END) AS q
              FROM m),
        c0 AS (SELECT vec_id AS cell, q AS c,
                      sqrt(CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE)) AS cn
               FROM q WHERE vec_id < (SELECT nl FROM nlparams)),
        d1 AS (SELECT q.vec_id, q.q, c0.cell,
                      CASE WHEN c0.cn = 0 THEN -1000000000.0
                           ELSE CAST(list_sum(list_transform(range(1, len(q.q) + 1),
                                  i -> q.q[i] * c0.c[i])) AS DOUBLE) / c0.cn
                      END AS sim
               FROM q, c0),
        a1 AS (SELECT vec_id, q, cell FROM (
                 SELECT vec_id, q, cell,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell) AS rn
                 FROM d1) WHERE rn = 1),
        u1 AS (SELECT cell, unnest(q) AS qv,
                      unnest(range(0, len(q))) AS dim_idx FROM a1),
        c1 AS (SELECT cell, dim_idx,
                      CAST(trunc(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c_q
               FROM u1 GROUP BY cell, dim_idx),
        c1l AS (SELECT cell, list(c_q ORDER BY dim_idx) AS c,
                       sqrt(CAST(list_sum(list_transform(
                         list(c_q ORDER BY dim_idx), x -> x*x)) AS DOUBLE)) AS cn
                FROM c1 GROUP BY cell),
        d2 AS (SELECT q.vec_id, q.q, c1l.cell,
                      CASE WHEN c1l.cn = 0 THEN -1000000000.0
                           ELSE CAST(list_sum(list_transform(range(1, len(q.q) + 1),
                                  i -> q.q[i] * c1l.c[i])) AS DOUBLE) / c1l.cn
                      END AS sim
               FROM q, c1l),
        a2 AS (SELECT vec_id, q, cell FROM (
                 SELECT vec_id, q, cell,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, cell) AS rn
                 FROM d2) WHERE rn = 1),
        u2 AS (SELECT cell, unnest(q) AS qv,
                      unnest(range(0, len(q))) AS dim_idx FROM a2),
        c2 AS (SELECT cell, dim_idx,
                      CAST(trunc(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c_q
               FROM u2 GROUP BY cell, dim_idx),
        c2l AS (SELECT cell, list(c_q ORDER BY dim_idx) AS c FROM c2 GROUP BY cell)"""

  /** Shared CTE chain replaying [[graft.operators.TextOps.docPerplexity]]:
    * bigram LM probs → per-doc integer micro-nat NLL sums. Ends exposing
    * `agg` (doc_id, n_bigrams, nll_micro) — shared by the doc_perplexity
    * and perplexity_buckets oracles.
    */
  private val perplexityCtes: String =
    """b AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bgm
             FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                   FROM documents)
             WHERE len(ts) >= 2),
       pairs AS (SELECT doc_id, split_part(bgm, ' ', 1) AS w1,
                        split_part(bgm, ' ', 2) AS w2 FROM b),
       perdoc AS (SELECT doc_id, w1, w2, count(*) AS n FROM pairs GROUP BY 1, 2, 3),
       bg AS (SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY 1, 2),
       ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt FROM bg GROUP BY w1),
       lm AS (SELECT w1, w2, CAST(cnt AS DOUBLE) / ctx_cnt AS prob FROM bg JOIN ctx USING (w1)),
       agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
                      CAST(-sum(n * CAST(floor(ln(prob) * 1000000) AS BIGINT)) AS BIGINT) AS nll_micro
               FROM perdoc JOIN lm USING (w1, w2) GROUP BY doc_id)"""

  /** Shared CTE block: the near-dup graph + reachability used by both
    * dedup_components and corpus_curate.
    */
  private val componentCtes: String = componentCtesOver("documents")

  /** The components reachability CTEs over an arbitrary documents
    * relation — the delete lifecycle replays as "cluster the reduced
    * corpus from scratch", which is exactly the claim the operator's
    * touched-component reclustering must hash-match.
    */
  private def componentCtesOver(docsRel: String): String =
    s"""star AS (SELECT min(doc_id) OVER (PARTITION BY sha256(text)) AS doc_a,
                       doc_id AS doc_b
                FROM $docsRel
                QUALIFY doc_a != doc_b),
       tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS ts
              FROM $docsRel),
       se AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS sh
              FROM tk WHERE len(ts) >= 2),
       ex AS (SELECT doc_id, unnest(sh) AS s FROM se),
       n AS (SELECT doc_id, cast(len(sh) AS BIGINT) AS ns FROM se),
       i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id),
       near AS (SELECT doc_a, doc_b
                FROM i JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
                WHERE cast(inter AS DOUBLE) / (na.ns + nb.ns - inter) >= 0.8),
       und AS (SELECT * FROM star UNION ALL SELECT * FROM near),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM und
                 UNION ALL SELECT doc_b, doc_a FROM und),
       reach(doc_id, label) AS (
         SELECT doc_id, doc_id FROM $docsRel
         UNION
         SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id)"""

  /** The full portable-LSH minhash pipeline: md5 minhash signatures
    * (64 hashes banded 16×4 — the same parameters as the xxh64 fast
    * path), bucket self-join, exact-jaccard verification — end-to-end
    * in SQL. Shared by `dedup_minhash_portable` (which it replays
    * hash-for-hash) and `dedup_minhash` (the fast path): the hash
    * family only affects candidate RECALL, never the verified
    * `(inter, uni)` values; with matched band parameters both families
    * miss a j=0.8 pair with P ≈ 3e-4, and their final pair sets are
    * verified identical at sf0.001/0.01/0.1 (DedupSpec pins the
    * agreement; the three-SF verify run re-checks it every round).
    */
  /** Shared CTE block: shingle sets → md5 signatures → 16×4 bands →
    * LSH candidate pairs. The prefix of [[minhashPortableSql]], also
    * the candidate generator `minhash_error_profile` buckets over.
    */
  /** Batch-vs-standing edit-distance relation (the 80% id cut), shared
    * by the in-query incremental variant and the bucketed standing
    * index — identical output by construction.
    */
  val editDistanceIncrementalSql: String =
    editDistanceIncrementalSqlWith("")

  /** [[editDistanceIncrementalSql]] with an extra predicate on the
    * STANDING side — the delete lifecycle replays as the same probe
    * minus tombstoned index rows (same shape as
    * minhashIncrementalSqlWith / annIvfSqlWith).
    */
  private def editDistanceIncrementalSqlWith(standingFilter: String): String =
    s"""WITH s AS (SELECT doc_id, substr(text, 101, 48) AS s
                  FROM documents WHERE len(substr(text, 101, 48)) > 2),
            c AS (SELECT max(doc_id) * 8 // 10 AS c FROM documents)
       SELECT b.doc_id, a.doc_id AS dup_of,
              CAST(levenshtein(b.s, a.s) AS BIGINT) AS dist
       FROM s b, s a, c
       WHERE b.doc_id > c.c AND a.doc_id <= c.c$standingFilter
         AND levenshtein(b.s, a.s) <= 2"""

  private val minhashCandCtes: String = {
    val sigCols = (0 until 64)
      .map(j => s"min(md5('$j:' || s)) AS h$j").mkString(", ")
    val bandCases = (0 until 16)
      .map(b => s"WHEN $b THEN h${b * 4} || ':' || h${b * 4 + 1} || ':' || h${b * 4 + 2} || ':' || h${b * 4 + 3}")
      .mkString(" ")
    s"""tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS ts
               FROM documents),
             se AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS sh
                    FROM tk WHERE len(ts) >= 2),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM se),
             sig AS (SELECT doc_id, $sigCols FROM ex GROUP BY doc_id),
             bands AS (SELECT doc_id, band,
                              CASE band $bandCases END AS band_hash
                       FROM sig, (SELECT unnest(range(0, 16)) AS band)),
             cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                      FROM bands x JOIN bands y
                        ON x.band = y.band AND x.band_hash = y.band_hash
                           AND x.doc_id < y.doc_id)"""
  }

  /** Corpus-derived LSH banding CTEs shared by every lshBands replay
    * (`params` → `e` → `sig` → `bands` → `probed`): `params.bb` runs
    * the SAME integer rule as
    * [[graft.operators.Similarity.derivedBandBits]] (smallest b in
    * [4, 45] with 2^b·8 ≥ count(embeddings) — pure integer shifts, no
    * log2 ulp risk) and `params.nb` the
    * [[graft.operators.Similarity.derivedBandCount]] rule
    * (4 + max(0, bb − 16) — band count grows past the old 16-bit
    * width, holding recall while buckets stay ∝ N). The signature is
    * nb·bb md5-hyperplane sign bits; `bands` folds band k's own
    * bb-bit slice positionally into a BIGINT band value (identical to
    * the retired single-64-bit-signature slicing wherever nb·bb ≤ 63,
    * but width-unbounded like the Scala side); `probed` is the
    * hamming-≤1 probe fan-out twin of Similarity.probeExpand (pk = 0
    * keeps the bucket, pk = i flips bit i−1). Parameters live IN the
    * SQL, so one oracle string stays hash-exact at every SF — the
    * derivation is replayed, not baked in.
    */
  private val lshBandCtes: String =
    """params AS (SELECT bb, 4 + greatest(0, bb - 16) AS nb
                  FROM (SELECT coalesce(
                    (SELECT min(b) FROM (SELECT unnest(range(4, 46)) AS b)
                     WHERE (CAST(1 AS BIGINT) << b) * 8 >= (SELECT count(*) FROM embeddings)),
                    45) AS bb)),
              e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              sig AS (SELECT vec_id, bb, nb,
                             list_transform(range(0, nb * bb), p ->
                               CASE WHEN list_reduce(list_prepend(0.0,
                                      list_transform(range(0, 64), j ->
                                        v[j+1] * cast(('0x' || substr(md5(p || ':' || j), 1, 7))::BIGINT
                                                      % 2001 - 1000 AS DOUBLE))),
                                      (a,x) -> a + x) > 0
                                    THEN 1 ELSE 0 END) AS bits
                      FROM e, params),
              bands AS (SELECT vec_id, band, bb,
                               list_reduce(list_prepend(CAST(0 AS BIGINT),
                                 list_transform(range(0, bb), i ->
                                   CAST(bits[band*bb + i + 1] AS BIGINT)
                                     * (CAST(1 AS BIGINT) << i))),
                                 (a,x) -> a + x) AS band_val
                        FROM sig, (SELECT unnest(range(0, 33)) AS band)
                        WHERE band < nb),
              probed AS (SELECT vec_id, band,
                                CASE WHEN pk = 0 THEN band_val
                                     ELSE xor(band_val, CAST(1 AS BIGINT) << (pk - 1)) END AS band_val
                         FROM bands, (SELECT unnest(range(0, 46)) AS pk)
                         WHERE pk <= bb)"""

  /** [[graft.operators.Similarity.dedupEmbeddingAnn]]'s full replay —
    * corpus-derived hyperplane signs, band buckets, hamming-≤1 probe
    * fan-out on the id_a side, candidate pairs, exact-cosine verify.
    * Shared by the dedup_embedding_ann entry and the
    * modality-agreement composition.
    */
  val dedupEmbeddingAnnSql: String =
    s"""WITH $lshBandCtes,
              cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                       FROM probed a JOIN bands b
                         ON a.band = b.band AND a.band_val = b.band_val
                       WHERE a.vec_id < b.vec_id)
         SELECT id_a, id_b
         FROM cand
         JOIN e ea ON ea.vec_id = cand.id_a
         JOIN e eb ON eb.vec_id = cand.id_b
         WHERE list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])),
                 (acc,x) -> acc + x) / (ea.nrm * eb.nrm) >= 0.35"""

  val minhashPortableSql: String =
    s"""WITH $minhashCandCtes,
             v AS (SELECT doc_a, doc_b,
                          cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
                          cast(len(a.sh) AS BIGINT) + cast(len(b.sh) AS BIGINT)
                            - cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
                   FROM cand JOIN se a ON doc_a = a.doc_id JOIN se b ON doc_b = b.doc_id)
        SELECT doc_a, doc_b, inter, uni FROM v
        WHERE cast(inter AS DOUBLE) / uni >= 0.8"""

  /** [[graft.operators.Dedup.minhashErrorProfile]]'s calibration
    * scoreboard, replayed hash-for-hash: per LSH candidate pair the
    * signature-agreement count buckets (÷8) against exact jaccard;
    * all-integer aggregates.
    */
  val minhashErrorProfileSql: String = {
    val agree = (0 until 64)
      .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashCandCtes,
             agr AS (SELECT doc_a, doc_b, CAST($agree AS BIGINT) AS n_agree
                     FROM cand JOIN sig a ON doc_a = a.doc_id
                               JOIN sig b ON doc_b = b.doc_id),
             v AS (SELECT doc_a, doc_b,
                          cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
                          cast(len(a.sh) AS BIGINT) + cast(len(b.sh) AS BIGINT)
                            - cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
                   FROM cand JOIN se a ON doc_a = a.doc_id JOIN se b ON doc_b = b.doc_id)
        SELECT n_agree // 8 AS est_bucket,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN inter * 10 >= uni * 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               CAST(sum(inter) AS BIGINT) AS sum_inter,
               CAST(sum(uni) AS BIGINT) AS sum_uni
        FROM agr JOIN v USING (doc_a, doc_b)
        GROUP BY est_bucket"""
  }

  /** Per-doc 8-gram novelty vs the doc_id-ordered prefix corpus —
    * shared verbatim by `ngram_novelty` (one-shot plan) and
    * `stream_novelty` (the incremental index lifecycle, which is
    * proven equivalent by hashing against this same SQL).
    */
  val ngramNoveltySql: String =
    """WITH tk AS (SELECT doc_id,
                          list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                   FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_distinct(list_transform(range(1, len(ts) - 6),
                           i -> md5(array_to_string(ts[i:i+7], ' '))))) AS g
                  FROM tk WHERE len(ts) >= 8),
            fo AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
            pd AS (SELECT doc_id,
                          CAST(count(*) AS BIGINT) AS n_grams,
                          CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                   FROM g JOIN fo USING (g) GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
              CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
              CAST(coalesce((n_novel * CAST(1000000 AS BIGINT)) // n_grams, 0) AS BIGINT) AS novelty_micro
       FROM documents d LEFT JOIN pd USING (doc_id)"""

  /** [[minhashPortableSql]]'s pipeline with the incremental split:
    * standing docs (doc_id ≤ 80% cut) form the band index, batch docs
    * probe it — batch×standing candidates only, exactly like
    * [[graft.operators.Dedup.minhashIncremental]].
    */
  /** The incremental probe pipeline, parameterized by an extra
    * standing-side predicate — `""` for the plain incremental/standing
    * family, a takedown filter for the delete lifecycle.
    */
  private def minhashIncrementalSqlWith(standingFilter: String): String = {
    val sigCols = (0 until 64)
      .map(j => s"min(md5('$j:' || s)) AS h$j").mkString(", ")
    val bandCases = (0 until 16)
      .map(b => s"WHEN $b THEN h${b * 4} || ':' || h${b * 4 + 1} || ':' || h${b * 4 + 2} || ':' || h${b * 4 + 3}")
      .mkString(" ")
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS ts
                    FROM documents),
             cut AS (SELECT max(doc_id) * 8 // 10 AS c FROM documents),
             se AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS sh
                    FROM tk WHERE len(ts) >= 2),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM se),
             sig AS (SELECT doc_id, $sigCols FROM ex GROUP BY doc_id),
             bands AS (SELECT doc_id, band,
                              CASE band $bandCases END AS band_hash
                       FROM sig, (SELECT unnest(range(0, 16)) AS band)),
             cand AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS dup_of
                      FROM bands x JOIN bands y
                        ON x.band = y.band AND x.band_hash = y.band_hash, cut
                      WHERE x.doc_id > c AND y.doc_id <= c$standingFilter),
             v AS (SELECT cand.doc_id, dup_of,
                          cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
                          cast(len(a.sh) AS BIGINT) + cast(len(b.sh) AS BIGINT)
                            - cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
                   FROM cand JOIN se a ON dup_of = a.doc_id JOIN se b ON cand.doc_id = b.doc_id)
        SELECT doc_id, dup_of, inter, uni FROM v
        WHERE cast(inter AS DOUBLE) / uni >= 0.8"""
  }

  val minhashIncrementalSql: String = minhashIncrementalSqlWith("")

  /** [[minhashPortableSql]]'s band pipeline with first-writer-wins
    * bucket semantics — the batch form of
    * [[graft.streaming.DocStreams.streamDedupMinhash]]: a doc is kept
    * iff it is the minimum doc_id in EVERY band bucket it occupies
    * (docs too short to shingle have no buckets and are kept).
    */
  val streamDedupMinhashSql: String = {
    val sigCols = (0 until 64)
      .map(j => s"min(md5('$j:' || s)) AS h$j").mkString(", ")
    val bandCases = (0 until 16)
      .map(b => s"WHEN $b THEN h${b * 4} || ':' || h${b * 4 + 1} || ':' || h${b * 4 + 2} || ':' || h${b * 4 + 3}")
      .mkString(" ")
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS ts
                    FROM documents),
             se AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS sh
                    FROM tk WHERE len(ts) >= 2),
             ex AS (SELECT doc_id, unnest(sh) AS s FROM se),
             sig AS (SELECT doc_id, $sigCols FROM ex GROUP BY doc_id),
             bands AS (SELECT doc_id, band,
                              CASE band $bandCases END AS band_hash
                       FROM sig, (SELECT unnest(range(0, 16)) AS band)),
             mins AS (SELECT band, band_hash, min(doc_id) AS first_id
                      FROM bands GROUP BY band, band_hash),
             lost AS (SELECT DISTINCT b.doc_id
                      FROM bands b JOIN mins m
                        ON b.band = m.band AND b.band_hash = m.band_hash
                      WHERE b.doc_id != m.first_id)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM lost)"""
  }

  /** Full replay of [[graft.operators.TextOps.bpeEncode]]: `rounds`
    * greedy BPE merges learned over the weighted vocabulary (argmax
    * pair → fold-rewrite → recount), then the merge sequence applied to
    * every document token. The fold keeps its accumulator as a
    * space-joined symbol string (symbols are fragments of
    * whitespace-split tokens, so they never contain ' '), which is what
    * lets DuckDB's `list_reduce` — whose accumulator must be
    * element-typed — replay Spark's array-accumulator `aggregate`
    * exactly: `list_reduce` seeds with the first element and Spark's
    * first fold step just appends it, so the two traversals agree.
    */
  /** The N-round BPE training replay shared by `bpe_encode`,
    * `bpe_train`, and `bpe_vocab`: `wc` → `v0` (char-split vocab) →
    * per-round `p$k` (pair counts) / `m$k` (argmax merge, cnt kept
    * for the merge-table output) / `v$k` (left-to-right
    * non-overlapping rewrite).
    */
  private def bpeRoundCtes(rounds: Int): String = {
    // one merge round: pair counts over vN's symbols → argmax → rewrite
    def round(k: Int): String = {
      val prev = s"v${k - 1}"
      s"""p$k AS (SELECT ss[i] AS l, ss[i + 1] AS r, sum(wcnt) AS cnt
              FROM (SELECT ss, wcnt, unnest(range(1, len(ss))) AS i
                    FROM (SELECT string_split(s, ' ') AS ss, wcnt FROM $prev))
              GROUP BY 1, 2),
         m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         v$k AS (SELECT word,
                        list_reduce(string_split(s, ' '),
                          (acc, x) -> CASE WHEN string_split(acc, ' ')[-1] = m.l AND x = m.r
                                           THEN left(acc, len(acc) - len(m.l)) || m.l || m.r
                                           ELSE acc || ' ' || x END) AS s,
                        wcnt
                 FROM $prev, m$k m)"""
    }
    s"""wc AS (SELECT word, count(*) AS wcnt
                    FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS word
                          FROM documents)
                    GROUP BY word),
             v0 AS (SELECT word,
                           array_to_string(list_transform(range(1, len(word) + 1),
                             i -> substring(word, CAST(i AS INT), 1)), ' ') AS s,
                           wcnt
                    FROM wc),
             ${(1 to rounds).map(round).mkString(",\n")}"""
  }

  /** The unigram-LM tokenizer training replay (TextOps.unigramState):
    * wordcount → substring-occurrence table → seed vocab (all chars +
    * top-`vMulti` multi-char substrings) → `rounds` hard-EM rounds,
    * each one scores CTE (integer micro-nat log-probs), one candidate
    * collection per word, the Viterbi DP fold (best-path keys packing
    * score AND argmax start offset into one BIGINT — see the operator
    * scaladoc), the backtrace fold, and the usage recount. Every fold
    * is the exact integer construction the Spark side runs, so the
    * whole training loop replays hash-for-hash.
    */
  private def unigramCtes(vMulti: Int, maxPieceLen: Int, rounds: Int): String = {
    def round(k: Int): String =
      s"""us$k AS (SELECT piece, CAST(floor(ln(freq) * 1000000) AS BIGINT)
                     - (SELECT CAST(floor(ln(sum(freq)) * 1000000) AS BIGINT)
                        FROM uv$k) AS s
              FROM uv$k),
         uc$k AS (SELECT word, wcnt,
                         list(struct_pack(e := e, j := j, s := s) ORDER BY e, j) AS cs
                  FROM uocc JOIN us$k ON uocc.sub = us$k.piece
                  GROUP BY word, wcnt),
         ub$k AS (SELECT word, wcnt,
                    string_split(
                      list_reduce(
                        list_prepend([struct_pack(k := 16000000000 * 256, p := '')],
                          list_transform(range(1, len(word) + 1), i ->
                            [struct_pack(k := i, p := '')])),
                        (acc, x) -> list_append(acc,
                          list_max(list_transform(
                            list_filter(cs, c -> c.e = x[1].k
                              AND acc[c.j + 1].k IS NOT NULL),
                            c -> struct_pack(
                              k := (acc[c.j + 1].k // 256 + c.s) * 256 + c.j,
                              p := CASE WHEN acc[c.j + 1].p = '' THEN ''
                                        ELSE acc[c.j + 1].p || ' ' END
                                   || substr(word, CAST(c.j AS INT) + 1,
                                        CAST(x[1].k AS INT) - CAST(c.j AS INT)))))))
                      [CAST(len(word) AS INT) + 1].p, ' ') AS pieces
                  FROM uc$k),
         uv${k + 1} AS (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS freq
                  FROM (SELECT unnest(pieces) AS piece, wcnt FROM ub$k)
                  GROUP BY piece)"""
    s"""uwc AS (SELECT word, count(*) AS wcnt
                FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                                t -> t != '')) AS word
                      FROM documents)
                WHERE len(word) <= 255 GROUP BY word),
        uocc AS (SELECT word, wcnt, o.j AS j, o.e AS e, o.sub AS sub
                 FROM (SELECT word, wcnt,
                              unnest(flatten(list_transform(range(1, len(word) + 1), i ->
                                list_transform(range(1, least($maxPieceLen, len(word) - i + 1) + 1), l ->
                                  struct_pack(j := i - 1, e := i + l - 1,
                                    sub := substr(word, CAST(i AS INT), CAST(l AS INT))))))) AS o
                       FROM uwc)),
        usf AS (SELECT sub AS piece, CAST(sum(wcnt) AS BIGINT) AS freq
                FROM uocc GROUP BY sub),
        uv1 AS (SELECT piece, freq FROM usf WHERE len(piece) = 1
                UNION ALL
                SELECT piece, freq FROM (SELECT piece, freq FROM usf
                                         WHERE len(piece) >= 2
                                         ORDER BY freq DESC, piece ASC
                                         LIMIT $vMulti)),
        ${(1 to rounds).map(round).mkString(",\n")}"""
  }

  private def unigramTrainSql(vMulti: Int, maxPieceLen: Int, rounds: Int): String =
    s"""WITH ${unigramCtes(vMulti, maxPieceLen, rounds)}
        SELECT piece, freq,
               CAST(floor(ln(freq) * 1000000) AS BIGINT)
                 - (SELECT CAST(floor(ln(sum(freq)) * 1000000) AS BIGINT)
                    FROM uv${rounds + 1}) AS score_micro
        FROM uv${rounds + 1}"""

  /** The unigram encode CTE chain through its per-doc `uagg` — shared
    * by `unigram_encode` and the `tokenizer_compare` rollup. */
  private def unigramEncodeCtes(vMulti: Int, maxPieceLen: Int, rounds: Int): String =
    s"""${unigramCtes(vMulti, maxPieceLen, rounds)},
             uenc AS (SELECT word, array_to_string(pieces, ' ') AS enc,
                             CAST(len(pieces) AS BIGINT) AS np
                      FROM ub$rounds),
             utk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                                t -> t != '') AS ts
                     FROM documents),
             ue AS (SELECT doc_id, pos, ts[pos] AS t
                    FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos
                          FROM utk)),
             uagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                             CAST(sum(np) AS BIGINT) AS n_pieces,
                             array_to_string(list(enc ORDER BY pos), ' ') AS pieces
                      FROM ue JOIN uenc ON ue.t = uenc.word
                      GROUP BY doc_id)"""

  private def unigramEncodeSql(vMulti: Int, maxPieceLen: Int, rounds: Int): String =
    s"""WITH ${unigramEncodeCtes(vMulti, maxPieceLen, rounds)}
        SELECT d.doc_id,
               coalesce(n_tokens, 0) AS n_tokens,
               coalesce(n_pieces, 0) AS n_pieces,
               coalesce(pieces, '') AS pieces
        FROM documents d LEFT JOIN uagg USING (doc_id)"""

  /** `bpe_train`'s oracle: the N merge rows, each from its round's
    * argmax CTE. */
  private def bpeTrainSql(rounds: Int): String =
    s"""WITH ${bpeRoundCtes(rounds)}
        ${(1 to rounds).map(k =>
          s"SELECT CAST($k AS BIGINT) AS round, l, r, CAST(cnt AS BIGINT) AS cnt FROM m$k")
          .mkString("\n UNION ALL ")}"""

  /** `bpe_vocab`'s oracle: symbol inventory of the post-training
    * vocabulary with corpus frequencies. */
  private def bpeVocabSql(rounds: Int): String =
    s"""WITH ${bpeRoundCtes(rounds)}
        SELECT piece, CAST(sum(wcnt) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(s, ' ')) AS piece, wcnt FROM v$rounds)
        GROUP BY piece"""

  /** The BPE encode CTE chain through its per-doc `agg` — shared by
    * `bpe_encode` and the `tokenizer_compare` rollup. */
  private def bpeEncodeCtes(rounds: Int): String =
    s"""${bpeRoundCtes(rounds)},
             enc AS (SELECT word, s AS enc,
                            CAST(len(string_split(s, ' ')) AS BIGINT) AS np
                     FROM v$rounds),
             tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS ts
                    FROM documents),
             e AS (SELECT doc_id, pos, ts[pos] AS t
                   FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tk)),
             agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                            CAST(sum(np) AS BIGINT) AS n_pieces,
                            array_to_string(list(enc ORDER BY pos), ' ') AS pieces
                     FROM e JOIN enc ON e.t = enc.word
                     GROUP BY doc_id)"""

  private def bpeEncodeSql(rounds: Int): String = {
    s"""WITH ${bpeEncodeCtes(rounds)}
        SELECT d.doc_id,
               coalesce(n_tokens, 0) AS n_tokens,
               coalesce(n_pieces, 0) AS n_pieces,
               coalesce(pieces, '') AS pieces
        FROM documents d LEFT JOIN agg USING (doc_id)"""
  }

  // Shared by similarity_ann_ivf and similarity_ann_standing — the
  // standing variant changes WHERE the cell assignment lives (a
  // partitioned table on storage), not what is computed.
  val annIvfSql: String = annIvfSqlWith("")

  /** [[annIvfSql]] with an extra predicate on the CANDIDATE side of the
    * probe join — the delete lifecycle replays as "the same plan minus
    * the tombstoned rows" (same shape as minhashIncrementalSqlWith).
    * The codebook is the TRAINED two-round SPHERICAL Lloyd result
    * (`sphericalKmeansCtesDerived` — the cosine-assignment replay of
    * [[graft.operators.Similarity.sphericalCentroids]], at the
    * nlist the `nlparams` CTE derives from corpus cardinality):
    * integer centroid components, so the cosine similarities replay
    * bit-exactly like the old first-16 raw-vector stand-in did.
    */
  private def annIvfSqlWith(candidateFilter: String, trained: Boolean = true): String = {
    // trained: the two-round spherical codebook (c2l, integer
    // components). untrained control: the RAW first-nlist vectors as
    // centroids — ivfCodebookFirstN's replay (norms via the same
    // sequential 0.0-seeded fold as the Scala `map(x*x).sum`)
    val centroidCte =
      if (trained)
        """c AS (SELECT cell AS cid,
                        list_transform(c, x -> CAST(x AS DOUBLE)) AS cv,
                        sqrt(CAST(list_sum(list_transform(c, x -> x*x)) AS DOUBLE)) AS cnrm
                 FROM c2l)"""
      else
        """c AS (SELECT vec_id AS cid, v AS cv,
                        sqrt(list_reduce(list_prepend(0.0,
                          list_transform(v, x -> x*x)), (a,x) -> a + x)) AS cnrm
                 FROM e WHERE vec_id < (SELECT nl FROM nlparams))"""
    s"""WITH $sphericalKmeansCtesDerived,
              e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              $centroidCte,
              cs AS (SELECT e.vec_id, c.cid,
                            CASE WHEN c.cnrm = 0 THEN -1000000000.0
                                 ELSE list_reduce(list_prepend(0.0,
                                        list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])),
                                        (a,x) -> a + x) / (e.nrm * c.cnrm)
                            END AS sim
                     FROM e, c),
              assigned AS (SELECT vec_id, cell FROM (
                     SELECT vec_id, cid AS cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                     FROM cs) WHERE rn = 1),
              probes AS (SELECT qid, cell FROM (
                     SELECT vec_id AS qid, cid AS cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
                     FROM cs WHERE vec_id < 10) WHERE rn <= 4),
              scored AS (SELECT p.qid, a.vec_id,
                                list_reduce(list_prepend(0.0,
                                  list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i])),
                                  (acc,x) -> acc + x) / (q.nrm * t.nrm) AS sim
                         FROM probes p
                         JOIN assigned a ON p.cell = a.cell
                         JOIN e q ON q.vec_id = p.qid
                         JOIN e t ON t.vec_id = a.vec_id
                         WHERE a.vec_id != p.qid$candidateFilter)
         SELECT qid, vec_id AS neighbor_id, rnk FROM (
           SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk
           FROM scored) WHERE rnk <= 5"""
  }

  /** The untrained first-nlist control's replay (raw vectors as
    * centroids) — the clustered scoreboard's fifth variant. */
  private lazy val annIvfCtlSql: String = annIvfSqlWith("", trained = false)

  // Shared by dedup_containment (the pair relation) and
  // dedup_containment_remove (the corpus minus every contained doc).
  private val containmentCte: String =
    """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                   FROM documents),
            se AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 3),
                            i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS sh
                   FROM tk WHERE len(ts) >= 5),
            ex AS (SELECT doc_id, unnest(sh) AS s FROM se),
            n AS (SELECT doc_id, cast(len(sh) AS BIGINT) AS ns FROM se),
            i AS (SELECT a.doc_id AS container, b.doc_id AS contained,
                         cast(count(*) AS BIGINT) AS inter
                  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id != b.doc_id
                  GROUP BY 1, 2),
            pairs AS (SELECT container, contained, inter, nb.ns AS ns_contained
                      FROM i JOIN n na ON container = na.doc_id
                             JOIN n nb ON contained = nb.doc_id
                      WHERE (na.ns > nb.ns OR (na.ns = nb.ns AND container < contained))
                        AND inter * 10 >= nb.ns * 9)"""

  /** [[graft.operators.Curation.qualityClassifierTrained]]'s replay.
    * `lm(x)` is the house micro-nat log (floor(ln(int)·10⁶) — exact
    * BIGINT both engines agree on); the label CTE is gopher_rules'
    * keep arithmetic, the feature hash the portable md5-bucket idiom.
    */
  val qualityClassifierTrainedSql: String = {
    def lm(e: String): String =
      s"CAST(floor(ln(CAST(($e) AS DOUBLE)) * 1000000) AS BIGINT)"
    s"""WITH t AS (SELECT doc_id,
                          list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS ts
                   FROM documents),
            g AS (SELECT doc_id,
                         ((CAST(len(ts) AS BIGINT) >= 50 AND len(ts) <= 100000)
                          AND (3 * len(ts) <= coalesce(list_sum(list_transform(ts, x -> length(x))), 0)
                               AND coalesce(list_sum(list_transform(ts, x -> length(x))), 0) <= 10 * len(ts))
                          AND (5 * len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]'))) >= 4 * len(ts))
                          AND (len(list_intersect(list_distinct(ts),
                                ['the','be','to','of','and','that','have','with'])) >= 2)) AS lab
                  FROM t),
            f AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT % 1024 AS feat
                  FROM (SELECT doc_id, unnest(ts) AS tok FROM t)),
            fl AS (SELECT f.doc_id, feat, lab FROM f JOIN g USING (doc_id)),
            df AS (SELECT doc_id, feat, count(*) AS c_df FROM fl GROUP BY 1, 2),
            model AS (SELECT feat,
                             CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS c_keep,
                             CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS c_drop
                      FROM fl GROUP BY 1),
            tot AS (SELECT CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                           CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS n_drop,
                           CAST(count(DISTINCT feat) AS BIGINT) AS v
                    FROM fl),
            pri AS (SELECT CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT) AS d_keep,
                           CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END) AS BIGINT) AS d_drop
                    FROM g),
            ev AS (SELECT df.doc_id,
                          CAST(sum(c_df * (${lm("c_keep + 1")} - ${lm("n_keep + v")}
                                           - ${lm("c_drop + 1")} + ${lm("n_drop + v")}))
                            AS BIGINT) AS evidence
                   FROM df JOIN model USING (feat) CROSS JOIN tot
                   GROUP BY 1)
       SELECT g.doc_id,
              coalesce(evidence, 0) + ${lm("d_keep + 1")} - ${lm("d_drop + 1")} AS score,
              (coalesce(evidence, 0) + ${lm("d_keep + 1")} - ${lm("d_drop + 1")}) > 0 AS keep
       FROM g LEFT JOIN ev USING (doc_id) CROSS JOIN pri"""
  }

  lazy val taskAFilterProject: String =
    """SELECT c_name AS name, c_mktsegment AS mktsegment
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name = 'NATION_7'"""
  lazy val taskBCountsJoin: String =
    """SELECT c_custkey AS custkey, c_name AS name, cnt
         FROM (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id) e
         JOIN customer ON user_id = c_custkey"""
  lazy val taskBTop10: String =
    """SELECT c_custkey AS custkey, c_name AS name, cnt
         FROM (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id) e
         JOIN customer ON user_id = c_custkey
         ORDER BY cnt DESC, custkey ASC LIMIT 10"""
  lazy val taskCGroupCount: String =
    """SELECT n_name AS nation, count(*) AS cnt
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name"""
  lazy val taskDIndegreeLeftjoin: String =
    """SELECT c_custkey AS custkey, c_name AS name,
                coalesce(n_orders, 0) AS n_orders
         FROM customer LEFT JOIN
           (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o
           ON c_custkey = o_custkey"""
  lazy val taskECountDistinct: String =
    """SELECT c_custkey AS custkey, c_name AS name,
                coalesce(total, 0) AS total, coalesce(n_types, 0) AS n_types
         FROM customer LEFT JOIN
           (SELECT user_id, count(*) AS total,
                   count(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id) e
           ON c_custkey = user_id"""
  lazy val taskFAntiJoin: String =
    """SELECT DISTINCT suppkey, s_name AS name
         FROM (SELECT l_suppkey AS suppkey, l_partkey, max(l_quantity) AS mq
               FROM lineitem GROUP BY l_suppkey, l_partkey) p
         JOIN supplier ON suppkey = s_suppkey
         WHERE mq <= 25"""
  lazy val taskGInactive: String =
    """WITH last AS (SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id),
              ref AS (SELECT max(ts) AS ref_ts FROM events)
         SELECT c_custkey AS custkey, c_name AS name
         FROM customer LEFT JOIN last ON c_custkey = user_id CROSS JOIN ref
         WHERE last_ts IS NULL OR last_ts <= ref_ts - INTERVAL 14 DAY"""
  lazy val taskHAboveAvg: String =
    """WITH oc AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey),
              a AS (SELECT avg(n_orders) AS avg_orders FROM oc)
         SELECT c_custkey AS custkey, c_name AS name, n_orders
         FROM oc JOIN customer ON o_custkey = c_custkey CROSS JOIN a
         WHERE n_orders > avg_orders"""
  lazy val q1Agg: String =
    """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
                sum(l_quantity) AS sum_qty,
                cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""
  lazy val q5RegionalRevenue: String =
    """SELECT n_name AS nation,
                cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name"""
  lazy val partsNeverShipped: String =
    """SELECT p_brand AS brand, count(*) AS n_unsold,
                min(p_partkey) AS min_partkey
         FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
         GROUP BY p_brand"""
  lazy val nationBalanceFullOuter: String =
    """SELECT coalesce(c.nk, s.nk) AS nationkey,
                coalesce(n_customers, 0) AS n_customers,
                coalesce(n_suppliers, 0) AS n_suppliers
         FROM (SELECT c_nationkey AS nk, count(*) AS n_customers
               FROM customer GROUP BY c_nationkey) c
         FULL OUTER JOIN
              (SELECT s_nationkey AS nk, count(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey) s
           ON c.nk = s.nk"""
  lazy val nationsWithOrdersSemi: String =
    """SELECT cast(n_nationkey AS BIGINT) AS nationkey, n_name AS name
         FROM nation
         WHERE EXISTS (SELECT 1 FROM customer
                       WHERE c_nationkey = n_nationkey
                         AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))"""
  lazy val rollupPricing: String =
    """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
                sum(l_quantity) AS sum_qty, count(*) AS n_rows
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)"""
  lazy val wordcount: String =
    """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS word
               FROM documents)
         GROUP BY word"""
  lazy val dedupExact: String =
    """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY sha256(text)"""
  // Component label = min doc_id reachable over exact-dup star edges +
  // >=0.8-jaccard pairs, via a recursive reachability CTE.
  lazy val dedupComponents: String =
    s"""WITH RECURSIVE $componentCtes
         SELECT doc_id, min(label) AS comp, doc_id = min(label) AS keep
         FROM reach GROUP BY doc_id"""
  // DELETE lifecycle: touched-component reclustering must land on
  // EXACTLY the from-scratch clustering of the REDUCED corpus —
  // splits included (a takedown can disconnect a near-dup chain).
  lazy val dedupComponentsDelete: String =
    s"""WITH RECURSIVE ${componentCtesOver(
            "(SELECT * FROM documents WHERE doc_id % 10 != 7)")}
         SELECT doc_id, min(label) AS comp, doc_id = min(label) AS keep
         FROM reach GROUP BY doc_id"""
  // Soft-dedup weights over the same transitive clustering: each
  // cluster contributes one doc's worth of sampling mass, floored
  // integer micro-units.
  lazy val dedupSoftWeights: String =
    s"""WITH RECURSIVE $componentCtes,
              r AS (SELECT doc_id, min(label) AS comp FROM reach GROUP BY doc_id),
              cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
                     FROM r GROUP BY comp)
         SELECT doc_id, comp, cluster_size,
                CAST(1000000 AS BIGINT) // cluster_size AS weight_micro
         FROM r JOIN cs USING (comp)"""
  // components keep-flag × gopher gate, 4 exact cells + guarded OR
  lazy val dupQualityAssociation: String =
    s"""WITH RECURSIVE $componentCtes,
              dup AS (SELECT doc_id, NOT (doc_id = min(label)) AS is_dup
                      FROM reach GROUP BY doc_id),
              t AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS ts
                    FROM documents),
              g AS (SELECT doc_id,
                           (len(ts) >= 50 AND len(ts) <= 100000
                            AND 3 * len(ts) <= coalesce(list_sum(list_transform(ts, x -> length(x))), 0)
                            AND coalesce(list_sum(list_transform(ts, x -> length(x))), 0) <= 10 * len(ts)
                            AND 5 * len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]'))) >= 4 * len(ts)
                            AND len(list_intersect(list_distinct(ts),
                                  ['the','be','to','of','and','that','have','with'])) >= 2)
                             AS q_ok
                    FROM t),
              cells AS (
           SELECT CAST(sum(CASE WHEN is_dup AND q_ok THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN is_dup AND NOT q_ok THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN NOT is_dup AND q_ok THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN NOT is_dup AND NOT q_ok THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM dup JOIN g USING (doc_id))
         SELECT a AS dup_quality, b AS dup_junk, c AS uniq_quality,
                d AS uniq_junk,
                CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                     THEN CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                          / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END
                  AS odds_ratio
         FROM cells"""
  // Cross-source near-dup matrix over the verified portable-minhash
  // pair set, symmetric cells via least/greatest.
  lazy val dupMatrixBySource: String =
    s"""WITH $minhashCandCtes,
             v AS (SELECT doc_a, doc_b,
                          cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
                          cast(len(a.sh) AS BIGINT) + cast(len(b.sh) AS BIGINT)
                            - cast(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
                   FROM cand JOIN se a ON doc_a = a.doc_id JOIN se b ON doc_b = b.doc_id)
         SELECT least(da.source, db.source) AS source_a,
                greatest(da.source, db.source) AS source_b,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM v JOIN documents da ON v.doc_a = da.doc_id
                JOIN documents db ON v.doc_b = db.doc_id
         WHERE cast(inter AS DOUBLE) / uni >= 0.8
         GROUP BY least(da.source, db.source), greatest(da.source, db.source)"""
  // Standing-index novelty: batch (doc_id > 80% cut) scored against
  // the standing corpus's distinct gram-digest set only.
  lazy val ngramNoveltyIncremental: String =
    """WITH tk AS (SELECT doc_id,
                            list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              g AS (SELECT doc_id,
                           unnest(list_distinct(list_transform(range(1, len(ts) - 6),
                             i -> md5(array_to_string(ts[i:i+7], ' '))))) AS g
                    FROM tk WHERE len(ts) >= 8),
              cut AS (SELECT max(doc_id) * 8 // 10 AS c FROM documents),
              standing AS (SELECT DISTINCT gg.g AS g FROM g gg, cut WHERE gg.doc_id <= c),
              pd AS (SELECT b.doc_id,
                            CAST(count(*) AS BIGINT) AS n_grams,
                            CAST(sum(CASE WHEN s.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                     FROM (SELECT gg.doc_id, gg.g FROM g gg, cut WHERE gg.doc_id > c) b
                       LEFT JOIN standing s ON b.g = s.g
                     GROUP BY b.doc_id)
         SELECT d.doc_id,
                CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
                CAST(coalesce((n_novel * CAST(1000000 AS BIGINT)) // n_grams, 0) AS BIGINT) AS novelty_micro
         FROM documents d CROSS JOIN cut LEFT JOIN pd ON d.doc_id = pd.doc_id
         WHERE d.doc_id > cut.c"""
  // Cumulative keep-decision funnel: each CTE is the corresponding
  // single-operator oracle verbatim (lang_id, gopher_rules,
  // doc_repetition, quality_classifier, dedup_components), joined
  // id-to-id; sub-window repetition docs pass vacuously.
  lazy val curationFunnel: String =
    s"""WITH RECURSIVE $componentCtes,
              k AS (SELECT doc_id, doc_id = min(label) AS dedup_ok FROM reach GROUP BY doc_id),
              l AS (SELECT doc_id,
                           (CASE WHEN ratio >= 0.10 THEN 'en'
                                 WHEN ratio >= 0.03 THEN 'en_low'
                                 ELSE 'other' END) != 'other' AS lang_ok
                    FROM (SELECT doc_id,
                                 cast(len(list_filter(ts, x -> x IN ('the','a','of','and','to','is','in'))) AS DOUBLE) / len(ts) AS ratio
                          FROM tk)),
              m AS (SELECT doc_id,
                           CAST(len(ts) AS BIGINT) AS n_tokens,
                           CAST(coalesce(list_sum(list_transform(ts, x -> length(x))), 0)
                             AS BIGINT) AS sum_token_len,
                           CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]')))
                             AS BIGINT) AS n_alpha_words,
                           CAST(len(list_intersect(list_distinct(ts),
                             ['the','be','to','of','and','that','have','with'])) AS BIGINT)
                             AS n_stop_distinct
                    FROM tk),
              gk AS (SELECT doc_id,
                            ((n_tokens >= 50 AND n_tokens <= 100000)
                             AND (3 * n_tokens <= sum_token_len AND sum_token_len <= 10 * n_tokens)
                             AND (5 * n_alpha_words >= 4 * n_tokens)
                             AND (n_stop_distinct >= 2)) AS gopher_ok
                     FROM m),
              r AS (SELECT doc_id,
                           CAST(n_trigrams - n_distinct AS DOUBLE) / n_trigrams <= 0.20 AS rep_ok
                    FROM (SELECT doc_id,
                                 CAST(len(tg) AS BIGINT) AS n_trigrams,
                                 CAST(len(list_distinct(tg)) AS BIGINT) AS n_distinct
                          FROM (SELECT doc_id,
                                       list_transform(range(1, len(ts) - 1),
                                         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS tg
                                FROM tk WHERE len(ts) >= 3))),
              w AS (SELECT ${QualityWeights.W.mkString("[", ", ", "]")}::BIGINT[] AS a),
              q AS (SELECT doc_id,
                           (${QualityWeights.Bias} + coalesce(list_sum(list_transform(ts,
                              x -> a[('0x' || substr(md5(x), 1, 7))::BIGINT % 1024 + 1])), 0)) > 0
                             AS cls_ok
                    FROM tk, w),
              j AS (SELECT d.doc_id, lang_ok, gopher_ok,
                           coalesce(rep_ok, true) AS rep_ok, cls_ok, dedup_ok
                    FROM documents d
                      JOIN l USING (doc_id) JOIN gk USING (doc_id)
                      LEFT JOIN r USING (doc_id)
                      JOIN q USING (doc_id) JOIN k USING (doc_id))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lang,
                CAST(sum(CASE WHEN lang_ok AND gopher_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_gopher,
                CAST(sum(CASE WHEN lang_ok AND gopher_ok AND rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_repetition,
                CAST(sum(CASE WHEN lang_ok AND gopher_ok AND rep_ok AND cls_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_classifier,
                CAST(sum(CASE WHEN lang_ok AND gopher_ok AND rep_ok AND cls_ok AND dedup_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup
         FROM j"""
  // Token-weighted dedup ROI: same keep-policy, weighted by the unit
  // training compute is actually spent in. savings_ppm is an integer
  // cross-multiplication so no float division can drift.
  lazy val dedupTokenSavings: String =
    s"""WITH RECURSIVE $componentCtes,
              r AS (SELECT doc_id, doc_id = min(label) AS keep
                    FROM reach GROUP BY doc_id),
              st AS (SELECT doc_id, source,
                            cast(len(list_filter(string_split_regex(text, '\\s+'),
                              t -> t != '')) AS BIGINT) AS n_tokens
                     FROM documents)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS tok_total,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tok_kept,
                CAST(CASE WHEN sum(n_tokens) = 0 THEN 0
                     ELSE ((sum(n_tokens) - sum(CASE WHEN keep THEN n_tokens ELSE 0 END))
                           * 1000000) // sum(n_tokens) END AS BIGINT) AS savings_ppm
         FROM st JOIN r USING (doc_id)
         GROUP BY source"""
  // Per-source redundancy under the same transitive clustering.
  lazy val dupRateBySource: String =
    s"""WITH RECURSIVE $componentCtes,
              r AS (SELECT doc_id, doc_id = min(label) AS keep
                    FROM reach GROUP BY doc_id)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_docs
         FROM documents JOIN r USING (doc_id)
         GROUP BY source"""
  // The composed curation pipeline: component survivors ∩ quality gate
  // ⋈ split assignment ⋈ token counts.
  lazy val corpusCurate: String =
    s"""WITH RECURSIVE $componentCtes,
              comp AS (SELECT doc_id FROM (
                         SELECT doc_id, min(label) AS c FROM reach GROUP BY doc_id)
                       WHERE doc_id = c),
              q AS (SELECT doc_id FROM (
                      SELECT doc_id,
                             cast(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE)
                               / length(text) AS ar
                      FROM documents)
                    WHERE ar >= 0.82),
              sp AS (SELECT doc_id,
                            CASE WHEN b < 80 THEN 'train'
                                 WHEN b < 90 THEN 'valid'
                                 ELSE 'test' END AS split
                     FROM (SELECT doc_id,
                                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 100 AS b
                           FROM documents)),
              st AS (SELECT doc_id,
                            cast(len(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS BIGINT) AS n_tokens
                     FROM documents)
         SELECT doc_id, split, n_tokens
         FROM comp JOIN q USING (doc_id) JOIN sp USING (doc_id) JOIN st USING (doc_id)"""
  // Character-level ER twin of the token-set join below: the oracle
  // is the BRUTE-FORCE all-pairs relation (length band is implied by
  // dist<=2), proving the PassJoin segment blocking is lossless.
  // Windows of length <= 2 excluded on both engines (degenerate).
  lazy val dedupEditDistance: String =
    """WITH s AS (SELECT doc_id, substr(text, 101, 48) AS s
                    FROM documents WHERE len(substr(text, 101, 48)) > 2)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.s, b.s) <= 2"""
  // blocking-strategy scoreboard: candidate volume vs recall against
  // the brute-force lev<=2 truth, four strategies. The segment
  // strategy's candidate set is replayed substring-for-substring.
  lazy val erBlockingReport: String =
    """WITH s AS (SELECT doc_id, substr(text, 101, 48) AS s,
                           len(substr(text, 101, 48)) AS l
                    FROM documents WHERE len(substr(text, 101, 48)) > 2),
              truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                               levenshtein(a.s, b.s) AS dist
                        FROM s a JOIN s b ON a.doc_id < b.doc_id
                        WHERE levenshtein(a.s, b.s) <= 2),
              ta AS (SELECT CAST(count(*) AS BIGINT) AS t,
                            CAST(coalesce(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS t0
                     FROM truth),
              exact_c AS (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS cand
                          FROM (SELECT count(*) AS n FROM s GROUP BY s)),
              pfx_c AS (SELECT CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS cand
                        FROM (SELECT count(*) AS n FROM s GROUP BY substr(s, 1, 8))),
              pfx_f AS (SELECT CAST(coalesce(sum(CASE WHEN substr(a.s, 1, 8) = substr(b.s, 1, 8)
                                                 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f
                        FROM truth JOIN s a ON id_a = a.doc_id JOIN s b ON id_b = b.doc_id),
              hist AS (SELECT l, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY l),
              band_c AS (SELECT CAST(coalesce((SELECT sum(n * (n - 1) // 2) FROM hist), 0)
                                + coalesce((SELECT sum(x.n * y.n) FROM hist x JOIN hist y
                                            ON y.l > x.l AND y.l <= x.l + 2), 0) AS BIGINT) AS cand),
              seg AS (SELECT doc_id, l AS la, i,
                             substr(s, CAST(i * (l // 3) + least(i, l % 3) + 1 AS INT),
                                    CAST((l // 3) + (CASE WHEN i < l % 3 THEN 1 ELSE 0 END) AS INT)) AS seg
                      FROM s, range(0, 3) r(i)),
              pr AS (SELECT DISTINCT doc_id, la, i, substr(s, CAST(pos + 1 AS INT), CAST(seg_len AS INT)) AS seg
                     FROM (SELECT d.doc_id, d.s, d.l, d.l + dx.dx AS la, i.i AS i, sh.sh,
                                  i.i * ((d.l + dx.dx) // 3) + least(i.i, (d.l + dx.dx) % 3) + sh.sh AS pos,
                                  ((d.l + dx.dx) // 3)
                                    + (CASE WHEN i.i < (d.l + dx.dx) % 3 THEN 1 ELSE 0 END) AS seg_len
                           FROM s d, range(-2, 3) dx(dx), range(0, 3) i(i), range(-2, 3) sh(sh)
                           WHERE d.l + dx.dx > 2)
                     WHERE pos >= 0 AND pos + seg_len <= l),
              seg_c AS (SELECT CAST(count(*) AS BIGINT) AS cand FROM (
                          SELECT DISTINCT a.doc_id, b.doc_id
                          FROM seg a JOIN pr b
                            ON a.la = b.la AND a.i = b.i AND a.seg = b.seg
                               AND a.doc_id < b.doc_id))
         SELECT 'exact' AS strategy, cand AS n_candidates, t0 AS n_true_found, t AS n_true_total
         FROM exact_c, ta
         UNION ALL
         SELECT 'prefix8', cand, f, t FROM pfx_c, pfx_f, ta
         UNION ALL
         SELECT 'length_band', cand, t, t FROM band_c, ta
         UNION ALL
         SELECT 'segment', cand, t, t FROM seg_c, ta"""
  // delete-lifecycle twin: same probe minus tombstoned index rows
  // (soft-delete predicate ≡ post-compaction contents)
  lazy val dedupEditDistanceDelete: String =
    editDistanceIncrementalSqlWith(" AND a.doc_id % 10 != 5")
  // brute-force truth for the JaroWinklerThresholdRewrite path; the
  // kernel's float evaluation order is pinned bit-identical to
  // DuckDB's jaro_winkler_similarity, so the DOUBLE score column
  // hash-compares raw
  lazy val erJaroWinklerSql: String =
    """WITH s AS (SELECT doc_id, substr(text, 1, 64) AS s FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                jaro_winkler_similarity(a.s, b.s) AS jw
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE jaro_winkler_similarity(a.s, b.s) >= 0.94"""
  lazy val dedupNgramJaccard: String =
    """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              se AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS sh
                     FROM tk WHERE len(ts) >= 2),
              ex AS (SELECT doc_id, unnest(sh) AS s FROM se),
              n AS (SELECT doc_id, cast(len(sh) AS BIGINT) AS ns FROM se),
              i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY a.doc_id, b.doc_id)
         SELECT doc_a, doc_b, inter, na.ns + nb.ns - inter AS uni
         FROM i JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
         WHERE cast(inter AS DOUBLE) / (na.ns + nb.ns - inter) >= 0.8"""
  // Exact all-pairs containment: the Spark side's df-ascending prefix
  // filter is lossless, so the naive relation IS the contract.
  lazy val dedupContainment: String =
    s"""$containmentCte
         SELECT container, contained, inter, ns_contained FROM pairs"""
  lazy val dedupContainmentRemove: String =
    s"""$containmentCte
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT contained FROM pairs)"""
  // Cosine is spelled out as the exact sequential dot/norm recurrence
  // Spark computes (list_reduce is order-defined), not DuckDB's
  // list_cosine_similarity — its internal accumulation/normalization
  // could differ at the ulp level and flip a threshold or a rank for
  // near-ties at other scale factors.
  lazy val similarityTopk: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
              s AS (SELECT qid, vec_id,
                           list_reduce(list_prepend(0.0,
                             list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])),
                             (acc,x) -> acc + x) / (qnrm * nrm) AS sim
                    FROM e, q WHERE vec_id != qid),
              r AS (SELECT qid, vec_id AS neighbor_id,
                           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk
                    FROM s)
         SELECT qid, neighbor_id, rnk FROM r WHERE rnk <= 5"""
  lazy val dedupEmbeddingExactBaseline: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])),
                 (acc,x) -> acc + x) / (a.nrm * b.nrm) >= 0.35"""
  // Contrastive-triplet replay: the shared corpus-derived plane/band
  // CTEs with DIRECTED candidates (every vector an anchor, the
  // anchor side probe-fanned), exact cosine once, then both role
  // windows — positive = rank 1 at sim >= 0.35, hard negatives =
  // top 3 in [0.05, 0.35) — and the negatives semi-joined on anchors
  // that have a positive. Ties by pair_id; ids/ranks only in the
  // output.
  lazy val contrastivePairs: String =
    s"""WITH $lshBandCtes,
              cand AS (SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS pair_id
                       FROM probed a JOIN bands b
                         ON a.band = b.band AND a.band_val = b.band_val
                       WHERE a.vec_id != b.vec_id),
              scored AS (SELECT cand.anchor_id, cand.pair_id,
                                list_reduce(list_prepend(0.0,
                                  list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])),
                                  (acc,x) -> acc + x) / (ea.nrm * eb.nrm) AS sim
                         FROM cand
                         JOIN e ea ON ea.vec_id = cand.anchor_id
                         JOIN e eb ON eb.vec_id = cand.pair_id),
              pos AS (SELECT anchor_id, pair_id, 'pos' AS role, rnk FROM (
                        SELECT anchor_id, pair_id,
                               row_number() OVER (PARTITION BY anchor_id
                                                  ORDER BY sim DESC, pair_id ASC) AS rnk
                        FROM scored WHERE sim >= 0.35) WHERE rnk = 1),
              neg AS (SELECT n.anchor_id, n.pair_id, 'neg' AS role, n.rnk FROM (
                        SELECT anchor_id, pair_id,
                               row_number() OVER (PARTITION BY anchor_id
                                                  ORDER BY sim DESC, pair_id ASC) AS rnk
                        FROM scored WHERE sim >= 0.05 AND sim < 0.35) n
                      WHERE n.rnk <= 3
                        AND n.anchor_id IN (SELECT anchor_id FROM pos))
         SELECT anchor_id, pair_id, role, rnk FROM pos
         UNION ALL
         SELECT anchor_id, pair_id, role, rnk FROM neg"""
  // Margin-based mining replay: same pinned left-to-right IEEE dot
  // as the other embedding oracles; top-k neighborhood means fold
  // the sims in DESCENDING sorted order (list_sort 'DESC' +
  // list_reduce ≡ Spark's sort_array(desc) + aggregate), margin op
  // order pinned to sim / ((mx + my) * 0.5).
  lazy val bitextMineExactBaseline: String =
    """WITH d AS (SELECT doc_id, lang FROM documents),
              e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              ed AS (SELECT vec_id, lang, v, nrm
                     FROM e JOIN d ON d.doc_id = e.vec_id),
              s AS (SELECT vec_id AS src_id, v AS sv, nrm AS snrm
                    FROM ed WHERE lang = 'en'),
              t AS (SELECT lang, vec_id AS tgt_id, v AS tv, nrm AS tnrm
                    FROM ed WHERE lang != 'en'),
              x AS (SELECT lang, src_id, tgt_id,
                           list_reduce(list_prepend(0.0,
                             list_transform(range(1, len(sv)+1), i -> sv[i]*tv[i])),
                             (acc,y) -> acc + y) / (snrm * tnrm) AS sim
                    FROM s, t),
              r AS (SELECT *,
                           row_number() OVER (PARTITION BY lang, src_id
                                              ORDER BY sim DESC, tgt_id ASC) AS rnx,
                           row_number() OVER (PARTITION BY lang, tgt_id
                                              ORDER BY sim DESC, src_id ASC) AS rny
                    FROM x),
              mxs AS (SELECT lang, src_id,
                             list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                               (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS mx
                      FROM r WHERE rnx <= 4 GROUP BY lang, src_id),
              mys AS (SELECT lang, tgt_id,
                             list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                               (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS my
                      FROM r WHERE rny <= 4 GROUP BY lang, tgt_id),
              mg AS (SELECT x.lang, x.src_id, x.tgt_id,
                            sim / ((mx + my) * 0.5) AS margin
                     FROM x
                     JOIN mxs ON x.lang = mxs.lang AND x.src_id = mxs.src_id
                     JOIN mys ON x.lang = mys.lang AND x.tgt_id = mys.tgt_id),
              b AS (SELECT *, row_number() OVER (PARTITION BY lang, src_id
                                                 ORDER BY margin DESC, tgt_id ASC) AS rk
                    FROM mg)
         SELECT lang, src_id, tgt_id FROM b WHERE rk = 1 AND margin >= 1.05"""
  // the LSH-candidate twin: identical margin tail, scored set
  // restricted to band-bucket collisions (the shared corpus-derived
  // sig/band CTEs + a lang split, en side probe-fanned)
  lazy val bitextMineAnn: String =
    s"""WITH d AS (SELECT doc_id, lang FROM documents),
              $lshBandCtes,
              sb AS (SELECT pb.vec_id AS src_id, band, band_val
                     FROM probed pb JOIN d ON d.doc_id = pb.vec_id
                     WHERE d.lang = 'en'),
              tb AS (SELECT d.lang, bb.vec_id AS tgt_id, band, band_val
                     FROM bands bb JOIN d ON d.doc_id = bb.vec_id
                     WHERE d.lang != 'en'),
              cand AS (SELECT DISTINCT lang, src_id, tgt_id
                       FROM sb JOIN tb USING (band, band_val)),
              x AS (SELECT lang, src_id, tgt_id,
                           list_reduce(list_prepend(0.0,
                             list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])),
                             (acc,y) -> acc + y) / (ea.nrm * eb.nrm) AS sim
                    FROM cand JOIN e ea ON ea.vec_id = cand.src_id
                              JOIN e eb ON eb.vec_id = cand.tgt_id),
              r AS (SELECT *,
                           row_number() OVER (PARTITION BY lang, src_id
                                              ORDER BY sim DESC, tgt_id ASC) AS rnx,
                           row_number() OVER (PARTITION BY lang, tgt_id
                                              ORDER BY sim DESC, src_id ASC) AS rny
                    FROM x),
              mxs AS (SELECT lang, src_id,
                             list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                               (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS mx
                      FROM r WHERE rnx <= 4 GROUP BY lang, src_id),
              mys AS (SELECT lang, tgt_id,
                             list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                               (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS my
                      FROM r WHERE rny <= 4 GROUP BY lang, tgt_id),
              mg AS (SELECT x.lang, x.src_id, x.tgt_id,
                            sim / ((mx + my) * 0.5) AS margin
                     FROM x
                     JOIN mxs ON x.lang = mxs.lang AND x.src_id = mxs.src_id
                     JOIN mys ON x.lang = mys.lang AND x.tgt_id = mys.tgt_id),
              b AS (SELECT *, row_number() OVER (PARTITION BY lang, src_id
                                                 ORDER BY margin DESC, tgt_id ASC) AS rk
                    FROM mg)
         SELECT lang, src_id, tgt_id FROM b WHERE rk = 1 AND margin >= 1.05"""
  // Multi-probe sweep replay: the SAME sig/band CTEs, the en side
  // fanned per probe LEVEL (every mask with popcount ≤ level — the
  // probeMasks enumeration as a masks×levels join), the full margin
  // tail threaded by `probes`, and the exact all-pairs miner run
  // once as the recall denominator. Zero-match levels survive via
  // the lv LEFT JOINs (Spark's 1-row count aggregates always emit).
  lazy val bitextRecallSweep: String =
    s"""WITH d AS (SELECT doc_id, lang FROM documents),
              $lshBandCtes,
              lv AS (SELECT unnest([0, 1, 2]) AS probes),
              masks AS (SELECT CAST(0 AS BIGINT) AS pm
                        UNION ALL
                        SELECT CAST(1 AS BIGINT) << i
                        FROM params, (SELECT unnest(range(0, 45)) AS i)
                        WHERE i < bb
                        UNION ALL
                        SELECT (CAST(1 AS BIGINT) << i) + (CAST(1 AS BIGINT) << j)
                        FROM params, (SELECT unnest(range(0, 45)) AS i),
                                     (SELECT unnest(range(0, 45)) AS j)
                        WHERE i < j AND j < bb),
              sbL AS (SELECT lv.probes, bd.vec_id AS src_id, band,
                             xor(band_val, pm) AS band_val
                      FROM bands bd JOIN d ON d.doc_id = bd.vec_id, lv, masks
                      WHERE d.lang = 'en' AND bit_count(pm) <= lv.probes),
              tb AS (SELECT d.lang, bd.vec_id AS tgt_id, band, band_val
                     FROM bands bd JOIN d ON d.doc_id = bd.vec_id
                     WHERE d.lang != 'en'),
              cand AS (SELECT DISTINCT probes, lang, src_id, tgt_id
                       FROM sbL JOIN tb USING (band, band_val)),
              x AS (SELECT probes, lang, src_id, tgt_id,
                           list_reduce(list_prepend(0.0,
                             list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])),
                             (acc,y) -> acc + y) / (ea.nrm * eb.nrm) AS sim
                    FROM cand JOIN e ea ON ea.vec_id = cand.src_id
                              JOIN e eb ON eb.vec_id = cand.tgt_id),
              r AS (SELECT *,
                           row_number() OVER (PARTITION BY probes, lang, src_id
                                              ORDER BY sim DESC, tgt_id ASC) AS rnx,
                           row_number() OVER (PARTITION BY probes, lang, tgt_id
                                              ORDER BY sim DESC, src_id ASC) AS rny
                    FROM x),
              mxs AS (SELECT probes, lang, src_id,
                             list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                               (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS mx
                      FROM r WHERE rnx <= 4 GROUP BY probes, lang, src_id),
              mys AS (SELECT probes, lang, tgt_id,
                             list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                               (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS my
                      FROM r WHERE rny <= 4 GROUP BY probes, lang, tgt_id),
              mg AS (SELECT x.probes, x.lang, x.src_id, x.tgt_id,
                            sim / ((mx + my) * 0.5) AS margin
                     FROM x
                     JOIN mxs ON x.probes = mxs.probes AND x.lang = mxs.lang
                             AND x.src_id = mxs.src_id
                     JOIN mys ON x.probes = mys.probes AND x.lang = mys.lang
                             AND x.tgt_id = mys.tgt_id),
              bw AS (SELECT *, row_number() OVER (PARTITION BY probes, lang, src_id
                                                  ORDER BY margin DESC, tgt_id ASC) AS rk
                     FROM mg),
              annw AS (SELECT probes, lang, src_id, tgt_id
                       FROM bw WHERE rk = 1 AND margin >= 1.05),
              ex_ed AS (SELECT vec_id, lang, v, nrm
                        FROM e JOIN d ON d.doc_id = e.vec_id),
              ex_x AS (SELECT t.lang, s.vec_id AS src_id, t.vec_id AS tgt_id,
                              list_reduce(list_prepend(0.0,
                                list_transform(range(1, len(s.v)+1), i -> s.v[i]*t.v[i])),
                                (acc,y) -> acc + y) / (s.nrm * t.nrm) AS sim
                       FROM ex_ed s, ex_ed t
                       WHERE s.lang = 'en' AND t.lang != 'en'),
              ex_r AS (SELECT *,
                              row_number() OVER (PARTITION BY lang, src_id
                                                 ORDER BY sim DESC, tgt_id ASC) AS rnx,
                              row_number() OVER (PARTITION BY lang, tgt_id
                                                 ORDER BY sim DESC, src_id ASC) AS rny
                       FROM ex_x),
              ex_mxs AS (SELECT lang, src_id,
                                list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                                  (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS mx
                         FROM ex_r WHERE rnx <= 4 GROUP BY lang, src_id),
              ex_mys AS (SELECT lang, tgt_id,
                                list_reduce(list_prepend(0.0, list_sort(list(sim), 'DESC')),
                                  (a,y) -> a + y) / CAST(count(*) AS DOUBLE) AS my
                         FROM ex_r WHERE rny <= 4 GROUP BY lang, tgt_id),
              ex_mg AS (SELECT ex_x.lang, ex_x.src_id, ex_x.tgt_id,
                               sim / ((mx + my) * 0.5) AS margin
                        FROM ex_x
                        JOIN ex_mxs ON ex_x.lang = ex_mxs.lang
                                   AND ex_x.src_id = ex_mxs.src_id
                        JOIN ex_mys ON ex_x.lang = ex_mys.lang
                                   AND ex_x.tgt_id = ex_mys.tgt_id),
              ex_b AS (SELECT *, row_number() OVER (PARTITION BY lang, src_id
                                                    ORDER BY margin DESC, tgt_id ASC) AS rk
                       FROM ex_mg),
              ex AS (SELECT lang, src_id, tgt_id
                     FROM ex_b WHERE rk = 1 AND margin >= 1.05),
              candn AS (SELECT probes, count(*) AS candidates
                        FROM cand GROUP BY probes),
              matchn AS (SELECT probes, count(*) AS matched
                         FROM annw GROUP BY probes),
              hitn AS (SELECT probes, count(*) AS hits
                       FROM annw JOIN ex USING (lang, src_id, tgt_id)
                       GROUP BY probes)
         SELECT lv.probes,
                coalesce(candidates, 0) AS candidates,
                coalesce(matched, 0) AS matched,
                coalesce(hits, 0) AS hits,
                CASE WHEN (SELECT count(*) FROM ex) > 0
                     THEN CAST(coalesce(hits, 0) AS DOUBLE)
                            / CAST((SELECT count(*) FROM ex) AS DOUBLE)
                END AS recall
         FROM lv
         LEFT JOIN candn ON candn.probes = lv.probes
         LEFT JOIN matchn ON matchn.probes = lv.probes
         LEFT JOIN hitn ON hitn.probes = lv.probes"""
  lazy val dedupModalityAgreement: String =
    s"""WITH lex AS ($minhashPortableSql),
              sem AS ($dedupEmbeddingAnnSql),
              j AS (SELECT CASE WHEN lex.doc_a IS NOT NULL AND sem.id_a IS NOT NULL
                                  THEN 'both'
                                WHEN lex.doc_a IS NOT NULL THEN 'lexical_only'
                                ELSE 'semantic_only' END AS category
                    FROM lex FULL OUTER JOIN sem
                      ON lex.doc_a = sem.id_a AND lex.doc_b = sem.id_b)
         SELECT category, count(*) AS n_pairs FROM j GROUP BY category"""
  lazy val embeddingQuantize: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
              m AS (SELECT vec_id, v,
                           list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
              x AS (SELECT vec_id, v, ma,
                           unnest(range(1, len(v) + 1)) AS i FROM m)
         SELECT vec_id, cast(i - 1 AS BIGINT) AS dim_idx,
                CASE WHEN ma = 0.0 THEN 0
                     ELSE greatest(-127, least(127,
                            cast(floor(v[i] * 127.0 / ma) AS BIGINT)))
                END AS q
         FROM x"""
  lazy val textStats: String =
    """SELECT doc_id,
                cast(length(text) AS BIGINT) AS n_chars,
                cast(len(toks) AS BIGINT) AS n_tokens,
                cast(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                cast(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len
         FROM (SELECT doc_id, text,
                      list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
               FROM documents)"""
  lazy val textQuality: String =
    """SELECT doc_id,
                cast(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE) / length(text) AS alpha_ratio,
                cast(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) AS digit_ratio,
                cast(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE) / len(toks) AS stopword_ratio
         FROM (SELECT doc_id, text,
                      list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
               FROM documents)"""
  lazy val tokenCount: String =
    """SELECT doc_id,
                cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpeish,
                cast(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numeric
         FROM documents"""
  lazy val langId: String =
    """SELECT doc_id,
                CASE WHEN ratio >= 0.10 THEN 'en'
                     WHEN ratio >= 0.03 THEN 'en_low'
                     ELSE 'other' END AS pred_lang
         FROM (SELECT doc_id,
                      cast(len(list_filter(toks, t -> t IN ('the','a','of','and','to','is','in'))) AS DOUBLE) / len(toks) AS ratio
               FROM (SELECT doc_id,
                            list_filter(string_split_regex(text, '\s+'), t -> t != '') AS toks
                     FROM documents))"""
  lazy val docFingerprint: String =
    """SELECT doc_id,
                list_reduce(
                  list_prepend(cast(1 AS BIGINT),
                    list_transform(range(1, length(text) + 1), i -> cast(ascii(text[i]) AS BIGINT))),
                  (a, c) -> (a * 31 + c) % 999999999999989) AS fingerprint
         FROM documents"""
  lazy val streamDedupEvents: String =
    "SELECT DISTINCT event_id FROM events"
  // Seeded Monte Carlo is fully deterministic (seed ⊕ partitionId,
  // pinned partition count), so its output is this CONSTANT — the
  // oracle pins that the distributed computation reproduces it
  // exactly on every run and cluster layout. The estimate is the
  // same IEEE division in both engines.
  lazy val piMontecarlo: String =
    """SELECT cast(4000000 AS BIGINT) AS n_samples,
                cast(3142467 AS BIGINT) AS n_inside,
                4.0 * 3142467 / 4000000 AS pi_estimate"""
  lazy val bigramCounts: String =
    """SELECT bg AS bigram, count(*) AS cnt
         FROM (SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
               FROM (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents)
               WHERE len(ts) >= 2)
         GROUP BY bg"""
  // CAST(... AS BIGINT) on the running sum: DuckDB window sum(BIGINT)
  // yields HUGEINT → float at hash time; pin to BIGINT for Spark parity.
  lazy val packBatches: String =
    """SELECT doc_id, n_tokens, shard,
                shard * 1000000 + (cum_end - n_tokens) // 8192 AS batch_id
         FROM (SELECT doc_id, n_tokens, shard,
                      CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
               FROM (SELECT doc_id,
                            cast(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT) AS n_tokens,
                            doc_id % 32 AS shard
                     FROM documents))"""
  // Window 64 / overlap 16 → stride 48; last chunk = first window to
  // reach end-of-doc. DuckDB list slice ts[a:b] is 1-based inclusive,
  // matching Spark's 1-based slice(ts, start, len).
  lazy val docChunks: String =
    """SELECT doc_id, chunk_idx,
                doc_id * 1000000 + chunk_idx AS chunk_id,
                chunk_idx * 48 AS start_tok,
                CAST(least(n - chunk_idx * 48, 64) AS BIGINT) AS n_chunk_tokens,
                array_to_string(ts[chunk_idx * 48 + 1 : chunk_idx * 48 + least(n - chunk_idx * 48, 64)], ' ') AS chunk_text
         FROM (SELECT doc_id, ts, n, unnest(range(0, k + 1)) AS chunk_idx
               FROM (SELECT doc_id, ts, n,
                            CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END AS k
                     FROM (SELECT doc_id,
                                  list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts,
                                  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT) AS n
                           FROM documents)
                     WHERE n > 0))"""
  lazy val trainTestSplit: String =
    """SELECT doc_id,
                CASE WHEN b < 80 THEN 'train'
                     WHEN b < 90 THEN 'valid'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                      ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 100 AS b
               FROM documents)"""
  lazy val textNormalize: String =
    """SELECT doc_id, norm_text,
                CASE WHEN norm_text = '' THEN 0
                     ELSE len(string_split(norm_text, ' ')) END AS n_norm_tokens
         FROM (SELECT doc_id,
                      trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                          ' +', ' ', 'g')) AS norm_text
               FROM documents)"""
  // k=3, w=4; enc = 44-bit md5-prefix hash * 2^16 + (2^16-1-pos) so
  // the window min picks the min hash with rightmost-tie position.
  lazy val textWinnow: String =
    """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              d AS (SELECT doc_id, ts, len(ts) AS n FROM tk WHERE len(ts) >= 3 + 4 - 1),
              kg AS (SELECT doc_id, n, i - 1 AS pos,
                            ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS kg
                     FROM (SELECT doc_id, ts, n, unnest(range(1, n - 3 + 2)) AS i FROM d)),
              enc AS (SELECT doc_id, n, pos,
                             ('0x' || substr(md5(kg), 1, 11))::BIGINT * 65536
                               + (65535 - pos) AS enc
                      FROM kg),
              sel AS (SELECT doc_id, n, pos,
                             min(enc) OVER (PARTITION BY doc_id ORDER BY pos
                                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
                      FROM enc)
         SELECT DISTINCT doc_id, wmin // 65536 AS fp,
                65535 - (wmin % 65536) AS fp_pos
         FROM sel WHERE pos <= n - 3 + 1 - 4"""
  // delete-lifecycle twin: same replay minus the tombstoned
  // candidates (soft-delete predicate ≡ post-compaction contents)
  lazy val similarityAnnDelete: String =
    annIvfSqlWith(
        " AND NOT (a.vec_id % 10 = 3 AND a.vec_id >= (SELECT nl FROM nlparams))")
  // Full LSH replay: md5-derived integer plane weights (exact as
  // doubles), sequential-dot sign bits, corpus-derived banding,
  // hamming-<=1 query-side probe fan-out, candidate dedupe,
  // exact-cosine re-rank — same tie rules as the Spark side.
  lazy val similarityAnnLsh: String =
    s"""WITH $lshBandCtes,
              cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vec_id
                       FROM probed q JOIN bands c
                         ON q.band = c.band AND q.band_val = c.band_val
                       WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
              scored AS (SELECT cand.qid, cand.vec_id,
                                list_reduce(list_prepend(0.0,
                                  list_transform(range(1, len(eq.v)+1), i -> eq.v[i]*ec.v[i])),
                                  (acc,x) -> acc + x) / (eq.nrm * ec.nrm) AS sim
                         FROM cand
                         JOIN e eq ON eq.vec_id = cand.qid
                         JOIN e ec ON ec.vec_id = cand.vec_id)
         SELECT qid, vec_id AS neighbor_id, rnk FROM (
           SELECT qid, vec_id,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk
           FROM scored) WHERE rnk <= 5"""
  // Full PQ-ADC replay: int8 quantize (the kmeans_train formula),
  // md5-sampled 256-entry codebook (the annIvfPq r20 draw — the
  // contiguous first-16 window collapsed on shard-grouped clustered
  // corpora), per-subspace nearest-centroid encode (8 subspaces × 8
  // dims, ties to the lowest pcid), asymmetric distance = Σ over
  // subspaces of exact query-subvector→assigned-centroid squared L2
  // (every distance an exact integer), ADC top-100 per query, exact
  // cosine refine to 5 — rank and ties replay bit-for-bit.
  lazy val similarityAnnPq: String =
    """WITH m AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           list_max(list_transform(cast(embedding AS DOUBLE[]),
                                                   x -> abs(x))) AS ma
                    FROM embeddings),
              q AS (SELECT vec_id,
                           list_transform(v, x -> CASE WHEN ma = 0.0 THEN 0
                                ELSE greatest(-127, least(127,
                                       cast(floor(x * 127.0 / ma) AS BIGINT))) END) AS q
                    FROM m),
              pts AS (SELECT vec_id FROM q
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
              cb AS (SELECT vec_id AS pcid, q AS c FROM q
                     WHERE vec_id IN (SELECT vec_id FROM pts)),
              subs AS (SELECT unnest(range(0, 8)) AS sub),
              enc AS (SELECT vec_id, sub, pcid AS code FROM (
                        SELECT v.vec_id, s.sub, cb.pcid,
                               row_number() OVER (PARTITION BY v.vec_id, s.sub ORDER BY
                                 list_sum(list_transform(range(1, 9), j ->
                                   (v.q[s.sub*8+j] - cb.c[s.sub*8+j])
                                     * (v.q[s.sub*8+j] - cb.c[s.sub*8+j]))), cb.pcid) AS rn
                        FROM q v, subs s, cb) WHERE rn = 1),
              qs AS (SELECT vec_id AS qid, q AS qv FROM q WHERE vec_id < 10),
              adc AS (SELECT qs.qid, e.vec_id,
                             CAST(sum(list_sum(list_transform(range(1, 9), j ->
                               (qs.qv[e.sub*8+j] - cb.c[e.sub*8+j])
                                 * (qs.qv[e.sub*8+j] - cb.c[e.sub*8+j])))) AS BIGINT) AS dist
                      FROM qs, enc e JOIN cb ON cb.pcid = e.code
                      WHERE e.vec_id != qs.qid
                      GROUP BY qs.qid, e.vec_id),
              topr AS (SELECT qid, vec_id FROM (
                         SELECT qid, vec_id,
                                row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rr
                         FROM adc) WHERE rr <= 100),
              nrm2 AS (SELECT vec_id,
                              CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE) AS qq
                       FROM q),
              rerank AS (SELECT t.qid, t.vec_id,
                                CASE WHEN cn.qq = 0 OR qn.qq = 0 THEN -1000000000.0
                                     ELSE CAST(list_sum(list_transform(range(1, len(qv.q) + 1),
                                            i -> qv.q[i] * cv.q[i])) AS DOUBLE)
                                          / (sqrt(qn.qq) * sqrt(cn.qq))
                                END AS sim
                         FROM topr t
                         JOIN q qv ON qv.vec_id = t.qid
                         JOIN q cv ON cv.vec_id = t.vec_id
                         JOIN nrm2 qn ON qn.vec_id = t.qid
                         JOIN nrm2 cn ON cn.vec_id = t.vec_id)
         SELECT qid, vec_id AS neighbor_id, rnk FROM (
           SELECT qid, vec_id,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk
           FROM rerank) WHERE rnk <= 5"""
  // Full IVF-PQ replay: int8 quantize, TRAINED two-round SPHERICAL
  // Lloyd coarse codebook (sphericalKmeansCtesDerived — the
  // cosine-assignment replay of Similarity.sphericalCentroids at
  // the nlparams-derived nlist), residual vs assigned cell, PQ
  // codebook = residuals of the ksub=256 lowest-by-md5(vec_id)
  // vectors (the r20 layout-blind draw), per-subspace encode (ties
  // to the lowest codebook id), nprobe=4 cell probe (ties to the
  // lowest cid), full-residual ADC, top-100 exact-cosine refine —
  // integer distances throughout (trunc'd Lloyd centroids stay
  // integer), every tie replayed.
  lazy val similarityAnnIvfpq: String =
    s"""WITH $sphericalKmeansCtesDerived,
              cb AS (SELECT cell AS cid, c,
                            sqrt(CAST(list_sum(list_transform(c, x -> x*x)) AS DOUBLE)) AS cn
                     FROM c2l),
              a0 AS (SELECT vec_id, cell FROM (
                       SELECT v.vec_id, cb.cid AS cell,
                              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                                CASE WHEN cb.cn = 0 THEN -1000000000.0
                                     ELSE CAST(list_sum(list_transform(range(1, len(v.q) + 1),
                                            i -> v.q[i] * cb.c[i])) AS DOUBLE) / cb.cn
                                END DESC, cb.cid) AS rn
                       FROM q v, cb) WHERE rn = 1),
              res AS (SELECT v.vec_id, a0.cell,
                             list_transform(range(1, len(v.q) + 1),
                               i -> v.q[i] - cb.c[i]) AS r
                      FROM q v JOIN a0 USING (vec_id) JOIN cb ON cb.cid = a0.cell),
              pts AS (SELECT vec_id FROM q
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
              pt AS (SELECT vec_id AS pcid, r AS pr FROM res
                     WHERE vec_id IN (SELECT vec_id FROM pts)),
              enc AS (SELECT vec_id, cell, sub, pcid AS code FROM (
                        SELECT res.vec_id, res.cell, s.sub, pt.pcid,
                               row_number() OVER (PARTITION BY res.vec_id, s.sub ORDER BY
                                 list_sum(list_transform(range(1, 9), j ->
                                   (res.r[s.sub*8+j] - pt.pr[s.sub*8+j])
                                     * (res.r[s.sub*8+j] - pt.pr[s.sub*8+j]))), pt.pcid) AS rn
                        FROM res, (SELECT unnest(range(0, 8)) AS sub) s, pt) WHERE rn = 1),
              probes AS (SELECT qid, cell FROM (
                           SELECT v.vec_id AS qid, cb.cid AS cell,
                                  row_number() OVER (PARTITION BY v.vec_id ORDER BY
                                    CASE WHEN cb.cn = 0 THEN -1000000000.0
                                         ELSE CAST(list_sum(list_transform(range(1, len(v.q) + 1),
                                                i -> v.q[i] * cb.c[i])) AS DOUBLE) / cb.cn
                                    END DESC, cb.cid) AS rn
                           FROM q v, cb WHERE v.vec_id < 10) WHERE rn <= 4),
              qres AS (SELECT p.qid, p.cell,
                              list_transform(range(1, len(v.q) + 1),
                                i -> v.q[i] - cb.c[i]) AS qr
                       FROM probes p JOIN q v ON v.vec_id = p.qid
                       JOIN cb ON cb.cid = p.cell),
              adc AS (SELECT qres.qid, e.vec_id,
                             CAST(sum(list_sum(list_transform(range(1, 9), j ->
                               (qres.qr[e.sub*8+j] - pt.pr[e.sub*8+j])
                                 * (qres.qr[e.sub*8+j] - pt.pr[e.sub*8+j])))) AS BIGINT) AS dist
                      FROM qres
                      JOIN enc e ON e.cell = qres.cell
                      JOIN pt ON pt.pcid = e.code
                      WHERE e.vec_id != qres.qid
                      GROUP BY qres.qid, e.vec_id),
              topr AS (SELECT qid, vec_id FROM (
                         SELECT qid, vec_id,
                                row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rr
                         FROM adc) WHERE rr <= 100),
              nrm2 AS (SELECT vec_id,
                              CAST(list_sum(list_transform(q, x -> x*x)) AS DOUBLE) AS qq
                       FROM q),
              rerank AS (SELECT t.qid, t.vec_id,
                                CASE WHEN cn.qq = 0 OR qn.qq = 0 THEN -1000000000.0
                                     ELSE CAST(list_sum(list_transform(range(1, len(qv.q) + 1),
                                            i -> qv.q[i] * cv.q[i])) AS DOUBLE)
                                          / (sqrt(qn.qq) * sqrt(cn.qq))
                                END AS sim
                         FROM topr t
                         JOIN q qv ON qv.vec_id = t.qid
                         JOIN q cv ON cv.vec_id = t.vec_id
                         JOIN nrm2 qn ON qn.vec_id = t.qid
                         JOIN nrm2 cn ON cn.vec_id = t.vec_id)
         SELECT qid, vec_id AS neighbor_id, rnk FROM (
           SELECT qid, vec_id,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rnk
           FROM rerank) WHERE rnk <= 5"""
  // CAST(sum AS BIGINT): DuckDB sum(BIGINT) yields HUGEINT, which the
  // harness stringifies as a float — must pin to BIGINT to hash-match
  // Spark's LongType sum. json_valid guard keeps the bad-input-is-NULL
  // posture aligned with Spark's from_json.
  lazy val eventsPropsAgg: String =
    """SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
                CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
         FROM (SELECT event_type,
                      CASE WHEN json_valid(props)
                           THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                      END AS k
               FROM events)
         GROUP BY event_type"""
  lazy val eventsWindowFuncs: String =
    """SELECT user_id, event_id,
                row_number() OVER w AS rn,
                lag(event_id, 1) OVER w AS prev_event,
                epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
                cast(sum(cast(value AS DECIMAL(18,6)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv_sum3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""
  lazy val eventsAsofOrder: String =
    """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.user_id, e.event_id, o.o_orderkey AS last_order
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"""
  // spend in integer cents; the (t, kind, tiebreak) sort is total per
  // user, so the rows-frame running aggregates are order-free facts
  lazy val trainingExamplesPit: String =
    """WITH tagged AS (
           SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS t_us,
                  0 AS kind, CAST(NULL AS BIGINT) AS event_id,
                  o_orderkey AS tb,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders
           UNION ALL
           SELECT user_id, epoch_us(ts), 1, event_id, event_id, 0
           FROM events),
              r AS (
           SELECT *,
                  sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END) OVER w
                    AS n_orders_before,
                  sum(CASE WHEN kind = 0 THEN cents ELSE 0 END) OVER w
                    AS spend_before_cents,
                  max(CASE WHEN kind = 0 THEN t_us END) OVER w
                    AS last_order_t
           FROM tagged
           WINDOW w AS (PARTITION BY user_id ORDER BY t_us, kind, tb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id,
                CAST(n_orders_before AS BIGINT) AS n_orders_before,
                CAST(spend_before_cents AS BIGINT) AS spend_before_cents,
                (t_us - last_order_t) // 86400000000 AS days_since_last_order
         FROM r WHERE kind = 1"""
  lazy val eventsPivot: String =
    """SELECT user_id,
                nullif(count(*) FILTER (WHERE event_type = 'view'), 0) AS view,
                nullif(count(*) FILTER (WHERE event_type = 'click'), 0) AS click,
                nullif(count(*) FILTER (WHERE event_type = 'purchase'), 0) AS purchase,
                nullif(count(*) FILTER (WHERE event_type = 'signup'), 0) AS signup,
                nullif(count(*) FILTER (WHERE event_type = 'error'), 0) AS error
         FROM events GROUP BY user_id"""
  lazy val userSegmentSetOps: String =
    """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
              b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         SELECT 'click_and_buy' AS segment, user_id FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM b)
         UNION ALL
         SELECT 'click_no_buy' AS segment, user_id FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM b)
         UNION ALL
         SELECT 'buy_no_click' AS segment, user_id FROM (SELECT user_id FROM b EXCEPT SELECT user_id FROM c)"""
  lazy val streamEnrichJoin: String =
    """SELECT event_id, user_id, c_name AS name, event_type
         FROM events JOIN customer ON user_id = c_custkey"""
  lazy val streamAttributionJoin: String =
    """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON v.user_id = p.user_id
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR"""
  lazy val copurchasePairs: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                count(*) AS n_orders
         FROM op a JOIN op b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY a.l_partkey, b.l_partkey
         HAVING count(*) >= 2"""
  // Two unrolled integer PageRank rounds over the symmetrized
  // co-purchase edges — floor division everywhere, micro-unit ranks.
  lazy val copurchasePagerank: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
                     FROM op a JOIN op b
                       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                     GROUP BY a.l_partkey, b.l_partkey
                     HAVING count(*) >= 2),
              edges AS (SELECT part_a AS src, part_b AS dst FROM pr
                        UNION ALL SELECT part_b, part_a FROM pr),
              deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
              r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
              c1 AS (SELECT e.dst, CAST(sum(r0.r // d.deg) AS BIGINT) AS inflow
                     FROM edges e JOIN deg d ON d.src = e.src
                     JOIN r0 ON r0.id = e.src GROUP BY e.dst),
              r1 AS (SELECT id, CAST(150000 + (850000 * coalesce(inflow, 0)) // 1000000 AS BIGINT) AS r
                     FROM r0 LEFT JOIN c1 ON c1.dst = r0.id),
              c2 AS (SELECT e.dst, CAST(sum(r1.r // d.deg) AS BIGINT) AS inflow
                     FROM edges e JOIN deg d ON d.src = e.src
                     JOIN r1 ON r1.id = e.src GROUP BY e.dst),
              r2 AS (SELECT id, CAST(150000 + (850000 * coalesce(inflow, 0)) // 1000000 AS BIGINT) AS r
                     FROM r1 LEFT JOIN c2 ON c2.dst = r1.id)
         SELECT id AS part, r AS rank_micro FROM r2"""
  // Eight integer PageRank rounds replayed as a recursive CTE (the
  // working table is exactly the previous round's rank vector; in a
  // symmetrized graph every deg vertex has inflow every round, so the
  // aggregate-only recursive term covers the full vector), then
  // consecutive iterations self-joined for per-round deltas.
  lazy val copurchasePagerankDeltas: String =
    """WITH RECURSIVE
              op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              prr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
                      FROM op a JOIN op b
                        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                      GROUP BY a.l_partkey, b.l_partkey
                      HAVING count(*) >= 2),
              edges AS (SELECT part_a AS src, part_b AS dst FROM prr
                        UNION ALL SELECT part_b, part_a FROM prr),
              deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
              pr AS (
                SELECT src AS id, CAST(1000000 AS BIGINT) AS r, 0 AS it FROM deg
                UNION ALL
                SELECT e.dst AS id,
                       CAST(150000 + (850000 * sum(p.r // d.deg)) // 1000000 AS BIGINT) AS r,
                       any_value(p.it) + 1 AS it
                FROM pr p JOIN edges e ON e.src = p.id JOIN deg d ON d.src = p.id
                WHERE p.it < 8
                GROUP BY e.dst
              )
         SELECT CAST(b.it AS BIGINT) AS round,
                CAST(max(abs(b.r - a.r)) AS BIGINT) AS max_delta_micro,
                CAST(count(*) FILTER (b.r != a.r) AS BIGINT) AS n_changed
         FROM pr a JOIN pr b ON a.id = b.id AND b.it = a.it + 1
         GROUP BY 1"""
  // Shared top-20 vocab (cnt desc, token asc cutoff — deterministic
  // both engines); per-lang occurrence coverage + residual OOV types.
  // Sums CAST to BIGINT: DuckDB integer sum returns HUGEINT.
  lazy val vocabCoverage: String =
    """WITH tok AS (SELECT lang,
                             unnest(list_filter(string_split_regex(text, '\s+'),
                                                t -> t != '')) AS t
                      FROM documents),
              v AS (SELECT t AS term FROM tok
                    GROUP BY t ORDER BY count(*) DESC, t ASC LIMIT 20)
         SELECT lang,
                count(*) AS n_tokens,
                CAST(sum(CASE WHEN v.term IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_covered,
                CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                count(DISTINCT CASE WHEN v.term IS NULL THEN tok.t END) AS n_oov_types
         FROM tok LEFT JOIN v ON tok.t = v.term
         GROUP BY lang"""
  // The MG sketch pass only proposes candidates; the exact re-count +
  // cnt*64 > N filter makes the result equal the naive relation.
  lazy val frequentTokens: String =
    """WITH tf AS (SELECT token, count(*) AS cnt
                     FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                                     t -> t != '')) AS token
                           FROM documents)
                     GROUP BY token),
              t AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n FROM tf)
         SELECT token, cnt FROM tf, t WHERE cnt * 64 > n"""
  lazy val termFreqSpectrum: String =
    """WITH tf AS (SELECT term, count(*) AS freq
                     FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                                     t -> t != '')) AS term
                           FROM documents)
                     GROUP BY term)
         SELECT freq, count(*) AS n_terms FROM tf GROUP BY freq"""
  lazy val userCardinality: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type"""
  lazy val eventsValueHistogram: String =
    """SELECT event_type, cast(floor(value / 10.0) AS BIGINT) AS bin,
                count(*) AS cnt
         FROM events GROUP BY event_type, bin"""
  lazy val eventsAboveP95: String =
    """WITH t AS (SELECT event_type, quantile_cont(value, 0.95) AS p95
                    FROM events GROUP BY event_type)
         SELECT event_id, user_id, e.event_type
         FROM events e JOIN t ON e.event_type = t.event_type
         WHERE e.value > t.p95"""
  lazy val eventsFunnel: String =
    """SELECT user_id,
                CASE WHEN ts_view IS NOT NULL AND ts_click > ts_view
                          AND ts_purchase > ts_click THEN 'purchased'
                     WHEN ts_view IS NOT NULL AND ts_click > ts_view THEN 'clicked'
                     WHEN ts_view IS NOT NULL THEN 'viewed'
                     ELSE 'none' END AS funnel_stage
         FROM (SELECT user_id,
                      min(ts) FILTER (WHERE event_type = 'view') AS ts_view,
                      min(ts) FILTER (WHERE event_type = 'click') AS ts_click,
                      min(ts) FILTER (WHERE event_type = 'purchase') AS ts_purchase
               FROM events GROUP BY user_id)"""
  lazy val stratifiedSample: String =
    """SELECT doc_id, source
         FROM (SELECT doc_id, source,
                      ('0x' || substr(md5(source || ':' || doc_id), 1, 7))::BIGINT % 100 AS b
               FROM documents)
         WHERE b < 30"""
  lazy val eventsValueQuantiles: String =
    """SELECT event_type, count(*) AS n,
                quantile_cont(value, 0.25) AS p25,
                quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.95) AS p95
         FROM events GROUP BY event_type"""
  // Portable simhash: 56-bit md5 token hashes, integer vote sums
  // (order-independent), sign bits, 4x14-bit chunk banding, exact
  // hamming <= 3 — end-to-end in SQL.
  lazy val dedupSimhashPortable: String = {
      val voteCols = (0 until 56)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val sigExpr = (0 until 56)
        .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok
                      FROM documents),
               hx AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 14))::BIGINT AS h FROM tk),
               votes AS (SELECT doc_id, $voteCols FROM hx GROUP BY doc_id),
               sig AS (SELECT doc_id, $sigExpr AS simhash FROM votes),
               ch AS (SELECT doc_id, simhash, chunk,
                             (simhash >> (14 * chunk)) & 16383 AS chunk_val
                      FROM sig, (SELECT unnest(range(0, 4)) AS chunk)),
               pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                                bit_count(xor(x.simhash, y.simhash)) AS hamming
                         FROM ch x JOIN ch y
                           ON x.chunk = y.chunk AND x.chunk_val = y.chunk_val
                              AND x.doc_id < y.doc_id)
          SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
          FROM pairs WHERE hamming <= 3"""
    }
  // same md5 token-vote signature pipeline as dedup_simhash_portable,
  // rolled up per bit instead of per chunk pair
  lazy val simhashBitBalance: String = {
      val voteCols = (0 until 56)
        .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val sigExpr = (0 until 56)
        .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t != '')) AS tok
                      FROM documents),
               hx AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 14))::BIGINT AS h FROM tk),
               votes AS (SELECT doc_id, $voteCols FROM hx GROUP BY doc_id),
               sig AS (SELECT doc_id, $sigExpr AS simhash FROM votes),
               tot AS (SELECT count(*) AS n_docs FROM sig),
               be AS (SELECT bit, (simhash >> CAST(bit AS INT)) & 1 AS s
                      FROM sig, (SELECT CAST(unnest(range(0, 56)) AS BIGINT) AS bit))
          SELECT bit, CAST(sum(s) AS BIGINT) AS n_set, n_docs,
                 CAST(sum(s) AS DOUBLE) / CAST(n_docs AS DOUBLE) AS set_share
          FROM be, tot GROUP BY bit, n_docs"""
    }
  // ER scoring stage: Jaro-Winkler over the leading 64-char window of
  // every LSH candidate pair. The Spark side's native expression is
  // pinned bit-compatible with DuckDB's jaro_winkler_similarity, so
  // the raw DOUBLE hash-compares.
  lazy val erJaroWinkler: String =
    s"""WITH $minhashCandCtes
          SELECT doc_a, doc_b,
                 jaro_winkler_similarity(substr(da.text, 1, 64),
                                         substr(db.text, 1, 64)) AS jw
          FROM cand JOIN documents da ON doc_a = da.doc_id
                    JOIN documents db ON doc_b = db.doc_id"""
  // lev vs full-DL over the same candidates; lev - dl counts
  // adjacent-transposition typos. The Spark dl is the native
  // expression, pinned DuckDB-exact on an 8k random sweep.
  lazy val erEditMetrics: String =
    s"""WITH $minhashCandCtes
          SELECT doc_a, doc_b,
                 CAST(levenshtein(substr(da.text, 1, 64),
                                  substr(db.text, 1, 64)) AS BIGINT) AS lev,
                 CAST(damerau_levenshtein(substr(da.text, 1, 64),
                                          substr(db.text, 1, 64)) AS BIGINT) AS dl
          FROM cand JOIN documents da ON doc_a = da.doc_id
                    JOIN documents db ON doc_b = db.doc_id"""
  // Frame offsets and checksums run over the UTF-8 BYTE sequence
  // (hex(encode(text)) decoded pairwise), matching the Spark side's
  // byte iteration exactly — not ascii(char), which only agrees on
  // pure-ASCII corpora.
  // replays the text→P6-stream render + real frame parse: frame
  // geometry and offsets follow the per-frame header ("P6\n{w} {h}\n
  // 255\n" + w·h·3 pixels), checksums run over decoded pixel bytes
  lazy val multimodalFrames: String =
    """WITH b AS (SELECT doc_id, text, len(text) AS n
                    FROM documents WHERE len(text) >= 1),
              d AS (SELECT doc_id, text, n,
                           8 + n % 5 AS w, 8 + (3 * n) % 7 AS h, 1 + n % 4 AS nf,
                           len('P6' || chr(10) || (8 + n % 5) || ' ' || (8 + (3 * n) % 7)
                               || chr(10) || '255' || chr(10)) AS hdr
                    FROM b),
              f AS (SELECT doc_id, text, n, w, h, hdr,
                           unnest(range(0, nf, 2)) AS frame_idx FROM d)
         SELECT doc_id, frame_idx,
                cast(frame_idx * (hdr + w * h * 3) AS BIGINT) AS off,
                cast(hdr + w * h * 3 AS BIGINT) AS len,
                list_reduce(
                  list_prepend(cast(1 AS BIGINT),
                    list_transform(range(0, w * h * 3), j ->
                      cast(ord(substr(text,
                             cast((31 * frame_idx + j) % n AS INT) + 1, 1)) % 128 AS BIGINT))),
                  (a, c) -> (a * 31 + c) % 1000000007) AS frame_checksum
         FROM f"""
  lazy val multimodalResize: String =
    """WITH m AS (SELECT doc_id, len(text) AS n
                    FROM documents WHERE len(text) >= 1),
              d AS (SELECT doc_id, cast(8 + n % 5 AS BIGINT) AS width,
                           cast(8 + (3 * n) % 7 AS BIGINT) AS height
                    FROM m)
         SELECT doc_id, width, height,
                width * 224 // greatest(width, height) AS out_w,
                height * 224 // greatest(width, height) AS out_h
         FROM d"""
  lazy val streamWindowCounts: String =
    """SELECT date_trunc('hour', ts) AS w_start,
                date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
                event_type, count(*) AS cnt,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2, 3"""
  lazy val streamSessionWindows: String =
    """WITH o AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                      sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
               FROM o)
         SELECT user_id, min(ts) AS s_start,
                max(ts) + INTERVAL 30 MINUTE AS s_end,
                count(*) AS n_events
         FROM s GROUP BY user_id, sid"""
  lazy val streamRunningCounts: String =
    """SELECT user_id, event_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS cum_count
         FROM events"""
  // replays the text→WAV render + PCM parse: 512 interleaved stereo
  // 8-bit samples, channel = parsed-header interleave parity
  lazy val multimodalChannels: String =
    """WITH b AS (SELECT doc_id, text, len(text) AS n
                    FROM documents WHERE len(text) >= 1),
              x AS (SELECT doc_id, text, n, unnest(range(0, 512)) AS i FROM b),
              v AS (SELECT doc_id, cast(i % 2 AS INT) AS channel,
                           (ord(substr(text, cast((3 * i) % n AS INT) + 1, 1)) % 128 + i)
                             % 256 AS val
                    FROM x)
         SELECT doc_id, channel, count(*) AS n_samples,
                cast(sum(val) AS BIGINT) AS sum_val
         FROM v GROUP BY doc_id, channel"""
  // replays the P6-stream render byte for byte — per-frame header
  // codes (ASCII of "P6\n{w} {h}\n255\n") concatenated with pixel
  // codes, folded through the rolling checksum; width/height/n_frames
  // are what the real header parse reports
  lazy val multimodalMeta: String =
    """WITH b AS (SELECT doc_id, text, len(text) AS n
                    FROM documents WHERE len(text) >= 1),
              d AS (SELECT doc_id, text, n,
                           8 + n % 5 AS w, 8 + (3 * n) % 7 AS h, 1 + n % 4 AS nf,
                           'P6' || chr(10) || (8 + n % 5) || ' ' || (8 + (3 * n) % 7)
                             || chr(10) || '255' || chr(10) AS hdr
                    FROM b)
         SELECT doc_id,
                cast(nf * (len(hdr) + w * h * 3) AS BIGINT) AS n_bytes,
                cast(w AS BIGINT) AS width,
                cast(h AS BIGINT) AS height,
                cast(nf AS BIGINT) AS n_frames,
                list_reduce(
                  list_prepend(cast(1 AS BIGINT),
                    flatten(list_transform(range(0, nf), f ->
                      list_concat(
                        list_transform(range(1, len(hdr) + 1), i ->
                          cast(ord(substr(hdr, cast(i AS INT), 1)) AS BIGINT)),
                        list_transform(range(0, w * h * 3), j ->
                          cast(ord(substr(text,
                                 cast((31 * f + j) % n AS INT) + 1, 1)) % 128 AS BIGINT)))))),
                  (a, c) -> (a * 31 + c) % 1000000007) AS checksum
         FROM d"""
  // Binary payload dedup by (sha-256 digest, byte length). DuckDB's
  // sha256(VARCHAR) hashes the string's UTF-8 bytes — exactly
  // Spark's sha2(encode(text,'UTF-8'), 256); both emit lowercase hex.
  lazy val multimodalDedup: String =
    """SELECT sha256(text) AS digest,
                cast(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1, 2"""
  // Patterns must stay verbatim-identical to Curation.piiPatterns
  // (Java∩RE2 subset). Counts run against the ORIGINAL text per
  // pattern; replacements chain email → url → phone.
  lazy val piiRedact: String =
    """SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,4}', '<EMAIL>', 'g'),
                  'https?://[A-Za-z0-9./_%?=&-]+', '<URL>', 'g'),
                  '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS clean_text,
                len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,4}'))
                  + len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%?=&-]+'))
                  + len(regexp_extract_all(text, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))
                  AS n_pii
         FROM documents"""
  lazy val docRepetition: String =
    """SELECT doc_id, n_trigrams, n_distinct,
                CAST(n_trigrams - n_distinct AS DOUBLE) / n_trigrams AS dup_frac,
                CAST(n_trigrams - n_distinct AS DOUBLE) / n_trigrams <= 0.20 AS keep
         FROM (SELECT doc_id,
                      CAST(len(tg) AS BIGINT) AS n_trigrams,
                      CAST(len(list_distinct(tg)) AS BIGINT) AS n_distinct
               FROM (SELECT doc_id,
                            list_transform(range(1, len(ts) - 1),
                              i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS tg
                     FROM (SELECT doc_id,
                                  list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                           FROM documents)
                     WHERE len(ts) >= 3))"""
  lazy val contaminationCheck: String =
    """WITH tk AS (SELECT doc_id,
                            list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              g AS (SELECT doc_id,
                           unnest(list_distinct(list_transform(range(1, len(ts) - 6),
                             i -> array_to_string(ts[i:i+7], ' ')))) AS gram
                    FROM tk WHERE len(ts) >= 8)
         SELECT g.doc_id, count(*) AS n_hits
         FROM g
         JOIN (SELECT DISTINCT gram FROM g WHERE doc_id < 10) b USING (gram)
         WHERE g.doc_id >= 10
         GROUP BY g.doc_id"""
  lazy val invertedIndex: String =
    """SELECT term, count(*) AS df,
                array_to_string(list_sort(list(doc_id))[1:100], ',') AS postings
         FROM (SELECT doc_id,
                      unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS term
               FROM documents)
         GROUP BY term"""
  lazy val docTopTerms: String =
    """WITH tf AS (SELECT doc_id, term, count(*) AS tf
                     FROM (SELECT doc_id,
                                  unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS term
                           FROM documents)
                     GROUP BY doc_id, term),
              dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              rk AS (SELECT doc_id, term, tf,
                            row_number() OVER (PARTITION BY doc_id
                                               ORDER BY tf DESC, term ASC) AS rnk
                     FROM tf)
         SELECT rk.doc_id, CAST(rk.rnk AS BIGINT) AS rnk, rk.term, rk.tf, dft.df
         FROM rk JOIN dft USING (term) WHERE rnk <= 5"""
  // Integer weeks since the epoch (epoch_us // week) on both sides —
  // no timezone/calendar surface to disagree on.
  lazy val cohortRetention: String =
    """SELECT cohort_week, week - cohort_week AS week_offset,
                count(DISTINCT user_id) AS n_users
         FROM (SELECT user_id, week,
                      min(week) OVER (PARTITION BY user_id) AS cohort_week
               FROM (SELECT user_id, epoch_us(ts) // 604800000000 AS week
                     FROM events))
         GROUP BY cohort_week, week_offset"""
  // CAST on the running sum: DuckDB window sum(BIGINT) is HUGEINT.
  lazy val eventsSessionize: String =
    """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
              s AS (SELECT user_id, tus,
                           CAST(sum(new_s) OVER (PARTITION BY user_id
                                                 ORDER BY tus, event_id
                                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                             AS session_idx
                    FROM o)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(tus) AS start_us, max(tus) AS end_us,
                max(tus) - min(tus) AS duration_us
         FROM s GROUP BY user_id, session_idx"""
  // Plain theta join — the oracle doesn't need the bucket
  // decomposition, only the identical [lo, hi) semantics and sums.
  lazy val eventsValueBandJoin: String =
    """WITH bands(band, lo, hi) AS (VALUES
                ('b0_lt1',      0.0,   1.0),
                ('b1_1_2p5',    1.0,   2.5),
                ('b2_2p5_5',    2.5,   5.0),
                ('b3_5_10',     5.0,  10.0),
                ('b4_10_25',   10.0,  25.0),
                ('b5_25_50',   25.0,  50.0),
                ('b6_50_100',  50.0, 100.0),
                ('b7_ge100',  100.0, 1e308))
         SELECT band, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events JOIN bands ON value >= lo AND value < hi
         GROUP BY band"""
  // Same assignment CTEs as similarity_ann_ivf (sequential dot/norm,
  // ties → lowest cell), same quantization as embedding_quantize;
  // integer sums keep the hash stable, the mean is one int/int
  // division both engines compute identically.
  lazy val centroidUpdate: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
              cs AS (SELECT e.vec_id, c.cid,
                            list_reduce(list_prepend(0.0,
                              list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])),
                              (a,x) -> a + x) / (e.nrm * c.cnrm) AS sim
                     FROM e, c),
              assigned AS (SELECT vec_id, cell FROM (
                     SELECT vec_id, cid AS cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                     FROM cs) WHERE rn = 1),
              m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
              x AS (SELECT vec_id, v, ma, unnest(range(1, len(v) + 1)) AS i FROM m),
              q AS (SELECT vec_id, cast(i - 1 AS BIGINT) AS dim_idx,
                           CASE WHEN ma = 0.0 THEN 0
                                ELSE greatest(-127, least(127,
                                       cast(floor(v[i] * 127.0 / ma) AS BIGINT)))
                           END AS q
                    FROM x)
         SELECT cell, dim_idx, count(*) AS n,
                CAST(sum(q.q) AS BIGINT) AS sum_q,
                CAST(sum(q.q) AS DOUBLE) / count(*) AS mean_q
         FROM q JOIN assigned USING (vec_id)
         GROUP BY cell, dim_idx"""
  // Same assignment + quantize CTEs as centroid_update; the centroid
  // codes come from the quantize CTE itself (centroids are corpus
  // vectors), so inertia is an exact integer on both engines.
  lazy val kmeansInertia: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
              cs AS (SELECT e.vec_id, c.cid,
                            list_reduce(list_prepend(0.0,
                              list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])),
                              (a,x) -> a + x) / (e.nrm * c.cnrm) AS sim
                     FROM e, c),
              assigned AS (SELECT vec_id, cell FROM (
                     SELECT vec_id, cid AS cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                     FROM cs) WHERE rn = 1),
              m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
              x AS (SELECT vec_id, v, ma, unnest(range(1, len(v) + 1)) AS i FROM m),
              q AS (SELECT vec_id, cast(i - 1 AS BIGINT) AS dim_idx,
                           CASE WHEN ma = 0.0 THEN 0
                                ELSE greatest(-127, least(127,
                                       cast(floor(v[i] * 127.0 / ma) AS BIGINT)))
                           END AS q
                    FROM x),
              d AS (SELECT a.vec_id, a.cell, (qm.q - qc.q) * (qm.q - qc.q) AS sq
                    FROM assigned a
                    JOIN q qm ON qm.vec_id = a.vec_id
                    JOIN q qc ON qc.vec_id = a.cell AND qc.dim_idx = qm.dim_idx)
         SELECT cell, count(DISTINCT vec_id) AS n, CAST(sum(sq) AS BIGINT) AS inertia
         FROM d GROUP BY cell"""
  // Same 16-bit Morton interleave, unrolled via list_reduce.
  lazy val zorderLayout: String =
    """SELECT event_id, user_id, vbin,
                list_reduce(list_transform(range(0, 16), i ->
                  (((ua >> i) & 1) << (2*i)) | (((vb >> i) & 1) << (2*i+1))),
                  (x, y) -> x | y) AS z
         FROM (SELECT event_id, user_id,
                      CAST(floor(value) AS BIGINT) AS vbin,
                      user_id & 65535 AS ua,
                      CAST(floor(value) AS BIGINT) & 65535 AS vb
               FROM events)"""
  lazy val corpusStats: String =
    """SELECT source, lang, count(*) AS n_docs,
                CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS BIGINT)
                  AS n_tokens,
                count(DISTINCT sha256(text)) AS n_distinct_texts,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                count(*) - count(DISTINCT sha256(text)) AS dup_docs,
                CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
         FROM documents
         GROUP BY source, lang"""
  // user_cardinality_rollup carries NO oracle here deliberately (the
  // HLL sketch binary is engine-specific): driver does a rows-only
  // check; EventOpsSpec error-bounds it against this exact twin.
  lazy val userCardinalityWeekly: String =
    """SELECT event_type, epoch_us(ts) // 86400000000 // 7 AS week,
                count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2"""
  // Integer cross-multiplied thresholds (spike >= 1.5x, drop <= 2/3,
  // or a missing day) — the flag frontier replays exactly.
  lazy val eventRateAnomaly: String =
    """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                           count(*) AS cnt
                    FROM events GROUP BY 1, 2),
              l AS (SELECT event_type, day, cnt,
                           lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
                           lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS prev_cnt
                    FROM d)
         SELECT event_type, day, cnt, prev_day, prev_cnt,
                (prev_day != day - 1 OR cnt * 2 >= prev_cnt * 3
                 OR cnt * 3 <= prev_cnt * 2) AS is_anomaly
         FROM l WHERE prev_cnt IS NOT NULL"""
  lazy val rollingActiveUsers: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                     FROM events),
              x AS (SELECT user_id, day + o AS report_day
                    FROM ud, (SELECT unnest(range(0, 7)) AS o))
         SELECT report_day, count(DISTINCT user_id) AS active_users
         FROM x GROUP BY report_day"""
  lazy val brandMarketShare: String =
    """SELECT brand, n_parts,
                CAST(n_parts AS DOUBLE) / sum(n_parts) OVER () AS share
         FROM (SELECT p_brand AS brand, count(*) AS n_parts
               FROM part GROUP BY p_brand)"""
  // DECIMAL revenue keeps the ordering (and the top-10 cut) exact and
  // engine-identical; dates emit as epoch microseconds.
  lazy val q3ShippingPriority: String =
    """SELECT l_orderkey AS orderkey,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                  AS revenue,
                epoch_us(o_orderdate) AS order_us, o_orderpriority
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) DESC,
                  l_orderkey
         LIMIT 10"""
  // DECIMAL revenue keeps the top-20 cut exact (the q3 pattern).
  lazy val q10ReturnedRevenue: String =
    """SELECT c_custkey AS custkey, c_name AS name, n_name AS nation,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                  AS revenue
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND c_nationkey = n_nationkey AND l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1998-03-01'
           AND o_orderdate < TIMESTAMP '1998-06-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) DESC,
                  c_custkey
         LIMIT 20"""
  lazy val q4PriorityExists: String =
    """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority"""
  // DECIMAL sums are exact in any order; the one double division per
  // year row runs over identical operands on both engines.
  lazy val q8MarketShare: String =
    """WITH rev AS (
           SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                  CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS rev,
                  n_name AS supp_nation
           FROM lineitem, orders, customer, supplier, nation
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
             AND c_nationkey IN (SELECT n2.n_nationkey FROM nation n2, region
                                 WHERE n2.n_regionkey = r_regionkey AND r_name = 'ASIA')
             AND o_orderdate >= TIMESTAMP '1997-01-01'
             AND o_orderdate < TIMESTAMP '1999-01-01')
         SELECT o_year,
                CAST(sum(CASE WHEN supp_nation = 'NATION_12' THEN rev
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                  AS nation_revenue,
                CAST(sum(rev) AS DOUBLE) AS total_revenue,
                CAST(sum(CASE WHEN supp_nation = 'NATION_12' THEN rev
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                  / CAST(sum(rev) AS DOUBLE) AS mkt_share
         FROM rev GROUP BY o_year"""
  lazy val q13Custdist: String =
    """WITH pc AS (SELECT o_custkey, count(*) AS c_count
                     FROM orders GROUP BY o_custkey)
         SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist
         FROM customer LEFT JOIN pc ON c_custkey = o_custkey
         GROUP BY 1"""
  // DECIMAL revenue makes the `= max` selection exact on both engines.
  lazy val q15TopSupplier: String =
    """WITH rev AS (SELECT l_suppkey,
                             sum(CAST(l_extendedprice * (1.0 - l_discount)
                                      AS DECIMAL(18,4))) AS total_rev
                      FROM lineitem
                      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                        AND l_shipdate < TIMESTAMP '1998-04-01'
                      GROUP BY l_suppkey)
         SELECT s_suppkey AS suppkey, s_name AS name,
                CAST(total_rev AS DOUBLE) AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)"""
  // threshold cross-multiplied (5·qty·cnt < sum): no division inside
  // the filter, so no engine-specific rounding can flip a row
  lazy val q17SmallQtyRevenue: String =
    """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
                     FROM lineitem
                     WHERE l_partkey IN (SELECT p_partkey FROM part
                                         WHERE p_brand = 'Brand#11')),
              pp AS (SELECT l_partkey AS ap, sum(l_quantity) AS qty_sum,
                            count(*) AS qty_cnt
                     FROM li GROUP BY 1)
         SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                  AS avg_yearly
         FROM li JOIN pp ON l_partkey = ap
         WHERE l_quantity * 5.0 * qty_cnt < qty_sum"""
  // unit price is a single IEEE double division — bit-identical on
  // both engines — and MIN over doubles is order-free
  lazy val q2MinCostSupplier: String =
    """WITH offers AS (
           SELECT l_partkey, l_suppkey,
                  min(l_extendedprice / l_quantity) AS unit_price
           FROM lineitem
           WHERE l_quantity > 0
             AND l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_type = 'LARGE' AND p_size <= 10)
           GROUP BY 1, 2),
              best AS (SELECT l_partkey AS bp, min(unit_price) AS bprice
                       FROM offers GROUP BY 1)
         SELECT l_partkey AS partkey, s_name AS supp_name,
                n_name AS supp_nation, unit_price
         FROM offers
         JOIN best ON l_partkey = bp AND unit_price = bprice
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey"""
  lazy val q9ProfitByNation: String =
    """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                              AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
         FROM lineitem, supplier, nation
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND l_partkey IN (SELECT p_partkey FROM part
                             WHERE p_type = 'STANDARD')
         GROUP BY 1, 2"""
  // fraction threshold cross-multiplied in DECIMAL (value·1000 > total)
  lazy val q11ImportantParts: String =
    """WITH pp AS (
           SELECT l_partkey AS partkey,
                  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
           FROM lineitem
           WHERE l_suppkey IN (SELECT s_suppkey FROM supplier, nation
                               WHERE s_nationkey = n_nationkey
                                 AND n_name = 'NATION_3')
           GROUP BY 1)
         SELECT partkey, CAST(value_dec AS DOUBLE) AS value
         FROM pp
         WHERE value_dec * 1000 > (SELECT sum(value_dec) FROM pp)"""
  lazy val q12PriorityClasses: String =
    """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1"""
  // promo/total both accumulate in DECIMAL inside one aggregate; the
  // single division happens on the final 1-row result
  lazy val q14PromoRevenue: String =
    """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(18,4))) AS DOUBLE)
                  AS promo_revenue_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'"""
  lazy val q16SupplierCnt: String =
    """SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#11'
         GROUP BY 1, 2, 3"""
  // avg threshold cross-multiplied in DECIMAL (qty·n > total)
  lazy val q20ExcessSuppliers: String =
    """WITH ps AS (
           SELECT l_suppkey,
                  sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
             AND l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_type = 'PROMO')
           GROUP BY 1),
              tot AS (SELECT sum(qty_dec) AS qty_total, count(*) AS n_supp
                      FROM ps)
         SELECT s_name AS supp_name, n_name AS supp_nation,
                CAST(qty_dec AS DOUBLE) AS promo_qty
         FROM ps, tot, supplier, nation
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND qty_dec * n_supp > qty_total"""
  lazy val eventsUserLifespan: String =
    """WITH pu AS (SELECT user_id, min(day) AS first_day, max(day) AS last_day,
                            CAST(count(DISTINCT day) AS BIGINT) AS active_days
                     FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS day
                           FROM events)
                     GROUP BY user_id)
         SELECT last_day - first_day AS lifespan_days, count(*) AS n_users,
                CAST(sum(active_days) AS BIGINT) AS sum_active_days
         FROM pu GROUP BY 1"""
  // gaps are non-negative, so truncating div == floor div
  lazy val eventsDwellTime: String =
    """WITH g AS (
           SELECT event_type, (us - prev_us) // 1000000 AS gap_s
           FROM (SELECT event_type, epoch_us(ts) AS us,
                        lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS prev_us
                 FROM events)
           WHERE prev_us IS NOT NULL)
         SELECT event_type, count(*) AS n_gaps,
                CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
                CAST(sum(gap_s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_gap_s
         FROM g GROUP BY 1"""
  // both logs quantize to micro-nat BIGINTs before any aggregation
  // (ln differs across engines in the last ulp); the slope ratio is
  // one double expression over exact integer sums
  lazy val tokenZipfFit: String =
    """WITH c AS (SELECT token, count(*) AS cnt
                    FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS token
                          FROM documents)
                    GROUP BY token
                    ORDER BY cnt DESC, token LIMIT 500),
              r AS (SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, token) AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                           CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
                    FROM c),
              s AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                           CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(x * y) AS BIGINT) AS sxy,
                           CAST(sum(x * x) AS BIGINT) AS sxx
                    FROM r)
         SELECT n, (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope
         FROM s"""
  lazy val vocabGrowthCurve: String =
    """WITH m AS (SELECT CAST(unnest([16, 64, 256, 1024, 4096, 16384]) AS BIGINT) AS milestone),
              pd AS (SELECT doc_id,
                            CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT) AS n_toks
                     FROM documents),
              vol AS (SELECT milestone, count(*) AS n_docs,
                             CAST(sum(n_toks) AS BIGINT) AS total_tokens
                      FROM pd JOIN m ON doc_id <= milestone GROUP BY 1),
              fo AS (SELECT token, min(doc_id) AS first_doc
                     FROM (SELECT doc_id,
                                  unnest(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS token
                           FROM documents)
                     GROUP BY token),
              voc AS (SELECT milestone, count(*) AS distinct_tokens
                      FROM fo JOIN m ON first_doc <= milestone GROUP BY 1)
         SELECT vol.milestone, n_docs, total_tokens, distinct_tokens
         FROM vol JOIN voc ON vol.milestone = voc.milestone"""
  // phase-2 ordering over the phase-1 survivors equals the global
  // per-source ordering restricted to them, so the two-phase plan and
  // this direct window agree exactly
  lazy val groupReservoirSample: String =
    """WITH d AS (SELECT doc_id, source,
                           ('0x' || substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                    FROM documents),
              p1 AS (SELECT doc_id, source, h,
                            row_number() OVER (PARTITION BY source, h % 16
                                               ORDER BY h, doc_id) AS r1
                     FROM d),
              p2 AS (SELECT source, doc_id,
                            CAST(row_number() OVER (PARTITION BY source
                                                    ORDER BY h, doc_id) AS BIGINT) AS rank
                     FROM p1 WHERE r1 <= 50)
         SELECT source, rank, doc_id FROM p2 WHERE rank <= 50"""
  // mean/variance derive from the exact integer power sums with the
  // same operation order on both engines
  lazy val momentsBySource: String =
    """SELECT source, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS sum_len,
                CAST(sum(n_chars * n_chars) AS BIGINT) AS sum_len2,
                min(n_chars) AS min_len, max(n_chars) AS max_len,
                CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_len,
                (CAST(count(*) AS DOUBLE) * CAST(sum(n_chars * n_chars) AS DOUBLE)
                 - CAST(sum(n_chars) AS DOUBLE) * CAST(sum(n_chars) AS DOUBLE))
                / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS var_len
         FROM documents GROUP BY source"""
  // all three Jaccard components are exact integers
  lazy val eventTypeAffinity: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
              pt AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
              pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                            count(*) AS n_both
                     FROM ut a JOIN ut b
                       ON a.user_id = b.user_id
                      AND a.event_type < b.event_type
                     GROUP BY 1, 2)
         SELECT type_a, type_b, n_both, pa.n_t AS n_a, pb.n_t AS n_b,
                CAST(n_both AS DOUBLE)
                  / CAST(pa.n_t + pb.n_t - n_both AS DOUBLE) AS jaccard
         FROM pr
         JOIN pt pa ON type_a = pa.event_type
         JOIN pt pb ON type_b = pb.event_type"""
  lazy val tableProfile: String =
    """SELECT 'region' AS table_name, count(*) AS n_rows,
                CAST(count(DISTINCT r_regionkey) AS BIGINT) AS n_distinct_pk,
                CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_pk
         FROM region
         UNION ALL
         SELECT 'nation', count(*), CAST(count(DISTINCT n_nationkey) AS BIGINT),
                CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM nation
         UNION ALL
         SELECT 'customer', count(*), CAST(count(DISTINCT c_custkey) AS BIGINT),
                CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM customer
         UNION ALL
         SELECT 'supplier', count(*), CAST(count(DISTINCT s_suppkey) AS BIGINT),
                CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM supplier
         UNION ALL
         SELECT 'part', count(*), CAST(count(DISTINCT p_partkey) AS BIGINT),
                CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM part
         UNION ALL
         SELECT 'orders', count(*), CAST(count(DISTINCT o_orderkey) AS BIGINT),
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders
         UNION ALL
         SELECT 'lineitem', count(*),
                CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
                CAST(sum(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'events', count(*), CAST(count(DISTINCT event_id) AS BIGINT),
                CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM events
         UNION ALL
         SELECT 'documents', count(*), CAST(count(DISTINCT doc_id) AS BIGINT),
                CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM documents
         UNION ALL
         SELECT 'embeddings', count(*), CAST(count(DISTINCT vec_id) AS BIGINT),
                CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM embeddings"""
  // cv² thresholds as integer cross-multiplications over exact gap
  // power sums; m·Σg² caps near gaps²·orders — far under 2⁶³
  lazy val customerOrderRegularity: String =
    """WITH o AS (SELECT o_custkey, o_orderkey,
                           epoch_us(o_orderdate) // 86400000000 AS day
                    FROM orders),
              g AS (SELECT o_custkey,
                           day - lag(day) OVER (PARTITION BY o_custkey
                                                ORDER BY day, o_orderkey) AS g
                    FROM o),
              pc AS (SELECT o_custkey, count(*) AS m,
                            CAST(sum(g) AS BIGINT) AS s,
                            CAST(sum(g * g) AS BIGINT) AS s2
                     FROM g WHERE g IS NOT NULL GROUP BY 1),
              cl AS (SELECT CASE
                              WHEN m < 2 OR s = 0 THEN 'insufficient'
                              WHEN (m * s2 - s * s) * 4 < s * s THEN 'regular'
                              WHEN m * s2 - s * s < s * s THEN 'moderate'
                              ELSE 'bursty' END AS cadence_class
                     FROM pc)
         SELECT cadence_class, count(*) AS n_customers
         FROM cl GROUP BY 1"""
  lazy val eventsFunnelByVariant: String =
    """WITH pu AS (SELECT user_id,
                            ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 7))::BIGINT % 2 AS variant,
                            min(CASE WHEN event_type = 'view' THEN ts END) AS ts_view,
                            min(CASE WHEN event_type = 'click' THEN ts END) AS ts_click,
                            min(CASE WHEN event_type = 'purchase' THEN ts END) AS ts_purchase
                     FROM events GROUP BY 1, 2),
              st AS (SELECT variant,
                            CASE WHEN ts_view IS NOT NULL
                                  AND ts_click > ts_view
                                  AND ts_purchase > ts_click THEN 'purchased'
                                 WHEN ts_view IS NOT NULL
                                  AND ts_click > ts_view THEN 'clicked'
                                 WHEN ts_view IS NOT NULL THEN 'viewed'
                                 ELSE 'none' END AS funnel_stage
                     FROM pu)
         SELECT variant, funnel_stage, count(*) AS n_users
         FROM st GROUP BY 1, 2"""
  // per-vector Σ(milli-quantized x)² is an exact BIGINT
  lazy val embeddingNormBands: String =
    """WITH n AS (SELECT vec_id,
                           CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * 1000.0) AS BIGINT)
                                     * CAST(floor(x * 1000.0) AS BIGINT)))
                                AS BIGINT) AS norm2_milli2
                    FROM embeddings)
         SELECT CAST(len(bin(norm2_milli2 + 1)) - 1 AS BIGINT) AS band,
                count(*) AS n_vectors,
                min(norm2_milli2) AS min_norm2,
                max(norm2_milli2) AS max_norm2
         FROM n GROUP BY 1"""
  // grouping() bitmask disambiguates aggregated-out NULLs; both
  // engines use leftmost-column-is-MSB
  lazy val ordersGroupingSets: String =
    """SELECT o_orderpriority, o_orderstatus,
                CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())"""
  // DF from per-doc DISTINCT tokens; the >50% gate cross-multiplies
  // in integers
  lazy val stopwordCandidates: String =
    """WITH dt AS (SELECT DISTINCT doc_id, unnest(list_distinct(
                              list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS token
                     FROM documents),
              n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT token, count(*) AS df,
                CAST(count(*) AS DOUBLE) / CAST(n_docs AS DOUBLE) AS df_share
         FROM dt, n
         GROUP BY token, n_docs
         HAVING count(*) * 2 > n_docs"""
  // percent_rank/cume_dist are exact rationals of integer ranks;
  // the rn column pins the deterministic tiebreak
  lazy val customerBalancePctrank: String =
    """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey, c_acctbal,
                percent_rank() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal) AS pct_rank,
                cume_dist() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal) AS cum_dist,
                CAST(row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY c_acctbal, c_custkey) AS BIGINT)
                  AS rn
         FROM customer"""
  // RANGE frame over the exact integer epoch-day; DECIMAL sums
  lazy val ordersTrailing7dRevenue: String =
    """WITH o AS (SELECT o_orderkey, o_custkey,
                           epoch_us(o_orderdate) // 86400000000 AS day,
                           CAST(o_totalprice AS DECIMAL(18,2)) AS rev
                    FROM orders)
         SELECT o_orderkey, o_custkey, day,
                CAST(rev AS DOUBLE) AS revenue,
                CAST(sum(rev) OVER (PARTITION BY o_custkey ORDER BY day
                                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS trailing_7d_revenue
         FROM o"""
  // Σ b·(b−1)/2 is integer-valued; double addition of exact integers
  // below 2⁵³ is order-free
  lazy val basketSizeHist: String =
    """WITH pb AS (SELECT l_orderkey,
                            CAST(count(DISTINCT l_partkey) AS BIGINT) AS b
                     FROM lineitem GROUP BY 1)
         SELECT CAST(len(bin(b)) - 1 AS BIGINT) AS band,
                count(*) AS n_orders, max(b) AS max_basket,
                CAST(sum(b * (b - 1) / 2) AS BIGINT) AS pair_budget
         FROM pb GROUP BY 1"""
  // top side is a deterministic top-10 (revenue desc, custkey asc);
  // DECIMAL sums, one double division
  lazy val customerRevenueTopnShare: String =
    """WITH pc AS (SELECT o_custkey,
                            sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
                     FROM orders GROUP BY 1),
              tot AS (SELECT sum(rev_dec) AS total_dec FROM pc),
              top AS (SELECT rev_dec FROM pc
                      ORDER BY rev_dec DESC, o_custkey LIMIT 10)
         SELECT count(*) AS n_top,
                CAST(sum(rev_dec) AS DOUBLE) AS top_revenue,
                CAST(total_dec AS DOUBLE) AS total_revenue,
                CAST(sum(rev_dec) AS DOUBLE) / CAST(total_dec AS DOUBLE)
                  AS top_share
         FROM top, tot GROUP BY total_dec"""
  lazy val brandTypeChi2: String =
    """WITH c AS (SELECT p_brand, p_type, count(*) AS n_obs
                    FROM part GROUP BY 1, 2),
              m AS (SELECT p_brand, p_type, n_obs,
                           CAST(sum(n_obs) OVER (PARTITION BY p_brand) AS BIGINT) AS n_brand,
                           CAST(sum(n_obs) OVER (PARTITION BY p_type) AS BIGINT) AS n_type,
                           (SELECT CAST(sum(n_obs) AS BIGINT) FROM c) AS n_total
                    FROM c)
         SELECT p_brand, p_type, n_obs,
                CAST(n_brand AS DOUBLE) * CAST(n_type AS DOUBLE)
                  / CAST(n_total AS DOUBLE) AS expected,
                (CAST(n_obs AS DOUBLE)
                 - CAST(n_brand AS DOUBLE) * CAST(n_type AS DOUBLE)
                   / CAST(n_total AS DOUBLE))
                * (CAST(n_obs AS DOUBLE)
                   - CAST(n_brand AS DOUBLE) * CAST(n_type AS DOUBLE)
                     / CAST(n_total AS DOUBLE))
                / (CAST(n_brand AS DOUBLE) * CAST(n_type AS DOUBLE)
                   / CAST(n_total AS DOUBLE)) AS chi2_term
         FROM m"""
  // log2 value bins, integer midpoint split, Laplace-smoothed
  // shares; the one log quantizes to micro-nats before the product
  lazy val eventsValueDriftPsi: String =
    """WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day,
                            CAST(floor(value * 1000.0) AS BIGINT) AS vm
                     FROM events
                     WHERE CAST(floor(value * 1000.0) AS BIGINT) >= 0),
              mid AS (SELECT (min(day) + max(day)) // 2 AS mid_day FROM ev),
              b AS (SELECT CAST(len(bin(vm + 1)) - 1 AS BIGINT) AS bin,
                           CAST(sum(CASE WHEN day <= mid_day THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                           CAST(sum(CASE WHEN day <= mid_day THEN 0 ELSE 1 END) AS BIGINT) AS n2
                    FROM ev, mid GROUP BY 1),
              t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
                           CAST(sum(n2) AS BIGINT) AS t2,
                           count(*) AS n_bins
                    FROM b),
              p AS (SELECT bin, n1, n2,
                           CAST(n1 + 1 AS DOUBLE) / CAST(t1 + n_bins AS DOUBLE) AS p1,
                           CAST(n2 + 1 AS DOUBLE) / CAST(t2 + n_bins AS DOUBLE) AS p2
                    FROM b, t)
         SELECT bin, n1, n2,
                (p2 - p1) * CAST(CAST(floor(ln(p2 / p1) * 1000000) AS BIGINT) AS DOUBLE)
                  / 1e6 AS psi_term
         FROM p"""
  // every score is an exact BIGINT of micro-nats; argmax ties break
  // deterministically by lang
  lazy val langidNbConfusion: String =
    """WITH toks AS (SELECT doc_id, lang AS true_lang,
                              unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS token
                       FROM documents),
              dt AS (SELECT doc_id, true_lang, token, count(*) AS c_dt
                     FROM toks GROUP BY 1, 2, 3),
              model AS (SELECT true_lang AS lang_m, token, count(*) AS c_lt
                        FROM toks GROUP BY 1, 2),
              lt AS (SELECT true_lang AS lang_m, count(*) AS n_l
                     FROM toks GROUP BY 1),
              vc AS (SELECT count(DISTINCT token) AS v FROM toks),
              sc AS (SELECT dt.doc_id, dt.true_lang, lt.lang_m,
                            CAST(sum(c_dt *
                              (CAST(floor(ln(CAST(coalesce(c_lt, 0) + 1 AS DOUBLE)) * 1000000) AS BIGINT)
                               - CAST(floor(ln(CAST(n_l + v AS DOUBLE)) * 1000000) AS BIGINT)))
                              AS BIGINT) AS score
                     FROM dt CROSS JOIN lt CROSS JOIN vc
                     LEFT JOIN model ON model.lang_m = lt.lang_m
                                    AND model.token = dt.token
                     GROUP BY 1, 2, 3),
              pred AS (SELECT true_lang, lang_m AS pred_lang,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY score DESC, lang_m DESC)
                                AS rk
                       FROM sc)
         SELECT true_lang, pred_lang, count(*) AS n_docs
         FROM pred WHERE rk = 1
         GROUP BY 1, 2"""
  // fastText-shape NB: hashed char-bigram features (portable md5
  // idiom, 7 hex chars -> BIGINT mod 4096), same integer micro-nat
  // scoring and tie rules as langid_nb_confusion; the length >= 2
  // guard replays Spark's filter (DuckDB range(1, 1) is empty but
  // the explicit guard keeps both engines' row sets identical)
  lazy val langidHashedConfusion: String =
    """WITH f AS (SELECT doc_id, lang AS true_lang,
                           ('0x' || substr(md5(substr(text, CAST(i AS INT), 2)), 1, 7))::BIGINT % 4096 AS feat
                    FROM (SELECT doc_id, lang, text, unnest(range(1, length(text))) AS i
                          FROM documents WHERE length(text) >= 2)),
              df AS (SELECT doc_id, true_lang, feat, count(*) AS c_df
                     FROM f GROUP BY 1, 2, 3),
              model AS (SELECT true_lang AS lang_m, feat, count(*) AS c_lf
                        FROM f GROUP BY 1, 2),
              lt AS (SELECT true_lang AS lang_m, count(*) AS n_l
                     FROM f GROUP BY 1),
              vc AS (SELECT count(DISTINCT feat) AS v FROM f),
              sc AS (SELECT df.doc_id, df.true_lang, lt.lang_m,
                            CAST(sum(c_df *
                              (CAST(floor(ln(CAST(coalesce(c_lf, 0) + 1 AS DOUBLE)) * 1000000) AS BIGINT)
                               - CAST(floor(ln(CAST(n_l + v AS DOUBLE)) * 1000000) AS BIGINT)))
                              AS BIGINT) AS score
                     FROM df CROSS JOIN lt CROSS JOIN vc
                     LEFT JOIN model ON model.lang_m = lt.lang_m
                                    AND model.feat = df.feat
                     GROUP BY 1, 2, 3),
              pred AS (SELECT true_lang, lang_m AS pred_lang,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY score DESC, lang_m DESC)
                                AS rk
                       FROM sc)
         SELECT true_lang, pred_lang, count(*) AS n_docs
         FROM pred WHERE rk = 1
         GROUP BY 1, 2"""
  // DECIMAL revenue; the cumulative sum runs over the bounded
  // (cohort, offset) curve table
  lazy val ordersCohortLtv: String =
    """WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) // 2592000000000 AS m,
                           CAST(o_totalprice AS DECIMAL(18,2)) AS rev
                    FROM orders),
              ch AS (SELECT o_custkey AS ck, min(m) AS cohort_month
                     FROM o GROUP BY 1),
              cell AS (SELECT cohort_month, m - cohort_month AS month_offset,
                              count(*) AS n_orders, sum(rev) AS rev_dec
                       FROM o JOIN ch ON o_custkey = ck
                       GROUP BY 1, 2)
         SELECT cohort_month, month_offset, n_orders,
                CAST(rev_dec AS DOUBLE) AS revenue,
                CAST(sum(rev_dec) OVER (PARTITION BY cohort_month
                                        ORDER BY month_offset
                                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                  AS cumulative_revenue
         FROM cell"""
  // H = ln n − (Σ c·ln c)/n per user, micro-nat quantized logs
  lazy val userBehaviorEntropy: String =
    """WITH tc AS (SELECT user_id, event_type, count(*) AS c
                     FROM events GROUP BY 1, 2),
              pu AS (SELECT user_id, count(*) AS n_types,
                            CAST(sum(c) AS BIGINT) AS n_events,
                            CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS s
                     FROM tc GROUP BY 1)
         SELECT user_id, n_types, n_events,
                CAST(floor(ln(CAST(n_events AS DOUBLE)) * 1000000) AS BIGINT)
                  - s // n_events AS entropy_micro
         FROM pu"""
  // H(next|cur) = Σ c_cn·(ln c_c − ln c_cn) / N, exact micro-nats
  lazy val markovEntropyRate: String =
    """WITH tr AS (SELECT cur, event_type AS nxt, count(*) AS c_cn
                     FROM (SELECT event_type,
                                  lag(event_type) OVER (PARTITION BY user_id
                                                        ORDER BY ts, event_id) AS cur
                           FROM events)
                     WHERE cur IS NOT NULL
                     GROUP BY 1, 2),
              m AS (SELECT c_cn,
                           CAST(sum(c_cn) OVER (PARTITION BY cur) AS BIGINT) AS c_c
                    FROM tr),
              s AS (SELECT CAST(sum(c_cn) AS BIGINT) AS n_trans,
                           CAST(sum(c_cn * (CAST(floor(ln(CAST(c_c AS DOUBLE)) * 1000000) AS BIGINT)
                                            - CAST(floor(ln(CAST(c_cn AS DOUBLE)) * 1000000) AS BIGINT)))
                                AS BIGINT) AS weighted
                    FROM m)
         SELECT n_trans, weighted // n_trans AS entropy_rate_micro
         FROM s"""
  lazy val fingerprintCollisions: String =
    """WITH h AS (SELECT md5(text) AS h FROM documents),
              e AS (SELECT w, substr(h, 1, w) AS fp
                    FROM h, (SELECT unnest([6, 8, 12]) AS w))
         SELECT CAST(w * 4 AS BIGINT) AS width_bits,
                count(*) AS n_docs,
                CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
                count(*) - CAST(count(DISTINCT fp) AS BIGINT) AS n_collided
         FROM e GROUP BY 1"""
  // expected shares are the same hardcoded micro literals the Spark
  // plan carries; digit from the integer's string, not log10
  lazy val valuesBenfordDigits: String =
    """WITH d AS (SELECT CAST(regexp_extract(CAST(CAST(floor(value * 1000.0) AS BIGINT) AS VARCHAR),
                                               '^([1-9])', 1) AS BIGINT) AS digit
                    FROM events
                    WHERE CAST(floor(value * 1000.0) AS BIGINT) > 0),
              c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
              t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM c),
              e AS (SELECT digit, n_obs, n_total,
                           CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
                                      WHEN 3 THEN 124938 WHEN 4 THEN 96910
                                      WHEN 5 THEN 79181 WHEN 6 THEN 66946
                                      WHEN 7 THEN 57991 WHEN 8 THEN 51152
                                      ELSE 45757 END AS exp_micro
                    FROM c, t)
         SELECT digit, n_obs,
                CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
                CAST(exp_micro AS DOUBLE) / 1e6 AS exp_share,
                (CAST(n_obs AS DOUBLE)
                 - CAST(n_total AS DOUBLE) * CAST(exp_micro AS DOUBLE) / 1e6)
                * (CAST(n_obs AS DOUBLE)
                   - CAST(n_total AS DOUBLE) * CAST(exp_micro AS DOUBLE) / 1e6)
                / (CAST(n_total AS DOUBLE) * CAST(exp_micro AS DOUBLE) / 1e6)
                  AS chi2_term
         FROM e"""
  // weekday baseline via window sums on the bounded (type, day)
  // table; residual is an exact cross-multiplied basis-point integer
  lazy val eventsSeasonalResiduals: String =
    """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                               count(*) AS c
                        FROM events GROUP BY 1, 2),
              m AS (SELECT event_type, day, day % 7 AS weekday, c,
                           count(*) OVER (PARTITION BY event_type, day % 7)
                             AS n_wd,
                           CAST(sum(c) OVER (PARTITION BY event_type, day % 7)
                                AS BIGINT) AS s_wd
                    FROM daily)
         SELECT event_type, day, CAST(weekday AS BIGINT) AS weekday, c,
                ((c * n_wd - s_wd) * 10000) // s_wd AS residual_bps
         FROM m"""
  lazy val eventsTimeToConvert: String =
    """WITH pu AS (SELECT user_id,
                            min(CASE WHEN event_type = 'view'
                                     THEN epoch_us(ts) END) AS v_us,
                            min(CASE WHEN event_type = 'purchase'
                                     THEN epoch_us(ts) END) AS p_us
                     FROM events GROUP BY 1),
              d AS (SELECT (p_us - v_us) // 3600000000 AS hours
                    FROM pu WHERE v_us IS NOT NULL AND p_us > v_us)
         SELECT CAST(len(bin(hours + 1)) - 1 AS BIGINT) AS band,
                count(*) AS n_users,
                min(hours) AS min_hours, max(hours) AS max_hours
         FROM d GROUP BY 1"""
  // (user, day) dedup happens before either rollup; the ratio is
  // one division over exact BIGINTs per month row
  lazy val userStickiness: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                     FROM events),
              udm AS (SELECT user_id, day, day // 30 AS month FROM ud),
              dau AS (SELECT month, count(*) AS n_days,
                             CAST(sum(n_active) AS BIGINT) AS sum_dau
                      FROM (SELECT month, day, count(*) AS n_active
                            FROM udm GROUP BY 1, 2)
                      GROUP BY 1),
              mau AS (SELECT month, count(*) AS mau
                      FROM (SELECT DISTINCT month, user_id FROM udm)
                      GROUP BY 1)
         SELECT mau.month, n_days, sum_dau, mau,
                CAST(sum_dau AS DOUBLE) / CAST(n_days * mau AS DOUBLE)
                  AS stickiness
         FROM mau JOIN dau ON mau.month = dau.month"""
  // each log quantizes to micro-nats before the sum (x_min = 2,
  // continuous-MLE approximation with the −½ offset)
  lazy val activityPowerlawAlpha: String =
    """WITH t AS (SELECT CAST(floor(ln(CAST(count(*) AS DOUBLE) / 1.5) * 1000000)
                               AS BIGINT) AS lnr
                    FROM events GROUP BY user_id
                    HAVING count(*) >= 2),
              s AS (SELECT count(*) AS n_tail_users,
                           CAST(sum(lnr) AS BIGINT) AS sum_ln_micro
                    FROM t)
         SELECT n_tail_users, sum_ln_micro,
                CASE WHEN sum_ln_micro > 0
                     THEN 1.0 + CAST(n_tail_users AS DOUBLE) * 1e6
                          / CAST(sum_ln_micro AS DOUBLE) END AS alpha
         FROM s"""
  // values micro-quantize BEFORE the rollup; derived moments come
  // off the exact sums
  lazy val embeddingDimStats: String =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              ix AS (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e),
              x AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
                           CAST(floor(v[i] * 1000000) AS BIGINT) AS xm
                    FROM ix),
              s AS (SELECT dim, count(*) AS n,
                           CAST(sum(xm) AS BIGINT) AS sum_micro,
                           CAST(sum(xm * xm) AS BIGINT) AS sum2,
                           min(xm) AS min_micro, max(xm) AS max_micro
                    FROM x GROUP BY 1)
         SELECT dim, n, sum_micro, min_micro, max_micro,
                CAST(sum_micro AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mean,
                (CAST(n AS DOUBLE) * CAST(sum2 AS DOUBLE)
                 - CAST(sum_micro AS DOUBLE) * CAST(sum_micro AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1e12 AS variance
         FROM s"""
  // growth in exact basis points ((cur−prev)·10⁴ div prev); first
  // week NULL, not zero
  lazy val ordersWowGrowth: String =
    """WITH wk AS (SELECT epoch_us(o_orderdate) // 604800000000 AS week,
                            count(*) AS n_orders,
                            sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
                     FROM orders GROUP BY 1)
         SELECT week, n_orders, CAST(rev_dec AS DOUBLE) AS revenue,
                CASE WHEN lag(n_orders) OVER (ORDER BY week) IS NOT NULL
                     THEN ((n_orders - lag(n_orders) OVER (ORDER BY week)) * 10000)
                          // lag(n_orders) OVER (ORDER BY week) END AS growth_bps
         FROM wk"""
  // both groups' power sums in one conditional aggregate over
  // micro-quantized values; t is one double expression
  lazy val valuesWelchT: String =
    """WITH a AS (
           SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(floor(value * 1000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(floor(value * 1000.0) AS BIGINT)
                                     * CAST(floor(value * 1000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS n2,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 0
                                ELSE CAST(floor(value * 1000.0) AS BIGINT) END) AS BIGINT) AS s2,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 0
                                ELSE CAST(floor(value * 1000.0) AS BIGINT)
                                     * CAST(floor(value * 1000.0) AS BIGINT) END) AS BIGINT) AS q2
           FROM events),
              v AS (
           SELECT n1, n2, s1, s2, q1, q2,
                  CASE WHEN n1 > 1 THEN
                    (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                       * (CAST(n1 AS DOUBLE) - 1.0)) / 1e6 END AS v1,
                  CASE WHEN n2 > 1 THEN
                    (CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)
                     - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                    / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       * (CAST(n2 AS DOUBLE) - 1.0)) / 1e6 END AS v2
           FROM a)
         SELECT n1, n2,
                CASE WHEN n1 > 0 THEN CAST(s1 AS DOUBLE) / 1e3 / CAST(n1 AS DOUBLE) END
                  AS mean_purchase,
                CASE WHEN n2 > 0 THEN CAST(s2 AS DOUBLE) / 1e3 / CAST(n2 AS DOUBLE) END
                  AS mean_other,
                CASE WHEN n1 > 1 AND n2 > 1 AND v1 + v2 > 0.0
                     THEN (CAST(s1 AS DOUBLE) / 1e3 / CAST(n1 AS DOUBLE)
                           - CAST(s2 AS DOUBLE) / 1e3 / CAST(n2 AS DOUBLE))
                          / sqrt(v1 + v2) END AS welch_t
         FROM v"""
  lazy val graphDegreeHist: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              e AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
                    FROM op a JOIN op b
                      ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
                    GROUP BY 1, 2
                    HAVING count(*) >= 2),
              d AS (SELECT pk, count(*) AS degree
                    FROM (SELECT part_a AS pk FROM e
                          UNION ALL SELECT part_b FROM e)
                    GROUP BY 1)
         SELECT CAST(len(bin(degree)) - 1 AS BIGINT) AS band,
                count(*) AS n_parts,
                min(degree) AS min_degree, max(degree) AS max_degree
         FROM d GROUP BY 1"""
  // probe counters are monotone and mergeable across triggers —
  // that is why the ECDF is stream-maintainable and a quantile not
  lazy val streamValueEcdf: String =
    """SELECT date_trunc('hour', ts) AS w_start, probe, count(*) AS n_le
         FROM events,
              (SELECT unnest([0.5, 1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0]) AS probe)
         WHERE value <= probe
         GROUP BY 1, 2"""
  // band = binary digit count of exact whole seconds (+1 for
  // zero-length single-event sessions)
  lazy val sessionDurationBands: String =
    """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
              s AS (SELECT user_id, tus,
                           CAST(sum(new_s) OVER (PARTITION BY user_id
                                                 ORDER BY tus, event_id
                                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                             AS session_idx
                    FROM o),
              sess AS (SELECT user_id, session_idx, count(*) AS n_events,
                              (max(tus) - min(tus)) // 1000000 AS dur_s
                       FROM s GROUP BY 1, 2)
         SELECT CAST(len(bin(dur_s + 1)) - 1 AS BIGINT) AS band,
                count(*) AS n_sessions,
                CAST(sum(n_events) AS BIGINT) AS sum_events,
                max(dur_s) AS max_duration_s
         FROM sess GROUP BY 1"""
  // truncating day division: Spark `div` and DuckDB `//` agree on
  // negative operands (both truncate toward zero)
  lazy val orderFulfillmentLag: String =
    """WITH lag_t AS (
           SELECT o_orderpriority,
                  (epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000
                    AS lag_days
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT o_orderpriority, count(*) AS n_lines,
                min(lag_days) AS min_lag_days, max(lag_days) AS max_lag_days,
                CAST(sum(lag_days) AS BIGINT) AS sum_lag_days,
                CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_early,
                CAST(sum(lag_days) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS mean_lag_days
         FROM lag_t GROUP BY 1"""
  // Σq and Σq² exact BIGINTs; the HHI ratio is one double expression
  lazy val supplierShareHhi: String =
    """WITH ts AS (SELECT p_type, l_suppkey,
                            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qs
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     GROUP BY 1, 2),
              t AS (SELECT p_type, count(*) AS n_suppliers,
                           CAST(sum(qs) AS BIGINT) AS total_qty,
                           CAST(sum(qs * qs) AS BIGINT) AS s2
                    FROM ts GROUP BY 1)
         SELECT p_type, n_suppliers,
                CAST(s2 AS DOUBLE)
                  / (CAST(total_qty AS DOUBLE) * CAST(total_qty AS DOUBLE)) AS hhi
         FROM t"""
  lazy val boilerplatePrefixes: String =
    """WITH p AS (SELECT array_to_string(
                            list_filter(string_split_regex(text, '\s+'), t -> t != '')[1:8],
                            ' ') AS prefix
                    FROM documents
                    WHERE len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) >= 8),
              tot AS (SELECT count(*) AS n_total FROM p)
         SELECT prefix, count(*) AS n_docs,
                CAST(count(*) AS DOUBLE) / CAST(n_total AS DOUBLE) AS corpus_share
         FROM p, tot
         GROUP BY prefix, n_total
         HAVING count(*) >= 2"""
  // every coordinate bands by exact binary digit count; monetary in
  // floor-quantized cents
  lazy val customerRfm: String =
    """WITH pc AS (SELECT o_custkey, max(o_orderdate) AS last_order,
                            count(*) AS frequency,
                            CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS monetary_cents
                     FROM orders GROUP BY 1),
              mx AS (SELECT max(last_order) AS corpus_max FROM pc)
         SELECT CAST(len(bin((epoch_us(corpus_max) - epoch_us(last_order)) // 86400000000 + 1)) - 1 AS VARCHAR)
                || '-' || CAST(len(bin(frequency)) - 1 AS VARCHAR)
                || '-' || CAST(len(bin(monetary_cents)) - 1 AS VARCHAR) AS segment,
                count(*) AS n_customers,
                CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
         FROM pc, mx GROUP BY 1"""
  lazy val eventsHourProfile: String =
    """WITH c AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
                           count(*) AS cnt
                    FROM events GROUP BY 1, 2)
         SELECT event_type, hr, cnt,
                CAST(cnt AS DOUBLE)
                  / CAST(sum(cnt) OVER (PARTITION BY event_type) AS DOUBLE)
                  AS share
         FROM c"""
  // each cell's log-ratio quantizes to micro-nats before the
  // per-source integer rollup
  lazy val sourceLangKl: String =
    """WITH cells AS (SELECT source, lang, count(*) AS c_sl
                        FROM documents GROUP BY 1, 2),
              m AS (SELECT source, lang, c_sl,
                           CAST(sum(c_sl) OVER (PARTITION BY source) AS BIGINT) AS c_s,
                           CAST(sum(c_sl) OVER (PARTITION BY lang) AS BIGINT) AS c_l,
                           (SELECT CAST(sum(c_sl) AS BIGINT) FROM cells) AS c_tot
                    FROM cells)
         SELECT source, max(c_s) AS n_docs,
                CAST(sum(c_sl * CAST(floor(ln(CAST(c_sl * c_tot AS DOUBLE)
                                             / CAST(c_s * c_l AS DOUBLE)) * 1000000)
                                     AS BIGINT)) AS BIGINT) // max(c_s) AS kl_micro
         FROM m GROUP BY source"""
  // Poisson(1) weights by CDF inversion of a uniform md5 hash —
  // deterministic on both engines; DECIMAL replicate sums
  lazy val revenueBootstrap: String =
    """WITH reps AS (SELECT CAST(unnest(range(0, 32)) AS BIGINT) AS rep),
              draws AS (
           SELECT rep,
                  CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS rev,
                  ('0x' || substr(md5('boot:' || CAST(rep AS VARCHAR) || ':'
                                      || CAST(l_orderkey AS VARCHAR) || ':'
                                      || CAST(l_linenumber AS VARCHAR)), 1, 7))::BIGINT
                    % 1000000 AS u
           FROM lineitem, reps)
         SELECT rep,
                CAST(sum(rev * CASE WHEN u < 367879 THEN 0
                                    WHEN u < 735758 THEN 1
                                    WHEN u < 919698 THEN 2
                                    WHEN u < 980947 THEN 3
                                    WHEN u < 996259 THEN 4
                                    WHEN u < 999999 THEN 5
                                    ELSE 6 END) AS DOUBLE) AS boot_revenue
         FROM draws GROUP BY rep"""
  lazy val nationRevenueShare: String =
    """WITH nr AS (SELECT r_name, n_name,
                            sum(CAST(o_totalprice AS DECIMAL(18,2))) AS nation_rev
                     FROM orders, customer, nation, region
                     WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
                       AND n_regionkey = r_regionkey
                     GROUP BY 1, 2)
         SELECT r_name, n_name,
                CAST(nation_rev AS DOUBLE) AS nation_revenue,
                CAST(sum(nation_rev) OVER (PARTITION BY r_name) AS DOUBLE)
                  AS region_revenue,
                CAST(nation_rev AS DOUBLE)
                  / CAST(sum(nation_rev) OVER (PARTITION BY r_name) AS DOUBLE)
                  AS share
         FROM nr"""
  // Fano factor as an integer cross-multiplication in micro-units;
  // single-day users carry no dispersion evidence → NULL
  lazy val eventsBurstiness: String =
    """WITH dc AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                            count(*) AS c
                     FROM events GROUP BY 1, 2),
              pu AS (SELECT user_id, count(*) AS n_days,
                            CAST(sum(c) AS BIGINT) AS n_events,
                            CAST(sum(c * c) AS BIGINT) AS s2
                     FROM dc GROUP BY 1)
         SELECT user_id, n_days, n_events,
                CASE WHEN n_days > 1
                     THEN ((n_days * s2 - n_events * n_events) * 1000000)
                          // (n_days * n_events) END AS fano_micro
         FROM pu"""
  // exact BIGINT sums over the observed adjacent-day pairs; the one
  // non-exact step is the final Pearson ratio (sqrt is correctly
  // rounded per IEEE 754)
  lazy val eventsAutocorrLag1: String =
    """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                               count(*) AS c
                        FROM events GROUP BY 1, 2),
              pairs AS (SELECT event_type, c,
                               lag(c) OVER (PARTITION BY event_type
                                            ORDER BY day) AS c_prev
                        FROM daily),
              s AS (SELECT event_type, count(*) AS m,
                           CAST(sum(c_prev) AS BIGINT) AS sx,
                           CAST(sum(c) AS BIGINT) AS sy,
                           CAST(sum(c_prev * c) AS BIGINT) AS sxy,
                           CAST(sum(c_prev * c_prev) AS BIGINT) AS sxx,
                           CAST(sum(c * c) AS BIGINT) AS syy
                    FROM pairs WHERE c_prev IS NOT NULL
                    GROUP BY 1)
         SELECT event_type, m,
                CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
                     THEN (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                 * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     END AS autocorr_lag1
         FROM s"""
  // H = ln n − (Σ c·ln c)/n with both logs micro-nat quantized
  // before aggregation and an integer final division
  lazy val docTokenEntropy: String =
    """WITH tc AS (SELECT doc_id, token, count(*) AS c
                     FROM (SELECT doc_id,
                                  unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS token
                           FROM documents)
                     GROUP BY 1, 2),
              pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                            CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS s
                     FROM tc GROUP BY 1)
         SELECT doc_id, n_tokens,
                CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                  - s // n_tokens AS entropy_micro
         FROM pd"""
  lazy val eventsValueEcdf: String =
    """WITH tot AS (SELECT count(*) AS n_total FROM events),
              hits AS (SELECT probe, count(*) AS n_le
                       FROM events,
                            (SELECT unnest([0.5, 1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0]) AS probe)
                       WHERE value <= probe
                       GROUP BY 1)
         SELECT probe, n_le,
                CAST(n_le AS DOUBLE) / CAST(n_total AS DOUBLE) AS ecdf
         FROM hits, tot"""
  // band = binary digit count of the exact integer, never a
  // floating log2 (log2(2^k) can land a hair under k in libm)
  lazy val userActivityLog2Bands: String =
    """WITH pu AS (SELECT user_id, count(*) AS n_events
                     FROM events GROUP BY 1)
         SELECT CAST(len(bin(n_events)) - 1 AS BIGINT) AS band,
                count(*) AS n_users,
                min(n_events) AS min_events, max(n_events) AS max_events
         FROM pu GROUP BY 1"""
  // Σv in DECIMAL, Σv² as floor-quantized integer micro-units —
  // both order-free; floor(double) is bit-identical on both engines
  lazy val streamMoments: String =
    """SELECT date_trunc('hour', ts) AS w_start, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
                CAST(sum(CAST(floor(value * value * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_v2_micro,
                min(value) AS min_v, max(value) AS max_v,
                CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_v
         FROM events GROUP BY 1, 2"""
  // counts are exact integer doubles and 0.5 is exactly
  // representable, so both interpolated medians replay exactly
  lazy val eventRateMad: String =
    """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                               count(*) AS cnt
                        FROM events GROUP BY 1, 2),
              med AS (SELECT event_type AS t1, quantile_cont(cnt, 0.5) AS med
                      FROM daily GROUP BY 1),
              dev AS (SELECT event_type, abs(CAST(cnt AS DOUBLE) - med) AS dev,
                             med
                      FROM daily JOIN med ON event_type = t1),
              mad AS (SELECT event_type AS t2, quantile_cont(dev, 0.5) AS mad
                      FROM dev GROUP BY 1)
         SELECT event_type, count(*) AS n_days, max(med) AS med,
                max(mad) AS mad,
                CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_anomalous_days
         FROM dev JOIN mad ON event_type = t2
         GROUP BY 1"""
  // χ² computed IN double from the four exact integer cells:
  // (ad−bc)² overflows BIGINT past ~10⁹ users
  lazy val abTestChi2: String =
    """WITH ev AS (SELECT ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 7))::BIGINT % 2 AS variant,
                            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
                     FROM events),
              cells AS (
           SELECT CAST(sum(CASE WHEN variant = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN variant = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN variant = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN variant = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM ev)
         SELECT a, b, c, d,
                CASE WHEN CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                          * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE) <> 0.0
                     THEN CAST(a + b + c + d AS DOUBLE)
                          * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                             - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                          * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                             - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                          / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                             * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
                     END AS chi2
         FROM cells"""
  lazy val eventTrigramPaths: String =
    """SELECT t1 || '>' || t2 || '>' || event_type AS path, count(*) AS n
         FROM (SELECT event_type,
                      lag(event_type, 2) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS t1,
                      lag(event_type, 1) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS t2
               FROM events)
         WHERE t1 IS NOT NULL
         GROUP BY 1"""
  // both coordinates quantize to exact integers before aggregation;
  // slope/intercept are per-row double expressions over BIGINT sums
  lazy val priceQuantityOls: String =
    """WITH pts AS (SELECT p_brand, CAST(l_quantity AS BIGINT) AS x,
                             CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS y
                      FROM lineitem JOIN part ON l_partkey = p_partkey),
              s AS (SELECT p_brand, count(*) AS n,
                           CAST(sum(x) AS BIGINT) AS sx,
                           CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(x * y) AS BIGINT) AS sxy,
                           CAST(sum(x * x) AS BIGINT) AS sxx
                    FROM pts GROUP BY 1)
         SELECT p_brand, n,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  AS slope_cents_per_unit,
                (CAST(sy AS DOUBLE)
                 - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE) AS intercept_cents
         FROM s"""
  lazy val referentialIntegrityAudit: String =
    """SELECT 'lineitem.orderkey->orders' AS edge,
                count(DISTINCT l_orderkey) AS n_keys,
                CAST(count(DISTINCT CASE WHEN o_orderkey IS NULL
                                         THEN l_orderkey END) AS BIGINT) AS n_orphans
         FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
         UNION ALL
         SELECT 'lineitem.partkey->part', count(DISTINCT l_partkey),
                CAST(count(DISTINCT CASE WHEN p_partkey IS NULL
                                         THEN l_partkey END) AS BIGINT)
         FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
         UNION ALL
         SELECT 'lineitem.suppkey->supplier', count(DISTINCT l_suppkey),
                CAST(count(DISTINCT CASE WHEN s_suppkey IS NULL
                                         THEN l_suppkey END) AS BIGINT)
         FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
         UNION ALL
         SELECT 'orders.custkey->customer', count(DISTINCT o_custkey),
                CAST(count(DISTINCT CASE WHEN c_custkey IS NULL
                                         THEN o_custkey END) AS BIGINT)
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         UNION ALL
         SELECT 'customer.nationkey->nation', count(DISTINCT c_nationkey),
                CAST(count(DISTINCT CASE WHEN n_nationkey IS NULL
                                         THEN c_nationkey END) AS BIGINT)
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         UNION ALL
         SELECT 'supplier.nationkey->nation', count(DISTINCT s_nationkey),
                CAST(count(DISTINCT CASE WHEN n_nationkey IS NULL
                                         THEN s_nationkey END) AS BIGINT)
         FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
         UNION ALL
         SELECT 'nation.regionkey->region', count(DISTINCT n_regionkey),
                CAST(count(DISTINCT CASE WHEN r_regionkey IS NULL
                                         THEN n_regionkey END) AS BIGINT)
         FROM nation LEFT JOIN region ON n_regionkey = r_regionkey"""
  // lift stays integer (n_ab·N, n_a·n_b) until the final ratio
  lazy val partPairLift: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              pp AS (SELECT l_partkey AS pk, count(*) AS n_part
                     FROM op GROUP BY 1),
              tot AS (SELECT count(*) AS n_orders_total
                      FROM (SELECT DISTINCT l_orderkey FROM op)),
              pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                               count(*) AS n_ab
                        FROM op a JOIN op b
                          ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
                        GROUP BY 1, 2
                        HAVING count(*) >= 3)
         SELECT part_a, part_b, n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
                CAST(n_ab * n_orders_total AS DOUBLE)
                / CAST(pa.n_part * pb.n_part AS DOUBLE) AS lift
         FROM pairs, tot
         JOIN pp pa ON part_a = pa.pk
         JOIN pp pb ON part_b = pb.pk"""
  // EXISTS / NOT EXISTS decorrelated into per-order integer counts
  // over the deduped (order, supplier) pair table
  lazy val q21WaitingSuppliers: String =
    """WITH pairs AS (
           SELECT l_orderkey, l_suppkey,
                  max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
           FROM lineitem GROUP BY 1, 2),
              po AS (SELECT l_orderkey AS ok, count(*) AS n_supp,
                            sum(ret) AS n_ret
                     FROM pairs GROUP BY 1)
         SELECT CAST(s_suppkey AS BIGINT) AS suppkey, s_name AS supp_name,
                count(*) AS numwait
         FROM pairs JOIN po ON l_orderkey = ok
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE ret = 1 AND n_supp > 1 AND n_ret = 1
         GROUP BY 1, 2"""
  // avg-balance threshold cross-multiplied in DECIMAL (bal·cnt > total)
  lazy val q22IdleCustomers: String =
    """WITH cust AS (SELECT c_custkey, c_nationkey,
                              CAST(c_acctbal AS DECIMAL(18,2)) AS bal
                       FROM customer),
              pa AS (SELECT sum(bal) AS pos_total, count(*) AS pos_cnt
                     FROM cust WHERE bal > 0)
         SELECT CAST(c_nationkey AS INT) AS nationkey, count(*) AS numcust,
                CAST(sum(bal) AS DOUBLE) AS totacctbal
         FROM cust, pa
         WHERE bal * pos_cnt > pos_total
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1"""
  // sqrt(sqrt(n)) is correctly rounded on both engines (pow is not);
  // the weight total sums integer micro-units so it is order-free.
  lazy val mixtureTemperature: String =
    """WITH ps AS (SELECT source,
                            CAST(sum(len(list_filter(
                              string_split_regex(text, '\s+'), t -> t != '')))
                              AS BIGINT) AS n_tokens
                     FROM documents GROUP BY source),
              w AS (SELECT source, n_tokens,
                           CAST(floor(sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
                                      * 1000000.0) AS BIGINT) AS wq
                    FROM ps),
              tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens,
                             CAST(sum(wq) AS BIGINT) AS w_tot
                      FROM w)
         SELECT source, n_tokens,
                CAST(n_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE)
                  AS natural_p,
                CAST(wq AS DOUBLE) / CAST(w_tot AS DOUBLE) AS mix_q,
                CAST(wq AS DOUBLE) / CAST(w_tot AS DOUBLE) * 1000000.0
                  / CAST(n_tokens AS DOUBLE) AS epochs_at_budget
         FROM w, tot"""
  // DECIMAL merge keeps the maintained total identical to a
  // from-scratch recompute
  lazy val ordersDeltaAgg: String =
    """WITH base AS (SELECT o_custkey, count(*) AS n_base,
                              sum(CAST(o_totalprice AS DECIMAL(18,2))) AS t_base
                       FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
                       GROUP BY o_custkey),
              delta AS (SELECT o_custkey, count(*) AS n_delta,
                               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS t_delta
                        FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
                        GROUP BY o_custkey)
         SELECT coalesce(base.o_custkey, delta.o_custkey) AS o_custkey,
                coalesce(n_base, 0) AS n_base,
                coalesce(n_delta, 0) AS n_delta,
                coalesce(n_base, 0) + coalesce(n_delta, 0) AS n_total,
                CAST(coalesce(t_base, CAST(0 AS DECIMAL(18,2)))
                     + coalesce(t_delta, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_price
         FROM base FULL OUTER JOIN delta ON base.o_custkey = delta.o_custkey"""
  // sessions × incident-days: the theta interval join replayed
  // directly; the Spark plan's day-bucket equi-join is exactly
  // equivalent for closed day-aligned incident intervals
  lazy val eventsIncidentOverlap: String =
    """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
              sx AS (SELECT user_id, tus,
                            CAST(sum(new_s) OVER (PARTITION BY user_id
                                                  ORDER BY tus, event_id
                                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                              AS session_idx
                     FROM o),
              sess AS (SELECT user_id, session_idx,
                              min(tus) AS s0, max(tus) AS s1
                       FROM sx GROUP BY user_id, session_idx),
              pd AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                            count(*) AS cnt
                     FROM events GROUP BY 1, 2),
              pt AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS tot,
                            count(*) AS n_days
                     FROM pd GROUP BY 1),
              inc AS (SELECT pd.event_type,
                             day * 86400000000 AS i0,
                             (day + 1) * 86400000000 - 1 AS i1
                      FROM pd JOIN pt ON pd.event_type = pt.event_type
                      WHERE cnt * n_days * 100 >= tot * 115)
         SELECT user_id, event_type,
                count(*) AS n_session_day_pairs,
                count(DISTINCT session_idx) AS n_sessions,
                CAST(sum(least(s1, i1) - greatest(s0, i0)) AS BIGINT)
                  AS sum_overlap_us
         FROM sess JOIN inc ON s0 <= i1 AND i0 <= s1
         GROUP BY user_id, event_type"""
  // the sketch is replayed counter-for-counter: same md5 row hashes,
  // same 3×64 grid, min over rows; overcount ≥ 0 by construction
  lazy val userCmsTopk: String =
    """WITH ev AS (SELECT user_id FROM events),
              keyed AS (SELECT r,
                               ('0x' || substr(md5('cms:' || r || ':' || user_id),
                                               1, 7))::BIGINT % 64 AS b
                        FROM ev, (SELECT unnest([0, 1, 2]) AS r)),
              counters AS (SELECT r, b, count(*) AS c FROM keyed GROUP BY r, b),
              exact AS (SELECT user_id, count(*) AS exact_cnt
                        FROM ev GROUP BY user_id),
              tot AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS n_tot,
                             count(*) AS n_users FROM exact),
              heavy AS (SELECT user_id, exact_cnt FROM exact, tot
                        WHERE exact_cnt * n_users * 10 >= n_tot * 12),
              probes AS (SELECT user_id, exact_cnt, r,
                                ('0x' || substr(md5('cms:' || r || ':' || user_id),
                                                1, 7))::BIGINT % 64 AS b
                         FROM heavy, (SELECT unnest([0, 1, 2]) AS r))
         SELECT user_id, exact_cnt,
                CAST(min(c) AS BIGINT) AS cms_est,
                CAST(min(c) - exact_cnt AS BIGINT) AS overcount
         FROM probes JOIN counters USING (r, b)
         GROUP BY user_id, exact_cnt"""
  // ±1 signs from md5 parity of (i, j); BIGINT projections are exact
  lazy val embeddingRandomProjection: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
              m AS (SELECT vec_id, v,
                           list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
              x AS (SELECT vec_id, v, ma,
                           unnest(range(1, len(v) + 1)) AS i FROM m),
              q AS (SELECT vec_id, cast(i - 1 AS INT) AS i,
                           CASE WHEN ma = 0.0 THEN 0
                                ELSE greatest(-127, least(127,
                                       cast(floor(v[i] * 127.0 / ma) AS BIGINT)))
                           END AS qi
                    FROM x),
              s AS (SELECT i, j,
                           CASE WHEN ('0x' || substr(md5('jl:' || i || ':' || j),
                                                     1, 7))::BIGINT % 2 = 0
                                THEN 1 ELSE -1 END AS s
                    FROM (SELECT DISTINCT i FROM q),
                         (SELECT cast(unnest(range(0, 16)) AS INT) AS j))
         SELECT q.vec_id, s.j, CAST(sum(qi * s) AS BIGINT) AS y
         FROM q JOIN s ON q.i = s.i
         GROUP BY q.vec_id, s.j"""
  // integral-valued quantities → double sums are exact in any order
  lazy val q18LargeOrders: String =
    """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
                      FROM lineitem GROUP BY l_orderkey
                      HAVING sum(l_quantity) > 300.0)
         SELECT c_name, o_orderkey, total_qty
         FROM big
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey"""
  lazy val copurchaseTriangles: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              pairs AS (SELECT a.l_partkey AS a, b.l_partkey AS b
                        FROM op a JOIN op b
                          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                        GROUP BY a.l_partkey, b.l_partkey
                        HAVING count(*) >= 2)
         SELECT count(*) AS n_triangles
         FROM pairs e1
         JOIN pairs e2 ON e1.b = e2.a
         WHERE EXISTS (SELECT 1 FROM pairs e3
                       WHERE e3.a = e1.a AND e3.b = e2.b)"""
  // tokens are whitespace-split, so the bigram string splits back on
  // its single interior space exactly; CAST on the context sum pins
  // DuckDB's HUGEINT to BIGINT.
  lazy val ngramLmProbs: String =
    """WITH b AS (SELECT unnest(list_transform(range(1, len(ts)),
                             i -> ts[i] || ' ' || ts[i+1])) AS bgm
                    FROM (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                          FROM documents)
                    WHERE len(ts) >= 2),
              bg AS (SELECT split_part(bgm, ' ', 1) AS w1,
                            split_part(bgm, ' ', 2) AS w2, count(*) AS cnt
                     FROM b GROUP BY 1, 2),
              ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt
                      FROM bg GROUP BY w1)
         SELECT bg.w1, w2, cnt, ctx_cnt,
                CAST(cnt AS DOUBLE) / ctx_cnt AS prob
         FROM bg JOIN ctx ON bg.w1 = ctx.w1"""
  // Per-bigram log-probs quantized to integer micro-nats
  // (floor(ln(p)*1e6)): ln differs across engines in the last ulp on
  // ~0.1% of inputs, and a DOUBLE sum is partition-order-dependent —
  // BIGINT micro-nat sums are exact and order-free. The one double
  // column is a single division chain over identical operands.
  lazy val docPerplexity: String =
    s"""WITH $perplexityCtes
         SELECT doc_id, n_bigrams, nll_micro,
                CAST(nll_micro AS DOUBLE) / n_bigrams / 1000000.0 AS avg_nll
         FROM agg"""
  // CCNet head/middle/tail: per-lang tertile thresholds from a
  // (lang, score) histogram cumulative — integer scores, integer
  // cross-multiplied rank cuts, ties land low. Replays the full
  // perplexity chain, then the same threshold arithmetic.
  lazy val perplexityBuckets: String =
    s"""WITH $perplexityCtes,
              sc AS (SELECT agg.doc_id, nll_micro // n_bigrams AS score, lang
                     FROM agg JOIN documents d ON agg.doc_id = d.doc_id),
              hist AS (SELECT lang, score, count(*) AS cnt FROM sc GROUP BY lang, score),
              cum AS (SELECT lang, score,
                             CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY score) AS BIGINT) AS cum
                      FROM hist),
              n AS (SELECT lang, count(*) AS n_docs FROM sc GROUP BY lang),
              th AS (SELECT lang,
                            min(CASE WHEN cum * 3 >= n_docs THEN score END) AS t1,
                            min(CASE WHEN cum * 3 >= n_docs * 2 THEN score END) AS t2
                     FROM cum JOIN n USING (lang) GROUP BY lang)
         SELECT doc_id, sc.lang, score,
                CASE WHEN score <= t1 THEN 'head'
                     WHEN score <= t2 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM sc JOIN th ON sc.lang = th.lang"""
  // interpolated Kneser-Ney, d = 3/4 (exactly representable): the
  // probability expression mirrors the Spark operation order token
  // for token, so the doubles are bit-identical
  lazy val kneserNeyProbs: String =
    """WITH b AS (SELECT unnest(list_transform(range(1, len(ts)),
                             i -> ts[i] || ' ' || ts[i+1])) AS bgm
                    FROM (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                          FROM documents)
                    WHERE len(ts) >= 2),
              bg AS (SELECT split_part(bgm, ' ', 1) AS w1,
                            split_part(bgm, ' ', 2) AS w2, count(*) AS cnt
                     FROM b GROUP BY 1, 2),
              st AS (SELECT w1, w2, cnt,
                            CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS ctx_cnt,
                            CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1_succ,
                            CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS n1_pred
                     FROM bg),
              d AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bg)
         SELECT w1, w2, cnt, ctx_cnt, n1_succ, n1_pred, n_types,
                (CAST(cnt AS DOUBLE) - CAST(0.75 AS DOUBLE)) / ctx_cnt
                  + (CAST(0.75 AS DOUBLE) * n1_succ / ctx_cnt)
                    * (CAST(n1_pred AS DOUBLE) / n_types) AS prob_kn
         FROM st, d"""
  // trigram KN with continuation backoff: the probability chain is
  // mirrored operation-for-operation against the Spark expression so
  // the one double column is bit-identical (same IEEE operation
  // order over the same exact integers)
  lazy val trigramKnProbs: String =
    """WITH t AS (SELECT unnest(list_transform(range(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tgm
                    FROM (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                          FROM documents)
                    WHERE len(ts) >= 3),
              tri AS (SELECT split_part(tgm, ' ', 1) AS w1,
                             split_part(tgm, ' ', 2) AS w2,
                             split_part(tgm, ' ', 3) AS w3, count(*) AS cnt
                      FROM t GROUP BY 1, 2, 3),
              typ AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS t_cnt
                      FROM tri GROUP BY 1, 2),
              typw AS (SELECT w2, w3, t_cnt,
                              CAST(sum(t_cnt) OVER (PARTITION BY w2) AS BIGINT) AS t_ctx,
                              CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS t_succ,
                              CAST(count(*) OVER (PARTITION BY w3) AS BIGINT) AS n1_pred
                       FROM typ),
              st AS (SELECT w1, w2, w3, cnt,
                            CAST(sum(cnt) OVER (PARTITION BY w1, w2) AS BIGINT) AS ctx_cnt,
                            CAST(count(*) OVER (PARTITION BY w1, w2) AS BIGINT) AS n1_succ
                     FROM tri),
              dd AS (SELECT CAST(count(*) AS BIGINT) AS n_bg_types FROM typ)
         SELECT w1, w2, w3, cnt, ctx_cnt, n1_succ, t_cnt, t_ctx, t_succ,
                n1_pred, n_bg_types,
                (CAST(cnt AS DOUBLE) - CAST(0.75 AS DOUBLE)) / ctx_cnt
                  + (CAST(0.75 AS DOUBLE) * n1_succ / ctx_cnt)
                    * ((CAST(t_cnt AS DOUBLE) - CAST(0.75 AS DOUBLE)) / t_ctx
                       + (CAST(0.75 AS DOUBLE) * t_succ / t_ctx)
                         * (CAST(n1_pred AS DOUBLE) / n_bg_types)) AS prob_kn
         FROM st JOIN typw USING (w2, w3), dd"""
  // Gopher heuristic filters: integer cross-multiplied thresholds
  lazy val gopherRules: String =
    """WITH t AS (SELECT doc_id,
                           list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ts
                    FROM documents),
              m AS (SELECT doc_id,
                           CAST(len(ts) AS BIGINT) AS n_tokens,
                           CAST(coalesce(list_sum(list_transform(ts, x -> length(x))), 0)
                             AS BIGINT) AS sum_token_len,
                           CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]')))
                             AS BIGINT) AS n_alpha_words,
                           CAST(len(list_intersect(list_distinct(ts),
                             ['the','be','to','of','and','that','have','with'])) AS BIGINT)
                             AS n_stop_distinct
                    FROM t)
         SELECT doc_id, n_tokens, sum_token_len, n_alpha_words, n_stop_distinct,
                (n_tokens >= 50 AND n_tokens <= 100000) AS r_count,
                (3 * n_tokens <= sum_token_len AND sum_token_len <= 10 * n_tokens) AS r_len,
                (5 * n_alpha_words >= 4 * n_tokens) AS r_alpha,
                (n_stop_distinct >= 2) AS r_stop,
                ((n_tokens >= 50 AND n_tokens <= 100000)
                 AND (3 * n_tokens <= sum_token_len AND sum_token_len <= 10 * n_tokens)
                 AND (5 * n_alpha_words >= 4 * n_tokens)
                 AND (n_stop_distinct >= 2)) AS keep
         FROM m"""
  // Per-source acquisition-triage rollup: each signal CTE is the
  // corresponding single-operator oracle verbatim (gopher_rules,
  // quality_classifier, lang_id, pii_redact), joined id-to-id and
  // rolled up — same composition as the Spark plan.
  lazy val sourceQualityReport: String =
    s"""WITH t AS (SELECT doc_id,
                            list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS ts
                     FROM documents),
              m AS (SELECT doc_id,
                           CAST(len(ts) AS BIGINT) AS n_tokens,
                           CAST(coalesce(list_sum(list_transform(ts, x -> length(x))), 0)
                             AS BIGINT) AS sum_token_len,
                           CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]')))
                             AS BIGINT) AS n_alpha_words,
                           CAST(len(list_intersect(list_distinct(ts),
                             ['the','be','to','of','and','that','have','with'])) AS BIGINT)
                             AS n_stop_distinct
                    FROM t),
              g AS (SELECT doc_id,
                           ((n_tokens >= 50 AND n_tokens <= 100000)
                            AND (3 * n_tokens <= sum_token_len AND sum_token_len <= 10 * n_tokens)
                            AND (5 * n_alpha_words >= 4 * n_tokens)
                            AND (n_stop_distinct >= 2)) AS g_keep
                    FROM m),
              w AS (SELECT ${QualityWeights.W.mkString("[", ", ", "]")}::BIGINT[] AS a),
              q AS (SELECT doc_id,
                           (${QualityWeights.Bias} + coalesce(list_sum(list_transform(ts,
                              x -> a[('0x' || substr(md5(x), 1, 7))::BIGINT % 1024 + 1])), 0)) > 0
                             AS q_keep
                    FROM t, w),
              l AS (SELECT doc_id,
                           CASE WHEN ratio >= 0.10 THEN 'en'
                                WHEN ratio >= 0.03 THEN 'en_low'
                                ELSE 'other' END AS pred_lang
                    FROM (SELECT doc_id,
                                 cast(len(list_filter(ts, x -> x IN ('the','a','of','and','to','is','in'))) AS DOUBLE) / len(ts) AS ratio
                          FROM t)),
              p AS (SELECT doc_id,
                           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}'))
                             + len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%?=&-]+'))
                             + len(regexp_extract_all(text, '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}'))
                             AS n_pii
                    FROM documents)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN g_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_keep,
                CAST(sum(CASE WHEN q_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_keep,
                CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
                CAST(sum(n_pii) AS BIGINT) AS n_pii
         FROM documents
           JOIN g USING (doc_id) JOIN q USING (doc_id)
           JOIN l USING (doc_id) JOIN p USING (doc_id)
         GROUP BY source"""
  // tokenize-to-ids against the vocab_build top-1000 vocabulary;
  // OOV → -1; ids reassembled in position order
  lazy val encodeTokens: String =
    """WITH c AS (SELECT token, count(*) AS cnt
                    FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS token
                          FROM documents)
                    GROUP BY token),
              v AS (SELECT token, tid AS token_id
                    FROM (SELECT token,
                                 CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) - 1 AS tid
                          FROM c)
                    WHERE tid < 1000),
              tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              e AS (SELECT doc_id, pos, ts[pos] AS t
                    FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM tk)),
              j AS (SELECT doc_id, pos, coalesce(token_id, -1) AS id,
                           token_id IS NULL AS oov
                    FROM e LEFT JOIN v ON e.t = v.token),
              agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                             CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                             list(id ORDER BY pos) AS ids
                      FROM j GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(n_tokens, 0) AS n_tokens,
                coalesce(n_oov, 0) AS n_oov,
                coalesce(array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), ','), '')
                  AS ids
         FROM documents d LEFT JOIN agg USING (doc_id)"""
  lazy val corpusShuffle: String =
    """SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         FROM (SELECT doc_id, h, h % 64 AS shard
               FROM (SELECT doc_id,
                            ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                     FROM documents))"""
  lazy val vocabBuild: String =
    """WITH c AS (SELECT token, count(*) AS cnt
                    FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS token
                          FROM documents)
                    GROUP BY token)
         SELECT token, cnt, tid AS token_id
         FROM (SELECT token, cnt,
                      CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) - 1 AS tid
               FROM c)
         WHERE tid < 1000"""
  lazy val dedupIncremental: String =
    """WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
              cut AS (SELECT max(doc_id) * 8 // 10 AS c FROM d),
              idx AS (SELECT h, min(doc_id) AS existing_id
                      FROM d, cut WHERE doc_id <= c GROUP BY h),
              b AS (SELECT doc_id, h FROM d, cut WHERE doc_id > c),
              bm AS (SELECT h, min(doc_id) AS batch_min FROM b GROUP BY h)
         SELECT b.doc_id, coalesce(existing_id, batch_min) AS dup_of
         FROM b JOIN bm USING (h) LEFT JOIN idx USING (h)
         WHERE existing_id IS NOT NULL OR b.doc_id != batch_min"""
  // oracle is the UNSALTED aggregation — the salt is a pure
  // partitioning refinement the result must be invariant to
  lazy val eventsSaltedUserCounts: String =
    """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY user_id"""
  lazy val ordersScd2: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
                epoch_us(o_orderdate) AS valid_from_us,
                lead(epoch_us(o_orderdate)) OVER w AS valid_to_us,
                lead(epoch_us(o_orderdate)) OVER w IS NULL AS is_current
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY epoch_us(o_orderdate), o_orderkey)"""
  lazy val customerQuartiles: String =
    """SELECT quartile, count(*) AS n_customers,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
                min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
         FROM (SELECT c_custkey, c_acctbal,
                      CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT)
                        AS quartile
               FROM customer)
         GROUP BY quartile"""
  lazy val eventsCube: String =
    """SELECT event_type, band, count(*) AS cnt,
                CAST(grouping(event_type) AS BIGINT) AS g_type,
                CAST(grouping(band) AS BIGINT) AS g_band
         FROM (SELECT event_type,
                      CAST(floor(value / 10.0) AS BIGINT) AS band
               FROM events)
         GROUP BY CUBE (event_type, band)"""
  // max(struct) ties → greater brand string, same as this window's
  // (cnt DESC, brand DESC) rank-1 row
  lazy val topBrandPerType: String =
    """SELECT p_type, brand, cnt FROM (
           SELECT p_type, p_brand AS brand, count(*) AS cnt,
                  row_number() OVER (PARTITION BY p_type
                                     ORDER BY count(*) DESC, p_brand DESC) AS rn
           FROM part GROUP BY p_type, p_brand)
         WHERE rn = 1"""
  lazy val eventsPropsKeys: String =
    """SELECT key, count(*) AS n_events,
                CAST(sum(TRY_CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS BIGINT)
                  AS sum_val
         FROM (SELECT props, unnest(json_keys(props)) AS key
               FROM events WHERE json_valid(props))
         GROUP BY key"""
  // quality-aware argmax per near-dup component (most chars, ties to
  // the smaller doc_id) — replayed as the rank-1 window row
  lazy val dedupCanonical: String =
    s"""WITH RECURSIVE $componentCtes,
              lbl AS (SELECT doc_id, min(label) AS comp FROM reach GROUP BY doc_id)
         SELECT comp, doc_id AS canonical_id, n_chars AS canonical_chars, n_members
         FROM (SELECT comp, doc_id, n_chars,
                      row_number() OVER (PARTITION BY comp
                                         ORDER BY n_chars DESC, doc_id ASC) AS rn,
                      CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS n_members
               FROM lbl JOIN documents USING (doc_id))
         WHERE rn = 1"""
  lazy val spanDupFraction: String =
    """WITH tk AS (SELECT doc_id,
                            list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              g AS (SELECT doc_id,
                           unnest(list_transform(range(1, len(ts) - 6),
                                                 i -> md5(array_to_string(ts[i:i+7], ' ')))) AS g
                    FROM tk WHERE len(ts) >= 8),
              pdg AS (SELECT doc_id, g, count(*) AS n_pos FROM g GROUP BY doc_id, g),
              df AS (SELECT g, count(*) AS n_docs FROM pdg GROUP BY g)
         SELECT doc_id,
                CAST(sum(n_pos) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN n_docs >= 2 THEN n_pos ELSE 0 END) AS BIGINT) AS n_dup_grams,
                CAST(sum(CASE WHEN n_docs >= 2 THEN n_pos ELSE 0 END) AS DOUBLE)
                  / CAST(sum(n_pos) AS DOUBLE) AS dup_frac
         FROM pdg JOIN df USING (g)
         GROUP BY doc_id"""
  // the bloom prefilter is exact (no false negatives; positives are
  // re-checked by the join), so the oracle is the bloom-free probe
  lazy val dedupBloomPrefilter: String =
    """WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
              cut AS (SELECT max(doc_id) * 8 // 10 AS c FROM d),
              idx AS (SELECT h, min(doc_id) AS existing_id
                      FROM d, cut WHERE doc_id <= c GROUP BY h)
         SELECT b.doc_id, existing_id
         FROM (SELECT doc_id, h FROM d, cut WHERE doc_id > c) b
         JOIN idx USING (h)"""
  // all-integer systematic PPS sampling — both engines replay the
  // identical cumsum + stride arithmetic
  lazy val weightedSample: String =
    """WITH d AS (SELECT doc_id, n_chars, doc_id % 32 AS shard FROM documents),
              c AS (SELECT doc_id, n_chars, shard,
                           CAST(sum(n_chars) OVER (PARTITION BY shard
                                                   ORDER BY doc_id) AS BIGINT) AS cum_in_shard
                    FROM d),
              o AS (SELECT shard, CAST(max(cum_in_shard) AS BIGINT) AS shard_total
                    FROM c GROUP BY shard),
              o2 AS (SELECT shard,
                            CAST(coalesce(sum(shard_total)
                                   OVER (ORDER BY shard
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                 0) AS BIGINT) AS off
                     FROM o),
              t AS (SELECT greatest(CAST(sum(n_chars) AS BIGINT) // 100, 1) AS stride FROM d),
              j AS (SELECT doc_id, n_chars,
                           off + cum_in_shard AS cum_end,
                           off + cum_in_shard - n_chars AS cum_start
                    FROM c JOIN o2 USING (shard))
         SELECT doc_id, n_chars, cum_start
         FROM j, t
         WHERE ((cum_start + stride - 1) // stride) * stride < cum_end"""
  // two Lloyd iterations replayed exactly: integer codes, integer
  // distances, trunc(sum/n) centroid updates
  lazy val kmeansTrain: String =
    s"""WITH ${kmeansCtes(8)}
         SELECT cell, CAST(dim_idx AS BIGINT) AS dim_idx,
                CAST(count(*) AS BIGINT) AS n,
                CAST(trunc(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c_q
         FROM u2 GROUP BY cell, dim_idx"""
  // SemDeDup: the full k=64 two-round Lloyd replay, a third (final)
  // assignment, then exact-cosine pairs WITHIN each cell only
  lazy val dedupSemantic: String =
    s"""WITH ${kmeansCtes(64)},
              d3 AS (SELECT q.vec_id, c2l.cell,
                            list_sum(list_transform(range(1, len(q.q) + 1),
                              i -> (q.q[i] - c2l.c[i]) * (q.q[i] - c2l.c[i]))) AS dist
                     FROM q, c2l),
              a3 AS (SELECT vec_id, cell FROM (
                       SELECT vec_id, cell,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, cell) AS rn
                       FROM d3) WHERE rn = 1),
              e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              j AS (SELECT e.vec_id, e.v, e.nrm, a3.cell
                    FROM e JOIN a3 USING (vec_id))
         SELECT x.vec_id AS id_a, y.vec_id AS id_b
         FROM j x JOIN j y ON x.cell = y.cell AND x.vec_id < y.vec_id
         WHERE list_reduce(list_prepend(0.0,
                 list_transform(range(1, len(x.v)+1), i -> x.v[i]*y.v[i])),
                 (acc,z) -> acc + z) / (x.nrm * y.nrm) >= 0.35"""
  // benchmark slice broadcast against the corpus scan, exact cosine
  // with the house pinned-fold dot product, near threshold 0.35
  lazy val contaminationSemantic: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              b AS (SELECT vec_id AS bid, v AS bv, nrm AS bnrm FROM e WHERE vec_id < 10),
              s AS (SELECT e.vec_id,
                           list_reduce(list_prepend(0.0,
                             list_transform(range(1, len(e.v)+1), i -> e.v[i]*b.bv[i])),
                             (a,x) -> a + x) / (e.nrm * b.bnrm) AS sim
                    FROM e, b WHERE e.vec_id >= 10)
         SELECT vec_id AS doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                max(sim) AS best_sim
         FROM s WHERE sim >= 0.35 GROUP BY vec_id"""
  // full k=64 Lloyd replay + final assignment, then each cell's
  // top-5 terms by the cell's integer share of the term's corpus
  // occurrences (min corpus count 5; rank fully ordered)
  lazy val clusterTopTerms: String =
    s"""WITH ${kmeansCtes(64)},
              d3 AS (SELECT q.vec_id, c2l.cell,
                            list_sum(list_transform(range(1, len(q.q) + 1),
                              i -> (q.q[i] - c2l.c[i]) * (q.q[i] - c2l.c[i]))) AS dist
                     FROM q, c2l),
              a3 AS (SELECT vec_id, cell FROM (
                       SELECT vec_id, cell,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, cell) AS rn
                       FROM d3) WHERE rn = 1),
              tk AS (SELECT doc_id,
                            unnest(list_filter(string_split_regex(text, '\\s+'),
                                               t -> t != '')) AS term
                     FROM documents),
              tc AS (SELECT a3.cell, term, CAST(count(*) AS BIGINT) AS cnt
                     FROM tk JOIN a3 ON tk.doc_id = a3.vec_id
                     GROUP BY a3.cell, term),
              tot AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS tot
                      FROM tc GROUP BY term HAVING sum(cnt) >= 5),
              r AS (SELECT cell, term, cnt,
                           (cnt * 1000000) // tot AS share_micro,
                           CAST(row_number() OVER (
                             PARTITION BY cell
                             ORDER BY (cnt * 1000000) // tot DESC, cnt DESC,
                                      term ASC) AS BIGINT) AS rank
                    FROM tc JOIN tot USING (term))
         SELECT cell, term, cnt, share_micro, rank FROM r WHERE rank <= 5"""
  lazy val bpePairCounts: String =
    """WITH w AS (SELECT word, count(*) AS wcnt
                    FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                                    t -> t != '')) AS word
                          FROM documents)
                    GROUP BY word),
              p AS (SELECT unnest(list_transform(range(1, length(word)),
                                                 i -> substr(word, i, 2))) AS pair,
                           wcnt
                    FROM w WHERE length(word) >= 2)
         SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
         FROM p GROUP BY pair
         ORDER BY cnt DESC, pair ASC LIMIT 20"""
  lazy val streamTopkUsers: String =
    """SELECT w_start, w_end, event_type, user_id, cnt, rank FROM (
           SELECT date_trunc('hour', ts) AS w_start,
                  date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
                  event_type, user_id, count(*) AS cnt,
                  CAST(row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                          ORDER BY count(*) DESC, user_id ASC) AS BIGINT)
                    AS rank
           FROM events GROUP BY 1, 2, 3, 4)
         WHERE rank <= 3"""
  lazy val ordersCdcMerge: String =
    """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
                              0 AS version, 'keep' AS op FROM orders),
              ch AS (
                SELECT o_orderkey, o_custkey, o_totalprice + 100.0 AS o_totalprice,
                       1 AS version, 'U' AS op
                FROM orders WHERE o_orderkey % 10 < 3
                UNION ALL
                SELECT o_orderkey, o_custkey, o_totalprice, 1, 'D'
                FROM orders WHERE o_orderkey % 10 = 5
                UNION ALL
                SELECT o_orderkey + 1000000000, o_custkey, o_totalprice, 1, 'I'
                FROM orders WHERE o_orderkey % 10 IN (3, 4)),
              merged AS (SELECT * FROM (
                           SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                                        ORDER BY version DESC) AS rn
                           FROM (SELECT * FROM base UNION ALL SELECT * FROM ch))
                         WHERE rn = 1)
         SELECT o_orderkey, o_custkey, o_totalprice, op
         FROM merged WHERE op != 'D'"""
  // hashed linear classifier: md5 feature buckets, Knuth-scrambled
  // integer weights — all-integer scoring, replayed exactly.
  // COALESCE: DuckDB list_sum([]) is NULL where Spark's aggregate
  // fold returns the 0 seed.
  // trained-weight replay: the literal coefficient table is the SAME
  // Scala array the Spark scorer bakes into its plan (QualityWeights),
  // so the two engines can't drift
  lazy val qualityClassifier: String =
    s"""WITH w AS (SELECT ${QualityWeights.W.mkString("[", ", ", "]")}::BIGINT[] AS a)
         SELECT doc_id,
                CAST(${QualityWeights.Bias} + coalesce(list_sum(list_transform(toks,
                       t -> a[('0x' || substr(md5(t), 1, 7))::BIGINT % 1024 + 1])), 0)
                     AS BIGINT) AS score,
                (${QualityWeights.Bias} + coalesce(list_sum(list_transform(toks,
                   t -> a[('0x' || substr(md5(t), 1, 7))::BIGINT % 1024 + 1])), 0)) > 0 AS keep
         FROM (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
               FROM documents), w"""
  // temperature-smoothed (τ=0.5) source rebalancing: integer sqrt
  // weights, integer-division quotas, md5 hash gate — the kept row
  // set is a pure function of the data
  lazy val sourceMixSample: String =
    """WITH counts AS (SELECT source, count(*) AS n_s,
                                CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w_s
                         FROM documents GROUP BY source),
              tot AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_tot,
                             CAST(sum(n_s) AS BIGINT) AS n_tot FROM counts),
              q AS (SELECT source, n_s, ((n_tot // 2) * w_s) // w_tot AS quota
                    FROM counts, tot)
         SELECT d.doc_id, d.source
         FROM documents d JOIN q ON d.source = q.source
         WHERE (('0x' || substr(md5('mix:' || d.doc_id), 1, 7))::BIGINT % 1000000) * n_s
               < quota * 1000000"""
  // Lee-et-al exact-substring removal: positions covered by any
  // corpus-duplicated 8-gram (multiplicity >= 2) drop; text is
  // rebuilt from surviving tokens (whitespace-normalized)
  lazy val dedupSpanRemove: String =
    """WITH tk AS (SELECT doc_id,
                            list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              g AS (SELECT doc_id, pos, md5(array_to_string(ts[pos:pos+7], ' ')) AS g
                    FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS pos
                          FROM tk WHERE len(ts) >= 8)),
              dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
              cov AS (SELECT doc_id, list(DISTINCT pos + off) AS cps
                      FROM (SELECT doc_id, unnest(starts) AS pos
                            FROM (SELECT doc_id, list(DISTINCT pos) AS starts
                                  FROM g JOIN dup USING (g) GROUP BY doc_id))
                      CROSS JOIN (SELECT unnest(range(0, 8)) AS off)
                      GROUP BY doc_id),
              kp AS (SELECT tk.doc_id, ts,
                            list_filter(range(1, len(ts) + 1),
                                        p -> NOT list_contains(coalesce(cps, []), p)) AS kp
                     FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id)
         SELECT doc_id,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(kp) AS BIGINT) AS n_kept,
                coalesce(array_to_string(list_transform(kp, p -> ts[p]), ' '), '')
                  AS clean_text
         FROM kp"""
  // Delete lifecycle: the takedown set (standing doc_id % 10 == 0)
  // is gone from the index by probe time.
  lazy val dedupMinhashDelete: String = minhashIncrementalSqlWith(" AND y.doc_id % 10 != 0")
  // Integer TF-IDF replay: rational idf (N·100 div df), stopword cut
  // at 10·df ≤ 9·N, unnormalized dot-product scores — every score an
  // exact BIGINT, ties toward the lower doc_id.
  lazy val docKnnTfidf: String =
    """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              tfc AS (SELECT doc_id, term, count(*) AS tf
                      FROM (SELECT doc_id, unnest(ts) AS term FROM tk)
                      GROUP BY doc_id, term),
              dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
              nd AS (SELECT count(*) AS n_docs FROM documents),
              idf AS (SELECT term, (n_docs * 100) // df AS idf
                      FROM dfc, nd WHERE df * 10 <= n_docs * 9),
              wt AS (SELECT doc_id, term, tf * idf AS w
                     FROM tfc JOIN idf USING (term)),
              q AS (SELECT doc_id AS qid, term, w AS wq FROM wt WHERE doc_id < 10),
              sc AS (SELECT qid, wt.doc_id, CAST(sum(w * wq) AS BIGINT) AS score
                     FROM wt JOIN q USING (term)
                     WHERE wt.doc_id != qid
                     GROUP BY qid, wt.doc_id)
         SELECT qid, doc_id AS neighbor_id, rnk FROM (
           SELECT qid, doc_id,
                  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
           FROM sc) WHERE rnk <= 5"""
  lazy val bpeEncode: String = bpeEncodeSql(3)
  lazy val bpeTrain: String = bpeTrainSql(8)
  lazy val bpeVocab: String = bpeVocabSql(8)
  lazy val unigramLmTrain: String = unigramTrainSql(32, 4, 2)
  lazy val unigramEncode: String = unigramEncodeSql(32, 4, 2)
  // both trained-tokenizer replays composed: per-language piece
  // spend of the 3-merge BPE vs the 2-round unigram model, each
  // against its own encodable word count, integer micro fertility
  lazy val tokenizerCompare: String =
    s"""WITH ${bpeEncodeCtes(3)},
              ${unigramEncodeCtes(32, 4, 2)},
              j AS (SELECT d.doc_id, d.lang,
                           coalesce(a.n_tokens, 0) AS bw,
                           coalesce(a.n_pieces, 0) AS bp,
                           coalesce(ua.n_tokens, 0) AS uw,
                           coalesce(ua.n_pieces, 0) AS up
                    FROM documents d
                    LEFT JOIN agg a USING (doc_id)
                    LEFT JOIN uagg ua USING (doc_id))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(bw) AS BIGINT) AS bpe_words,
                CAST(sum(bp) AS BIGINT) AS bpe_pieces,
                CAST(sum(uw) AS BIGINT) AS unigram_words,
                CAST(sum(up) AS BIGINT) AS unigram_pieces,
                (CAST(sum(bp) AS BIGINT) * 1000000)
                  // CAST(sum(bw) AS BIGINT) AS bpe_fertility_micro,
                (CAST(sum(up) AS BIGINT) * 1000000)
                  // CAST(sum(uw) AS BIGINT) AS unigram_fertility_micro
         FROM j GROUP BY lang
         HAVING sum(bw) > 0 AND sum(uw) > 0"""
  // full k=64 Lloyd replay + final assignment keeping the winning
  // squared distance, then the per-cell prototypicality window
  lazy val prototypePrune: String =
    s"""WITH ${kmeansCtes(64)},
              d3 AS (SELECT q.vec_id, c2l.cell,
                            CAST(list_sum(list_transform(range(1, len(q.q) + 1),
                              i -> (q.q[i] - c2l.c[i]) * (q.q[i] - c2l.c[i]))) AS BIGINT) AS dist
                     FROM q, c2l),
              a3 AS (SELECT vec_id, cell, dist FROM (
                       SELECT vec_id, cell, dist,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, cell) AS rn
                       FROM d3) WHERE rn = 1),
              r AS (SELECT vec_id, cell, dist,
                           CAST(row_number() OVER (PARTITION BY cell
                                                   ORDER BY dist, vec_id) AS BIGINT) AS proto_rank,
                           count(*) OVER (PARTITION BY cell) AS n_cell
                    FROM a3)
         SELECT vec_id, cell, dist AS d2, proto_rank
         FROM r WHERE proto_rank > n_cell // 4"""
  // DSIR importance: add-1-smoothed integer bucket ratios, per-doc
  // sum, keep when floored per-token affinity beats the corpus-wide
  // floored target/raw ratio — all-integer, engine-exact
  lazy val dsirImportance: String =
    """WITH tb AS (SELECT doc_id, source,
                            ('0x' || substr(md5(t), 1, 7))::BIGINT % 1024 AS b
                     FROM (SELECT doc_id, source,
                                  unnest(list_filter(string_split_regex(text, '\s+'),
                                                     t -> t != '')) AS t
                           FROM documents)),
              bt AS (SELECT b, count(*) AS n_raw,
                            sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS n_tgt
                     FROM tb GROUP BY b),
              r AS (SELECT b, (1000000 * (n_tgt + 1)) // (n_raw + 1) AS r FROM bt),
              tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS nr,
                             CAST(sum(n_tgt) AS BIGINT) AS nt FROM bt),
              ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                            CAST(sum(r) AS BIGINT) AS score
                     FROM tb JOIN r USING (b) GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(n_tokens, 0) AS n_tokens,
                coalesce(score, 0) AS score,
                CASE WHEN coalesce(n_tokens, 0) = 0 THEN false
                     ELSE score // n_tokens > (1000000 * nt) // nr END AS keep
         FROM documents d LEFT JOIN ds USING (doc_id), tot"""
  // BM25 retrieval: same floor-div milli-unit rationals as the Spark
  // plan — idf surrogate (N·100)//df, length norm in milli-units
  // cross-multiplied by total tokens, per-term score floored once
  lazy val bm25Search: String =
    """WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              tfc AS (SELECT doc_id, term, count(*) AS tf
                      FROM (SELECT doc_id, unnest(ts) AS term FROM tk)
                      GROUP BY doc_id, term),
              dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                       FROM tfc GROUP BY doc_id),
              st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(dl) AS BIGINT) AS total_tokens FROM dlen),
              idf AS (SELECT term, (n_docs * 100) // df AS idf, n_docs, total_tokens
                      FROM (SELECT term, count(*) AS df FROM tfc GROUP BY term), st),
              q AS (SELECT * FROM (VALUES (0,'fast'),(0,'scan'),(0,'table'),
                                          (1,'window'),(1,'agg'),(1,'group'),
                                          (2,'stream'),(2,'join'),(2,'merge')) t(qid, term)),
              sc AS (SELECT qid, doc_id,
                            CAST(sum((idf * tf * 2200 * 1000) //
                                     (tf * 1000 + (1200 * (250 + (750 * dl * n_docs) // total_tokens)) // 1000))
                                 AS BIGINT) AS score
                     FROM tfc JOIN q USING (term) JOIN idf USING (term) JOIN dlen USING (doc_id)
                     GROUP BY qid, doc_id)
         SELECT CAST(qid AS BIGINT) AS qid, doc_id AS neighbor_id, rnk FROM (
           SELECT qid, doc_id,
                  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rnk
           FROM sc) WHERE rnk <= 10"""
  // PCA-precursor Gram accumulation: embedding_quantize's exact int8
  // codes, upper-triangle product sums + per-dim sums + count
  lazy val embeddingCovariance: String =
    """WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
              m AS (SELECT vec_id, v,
                           list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
              x AS (SELECT vec_id, v, ma,
                           unnest(range(1, len(v) + 1)) AS i FROM m),
              qt AS (SELECT vec_id, cast(i - 1 AS BIGINT) AS dim_idx,
                            CASE WHEN ma = 0.0 THEN 0
                                 ELSE greatest(-127, least(127,
                                        cast(floor(v[i] * 127.0 / ma) AS BIGINT)))
                            END AS q
                     FROM x),
              ps AS (SELECT a.dim_idx AS dim_i, b.dim_idx AS dim_j,
                            CAST(sum(a.q * b.q) AS BIGINT) AS sum_qq
                     FROM qt a JOIN qt b
                       ON a.vec_id = b.vec_id AND a.dim_idx <= b.dim_idx
                     GROUP BY 1, 2),
              ds AS (SELECT dim_idx, CAST(sum(q) AS BIGINT) AS sum_q,
                            CAST(count(*) AS BIGINT) AS n FROM qt GROUP BY dim_idx)
         SELECT p.dim_i, p.dim_j, p.sum_qq, di.sum_q AS sum_qi,
                dj.sum_q AS sum_qj, di.n AS n_vecs
         FROM ps p
         JOIN ds di ON p.dim_i = di.dim_idx
         JOIN ds dj ON p.dim_j = dj.dim_idx"""
  // Capped per-user sequences: rank BEFORE the string fold on both
  // sides; string_agg's ORDER BY mirrors the array_sort-by-rn fold.
  lazy val eventsToSequences: String =
    """WITH o AS (SELECT user_id, event_type,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY epoch_us(ts), event_id) AS rn
                    FROM events)
         SELECT user_id, count(*) AS seq_len,
                string_agg(event_type, ',' ORDER BY rn) AS seq
         FROM o WHERE rn <= 32 GROUP BY user_id"""
  // Integer micro-unit conditional probabilities: floor division on
  // both engines; DuckDB's window sum(BIGINT) is HUGEINT → cast.
  lazy val eventTransitions: String =
    """WITH p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS prev_type,
                           event_type AS next_type
                    FROM events),
              t AS (SELECT prev_type, next_type, count(*) AS cnt
                    FROM p WHERE prev_type IS NOT NULL
                    GROUP BY prev_type, next_type)
         SELECT prev_type, next_type, cnt,
                CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS ctx_cnt,
                CAST((cnt * 1000000) // CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT)
                     AS BIGINT) AS prob_micro
         FROM t"""
  // Late = an earlier-arriving (smaller event_id) event of the same
  // user carries a later event time; lateness in exact microseconds.
  lazy val eventsLateArrivals: String =
    """WITH o AS (SELECT event_type, epoch_us(ts) AS tus,
                           max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
                    FROM events)
         SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN runmax > tus THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                max(CASE WHEN runmax > tus THEN runmax - tus ELSE 0 END) AS max_late_us
         FROM o GROUP BY event_type"""
  // PMI lift in integer micro-units: HUGEINT products + one floor
  // division replay Spark's DECIMAL(38,0) `div` exactly (both
  // positive, so floor == truncate on both engines).
  lazy val tokenPmi: String =
    """WITH d AS (SELECT list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                    FROM documents),
              uni AS (SELECT t, count(*) AS cnt_t
                      FROM (SELECT unnest(ts) AS t FROM d) GROUP BY t),
              bi AS (SELECT w1, w2, count(*) AS cnt_xy
                     FROM (SELECT unnest(list_transform(range(1, len(ts)),
                                    i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS p
                           FROM d WHERE len(ts) >= 2)
                          , LATERAL (SELECT p.w1 AS w1, p.w2 AS w2)
                     GROUP BY w1, w2
                     HAVING count(*) >= 3),
              tot AS (SELECT (SELECT CAST(sum(cnt_t) AS BIGINT) FROM uni) AS n_tok,
                             (SELECT CAST(sum(cnt_xy) AS BIGINT) FROM bi) AS n_pairs)
         SELECT bi.w1, bi.w2, bi.cnt_xy,
                ux.cnt_t AS cnt_x, uy.cnt_t AS cnt_y,
                CAST((CAST(bi.cnt_xy AS HUGEINT) * 1000000 * n_tok * n_tok)
                     // (CAST(n_pairs AS HUGEINT) * ux.cnt_t * uy.cnt_t) AS BIGINT)
                  AS lift_micro
         FROM bi JOIN uni ux ON bi.w1 = ux.t
                 JOIN uni uy ON bi.w2 = uy.t, tot"""
  lazy val lexicalDiversity: String =
    """SELECT doc_id,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(ts)) AS BIGINT) AS n_types,
                CAST(len(list_distinct(ts)) AS BIGINT) * 1000000 // CAST(len(ts) AS BIGINT)
                  AS ttr_micro
         FROM (SELECT doc_id,
                      list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
               FROM documents)
         WHERE len(ts) >= 1"""
  lazy val blocklistFilter: String =
    """SELECT doc_id,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(ts, t -> t IN ('dup', 'slow', 'drop'))) AS BIGINT)
                  AS n_blocked,
                len(list_filter(ts, t -> t IN ('dup', 'slow', 'drop'))) = 0 AS keep
         FROM (SELECT doc_id,
                      list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
               FROM documents)"""
  // Shard boundary = cumulative chars BEFORE the doc // target, so a
  // shard always ends at-or-past the target — pack_batches' first-fit
  // contract at the storage layer.
  // perceptual near-dup: 64-pixel average-hash (code-unit STUB
  // decode) replayed pixel-for-pixel; chunk banding + bit_count(xor)
  // verify, lossless at hamming <= 3 by pigeonhole over 4 chunks
  // replays the text→PPM render + real-decode aHash arithmetically:
  // the Spark side round-trips pixel bytes through an actual P6
  // encode/parse, the oracle computes the equal end-to-end function
  // (render formula → BT.601 luma → 8×8 block means). The raster is
  // a FIXED 384 pixels, so every doc yields all 64 block rows and
  // all 4 chunk rows — no NULL-chunk corner for short texts.
  // the audio derivative-energy fingerprint: replays the textWav
  // sample arithmetic (the Spark side round-trips through the real
  // RIFF/WAV container), first differences, 64 energy windows, bits
  // vs the per-doc mean, then the same chunk-band candidate join as
  // multimodal_phash
  lazy val multimodalAudioFp: String =
    """WITH t AS (SELECT doc_id, text, len(text) AS n
                    FROM documents WHERE len(text) >= 1),
              s AS (SELECT doc_id, i,
                           ((((ord(substr(text, CAST((3 * i) % n AS INT) + 1, 1)) % 128) + i) % 256
                             - (((ord(substr(text, CAST((3 * (i - 1)) % n AS INT) + 1, 1)) % 128) + i - 1) % 256)
                             + 384) % 256) - 128 AS d
                    FROM (SELECT doc_id, text, n, unnest(range(1, 512)) AS i FROM t)),
              px AS (SELECT doc_id, i // 8 AS wi,
                            CAST(sum(d * d) // count(*) AS BIGINT) AS px
                     FROM s GROUP BY 1, 2),
              mn AS (SELECT doc_id, CAST(sum(px) // 64 AS BIGINT) AS mean
                     FROM px GROUP BY doc_id),
              bits AS (SELECT doc_id, wi,
                              CASE WHEN px > mean THEN 1 ELSE 0 END AS bit
                       FROM px JOIN mn USING (doc_id)),
              ch AS (SELECT doc_id, wi // 16 AS b,
                            CAST(sum(bit * (1::BIGINT << CAST(wi % 16 AS INT))) AS BIGINT) AS v
                     FROM bits GROUP BY doc_id, wi // 16),
              sig AS (SELECT doc_id,
                             max(CASE WHEN b = 0 THEN v END) AS c0,
                             max(CASE WHEN b = 1 THEN v END) AS c1,
                             max(CASE WHEN b = 2 THEN v END) AS c2,
                             max(CASE WHEN b = 3 THEN v END) AS c3
                      FROM ch GROUP BY doc_id),
              cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                       FROM ch x JOIN ch y
                         ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
         SELECT * FROM (
           SELECT id_a, id_b,
                  CAST(bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
                     + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3))
                       AS BIGINT) AS hamming
           FROM cand JOIN sig sa ON id_a = sa.doc_id
                     JOIN sig sb ON id_b = sb.doc_id)
         WHERE hamming <= 3"""
  lazy val multimodalPhash: String =
    """WITH b AS (SELECT doc_id, text, len(text) AS n
                    FROM documents WHERE len(text) >= 1),
              pix AS (SELECT doc_id, n, text, unnest(range(0, 384)) AS i FROM b),
              lum AS (SELECT doc_id, i,
                       (299 * (ord(substr(text, CAST(i % n AS INT) + 1, 1)) % 128)
                      + 587 * (ord(substr(text, CAST((7 * i) % n AS INT) + 1, 1)) % 128)
                      + 114 * ((11 * i) % 256)) // 1000 AS v
                      FROM pix),
              px AS (SELECT doc_id,
                            ((i // 24) * 8 // 16) * 8 + ((i % 24) * 8 // 24) AS i,
                            CAST(sum(v) // count(*) AS BIGINT) AS v
                     FROM lum GROUP BY 1, 2),
              mn AS (SELECT doc_id, CAST(sum(v) // 64 AS BIGINT) AS mean
                     FROM px GROUP BY doc_id),
              bits AS (SELECT doc_id, i,
                              CASE WHEN v > mean THEN 1 ELSE 0 END AS bit
                       FROM px JOIN mn USING (doc_id)),
              ch AS (SELECT doc_id, i // 16 AS b,
                            CAST(sum(bit * (1::BIGINT << CAST(i % 16 AS INT))) AS BIGINT) AS v
                     FROM bits GROUP BY doc_id, i // 16),
              sig AS (SELECT doc_id,
                             max(CASE WHEN b = 0 THEN v END) AS c0,
                             max(CASE WHEN b = 1 THEN v END) AS c1,
                             max(CASE WHEN b = 2 THEN v END) AS c2,
                             max(CASE WHEN b = 3 THEN v END) AS c3
                      FROM ch GROUP BY doc_id),
              cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                       FROM ch x JOIN ch y
                         ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
         SELECT * FROM (
           SELECT id_a, id_b,
                  CAST(bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
                     + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3))
                       AS BIGINT) AS hamming
           FROM cand JOIN sig sa ON id_a = sa.doc_id
                     JOIN sig sb ON id_b = sb.doc_id)
         WHERE hamming <= 3"""
  // per-shard reproducibility manifest: counts, bytes, and an
  // order-independent xor checksum of portable 60-bit md5 prefixes
  lazy val shardManifest: String =
    """WITH plan AS (SELECT doc_id, source, n_chars,
                CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) // 16384 AS shard
              FROM documents),
              h AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
                    FROM documents)
         SELECT source, shard, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_bytes,
                CAST(bit_xor(h) AS BIGINT) AS checksum
         FROM plan JOIN h USING (doc_id)
         GROUP BY source, shard"""
  lazy val outputShardPlan: String =
    """SELECT doc_id, source, n_chars,
                CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) // 16384 AS shard
         FROM documents"""
  // embedding_quantize's exact int8 codes; centroid = sum div n
  // (truncating division, identical in both engines including
  // negatives); the outlier frontier is integer cross-multiplied.
  lazy val embeddingOutliers: String =
    """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                           cast(embedding AS DOUBLE[]) AS v FROM embeddings),
              m AS (SELECT vec_id, label, v,
                           list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
              x AS (SELECT vec_id, label, v, ma,
                           unnest(range(1, len(v) + 1)) AS i FROM m),
              q AS (SELECT vec_id, label, cast(i - 1 AS BIGINT) AS dim_idx,
                           CASE WHEN ma = 0.0 THEN 0
                                ELSE greatest(-127, least(127,
                                       cast(floor(v[i] * 127.0 / ma) AS BIGINT)))
                           END AS q
                    FROM x),
              cent AS (SELECT label, dim_idx,
                              CAST(sum(q) AS BIGINT) // count(*) AS c
                       FROM q GROUP BY label, dim_idx),
              d2 AS (SELECT vec_id, q.label,
                            CAST(sum((q.q - c) * (q.q - c)) AS BIGINT) AS dist2
                     FROM q JOIN cent USING (label, dim_idx)
                     GROUP BY vec_id, q.label),
              st AS (SELECT label, count(*) AS n_label,
                            CAST(sum(dist2) AS BIGINT) AS sum_dist2
                     FROM d2 GROUP BY label)
         SELECT vec_id, label, dist2,
                dist2 * n_label * 2 > sum_dist2 * 3 AS is_outlier
         FROM d2 JOIN st USING (label)"""
  // Frequency-of-frequencies over the same transitive clustering the
  // components/soft-weights oracles replay.
  lazy val dedupClusterStats: String =
    s"""WITH RECURSIVE $componentCtes,
              r AS (SELECT doc_id, min(label) AS comp FROM reach GROUP BY doc_id),
              cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
                     FROM r GROUP BY comp)
         SELECT cluster_size, count(*) AS n_clusters
         FROM cs GROUP BY cluster_size"""
  // quality_classifier's score CTE joined to gopher_rules' keep CTE,
  // banded with the same truncating division.
  lazy val qualityCalibration: String =
    s"""WITH w AS (SELECT ${QualityWeights.W.mkString("[", ", ", "]")}::BIGINT[] AS a),
              qs AS (SELECT doc_id,
                            CAST(${QualityWeights.Bias} + coalesce(list_sum(list_transform(toks,
                                   t -> a[('0x' || substr(md5(t), 1, 7))::BIGINT % 1024 + 1])), 0)
                                 AS BIGINT) AS score
                     FROM (SELECT doc_id,
                                  list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks
                           FROM documents), w),
              gm AS (SELECT doc_id,
                            CAST(len(ts) AS BIGINT) AS n_tokens,
                            CAST(coalesce(list_sum(list_transform(ts, x -> length(x))), 0)
                              AS BIGINT) AS sum_token_len,
                            CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-zA-Z]')))
                              AS BIGINT) AS n_alpha_words,
                            CAST(len(list_intersect(list_distinct(ts),
                              ['the','be','to','of','and','that','have','with'])) AS BIGINT)
                              AS n_stop_distinct
                     FROM (SELECT doc_id,
                                  list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS ts
                           FROM documents)),
              gk AS (SELECT doc_id,
                            CASE WHEN (n_tokens >= 50 AND n_tokens <= 100000)
                                  AND (3 * n_tokens <= sum_token_len AND sum_token_len <= 10 * n_tokens)
                                  AND (5 * n_alpha_words >= 4 * n_tokens)
                                  AND (n_stop_distinct >= 2) THEN 1 ELSE 0 END AS g_keep
                     FROM gm)
         SELECT score // 500 AS bucket, count(*) AS n_docs,
                CAST(sum(g_keep) AS BIGINT) AS n_gopher_keep,
                (CAST(sum(g_keep) AS BIGINT) * 1000000) // count(*) AS keep_rate_micro
         FROM qs JOIN gk USING (doc_id)
         GROUP BY score // 500"""
  // Exact-count replay of the two-pass heavy-hitter diagnostic: the
  // MG candidate pass is a lossless superset of the final exact
  // filter, so plain counts + the same threshold reproduce it.
  lazy val hotKeys: String =
    """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
              t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
         SELECT user_id, cnt,
                (cnt * 1000000) // n AS share_micro,
                greatest(1, (cnt * 32 + n - 1) // n) AS salt_fanout
         FROM c, t WHERE cnt * 128 > n"""
  // Same md5 split gate as train_test_split, same 8-gram digests as
  // the novelty family; train membership via EXISTS over the
  // gram-join (the window-max trick needs no SQL equivalent — the
  // relation is identical).
  lazy val splitLeakage: String =
    """WITH tk AS (SELECT doc_id,
                            list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              sp AS (SELECT doc_id,
                            CASE WHEN b < 80 THEN 'train'
                                 WHEN b < 90 THEN 'valid'
                                 ELSE 'test' END AS split
                     FROM (SELECT doc_id,
                                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 100 AS b
                           FROM documents)),
              g AS (SELECT doc_id,
                           unnest(list_distinct(list_transform(range(1, len(ts) - 6),
                             i -> md5(array_to_string(ts[i:i+7], ' '))))) AS g
                    FROM tk WHERE len(ts) >= 8),
              tr AS (SELECT DISTINCT g.g AS g
                     FROM g JOIN sp USING (doc_id) WHERE split = 'train')
         SELECT g.doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_leaked,
                (CAST(sum(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) * 1000000)
                  // count(*) AS leak_micro
         FROM g JOIN sp USING (doc_id) LEFT JOIN tr ON g.g = tr.g
         WHERE split = 'test'
         GROUP BY g.doc_id"""
  lazy val kanonSuppression: String =
    """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                CAST(floor(value / 10.0) AS BIGINT) AS vband,
                count(DISTINCT user_id) AS n_users,
                count(*) AS n_events,
                count(DISTINCT user_id) < 5 AS suppressed
         FROM events
         GROUP BY event_type, epoch_us(ts) // 86400000000,
                  CAST(floor(value / 10.0) AS BIGINT)"""
  // The maintained (streaming) form of kanon_suppression: same cells,
  // distinct-user counts via the dedup→count composition.
  lazy val streamKanon: String =
    """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                CAST(floor(value / 10.0) AS BIGINT) AS vband,
                count(DISTINCT user_id) AS n_users,
                count(DISTINCT user_id) < 5 AS suppressed
         FROM events
         GROUP BY event_type, epoch_us(ts) // 86400000000,
                  CAST(floor(value / 10.0) AS BIGINT)"""
  // bpe_encode's per-doc piece counts rolled up per language.
  lazy val tokenizerFertility: String =
    s"""WITH bp AS (${bpeEncodeSql(3)})
         SELECT lang, count(*) AS n_docs,
                CAST(sum(bp.n_tokens) AS BIGINT) AS n_words,
                CAST(sum(bp.n_pieces) AS BIGINT) AS n_pieces,
                (CAST(sum(bp.n_pieces) AS BIGINT) * 1000000)
                  // CAST(sum(bp.n_tokens) AS BIGINT) AS fertility_micro
         FROM bp JOIN documents d USING (doc_id)
         GROUP BY lang
         HAVING CAST(sum(bp.n_tokens) AS BIGINT) > 0"""
  // KMV estimator over the same distinct-bigram-shingle sets the
  // minhash family oracles; 60-bit md5 digests, all-integer.
  lazy val minhashCardinality: String =
    """WITH tk AS (SELECT doc_id,
                            list_filter(string_split_regex(text, '\s+'), t -> t != '') AS ts
                     FROM documents),
              se AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts)),
                              i -> ts[i] || ' ' || ts[i+1])) AS sh
                     FROM tk WHERE len(ts) >= 2),
              hv AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_exact,
                            list_sort(list_transform(sh,
                              s -> ('0x' || substr(md5(s), 1, 14))::BIGINT)) AS hv
                     FROM se),
              e AS (SELECT doc_id, n_exact,
                           CASE WHEN len(hv) < 16 THEN CAST(len(hv) AS BIGINT)
                                ELSE (15 * 72057594037927936) // hv[16] END AS est
                    FROM hv)
         SELECT doc_id, n_exact, est,
                (abs(est - n_exact) * 1000000) // n_exact AS err_micro
         FROM e"""
  // Q7 bilateral trade: same decimal-revenue convention as q5.
  lazy val q7VolumeShipping: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE sn.n_name IN ('NATION_1', 'NATION_2')
           AND cn.n_name IN ('NATION_1', 'NATION_2')
           AND sn.n_name != cn.n_name
         GROUP BY sn.n_name, cn.n_name, year(l_shipdate)"""
  // perplexity tertile stages joined to the deterministic shuffle
  // order — both replays are the verified single-operator oracles.
  lazy val curriculumOrder: String =
    s"""WITH $perplexityCtes,
              sc AS (SELECT agg.doc_id, nll_micro // n_bigrams AS score, lang
                     FROM agg JOIN documents d ON agg.doc_id = d.doc_id),
              hist AS (SELECT lang, score, count(*) AS cnt FROM sc GROUP BY lang, score),
              cum AS (SELECT lang, score,
                             CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY score) AS BIGINT) AS cum
                      FROM hist),
              n AS (SELECT lang, count(*) AS n_docs FROM sc GROUP BY lang),
              th AS (SELECT lang,
                            min(CASE WHEN cum * 3 >= n_docs THEN score END) AS t1,
                            min(CASE WHEN cum * 3 >= n_docs * 2 THEN score END) AS t2
                     FROM cum JOIN n USING (lang) GROUP BY lang),
              st AS (SELECT doc_id,
                            CASE WHEN score <= t1 THEN 0
                                 WHEN score <= t2 THEN 1
                                 ELSE 2 END AS stage
                     FROM sc JOIN th ON sc.lang = th.lang),
              ord AS (SELECT doc_id, shard,
                             CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
                      FROM (SELECT doc_id, h, h % 64 AS shard
                            FROM (SELECT doc_id,
                                         ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
                                  FROM documents)))
         SELECT st.doc_id, CAST(stage AS BIGINT) AS stage, shard, pos
         FROM st JOIN ord ON st.doc_id = ord.doc_id"""
  // Q6: identical double literals on both sides — the comparisons see
  // the same parquet doubles, so the row set matches bit-for-bit.
  lazy val q6ForecastRevenue: String =
    """SELECT cast(sum(cast(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         WHERE year(l_shipdate) = 1997
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24.0"""
  lazy val q19DiscountedRevenue: String =
    """SELECT p_brand AS brand,
                cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1.0 AND 20.0)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10.0 AND 35.0)
         GROUP BY p_brand"""
  // pack_batches' assignment rolled up twice: per-batch totals, then
  // a fill-decile histogram (all integer floor division).
  lazy val packingEfficiency: String =
    """WITH p AS (SELECT doc_id, n_tokens, shard,
                           shard * 1000000 + (cum_end - n_tokens) // 8192 AS batch_id
                    FROM (SELECT doc_id, n_tokens, shard,
                                 CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
                          FROM (SELECT doc_id,
                                       cast(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS BIGINT) AS n_tokens,
                                       doc_id % 32 AS shard
                                FROM documents))),
              b AS (SELECT batch_id, count(*) AS n_docs,
                           CAST(sum(n_tokens) AS BIGINT) AS batch_tokens
                    FROM p GROUP BY batch_id)
         SELECT (batch_tokens * 10) // 8192 AS fill_decile,
                count(*) AS n_batches,
                CAST(sum(batch_tokens) AS BIGINT) AS sum_tokens,
                CAST(sum(n_docs) AS BIGINT) AS sum_docs
         FROM b GROUP BY (batch_tokens * 10) // 8192"""
  // Same LSH candidate CTEs as dedup_embedding_ann (corpus-derived
  // banding, id_a-side probe fan-out), cosine computed once per
  // pair, fanned to the thresholds it clears.
  lazy val dedupThresholdSweep: String =
    s"""WITH $lshBandCtes,
              cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                       FROM probed a JOIN bands b
                         ON a.band = b.band AND a.band_val = b.band_val
                       WHERE a.vec_id < b.vec_id),
              sc AS (SELECT id_a, id_b,
                            list_reduce(list_prepend(0.0,
                              list_transform(range(1, len(ea.v)+1), i -> ea.v[i]*eb.v[i])),
                              (acc,x) -> acc + x) / (ea.nrm * eb.nrm) AS cos
                     FROM cand
                     JOIN e ea ON ea.vec_id = cand.id_a
                     JOIN e eb ON eb.vec_id = cand.id_b)
         SELECT CAST(t AS BIGINT) AS threshold_micro, count(*) AS n_pairs
         FROM sc, (SELECT unnest([250000, 350000, 500000, 700000]) AS t)
         WHERE cos >= CAST(t AS DOUBLE) / 1000000.0
         GROUP BY t"""


  /** Hilbert index replay ([[graft.operators.Layout.hilbertLayout]]):
    * the same 16-step Mealy machine over the same two packed LUT
    * literals, unrolled as chained CTEs — each step folds one bit pair
    * into the index and advances the orientation state with pure
    * BIGINT shift/mask arithmetic.
    */
  val hilbertLayoutSql: String = {
    val dig = graft.operators.Layout.HilbertDigitLut
    val nxt = graft.operators.Layout.HilbertNextLut
    val steps = (15 to 0 by -1).zipWithIndex.map { case (b, i) =>
      val k = s"(st * 4 + ((x >> $b) & 1) * 2 + ((y >> $b) & 1))"
      s"""s${i + 1} AS (SELECT event_id, user_id, vbin, x, y,
                   (h * 4) | (($dig >> ($k * 2)) & 3) AS h,
                   ($nxt >> ($k * 2)) & 3 AS st FROM s$i)"""
    }.mkString(",\n              ")
    s"""WITH s0 AS (SELECT event_id, user_id, vbin,
                           user_id & 65535 AS x, vbin & 65535 AS y,
                           CAST(0 AS BIGINT) AS h, CAST(0 AS BIGINT) AS st
                    FROM (SELECT event_id, user_id,
                                 CAST(floor(value) AS BIGINT) AS vbin
                          FROM events)),
              $steps
         SELECT event_id, user_id, vbin, h FROM s16"""
  }

  /** [[graft.operators.Similarity.embeddingPcaProject]]'s eight power
    * iterations, unrolled as CTE pairs over the full int8 Gram.
    * HUGEINT throughout: the rescale numerator reaches ~10²¹. The
    * truncating `//` matches Scala BigInt division exactly.
    */
  val embeddingPcaProjectSql: String = {
    val iterCtes = (1 to 8).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS (SELECT g.i AS i, sum(g.g::HUGEINT * $prev.val) AS w
                  FROM g JOIN $prev ON g.j = $prev.i GROUP BY g.i),
              mx$k AS (SELECT max(abs(w)) AS m FROM w$k),
              v$k AS (SELECT i, CASE WHEN m = 0 THEN 0::HUGEINT
                                     ELSE (w * 1000000) // m END AS val
                      FROM w$k, mx$k)"""
    }.mkString(",\n              ")
    s"""WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
              m AS (SELECT vec_id, v,
                           list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
              x AS (SELECT vec_id, v, ma,
                           unnest(range(1, len(v) + 1)) AS i FROM m),
              qt AS (SELECT vec_id, cast(i - 1 AS BIGINT) AS dim_idx,
                            CASE WHEN ma = 0.0 THEN 0
                                 ELSE greatest(-127, least(127,
                                        cast(floor(v[i] * 127.0 / ma) AS BIGINT)))
                            END AS q
                     FROM x),
              g AS (SELECT a.dim_idx AS i, b.dim_idx AS j,
                           CAST(sum(a.q * b.q) AS BIGINT) AS g
                    FROM qt a JOIN qt b ON a.vec_id = b.vec_id
                    GROUP BY 1, 2),
              v0 AS (SELECT unnest(range(0, (SELECT max(dim_idx) + 1 FROM qt))) AS i,
                            1000000::HUGEINT AS val),
              $iterCtes
         SELECT qt.vec_id, CAST(sum(qt.q * v8.val) AS BIGINT) AS proj_micro
         FROM qt JOIN v8 ON qt.dim_idx = v8.i
         GROUP BY qt.vec_id"""
  }

  /** recall@5 scoreboard oracle ([[graft.operators.Similarity.annRecall]]):
    * each ANN variant's full SQL replay — the exact strings that oracle
    * the variants individually — wrapped as a tagged subquery and
    * left-joined against the exact top-k replay. Composition of
    * already-verified SQL; integer hit counts only.
    */
  private def annRecallSqlOf(variants: Seq[(String, String)]): String = {
    val tagged = variants.map { case (v, sql) =>
      s"SELECT '$v' AS variant, qid, neighbor_id FROM ($sql)"
    }.mkString("\nUNION ALL\n")
    // the left join FROM the literal variant list mirrors the Spark
    // plan: a variant regressing to zero rows shows up as hits=0, it
    // does not vanish from the scoreboard
    val variantRows = variants.map { case (v, _) => s"('$v')" }.mkString(", ")
    s"""WITH exact AS (SELECT qid, neighbor_id
                       FROM (${similarityTopk})),
            approx AS ($tagged),
            scored AS (
              SELECT a.variant, CAST(count(e.qid) AS BIGINT) AS hits
              FROM approx a
              LEFT JOIN exact e
                ON a.qid = e.qid AND a.neighbor_id = e.neighbor_id
              GROUP BY a.variant)
       SELECT v.variant, CAST(5 AS BIGINT) AS k,
              CAST(coalesce(s.hits, 0) AS BIGINT) AS hits,
              (SELECT CAST(count(*) AS BIGINT) FROM exact) AS possible
       FROM (VALUES $variantRows) v(variant)
       LEFT JOIN scored s ON v.variant = s.variant"""
  }

  private lazy val annRecallVariants: Seq[(String, String)] = Seq(
    "ann_ivf"   -> annIvfSql,
    "ann_ivfpq" -> similarityAnnIvfpq,
    "ann_lsh"   -> similarityAnnLsh,
    "ann_pq"    -> similarityAnnPq)

  lazy val annRecallSql: String = annRecallSqlOf(annRecallVariants)

  /** The in-plan clustered corpus
    * ([[graft.operators.Similarity.synthClusteredDir]]) regenerated as
    * a CTE: 2000 vectors, 12 contiguous clusters (queries 0-9 drawn
    * from clusters 1-10), coordinate = md5-int center in [-1000, 1000]
    * + md5-int noise in [-120, 120] — the `('0x' || substr(md5(...),
    * 1, 7))::BIGINT` idiom every LSH oracle already replays, so floats
    * carry the integers exactly and the corpus is bit-identical to the
    * Spark side's at any SF.
    */
  private val synthClusteredCte: String =
    """embeddings AS (
         SELECT id AS vec_id,
                list_transform(range(0, 64), j -> CAST(
                  ('0x' || substr(md5('ctr:' ||
                     (CASE WHEN id < 10 THEN id + 1 ELSE (id * 12) // 2000 END)
                     || ':' || j), 1, 7))::BIGINT % 2001 - 1000
                  + ('0x' || substr(md5('nz:' || id || ':' || j), 1, 7))::BIGINT % 241 - 120
                AS FLOAT)) AS embedding
         FROM range(0, 2000) t(id))"""

  /** [[graft.operators.Similarity.annRecallClustered]]'s replay: the
    * synthetic corpus CTE SHADOWS the `embeddings` view (CTE names
    * take precedence in DuckDB), so the standard variant replays —
    * plus the untrained first-nlist control ([[annIvfCtlSql]]) — run
    * verbatim over the generated corpus.
    */
  lazy val annRecallClusteredSql: String =
    s"WITH $synthClusteredCte, " +
      annRecallSqlOf(annRecallVariants :+ ("ann_ivf_ctl" -> annIvfCtlSql))
        .stripPrefix("WITH ")

  /** [[graft.operators.Similarity.annNprobeSweep]]'s replay: the SAME
    * codebook/assignment/probe CTEs as [[annIvfSql]] with the probe
    * cut threaded by a levels table (`rn <= np`), per-level candidate
    * counts from the probe join, per-level recall@5 against the
    * brute-force similarity_topk subquery. Zero-candidate levels
    * survive via the lv LEFT JOINs (Spark's 1-row count aggregates
    * always emit).
    */
  lazy val annNprobeSweepSql: String =
    s"""WITH $sphericalKmeansCtesDerived,
              e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
                           sqrt(list_reduce(list_prepend(0.0,
                             list_transform(cast(embedding AS DOUBLE[]), x -> x*x)),
                             (a,x) -> a + x)) AS nrm
                    FROM embeddings),
              c AS (SELECT cell AS cid,
                           list_transform(c, x -> CAST(x AS DOUBLE)) AS cv,
                           sqrt(CAST(list_sum(list_transform(c, x -> x*x)) AS DOUBLE)) AS cnrm
                    FROM c2l),
              cs AS (SELECT e.vec_id, c.cid,
                            CASE WHEN c.cnrm = 0 THEN -1000000000.0
                                 ELSE list_reduce(list_prepend(0.0,
                                        list_transform(range(1, len(e.v)+1), i -> e.v[i]*c.cv[i])),
                                        (a,x) -> a + x) / (e.nrm * c.cnrm)
                            END AS sim
                     FROM e, c),
              assigned AS (SELECT vec_id, cell FROM (
                     SELECT vec_id, cid AS cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                     FROM cs) WHERE rn = 1),
              lv AS (SELECT unnest([1, 2, 4, 8]) AS np),
              probes AS (SELECT np, qid, cell FROM (
                     SELECT vec_id AS qid, cid AS cell,
                            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
                     FROM cs WHERE vec_id < 10), lv WHERE rn <= np),
              scored AS (SELECT np, p.qid, a.vec_id,
                                list_reduce(list_prepend(0.0,
                                  list_transform(range(1, len(q.v)+1), i -> q.v[i]*t.v[i])),
                                  (acc,x) -> acc + x) / (q.nrm * t.nrm) AS sim
                         FROM probes p
                         JOIN assigned a ON p.cell = a.cell
                         JOIN e q ON q.vec_id = p.qid
                         JOIN e t ON t.vec_id = a.vec_id
                         WHERE a.vec_id != p.qid),
              ivf AS (SELECT np, qid, vec_id FROM (
                     SELECT np, qid, vec_id,
                            row_number() OVER (PARTITION BY np, qid ORDER BY sim DESC, vec_id ASC) AS rnk
                     FROM scored) WHERE rnk <= 5),
              ex AS (SELECT qid, neighbor_id
                     FROM (${similarityTopk})),
              candn AS (SELECT np, count(*) AS candidates FROM scored GROUP BY np),
              hitn AS (SELECT np, count(*) AS hits
                       FROM ivf JOIN ex
                         ON ivf.qid = ex.qid AND ivf.vec_id = ex.neighbor_id
                       GROUP BY np)
         SELECT lv.np AS nprobe,
                CAST(coalesce(candidates, 0) AS BIGINT) AS candidates,
                CAST(coalesce(hits, 0) AS BIGINT) AS hits,
                (SELECT CAST(count(*) AS BIGINT) FROM ex) AS possible,
                CASE WHEN (SELECT count(*) FROM ex) > 0
                     THEN CAST(coalesce(hits, 0) AS DOUBLE)
                            / CAST((SELECT count(*) FROM ex) AS DOUBLE)
                END AS recall
         FROM lv
         LEFT JOIN candn ON candn.np = lv.np
         LEFT JOIN hitn ON hitn.np = lv.np"""

  /** [[graft.operators.Similarity.hybridSearchRrf]]'s replay: both
    * registered ranker oracles as subqueries, full-outer-joined on
    * (qid, neighbor), each side contributing the integer micro-RRF
    * surrogate (0 when absent), re-ranked per qid.
    */
  lazy val hybridSearchRrfSql: String =
    s"""WITH lex AS (SELECT qid, neighbor_id, rnk
                     FROM (${docKnnTfidf})),
            sem AS (SELECT qid, neighbor_id, rnk
                    FROM (${similarityTopk})),
            fused AS (SELECT coalesce(lex.qid, sem.qid) AS qid,
                             coalesce(lex.neighbor_id, sem.neighbor_id) AS neighbor_id,
                             coalesce(CAST(1000000 AS BIGINT) // (60 + lex.rnk), 0)
                               + coalesce(CAST(1000000 AS BIGINT) // (60 + sem.rnk), 0)
                               AS fused_micro
                      FROM lex FULL OUTER JOIN sem
                        ON lex.qid = sem.qid AND lex.neighbor_id = sem.neighbor_id)
       SELECT qid, neighbor_id, fused_micro, rnk FROM (
         SELECT *, row_number() OVER (PARTITION BY qid
                                      ORDER BY fused_micro DESC, neighbor_id ASC) AS rnk
         FROM fused) WHERE rnk <= 5"""
}
