package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SessionMemo, Tables}
import graft.functions.TokenFunctions.{bpe_pairs, bpe_pieces}

/** Text-analysis operators over the `documents` table.
  *
  * `wordcount` re-expresses the reference's WordCount job (reference
  * WordCount.java:16-46 — whitespace `StringTokenizer`, per-word sum with
  * a combiner). The combiner is Catalyst's automatic partial
  * aggregation; no hand-rolled fold is needed.
  *
  * The rest are LLM-training-data-pipeline operators (language ID,
  * quality scoring, token counting, fingerprinting). They are all
  * per-row column expressions — no shuffle except the final aggregation
  * where one exists — so they scale linearly with input and stay inside
  * whole-stage codegen.
  */
object TextOps {

  /** Whitespace tokens, empties dropped — shared tokenizer agreeing with
    * the DuckDB oracle's
    * `list_filter(string_split_regex(text,'\s+'), t -> t != '')`.
    * Native one-pass expression (graft.functions.WsTokens) — bit-equal
    * to `filter(split(c, "\\s+"), t => t =!= "")` (property-tested) but
    * codegen'd; user-written split+filter gets rewritten to it by
    * graft.plans.TokenRewrite.
    */
  def tokens(c: Column): Column = graft.functions.TokenFunctions.ws_tokens(c)

  /** WordCount (reference WordCount.java:16-46): token → count.
    * explode + hash-agg; partial agg (the reference's combiner) is
    * automatic.
    */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Per-document token statistics: char/token/distinct-token counts and
    * mean token length. All ratios are int/int divisions — bit-identical
    * across engines. Purely narrow (no shuffle).
    */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        (aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double")
          / size(col("toks"))).as("avg_token_len"))

  /** Quality scoring for corpus filtering: alpha/digit/space/punct
    * character ratios plus a stopword ratio, and a composite score.
    * Regexes are kept to the Java∩RE2 common subset so the DuckDB oracle
    * evaluates the identical pattern.
    */
  /** alpha-chars / total-chars ratio — shared by [[textQuality]] and the
    * fused curation profile in [[Dedup.corpusCurate]] so the quality
    * gate can't drift between the standalone and composed pipelines.
    */
  private[operators] def alphaRatioExpr(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]"), lit(0))).cast("long").cast("double") /
      length(text).cast("long")

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    val docs = Tables.documentsSpread(spark, dir)
    def classCount(pat: String): Column =
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_digit", classCount("[0-9]"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => t.isin(stop.map(lit(_)): _*))).cast("long"))
      .select(
        col("doc_id"),
        alphaRatioExpr(col("text")).as("alpha_ratio"),
        (col("n_digit").cast("double") / col("n_chars")).as("digit_ratio"),
        (col("n_stop").cast("double") / size(col("toks"))).as("stopword_ratio"))
  }

  /** BPE-ish token counting — the `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]`
    * word/number/symbol pre-tokenizer split most BPE vocabularies use.
    * One native codegen'd scan ([[graft.functions.BpeishCounts]])
    * computes both counts; equivalence with the regex formulation is
    * property-tested and the DuckDB oracle still evaluates the regex.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val packed = graft.functions.TokenFunctions.bpeish_counts(col("text"))
    Tables.documentsSpread(spark, dir).select(
      col("doc_id"),
      shiftright(packed, 32).as("n_bpeish"),
      packed.bitwiseAND(lit(0xffffffffL)).as("n_numeric"))
  }

  /** Language-ID heuristic: ratio of high-frequency English marker tokens,
    * bucketed into a confidence label. (A production n-gram model would
    * slot into the same shape; the marker-ratio heuristic keeps the
    * operator oracle-checkable.)
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Seq("the", "a", "of", "and", "to", "is", "in")
    val docs = Tables.documentsSpread(spark, dir)
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("ratio",
        size(filter(col("toks"), t => t.isin(markers.map(lit(_)): _*))).cast("double")
          / size(col("toks")))
      .select(
        col("doc_id"),
        when(col("ratio") >= 0.10, lit("en"))
          .when(col("ratio") >= 0.03, lit("en_low"))
          .otherwise(lit("other")).as("pred_lang"))
  }

  /** Deterministic stratified sampling: keep a fixed hash-bucket
    * fraction of documents PER SOURCE stratum (30%), so every stratum
    * is represented at the same rate regardless of its size — and the
    * sample is stable across runs/engines/partitionings (hash-based,
    * not RNG), so downstream experiments are reproducible and
    * incremental appends never resample old rows.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("b",
        conv(substring(md5(concat_ws(":", col("source"), col("doc_id").cast("string"))
          .cast("binary")), 1, 7), 16, 10).cast("long") % 100)
      .filter(col("b") < 30)
      .select(col("doc_id"), col("source"))

  /** Corpus bigram frequency table — the n-gram LM counting workload
    * (multiset counts, unlike the DISTINCT shingles dedup uses). Pure
    * explode + hash-agg; partial aggregation bounds the shuffle by
    * vocabulary², not corpus size.
    */
  def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1))))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))

  /** Bigram language-model table: P(w2 | w1) = c(w1 w2) / c(w1 ·) as
    * exact integer counts plus the one int/int double both engines
    * compute identically. The denominator is the number of bigram
    * CONTEXTS (tokens with a successor), computed as a
    * `sum(cnt) OVER (PARTITION BY w1)` window on the already-grouped
    * bigram table — no second join, no broadcast. At 100× corpus scale
    * the context table is 10⁷+ rows (every distinct first-token), past
    * any sane broadcast threshold; the window formulation only ever
    * moves the vocabulary²-bounded grouped rows, partitioned by w1.
    */
  def ngramLmProbs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("w1"))
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(
          element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ctx_cnt", sum(col("cnt")).over(w))
      .select(col("w1"), col("w2"), col("cnt"), col("ctx_cnt"),
        (col("cnt").cast("double") / col("ctx_cnt")).as("prob"))
  }

  /** Interpolated Kneser–Ney bigram probabilities — the smoothing
    * production n-gram LMs (KenLM et al.) actually ship, where
    * [[ngramLmProbs]] is the raw MLE table:
    *
    *   p_KN(w2|w1) = (c(w1,w2) − d)/c(w1·)
    *               + (d·N1+(w1·)/c(w1·)) · (N1+(·w2)/D)
    *
    * with discount d = 3/4, N1+(w1·)/N1+(·w2) the distinct successor/
    * predecessor counts, and D the distinct-bigram-type total. Every
    * observed bigram has c ≥ 1 > d, so the max(·,0) clamp is vacuous
    * and the whole probability is one division chain over exact
    * integers with an exactly-representable discount — bit-identical
    * across engines when written in the same operation order (which the
    * oracle mirrors token for token).
    *
    * Scale shape: identical to [[ngramLmProbs]] — all three smoothing
    * statistics are windows over the ALREADY-GROUPED vocabulary²-
    * bounded bigram table (partitioned by w1 for context totals and
    * successor counts, by w2 for predecessor counts); the type total D
    * is the one whitelisted 1-row scalar. The corpus-sized explode
    * collapses map-side before any of it.
    */
  def kneserNeyProbs(spark: SparkSession, dir: String): DataFrame = {
    val w1w = Window.partitionBy(col("w1"))
    val w2w = Window.partitionBy(col("w2"))
    val bg = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(
          element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      // feeds the smoothing windows AND the type-total scalar — persist
      // the vocabulary²-bounded grouped rows, not the corpus explode
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bg
      .withColumn("ctx_cnt", sum(col("cnt")).over(w1w))
      .withColumn("n1_succ", count(lit(1)).over(w1w))
      .withColumn("n1_pred", count(lit(1)).over(w2w))
      .crossJoin(broadcast(bg.agg(count(lit(1)).as("n_types"))))
      .select(col("w1"), col("w2"), col("cnt"), col("ctx_cnt"),
        col("n1_succ"), col("n1_pred"), col("n_types"),
        ((col("cnt").cast("double") - lit(0.75)) / col("ctx_cnt")
          + (lit(0.75) * col("n1_succ") / col("ctx_cnt"))
            * (col("n1_pred").cast("double") / col("n_types"))).as("prob_kn"))
  }

  /** Interpolated trigram Kneser–Ney with continuation backoff —
    * [[kneserNeyProbs]] extended one order, the model production n-gram
    * stacks (KenLM) build recursively:
    *
    *   p_KN(w3|w1,w2) = (c(w1w2w3) − d)/c(w1w2·)
    *                  + (d·N1+(w1w2·)/c(w1w2·)) · p_cont(w3|w2)
    *   p_cont(w3|w2)  = (N1+(·w2w3) − d)/N1+(·w2·)
    *                  + (d·N1+(w2·*)/N1+(·w2·)) · (N1+(·w3)/D)
    *
    * with d = 3/4 and — the defining Kneser–Ney move — every
    * lower-order statistic computed over trigram TYPES, not raw
    * counts: N1+(·w2w3) is the distinct-predecessor count of the
    * bigram, N1+(·w2·)/N1+(w2·*) its middle-word context totals, and
    * D the distinct-bigram-type total. Observed rows have every count
    * ≥ 1 > d, so the max(·,0) clamps are vacuous and the probability
    * is one fixed-shape division chain over exact integers, mirrored
    * operation-for-operation in the DuckDB oracle.
    *
    * Scale shape: the corpus-sized explode collapses map-side into the
    * vocabulary³-bounded trigram table (persisted once — it feeds the
    * context windows, the type table, and the join); all smoothing
    * statistics are windows over that grouped table or over the even
    * smaller (w2,w3) type table, and the only scalar is the whitelisted
    * 1-row type total. Nothing corpus-sized ever crosses a shuffle
    * twice.
    */
  def trigramKnProbs(spark: SparkSession, dir: String): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ctxW = Window.partitionBy(col("w1"), col("w2"))
    val midW = Window.partitionBy(col("w2"))
    val predW = Window.partitionBy(col("w3"))
    val d = lit(0.75)
    val tri = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 2),
        i => struct(
          element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2"),
          element_at(col("ts"), i + 2).as("w3")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.w3").as("w3"))
      .agg(count(lit(1)).as("cnt"))
      .persist(sl)
    // (w2,w3) continuation-type table: t_cnt = N1+(·w2w3); its windows
    // give the mid-context totals, its row count the scalar D
    val typ = tri.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("t_cnt"))
      .withColumn("t_ctx", sum(col("t_cnt")).over(midW))
      .withColumn("t_succ", count(lit(1)).over(midW))
      .withColumn("n1_pred", count(lit(1)).over(predW))
      .persist(sl)
    val pLow =
      (col("t_cnt").cast("double") - d) / col("t_ctx") +
        (d * col("t_succ") / col("t_ctx")) *
          (col("n1_pred").cast("double") / col("n_bg_types"))
    tri
      .withColumn("ctx_cnt", sum(col("cnt")).over(ctxW))
      .withColumn("n1_succ", count(lit(1)).over(ctxW))
      .join(typ, Seq("w2", "w3"))
      .crossJoin(broadcast(typ.agg(count(lit(1)).as("n_bg_types"))))
      .select(col("w1"), col("w2"), col("w3"), col("cnt"), col("ctx_cnt"),
        col("n1_succ"), col("t_cnt"), col("t_ctx"), col("t_succ"),
        col("n1_pred"), col("n_bg_types"),
        ((col("cnt").cast("double") - d) / col("ctx_cnt")
          + (d * col("n1_succ") / col("ctx_cnt")) * pLow).as("prob_kn"))
  }

  /** Vocabulary construction: the top-K tokens by corpus frequency with
    * dense ids assigned in (count DESC, token ASC) order — the
    * tokenizer-training step that turns WordCount output into a model
    * artifact.
    *
    * Scale shape: the top-K selection is `orderBy(...).limit(topK)`,
    * which Spark compiles to `TakeOrderedAndProject` — per-partition
    * k-bounded heaps merged on one node, never a global sort of the
    * full term table (at 100 TB the vocabulary is 10⁷–10⁹ distinct
    * tokens; an unpartitioned ranking window would materialize all of
    * them on a single executor). The dense-id window then runs over
    * the ≤topK survivors only — bounded by the parameter, not the
    * corpus.
    */
  def vocabBuild(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    val w = Window.partitionBy()
      .orderBy(col("cnt").desc, col("token").asc)
    Tables.documentsSpread(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topK)
      .withColumn("token_id", row_number().over(w).cast("long") - 1L)
  }

  /** Tokenize-to-ids against the [[vocabBuild]] vocabulary — the encode
    * step every training pipeline runs before [[packBatches]]:
    * documents become dense id sequences, out-of-vocabulary tokens map
    * to −1 (the UNK slot), and `n_oov` carries the coverage signal
    * vocabulary sizing is tuned on.
    *
    * Scale shape: the vocabulary is topK-bounded by the PARAMETER
    * (model-scale, like the IVF codebook), so it broadcasts and the
    * corpus-side explode joins without shuffling text; the id
    * re-assembly is one doc_id-partitioned aggregate whose
    * `array_sort(struct(pos, id))` makes collect_list's arrival order
    * irrelevant — bit-identical output on any partitioning. Zero-token
    * docs surface with an EMPTY id array, not a missing row.
    */
  def encodeTokens(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    val vocab = vocabBuild(spark, dir, topK).select(col("token"), col("token_id"))
    val docs = Tables.documentsSpread(spark, dir)
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
    val encoded = toks
      .join(broadcast(vocab), toks("t") === vocab("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"),
        expr("transform(array_sort(collect_list(struct(pos, coalesce(token_id, -1L) AS id)))," +
          " s -> s.id)").as("ids"))
    docs.select(col("doc_id"))
      .join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        // comma-joined, like inverted_index's postings: the harness
        // compare canonicalizes rows by sorting every column, which a
        // raw array column breaks
        coalesce(expr("array_join(transform(ids, x -> CAST(x AS STRING)), ',')"), lit(""))
          .as("ids"))
  }

  /** Two-pass heavy hitters: corpus tokens with frequency > N/k,
    * found WITHOUT shuffling the vocabulary. Pass 1 runs the
    * [[graft.functions.MisraGries]] sketch (k-bounded mergeable state;
    * the exchange carries ≤ k items per partition — a plain
    * `groupBy(token)` would shuffle every distinct token to answer the
    * same question). Pass 2 re-counts ONLY the ≤ k candidates exactly
    * (map-side `isin` filter, k-bounded shuffle) and applies the true
    * integer threshold `cnt·k > N`.
    *
    * MG guarantees every item with freq > N/(k+1) survives pass 1, so
    * no true heavy hitter is missed; the exact filter drops the
    * order-dependent false candidates — the composed result is
    * DETERMINISTIC and equals the naive full-groupBy relation, which
    * is what the DuckDB oracle computes.
    */
  def frequentTokens(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import spark.implicits._
    val toks = Tables.documentsSpread(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mg = new graft.functions.MisraGries(k).toColumn
    val candidates: Seq[String] =
      toks.as[String].select(mg).collect().headOption.getOrElse(Nil)
    val n: Long = toks.count()
    toks
      .filter(col("token").isin(candidates: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > n)
  }

  /** Per-language coverage of the [[vocabBuild]] vocabulary — the
    * tokenizer-sizing / multilingual-fairness table: how many token
    * OCCURRENCES each language's text covers with the shared top-K
    * vocab, and how many distinct out-of-vocab types remain. Languages
    * whose coverage lags get vocabulary budget (or their own tokenizer)
    * — the decision this table drives.
    *
    * Scale shape: the vocab is topK-bounded by the PARAMETER so it
    * broadcasts; the corpus side explodes once and aggregates straight
    * to one row per language with map-side partial aggregation. The
    * two count-distincts expand the grouped stream, but both are
    * bounded (languages × vocabulary types). Pure integers.
    */
  def vocabCoverage(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val vocab = vocabBuild(spark, dir, topK).select(col("token"))
    val toks = Tables.documentsSpread(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("t"))
    toks.join(broadcast(vocab), toks("t") === vocab("token"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("token").isNull, 0L).otherwise(1L)).as("n_covered"),
        sum(when(col("token").isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when(col("token").isNull, col("t"))).as("n_oov_types"))
  }

  /** Sequence packing: assign documents to fixed token-budget batches —
    * the batching step before training. Docs are sharded by id (so the
    * running totals parallelize; a single global cumsum would be a
    * one-partition sort, the classic scale-killer), ordered within the
    * shard, and each doc lands in the batch its starting token offset
    * falls in. Deterministic integer math end to end.
    */
  def packBatches(spark: SparkSession, dir: String, budget: Long = 8192, shards: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE exchange: hash-partition by shard up front (the window then
    // needs no further shuffle) and tokenize after it, in parallel —
    // a spread + shard plan would move the text twice.
    Tables.documents(spark, dir)
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .repartition(col("shard"))
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"),
        col("shard"))
      .withColumn("cum_end", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("n_tokens"), col("shard"),
        (col("shard") * 1000000L +
          expr(s"(cum_end - n_tokens) DIV $budget")).as("batch_id"))
  }

  /** Packing-efficiency histogram over [[packBatches]]' assignment: per
    * fill decile (`batch_tokens·10 div budget`), how many batches land
    * there and how many tokens they carry — the utilization report
    * that tunes the token budget and shard count (a spike at low
    * deciles means tail batches waste accelerator steps; deciles > 10
    * are batches a straddling document pushed past the budget). Two
    * bounded rollups on top of the verified packing plan: batches are
    * corpus/budget-scale, deciles are ≤ a dozen rows.
    */
  def packingEfficiency(spark: SparkSession, dir: String, budget: Long = 8192): DataFrame =
    packBatches(spark, dir, budget)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("batch_tokens"))
      .groupBy(expr(s"(batch_tokens * 10) div $budget").as("fill_decile"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("batch_tokens")).as("sum_tokens"),
        sum(col("n_docs")).as("sum_docs"))

  /** Fixed token-window document chunking with overlap — the RAG-indexing
    * / context-packing primitive. Each doc's whitespace tokens are cut
    * into windows of `window` tokens advancing by `stride = window -
    * overlap`; the final window is the one that first reaches the end of
    * the doc (every chunk contributes at least `stride` new tokens, so a
    * trailing fragment fully contained in its predecessor is never
    * emitted). Chunk ids are stable pure-integer `doc_id * 1e6 + idx`.
    *
    * Plan shape: tokenize → `explode(sequence(0, k))` → slice — narrow
    * per-row compute on the spread scan, zero exchanges, fully inside
    * whole-stage codegen. At 100 TB this is a map-only pass whose output
    * fans out ~n/stride per doc; no shuffle exists to bottleneck.
    * Empty docs yield zero chunks; `n <= window` yields exactly one.
    */
  def docChunks(spark: SparkSession, dir: String, window: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < window, s"need 0 <= overlap < window, got $overlap/$window")
    val stride = window - overlap
    val lenExpr = least(col("n") - col("chunk_idx") * stride, lit(window.toLong))
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .withColumn("n", size(col("ts")).cast("long"))
      .where(col("n") > 0)
      // k = index of the last chunk: 0 when the doc fits one window,
      // else integer-ceil((n - window) / stride). All-integer math.
      .withColumn("k",
        when(col("n") <= window, lit(0L))
          .otherwise(expr(s"(n - $window + ${stride - 1}) DIV $stride")))
      .select(col("doc_id"), col("ts"), col("n"),
        explode(sequence(lit(0L), col("k"))).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        (col("doc_id") * 1000000L + col("chunk_idx")).as("chunk_id"),
        (col("chunk_idx") * stride).as("start_tok"),
        lenExpr.as("n_chunk_tokens"),
        concat_ws(" ",
          slice(col("ts"), (col("chunk_idx") * stride + 1L).cast("int"),
            lenExpr.cast("int"))).as("chunk_text"))
  }

  /** BPE tokenizer training, round 1: adjacent character-pair
    * frequencies over the corpus vocabulary, weighted by word count —
    * the statistic every byte-pair-encoding merge step maximizes. The
    * pair counting runs over the (word, count) VOCABULARY table, not
    * the corpus (the classic BPE-at-scale trick: corpus-sized work
    * collapses to vocab-sized work after one wordcount), and the top-K
    * selection is `orderBy().limit()` → `TakeOrderedAndProject`
    * (per-partition heaps, no global sort). The character pairs are
    * the native merge kernel's under zero merges
    * ([[graft.functions.BpeMerge]]), glued back to the two-character
    * string `substring(word, i, 2)` names. [[bpeTrain]] iterates this
    * to an actual merge sequence.
    */
  def bpePairCounts(spark: SparkSession, dir: String, topK: Int = 20): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
      .select(explode(bpe_pairs(col("word"), Nil)).as("p"), col("wcnt"))
      .groupBy(concat(col("p.l"), col("p.r")).as("pair")).agg(sum(col("wcnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topK)

  /** Iterative BPE training: `rounds` greedy merges. Each round counts
    * the adjacent piece pairs of every vocabulary word under the merges
    * learned so far (weighted by word count) and collects the single
    * best (cnt desc, pair asc): one `head()` of one row. The native
    * merge kernel ([[graft.functions.BpeMerge]]) replays the merges
    * from each word's characters, so the vocabulary is never rewritten
    * between rounds, and every round runs the same compiled plan over
    * the same checkpointed (word, wcnt) table. Driver-side loop,
    * vocab-sized distributed work per round; returns the merge table.
    * The registered `bpe_train` / `bpe_vocab` rows ([[bpeTrainTable]],
    * [[bpeVocab]]) oracle the N-round loop end-to-end against the same
    * DuckDB recursive replay `bpe_encode` uses.
    */
  def bpeTrain(spark: SparkSession, dir: String, rounds: Int = 3): Seq[(Int, String, String, Long)] =
    bpeTrainState(spark, dir, rounds)._1

  private[graft] val bpeMemo =
    new SessionMemo[Int, (Seq[(Int, String, String, Long)], DataFrame)]

  /** The merge sequence plus the (word, wcnt) vocabulary it was
    * trained on, memoized per (application, corpus, rounds)
    * ([[graft.SessionMemo]]): [[bpeTrain]], [[bpeTrainTable]],
    * [[bpeVocab]] and [[bpeEncode]] share one training loop. The
    * vocabulary is an eager localCheckpoint (a lineage-free
    * block-manager RDD, not a catalog cache entry, so a harness
    * `clearCache()` between queries can't invalidate it).
    */
  private def bpeTrainState(spark: SparkSession, dir: String,
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) =
    bpeMemo.getOrBuild(spark, dir, rounds) {
      val vocab = Tables.documentsSpread(spark, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
        .localCheckpoint(true)
      try (bpeMerges(vocab, rounds), vocab)
      catch { case e: Throwable => SessionMemo.release(vocab); throw e }
    }

  /** Up to `rounds` greedy merges over `vocab`, one `head()` each;
    * fewer when the pairs run out.
    */
  @scala.annotation.tailrec
  private def bpeMerges(vocab: DataFrame, rounds: Int,
      merges: Vector[(Int, String, String, Long)] = Vector.empty): Seq[(Int, String, String, Long)] =
    if (merges.size == rounds) merges
    else {
      // Best pair = (cnt desc, l asc, r asc) as ONE scalar aggregate:
      // min over struct(-cnt, l, r) — struct ordering is field-by-field,
      // so negating cnt turns the mixed-direction argmax into a plain
      // min. Partial mins fold map-side; the final exchange carries one
      // 1-row partial per partition — no per-round ordering anywhere,
      // not even per-partition heaps. The single collected row is the
      // round's merge-table entry and joins the merge list the next
      // round's kernel replays.
      val top = vocab
        .select(explode(bpe_pairs(col("word"), mergePairs(merges))).as("p"), col("wcnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wcnt")).as("cnt"))
        .agg(min(struct((-col("cnt")).as("negCnt"), col("l"), col("r"))).as("best"))
        .head()
      if (top.isNullAt(0)) merges
      else {
        val best = top.getStruct(0)
        bpeMerges(vocab, rounds,
          merges :+ ((merges.size + 1, best.getString(1), best.getString(2), -best.getLong(0))))
      }
    }

  private def mergePairs(merges: Seq[(Int, String, String, Long)]): Seq[(String, String)] =
    merges.map { case (_, l, r, _) => (l, r) }

  /** The registered merge table: [[bpeTrain]]'s N greedy rounds as a
    * (round, l, r, cnt) relation — the artifact a tokenizer TRAINS
    * (merges.txt). Metadata-scale output from a driver-rounds loop
    * whose per-round work is vocab-sized and distributed; the DuckDB
    * oracle replays all N count→argmax→rewrite rounds recursively
    * (same CTE generator as `bpe_encode`), so the whole training loop
    * is hash-proven, not just round 1's counting statistic.
    */
  def bpeTrainTable(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    val merges = bpeTrain(spark, dir, rounds)
    import spark.implicits._
    val out = merges.map { case (k, l, r, c) => (k.toLong, l, r, c) }
    // explicit schema via toDF on a typed Dataset: survives rounds
    // landing empty (day-one corpus — EmptyInputSpec)
    spark.createDataset(out).toDF("round", "l", "r", "cnt")
  }

  /** The post-training vocabulary: every SYMBOL the N-merge tokenizer
    * can emit, with its corpus frequency (occurrences weighted by word
    * count) — vocab.json's count column. The merge kernel splits each
    * word of the checkpointed training vocabulary into its final
    * pieces; one explode + rollup, symbol inventory scale, never
    * corpus scale.
    */
  def bpeVocab(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    val (merges, vocab) = bpeTrainState(spark, dir, rounds)
    vocab
      .select(explode(bpe_pieces(col("word"), mergePairs(merges))).as("piece"), col("wcnt"))
      .groupBy(col("piece"))
      .agg(sum(col("wcnt")).as("freq"))
  }

  /** BPE encode: apply [[bpeTrain]]'s learned merge sequence to every
    * document — the tokenize step a trained BPE vocabulary exists FOR.
    * Each token splits to characters and replays the merges in training
    * order (the same left-to-right non-overlapping passes training
    * counts pairs under), and the document's piece sequence is
    * concatenated across tokens.
    *
    * Scale shape: after training (bounded driver rounds, vocab-sized
    * work — the model-building cost), the encode itself is ONE narrow
    * projection: `ws_tokens`, then the native merge kernel
    * ([[graft.functions.BpeMerge]]) over the token array, both
    * codegen'd; zero joins, zero shuffles, no vocabulary broadcast
    * (the merge list is a handful of strings the kernel holds). The
    * replay is deterministic string work, so the whole train+encode
    * pipeline replays hash-for-hash in the DuckDB oracle (list_reduce
    * over a space-joined accumulator — symbols never contain
    * whitespace, ws_tokens guarantees it).
    */
  def bpeEncode(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val merges = mergePairs(bpeTrain(spark, dir, rounds))
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        bpe_pieces(col("ts"), merges).as("ps"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("ps")).cast("long").as("n_pieces"),
        array_join(col("ps"), " ").as("pieces"))
  }

  /** Curriculum training schedule: easiest-first staging composed from
    * two verified operators — CCNet perplexity tertiles
    * ([[perplexityBuckets]]: head = most fluent) become stages 0/1/2,
    * and WITHIN a stage the deterministic [[corpusShuffle]] (shard,
    * pos) randomizes read order. A trainer consumes stage ascending,
    * then (shard, pos) — curriculum learning's staged easy→hard
    * schedule without any global sort: the only new operation on top
    * of the two inputs is a doc_id join of id-scale rows. Docs the
    * perplexity model can't score (< 2 tokens, no bigrams) are
    * excluded — matching the bucket operator's domain.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame =
    perplexityBuckets(spark, dir)
      .select(col("doc_id"),
        when(col("bucket") === "head", 0L)
          .when(col("bucket") === "middle", 1L)
          .otherwise(2L).as("stage"))
      .join(corpusShuffle(spark, dir), "doc_id")
      .select(col("doc_id"), col("stage"), col("shard"), col("pos"))

  // ---------------------------------------------------------------
  // Unigram-LM tokenizer (the SentencePiece family, hard-EM variant)
  // ---------------------------------------------------------------

  /** `floor(ln(x)·10⁶)` as a BIGINT — the integer micro-nat
    * quantization the perplexity/entropy family already uses for
    * cross-engine exactness (both engines evaluate IEEE-double `ln`;
    * the floor flips only across a 1e-6 boundary).
    */
  private def lnMicroCol(c: Column): Column =
    floor(log(c.cast("double")) * lit(1000000.0)).cast("long")

  /** The Viterbi DP over one word's candidate pieces, as ONE pure SQL
    * higher-order fold. The accumulator holds, per word position, a
    * struct `(k, p)`: `k` packs the best path score INTO its argmax —
    * `k = (dp + OFF)·256 + j` where `j` is the winning piece's start
    * offset — and `p` is that best path's space-joined piece string
    * (extended per candidate from the predecessor's `p`, so the
    * backtrace is carried forward instead of walked afterwards).
    * `array_max` over the candidate structs is exact: struct ordering
    * is lexicographic and leads with `k`, whose ties are impossible
    * (two candidates ending at `i` with the same `j` would be the same
    * piece), so `p` never participates in the comparison. OFF keeps
    * every key positive so `div`/`//` agree across engines (Spark
    * truncates toward zero, DuckDB floors — identical on
    * non-negatives). Bounds: scores are ≥ −35·10⁶ micro-nats (ln of a
    * ≥1/e³⁵ probability — far below any real piece), words are capped
    * at 255 chars, so |dp| < 9·10⁹ < OFF = 16·10⁹ and keys < 2⁴³.
    *
    * A position no surviving piece reaches (mid-piece offsets after a
    * vocab shrink) folds to a NULL entry; candidates whose
    * predecessor entry is NULL are filtered out BEFORE the max —
    * explicitly, because the two engines order NULL-field structs
    * oppositely (Spark NULLs-first, DuckDB NULLs-last), and a NULL
    * key winning the max in one engine only is exactly the kind of
    * silent divergence the oracle exists to catch. Every word keeps a
    * valid full path (its previous round's winning pieces all
    * survive the usage recount), so the final entry is never NULL.
    *
    * One fold, not a DP fold plus a backtrace fold: the two-pass
    * version is equivalent on the Spark side but its oracle replay
    * feeds one lambda's output column into a second lambda, which
    * DuckDB 1.0.0 mis-aligns across rows (correlated-column row
    * crossing: words received each other's segmentations; reproduced
    * against materialized inputs during development) — carrying the
    * path string through the single fold keeps both engines on one
    * lambda layer. UnigramLmSpec's reconstruction property guards the
    * same failure class on the Spark side; the 3-SF oracle replay
    * guards the DuckDB side.
    */
  private val segFoldExpr: String =
    """split(element_at(
         aggregate(sequence(1, length(word)),
           array(named_struct('k', 16000000000L * 256L, 'p', '')),
           (acc, x) -> concat(acc, array(
             array_max(transform(
               filter(cs, c -> c.e = cast(x as bigint)
                 and not isnull(element_at(acc, cast(c.j as int) + 1).k)),
               c -> named_struct(
                 'k', (element_at(acc, cast(c.j as int) + 1).k div 256 + c.s) * 256 + c.j,
                 'p', concat(
                   if(element_at(acc, cast(c.j as int) + 1).p = '', '',
                      concat(element_at(acc, cast(c.j as int) + 1).p, ' ')),
                   substr(word, cast(c.j as int) + 1,
                     cast(x as int) - cast(c.j as int)))))))),
           acc -> acc),
         length(word) + 1).p, ' ')"""

  /** Unigram-LM tokenizer training state: (final piece table with
    * usage freqs, final per-word segmentation). Hard-EM over the
    * vocabulary word table:
    *  - SEED: every ≤`maxPieceLen`-char substring of every distinct
    *    word, occurrence-weighted by word count; ALL single chars
    *    (coverage guarantee) plus the top-`vMulti` multi-char pieces
    *    by (freq desc, piece asc) — `TakeOrderedAndProject`, no global
    *    sort.
    *  - E-step: Viterbi-segment each distinct word under piece scores
    *    `lnMicro(freq) − lnMicro(Σfreq)` (integer micro-nat
    *    log-probs; the normalizer matters — it is what penalizes
    *    many-piece segmentations). One [[segFoldExpr]] projection per
    *    word — corpus-sized text never re-enters after the wordcount.
    *  - M-step: piece usage counts from the winning segmentations,
    *    word-count weighted. Unused pieces drop out; every word's own
    *    winning pieces survive, so segmentability is preserved into
    *    the next round by construction.
    * Deterministic end to end (integer DP keys encode their own
    * argmax; seed rank and all ties fully ordered), so the DuckDB
    * oracle replays the WHOLE training loop.
    *
    * Scale shape: after the one wordcount (corpus-scale, partial-agg),
    * everything is vocabulary-scale — the `occ` explode is
    * |words|·len·`maxPieceLen` rows, each round is one broadcast of a
    * 1-row normalizer, one piece join, and one per-word fold. Words
    * over 255 chars are excluded from training (the key encoding's
    * low byte; SentencePiece's max-length cut plays the same role).
    */
  private[graft] val unigramMemo =
    new SessionMemo[(Int, Int, Int), (DataFrame, DataFrame)]

  /** [[unigramState]] memoized per (application, corpus, params) in a
    * [[graft.SessionMemo]], like [[bpeTrainState]]: one EM loop
    * per corpus, the final vocab and segmentation pinned as eager
    * localCheckpoints, the intermediate occurrence cache released.
    */
  private def unigramStateShared(spark: SparkSession, dir: String,
      vMulti: Int, maxPieceLen: Int, rounds: Int): (DataFrame, DataFrame) =
    unigramMemo.getOrBuild(spark, dir, (vMulti, maxPieceLen, rounds)) {
      val (vocab, seg, occ) =
        unigramState(spark, dir, vMulti, maxPieceLen, rounds)
      val vs = vocab.localCheckpoint(true)
      val ss = seg.localCheckpoint(true)
      occ.unpersist()
      (vs, ss)
    }

  private def unigramState(spark: SparkSession, dir: String,
      vMulti: Int, maxPieceLen: Int, rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    val wc = Tables.documentsSpread(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) <= 255)
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
    val occ = wc.select(col("word"), col("wcnt"), explode(expr(
      s"""flatten(transform(sequence(1, length(word)), i ->
            filter(transform(sequence(1, $maxPieceLen), l ->
              named_struct('j', cast(i - 1 as bigint), 'e', cast(i + l - 1 as bigint),
                           'sub', substr(word, i, l))),
              o -> o.e <= length(word))))""")).as("o"))
      .select(col("word"), col("wcnt"),
        col("o.j").as("j"), col("o.e").as("e"), col("o.sub").as("sub"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seedFreq = occ.groupBy(col("sub"))
      .agg(sum(col("wcnt")).as("freq"))
      .withColumnRenamed("sub", "piece")
    val seed = seedFreq.filter(length(col("piece")) === 1)
      .unionAll(seedFreq.filter(length(col("piece")) >= 2)
        .orderBy(col("freq").desc, col("piece").asc).limit(vMulti))

    var vocab = seed
    var seg: DataFrame = null
    for (_ <- 1 to rounds) {
      val tot = vocab.agg(lnMicroCol(sum(col("freq"))).as("lnt"))
      val scored = vocab.crossJoin(broadcast(tot))
        .select(col("piece"), (lnMicroCol(col("freq")) - col("lnt")).as("s"))
      val cand = occ.join(scored, occ("sub") === scored("piece"))
        .groupBy(col("word"), col("wcnt"))
        .agg(sort_array(collect_list(struct(col("e"), col("j"), col("s")))).as("cs"))
      seg = cand
        .withColumn("pieces", expr(segFoldExpr))
        .select(col("word"), col("wcnt"), col("pieces"))
      vocab = seg.select(col("wcnt"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wcnt")).as("freq"))
    }
    (vocab, seg, occ)
  }

  /** The trained unigram-LM tokenizer model: each surviving piece with
    * its usage frequency and integer micro-nat log-probability — the
    * (piece, score) table SentencePiece serializes as its model. See
    * [[unigramState]] for the hard-EM loop; this is its registered
    * readout, oracle-replayed end to end including both EM rounds.
    */
  def unigramLmTrain(spark: SparkSession, dir: String,
      vMulti: Int = 32, maxPieceLen: Int = 4, rounds: Int = 2): DataFrame = {
    val (vocab, _) = unigramStateShared(spark, dir, vMulti, maxPieceLen, rounds)
    val tot = vocab.agg(lnMicroCol(sum(col("freq"))).as("lnt"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("freq"),
        (lnMicroCol(col("freq")) - col("lnt")).as("score_micro"))
  }

  /** Unigram-LM encode: every document tokenized by the trained model
    * — [[bpeEncode]]'s shape (per-doc word count, piece count, and the
    * flattened piece string) with the segmentation dictionary coming
    * from [[unigramState]]'s final E-step instead of a merge replay.
    * The dictionary is the final WORD table (vocab-scale), joined to
    * the one exploded token pass; encoding costs one hash join, zero
    * corpus-scale folds.
    */
  def unigramEncode(spark: SparkSession, dir: String,
      vMulti: Int = 32, maxPieceLen: Int = 4, rounds: Int = 2): DataFrame = {
    val (_, seg) = unigramStateShared(spark, dir, vMulti, maxPieceLen, rounds)
    val enc = seg.select(col("word"),
      concat_ws(" ", col("pieces")).as("enc"),
      size(col("pieces")).cast("long").as("np"))
    val toks = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("t"))
    val agg = toks.join(enc, toks("t") === enc("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("np")).as("n_pieces"),
        concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("enc"))))
          .getField("enc")).as("pieces"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("pieces"), lit("")).as("pieces"))
  }

  /** Side-by-side tokenizer-family comparison — the model-selection
    * readout: per language, how many pieces the trained BPE merges and
    * the trained unigram-LM model each spend per whitespace word
    * (integer micro fertility, each family against its own encodable
    * word count). A language where the unigram column runs materially
    * lower is the SentencePiece literature's standard argument for
    * switching families; both columns ride the two VERIFIED encoders
    * ([[bpeEncode]], [[unigramEncode]]) whose training state is
    * session-memoized, so this rollup costs two doc-id joins and one
    * languages-bounded aggregate on top of models already built.
    */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val b = bpeEncode(spark, dir)
      .select(col("doc_id"), col("n_tokens").as("bw"), col("n_pieces").as("bp"))
    val u = unigramEncode(spark, dir)
      .select(col("doc_id"), col("n_tokens").as("uw"), col("n_pieces").as("up"))
    b.join(u, "doc_id")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bw")).as("bpe_words"), sum(col("bp")).as("bpe_pieces"),
        sum(col("uw")).as("unigram_words"), sum(col("up")).as("unigram_pieces"))
      .filter(col("bpe_words") > 0L && col("unigram_words") > 0L)
      .withColumn("bpe_fertility_micro",
        expr("(bpe_pieces * 1000000) div bpe_words"))
      .withColumn("unigram_fertility_micro",
        expr("(unigram_pieces * 1000000) div unigram_words"))
  }

  /** Tokenizer fertility per language: BPE pieces emitted per
    * whitespace word — the multilingual-fairness metric (a language
    * whose fertility runs high pays more sequence length per sentence,
    * trains on fewer effective documents per token budget, and is the
    * first candidate for more vocab or its own tokenizer). Rides the
    * verified [[bpeEncode]] per-doc counts: one doc_id join to recover
    * `lang`, one languages-bounded rollup, integer micro-unit ratio.
    * Languages with zero encodable words are dropped rather than
    * dividing by zero.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"))
      .filter(col("n_words") > 0L)
      .withColumn("fertility_micro", expr("(n_pieces * 1000000) div n_words"))

  /** Weighted systematic sample: pick ~k documents with probability
    * proportional to size (`n_chars`) — the data-mixing step that
    * samples a corpus slice by token budget rather than doc count.
    * Deterministic and engine-portable: lay all documents end-to-end on
    * an integer character axis (order = (shard, doc_id)), then keep
    * every document covering a multiple of `stride = total div k` —
    * classic systematic PPS sampling, all-integer, no RNG and no
    * transcendental scores (an exp/log Efraimidis–Spirakis key would
    * put libm ulp drift on the selection boundary and break the
    * cross-engine hash compare).
    *
    * The global cumulative sum uses the same two-level shape as
    * [[packBatches]]: per-shard window cumsums in parallel, then a
    * shard-count-bounded (=32 rows, metadata scale) prefix over the
    * shard totals broadcast back — never a one-partition global sort.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100, shards: Int = 32): DataFrame = {
    val inShard = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"))
      .repartition(col("shard"))
      .withColumn("cum_in_shard", sum(col("n_chars")).over(inShard))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shard totals -> exclusive prefix offsets; `shards` rows total, so
    // the unpartitioned window is bounded by a parameter, not the data
    val prevShards = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perDoc
      .groupBy(col("shard")).agg(max(col("cum_in_shard")).as("shard_total"))
      .select(col("shard"),
        coalesce(sum(col("shard_total")).over(prevShards), lit(0L)).as("off"))
    val tot = perDoc.agg(sum(col("n_chars")).as("total"))
    val stride = greatest(expr(s"total div $k"), lit(1L))
    perDoc
      .join(broadcast(offsets), "shard")
      .crossJoin(broadcast(tot))
      .withColumn("cum_end", col("off") + col("cum_in_shard"))
      .withColumn("cum_start", col("cum_end") - col("n_chars"))
      .withColumn("stride", stride)
      // next stride multiple at or after cum_start falls inside the doc
      .filter(
        expr("((cum_start + stride - 1) div stride) * stride") < col("cum_end"))
      .select(col("doc_id"), col("n_chars"), col("cum_start"))
  }

  /** Deterministic train/valid/test split: bucket = md5(doc_id) mod 100
    * → 80/10/10. Hash-based (not random) so the assignment is stable
    * across runs, engines, and re-partitioning — the property a
    * training pipeline needs for reproducible splits and leak-free
    * incremental appends. Per-row narrow compute; portable hash so the
    * oracle replays it.
    */
  /** Deterministic md5-bucket split assignment — shared by
    * [[trainTestSplit]] and the fused curation profile in
    * [[Dedup.corpusCurate]] (same reason as [[alphaRatioExpr]]).
    */
  private[operators] def splitExpr(id: Column): Column = {
    val bucket =
      conv(substring(md5(id.cast("string").cast("binary")), 1, 7), 16, 10)
        .cast("long") % 100
    when(bucket < 80, lit("train"))
      .when(bucket < 90, lit("valid"))
      .otherwise(lit("test"))
  }

  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), splitExpr(col("doc_id")).as("split"))

  /** Inverted index over the corpus: per term, its document frequency
    * and the posting list (ascending doc_ids, capped at 100 — real
    * engines cap or tier posting blocks; an uncapped list for a
    * stopword-frequency term would be corpus-sized). One exchange on
    * the term after a map-side per-doc distinct; the capped sorted
    * postings keep every row bounded regardless of term frequency.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        // comma-joined (not an array column): keeps the output inside
        // the harness's proven scalar compare surface
        concat_ws(",",
          slice(sort_array(collect_list(col("doc_id"))), 1, 100).cast("array<string>"))
          .as("postings"))

  /** Per-document salient terms: top-5 terms by in-doc frequency
    * (ties → lexicographically smaller term), each carrying its corpus
    * document frequency — the integer core of TF-IDF, kept float-free
    * so both engines rank identically. Term frequencies aggregate in
    * one exchange; the per-term df table joins back broadcast-style
    * (vocabulary ≪ corpus); the final per-doc rank is a bounded window.
    */
  def docTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .join(broadcast(df), "term")
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
  }

  /** Sparse-vector document k-NN: top-5 most similar documents per
    * query (doc_id < 10) under an integer TF-IDF dot product computed
    * through the inverted index — the SPARSE counterpart of the dense
    * embedding paths ([[Similarity.topKBrute]]/ANN): similarity flows
    * only through shared terms, so the join touches posting lists, not
    * document pairs.
    *
    * Scale shape: the per-(doc, term) tf aggregate is one exchange; the
    * df/idf table is vocabulary-bounded and joins back broadcast; terms
    * in more than 90% of the corpus are pruned (10·df ≤ 9·N, integer
    * cross-multiplied — the classic stopword cut that keeps
    * posting-list fanout bounded: without it an every-doc term's
    * posting list joins against every query. The synthetic corpus's
    * 31-word vocabulary sits at df ≈ 0.78·N, so a tighter
    * half-corpus cut would empty the index — real Zipf vocabularies
    * tolerate far tighter cuts). Query
    * postings broadcast (k queries × query length); the one remaining
    * exchange carries (qid, doc_id) partial products with map-side
    * combine, and the final top-k is the k-bounded
    * [[graft.functions.TopKBySim]] fold.
    *
    * Engine-exact on purpose: idf = (N·100) div df — a rational
    * integer, monotone in 1/df — rather than ln(N/df), so no libm call
    * sits on a rank boundary and every score is an exact BIGINT
    * (headroom: tf·idf ≤ 2³², products sum within 2⁶³ at every tested
    * SF; a production run at 100 TB swaps in double log-idf weights,
    * changing nothing in the plan). Scores are unnormalized dot
    * products (cosine normalization would put a sqrt on the rank
    * boundary); ties break toward the lower doc_id.
    */
  def docKnnTfidf(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val tf = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documentsSpread(spark, dir).agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(nDocs))
      .filter(col("df") * 10 <= col("n_docs") * 9)
      .select(col("term"), expr("(n_docs * 100) div df").as("idf"))
    val weighted = tf.join(broadcast(idf), "term")
      .withColumn("w", col("tf") * col("idf"))
    val q = weighted.filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"), col("term"), col("w").as("wq"))
    val scored = weighted.join(broadcast(q), "term")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("w") * col("wq")).as("score"))
      .select(col("qid"), col("doc_id").as("vec_id"),
        col("score").cast("double").as("sim"))
    graft.functions.TopK.perQuery(scored, k)
  }

  /** BM25 keyword retrieval: top-10 documents per standing query under
    * the Okapi BM25 ranking function (k1 = 1.2, b = 0.75) — the
    * full-text-search counterpart of [[docKnnTfidf]]'s doc-to-doc
    * similarity. The standing query set is a literal (qid, term)
    * relation — model-scale, broadcast, the shape of a search/eval
    * harness's fixed query file.
    *
    * Engine-exact integers throughout, same discipline as
    * [[docKnnTfidf]]: idf is the rational surrogate `(N·100) div df`
    * (monotone in 1/df; production swaps the Robertson log idf in
    * double, changing nothing in the plan), the length normalization
    * `1 − b + b·dl/avgdl` is computed in milli-units with floor
    * division cross-multiplied by total token count (no float avgdl),
    * and the per-term score is the scaled rational
    * `(idf · tf · (k1+1)·1000·1000) div (tf·1000 + k1·norm_milli)` —
    * every intermediate a BIGINT both engines floor identically.
    *
    * Overflow bound (the numerator, not just the result): the largest
    * intermediate is `idf·tf·2 200 000`, so exactness requires
    * `idf·tf < 2⁶³/2.2·10⁶ ≈ 2⁴¹·⁹` — conservatively `idf·tf < 2⁴¹`.
    * Worst case is a hapax term (df = 1 ⇒ idf = N·100) repeated tf
    * times in one document, i.e. the integer form is valid while
    * `N·tf_max < 2·10¹⁰` (N = corpus doc count). Every tested SF sits
    * orders of magnitude inside that; a 100 TB corpus (N ~ 10⁹ docs)
    * crosses it and must swap the Robertson log-idf double weights
    * noted above — which removes the product entirely, changes nothing
    * in the plan shape, and is the production form anyway. Spark would
    * wrap silently past the bound while DuckDB errors, so the bound is
    * load-bearing for engine parity, not just precision.
    *
    * Scale shape: one (doc, term) tf exchange; doc lengths re-derived
    * from tf by a partial-agg'd doc_id groupBy (no second corpus
    * pass); df/idf is vocabulary-bounded; the literal query list and
    * idf table broadcast into the posting scan, so only postings of
    * query terms survive to the one (qid, doc) scoring exchange; the
    * corpus-scalar (N, total_tokens) rides a broadcast crossJoin; the
    * final top-k is the k-bounded [[graft.functions.TopKBySim]] fold
    * (scores ≪ 2⁵³, so the double-typed fold is exact). Ties rank the
    * lower doc_id first. Output is rank-only integers.
    */
  def bm25Search(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val queries = Seq(
      (0L, "fast"), (0L, "scan"), (0L, "table"),
      (1L, "window"), (1L, "agg"), (1L, "group"),
      (2L, "stream"), (2L, "join"), (2L, "merge"))
    // tf backs THREE subtrees of the returned lazy plan (postings, dl,
    // idf) — the cache must outlive this method, so no unpersist here:
    // an eager unpersist would silently recompute the corpus tokenize
    // per subtree when the caller finally acts on the result. Freed by
    // the ContextCleaner once the returned plan is dropped.
    val tf = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), expr("(n_docs * 100) div df").as("idf"),
        col("n_docs"), col("total_tokens"))
    val q = queries.toDF("qid", "term")
    val scored = tf
      .join(broadcast(q), "term")   // only query-term postings survive
      .join(broadcast(idf), "term")
      .join(dl, "doc_id")           // candidate rows ⋈ doc lengths, keyed on doc_id
      .withColumn("norm_m",
        lit(250L) + expr("(750 * dl * n_docs) div total_tokens"))
      .withColumn("s",
        expr("(idf * tf * 2200 * 1000) div (tf * 1000 + (1200 * norm_m) div 1000)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("s")).as("score"))
      .select(col("qid"), col("doc_id").as("vec_id"),
        col("score").cast("double").as("sim"))
    graft.functions.TopK.perQuery(scored, k)
  }

  /** Frequency-of-frequencies spectrum (the Good–Turing table): how
    * many distinct terms occur exactly `freq` times in the corpus —
    * the corpus profile behind smoothing estimators, vocabulary-size
    * planning, and hapax/stopword analysis. Two exchanges: the
    * vocabulary-bounded term count, then a re-aggregation over the
    * (≤ distinct-frequency-count, i.e. tiny) spectrum — both partial-
    * agg'd map-side. Pure integers.
    */
  def termFreqSpectrum(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_terms"))

  /** Corpus cleaning / normalization: lowercase, strip non-alphanumeric
    * (keeping spaces), collapse whitespace runs, trim — the standard
    * pre-tokenization scrub. Pure per-row column expressions inside
    * whole-stage codegen; regexes restricted to the Java∩RE2 subset for
    * oracle parity.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(spark, dir)
      .select(
        col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
      .withColumn("n_norm_tokens",
        when(col("norm_text") === "", lit(0L))
          .otherwise(size(split(col("norm_text"), " ")).cast("long")))

  /** Winnowing fingerprints (the MOSS algorithm): token k-grams are
    * hashed, and each sliding window of `w` consecutive k-gram hashes
    * contributes its minimum — rightmost on ties — giving a position-
    * robust fingerprint set that guarantees any shared substring of
    * length ≥ w+k-1 tokens produces a shared fingerprint. Plagiarism /
    * near-dup localization at 100 TB: per-row narrow compute + one
    * window over in-doc positions, no cross-doc work until fingerprints
    * are joined.
    *
    * Portable construction: 44-bit md5-prefix hash and the classic
    * "encode (hash, rightmost-tie pos) into one BIGINT" trick —
    * enc = h·2¹⁶ + (2¹⁶−1−pos), so min(enc) picks min hash with the
    * RIGHTMOST position on ties, replayable in ANSI SQL. Assumes
    * < 65536 k-grams per document (raise the 16-bit pos field for
    * longer docs).
    */
  def textWinnow(spark: SparkSession, dir: String, k: Int = 3, w: Int = 4): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= k + w - 1) // at least one full window
    val kg = docs.select(
      col("doc_id"), size(col("ts")).as("n"),
      posexplode(transform(sequence(lit(0), size(col("ts")) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(col("ts"), i + j + 1)): _*))))
      .withColumnRenamed("col", "kg")
    val enc = kg.withColumn("enc",
      conv(substring(md5(col("kg").cast("binary")), 1, 11), 16, 10).cast("long") * 65536L
        + (lit(65535L) - col("pos")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    enc
      .withColumn("wmin", min(col("enc")).over(win))
      .filter(col("pos") <= col("n") - lit(k) + lit(1) - lit(w)) // full windows only
      .select(
        col("doc_id"),
        expr("wmin DIV 65536").as("fp"),
        (lit(65535L) - expr("wmin % 65536")).as("fp_pos"))
      .distinct()
  }

  /** Document fingerprint: order-sensitive polynomial rolling hash over
    * the character stream, mod a prime small enough that `acc*31 + c`
    * never overflows a signed 64-bit int (no wraparound — DuckDB bigint
    * overflow throws, so the oracle must evaluate the identical modded
    * recurrence). Distinguishes permuted near-dups that set-based
    * (jaccard/minhash) dedup maps to the same signature.
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val m = 999999999999989L // largest prime < 1e15; 31*m + 255 < 2^63
    Tables.documentsSpread(spark, dir).select(
      col("doc_id"),
      aggregate(
        transform(sequence(lit(1), length(col("text"))),
          i => ascii(col("text").substr(i, lit(1)))),
        lit(1L),
        (acc, c) => (acc * 31L + c) % m).as("fingerprint"))
  }

  /** CCNet-style LM quality scoring: each document's negative
    * log-likelihood under the corpus bigram LM ([[ngramLmProbs]]) — the
    * perplexity filter a training-data pipeline runs after dedup to
    * rank documents by fluency.
    *
    * Cross-engine exactness: `ln` differs from DuckDB's in the last ulp
    * on ~0.1% of inputs (measured), so per-bigram log-probs are
    * quantized to integer micro-nats — `floor(ln(p)·10⁶)` flips only
    * when the value sits within one ulp of the grid (P≈10⁻¹² per row),
    * and the per-doc BIGINT sums are then exact and order-independent,
    * unlike a double sum whose value depends on partition order.
    *
    * Scale shape: the doc-side of the join is pre-aggregated to per-doc
    * DISTINCT bigrams with multiplicity (bounding rows by doc
    * vocabulary, not doc length), then shuffle-hash-joined to the
    * vocabulary²-bounded LM table on (w1,w2). No broadcast hint: the LM
    * is corpus-derived and can be 10⁷+ rows at scale; AQE picks
    * broadcast while it is actually small.
    */
  def docPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(
          element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("p"))
      .groupBy(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
    val lm = ngramLmProbs(spark, dir).select(col("w1"), col("w2"), col("prob"))
    // floor() on a double is LongType in Spark already; the explicit
    // cast pins the contract the oracle mirrors with CAST(... AS BIGINT)
    val microNats = floor(log(col("prob")) * lit(1000000.0)).cast("long")
    perDoc.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_bigrams"),
        (-sum(col("n") * microNats)).as("nll_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micro"),
        (col("nll_micro").cast("double") / col("n_bigrams") / lit(1000000.0))
          .as("avg_nll"))
  }

  /** CCNet-style perplexity bucketing: per language, documents split
    * into head/middle/tail TERTILES of per-token perplexity (CCNet
    * keeps "head", samples "middle", drops "tail"). The integer score
    * is ⌊nll_micro / n_bigrams⌋ — micro-nats per bigram from
    * [[docPerplexity]], exact in both engines.
    *
    * Exact tertiles WITHOUT the global-NTILE shape (the
    * customer_quartiles weak-register entry this operator is the
    * scale-safe counterpart to): a (lang, score) histogram collapses
    * the corpus with map-side partial aggregation, the cumulative
    * count runs over HISTOGRAM rows (partitioned by lang — orders of
    * magnitude smaller than the doc table, the same bounded-window
    * argument as ngram_lm_probs), and the two threshold scores per
    * language (smallest score whose cumulative count reaches ⌈n/3⌉ /
    * ⌈2n/3⌉ — integer cross-multiplication, no division) broadcast
    * back onto a narrow scan. Ties at a threshold all land in the
    * lower bucket, so the split is deterministic without a row_number
    * tiebreak. Docs with fewer than 2 tokens have no perplexity and
    * are out of scope, as in [[docPerplexity]].
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = docPerplexity(spark, dir)
      .select(col("doc_id"), expr("nll_micro DIV n_bigrams").as("score"))
      .join(Tables.documentsSpread(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist = scored.groupBy(col("lang"), col("score")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("score"))))
    val n = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val th = cum.join(n, "lang")
      .groupBy(col("lang"))
      .agg(
        min(when(col("cum") * 3 >= col("n_docs"), col("score"))).as("t1"),
        min(when(col("cum") * 3 >= col("n_docs") * 2, col("score"))).as("t2"))
    scored.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("score"),
        when(col("score") <= col("t1"), lit("head"))
          .when(col("score") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Deterministic training-order shuffle: every document gets a
    * (shard, position) from a seeded portable hash — the global
    * randomized ordering a training run reads, without the global sort.
    * A naive `ORDER BY hash` is the classic one-partition scale-killer;
    * here the ranking window is PARTITIONED by shard, so each shard
    * sorts independently (one hash-exchange, per-shard sorts) and the
    * consumer reads shards in id order. Reproducible end to end: same
    * seed string → same order on any cluster layout.
    */
  /** Bigram PMI lift: how much more often a token pair co-occurs than
    * independence predicts — the collocation / multi-word-expression
    * signal a tokenizer-vocabulary builder and a phrase-mining pass
    * both consume. Emitted as integer micro-units of the ratio
    * p(xy)/(p(x)·p(y)) = cnt_xy·N² / (N_pairs·cnt_x·cnt_y), computed
    * with DECIMAL(38,0) products (cnt_xy·N²·10⁶ overflows a 64-bit long
    * at ~10⁵ tokens) and one integral division — `div` on decimals is
    * exact in Spark and replays as HUGEINT `//` in DuckDB, so the hash
    * carries no float rounding. `minCount` prunes the long tail, which
    * also bounds the output to frequent-pair rows.
    *
    * Scale shape: unigram and bigram tables are vocabulary-bounded
    * after map-side partial aggregation; the corpus totals are a 1-row
    * broadcast crossJoin (whitelisted scalar pattern), and the two
    * count lookups are broadcast joins against vocabulary-bounded
    * tables — at 10⁹-token vocabularies those become shuffle joins on
    * the token key with no plan rewrite.
    */
  def tokenPmi(spark: SparkSession, dir: String, minCount: Int = 3): DataFrame = {
    val toks = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
    val uni = toks
      .select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt_t"))
    val bi = toks
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(
          element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt_xy"))
      .filter(col("cnt_xy") >= minCount)
    val tot = uni.agg(sum(col("cnt_t")).as("n_tok"))
      .crossJoin(broadcast(bi.agg(sum(col("cnt_xy")).as("n_pairs"))))
    bi
      .join(broadcast(uni.select(col("t").as("w1"), col("cnt_t").as("cnt_x"))), "w1")
      .join(broadcast(uni.select(col("t").as("w2"), col("cnt_t").as("cnt_y"))), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("cnt_xy"), col("cnt_x"), col("cnt_y"),
        expr("""(cast(cnt_xy as decimal(38,0)) * 1000000 * n_tok * n_tok)
                div (cast(n_pairs as decimal(38,0)) * cnt_x * cnt_y)""")
          .as("lift_micro"))
  }

  /** Type-token ratio per document — the lexical-diversity gate that
    * catches keyword-stuffed and template-generated text (low TTR at
    * high length). Narrow per-doc expressions only: tokenize once,
    * `array_distinct` for the type count, integer micro-units for the
    * ratio. Zero shuffles — the whole operator is one codegen'd
    * projection over the pruned (doc_id, text) scan.
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 1)
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).cast("long").as("n_types"))
      .withColumn("ttr_micro", expr("(n_types * 1000000) div n_tokens"))

  def corpusShuffle(spark: SparkSession, dir: String, shards: Int = 64): DataFrame = {
    // 15 hex digits < 2^60: fits a long in both engines
    // (DuckDB replay: ('0x' || substr(md5(..), 1, 15))::BIGINT)
    val h = conv(substring(md5(concat(lit("shuf:"), col("doc_id").cast("string"))
      .cast("binary")), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Zipf-slope fit over the top-500 token frequencies: least-squares
    * slope of ln(freq) against ln(rank) — the corpus-health scalar
    * (natural text ≈ −1) a curation run tracks per snapshot. The top-k
    * select is a `TakeOrderedAndProject` (per-partition heaps, no
    * global sort); ranks come from a row_number over the 500 surviving
    * rows. Both logs quantize to exact micro-nat BIGINTs
    * (floor(ln·10⁶) — the [[docPerplexity]] trick, since ln can differ
    * across engines in the last ulp) so every aggregate is an exact
    * integer sum; the one double expression is the final slope ratio
    * over those integer sums.
    */
  def tokenZipfFit(spark: SparkSession, dir: String, k: Int = 500): DataFrame = {
    val top = Tables.documentsSpread(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("token"))
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        floor(log(col("rank").cast("double")) * lit(1000000.0)).cast("long").as("x"),
        floor(log(col("cnt").cast("double")) * lit(1000000.0)).cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n"),
        ((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
          .as("zipf_slope"))
  }

  /** Per-document token-distribution entropy in exact micro-nats — the
    * repetition/diversity signal that separates natural prose (high
    * entropy) from template spam and keyword stuffing (low). Shannon
    * entropy decomposes as H = ln n − (Σ c·ln c)/n; both logs quantize
    * to micro-nat BIGINTs before any aggregation (the
    * [[docPerplexity]] trick) and the division is integer `div`, so
    * the whole statistic replays bit-for-bit in the oracle. Shape:
    * one (doc, token) count aggregate, one per-doc rollup — both
    * keyed, no global state.
    */
  def docTokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    def lnMicro(c: Column) =
      floor(log(c.cast("double")) * lit(1000000.0)).cast("long")
    Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * lnMicro(col("c"))).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (lnMicro(col("n_tokens")) - expr("s div n_tokens")).as("entropy_micro"))
  }

  /** Shared-opening detection: 8-token document prefixes appearing in
    * two or more documents, with their corpus share — the boilerplate
    * radar (headers, templates, scraped navigation) that whole-doc
    * fingerprints miss because the BODIES differ. One narrow aggregate
    * on the prefix string; the corpus total rides a 1-row broadcast.
    * At 100 TB the prefix table is ≤ corpus cardinality but
    * Zipf-concentrated, and the ≥ 2 gate drops the unique long tail
    * before anything wide happens.
    */
  def boilerplatePrefixes(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 8)
      .select(concat_ws(" ", slice(col("ts"), 1, 8)).as("prefix"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    docs.groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .crossJoin(broadcast(total))
      .select(col("prefix"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("corpus_share"))
  }

  /** Stopword-candidate audit: tokens present in over half the corpus
    * — the data-driven stopword list a new-domain pipeline derives
    * before reusing anyone else's, with document frequency and its
    * corpus share. DF comes from per-doc DISTINCT tokens (multiset
    * counts would let one spammy doc promote a token); the >50% gate
    * cross-multiplies in integers against the 1-row doc-count
    * broadcast, so no boundary token flips on a float share.
    */
  def stopwordCandidates(spark: SparkSession, dir: String): DataFrame = {
    val docTok = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("token"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    docTok.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 2 > col("n_docs"))
      .select(col("token"), col("df"),
        (col("df").cast("double") / col("n_docs").cast("double")).as("df_share"))
  }

  /** Naive-Bayes language ID trained and evaluated on the corpus's own
    * labeled `lang` column, reported as a confusion matrix — the
    * eval-loop query behind every learned curation gate: train
    * per-class token counts, score every document against every
    * class, and cross-tabulate predictions against truth. Laplace
    * smoothing keeps unseen (token, lang) cells finite; every score
    * is an exact BIGINT of micro-nats (each log is floor(ln(int)·10⁶)
    * of an exact integer), so argmax — broken deterministically by
    * lang on ties via one keyed window — replays exactly. Shapes: the
    * model is vocabulary×langs-bounded; scoring joins the doc-token
    * table to it on the token key (one fact-scale exchange) after a
    * |langs|-row broadcast fanout; the confusion rollup is
    * |langs|²-bounded.
    */
  def langidNbConfusion(spark: SparkSession, dir: String): DataFrame = {
    def lnMicro(c: Column) =
      floor(log(c.cast("double")) * lit(1000000.0)).cast("long")
    val docs = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("lang").as("true_lang"),
        explode(tokens(col("text"))).as("token"))
    // model, language totals and vocabulary all DERIVE from the per-doc
    // aggregate instead of re-running the tokenize+explode scan: every
    // (lang, token) instance count is the sum of its per-doc counts,
    // the per-lang total is the sum of those, and the observed
    // vocabulary is the model's distinct token set. The four consumers
    // previously each re-scanned and re-exploded the corpus (4
    // Generate+tokenize passes in the physical plan); now 2. The share
    // point is the PERSISTED vocabulary-scale model table — exchange
    // reuse alone cannot dedup the branches (column pruning
    // specializes each one's partial aggregate, so the subtrees stop
    // being canonically equal), and persisting the doc-scale
    // aggregate instead measured SLOWER (the cache materialization
    // serializes what were parallel passes and doubles row traffic;
    // see OPTIMIZATION_r20.md). docTokens stays a direct pass — it
    // runs concurrently with the model pass in the same job.
    val docTokens = docs.groupBy(col("doc_id"), col("true_lang"), col("token"))
      .agg(count(lit(1)).as("c_dt"))
    val model = docs.groupBy(col("true_lang").as("lang_m"), col("token"))
      .agg(count(lit(1)).as("c_lt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val langTotals = model.groupBy(col("lang_m"))
      .agg(sum(col("c_lt")).as("n_l"))
    val vocab = model.select(col("token")).distinct()
      .agg(count(lit(1)).as("v"))
    val scored = docTokens
      .crossJoin(broadcast(langTotals.crossJoin(vocab)))
      .join(model, Seq("lang_m", "token"), "left")
      .withColumn("c_lt", coalesce(col("c_lt"), lit(0L)))
      .groupBy(col("doc_id"), col("true_lang"), col("lang_m"))
      .agg(sum(col("c_dt") * (lnMicro(col("c_lt") + 1)
        - lnMicro(col("n_l") + col("v")))).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang_m").desc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("true_lang"), col("lang_m").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** [[langidNbConfusion]] over a HASHED CHARACTER-BIGRAM feature
    * space — the fastText shape: every 2-character window of the raw
    * text md5-hashes into one of `buckets` feature ids, and the same
    * integer micro-nat Naive-Bayes scoring runs over those. Two
    * properties make this the deployment-grade language-ID gate the
    * token model is not: (1) character n-grams see MORPHOLOGY, so
    * they classify text whose exact tokens never appeared in
    * training; (2) the model table is bounded by `|langs| × buckets`
    * REGARDLESS of vocabulary — at 100 TB the token model's
    * (lang, token) table grows with the crawl, while this one stays
    * broadcast-sized forever, turning the scoring join's model side
    * into a broadcast by construction.
    *
    * The feature hash is the portable md5 idiom (7 hex chars →
    * BIGINT mod `buckets` — same on both engines, like
    * stratified_sample's gate), docs shorter than 2 characters carry
    * no features and drop (replayed by the oracle's length guard),
    * and every score is an exact BIGINT of micro-nats with ties
    * broken by lang — the whole pipeline hash-replays in DuckDB.
    */
  def langidHashedConfusion(spark: SparkSession, dir: String,
      buckets: Int = 4096): DataFrame = {
    def lnMicro(c: Column) =
      floor(log(c.cast("double")) * lit(1000000.0)).cast("long")
    // Per-doc hashed-bigram feature COUNTS in one native kernel pass
    // ([[graft.functions.Md5BigramFeatCounts]]): the window explode +
    // per-window md5 (this query's dominant compute) + the per-(doc,
    // feat) count aggregate and its doc-scale exchange all fold into
    // the row pass — values identical (same 2-character windows, same
    // 7-hex-char draw, same counts). The compact per-doc count table
    // is PERSISTED and shared by the scoring side and the model side,
    // so the bigram hash pass runs ONCE per call (the r20 share point
    // was the model-scale cache, which still left the doc-side pass
    // re-hashing the corpus; the kernel's per-doc pre-aggregation is
    // what makes the doc-scale cache cheap enough to win now).
    val docFeats = Tables.documentsSpread(spark, dir)
      .filter(length(col("text")) >= 2)
      .select(col("doc_id"), col("lang").as("true_lang"),
        explode(graft.functions.functions.md5_bigram_feat_counts(
          col("text"), buckets)).as("fc"))
      .select(col("doc_id"), col("true_lang"),
        col("fc.feat").as("feat"), col("fc.cnt").as("c_df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = docFeats.groupBy(col("true_lang").as("lang_m"), col("feat"))
      .agg(sum(col("c_df")).as("c_lf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val langTotals = model.groupBy(col("lang_m"))
      .agg(sum(col("c_lf")).as("n_l"))
    // Laplace denominator = OBSERVED distinct feature count (mirrors
    // the token model's vocabulary scalar; ≤ buckets by construction)
    val vocab = model.select(col("feat")).distinct()
      .agg(count(lit(1)).as("v"))
    val scored = docFeats
      .crossJoin(broadcast(langTotals.crossJoin(vocab)))
      .join(broadcast(model), Seq("lang_m", "feat"), "left")
      .withColumn("c_lf", coalesce(col("c_lf"), lit(0L)))
      .groupBy(col("doc_id"), col("true_lang"), col("lang_m"))
      .agg(sum(col("c_df") * (lnMicro(col("c_lf") + 1)
        - lnMicro(col("n_l") + col("v")))).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang_m").desc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("true_lang"), col("lang_m").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Fingerprint-width collision telemetry: how many documents collide
    * under 24-, 32- and 48-bit content fingerprints — the measured
    * birthday-problem curve that decides how wide a dedup hash must be
    * BEFORE a too-narrow fingerprint silently merges distinct
    * documents at the next scale-up. Each doc hashes once; the three
    * widths explode from a literal array (prefix truncation of the
    * same md5, so wider columns are strict refinements); per width,
    * one count-distinct aggregate.
    */
  def fingerprintCollisions(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(col("text").cast("binary")).as("h"))
      .select(explode(typedLit(Seq(6, 8, 12))).as("w"), col("h"))
      .select((col("w") * 4).cast("long").as("width_bits"),
        expr("substring(h, 1, w)").as("fp"))
      .groupBy(col("width_bits"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"))
      .withColumn("n_collided", col("n_docs") - col("n_distinct"))

  /** Heaps'-law vocabulary growth curve: distinct-token and total-token
    * counts at doc-id milestones (16 … 16384) — the saturation curve
    * that tells a pipeline whether more data still buys vocabulary.
    * Each token's FIRST document (min doc_id, one hash aggregate on the
    * token key) is the only corpus-sized state; milestone membership
    * then explodes from a 6-element literal array filtered per row —
    * no join against a milestone table, ≤ 6× fanout of two narrow
    * aggregates, and the final milestone⋈milestone stitch is 6 rows a
    * side.
    */
  def vocabGrowthCurve(spark: SparkSession, dir: String): DataFrame = {
    val milestones = Seq(16L, 64L, 256L, 1024L, 4096L, 16384L)
    val ms = typedLit(milestones)
    def reached(c: Column) = explode(filter(ms, m => c <= m)).as("milestone")
    val perDoc = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
    val volume = perDoc
      .select(reached(col("doc_id")), col("n_toks"))
      .groupBy(col("milestone"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
    val vocab = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
      .select(reached(col("first_doc")))
      .groupBy(col("milestone"))
      .agg(count(lit(1)).as("distinct_tokens"))
    volume.join(vocab, Seq("milestone"))
  }
}
