package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** Structured-Streaming operators over the `events` stream.
  *
  * Each transform is written against an unbounded `DataFrame`/`Dataset`
  * and runs identically in two modes:
  *  - **streaming**: `readStream → transform → writeStream` with
  *    event-time watermarks (late data beyond 2h is dropped, state is
  *    bounded) — exercised with `MemoryStream` in `StreamingSpec`;
  *  - **batch**: the same function applied to the static `events`
  *    table (Catalyst's `EliminateEventTimeWatermark` removes the
  *    watermark node), which is how the driver's DuckDB oracle checks
  *    the transform's semantics.
  *
  * Scale posture: state per key is O(open windows), never O(events);
  * the watermark bounds the state store; `flatMapGroupsWithState`
  * keeps one counter per user.
  */
object EventStreams {

  final case class Ev(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class CumCount(user_id: Long, event_id: Long, cum_count: Long)

  /** File-based streaming source over an events parquet directory —
    * the production entry (`maxFilesPerTrigger` keeps micro-batches
    * bounded on backfill).
    *
    * The user-specified schema must describe the FILE columns, not the
    * converted table: depending on how the parquet writer encoded `ts`
    * it scans as LONG (INT64 nanos under `nanosAsLong`) or
    * TIMESTAMP_NTZ (TIMESTAMP_MICROS) — so the stream is built from
    * the raw (pre-conversion) schema and the same normalization as
    * `Tables.events` ([[graft.Tables.normalizeTs]]) is applied on top.
    * (Taking the post-conversion schema would make the scan demand
    * TIMESTAMP from a LONG/NTZ column and fail at runtime.)
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val rawSchema = Tables.parquet(spark, s"$dir/events.parquet").schema
    Tables.normalizeTs(
      spark.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", 16)
        .parquet(s"$dir/events.parquet"))
  }

  /** Tumbling 1-hour windowed counts + value sums per event type,
    * 2-hour watermark. The value sum goes through DECIMAL(18,6) so
    * batch-mode results are bit-identical to the DuckDB oracle
    * regardless of accumulation order.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(
        col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Watermark-windowed DISTINCT users per event type via HLL sketches
    * — the real-time approximate-distinct dashboard. Exact streaming
    * `count(DISTINCT)` is not incrementally maintainable under append
    * mode (state would hold every key); the HLL sketch IS — its state
    * is one fixed-size register array per (window, type), and register
    * merge is commutative/associative/idempotent (a MAX), so the
    * trigger-by-trigger fold over any micro-batch partitioning
    * produces the IDENTICAL sketch a batch run builds — stream ≡ batch
    * byte-for-byte, not just approximately (StreamingSpec pins it).
    * The batch-mode twin of [[graft.operators.EventOps
    * .userCardinalityRollup]]'s daily table, maintained live.
    */
  def windowedUserSketch(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"),
        expr("hll_sketch_estimate(sk)").as("approx_users"),
        col("n_events"))

  /** Watermark-windowed value moments per event type — the streaming
    * form of the mergeable power-sum tuple
    * ([[graft.operators.Curation.momentsBySource]]): n, Σv, Σv² (plus
    * min/max) merge across triggers and partitions where a running
    * mean/variance would not, which is exactly why incremental
    * aggregation can maintain them under append mode. Σv accumulates
    * in DECIMAL; Σv² quantizes each v² to exact integer micro-units
    * first (floor(v²·10⁶) — floor of a double is bit-identical on
    * every engine, unlike double→DECIMAL rounding, which diverged in
    * 11% of rows when tried) and sums BIGINTs: order-free under any
    * trigger boundary, with ~10⁹ rows per (window, type) of headroom
    * before 2⁶³ at this value range. Works unchanged over a bounded
    * batch frame, which is how the oracle replays it.
    */
  def windowedMoments(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_v"),
        sum(floor(col("value") * col("value") * lit(1000000.0)).cast("long"))
          .as("sum_v2_micro"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_v"), col("sum_v2_micro"), col("min_v"), col("max_v"),
        (col("sum_v") / col("n").cast("double")).as("mean_v"))

  def streamMoments(spark: SparkSession, dir: String): DataFrame =
    windowedMoments(Tables.events(spark, dir))

  /** Watermark-windowed ECDF at fixed probes — the distribution
    * telemetry that IS stream-maintainable, where a quantile is not: a
    * late row increments a handful of probe counters (monotone,
    * mergeable across triggers), while the value at p could reorder
    * everything already emitted. Per (hour window, probe): rows under
    * the probe via the filtered literal-array explode, plus the
    * window total carried on a sentinel probe-of-infinity row so the
    * fraction needs no second aggregate or stream-stream join.
    */
  def windowedEcdf(events: DataFrame): DataFrame = {
    val probes = Seq(0.5, 1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0)
    val withInf = probes :+ Double.MaxValue
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"),
        explode(filter(typedLit(withInf), p => col("value") <= p)).as("probe"))
      .groupBy(window(col("ts"), "1 hour"), col("probe"))
      .agg(count(lit(1)).as("n_le"))
      .select(col("window.start").as("w_start"), col("probe"), col("n_le"))
  }

  def streamValueEcdf(spark: SparkSession, dir: String): DataFrame =
    windowedEcdf(Tables.events(spark, dir))
      .filter(col("probe") =!= Double.MaxValue)

  /** Gap-based session windows (30 min) per user via the native
    * `session_window`: a session closes when no event arrives for the
    * gap; `s_end` = last event + gap. A new event exactly at
    * `prev + gap` starts a NEW session (window intervals are
    * half-open) — the oracle encodes the same `>=` boundary.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n_events"))

  /** Custom keyed state via `flatMapGroupsWithState`: a per-user
    * running event counter that survives across micro-batches. Events
    * inside a batch are ordered by (ts, event_id) so emissions are
    * deterministic; the state store carries one Long per user.
    */
  def runningCounts(events: Dataset[Ev]): Dataset[CumCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, evs: Iterator[Ev], state: GroupState[Long]) => {
          val sorted = evs.toArray.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var c = state.getOption.getOrElse(0L)
          val out = sorted.map { e => c += 1; CumCount(user, e.event_id, c) }
          state.update(c)
          out.iterator
        })
  }

  /** Idempotent ingestion: drop events whose `event_id` was already
    * seen within the watermark horizon — the streaming form of exact
    * dedup (state holds one entry per key and is evicted once the
    * watermark passes, so it stays bounded; an unbounded
    * `dropDuplicates` would leak state forever on an infinite stream).
    * Batch mode runs the plain `dropDuplicates` (Spark rejects the
    * watermark variant on bounded inputs, where eviction is moot).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Streaming k-anonymity maintenance: the release-gate cell counts
    * ([[graft.operators.EventOps.kanonSuppression]]) kept current as
    * events arrive. Two chained stateful operators: a watermark-bounded
    * (cell, user) dedup — one state row per distinct pair inside the
    * horizon — feeding an incremental count per cell; a cell flips from
    * `suppressed` to releasable the moment its 5th distinct user
    * arrives (update mode / foreachBatch upsert). The batch form of the
    * same code is the plain distinct + count the DuckDB oracle replays;
    * StreamingSpec drives the streaming form through MemoryStream and
    * pins cross-batch dedup of re-arriving users.
    */
  def kanonCells(events: DataFrame, k: Long = 5L): DataFrame = {
    val cells = events.select(col("ts"), col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      floor(col("value") / 10.0).cast("long").as("vband"),
      col("user_id"))
    val distinctPairs =
      if (events.isStreaming)
        cells.withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("event_type", "day", "vband", "user_id")
      else cells.dropDuplicates("event_type", "day", "vband", "user_id")
    distinctPairs
      .groupBy(col("event_type"), col("day"), col("vband"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("suppressed", col("n_users") < k)
  }

  /** Stream-stream interval join: view→purchase attribution — each
    * purchase matched to the same user's views in the preceding hour.
    * Both sides carry watermarks and the join condition bounds the time
    * range, so the state store retains each side only for
    * watermark + interval and eviction is automatic (an unbounded
    * stream-stream join would buffer forever). Batch mode: watermarks
    * erase and it's a plain range join — the oracle's form.
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame): DataFrame =
    views.withWatermark("ts", "2 hours").alias("v")
      .join(
        purchases.withWatermark("ts", "2 hours").alias("p"),
        expr("""v.user_id = p.user_id
                AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR"""))
      .select(
        col("v.event_id").as("view_id"),
        col("p.event_id").as("purchase_id"),
        col("v.user_id").as("user_id"))

  /** Stream-static enrichment join: each micro-batch of the event
    * stream joins the (slowly-changing) customer dimension — the
    * canonical streaming-ETL enrich step. No broadcast hint: the static
    * side is scale-proportional, so the planner picks broadcast only
    * when it actually fits (the reference's 20-row distributed-cache
    * rationale does not transfer — see SURVEY.md §2.1 S3).
    */
  def enrichJoin(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(customer, events("user_id") === customer("c_custkey"))
      .select(
        col("event_id"), col("user_id"),
        col("c_name").as("name"), col("event_type"))

  // ---- batch entry points for the driver contract ----

  def streamEnrichJoin(spark: SparkSession, dir: String): DataFrame =
    enrichJoin(Tables.events(spark, dir), Tables.customer(spark, dir))

  def streamAttributionJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    attributionJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"))
  }

  def streamWindowCounts(spark: SparkSession, dir: String): DataFrame =
    windowedCounts(Tables.events(spark, dir))

  def streamSessionWindows(spark: SparkSession, dir: String): DataFrame =
    sessionWindows(Tables.events(spark, dir))

  def streamUserSketch(spark: SparkSession, dir: String): DataFrame =
    windowedUserSketch(Tables.events(spark, dir))

  def streamKanon(spark: SparkSession, dir: String): DataFrame =
    kanonCells(Tables.events(spark, dir))

  def streamDedupEvents(spark: SparkSession, dir: String): DataFrame =
    dedupEvents(Tables.events(spark, dir))
      .select(col("event_id")) // key set only: which row survives is arbitrary

  def streamRunningCounts(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    runningCounts(
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[Ev])
      .toDF()
  }

  /** Per-window per-type user event counts — the stream-maintainable
    * HALF of a windowed top-k: an incremental watermark-bounded
    * aggregate (runs in update mode / foreachBatch upsert). The rank
    * itself is NOT incrementally maintainable in an append stream — a
    * late count can reorder an already-emitted top list — so the
    * production pattern is two-phase: this aggregate upserts into a
    * sink, and [[rankTopK]] is the (cheap, window-partitioned) query
    * over it. Batch mode fuses both phases into one plan.
    */
  def windowedUserCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))

  /** Top-k users per (window, event_type) over the maintained counts:
    * rank window partitioned by the aggregate key — parallel at any
    * scale, deterministic ties (cnt desc, user asc).
    */
  def rankTopK(counts: DataFrame, k: Int = 3): DataFrame = {
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w"), col("event_type"))
      .orderBy(col("cnt").desc, col("user_id").asc)
    counts
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("user_id"), col("cnt"), col("rank"))
  }

  def streamTopkUsers(spark: SparkSession, dir: String): DataFrame =
    rankTopK(windowedUserCounts(Tables.events(spark, dir)))

  /** Idempotent micro-batch merge — the `foreachBatch` body of the
    * production sink pattern: each batch's (possibly updated) window
    * aggregates OVERWRITE exactly the window partitions they touch
    * (dynamic partition overwrite), so a replayed batch after
    * failure/restart rewrites the same partitions with the same totals
    * instead of duplicating rows. At-least-once batch delivery +
    * idempotent merge = exactly-once table contents — without a
    * transactional table format.
    *
    * The table is partitioned by window only (`w_start_us`);
    * `event_type` is a column inside the file, so each window is one
    * file, not one per (window, type). Update mode emits only the
    * CHANGED aggregate rows, so overwriting a window with them alone
    * would drop its unchanged types: the merge reads the stored rows of
    * the touched windows back and rewrites each window with its
    * complete row set, the changed rows replacing their stored keys. A
    * table written with the older (window × event_type) layout needs a
    * fresh output dir and checkpoint.
    *
    * The batch's changed rows are collected once. A `foreachBatch`
    * frame is a view over the stateful plan, so every action on it
    * re-runs the state-store stage; the collect is its one action,
    * running that stage once and committing the epoch's state version.
    * The frame holds at most (windows in the trigger × event types)
    * rows, and the stored rows of the touched windows are as many, so
    * the merge runs on the driver. A batch with no changed rows (the
    * no-data batch after the watermark advances, an all-late batch)
    * writes nothing. The stored rows are read with the known schema
    * from the touched window dirs that exist, never from the whole
    * table. Dynamic mode is a per-write option, so the session's
    * `partitionOverwriteMode` is left as the caller set it.
    */
  def mergeWindowCounts(batch: DataFrame, outDir: String): Unit = {
    val wStartUs = expr("unix_micros(w_start)")
    val keyed = batch.withColumn("w_start_us", wStartUs)
    val changed = keyed.collect()
    if (changed.nonEmpty) {
      val spark = batch.sparkSession
      val sc = spark.sparkContext
      def wStart(r: Row) = r.getAs[Long]("w_start_us")
      def key(r: Row) = (wStart(r), r.getAs[String]("event_type"))
      val root = new org.apache.hadoop.fs.Path(outDir)
      val fs = root.getFileSystem(sc.hadoopConfiguration)
      val stored = if (fs.exists(root)) fs.listStatus(root).map(_.getPath.getName).toSet
        else Set.empty[String]
      val touched = changed.map(r => s"w_start_us=${wStart(r)}").distinct.filter(stored)
      val replaced = changed.map(key).toSet
      val kept = if (touched.isEmpty) Array.empty[Row] else
        spark.read.schema(batch.schema).parquet(touched.map(d => s"$outDir/$d").toSeq: _*)
          .withColumn("w_start_us", wStartUs)
          .collect().filterNot(r => replaced(key(r)))
      // each window's rows in one partition, so each window is one file
      val windows = (changed ++ kept).groupBy(wStart).values.toSeq
      val rows = sc.parallelize(windows, windows.size.min(sc.defaultParallelism)).flatMap(_.toSeq)
      spark.createDataFrame(rows, keyed.schema)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("w_start_us")
        .parquet(outDir)
    }
  }

  /** Streaming writer wiring for [[mergeWindowCounts]]: windowed counts
    * in update mode, each micro-batch merged idempotently.
    */
  def upsertWindowCounts(events: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    windowedCounts(events).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) => mergeWindowCounts(batch, outDir))
}
