package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{CumCount, Ev}

/** True streaming-mode drives of the EventStreams transforms:
  * micro-batches through MemoryStream, append-mode watermark emission,
  * and keyed state surviving across batches.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def ts(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def ev(id: Long, t: Timestamp, user: Long, typ: String = "view"): Ev =
    Ev(id, t, user, typ, 1.0)

  test("windowedUserSketch: stream equals batch byte-for-byte; estimate tracks exact distinct") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 40 distinct users in the 10:00 window (each twice, split across
    // triggers so the sketch state must MERGE), 5 in the 11:00 window
    val w10 = (1 to 40).flatMap(u =>
      Seq(ev(u.toLong, ts(10, u % 60), u.toLong),
        ev(100L + u, ts(10, (u + 7) % 60), u.toLong)))
    val w11 = (1 to 5).map(u => ev(300L + u, ts(11, u), u.toLong))
    val closer = Seq(ev(999, ts(14, 0), 999)) // watermark 12:00 closes both

    val in = MemoryStream[Ev]
    val q = EventStreams.windowedUserSketch(in.toDF())
      .writeStream.format("memory").queryName("us").outputMode(OutputMode.Append).start()
    try {
      // deliver in three triggers with interleaved halves: register
      // merge must be order/partitioning-independent
      in.addData(w10.take(30) ++ w11.drop(2))
      in.addData(w10.drop(30) ++ w11.take(2))
      in.addData(closer)
      q.processAllAvailable()
      val streamed = spark.table("us").collect()
        .map(r => (r.getAs[Timestamp]("w_start"), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet

      val batch = EventStreams.windowedUserSketch(
        (w10 ++ w11).toDF()).collect()
        .map(r => (r.getAs[Timestamp]("w_start"), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      // stream ≡ batch EXACTLY: HLL register merge is a max — the same
      // registers result from any trigger/partition order
      assert(streamed === batch)

      // lgK=14 rse ~0.8%: these tiny counts must be spot-on
      val byWin = streamed.map { case (w, _, est, n) => w -> (est, n) }.toMap
      assert(byWin(ts(10))._1 === 40L && byWin(ts(10))._2 === 80L)
      assert(byWin(ts(11))._1 === 5L && byWin(ts(11))._2 === 5L)
    } finally q.stop()
  }

  test("windowedMoments merges power sums across triggers before the window closes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.windowedMoments(in.toDF())
      .writeStream.format("memory").queryName("wm").outputMode(OutputMode.Append).start()
    try {
      // the 10:00 window's rows arrive over TWO triggers: the sums the
      // closed window emits must equal a single-pass computation
      in.addData(Ev(0, ts(10, 5), 1, "view", 2.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(10, 40), 2, "view", 3.0))
      q.processAllAvailable()
      assert(spark.table("wm").count() === 0) // window still open
      in.addData(Ev(2, ts(13, 30), 1, "view", 1.0)) // watermark → 11:30
      q.processAllAvailable()
      val rows = spark.table("wm").collect()
      assert(rows.length === 1)
      val r = rows.head
      assert(r.getAs[Timestamp]("w_start") === ts(10))
      assert(r.getAs[Long]("n") === 2L)
      assert(r.getAs[Double]("sum_v") === 5.0)
      assert(r.getAs[Long]("sum_v2_micro") === 13000000L) // 4 + 9 in micro
      assert(r.getAs[Double]("min_v") === 2.0 && r.getAs[Double]("max_v") === 3.0)
      assert(r.getAs[Double]("mean_v") === 2.5)
    } finally q.stop()
  }

  test("windowedEcdf: probe counters accumulate across triggers; the sentinel row carries the total") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.windowedEcdf(in.toDF())
      .writeStream.format("memory").queryName("we").outputMode(OutputMode.Append).start()
    try {
      // two triggers feed the 10:00 window: values 0.4 and 3.0
      in.addData(Ev(0, ts(10, 5), 1, "view", 0.4))
      q.processAllAvailable()
      in.addData(Ev(1, ts(10, 40), 2, "view", 3.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts(13, 30), 1, "view", 1.0)) // close 10:00
      q.processAllAvailable()
      val got = spark.table("we").collect()
        .filter(_.getAs[Timestamp]("w_start") === ts(10))
        .map(r => r.getAs[Double]("probe") -> r.getAs[Long]("n_le")).toMap
      // 0.4 counts under every probe; 3.0 only from 5.0 up
      assert(got(0.5) === 1L && got(1.0) === 1L && got(2.0) === 1L)
      assert(got(5.0) === 2L && got(100.0) === 2L)
      assert(got(Double.MaxValue) === 2L) // the in-band window total
    } finally q.stop()
  }

  test("windowedCounts emits a window only after the watermark passes it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append).start()
    try {
      // three events in the 10:00 window; watermark = 0 so far → nothing emitted
      in.addData(ev(0, ts(10, 5), 1), ev(1, ts(10, 40), 2), ev(2, ts(10, 59), 1))
      q.processAllAvailable()
      assert(spark.table("wc").count() === 0)

      // an event at 13:30 advances the watermark to 11:30 > 11:00 → the
      // 10:00 window closes and is emitted; the 13:00 window stays open
      in.addData(ev(3, ts(13, 30), 1))
      q.processAllAvailable()
      val rows = spark.table("wc").collect()
      assert(rows.length === 1)
      val r = rows.head
      assert(r.getAs[Timestamp]("w_start") === ts(10))
      assert(r.getAs[Long]("cnt") === 3L)
      assert(r.getAs[Double]("total_value") === 3.0)

      // a late event INSIDE the watermark still lands (12:00 window),
      // a late event BEHIND the watermark (10:30) is dropped
      in.addData(ev(4, ts(12, 0), 2), ev(5, ts(10, 30), 2))
      in.addData(ev(6, ts(15, 0), 1)) // watermark → 13:00 closes 12:00
      q.processAllAvailable()
      val byStart = spark.table("wc").collect()
        .map(r => r.getAs[Timestamp]("w_start") -> r.getAs[Long]("cnt")).toMap
      assert(byStart(ts(12)) === 1L) // the dropped 10:30 event never reappears
      assert(byStart.size === 2)     // 10:00 and 12:00 closed; 13:00/15:00 open
    } finally q.stop()
  }

  test("sessionWindows merges events within the gap and closes on silence") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessionWindows(in.toDF())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 10:00, 10:20 (same session), 11:30 (new session)
      in.addData(ev(0, ts(10, 0), 1), ev(1, ts(10, 20), 1), ev(2, ts(11, 30), 1))
      in.addData(ev(3, ts(16, 0), 9)) // advance watermark far past both sessions
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => (r.getAs[Timestamp]("s_start"), r.getAs[Timestamp]("s_end"),
          r.getAs[Long]("n_events"))).sortBy(_._1.getTime)
      assert(rows.toSeq === Seq(
        (ts(10, 0), ts(10, 50), 2L),  // 10:20 + 30min gap
        (ts(11, 30), ts(12, 0), 1L)))
    } finally q.stop()
  }

  test("runningCounts keeps per-user state across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.runningCounts(in.toDS())
      .writeStream.format("memory").queryName("rc").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(10, ts(10, 0), 1), ev(11, ts(10, 5), 1), ev(20, ts(10, 0), 2))
      q.processAllAvailable()
      in.addData(ev(12, ts(10, 10), 1)) // second batch: state resumes at 2
      q.processAllAvailable()
      val got = spark.table("rc").as[CumCount].collect().toSet
      assert(got === Set(
        CumCount(1L, 10L, 1L), CumCount(1L, 11L, 2L), CumCount(1L, 12L, 3L),
        CumCount(2L, 20L, 1L)))
    } finally q.stop()
  }

  test("dedupEvents drops duplicate event_ids arriving within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.dedupEvents(in.toDF())
      .writeStream.format("memory").queryName("dd").outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, ts(10, 0), 1), ev(2, ts(10, 5), 2))
      q.processAllAvailable()
      in.addData(ev(1, ts(10, 1), 1), ev(3, ts(10, 10), 3)) // id 1 is a dup across batches
      q.processAllAvailable()
      val ids = spark.table("dd").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("kanonCells dedups re-arriving users across batches before counting") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.kanonCells(in.toDF())
      .writeStream.format("memory").queryName("kanon")
      .outputMode(OutputMode.Update).start()
    try {
      // band 1 (value 15.0), one day-cell: two users
      in.addData(ev(1, ts(10, 0), 1).copy(value = 15.0),
        ev(2, ts(10, 1), 2).copy(value = 15.0))
      q.processAllAvailable()
      // user 2 re-arrives (must NOT double-count) + four new users
      in.addData(
        ev(3, ts(10, 2), 2).copy(value = 15.0),
        ev(4, ts(10, 3), 3).copy(value = 15.0),
        ev(5, ts(10, 4), 4).copy(value = 15.0),
        ev(6, ts(10, 5), 5).copy(value = 15.0),
        ev(7, ts(10, 6), 6).copy(value = 15.0))
      q.processAllAvailable()
      val updates = spark.table("kanon").collect()
        .map(r => (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      val finalUsers = updates.map(_._2).max
      // 6 distinct users despite 7 events (user 2 arrived twice)
      assert(finalUsers === 6L)
      // the cell crossed the k=5 frontier: early updates suppressed,
      // the final one released
      assert(updates.exists(u => u._2 < 5 && u._3))
      assert(updates.exists(u => u._2 === 6L && !u._3))
    } finally q.stop()
  }

  test("readEventStream reads the nanos-ts parquet as a file-source stream") {
    // regression: the stream schema must be the RAW file schema (ts as
    // LONG nanos under nanosAsLong), not Tables.events' post-conversion
    // TIMESTAMP — the mismatch used to fail at runtime on real files.
    val stream = EventStreams.readEventStream(spark, fixtureDir)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("filewc")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // append mode emits nothing until the watermark passes — the point
      // here is that the scan itself reads and converts without error.
      assert(spark.table("filewc").schema.fieldNames.contains("w_start"))
    } finally q.stop()

    // the converted stream rows equal the batch table rows (complete mode)
    val q2 = stream.groupBy().max("event_id", "user_id")
      .writeStream.format("memory").queryName("filemax")
      .outputMode(OutputMode.Complete).start()
    try {
      q2.processAllAvailable()
      val r = spark.table("filemax").collect().head
      assert(r.getLong(0) === 3L && r.getLong(1) === 2L)
    } finally q2.stop()
  }

  test("stream-static enrich join joins micro-batches against the dimension") {
    val stream = EventStreams.readEventStream(spark, fixtureDir)
    val customer = Tables.customer(spark, fixtureDir)
    val q = EventStreams.enrichJoin(stream, customer)
      .writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enrich").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("name")).toMap
      // fixture: events 0,1 are alice's; 2,3 are bob's
      assert(rows === Map(0L -> "alice", 1L -> "alice", 2L -> "bob", 3L -> "bob"))
    } finally q.stop()
  }

  test("stream-stream attribution join matches purchases to prior-hour views") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStreams.attributionJoin(views.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        ev(1, ts(10, 0), 1),   // view at 10:00
        ev(2, ts(12, 0), 1),   // view at 12:00 (too early for the 13:30 buy)
        ev(3, ts(10, 30), 2))  // other user
      purchases.addData(
        ev(50, ts(10, 40), 1, "purchase"),  // within 1h of view 1
        ev(51, ts(13, 30), 1, "purchase"))  // >1h after both views
      // advance both watermarks far enough to emit and evict (distinct
      // users so the advancing events can't join each other)
      views.addData(ev(9, ts(20, 0), 8))
      purchases.addData(ev(99, ts(20, 0), 9, "purchase"))
      q.processAllAvailable()
      val got = spark.table("attr").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("purchase_id"))).toSet
      assert(got === Set((1L, 50L))) // only the in-window same-user pair
    } finally q.stop()
  }

  test("file-source stream resumes from its checkpoint exactly-once") {
    // exactly-once across restarts: run → stop → new files arrive →
    // restart with the SAME checkpoint → only the new files process.
    val root = scratchDir("graft-chk")
    val src = s"$root/src"
    val out = s"$root/out"
    val chk = s"$root/chk"
    // seed the source with the fixture's 4 events (raw nanos ts longs)
    spark.read.parquet(s"$fixtureDir/events.parquet")
      .write.mode("overwrite").parquet(s"$src/events.parquet")

    def runOnce(): Unit = {
      val q = EventStreams.readEventStream(spark, src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
    }

    runOnce()
    assert(spark.read.parquet(out).count() === 4L)

    // late-arriving files: 3 new events appended to the source dir
    val s = spark
    import s.implicits._
    Seq(
      (10L, Fixtures.RefTs, 3L, "view", 1.0, "{}"),
      (11L, Fixtures.RefTs, 3L, "click", 1.0, "{}"),
      (12L, Fixtures.RefTs, 4L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(s"$src/events.parquet")

    runOnce()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // every event exactly once — the first 4 were NOT reprocessed
    assert(ids === Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L))
  }

  test("foreachBatch upsert sink stays idempotent across duplicate batches") {
    // the custom-sink path: each micro-batch merges into a keyed parquet
    // "table" (delete-matched + append), so replayed batches (at-least-
    // once delivery) converge instead of duplicating — the poor man's
    // MERGE INTO that foreachBatch exists for.
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = scratchDir("graft-upsert") + "/t"

    def upsert(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val existing =
        if (new java.io.File(target).exists) spark.read.parquet(target)
        else spark.emptyDataset[Ev].toDF()
      val deduped = batch.dropDuplicates("event_id")
      existing
        .join(deduped.select("event_id"), Seq("event_id"), "left_anti")
        .unionByName(deduped)
        .coalesce(1)
        .write.mode("overwrite").parquet(target + ".next")
      // atomic-ish swap for the test; a real deployment uses a table format
      val fs = new java.io.File(target)
      org.apache.commons.io.FileUtils.deleteQuietly(fs)
      new java.io.File(target + ".next").renameTo(fs)
    }

    val in = MemoryStream[Ev]
    val q = in.toDF().writeStream.foreachBatch(upsert _)
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, ts(10, 0), 1), ev(2, ts(10, 5), 2))
      q.processAllAvailable()
      // replay event 1 with a newer value + a fresh event
      in.addData(ev(1, ts(10, 0), 1, "click"), ev(3, ts(10, 10), 3))
      q.processAllAvailable()
      val rows = spark.read.parquet(target).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("event_type")).toMap
      assert(rows === Map(1L -> "click", 2L -> "view", 3L -> "view"))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, then stops") {
    // the scheduled-catchup mode: process everything currently in the
    // source (respecting maxFilesPerTrigger bounds) and terminate — the
    // nightly-batch shape run through the streaming engine, same code.
    val out = scratchDir("graft-avnow")
    val q = EventStreams.readEventStream(spark, fixtureDir)
      .writeStream.format("parquet")
      .option("path", s"$out/sink").option("checkpointLocation", s"$out/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode(OutputMode.Append).start()
    try {
      assert(q.awaitTermination(60000), "AvailableNow query should self-terminate")
    } finally q.stop()
    assert(spark.read.parquet(s"$out/sink").count() === 4L)
  }

  test("two-phase windowed top-k: streamed counts + rank query match the batch plan") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // phase 1: the incrementally-maintained aggregate (complete mode
    // stands in for the foreachBatch-upserted sink table)
    val q = EventStreams.windowedUserCounts(in.toDF())
      .writeStream.format("memory").queryName("topk_counts")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        ev(0, ts(10, 1), 1), ev(1, ts(10, 10), 1), ev(2, ts(10, 20), 1),
        ev(3, ts(10, 5), 2), ev(4, ts(10, 30), 2),
        ev(5, ts(10, 40), 3), ev(6, ts(10, 50), 4))
      q.processAllAvailable()
      // phase 2: the rank query over the maintained counts
      val got = EventStreams.rankTopK(spark.table("topk_counts")).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt"), r.getAs[Long]("rank")))
        .toSet
      // top-3 of the 10:00 window: u1(3), u2(2), tie u3/u4 → u3
      assert(got === Set((1L, 3L, 1L), (2L, 2L, 2L), (3L, 1L, 3L)))
    } finally q.stop()
  }

  test("batch-mode transforms agree with streaming semantics on the fixture") {
    // the same windowedCounts function runs on the static fixture table
    val wc = EventStreams.streamWindowCounts(spark, fixtureDir)
    assert(wc.collect().map(_.getAs[Long]("cnt")).sum === 4L) // all fixture events counted
    val rc = EventStreams.streamRunningCounts(spark, fixtureDir)
    val alice = rc.filter("user_id = 1").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("cum_count")).toMap
    // alice's events: id 1 at ref-20d, id 0 at ref → ordered by ts
    assert(alice === Map(1L -> 1L, 0L -> 2L))
  }

  test("streamed minhash doc dedup matches the batch run and is idempotent under replay") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, fixtureDir)
    val batchKept = graft.streaming.DocStreams.streamDedupMinhash(spark, fixtureDir)
      .collect().map(_.getLong(0)).toSet
    // doc 1 is a byte-identical copy of doc 0 → every bucket already
    // claimed; the first arrival survives
    assert(batchKept.contains(0L) && !batchKept.contains(1L))

    // drive the same corpus as 3 doc_id-ordered micro-batches through
    // the foreachBatch body with a fresh standing index
    val idx = scratchDir("graft-bandidx") + "/idx"
    val chunks = Seq(Seq(0L, 1L), Seq(2L, 3L), Seq(4L))
    val chunkKept = chunks.map { ids =>
      DocStreams.dedupBatchAgainstIndex(docs.filter(col("doc_id").isin(ids: _*)), idx)
        .collect().map(_.getLong(0)).toSet
    }
    assert(chunkKept.reduce(_ union _) === batchKept)

    // redelivered batch (failure replay): the index already holds the
    // chunk's own band rows, but the strict earlier-id probe keeps the
    // verdicts unchanged — exactly-once contents
    val replay = DocStreams
      .dedupBatchAgainstIndex(docs.filter(col("doc_id").isin(2L, 3L)), idx)
      .collect().map(_.getLong(0)).toSet
    assert(replay === chunkKept(1))
  }

  test("dedupBatchAgainstIndex returns materialized rows: the caller's read re-runs no probe join") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocStreams
    val docs = Tables.documents(spark, fixtureDir)
    val idx = scratchDir("graft-bandidx-read") + "/idx"
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = stages.addAndGet(e.stageIds.size)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // batches 1 and 2 probe an index the previous batch appended to
    try Seq(Seq(0L, 1L), Seq(2L, 3L), Seq(4L)).zipWithIndex.foreach { case (ids, b) =>
      val kept = DocStreams.dedupBatchAgainstIndex(docs.filter(col("doc_id").isin(ids: _*)), idx)
      try {
        assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc))
        stages.set(0)
        kept.write.mode("overwrite").format("noop").save()
        assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc))
        assert(stages.get === 1, s"batch $b: reading the kept rows ran ${stages.get} stages")
      } finally SessionMemo.release(kept)
    } finally sc.removeSparkListener(listener)
  }

  test("streamed novelty matches the one-shot run and is idempotent under replay") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocStreams
    val s = spark
    import s.implicits._
    val dir = scratchDir("graft-stream-novelty")
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    Seq(
      (0L, base),                                            // introduces all grams
      (1L, (1 to 12).map(i => s"u$i").mkString(" ")),        // disjoint vocab
      (2L, base),                                            // cross-batch copy: 0 novel
      (3L, (1 to 12).map(i => s"v$i").mkString(" ")),        // fresh
      (4L, ((1 to 39).map(i => s"w$i") :+ "edited").mkString(" "))) // 1 novel tail gram
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val oneShot = toMap(operators.Curation.ngramNovelty(spark, dir).collect())
    assert(oneShot(2L)._2 === 0L && oneShot(4L)._2 === 1L) // the planted shape

    val idx = scratchDir("graft-gramidx") + "/idx"
    val docs = Tables.documents(spark, dir)
    val chunks = Seq(Seq(0L, 1L), Seq(2L, 3L), Seq(4L))
    val streamed = chunks.map { ids =>
      toMap(DocStreams.noveltyBatchAgainstIndex(
        docs.filter(col("doc_id").isin(ids: _*)), idx).collect())
    }
    assert(streamed.reduce(_ ++ _) === oneShot)

    // redelivered batch (failure replay): its grams are in the index,
    // but each owned by the doc that won them first — output unchanged
    val replay = toMap(DocStreams.noveltyBatchAgainstIndex(
      docs.filter(col("doc_id").isin(2L, 3L)), idx).collect())
    assert(replay === streamed(1))

    // the registered lifecycle replay: first call builds the standing
    // gram index + prior-batch scores, a REPEAT call rides them and
    // probes only the last batch — both must equal the one-shot run
    // (the session-scoped carve-out's bit-identity claim)
    val first = toMap(DocStreams.streamNovelty(spark, dir).collect())
    assert(first === oneShot)
    assert(toMap(DocStreams.streamNovelty(spark, dir).collect()) === oneShot)
  }

  test("writeStream dedup wiring filters the documents stream against the standing index") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = scratchDir("graft-docstream")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.upsertDedupDocs(
      in.toDF().toDF("doc_id", "text"), s"$tmp/idx", s"$tmp/out", s"$tmp/chk").start()
    try {
      in.addData((0L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      // batch 2: an exact copy (dropped) and a fresh doc (kept)
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different words in this second document here"))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$tmp/out").collect().map(_.getLong(0)).toSet
      assert(kept === Set(0L, 2L))
    } finally q.stop()
  }

  test("foreachBatch upsert sink is idempotent under batch replay") {
    // a fresh session, so no earlier suite's setting can hide a change
    // to the session's overwrite mode
    val s = spark.newSession()
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val mode = s.conf.getOption(overwriteMode)
    val outDir = scratchDir("graft-upsert")
    val chk = scratchDir("graft-upsert-chk")
    val in = MemoryStream[Ev]
    val q = EventStreams.upsertWindowCounts(in.toDF(), outDir, chk).start()
    try {
      in.addData(ev(0, ts(10, 5), 1), ev(1, ts(10, 40), 2))
      q.processAllAvailable()
      // second batch UPDATES the same 10:00 window (update mode)
      in.addData(ev(2, ts(10, 59), 1))
      q.processAllAvailable()
      assert(s.conf.getOption(overwriteMode) === mode)
      val table = spark.read.parquet(outDir)
      val r = table.collect()
      assert(r.length === 1) // one (window, type) aggregate row, not three
      assert(r.head.getAs[Long]("cnt") === 3L)

      // replay the final aggregate state (as a redelivered batch) —
      // contents must be unchanged, not duplicated
      val replay = EventStreams.windowedCounts(
        Seq(ev(0, ts(10, 5), 1), ev(1, ts(10, 40), 2), ev(2, ts(10, 59), 1)).toDF())
      EventStreams.mergeWindowCounts(replay, outDir)
      EventStreams.mergeWindowCounts(replay, outDir) // twice
      assert(s.conf.getOption(overwriteMode) === mode)
      val after = spark.read.parquet(outDir).collect()
      assert(after.length === 1)
      assert(after.head.getAs[Long]("cnt") === 3L)
    } finally q.stop()
  }

  /** Runs `body` with a listener that records the jobs of each (query,
    * micro-batch), read off the local properties the engine sets on
    * every job a batch submits. `body` gets the drained jobs of one
    * query by batch id, each job as its operation scope names
    * ([[PlanAudit.jobScopes]]).
    */
  private def withJobsPerBatch[T](body: (java.util.UUID => Map[Long, Seq[Seq[String]]]) => T): T = {
    val jobs = scala.collection.mutable.Map.empty[(String, Long), Vector[Seq[String]]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties);
             q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          jobs.synchronized(jobs((q, b.toLong)) =
            jobs.getOrElse((q, b.toLong), Vector.empty) :+ PlanAudit.jobScopes(e))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try body { id =>
      assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc))
      jobs.synchronized(jobs.toMap.collect { case ((q, b), js) if q == id.toString => b -> js })
    } finally sc.removeSparkListener(listener)
  }

  /** The upsert sink's per-batch invariant: every batch that ran
    * submitted exactly one job that runs the state-store stage, and a
    * batch that updated no aggregate row submitted nothing else (no
    * write).
    */
  private def assertOneStateJobPerBatch(
      jobs: Map[Long, Seq[Seq[String]]], ran: Seq[StreamingQueryProgress]): Unit = {
    assert(jobs.keySet === ran.map(_.batchId).toSet)
    jobs.foreach { case (b, js) =>
      assert(js.count(_.contains("StateStoreSave")) === 1, s"batch $b jobs' scopes: $js")
    }
    ran.filter(_.stateOperators.head.numRowsUpdated == 0).foreach { p =>
      assert(jobs(p.batchId).size === 1, s"batch ${p.batchId} jobs' scopes: ${jobs(p.batchId)}")
    }
  }

  /** The micro-batches `q` has run (idle progress events carry no
    * `addBatch` time), once `done` holds of them; fails after 60 s.
    * Progress is posted after the batch commits, so it can lag
    * `processAllAvailable`.
    */
  private def batchesRun(q: StreamingQuery)(
      done: Seq[StreamingQueryProgress] => Boolean): Seq[StreamingQueryProgress] = {
    def ran = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
    val deadline = System.nanoTime + 60L * 1000000000L
    while (!done(ran) && System.nanoTime < deadline) Thread.sleep(50)
    val ps = ran
    assert(done(ps), s"(batch id, input rows): ${ps.map(p => p.batchId -> p.numInputRows)}")
    ps
  }

  /** All `rows` consumed, then a batch with no input: the no-data batch
    * that evicts state behind an advanced watermark.
    */
  private def drained(rows: Long)(ps: Seq[StreamingQueryProgress]): Boolean =
    ps.map(_.numInputRows).sum == rows && ps.lastOption.exists(_.numInputRows == 0)

  private def windowCounts(dir: String): Map[(Timestamp, String), Long] =
    spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Timestamp]("w_start"), r.getAs[String]("event_type")) ->
        r.getAs[Long]("cnt")).toMap

  test("upsertWindowCounts runs the state stage once per batch, no write when empty") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = scratchDir("graft-upsert")
    val in = MemoryStream[Ev]
    withJobsPerBatch { jobsOf =>
      val q = EventStreams.upsertWindowCounts(in.toDF(), outDir,
        scratchDir("graft-upsert-chk")).start()
      try {
        // 2 changed aggregate rows: (10:00, view) and (10:00, click)
        in.addData(ev(0, ts(10, 5), 1), ev(1, ts(10, 40), 2, "click"), ev(2, ts(10, 50), 1))
        q.processAllAvailable()
        // 2 more: (13:00, view) and (10:00, view) again. The 13:30 event
        // moves the watermark to 11:30, so a no-data batch follows.
        in.addData(ev(3, ts(13, 30), 1), ev(4, ts(10, 59), 2))
        val ran = batchesRun(q)(drained(5))
        assertOneStateJobPerBatch(jobsOf(q.id), ran)
        assert(ran.last.stateOperators.head.numRowsUpdated === 0L) // the no-data batch
        // each batch ran the state stage once: updates are counted once
        assert(ran.map(_.stateOperators.head.numRowsUpdated).sum === 4L)
        assert(windowCounts(outDir) === Map(
          (ts(10), "view") -> 3L, (ts(10), "click") -> 1L, (ts(13), "view") -> 1L))
      } finally q.stop()
    }
  }

  test("a batch that changes one event_type of a window keeps the window's other types") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = scratchDir("graft-upsert")
    val in = MemoryStream[Ev]
    val q = EventStreams.upsertWindowCounts(in.toDF(), outDir,
      scratchDir("graft-upsert-chk")).start()
    val want = Map((ts(10), "view") -> 2L, (ts(10), "click") -> 1L,
      (ts(10), "buy") -> 1L, (ts(11), "view") -> 1L)
    def assertTable(): Unit = {
      assert(windowCounts(outDir) === want)
      assert(spark.read.parquet(outDir).count() === want.size.toLong)
    }
    try {
      in.addData(ev(0, ts(10, 5), 1), ev(1, ts(10, 40), 2, "click"),
        ev(2, ts(10, 50), 3, "buy"), ev(3, ts(11, 10), 1))
      q.processAllAvailable()
      // only (10:00, view) changes: the window's rewrite must carry
      // click and buy over from the stored file
      in.addData(ev(4, ts(10, 55), 2))
      q.processAllAvailable()
      assertTable()
    } finally q.stop()

    // a redelivered batch that holds only the changed row, merged twice
    val replay = EventStreams.windowedCounts(Seq(ev(0, ts(10, 5), 1), ev(4, ts(10, 55), 2)).toDF())
    EventStreams.mergeWindowCounts(replay, outDir)
    EventStreams.mergeWindowCounts(replay, outDir)
    assertTable()

    // one file per window, event_type inside it
    val windows = tableBytes(outDir).keys.filter(_.endsWith(".parquet"))
      .groupBy(f => java.nio.file.Paths.get(f).getParent.toString)
    assert(windows.keySet.size === 2 && windows.keySet.forall(_.startsWith("w_start_us=")),
      windows.keySet)
    assert(windows.values.forall(_.size == 1), windows)
    assert(!tableBytes(outDir).keys.exists(_.contains("event_type=")))
  }

  /** Every file under `dir`, by relative path, with its bytes. */
  private def tableBytes(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq)
      .toMap
    finally walk.close()
  }

  test("an all-late micro-batch leaves the table byte-identical and commits its state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = scratchDir("graft-upsert")
    val in = MemoryStream[Ev]
    withJobsPerBatch { jobsOf =>
      val q = EventStreams.upsertWindowCounts(in.toDF(), outDir,
        scratchDir("graft-upsert-chk")).start()
      try {
        in.addData(ev(0, ts(10, 5), 1), ev(1, ts(13, 30), 1)) // watermark → 11:30
        batchesRun(q)(drained(2))
        val written = tableBytes(outDir)
        // both windows end at or before the 11:30 watermark: every row is
        // dropped and the batch writes nothing
        in.addData(ev(2, ts(9, 0), 2), ev(3, ts(10, 30), 2))
        val late = batchesRun(q)(_.map(_.numInputRows).sum == 4).last
        assert(late.numInputRows === 2L)
        assert(late.stateOperators.head.numRowsDroppedByWatermark === 2L)
        assert(tableBytes(outDir) === written)
        // the next batch loads the state version the late batch committed
        in.addData(ev(4, ts(13, 45), 2))
        val ran = batchesRun(q)(drained(5))
        assert(windowCounts(outDir) === Map(
          (ts(10), "view") -> 1L, (ts(13), "view") -> 2L))
        assertOneStateJobPerBatch(jobsOf(q.id), ran)
        assert(ran.count(_.stateOperators.head.numRowsUpdated == 0) >= 2) // late and no-data
      } finally q.stop()
    }
  }

  test("upsertDedupDocs leaves no persisted RDD behind per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val tmp = scratchDir("graft-docstream")
    val before = persisted
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStreams.upsertDedupDocs(
      in.toDF().toDF("doc_id", "text"), s"$tmp/idx", s"$tmp/out", s"$tmp/chk").start()
    try (0 until 3).foreach { i =>
      // no token shared across documents: every one is kept
      in.addData((i.toLong, (0 until 8).map(j => s"d${i}w$j").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$tmp/out").count() === 3L)
    assert(persisted -- before === Set.empty[Int])
  }
}
