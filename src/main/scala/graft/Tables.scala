package graft

import org.apache.spark.sql.{DataFrame, GraftGlue, SparkSession}

/** Parquet table loaders for the harness testdata (TESTDATA.md).
  *
  * The reference engine (vivekisreddy/MapReducer-PI-cs4433) reads
  * line-oriented CSV with per-mapper header/malformed-row handling
  * (e.g. reference TaskA.java:25-36). Here the source of record is typed
  * parquet, so schema is carried by the files; Catalyst gets column
  * pruning + predicate pushdown into the scan for free.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema is read from a parquet footer on the driver
    * ([[org.apache.spark.sql.GraftGlue.parquetFooterSchema]]) and handed
    * to the reader, so opening a table submits no Spark job. Where the
    * footer route cannot match Spark's inference (schema merging on, a
    * glob, a missing path), Spark infers as before. Nothing is kept
    * between calls: an append or rewrite shows on the next open.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftGlue.parquetFooterSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** Normalize an `events`-shaped frame so `ts` is a session-time
    * TIMESTAMP regardless of how the parquet writer encoded it. The
    * harness testdata has shipped `ts` two different ways across
    * regenerations, so dispatch on the scanned type:
    *  - INT64 TIMESTAMP(NANOS): unreadable natively
    *    (PARQUET_TYPE_ILLEGAL); surfaces as LongType under the legacy
    *    `nanosAsLong` flag. Convert with integer `div 1000` (double
    *    would lose precision: 2024 epoch-nanos ≈ 1.7e18 > 2^53); the
    *    nanos are whole microseconds so this is lossless and matches
    *    DuckDB's TIMESTAMP_NS→TIMESTAMP cast.
    *  - TIMESTAMP_MICROS without UTC adjustment: reads as
    *    TIMESTAMP_NTZ. The session timezone is pinned UTC everywhere
    *    (Bench/Verify/TaskRunner/specs), so casting to TIMESTAMP is
    *    value-preserving and hash-matches DuckDB's plain TIMESTAMP read.
    *  - TIMESTAMP already: pass through.
    */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case LongType         => df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _                => df
    }
  }

  /** `events` with `ts` normalized to TIMESTAMP — see [[normalizeTs]].
    * Every session carries `nanosAsLong` ([[Bench.builder]]), so a
    * nanos-encoded regeneration of the testdata scans (as LongType)
    * instead of failing.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  /** `o_orderdate` / `l_shipdate` get the same encoding insurance as
    * `events.ts` — the testdata regeneration that flipped `ts` could
    * flip these the same way ([[normalizeTs]]); under the pinned-UTC
    * session the normalization is value-preserving for every encoding.
    */
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "lineitem"), "l_shipdate")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")

  /** `documents` spread to full core parallelism. The testdata ships as
    * one small parquet file = one row group = ONE scan partition, so
    * every CPU-bound per-document operator (shingling, hashing,
    * fingerprinting) would otherwise run on a single core. The
    * round-robin exchange moves only the raw text once and is noise
    * next to the per-doc compute it parallelizes; on a real multi-TB
    * corpus the scan already has thousands of row-group splits and this
    * becomes a cheap rebalance.
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    documents(s, d).repartition(s.sparkContext.defaultParallelism)

  /** `events` spread to full core parallelism — same single-row-group
    * rationale as [[documentsSpread]], for queries whose per-row compute
    * (JSON parsing, large per-group state) dominates the scan.
    */
  def eventsSpread(s: SparkSession, d: String): DataFrame =
    events(s, d).repartition(s.sparkContext.defaultParallelism)

  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Catalog name + storage path for a self-managed standing-index
    * table, scoped by (Spark application id, data dir): two concurrent
    * sessions on one machine — or one session over two data dirs —
    * never race on the same catalog entry or directory, and one run's
    * overwrite can't clobber an index another run is mid-probe on.
    * Within a session, re-runs resolve to the same name and stay
    * idempotent via overwrite. The path lives under java.io.tmpdir
    * because these demo indexes are rebuilt per run; a production
    * deployment points the same builders at a durable warehouse path
    * and drops the app-id scoping (the index is then deliberately
    * shared across ingest runs).
    */
  def scopedIndex(s: SparkSession, base: String, d: String): (String, String) = {
    val app = s.sparkContext.applicationId.toLowerCase.replaceAll("[^a-z0-9]+", "_")
    // 64-bit SHA-256 prefix, not String.hashCode: a 32-bit tag makes a
    // birthday collision between two corpus dirs in one application
    // plausible at fleet scale, and a collision would silently alias
    // two corpora's signature/label tables
    val dirTag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val name = s"${base}_${app}_$dirTag"
    (name, s"${sys.props("java.io.tmpdir")}/$name")
  }
}
