package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession + a tmp dir of tiny fixture tables using
  * the testdata schemas. Fixtures encode the reference's edge
  * semantics (SURVEY.md §7.4.1) so each rule is asserted, not assumed.
  */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = Bench.builder(4)
    // deliberately NOT scratchDir: the session (and its warehouse of
    // bucketed catalog tables) is shared across suites — the first
    // suite's afterAll must not delete it out from under the rest
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  lazy val fixtureDir: String = {
    val dir = scratchDir("graft-fixture")
    Fixtures.writeAll(spark, dir)
    dir
  }

  private val scratchDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** Temp dir for scratch parquet/checkpoints, deleted recursively in
    * afterAll — keeps repeated test runs from littering the tmpdir.
    */
  def scratchDir(prefix: String): String = synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs += p
    p.toString
  }

  override def afterAll(): Unit = {
    // session shared across suites; don't stop it here — but every
    // scratch dir this suite created is dead once its tests finish
    scratchDirs.foreach { root =>
      import java.nio.file.{Files, Path}
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    super.afterAll()
  }
}

object Fixtures {
  val DayNanos: Long = 86400L * 1000000000L
  val RefTs: Long = 1704067200L * 1000000000L // 2024-01-01 00:00:00 UTC in ns

  // 40 tokens; docB = exact dup of docA; docC differs in the final token
  // (bigram jaccard 38/40 = 0.95); docD is unrelated; docE is a
  // permutation of docA (same token multiset, different order).
  val DocA: String = (1 to 40).map(i => s"w$i").mkString(" ")
  val DocC: String = ((1 to 39).map(i => s"w$i") :+ "zz").mkString(" ")
  val DocD: String = (1 to 40).map(i => s"x$i").mkString(" ")
  val DocE: String = (1 to 40).map(i => s"w$i").reverse.mkString(" ")

  def writeAll(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def w(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    w(Seq((0, "AFRICA"), (2, "ASIA"))
      .toDF("r_regionkey", "r_name"), "region")

    // nation 1 sits in ASIA so region-filtered joins have a live path
    w(Seq((0, "NATION_7", 0), (1, "NATION_1", 2))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    // part 12 never appears in lineitem (anti-join fixture)
    w(Seq(
      (10L, "widget", "Brand#1", "ECONOMY", 1, 1.0),
      (11L, "gadget", "Brand#1", "STD", 2, 2.0),
      (12L, "unused", "Brand#2", "STD", 3, 3.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")

    w(Seq(
      (1L, "alice", 0, 10.0, "SEG_A"),
      (2L, "bob", 0, 5.0, "SEG_B"),
      (3L, "carol", 1, 1.0, "SEG_A"),
      (4L, "dave", 1, 2.0, "SEG_B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")

    // alice: 3 orders, bob: 1, carol/dave: none → avg over order-havers = 2
    // LocalDateTime → TIMESTAMP_NTZ, matching the testdata's physical type
    val ots = java.time.LocalDateTime.ofEpochSecond(RefTs / 1000000000L, 0,
      java.time.ZoneOffset.UTC)
    w(Seq(
      (100L, 1L, "O", 10.0, ots, "1-URGENT"), (101L, 1L, "O", 20.0, ots, "3-MEDIUM"),
      (102L, 1L, "F", 30.0, ots, "3-MEDIUM"), (103L, 2L, "O", 40.0, ots, "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"),
      "orders")

    // ts is raw INT64 nanos, matching the testdata's TIMESTAMP(NANOS)
    // physical type as seen under nanosAsLong.
    // alice: active at ref time; bob: last event EXACTLY 14 days before
    // ref (boundary: qualifies, <=); carol/dave: no events (qualify).
    w(Seq(
      (0L, RefTs, 1L, "view", 1.0, "{}"),
      (1L, RefTs - 20 * DayNanos, 1L, "click", 1.0, "{}"),
      (2L, RefTs - 14 * DayNanos, 2L, "view", 2.0, "{}"),
      (3L, RefTs - 30 * DayNanos, 2L, "error", 0.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    w(Seq((1L, "supp_one", 0, 1.0), (2L, "supp_two", 0, 2.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")

    // supplier 1, part 10: max qty 30 (> 25, excluded)
    // supplier 1, part 11: max qty 20 (≤ 25 → supplier 1 qualifies)
    // supplier 2, part 10: max qty 30 (supplier 2 has no qualifying pair)
    w(Seq(
      (1000L, 10L, 1L, 1, 10.0, 100.0, 0.1, 0.0, "N", "O", ots),
      (1000L, 10L, 1L, 2, 30.0, 100.0, 0.1, 0.0, "N", "O", ots),
      (1001L, 11L, 1L, 1, 20.0, 100.0, 0.1, 0.0, "N", "O", ots),
      (1002L, 10L, 2L, 1, 30.0, 100.0, 0.1, 0.0, "N", "O", ots))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"), "lineitem")

    w(Seq(
      (0L, DocA, "en", "src0", DocA.length.toLong),
      (1L, DocA, "en", "src0", DocA.length.toLong),
      (2L, DocC, "en", "src1", DocC.length.toLong),
      (3L, DocD, "en", "src1", DocD.length.toLong),
      (4L, DocE, "en", "src2", DocE.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    // 60 vectors, dim 64, 3 well-separated clusters (cluster = vec_id % 3).
    val rng = new scala.util.Random(7)
    val centers = Array.fill(3, 64)(rng.nextGaussian())
    val rows = (0 until 60).map { id =>
      val c = centers(id % 3)
      val v = c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat)
      (id.toLong, v.toSeq, id % 3)
    }
    w(rows.toDF("vec_id", "embedding", "label"), "embeddings")
  }
}
