package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TokenFunctions
import graft.operators.TextOps

/** The native BPE merge kernel ([[graft.functions.BpeMerge]]) inside
  * Spark: it equals the array-HOF fold it replaced, in a plan, and it
  * lets a training round be one `head()` over the memoized vocabulary.
  */
class BpeKernelSpec extends AnyFunSuite with SparkFixture {

  /** One merge as the HOF fold `bpeTrain` and `bpeEncode` ran before
    * the kernel: `aggregate` over `concat`/`slice`.
    */
  private def foldOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  test("kernel pieces and pairs equal the HOF fold in a plan, multi-byte words included") {
    import spark.implicits._
    val words = Seq("aaa", "abab", "lower", "日本日本", "éé", "a🙂a🙂", "x", "ßaßa", "abcabc")
    val merges = Seq(("a", "a"), ("a", "b"), ("日", "本"), ("é", "é"), ("ab", "ab"),
      ("🙂", "a"), ("q", "q"), ("ß", "a"), ("ßa", "ßa"))
    val chars = transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1)))
    val fold = merges.foldLeft(chars) { case (s, (a, b)) => foldOnce(s, a, b) }
    val rows = words.toDF("w")
      .select(col("w"), fold.as("hof"), TokenFunctions.bpe_pieces(col("w"), merges).as("kernel"),
        TokenFunctions.bpe_pairs(col("w"), merges).as("pairs"))
      .collect()
    assert(rows.length === words.size)
    rows.foreach { r =>
      val hof = r.getSeq[String](1)
      assert(r.getSeq[String](2) === hof, r.getString(0))
      val pairs = r.getSeq[org.apache.spark.sql.Row](3).map(p => (p.getString(0), p.getString(1)))
      assert(pairs === hof.zip(hof.drop(1)), r.getString(0))
    }
    // and over a whole token array, as bpeEncode calls it
    val enc = Seq(words).toDF("ts")
      .select(TokenFunctions.bpe_pieces(col("ts"), merges)).head().getSeq[String](0)
    assert(enc === rows.toSeq.flatMap(_.getSeq[String](1)))
  }

  test("one more training round adds one head()'s jobs to the memo build, and no count job") {
    import spark.implicits._
    val dir = scratchDir("graft-bpe-jobs")
    Seq((1L, "abab abc abab lowest"), (2L, "abab abc cc lower low"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val sc = spark.sparkContext
    /** Per job `body` submits, in submission order, the call site of
      * the action that ran it (its SQL execution's description, as
      * `head at TextOps.scala:123`; AQE submits a query's stages from
      * other threads, so their own call sites name no action).
      */
    def jobSites(body: => Unit): Seq[String] = {
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val actions = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.put(e.jobId, String.valueOf(e.properties.getProperty("spark.sql.execution.id")))
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => actions.put(s.executionId.toString, s.description)
          case _ => ()
        }
      }
      assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc))
      sc.addSparkListener(listener)
      try { body; assert(org.apache.spark.GraftSparkGlue.drainListenerBus(sc)) }
      finally sc.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.sortBy(_._1).map { case (_, x) => actions.asScala.getOrElse(x, s"execution $x") }
    }
    def build(rounds: Int): (Seq[(Int, String, String, Long)], Seq[String]) = {
      TextOps.bpeMemo.clear()
      var merges = Seq.empty[(Int, String, String, Long)]
      val sites = jobSites { merges = TextOps.bpeTrain(spark, dir, rounds) }
      (merges, sites)
    }
    val r = 3
    val (m3, s3) = build(r)
    val (m4, s4) = build(r + 1)
    TextOps.bpeMemo.clear()
    assert(m3.size === r && m4.size === r + 1, "every round found a pair")
    assert(m4.take(r) === m3)

    def heads(s: Seq[String]) = s.filter(_.startsWith("head at "))
    assert(s3.forall(!_.startsWith("count at")) && s4.forall(!_.startsWith("count at")),
      s"count jobs in a memo build: $s3 / $s4")
    assert(heads(s3).nonEmpty && heads(s3).size % r === 0, s"jobs of $r rounds: $s3")
    assert(heads(s4).size - heads(s3).size === heads(s3).size / r,
      s"round ${r + 1} submitted more than one head()'s jobs: $s3 -> $s4")
    assert(s4.filterNot(_.startsWith("head at ")) === s3.filterNot(_.startsWith("head at ")),
      "the vocabulary checkpoint's jobs do not depend on the round count")
  }
}
