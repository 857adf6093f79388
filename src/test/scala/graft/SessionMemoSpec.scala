package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, TextOps}
import graft.streaming.DocStreams

/** [[SessionMemo]]: one build per key under concurrency, release of
  * memoized checkpoint blocks on `clear()`, and rebuild when the corpus
  * dir changes in place.
  */
class SessionMemoSpec extends AnyFunSuite with SparkFixture {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A fresh fixture corpus, so no suite sharing the session has
    * memoized anything for it yet.
    */
  private def freshCorpus(): String = {
    val dir = scratchDir("graft-memo")
    Fixtures.writeAll(spark, dir)
    dir
  }

  Seq[(String, SessionMemo[_, _], String => Unit)](
    ("BPE", TextOps.bpeMemo, d => TextOps.bpeTrain(spark, d)),
    ("unigram", TextOps.unigramMemo, d => TextOps.unigramLmTrain(spark, d)),
    ("novelty", DocStreams.noveltyMemo, d => DocStreams.streamNovelty(spark, d)),
    ("LSH", Similarity.lshSigMemo, d => Similarity.lshBands(spark, d))
  ).foreach { case (name, memo, build) =>
    test(s"$name memo: clear() frees every RDD the build persisted") {
      val dir = freshCorpus()
      val before = persistentIds
      build(dir)
      assert((persistentIds -- before).nonEmpty, "build persisted nothing")
      memo.clear()
      // plan-scoped persists (withNorm) are catalog cache entries that
      // the session contract frees with clearCache between queries
      spark.catalog.clearCache()
      assert((persistentIds -- before).isEmpty)
    }
  }

  private def withPool[T](n: Int)(f: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try f(ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  test("8 concurrent first callers of one key run build once") {
    val memo = new SessionMemo[Int, Int]
    val dir = scratchDir("graft-memo")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    withPool(8) { implicit ec =>
      val calls = (1 to 8).map(_ => Future {
        start.await()
        memo.getOrBuild(spark, dir, 1) {
          builds.incrementAndGet()
          Thread.sleep(200)
          42
        }
      })
      start.countDown()
      assert(Await.result(Future.sequence(calls), 30.seconds) === Seq.fill(8)(42))
    }
    assert(builds.get === 1)
  }

  test("a slow build on key A does not block key B") {
    val memo = new SessionMemo[String, Int]
    val dir = scratchDir("graft-memo")
    val aStarted = new CountDownLatch(1)
    val aRelease = new CountDownLatch(1)
    withPool(1) { implicit ec =>
      val a = Future(memo.getOrBuild(spark, dir, "A") {
        aStarted.countDown()
        aRelease.await(30, TimeUnit.SECONDS)
        1
      })
      assert(aStarted.await(30, TimeUnit.SECONDS))
      // A's build is still running; B must not wait for it
      assert(memo.getOrBuild(spark, dir, "B")(2) === 2)
      assert(!a.isCompleted)
      aRelease.countDown()
      assert(Await.result(a, 30.seconds) === 1)
    }
  }

  test("a build that throws leaves the key buildable") {
    val memo = new SessionMemo[Int, Int]
    val dir = scratchDir("graft-memo")
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      memo.getOrBuild(spark, dir, 1) {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(memo.getOrBuild(spark, dir, 1) { builds.incrementAndGet(); 7 } === 7)
    assert(memo.getOrBuild(spark, dir, 1) { builds.incrementAndGet(); 8 } === 7)
    assert(builds.get === 2)
  }

  test("an in-place append to the corpus dir rebuilds the memoized state") {
    import spark.implicits._
    val dir = scratchDir("graft-memo")
    def docs(from: Int, n: Int, text: String) =
      (from until from + n).map(i => (i.toLong, text)).toDF("doc_id", "text")
    // 2000 vectors derive nlist 16, 2100 derive 32 (the 2048 boundary)
    def vecs(from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, Seq(1.0f, 0.0f), 0))
        .toDF("vec_id", "embedding", "label")
    docs(0, 20, "abab abab cd").write.parquet(s"$dir/documents.parquet")
    vecs(0, 2000).write.parquet(s"$dir/embeddings.parquet")

    val bpe0 = TextOps.bpeTrain(spark, dir)
    val nlist0 = Similarity.corpusNlist(spark, dir)
    docs(20, 50, "xyz xyz xyz").write.mode("append").parquet(s"$dir/documents.parquet")
    vecs(2000, 100).write.mode("append").parquet(s"$dir/embeddings.parquet")
    val bpe1 = TextOps.bpeTrain(spark, dir)
    val nlist1 = Similarity.corpusNlist(spark, dir)

    TextOps.bpeMemo.clear()
    Similarity.corpusCountMemo.clear()
    assert(bpe1 === TextOps.bpeTrain(spark, dir))
    assert(nlist1 === Similarity.corpusNlist(spark, dir))
    assert(bpe1 !== bpe0)
    assert((nlist0, nlist1) === ((16, 32)))
  }

  /** `.scala` files under `roots`, other than the file named `allowed`,
    * whose text matches `pattern`.
    */
  private def filesMatching(pattern: String, allowed: String, roots: String*): List[String] =
    roots.toList.flatMap { r =>
      val root = java.nio.file.Paths.get(r)
      assert(java.nio.file.Files.isDirectory(root))
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != allowed)
        .filter(p => pattern.r.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
        .map(_.toString).toList
      finally walk.close()
    }

  test("no TrieMap under src/main/scala outside SessionMemo.scala") {
    val offenders = filesMatching("TrieMap", "SessionMemo.scala", "src/main/scala")
    assert(offenders.isEmpty,
      "memoize model state through graft.SessionMemo, not a per-operator TrieMap")
  }

  test("no session builder under src/ outside Bench.scala") {
    val offenders = filesMatching("""SparkSession\.builder\(\)""", "Bench.scala",
      "src/main/scala", "src/test/scala")
    assert(offenders.isEmpty,
      s"build sessions through graft.Bench.builder/session, not by hand: $offenders")
  }

  test("no def main under src/main/scala outside Bench, Verify, PlanAudit, cli/TaskRunner") {
    // the user-facing mains; a diagnostic belongs in PlanAudit or a spec
    val mains = Set("Bench.scala", "Verify.scala", "PlanAudit.scala", "cli/TaskRunner.scala")
      .map("src/main/scala/graft/" + _)
    val offenders = filesMatching("""def\s+main\s*\(|extends\s+App\b""", "", "src/main/scala")
      .filterNot(mains.contains)
    assert(offenders.isEmpty, s"no second diagnostic main: $offenders")
  }

  test("no optimizer rule under src/main/scala/graft/plans builds a Dataset") {
    val offenders = filesMatching("""ofRows\(|withColumn\(|GraftGlue\.analyzed\(""", "",
      "src/main/scala/graft/plans")
    assert(offenders.isEmpty,
      "build rewritten subtrees as resolved Catalyst nodes: a Dataset step runs a full " +
        s"analyzer pass inside every optimization of the query: $offenders")
  }

  test("no session conf.set under src/main/scala outside the allow-list") {
    // an operator that sets a session conf changes every later query of
    // its caller; a per-read or per-write option does not, and session
    // defaults belong in Bench.builder
    val offenders = filesMatching("""conf\s*\.set\(""", "", "src/main/scala")
    assert(offenders.isEmpty,
      s"pass a per-read or per-write option instead of setting the session conf: $offenders")
  }

  test("no hand-rolled standing-state memo under src/main/scala/graft/operators") {
    val offenders = filesMatching("""catalog\.tableExists\(|this\.synchronized""", "",
      "src/main/scala/graft/operators")
    assert(offenders.isEmpty,
      "memoize standing tables through graft.SessionMemo: an existence check under an " +
        s"object-wide lock never sees an in-place append of the corpus: $offenders")
  }

  /** The case classes under `root` with an `Array[`-typed parameter in
    * their first parameter list.
    */
  private def arrayArgCaseClasses(root: String): List[String] =
    filesMatching("""case\s+class""", "", root).flatMap { f =>
      val src = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
      """case\s+class\s+(\w+)[^(]*\(""".r.findAllMatchIn(src).toList.flatMap { m =>
        var (depth, i) = (1, m.end)
        while (depth > 0 && i < src.length) {
          if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
          i += 1
        }
        if (src.substring(m.end, i).contains("Array[")) Some(m.group(1)) else None
      }
    }

  test("no Array-typed constructor argument on a case class under src/main/scala/graft/functions") {
    val offenders = arrayArgCaseClasses("src/main/scala/graft/functions")
    assert(offenders.isEmpty,
      "an array compares by identity, so two equal expressions never semanticEquals " +
        s"and exchange reuse misses them; take an immutable Seq: $offenders")
  }
}
