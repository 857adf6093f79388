package graft

import scala.annotation.tailrec

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, GraftGlue, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped memo of model state derived from one corpus dir
  * (codebooks, BPE/unigram models, LSH signatures, corpus counts,
  * ingest cuts): built at most once per key, reused by every later
  * query of the session.
  *
  * Key and staleness rule: an entry is keyed on (Spark application
  * id, `dir`, `params`) and also records a fingerprint of `dir` — the
  * path, length and mtime of every file under it, from one recursive
  * Hadoop `FileSystem` listing on the driver (no Spark job). A call
  * whose fingerprint differs from the entry's (an in-place append or
  * rewrite of the corpus) releases the old value and rebuilds in the
  * same key, so stale entries never pile up. The hit path is one map
  * lookup plus that listing and submits no Spark job.
  *
  * Locking: each key has its own slot, whose monitor is held while
  * `build` runs, so concurrent first callers of one key run `build`
  * once while other keys build in parallel. A `build` that throws
  * leaves the slot empty and the next call builds again.
  *
  * Release rule ([[clear]] and staleness): every `DataFrame` in a
  * value has the RDDs of its `LogicalRDD` leaves unpersisted. Memoized
  * frames are eager `localCheckpoint`s, and `Dataset.unpersist()` does
  * not free a checkpoint's blocks. `localCheckpoint` is not
  * fault-tolerant: in cluster mode an executor loss poisons such a
  * value until [[clear]] drops it.
  */
final class SessionMemo[P, V] {
  private final class Slot(val fingerprint: Seq[(String, Long, Long)]) {
    private var value: Option[V] = None
    private var released = false

    /** The value, built on first use; None once the slot is released. */
    def get(build: => V): Option[V] = synchronized {
      if (!released && value.isEmpty) value = Some(build)
      value
    }

    def release(): Unit = synchronized {
      released = true
      value.foreach(SessionMemo.release)
      value = None
    }
  }

  private val slots =
    scala.collection.concurrent.TrieMap[(String, String, P), Slot]()

  def getOrBuild(spark: SparkSession, dir: String, params: P)(build: => V): V = {
    val key = (spark.sparkContext.applicationId, dir, params)
    val fp = SessionMemo.fingerprint(spark, dir)
    @tailrec def go(): V = {
      val slot = slots.getOrElseUpdate(key, new Slot(fp))
      if (slot.fingerprint != fp) {
        if (slots.replace(key, slot, new Slot(fp))) slot.release()
        go()
      } else slot.get(build) match {
        case Some(v) => v
        case None    => go() // released by clear() or a stale rebuild
      }
    }
    go()
  }

  /** Release every stored value and drop its entry. */
  def clear(): Unit =
    slots.keys.foreach(k => slots.remove(k).foreach(_.release()))
}

object SessionMemo {
  private def fingerprint(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    val it = fs.listFiles(path, true)
    val files = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    files.result().sorted
  }

  /** Frees every `LogicalRDD` leaf of each `DataFrame` in `v` — the
    * way to drop an eager `localCheckpoint`.
    */
  private[graft] def release(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      GraftGlue.analyzed(ds.asInstanceOf[DataFrame]).foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _             => ()
      }
    case it: Iterable[_] => it.foreach(release)
    case p: Product      => p.productIterator.foreach(release)
    case _               => ()
  }
}
