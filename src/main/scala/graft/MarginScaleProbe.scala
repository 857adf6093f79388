package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 100× margin-tail probe (the r19 verdict's stretch 7): drives
  * `bitext_mine_ann` — whose margin stage folds each endpoint's
  * candidate neighborhood through the k-bounded TopSimsAgg windows —
  * at ONE HUNDRED times the sf0.1 embedding cardinality (2,000 →
  * 200,000 vectors) and records wall AND shuffle bytes for both legs.
  *
  * The claim under measurement: the margin tail is never a
  * corpus-wide window — its state is bounded per endpoint by the LSH
  * collision count, and with corpus-derived banding (band width grows
  * with log N) expected collisions per endpoint stay ~constant — so
  * total shuffle bytes grow ∝ N (the candidate relation), NOT ∝ N²
  * (an all-pairs window would). ScaleProbe measures the 10× point
  * every round; this main converts the asymptote claim past 10× from
  * design argument to measurement. Done-criterion from the verdict:
  * a SCALE.json row (merged by the round close) or a recorded
  * negative.
  *
  * Replica model: embeddings use ScaleProbe's id-shift +
  * coordinate-rotation — but at factor > dim the rotations wrap
  * (i % 64), which would make replica pairs (i, i+64) byte-identical
  * twins colliding in EVERY band (a first run measured exactly that:
  * bytes 441.8x). The second wrap therefore also NEGATES the vector:
  * negation preserves within-replica geometry (cos(-u,-v)=cos(u,v))
  * while flipping every sign-hyperplane bit, so a negated twin
  * never shares a band signature and cross-replica collisions stay
  * at chance. Documents — read only for (doc_id, lang) here —
  * replicate as SLIM rows (text = 'x'), because token-tagging 500k
  * texts would cost minutes to exercise a column the query never
  * reads.
  *
  * Usage: sbt "runMain graft.MarginScaleProbe /root/testdata/sf0.1
  *             /tmp/graft-margin-100x 100"
  */
object MarginScaleProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-margin-100x"
    val factor = if (args.length > 2) args(2).toInt else 100
    val spark = Bench.session(Bench.envCpus)

    // ---- replicas ----
    val emb = Tables.embeddings(spark, baseDir)
    val vecSpan = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val docs = Tables.documents(spark, baseDir).select(col("doc_id"), col("lang"))
    val docSpan = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    if (!new java.io.File(s"$outDir/embeddings.parquet/_SUCCESS").exists()) {
      println(s"[margin] building ${factor}x replicas under $outDir")
      (0 until factor).map { i =>
        val rot = i % dim
        val sign = if ((i / dim) % 2 == 0) "x" else "-x"
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * vecSpan))
          .withColumn("embedding",
            expr(s"transform(concat(slice(embedding, ${rot + 1}, ${dim - rot}), slice(embedding, 1, $rot)), x -> $sign)"))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * docSpan))
      }.reduce(_ unionAll _)
        .select(col("doc_id"), lit("x").as("text"), col("lang"),
          lit("synth").as("source"), lit(1L).as("n_chars"))
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    } else println(s"[margin] reusing replicas under $outDir")

    // lang join alignment: embeddings replicate on vecSpan, documents
    // on docSpan — every replica keeps vec_id k ↔ doc_id k only if the
    // two spans shift in lockstep. They do not in general (5000 docs vs
    // 2000 vectors at sf0.1), so replica i's vectors join replica j's
    // langs for the ids below min(span) — which STILL yields a valid
    // lang-tagged 200k-vector corpus (every vec_id < factor·vecSpan
    // resolves through doc_id space as long as doc ids cover it).
    // Sanity-assert coverage rather than silently mining fewer rows.
    require(docSpan >= vecSpan,
      s"documents ($docSpan) must cover embeddings ($vecSpan) per replica")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    def leg(dir: String): (Double, Double, Long) = {
      def once(): (Double, Double, Long) = {
        operators.Similarity.lshSigMemo.clear()
        operators.Similarity.corpusCountMemo.clear()
        org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
        val s0 = shuffleBytes.get
        val t0 = System.nanoTime()
        val rows = operators.Similarity.bitextMineAnn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkGlue.drainListenerBus(spark.sparkContext)
        spark.catalog.clearCache()
        (dt, (shuffleBytes.get - s0) / 1e6, rows)
      }
      once() // per-leg warm-up: AQE picks different strategies per scale
      val (t1, b1, r) = once()
      val (t2, b2, _) = once()
      (math.min(t1, t2), math.min(b1, b2), r)
    }

    val (baseSec, baseMb, baseRows) = leg(baseDir)
    println(f"[margin] base: $baseSec%.1fs $baseMb%.1f MB rows=$baseRows")
    val (bigSec, bigMb, bigRows) = leg(outDir)
    println(f"[margin] ${factor}x: $bigSec%.1fs $bigMb%.1f MB rows=$bigRows")
    println(
      f"""{"probe":"bitext_mine_ann_margin","factor":$factor,"base_sec":$baseSec%.1f,"scaled_sec":$bigSec%.1f,"base_mb":$baseMb%.1f,"scaled_mb":$bigMb%.1f,"bytes_ratio":${bigMb / math.max(baseMb, 1e-9)}%.1f,"wall_ratio":${bigSec / math.max(baseSec, 1e-9)}%.1f}""")
    spark.stop()
  }
}
