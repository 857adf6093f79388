package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

/** Bounded top-k as a typed [[Aggregator]] — the one fold in this engine
  * a built-in can't express efficiently.
  *
  * A `row_number() OVER (PARTITION BY qid ORDER BY sim DESC)` plan
  * shuffles EVERY scored candidate (k·N rows per query) and sorts each
  * partition before discarding all but k rows. This aggregator keeps a
  * k-bounded buffer per (query, input partition) instead, so the
  * exchange carries at most k rows per query per upstream partition and
  * nothing is ever globally sorted — the standard scale shape for ANN
  * re-ranking (at 100 TB the scored stream is billions of rows; the
  * merged state is k rows per query).
  *
  * Determinism: candidates are totally ordered by (sim DESC, id ASC)
  * over exact float scores, so the result is bit-identical to the
  * window formulation — the DuckDB oracles are unchanged.
  */
class TopKBySim(k: Int)
    extends Aggregator[(Long, Long, Double), Seq[(Double, Long)], Seq[(Long, Long)]] {

  // best-first: higher sim wins, ties broken toward the lower id.
  // NaN sorts FIRST (greatest), matching Spark's descending sort, so a
  // zero-norm embedding (sim = 0/0) ranks identically to the window
  // row_number formulation and the DuckDB oracle. Scala's default
  // Ordering.by(-sim) would sort NaN last instead — hence the explicit
  // compare (Double.compare treats NaN as greater than everything).
  private val ord: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(x: (Double, Long), y: (Double, Long)): Int = {
      val c = java.lang.Double.compare(y._1, x._1) // DESC, NaN first
      if (c != 0) c else java.lang.Long.compare(x._2, y._2)
    }
  }

  override def zero: Seq[(Double, Long)] = Nil

  // the buffer is kept sorted best-first, so a candidate that cannot
  // beat the current k-th (the common case on a big scored stream) is
  // rejected in O(1) instead of paying a per-row sort + allocation —
  // measured as the 10x hot path of the fold consumers (SCALE.json, r20).
  // Rejection is exact: `take(k)` would drop exactly those candidates.
  override def reduce(b: Seq[(Double, Long)], a: (Long, Long, Double)): Seq[(Double, Long)] =
    if (b.size >= k && ord.compare((a._3, a._2), b.last) >= 0) b
    else ((a._3, a._2) +: b).sorted(ord).take(k)

  override def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] =
    (b1 ++ b2).sorted(ord).take(k)

  override def finish(b: Seq[(Double, Long)]): Seq[(Long, Long)] =
    b.sorted(ord).zipWithIndex.map { case ((_, id), i) => (id, i + 1L) }

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long)]]()
}

object TopK {

  /** `(qid, vec_id, sim)` rows → per-qid top-k `(qid, neighbor_id, rnk)`
    * with rank 1 = most similar. Partial aggregation (the k-bounded
    * buffer) happens map-side automatically.
    */
  def perQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("qid"), col("vec_id"), col("sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKBySim(k).toColumn.name("topk"))
      .flatMap { case (qid, ns) => ns.map(n => (qid, n._1, n._2)) }
      .toDF("qid", "neighbor_id", "rnk")
  }
}
