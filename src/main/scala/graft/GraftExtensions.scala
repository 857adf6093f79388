package graft

import org.apache.spark.sql.{GraftGlue, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** SQL-surface registration of the graft native expressions and
  * optimizer rules: `spark.sql.extensions` set to
  * `graft.GraftExtensions`, as [[Bench.builder]] does, after which
  * `SELECT simhash64(tokens), minhash_bands(sh, 64, 4) ...` parse like
  * built-ins. The extension is the only installer; a session built
  * without it has neither the functions nor the rules.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.HashOps", name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.TokenRewrite)
    ext.injectOptimizerRule(_ => graft.plans.EditDistanceJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.JaroWinklerThresholdRewrite)
    ext.injectOptimizerRule(_ => graft.plans.SimJoinParallelize)
  }
}

object GraftExtensions {

  /** Plan-time arity check: a builder receiving the wrong argument count
    * raises Spark's standard WRONG_NUM_ARGS AnalysisException (naming
    * the function), not an opaque NoSuchElement/IndexOutOfBounds.
    */
  private def arity(fn: String, n: Int)(
      mk: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args =>
      if (args.length == n) mk(args)
      else throw GraftGlue.wrongNumArgs(fn, n, args.length)

  private def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an INT literal, got $other")
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> arity("simhash64", 1)(args => SimHash64(args.head)),
    "bigram_shingles" -> arity("bigram_shingles", 1)(args => BigramShingles(args.head)),
    "sorted_hashes" -> arity("sorted_hashes", 1)(args => SortedHashes(args.head)),
    "sorted_intersect_count" -> arity("sorted_intersect_count", 2)(args =>
      SortedIntersectCount(args(0), args(1))),
    "dot_product" -> arity("dot_product", 2)(args => ArrayDotProduct(args(0), args(1))),
    "jaro_winkler" -> arity("jaro_winkler", 2)(args => JaroWinklerSim(args(0), args(1))),
    "damerau_levenshtein" -> arity("damerau_levenshtein", 2)(args =>
      DamerauLevenshtein(args(0), args(1))),
    "ws_tokens" -> arity("ws_tokens", 1)(args => WsTokens(args.head)),
    "bpeish_counts" -> arity("bpeish_counts", 1)(args => BpeishCounts(args.head)),
    "minhash_bands" -> arity("minhash_bands", 3)(args => {
      val numHashes = intLit(args(1), "minhash_bands", 1)
      val bandRows = intLit(args(2), "minhash_bands", 2)
      if (bandRows <= 0 || numHashes <= 0 || numHashes % bandRows != 0)
        throw new IllegalArgumentException(
          s"minhash_bands: need numHashes > 0, bandRows > 0 and numHashes % bandRows == 0," +
            s" got numHashes=$numHashes bandRows=$bandRows")
      MinHashBands(args.head, numHashes, bandRows)
    }),
    // composite (same bit math as Layout.zorder2, built as a direct
    // catalyst tree — Column-DSL nodes don't resolve inside a function
    // builder): SQL users write ORDER BY zorder2(a, b) for layout
    "zorder2" -> arity("zorder2", 2)(args => mortonExpr(args(0), args(1))),
    // typed-Aggregator UDAF: k=64 Misra-Gries candidate pass, the SQL
    // entry to the two-pass heavy-hitter pattern. Candidates are a
    // superset of every item with frequency > N/65; re-count exactly
    // and threshold to get a deterministic answer (TextOps
    // .frequentTokens is that composition).
    "mg_candidates" -> arity("mg_candidates", 1)(GraftGlue.aggregator(
      "mg_candidates", new MisraGries(64), org.apache.spark.sql.Encoders.STRING)),
  )

  private def mortonExpr(a0: Expression, b0: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      BitwiseAnd, BitwiseOr, Cast, ShiftLeft, ShiftRight}
    import org.apache.spark.sql.types.LongType
    val a = Cast(a0, LongType)
    val b = Cast(b0, LongType)
    def term(src: Expression, i: Int, off: Int): Expression =
      ShiftLeft(BitwiseAnd(ShiftRight(src, Literal(i)), Literal(1L)),
        Literal(2 * i + off))
    (0 until 16)
      .map(i => BitwiseOr(term(a, i, 0), term(b, i, 1)): Expression)
      .reduce(BitwiseOr(_, _))
  }
}
