package graft

import org.apache.spark.sql.{Column, GraftGlue}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.{functions, TokenFunctions}

/** Native expressions built twice from equal arguments are one
  * expression to Catalyst: equal, `semanticEquals`, and one canonical
  * form with one hash. That is what common-subexpression elimination
  * and exchange reuse match on; an array argument compares by identity
  * and breaks it.
  */
object ExpressionEqualityProperties extends Properties("ExpressionEquality") {

  private val vec = GraftGlue.column(BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true))
  private val (a, b) = (GraftGlue.column(BoundReference(0, LongType, nullable = false)),
    GraftGlue.column(BoundReference(1, LongType, nullable = false)))
  private val word = GraftGlue.column(BoundReference(0, StringType, nullable = true))

  private def same(x: Column, y: Column): Boolean = {
    val (ex, ey) = (GraftGlue.expression(x), GraftGlue.expression(y))
    ex == ey && ex.semanticEquals(ey) && ex.canonicalized == ey.canonicalized &&
      ex.canonicalized.hashCode == ey.canonicalized.hashCode
  }

  /** A k × (m · dsub) codebook and its m. */
  private val codebook: Gen[(Array[Array[Double]], Int)] = for {
    k <- Gen.choose(1, 6)
    m <- Gen.choose(1, 3)
    dsub <- Gen.choose(1, 3)
    rows <- Gen.listOfN(k, Gen.listOfN(m * dsub, Gen.choose(-2.0, 2.0)))
  } yield (rows.map(_.toArray).toArray, m)

  private def copy(c: Array[Array[Double]]): Array[Array[Double]] = c.map(_.clone)

  property("pq_encode from equal codebooks is one expression") =
    forAll(codebook) { case (c, m) =>
      same(functions.pq_encode(vec, copy(c), m), functions.pq_encode(vec, copy(c), m))
    }

  property("pq_lut from equal codebooks is one expression") =
    forAll(codebook, Gen.oneOf(true, false)) { case ((c, m), self) =>
      same(functions.pq_lut(vec, copy(c), m, self), functions.pq_lut(vec, copy(c), m, self))
    }

  property("poisson_boot_weights from equal cdfs is one expression") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, Long.MaxValue)), Gen.choose(1, 40)) { (cdf, reps) =>
      same(functions.poisson_boot_weights(a, b, "boot", reps, cdf.toArray),
        functions.poisson_boot_weights(a, b, "boot", reps, cdf.toArray))
    }

  property("bpe_pieces and bpe_pairs from equal merge lists are one expression") =
    forAll(Gen.listOf(Gen.zip(Gen.alphaStr, Gen.alphaStr))) { ms =>
      same(TokenFunctions.bpe_pieces(word, ms), TokenFunctions.bpe_pieces(word, ms.map(identity))) &&
        same(TokenFunctions.bpe_pairs(word, ms), TokenFunctions.bpe_pairs(word, ms.reverse.reverse))
    }

  property("different arguments are different expressions") = {
    val c = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    Prop.all(
      !same(functions.pq_encode(vec, c, 1), functions.pq_encode(vec, c.reverse, 1)),
      !same(functions.poisson_boot_weights(a, b, "boot", 4, Array(1L, 2L)),
        functions.poisson_boot_weights(a, b, "boot", 4, Array(1L, 3L))),
      !same(TokenFunctions.bpe_pieces(word, Seq(("a", "b"))), TokenFunctions.bpe_pieces(word, Nil)),
      !same(TokenFunctions.bpe_pieces(word, Nil), TokenFunctions.bpe_pairs(word, Nil)))
  }
}
