package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftGlue
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizer.
  *
  * The declarative form — `filter(split(text, "\\s+"), t -> t != "")` —
  * pays a regex engine pass PLUS an interpreted lambda eval per array
  * element (array higher-order functions are CodegenFallback). This
  * expression is one codegen'd byte scan per row emitting the non-empty
  * tokens directly.
  *
  * Semantics are BIT-IDENTICAL to the declarative form: Java's `\s`
  * (no UNICODE_CHARACTER_CLASS) matches exactly the six ASCII bytes
  * {space, 0x09..0x0d}, none of which can occur inside a
  * UTF-8 multi-byte sequence — so a byte-level scan splits at exactly
  * the same boundaries, and skipping empty runs reproduces the
  * `t != ""` filter (including Java split's leading-empty artifact).
  */
object TokenizeOps {

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def wsTokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start)
        out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }
}

/** `ws_tokens(text)` → ARRAY<STRING> of non-empty whitespace-separated
  * tokens.
  */
case class WsTokens(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"
  override protected def nullSafeEval(input: Any): Any =
    TokenizeOps.wsTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenizeOps.wsTokens($c);")
  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

/** BPE-ish pre-tokenizer counting: one scan computing the number of
  * `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]` matches (n_bpeish) and of `[0-9]+`
  * matches (n_numeric) — replaces three regexp_extract_all passes.
  * Symbol matches count per CODEPOINT (lead bytes; continuation bytes
  * skipped), which is the regex oracle's RE2 semantics.
  */
object BpeishOps {
  /** Packed counts: (n_bpeish << 32) | n_numeric — both fit 32 bits for
    * any realistic document.
    */
  def count(s: UTF8String): Long = {
    val b = s.getBytes
    val n = b.length
    var bpeish = 0L
    var numeric = 0L
    var i = 0
    while (i < n) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        while (i < n && ((b(i) >= 'a' && b(i) <= 'z') || (b(i) >= 'A' && b(i) <= 'Z'))) i += 1
        bpeish += 1
      } else if (c >= '0' && c <= '9') {
        while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
        bpeish += 1
        numeric += 1
      } else if (c == 0x20 || (c >= 0x09 && c <= 0x0d)) {
        i += 1
      } else {
        // one symbol per codepoint: skip the lead byte + continuations
        i += 1
        while (i < n && (b(i) & 0xc0) == 0x80) i += 1
        bpeish += 1
      }
    }
    (bpeish << 32) | numeric
  }
}

/** `bpeish_counts(text)` → BIGINT packing (n_bpeish << 32) | n_numeric. */
case class BpeishCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "bpeish_counts"
  override protected def nullSafeEval(input: Any): Any =
    BpeishOps.count(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeishOps.count($c);")
  override protected def withNewChildInternal(newChild: Expression): BpeishCounts =
    copy(child = newChild)
}

/** An ordered BPE merge list as byte arrays: the reference object a
  * [[BpeMerge]] hands its generated code, so the merge list never
  * appears in the code text and a plan that differs only in its merges
  * (every round of a training loop) reuses one compiled class.
  */
final class BpeMergeTable(merges: Seq[(String, String)]) extends Serializable {
  private def bytes(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  val left: Array[Array[Byte]] = merges.map(m => bytes(m._1)).toArray
  val right: Array[Array[Byte]] = merges.map(m => bytes(m._2)).toArray
}

/** Byte-pair-encoding merge replay over one word, the loop a BPE
  * tokenizer runs to encode and, merge by merge, to train.
  *
  * A word splits into characters with `UTF8String`'s own stepping
  * ([[UTF8String.numBytesForFirstByte]]: an invalid lead byte is a
  * one-byte character), so the characters are exactly those of
  * `transform(sequence(1, length(w)), i -> substring(w, i, 1))`. Each
  * merge `(a, b)` is then one left-to-right, non-overlapping pass:
  * a piece equal to `b` glues onto the piece before it when that piece
  * equals `a` (so `(a, a)` turns `aaa` into `[aa, a]`), the
  * `aggregate(syms, [], (acc, x) -> ...)` fold the merges were first
  * written as. Every piece is a contiguous byte range of the word, so
  * a pass only drops piece starts from one `Int` array and no string is
  * built until the pieces are emitted.
  *
  * Two inputs differ from the fold: an empty word has no pieces here
  * (the fold's `sequence(1, 0)` yields two empty ones), and a last
  * character whose lead byte promises more bytes than the word has
  * ends at the word's end (`UTF8String.substring` reads past it).
  * Tokens are never empty, and the second needs text that is not valid
  * UTF-8.
  */
object BpeOps {

  /** Replays `t` over `b`'s characters: the piece starts, in
    * `starts(0 until n)` for the returned n; piece k ends where piece
    * k + 1 starts, the last one at `b.length`.
    */
  private def replay(b: Array[Byte], t: BpeMergeTable, starts: Array[Int]): Int = {
    val len = b.length
    var np = 0
    var i = 0
    while (i < len) {
      starts(np) = i
      np += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    var m = 0
    while (m < t.left.length && np >= 2) {
      val a = t.left(m)
      val c = t.right(m)
      var out = 0
      var lastIsA = false
      var k = 0
      while (k < np) {
        val s = starts(k)
        val e = if (k + 1 < np) starts(k + 1) else len
        if (lastIsA && same(b, s, e, c)) lastIsA = false // piece k joins the last output piece
        else {
          starts(out) = s
          out += 1
          lastIsA = same(b, s, e, a)
        }
        k += 1
      }
      np = out
      m += 1
    }
    np
  }

  private def same(b: Array[Byte], s: Int, e: Int, x: Array[Byte]): Boolean =
    e - s == x.length && {
      var j = 0
      while (j < x.length && b(s + j) == x(j)) j += 1
      j == x.length
    }

  private def words(in: Any): Iterator[UTF8String] = in match {
    case w: UTF8String => Iterator.single(w)
    case a: ArrayData  => Iterator.range(0, a.numElements()).filterNot(a.isNullAt).map(a.getUTF8String)
  }

  /** The pieces of every word of `in` (a STRING, or an ARRAY<STRING>
    * whose pieces concatenate in element order, null elements adding
    * none) after `t`'s merges.
    */
  def pieces(in: Any, t: BpeMergeTable): ArrayData = {
    val out = new java.util.ArrayList[AnyRef]()
    words(in).foreach { w =>
      val b = w.getBytes
      val starts = new Array[Int](b.length)
      val np = replay(b, t, starts)
      var k = 0
      while (k < np) {
        val e = if (k + 1 < np) starts(k + 1) else b.length
        out.add(UTF8String.fromBytes(b, starts(k), e - starts(k)))
        k += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** The adjacent `(l, r)` piece pairs within each word of `in` after
    * `t`'s merges: the candidates of the next training round.
    */
  def pairs(in: Any, t: BpeMergeTable): ArrayData = {
    val out = new java.util.ArrayList[AnyRef]()
    words(in).foreach { w =>
      val b = w.getBytes
      val starts = new Array[Int](b.length)
      val np = replay(b, t, starts)
      var k = 0
      while (k + 1 < np) {
        val e = if (k + 2 < np) starts(k + 2) else b.length
        out.add(new GenericInternalRow(Array[Any](
          UTF8String.fromBytes(b, starts(k), starts(k + 1) - starts(k)),
          UTF8String.fromBytes(b, starts(k + 1), e - starts(k + 1)))))
        k += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  val pairType: StructType = StructType(Seq(
    StructField("l", StringType, nullable = false),
    StructField("r", StringType, nullable = false)))
}

/** `bpe_pieces(w, merges)` → ARRAY<STRING>, or with `pairs`
  * `bpe_pairs(w, merges)` → ARRAY<STRUCT<l, r>> (see [[BpeOps]]).
  * `w` is a STRING or an ARRAY<STRING> of words. The merge list is a
  * constructor argument compared by content, and reaches the generated
  * code as a [[BpeMergeTable]] reference, not as literals.
  */
case class BpeMerge(child: Expression, merges: Seq[(String, String)], pairs: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING or ARRAY<STRING> input, got ${other.catalogString}")
    }
  override def dataType: DataType =
    ArrayType(if (pairs) BpeOps.pairType else StringType, containsNull = false)
  override def prettyName: String = if (pairs) "bpe_pairs" else "bpe_pieces"
  @transient private lazy val table = new BpeMergeTable(merges)
  override protected def nullSafeEval(input: Any): Any =
    if (pairs) BpeOps.pairs(input, table) else BpeOps.pieces(input, table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", table, classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeOps.${if (pairs) "pairs" else "pieces"}($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeMerge =
    copy(child = newChild)
}

object TokenFunctions {
  def ws_tokens(c: Column): Column = GraftGlue.column(WsTokens(GraftGlue.expression(c)))
  def bpeish_counts(c: Column): Column = GraftGlue.column(BpeishCounts(GraftGlue.expression(c)))
  def bpe_pieces(c: Column, merges: Seq[(String, String)]): Column =
    GraftGlue.column(BpeMerge(GraftGlue.expression(c), merges, pairs = false))
  def bpe_pairs(c: Column, merges: Seq[(String, String)]): Column =
    GraftGlue.column(BpeMerge(GraftGlue.expression(c), merges, pairs = true))
}
