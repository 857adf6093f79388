package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{BpeMergeTable, BpeOps, TokenizeOps}

/** ws_tokens must be BIT-EQUAL to the declarative
  * `split(text, "\\s+") filtered non-empty` on arbitrary input — that
  * equivalence is what licenses the TokenRewrite optimizer rule and the
  * oracle parity of every tokenizing query.
  */
object TokenizeProperties extends Properties("TokenizeOps") {

  // strings mixing words, all six Java-\s whitespace chars, and
  // multi-byte unicode (including non-ASCII spaces that \s must NOT split)
  private val piece: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.oneOf(" ", "\t", "\n", "", "\f", "\r"),
    Gen.oneOf("héllo", "日本語", "a b", "emoji🙂", ""))
  private val textGen: Gen[String] = Gen.listOf(piece).map(_.mkString)

  private def viaSplit(s: String): Seq[String] =
    s.split("\\s+").toSeq.filter(_ != "")

  private def viaNative(s: String): Seq[String] = {
    val arr = TokenizeOps.wsTokens(UTF8String.fromString(s))
    (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
  }

  property("equals split+filter on arbitrary text") =
    forAll(textGen) { s => viaNative(s) == viaSplit(s) }

  property("idempotent: tokens of a joined token list are the tokens") =
    forAll(textGen) { s =>
      val t = viaNative(s)
      viaNative(t.mkString(" ")) == t
    }

  property("bpeish_counts equals the regex formulation") =
    forAll(textGen) { s =>
      val packed = graft.functions.BpeishOps.count(UTF8String.fromString(s))
      val viaRegex =
        "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]".r.findAllIn(s).length
      val numericViaRegex = "[0-9]+".r.findAllIn(s).length
      // NOTE: supplementary-plane chars count 2 under Java regex (code
      // units) but 1 natively (codepoints, = the RE2 oracle); the
      // generator stays in the BMP so both agree here.
      (packed >>> 32) == viaRegex && (packed & 0xffffffffL) == numericViaRegex
    }

  // ---- BPE merge kernel vs the array-HOF fold it replaces ----

  /** The fold as the HOF plan evaluates it:
    * `transform(sequence(1, length(w)), i -> substring(w, i, 1))`, then
    * per merge `aggregate(syms, [], (acc, x) -> if (last(acc) = a and
    * x = b) init(acc) :+ (a || b) else acc :+ x)`, with the merge strings
    * as `lit` values.
    */
  private def viaFold(w: UTF8String, merges: Seq[(String, String)]): Seq[UTF8String] = {
    val chars = (1 to w.numChars).map(i => w.substringSQL(i, 1))
    merges.foldLeft(chars) { case (syms, (a, b)) =>
      val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
      syms.foldLeft(Vector.empty[UTF8String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == ua && x == ub) acc.init :+ UTF8String.concat(ua, ub)
        else acc :+ x
      }
    }
  }

  private def strings(a: ArrayData): Seq[UTF8String] =
    (0 until a.numElements()).map(a.getUTF8String)

  private def pairStrings(a: ArrayData): Seq[(UTF8String, UTF8String)] =
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getUTF8String(0), r.getUTF8String(1))
    }

  /** One character as `UTF8String` steps it: a valid 1-4 byte
    * character, an invalid lead byte (one byte), or a multi-byte lead
    * followed by arbitrary bytes. Never a lead byte cut off by the end
    * of the word: there `substring` reads past the string.
    */
  private val charBytes: Gen[Seq[Byte]] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "c").map(_.getBytes("UTF-8").toSeq),
    2 -> Gen.oneOf("é", "日", "🙂", "ß").map(_.getBytes("UTF-8").toSeq),
    1 -> Gen.oneOf((0x80 to 0xc1) ++ (0xf5 to 0xff)).map(b => Seq(b.toByte)),
    1 -> (for {
      lead <- Gen.oneOf(0xc2, 0xdf, 0xe0, 0xef, 0xf0, 0xf4)
      rest <- Gen.listOfN(UTF8String.numBytesForFirstByte(lead.toByte) - 1,
        Gen.oneOf(0x61, 0x80, 0xbf, 0xff).map(_.toByte))
    } yield lead.toByte +: rest))

  private val word: Gen[UTF8String] =
    Gen.nonEmptyListOf(charBytes).map(cs => UTF8String.fromBytes(cs.flatten.toArray))

  private val mergePiece: Gen[String] =
    Gen.oneOf("a", "b", "c", "aa", "ab", "ba", "abc", "é", "日", "🙂", "aé", "zz")
  private val merges: Gen[List[(String, String)]] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.zip(mergePiece, mergePiece)))

  property("bpe kernel pieces equal the HOF fold") =
    forAll(word, merges) { (w, ms) =>
      strings(BpeOps.pieces(w, new BpeMergeTable(ms))) == viaFold(w, ms)
    }

  property("bpe kernel pairs are the fold's adjacent pieces") =
    forAll(word, merges) { (w, ms) =>
      val syms = viaFold(w, ms)
      pairStrings(BpeOps.pairs(w, new BpeMergeTable(ms))) == syms.zip(syms.drop(1))
    }

  property("bpe kernel over a token array concatenates the per-token pieces") =
    forAll(Gen.listOf(word), merges) { (ws, ms) =>
      val t = new BpeMergeTable(ms)
      strings(BpeOps.pieces(new GenericArrayData(ws.toArray[AnyRef]), t)) == ws.flatMap(viaFold(_, ms))
    }

  property("bpe kernel: (a,a) on aaa, no merges, merges that never fire") = {
    def enc(w: String, ms: List[(String, String)]): Seq[String] =
      strings(BpeOps.pieces(UTF8String.fromString(w), new BpeMergeTable(ms))).map(_.toString)
    Prop.all(
      enc("aaa", List(("a", "a"))) == Seq("aa", "a"),
      enc("aaaa", List(("a", "a"), ("aa", "aa"))) == Seq("aaaa"),
      enc("日本語", Nil) == Seq("日", "本", "語"),
      enc("abc", List(("x", "y"), ("c", "a"))) == Seq("a", "b", "c"),
      enc("low", List(("l", "o"), ("lo", "w"))) == Seq("low"))
  }
}
