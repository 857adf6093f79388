package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftGlue
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hash-sketch hot paths.
  *
  * Spark's array higher-order functions (`transform`/`aggregate`) are
  * CodegenFallback: every lambda application is an interpreted
  * `Expression.eval` with boxed longs and a fresh `GenericArrayData`
  * per element. A 64-permutation MinHash written that way costs
  * ~64 interpreted evals + 64 array allocations PER ROW. These
  * expressions run the same math as one tight JVM loop per row —
  * both `eval` and the generated code call the same static method, so
  * the whole-stage-codegen span stays unbroken around them.
  *
  * Hashing uses Spark's own XXH64 (seed 42), the engine behind
  * `xxhash64(...)` — same quality, zero new dependencies.
  */
object HashOps {
  final val XxSeed = 42L

  // All kernels skip null array elements: the internal call sites never
  // produce them (TextOps.tokens filters empties, not nulls — but the
  // functions are on the public SQL surface via GraftExtensions, where
  // `simhash64(array('a', NULL))` must degrade gracefully, not NPE).

  /** MinHash signature banded into `numBands` bucket keys.
    * signature[i] = min over shingles s of xxh64(xxh64(s), i) — each
    * variable-length string is hashed once; the per-permutation hashes
    * run over the fixed 8-byte digest. Band hash chains the band's
    * signature rows through xxh64.
    */
  def minhashBands(arr: ArrayData, numHashes: Int, bandRows: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), XxSeed)
        var j = 0
        while (j < numHashes) {
          val hj = XXH64.hashLong(h, j)
          if (hj < sig(j)) sig(j) = hj
          j += 1
        }
      }
      i += 1
    }
    val numBands = numHashes / bandRows
    val bands = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = XxSeed
      var r = 0
      while (r < bandRows) {
        acc = XXH64.hashLong(sig(b * bandRows + r), acc)
        r += 1
      }
      bands(b) = acc
      b += 1
    }
    new GenericArrayData(bands)
  }

  /** Distinct word-bigram shingles, first-occurrence order — the
    * native equivalent of
    * `array_distinct(transform(sequence(...), concat(tok_i, ' ', tok_i+1)))`.
    */
  def bigramShingles(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    var i = 0
    while (i < n - 1) {
      // a null token yields no shingle (UTF8String.concat would turn the
      // whole bigram null, violating the containsNull=false output type)
      if (!arr.isNullAt(i) && !arr.isNullAt(i + 1)) {
        seen.add(org.apache.spark.unsafe.types.UTF8String.concat(
          arr.getUTF8String(i), space, arr.getUTF8String(i + 1)))
      }
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  /** Ascending-sorted xxh64 digests of each string — the set's
    * fingerprint under the fixed pseudo-random global order. Sorted
    * long arrays make prefixes a `slice`, equi-joins a long-key
    * HashedRelation, and intersections a linear merge.
    */
  def sortedHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        hs(m) = XXH64.hashUTF8String(arr.getUTF8String(i), XxSeed)
        m += 1
      }
      i += 1
    }
    val out = if (m == n) hs else java.util.Arrays.copyOf(hs, m)
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** |A ∩ B| of two ascending-sorted long arrays by linear merge. */
  /** Code points of a UTF8String. ASCII fast path: when every char is
    * one byte (numBytes == numChars) the bytes ARE the code points —
    * no String materialization, no IntStream boxing; the similarity
    * kernels below run per candidate PAIR, so this is their hot
    * allocation.
    */
  private def codePoints(u: org.apache.spark.unsafe.types.UTF8String): Array[Int] = {
    val nb = u.numBytes()
    if (u.numChars() == nb) {
      val out = new Array[Int](nb)
      var i = 0
      while (i < nb) { out(i) = u.getByte(i) & 0xff; i += 1 }
      out
    } else u.toString.codePoints().toArray
  }

  /** Jaro-Winkler similarity — classic Winkler variant: boost applied
    * only when jaro > 0.7, prefix capped at 4, scale 0.1; either input
    * empty → 0.0 (the DuckDB/rapidfuzz convention, NOT 1.0). The
    * floating-point evaluation order is pinned to
    * `(m/la + m/lb + (m-t)/m) / 3.0` then `jaro + p*0.1*(1.0-jaro)` —
    * verified bit-identical to DuckDB's `jaro_winkler_similarity` on a
    * 20k random-pair sweep, so DOUBLE outputs hash-compare exactly.
    * Matching runs over Unicode CODE POINTS (same unit Spark's
    * `levenshtein` counts), so surrogate pairs are one character — a
    * non-BMP transposition is scored as one swap, not two.
    */
  def jaroWinkler(ua: org.apache.spark.unsafe.types.UTF8String,
                  ub: org.apache.spark.unsafe.types.UTF8String): Double = {
    val a = codePoints(ua)
    val b = codePoints(ub)
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb, i + window + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!bm(j) && b(j) == a(i)) {
          bm(j) = true; am(i) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk the two matched subsequences in step
    var mism = 0
    var ia = 0
    var ib = 0
    while (ia < la) {
      if (am(ia)) {
        while (!bm(ib)) ib += 1
        if (a(ia) != b(ib)) mism += 1
        ib += 1
      }
      ia += 1
    }
    val t = mism / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var p = 0
      val cap = math.min(4, math.min(la, lb))
      while (p < cap && a(p) == b(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** Thresholded `jaro_winkler(a, b) >= t` (or `> t`) as one boolean
    * kernel — the form a similarity predicate actually runs in a
    * filter or join condition. Three sound short-circuits before or
    * inside the O(|a|·window) matching phase:
    *
    *  1. O(1) length feasibility (no decode): m ≤ min(la, lb), so
    *     jaro ≤ (lmin/la + lmin/lb + 1)/3, and the Winkler boost adds
    *     at most 0.4·(1 − jaro) — if even that ceiling misses t, the
    *     pair is rejected on the two cached length fields alone.
    *  2. O(n) multiset feasibility (ASCII inputs): matching is
    *     one-to-one on code-point values, so m ≤ Σ_c min(cntA, cntB)
    *     — a 128-bin histogram bound that rejects most unrelated
    *     equal-length natural-text pairs, the case the length check
    *     cannot touch.
    *  3. Matching-phase abort: jw ≤ 0.6·jaro + 0.4 universally, so
    *     jw ≥ t needs jaro ≥ (t - 0.4)/0.6, which needs matches
    *     m ≥ (3·jaro_need - 1)·la·lb/(la + lb); once the unscanned
    *     remainder of `a` cannot reach that, the loop exits.
    *
    * Both cuts carry a 1e-9 slack so floating error can only WIDEN
    * them; every pair that survives is scored by arithmetic identical
    * to [[jaroWinkler]] (same operations, same order), so the decision
    * is bit-for-bit the one `jaro_winkler(a, b) >= t` would make.
    * Pinned against the unthresholded kernel by a ScalaCheck property.
    */
  def jaroWinklerGte(ua: org.apache.spark.unsafe.types.UTF8String,
                     ub: org.apache.spark.unsafe.types.UTF8String,
                     threshold: Double, strict: Boolean): Boolean = {
    def pass(s: Double): Boolean = if (strict) s > threshold else s >= threshold
    val la0 = ua.numChars()
    val lb0 = ub.numChars()
    if (la0 == 0 || lb0 == 0) return pass(0.0)
    val lmin = math.min(la0, lb0).toDouble
    val jaroMax = (lmin / la0 + lmin / lb0 + 1.0) / 3.0
    val jwMax = if (jaroMax > 0.7) jaroMax + 0.4 * (1.0 - jaroMax) else jaroMax
    if (jwMax < threshold - 1e-9) return false
    // matching phase: jaroWinkler's loop plus the m-infeasibility abort
    val a = codePoints(ua)
    val b = codePoints(ub)
    val la = a.length
    val lb = b.length
    val jaroNeed = (threshold - 0.4) / 0.6
    val mNeed = math.ceil(
      (3.0 * jaroNeed - 1.0) * la * lb / (la + lb) - 1e-9).toInt
    // multiset upper bound: Jaro matching pairs equal code points
    // one-to-one, so m ≤ Σ_c min(cntA(c), cntB(c)) — for ASCII inputs
    // a 128-bin histogram computes that in O(n) and rejects most
    // non-matching natural-text pairs (equal lengths defeat the length
    // precheck, but two unrelated 64-char English windows rarely share
    // the ≥85% character multiset a 0.94 threshold demands) before the
    // O(n·window) matching phase ever runs
    if (mNeed > 0) {
      val histA = new Array[Int](128)
      var ascii = true
      var ia0 = 0
      while (ascii && ia0 < la) {
        val c = a(ia0)
        if (c < 128) { histA(c) += 1; ia0 += 1 } else ascii = false
      }
      if (ascii) {
        val histB = new Array[Int](128)
        var ib0 = 0
        while (ascii && ib0 < lb) {
          val c = b(ib0)
          if (c < 128) { histB(c) += 1; ib0 += 1 } else ascii = false
        }
        if (ascii) {
          var mUb = 0
          var c = 0
          while (c < 128) { mUb += math.min(histA(c), histB(c)); c += 1 }
          if (mUb < mNeed) return false
        }
      }
    }
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      if (m + (la - i) < mNeed) return false // even all-remaining-match misses
      val lo = math.max(0, i - window)
      val hi = math.min(lb, i + window + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!bm(j) && b(j) == a(i)) {
          bm(j) = true; am(i) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return pass(0.0)
    var mism = 0
    var ia = 0
    var ib = 0
    while (ia < la) {
      if (am(ia)) {
        while (!bm(ib)) ib += 1
        if (a(ia) != b(ib)) mism += 1
        ib += 1
      }
      ia += 1
    }
    val t = mism / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    val s =
      if (jaro > 0.7) {
        var p = 0
        val cap = math.min(4, math.min(la, lb))
        while (p < cap && a(p) == b(p)) p += 1
        jaro + p * 0.1 * (1.0 - jaro)
      } else jaro
    pass(s)
  }

  /** Unrestricted Damerau-Levenshtein distance (adjacent transposition
    * counts 1, and transposed characters may be edited between — the
    * FULL variant with per-character last-occurrence tracking, not the
    * cheaper OSA restriction). Matches DuckDB's `damerau_levenshtein`
    * exactly (all-integer, verified on an 8k random-pair sweep;
    * 'CA'→'ABC' = 2 where OSA gives 3). Spark has no built-in for
    * this; `levenshtein` alone over-penalizes swap-typo variants.
    * O(|a|·|b|) time, O(|a|·|b|) ints — for bounded keys (ER windows),
    * not whole documents. Runs over Unicode CODE POINTS, the unit
    * Spark's `levenshtein` counts — keeps the documented `dl <= lev`
    * invariant on non-BMP text, where code-unit iteration could make
    * a one-swap surrogate pair cost 2.
    */
  def damerauLevenshtein(ua: org.apache.spark.unsafe.types.UTF8String,
                         ub: org.apache.spark.unsafe.types.UTF8String): Long = {
    val a = codePoints(ua)
    val b = codePoints(ub)
    val la = a.length
    val lb = b.length
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    val maxd = la + lb
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = maxd
    var i = 0
    while (i <= la) { d(i + 1)(0) = maxd; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j + 1) = maxd; d(1)(j + 1) = j; j += 1 }
    val da = new java.util.HashMap[Integer, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k = Option(da.get(Integer.valueOf(b(j - 1)))).map(_.intValue).getOrElse(0)
        val l = db
        var cost = 1
        if (a(i - 1) == b(j - 1)) { cost = 0; db = j }
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
        j += 1
      }
      da.put(Integer.valueOf(a(i - 1)), i)
      i += 1
    }
    d(la + 1)(lb + 1).toLong
  }

  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x < y) i += 1
        else if (x > y) j += 1
        else { c += 1; i += 1; j += 1 }
      }
    }
    c
  }

  /** Dot product of two double arrays, element order preserved — the
    * native equivalent of `aggregate(zip_with(a, b, x*y), 0.0, +)`
    * with bit-identical IEEE accumulation order.
    */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      // a null element contributes 0 to the sum (null ≡ missing dimension)
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexDigits = "0123456789abcdef".toCharArray
  /** Per-permutation prefix bytes "j:" for the md5 minhash family —
    * built once, shared by every row.
    */
  private val md5Prefixes: Array[Array[Byte]] =
    Array.tabulate(64)(j => s"$j:".getBytes("UTF-8"))

  /** md5 minhash signature: h_j = min over shingles s of
    * md5utf8("j:" || s), j in [0, numHashes), as lowercase hex strings
    * — the native equivalent of exploding the shingle set and folding
    * `min(md5(concat_ws(':', j, s)))` per j. Lowercase fixed-length
    * hex compares lexicographically exactly like the unsigned digest
    * bytes, so tracking mins on raw digests and hex-encoding once per
    * document at the end yields the identical signature. One reused
    * MessageDigest per thread, zero per-row string/agg machinery, and
    * the per-doc aggregation (with its 64-string-column partial-agg
    * exchange) disappears from the plan. Null shingles are skipped
    * (the internal call sites never produce them). Returns null for an
    * empty set — callers filter those rows to match the explode
    * formulation, where a shingle-less doc never reached the agg.
    */
  def md5MinhashSig(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val md = md5Local.get()
    val mins = new Array[Array[Byte]](numHashes)
    var i = 0
    var any = false
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val s = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < numHashes) {
          md.reset()
          md.update(md5Prefixes(j))
          md.update(s)
          val d = md.digest()
          val cur = mins(j)
          if (cur == null || unsignedLess(d, cur)) mins(j) = d
          j += 1
        }
      }
      i += 1
    }
    if (!any) return null
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](numHashes)
    var j = 0
    while (j < numHashes) {
      val d = mins(j)
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((d(b) >> 4) & 0xf).toByte
        hex(2 * b + 1) = hexDigits(d(b) & 0xf).toByte
        b += 1
      }
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
      j += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** 56-bit engine-portable SimHash: per token, h = the first 14 hex
    * chars of md5(token) as a long (≡ the digest's top 56 bits); per
    * bit, ±1 votes over all token OCCURRENCES; sign → bit. The native
    * equivalent of exploding tokens and folding 56
    * `sum(when(shiftright(h, b) & 1 = 1, 1).otherwise(-1))` aggregate
    * columns — integer votes are order-independent, so one pass per
    * document computes the identical signature with no explode, no
    * 56-column aggregate and no exchange. Null tokens are skipped
    * (internal call sites never produce them). Returns MinValue-free
    * long; callers filter empty token sets to match the explode
    * semantics (a token-less doc never reached the old groupBy).
    */
  def md5Simhash56(arr: ArrayData): Long = {
    val bits = 56
    val votes = new Array[Int](bits)
    val md = md5Local.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        var j = 0
        while (j < bits) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Hashed character-bigram feature counts for one document: every
    * 2-character window of `text` md5-hashes to
    * `(top 28 digest bits) mod buckets` — the portable
    * `conv(substring(md5(bg), 1, 7), 16, 10) % buckets` idiom — and
    * the per-feature occurrence counts come back as (feat, cnt) struct
    * rows sorted by feat. The native equivalent of exploding the
    * windows, hashing each (the dominant compute of the hashed langid
    * gate), and group-counting per (doc, feat) — the per-doc aggregate
    * (and its doc-scale exchange) folds into the row pass. Windows
    * are UTF-8 character (code point) slices, matching `substring`'s
    * indexing; texts shorter than 2 characters yield an empty array
    * (callers filter them to match the explode semantics).
    */
  def md5BigramFeatCounts(text: org.apache.spark.unsafe.types.UTF8String,
                          buckets: Int): ArrayData = {
    val bytes = text.getBytes
    val md = md5Local.get()
    // UTF-8 character start offsets
    val n = bytes.length
    val counts = new java.util.TreeMap[Long, Long]()
    var i = 0
    var prev = -1 // start offset of the previous character
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) { // a character START byte
        if (prev >= 0) {
          // window = the two characters starting at `prev`; its byte
          // end is the start of the character AFTER i (or end of text)
          var end = i + 1
          while (end < n && (bytes(end) & 0xc0) == 0x80) end += 1
          md.reset()
          md.update(bytes, prev, end - prev)
          val d = md.digest()
          val u = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
            ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)
          val f = u % buckets
          counts.merge(f, 1L, (a, b) => a + b)
        }
        prev = i
      }
      i += 1
    }
    val out = new Array[Any](counts.size())
    var j = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey.longValue(), e.getValue.longValue()))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Poisson(1) bootstrap weights for one fact row across `reps`
    * replicates: weight_r = CDF⁻¹(u_r) where u_r = (first 28 bits of
    * md5("<prefix>:<r>:<a>:<b>")) mod 1 000 000 — the native
    * equivalent of exploding a replicate literal and evaluating
    * `conv(substring(md5(concat_ws(':', …)), 1, 7), 16, 10) % 1e6`
    * through the banded CDF CASE per (row, replicate). One reused
    * MessageDigest, the suffix bytes built once per row, no hex
    * round-trip (7 hex chars ≡ the digest's top 28 bits); `cdf` holds
    * the ≤-thresholds in micro-units, index = weight, values past the
    * table = cdf.length.
    */
  def poissonBootWeights(a: Long, b: Long, prefix: Array[Array[Byte]],
                         cdf: Array[Long]): ArrayData = {
    val md = md5Local.get()
    val suffix = (":" + a + ":" + b).getBytes("UTF-8")
    val reps = prefix.length
    val out = new Array[Long](reps)
    var r = 0
    while (r < reps) {
      md.reset()
      md.update(prefix(r))
      md.update(suffix)
      val d = md.digest()
      val u = (((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)) % 1000000L
      var w = 0
      while (w < cdf.length && u >= cdf(w)) w += 1
      out(r) = w.toLong
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Product-quantization encode: for each of `m` subspaces of `dsub`
    * dims, the 1-based index of the codebook entry minimizing the
    * partial squared L2 `c·c − 2·x·c` (the x·x self-term is constant
    * per (row, subspace) and cannot flip an argmin). `flat` is the
    * k×(m·dsub) codebook row-major by centroid; `selfs(c·m + ms)` the
    * precomputed per-subspace self term. First-min tie rule — the
    * exact `array_position(ds, array_min(ds))` semantics of the HOF
    * formulation this replaces; every distance is an exact integer
    * (int8-valued inputs), so accumulation order cannot matter either.
    */
  def pqEncode(q: ArrayData, flat: Array[Double], selfs: Array[Double],
               m: Int, dsub: Int, k: Int): ArrayData = {
    val dim = m * dsub
    val out = new Array[Long](m)
    var ms = 0
    while (ms < m) {
      val off = ms * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        var d = 0.0
        val cOff = c * dim + off
        var j = 0
        while (j < dsub) {
          d += q.getDouble(off + j) * flat(cOff + j)
          j += 1
        }
        val dist = selfs(c * m + ms) - 2.0 * d
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      out(ms) = best + 1
      ms += 1
    }
    new GenericArrayData(out)
  }

  /** The per-query ADC lookup table matching [[pqEncode]]'s codes:
    * lut(ms·k + c) = partial distance from the query's ms-subvector to
    * codebook entry c (+ the subvector's own self-term when `addSelf`
    * — required when LUTs from different probed cells must be
    * comparable, the IVF-PQ residual case). Values bit-identical to
    * the HOF formulation (integer-exact inputs).
    */
  def pqLut(q: ArrayData, flat: Array[Double], selfs: Array[Double],
            m: Int, dsub: Int, k: Int, addSelf: Boolean): ArrayData = {
    val dim = m * dsub
    val out = new Array[Double](m * k)
    var ms = 0
    while (ms < m) {
      val off = ms * dsub
      var rr = 0.0
      if (addSelf) {
        var j = 0
        while (j < dsub) { val x = q.getDouble(off + j); rr += x * x; j += 1 }
      }
      var c = 0
      while (c < k) {
        var d = 0.0
        val cOff = c * dim + off
        var j = 0
        while (j < dsub) {
          d += q.getDouble(off + j) * flat(cOff + j)
          j += 1
        }
        out(ms * k + c) = rr + (selfs(c * m + ms) - 2.0 * d)
        c += 1
      }
      ms += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over a token array: per-bit ±1 votes of each
    * token's xxh64 (seed 42 — bit-identical to the previous
    * `xxhash64(token)` HOF formulation), sign of the vote → bit.
    */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), XxSeed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** `minhash_bands(shingles, numHashes, bandRows)` → ARRAY<BIGINT> of
  * per-band bucket keys (length numHashes/bandRows).
  */
case class MinHashBands(child: Expression, numHashes: Int, bandRows: Int)
    extends UnaryExpression {
  require(numHashes > 0 && bandRows > 0 && numHashes % bandRows == 0,
    s"minhash_bands: need numHashes > 0, bandRows > 0 and numHashes a multiple of" +
      s" bandRows, got numHashes=$numHashes bandRows=$bandRows")
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.requireStringArray(prettyName, child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.minhashBands(input.asInstanceOf[ArrayData], numHashes, bandRows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.minhashBands($c, $numHashes, $bandRows);")
  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** `md5_bigram_feat_counts(text, buckets)` → ARRAY<STRUCT<feat BIGINT,
  * cnt BIGINT>> of hashed character-bigram feature counts (see
  * [[HashOps.md5BigramFeatCounts]]).
  */
case class Md5BigramFeatCounts(child: Expression, buckets: Int)
    extends UnaryExpression {
  require(buckets > 0, s"md5_bigram_feat_counts: need buckets > 0, got $buckets")
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING input, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("feat", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "md5_bigram_feat_counts"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.md5BigramFeatCounts(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.md5BigramFeatCounts($c, $buckets);")
  override protected def withNewChildInternal(newChild: Expression): Md5BigramFeatCounts =
    copy(child = newChild)
}

/** `md5_minhash_sig(shingles, numHashes)` → ARRAY<STRING> of the
  * numHashes per-permutation min md5 hex digests (null on an empty
  * set — see [[HashOps.md5MinhashSig]]).
  */
case class Md5MinhashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0 && numHashes <= 64,
    s"md5_minhash_sig: need 0 < numHashes <= 64, got $numHashes")
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.requireStringArray(prettyName, child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // an empty shingle array yields null (no min exists)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.md5MinhashSig(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashOps.md5MinhashSig($c, $numHashes);
      ${ev.isNull} = (${ev.value} == null);
    """)
  override protected def withNewChildInternal(newChild: Expression): Md5MinhashSig =
    copy(child = newChild)
}

/** `md5_simhash56(tokens)` → BIGINT engine-portable 56-bit simhash
  * (see [[HashOps.md5Simhash56]]).
  */
case class Md5Simhash56(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.requireStringArray(prettyName, child)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_simhash56"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.md5Simhash56(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.md5Simhash56($c);")
  override protected def withNewChildInternal(newChild: Expression): Md5Simhash56 =
    copy(child = newChild)
}

/** `simhash64(tokens)` → BIGINT simhash signature. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.requireStringArray(prettyName, child)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.simhash64($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `bigram_shingles(tokens)` → ARRAY<STRING> distinct word bigrams. */
case class BigramShingles(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.requireStringArray(prettyName, child)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bigram_shingles"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.bigramShingles(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.bigramShingles($c);")
  override protected def withNewChildInternal(newChild: Expression): BigramShingles =
    copy(child = newChild)
}

/** `sorted_hashes(strings)` → ARRAY<BIGINT>, ascending xxh64 digests. */
case class SortedHashes(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    HashExprChecks.requireStringArray(prettyName, child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_hashes"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.sortedHashes(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.sortedHashes($c);")
  override protected def withNewChildInternal(newChild: Expression): SortedHashes =
    copy(child = newChild)
}

/** `sorted_intersect_count(a, b)` → BIGINT merge-count of two
  * ascending-sorted ARRAY<BIGINT> columns.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<BIGINT> inputs, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.sortedIntersectCount($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `jaro_winkler(a, b)` → DOUBLE similarity in [0,1] over two STRING
  * columns — DuckDB-bit-compatible (see [[HashOps.jaroWinkler]]).
  * Codegen'd: one static call, no boxing, whole-stage span unbroken.
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two STRING inputs, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.jaroWinkler(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.jaroWinkler($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSim =
    copy(left = newLeft, right = newRight)
}

/** `jaro_winkler(a, b) >= t` (or `> t`) fused into one boolean kernel
  * with sound early rejection — planted by
  * [[graft.plans.JaroWinklerThresholdRewrite]], decision bit-identical
  * to comparing [[JaroWinklerSim]]'s score
  * (see [[HashOps.jaroWinklerGte]]).
  */
case class JaroWinklerGte(left: Expression, right: Expression,
                          threshold: Double, strict: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two STRING inputs, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String =
    if (strict) "jaro_winkler_gt" else "jaro_winkler_gte"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.jaroWinklerGte(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      threshold, strict)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // bit-pattern round-trip: a plain s"${threshold}D" interpolation
      // emits invalid Java ("NaND"/"InfinityD") for non-finite folded
      // thresholds, which would fail codegen compile
      val bits = java.lang.Double.doubleToLongBits(threshold)
      s"${ev.value} = graft.functions.HashOps.jaroWinklerGte($a, $b, " +
        s"java.lang.Double.longBitsToDouble(${bits}L), $strict);"
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerGte =
    copy(left = newLeft, right = newRight)
}

/** `damerau_levenshtein(a, b)` → BIGINT full-DL distance over two
  * STRING columns — DuckDB-exact (see [[HashOps.damerauLevenshtein]]).
  */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two STRING inputs, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "damerau_levenshtein"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.damerauLevenshtein(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.damerauLevenshtein($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

/** Shared constructor-arg plumbing for the PQ expressions: the
  * codebook rides the expression as a driver-side object (flattened +
  * self-terms precomputed once, shipped to executors through the
  * codegen references array), NOT as a plan literal — the old
  * `typedLit` codebooks put m·ksub·dsub doubles into every projection,
  * bloating each ANN plan to hundreds of KB that Catalyst re-analyzed
  * and AQE re-stringified per action, and the HOF folds that consumed
  * them ran interpreted per element. The codebook is an immutable
  * `IndexedSeq`, so two expressions built from equal codebooks are
  * equal, `semanticEquals` and share one canonical form (an array
  * argument compares by identity).
  */
private[functions] trait PqCodebook { self: Expression =>
  def cents: IndexedSeq[IndexedSeq[Double]]
  def m: Int
  @transient protected final lazy val dim: Int = cents(0).length
  @transient protected final lazy val dsub: Int = dim / m
  @transient protected final lazy val k: Int = cents.length
  @transient protected final lazy val flatCents: Array[Double] = {
    val out = new Array[Double](k * dim)
    var c = 0
    while (c < k) { cents(c).copyToArray(out, c * dim, dim); c += 1 }
    out
  }
  /** selfs(c·m + ms) = Σ over the ms-subspace of cents(c)², the same
    * left-to-right sum as the HOF `s.map(x => x*x).sum` it replaces.
    */
  @transient protected final lazy val selfTerms: Array[Double] = {
    val out = new Array[Double](k * m)
    var c = 0
    while (c < k) {
      var ms = 0
      while (ms < m) {
        var s = 0.0
        var j = 0
        while (j < dsub) { val x = flatCents(c * dim + ms * dsub + j); s += x * x; j += 1 }
        out(c * m + ms) = s
        ms += 1
      }
      c += 1
    }
    out
  }
  protected def checkPqInput(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _)
        if cents.nonEmpty && m > 0 && cents(0).length % m == 0 =>
        TypeCheckResult.TypeCheckSuccess
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckFailure(
        s"$name: need a non-empty codebook and dim divisible by m (k=${cents.length}, m=$m)")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires ARRAY<DOUBLE> input, got ${other.catalogString}")
    }
  /** The plan-string form of the codebook: its shape, not its doubles. */
  protected def codebookString: String =
    s"codebook[${cents.length}x${cents.headOption.fold(0)(_.length)}]"
}

/** `pq_encode(v)` → ARRAY<BIGINT> of m 1-based codebook positions
  * (see [[HashOps.pqEncode]]).
  */
case class PqEncode(child: Expression, cents: IndexedSeq[IndexedSeq[Double]], m: Int)
    extends UnaryExpression with PqCodebook {
  override protected def stringArgs: Iterator[Any] = Iterator(child, codebookString, m)
  override def checkInputDataTypes(): TypeCheckResult =
    checkPqInput(prettyName, child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.pqEncode(input.asInstanceOf[ArrayData], flatCents, selfTerms, m, dsub, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqCents", flatCents, "double[]")
    val selfRef = ctx.addReferenceObj("pqSelfs", selfTerms, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.pqEncode($c, $flatRef, $selfRef, $m, $dsub, $k);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `pq_lut(v)` → ARRAY<DOUBLE> of m·k ADC partial distances
  * (see [[HashOps.pqLut]]).
  */
case class PqLut(child: Expression, cents: IndexedSeq[IndexedSeq[Double]], m: Int,
                 addSelf: Boolean)
    extends UnaryExpression with PqCodebook {
  override protected def stringArgs: Iterator[Any] = Iterator(child, codebookString, m, addSelf)
  override def checkInputDataTypes(): TypeCheckResult =
    checkPqInput(prettyName, child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def nullSafeEval(input: Any): Any =
    HashOps.pqLut(input.asInstanceOf[ArrayData], flatCents, selfTerms, m, dsub, k, addSelf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("pqCents", flatCents, "double[]")
    val selfRef = ctx.addReferenceObj("pqSelfs", selfTerms, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashOps.pqLut($c, $flatRef, $selfRef, $m, $dsub, $k, $addSelf);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** `poisson_boot_weights(a, b)` → ARRAY<BIGINT> of `reps` Poisson(1)
  * bootstrap weights drawn from md5("<prefix>:<r>:<a>:<b>") (see
  * [[HashOps.poissonBootWeights]]).
  */
case class PoissonBootWeights(left: Expression, right: Expression,
    prefix: String, reps: Int, cdf: IndexedSeq[Long])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(reps > 0, s"poisson_boot_weights: need reps > 0, got $reps")
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two BIGINT inputs, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "poisson_boot_weights"
  @transient private lazy val prefixBytes: Array[Array[Byte]] =
    Array.tabulate(reps)(r => s"$prefix:$r".getBytes("UTF-8"))
  @transient private lazy val cdfArray: Array[Long] = cdf.toArray
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.poissonBootWeights(a.asInstanceOf[Long], b.asInstanceOf[Long],
      prefixBytes, cdfArray)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("bootPrefixes", prefixBytes, "byte[][]")
    val cRef = ctx.addReferenceObj("bootCdf", cdfArray, "long[]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.poissonBootWeights($a, $b, $pRef, $cRef);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PoissonBootWeights =
    copy(left = newLeft, right = newRight)
}

/** `dot_product(a, b)` → DOUBLE over two ARRAY<DOUBLE> columns. */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<DOUBLE> inputs, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashOps.dotProduct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashOps.dotProduct($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

private[functions] object HashExprChecks {
  def requireStringArray(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires ARRAY<STRING> input, got ${other.catalogString}")
    }
}

/** Column-API entry points for the graft native expressions. */
object functions {
  def minhash_bands(c: Column, numHashes: Int, bandRows: Int): Column =
    GraftGlue.column(MinHashBands(GraftGlue.expression(c), numHashes, bandRows))
  def simhash64(c: Column): Column =
    GraftGlue.column(SimHash64(GraftGlue.expression(c)))
  def bigram_shingles(c: Column): Column =
    GraftGlue.column(BigramShingles(GraftGlue.expression(c)))
  def sorted_hashes(c: Column): Column =
    GraftGlue.column(SortedHashes(GraftGlue.expression(c)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    GraftGlue.column(SortedIntersectCount(GraftGlue.expression(a), GraftGlue.expression(b)))
  def dot_product(a: Column, b: Column): Column =
    GraftGlue.column(ArrayDotProduct(GraftGlue.expression(a), GraftGlue.expression(b)))
  def poisson_boot_weights(a: Column, b: Column, prefix: String, reps: Int,
      cdf: Array[Long]): Column =
    GraftGlue.column(PoissonBootWeights(GraftGlue.expression(a),
      GraftGlue.expression(b), prefix, reps, cdf.toIndexedSeq))
  def md5_minhash_sig(c: Column, numHashes: Int): Column =
    GraftGlue.column(Md5MinhashSig(GraftGlue.expression(c), numHashes))
  def md5_simhash56(c: Column): Column =
    GraftGlue.column(Md5Simhash56(GraftGlue.expression(c)))
  def md5_bigram_feat_counts(c: Column, buckets: Int): Column =
    GraftGlue.column(Md5BigramFeatCounts(GraftGlue.expression(c), buckets))
  def pq_encode(v: Column, cents: Array[Array[Double]], m: Int): Column =
    GraftGlue.column(PqEncode(GraftGlue.expression(v), cents.map(_.toIndexedSeq).toIndexedSeq, m))
  def pq_lut(v: Column, cents: Array[Array[Double]], m: Int, addSelf: Boolean): Column =
    GraftGlue.column(PqLut(GraftGlue.expression(v), cents.map(_.toIndexedSeq).toIndexedSeq, m,
      addSelf))
  def jaro_winkler(a: Column, b: Column): Column =
    GraftGlue.column(JaroWinklerSim(GraftGlue.expression(a), GraftGlue.expression(b)))
  def damerau_levenshtein(a: Column, b: Column): Column =
    GraftGlue.column(DamerauLevenshtein(GraftGlue.expression(a), GraftGlue.expression(b)))
  def top_sims(sim: Column, id: Column, k: Int): Column =
    GraftGlue.column(TopSimsAgg(GraftGlue.expression(sim),
      GraftGlue.expression(id), k).toAggregateExpression())
  def top_sims_mean(sim: Column, id: Column, k: Int): Column =
    GraftGlue.column(TopSimsMeanAgg(GraftGlue.expression(sim),
      GraftGlue.expression(id), k).toAggregateExpression())
}
