package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite a naive edit-distance similarity join
  *
  *   SELECT ... FROM a JOIN b ON levenshtein(a.s, b.s) <= k
  *
  * — which Spark can only plan as a (broadcast) nested-loop join, the
  * O(N·M) trap — into the PassJoin segment-blocked plan the library's
  * [[graft.operators.Dedup.editDistanceJoin]] uses: pigeonhole says any
  * string within edit distance k of `s` contains one of `s`'s k+1
  * contiguous segments exactly, starting within ±k of its source
  * position, so an equi-join on (target length, segment index, segment
  * text) with constant ≤(2k+1)²(k+1) per-row fanout finds every
  * candidate, and one exact `levenshtein` per distinct candidate pair
  * verifies. Same result multiset — including rows with NULL / empty /
  * shorter-than-k strings — at index-join cost.
  *
  * Scope: inner joins where some conjunct of the condition is
  * `levenshtein(l, r) <= k` (or `<`, or the flipped `>=`/`>` forms)
  * with 0 ≤ k ≤ 6 and one side's expression per input; remaining
  * conjuncts (`a.id < b.id`, predicates the optimizer pushed into the
  * join, ...) are re-applied as a filter directly on the candidate
  * join, below the pair dedup (they are deterministic functions of
  * the dedup's grouping keys, so the placement is equivalence-
  * preserving and prunes the heavy stages early). Anything else — the
  * 3-arg thresholded levenshtein, outer joins, streaming inputs, a
  * nondeterministic conjunct, map- or float-typed output columns
  * (see [[groupable]]), or a join that ALREADY has an equi conjunct
  * (hash-joinable as-is; also how the library's own PassJoin plans,
  * whose verify filter rides their segment equi-joins, stay
  * untouched) — keeps Spark's own plan. Re-trigger safety: the
  * rewritten subtree's join carries `__graft_edj_`-prefixed working
  * columns, and any join whose inputs expose that prefix is skipped,
  * so the rule cannot fire on its own output even after the optimizer
  * pushes the verify filter back into the blocked join's condition.
  *
  * Installed via `graft.GraftExtensions`
  * (`injectOptimizerRule` → Catalyst's operator-optimization batch, so
  * the rebuilt subtree still gets column pruning / pushdown), or
  * `GraftExtensions.register` on a running session.
  */
object EditDistanceJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val Tag = "__graft_edj_"

  /** Extract (levenshtein, k) from the four comparison spellings,
    * normalized to `lev <= k`.
    */
  private def bound(cond: Expression): Option[(Levenshtein, Int)] = cond match {
    case LessThanOrEqual(l: Levenshtein, IntegerLiteral(k))    => Some((l, k))
    case LessThan(l: Levenshtein, IntegerLiteral(k))           => Some((l, k - 1))
    case GreaterThanOrEqual(IntegerLiteral(k), l: Levenshtein) => Some((l, k))
    case GreaterThan(IntegerLiteral(k), l: Levenshtein)        => Some((l, k - 1))
    case _                                                     => None
  }

  /** (left string expr, right string expr, k, remaining conjuncts) of
    * the first rewritable conjunct, if any. A join that already carries
    * an equi conjunct between the sides is NOT rewritten: Spark plans
    * it as a hash/sort-merge join with the levenshtein as an extra
    * condition — there is no nested-loop trap to fix, and rewriting
    * would re-block the library's own PassJoin plans (whose verify
    * filter the optimizer pushes back into their segment equi-joins).
    */
  private def plan(left: LogicalPlan, right: LogicalPlan,
      conjuncts: Seq[Expression]): Option[(Expression, Expression, Int, Seq[Expression])] = {
    def crossSide(a: Expression, b: Expression): Boolean =
      (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
        (b.references.subsetOf(left.outputSet) && a.references.subsetOf(right.outputSet))
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b)       => crossSide(a, b)
      case EqualNullSafe(a, b) => crossSide(a, b)
      case _                   => false
    }
    if (hasEqui) return None
    // every conjunct must be deterministic: the rewrite changes row
    // multiplicity mid-plan (segment fanout then dedup), so a
    // nondeterministic conjunct could evaluate on different rows than
    // the original join would have
    if (!conjuncts.forall(_.deterministic)) return None
    conjuncts.zipWithIndex.collectFirst(Function.unlift { case (c, idx) =>
      bound(c) match {
        case Some((Levenshtein(a, b, None), k)) if k >= 0 && k <= 6 =>
          val rest = conjuncts.patch(idx, Nil, 1)
          if (a.references.subsetOf(left.outputSet) &&
              b.references.subsetOf(right.outputSet))
            Some((a, b, k, rest))
          else if (b.references.subsetOf(left.outputSet) &&
                   a.references.subsetOf(right.outputSet))
            Some((b, a, k, rest))
          else None
        case _ => None
      }
    })
  }

  override def apply(plan0: LogicalPlan): LogicalPlan = plan0.transform {
    case j @ Join(left, right, Inner, Some(cond), _)
        if !left.isStreaming && !right.isStreaming &&
          groupable(left) && groupable(right) &&
          !left.output.exists(_.name.startsWith(Tag)) &&
          !right.output.exists(_.name.startsWith(Tag)) =>
      plan(left, right, splitConjunctivePredicates(cond)) match {
        case Some((ls, rs, k, rest)) => rewrite(left, right, ls, rs, k, rest)
        case None                    => j
      }
  }

  /** The dedup stages carry every row column through a max() aggregate
    * (see [[SimJoinSupport.dedupOn]]), so every output type must be
    * ORDERABLE — a map-typed (or other unorderable) column keeps
    * Spark's own plan. Note float/double columns are fine: they ride
    * as aggregate INPUTS, not grouping keys, so
    * NormalizeFloatingNumbers never touches them and the rewrite stays
    * bit-exact on -0.0.
    */
  private def groupable(plan: LogicalPlan): Boolean =
    SimJoinSupport.orderableOutput(plan)

  private def rewrite(left: LogicalPlan, right: LogicalPlan,
                      ls: Expression, rs: Expression, k: Int,
                      rest: Seq[Expression]): LogicalPlan = {
    // segment layout for a window of length l >= 0 (same convention as
    // Dedup.editDistanceJoin: the first l % (k+1) segments get the
    // extra char), in integer arithmetic: l div (k+1) is floor(l / (k+1))
    val parts = Literal(k + 1)
    def base(l: Expression): Expression =
      Cast(IntegralDivide(Cast(l, LongType), Literal((k + 1).toLong)), IntegerType)
    def segLen(l: Expression, i: Expression): Expression =
      Add(base(l), If(LessThan(i, Remainder(l, parts)), Literal(1), Literal(0)))
    def segStart(l: Expression, i: Expression): Expression =
      Add(Multiply(i, base(l)), Least(Seq(i, Remainder(l, parts))))

    // The two sides are built as resolved Catalyst nodes, like the
    // dedup/verify tail below: a Dataset built here would run a full
    // analyzer pass per step inside every optimization of the query.
    // Working columns are __graft-prefixed so user schemas can't
    // collide; the pair ids exist only to dedupe multi-segment matches
    // of the same row pair and never reach the output.
    def extend(child: LogicalPlan, cols: (String, Expression)*): (LogicalPlan, Seq[Attribute]) = {
      val aliases = cols.map { case (n, e) => Alias(e, Tag + n)() }
      (Project(child.output ++ aliases, child), aliases.map(_.toAttribute))
    }
    def explode(child: LogicalPlan, name: String, values: Seq[Expression]): (LogicalPlan, Attribute) = {
      val array = CreateArray(values)
      val out = AttributeReference(Tag + name, IntegerType, array.dataType.containsNull)()
      (Generate(Explode(array), Nil, outer = false, None, Seq(out), child), out)
    }
    def offsets(from: Int): Seq[Expression] = (from to k).map(Literal(_))

    val (segBase, Seq(idl, sl)) =
      extend(left, "idl" -> MonotonicallyIncreasingID(), "sl" -> ls)
    val (segLa, Seq(la)) = extend(segBase, "la" -> Length(sl))
    val (segI, i) = explode(segLa, "i", offsets(0))
    val (segs, Seq(seg)) = extend(segI,
      "seg" -> Substring(sl, Add(segStart(la, i), Literal(1)), segLen(la, i)))

    val (probeBase, Seq(idr, sr)) =
      extend(right, "idr" -> MonotonicallyIncreasingID(), "sr" -> rs)
    val (probeLr, Seq(lr)) = extend(probeBase, "lr" -> Length(sr))
    val (probeLa, pla) = explode(probeLr, "la", offsets(-k).map(Add(lr, _)))
    val (probeI, pi) =
      explode(Filter(GreaterThanOrEqual(pla, Literal(0)), probeLa), "i", offsets(0))
    val (probeShift, shift) = explode(probeI, "shift", offsets(-k))
    val (probeWin, Seq(pos, len)) = extend(probeShift,
      "pos" -> Add(segStart(pla, pi), shift), "len" -> segLen(pla, pi))
    val (probes, Seq(pseg)) = extend(
      Filter(And(GreaterThanOrEqual(pos, Literal(0)), LessThanOrEqual(Add(pos, len), lr)),
        probeWin),
      "seg" -> Substring(sr, Add(pos, Literal(1)), len))

    // ONE dedup stage, at the pair level, via an explicit Aggregate (a
    // Deduplicate node emitted this late in optimization would never
    // be lowered); grouping keys are ONLY the narrow pair identity —
    // the two row ids — duplicates differ only in the segment
    // machinery, so the exprId-pinned max() payload carry is
    // value-deterministic and float-bit-exact; see [[SimJoinSupport]].
    // Probe-side duplicates (a row's ±shift substrings coinciding, ~75
    // raw vs ~45 distinct keys) are NOT pre-deduped: that aggregate's
    // groups are near-unique, so its map-side partial collapses nothing
    // and the whole payload-carrying probe frame would cross one EXTRA
    // exchange — measured 28.8 MB vs 8 MB shuffled and +0.5 s at
    // sf0.1 for the wide-payload self-join — while the pair dedup
    // absorbs the extra join multiplicity in its map-side partial.
    val joined = Join(segs, probes, Inner,
      Some(And(And(EqualTo(la, pla), EqualTo(i, pi)), EqualTo(seg, pseg))), JoinHint.NONE)
    // remaining original conjuncts run BELOW the pair dedup: they are
    // deterministic functions of columns the dedup preserves, so
    // filter-then-dedup ≡ dedup-then-filter — and for the canonical
    // self-join shape (`... AND a.id < b.id`) the early filter halves
    // the pair-dedup input and the exact levenshtein verifies only the
    // kept orientation
    val withRest = if (rest.isEmpty) joined else Filter(rest.reduce(And), joined)
    val deduped = SimJoinSupport.dedupOn(withRest, Seq(idl, idr),
      Seq(sl, sr) ++ left.output ++ right.output)
    // banded verify: the 3-arg thresholded levenshtein early-exits at
    // k+1 (O(k·n) per pair instead of O(n·m)); result is the distance
    // when ≤ k, -1 otherwise, so `>= 0` is exactly `distance <= k`
    val verified = Filter(
      GreaterThanOrEqual(Levenshtein(sl, sr, Some(Literal(k))), Literal(0)),
      deduped)
    Project(left.output ++ right.output, verified)
  }
}
