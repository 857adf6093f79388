package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Max
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}

/** Shared machinery for similarity-join rewrite rules (currently
  * [[EditDistanceJoinRewrite]]): blocking a naive
  * `ON sim(a, b) <op> threshold` nested-loop join into candidate
  * generation → pair dedup → exact verify needs this dedup/restore
  * tail:
  *
  *  - dedup is an explicit Catalyst [[Aggregate]] grouping ONLY on the
  *    narrow pair identity, with every carried row column riding as a
  *    max() aggregate aliased back to its ORIGINAL exprId. Duplicates
  *    of a group are bitwise-identical in every payload column, so
  *    max() is value-deterministic — and unlike routing payload
  *    through grouping keys it is never float-normalized
  *    (NormalizeFloatingNumbers rewrites grouping/join/window keys,
  *    not aggregate inputs), so the rewritten join emits bit-identical
  *    DOUBLE/FLOAT values to the join it replaces.
  *  - the whole rewrite is built as resolved Catalyst nodes and NOT
  *    analyzed: a fresh analyzer pass regenerates same-id aliases,
  *    which would orphan the parent plan's references to the join's
  *    output, and costs a full pass per Dataset step inside every
  *    optimization of the query.
  */
private[plans] object SimJoinSupport {

  /** Carried row columns ride a max() aggregate through the dedup
    * stages, so every output type must be orderable (maps are not).
    */
  def orderableOutput(plan: LogicalPlan): Boolean =
    plan.output.forall(a => RowOrdering.isOrderable(a.dataType))

  /** Aggregate grouping on `keys`, carrying `payload` as exprId-pinned
    * max() aliases.
    */
  def dedupOn(p: LogicalPlan, keys: Seq[Attribute],
              payload: Seq[Attribute]): LogicalPlan =
    Aggregate(keys, keys ++ payload.map { a =>
      Alias(Max(a).toAggregateExpression(), a.name)(
        exprId = a.exprId, qualifier = a.qualifier)
    }, p)
}
