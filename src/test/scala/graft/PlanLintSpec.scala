package graft

import org.scalatest.funsuite.AnyFunSuite

/** The README weak-point register, made executable: every registered
  * query's physical plan is swept for the two 100 TB killers —
  * cartesian/nested-loop joins and single-partition exchanges — and
  * any occurrence must be allowed by the query's [[QuerySpec]]
  * (`nestedLoop`, `singlePartition`) with its written justification.
  * Adding a query with an undeclared scale-weak plan fails the suite,
  * and so does an allowance whose weakness no longer shows.
  *
  * The sweep reads `queryExecution.executedPlan` WITHOUT executing it:
  * under AQE that prints the fully-prepared initial plan
  * (`isFinalPlan=false`), i.e. post-`EnsureRequirements` — so
  * distribution-requirement exchanges (global windows, scalar-agg
  * finals) are visible. `sparkPlan` (the previous sweep surface) is
  * pre-exchange-insertion and only ever caught EXPLICIT repartitions —
  * it missed the global-NTILE single partition entirely. AQE can only
  * IMPROVE on the initial plan at runtime, so this is the conservative
  * gate.
  */
class PlanLintSpec extends AnyFunSuite with SparkFixture {

  // One plan sweep shared by all tests: name → (plans nested-loop?,
  // plans single-partition exchange?, plans NON-broadcast cartesian?).
  private lazy val planFlags: Map[String, (Boolean, Boolean, Boolean)] =
    Registry.specs.sortBy(_.name).map { spec =>
      // executedPlan WITHOUT collect(): the AQE initial plan, post-
      // EnsureRequirements — see class doc.
      val plan = spec.build(spark, fixtureDir).queryExecution.executedPlan.toString
      spec.name -> ((
        plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
        plan.contains("Exchange SinglePartition"),
        plan.contains("CartesianProduct")))
    }.toMap

  test("no registered query plans an undeclared cartesian or nested-loop join") {
    val violations = Registry.specs.collect {
      case spec if planFlags(spec.name)._1 && spec.nestedLoop.isEmpty => spec.name
    }
    assert(violations.isEmpty,
      s"undeclared nested-loop/cartesian plans: ${violations.mkString(", ")} — " +
        "either fix the plan or allow it in its QuerySpec WITH a written justification")
  }

  test("no registered query plans an undeclared single-partition exchange") {
    val violations = Registry.specs.collect {
      case spec if planFlags(spec.name)._2 && spec.singlePartition.isEmpty => spec.name
    }
    assert(violations.isEmpty,
      s"undeclared single-partition exchanges: ${violations.mkString(", ")} — " +
        "either fix the plan or allow it in its QuerySpec WITH a written justification")
  }

  test("no registered query plans a NON-broadcast cartesian product — ever") {
    // BroadcastNestedLoopJoin streams one side against a broadcast other
    // side — bounded if the broadcast side is (the spec's nestedLoop).
    // CartesianProduct partitions BOTH sides and pairs every partition
    // combination: a stats misestimate away from an N² shuffle at scale.
    // Every scalar crossJoin in the codebase pins broadcast() explicitly,
    // so no plan should ever degrade to CartesianProduct — no whitelist.
    val violations = planFlags.collect {
      case (name, (_, _, cartesian)) if cartesian => name
    }
    assert(violations.isEmpty,
      s"CartesianProduct planned by: ${violations.mkString(", ")} — wrap the " +
        "small side in broadcast() so the planner can never pick a " +
        "partitioned cartesian")
  }

  test("every whitelist entry is load-bearing (no stale rows)") {
    // An allowance whose query no longer plans the declared weakness is
    // stale: it silently widens the gate. Fail so the allowance gets
    // deleted (or the plan regression investigated) the round it happens.
    val staleNested = Registry.specs.filter(s => s.nestedLoop.isDefined && !planFlags(s.name)._1).map(_.name)
    val staleSingle = Registry.specs.filter(s => s.singlePartition.isDefined && !planFlags(s.name)._2).map(_.name)
    assert(staleNested.isEmpty && staleSingle.isEmpty,
      s"stale allowances — nested-loop: ${staleNested.mkString(", ")}; " +
        s"single-partition: ${staleSingle.mkString(", ")} — the plans no " +
        "longer exhibit the declared weakness; delete the allowances")
  }
}
