package graft

import org.scalatest.funsuite.AnyFunSuite

/** `PlanDump.normalise`: every run-specific token of a formatted plan
  * becomes a placeholder, and nothing else changes. Pure string logic —
  * no Spark session. */
class PlanDumpSpec extends AnyFunSuite {

  private val root = "/work/graft/target/fixtures"

  /** One plan excerpt per token kind, as `explain("formatted")` prints them. */
  private val plan =
    s"""(1) Scan parquet
       |Output [2]: [o_orderkey#123L, inputCol_0de4eb8f9b85#10145]
       |Location: InMemoryFileIndex [file:$root/cow_orders/ddbe1476c560]
       |(2) MapPartitions
       |Arguments: graft.llm.Subword$$$$$$Lambda$$6850/0x00007fc70965e4d0@65b636a9, obj#15454: scala.Tuple5
       |(3) Filter
       |Condition : exists(xs#7, lambdafunction((lambda x_34#1156 > 0), lambda x_34#1156, false))
       |Output [1]: [aggregate(xs#7, 0.0, lambdafunction((lambda acc_3#9 + lambda y_52#10), lambda acc_3#9, lambda y_52#10, false)) AS s#11]
       |(4) Scan ExistingRDD
       |Arguments: [o#22819L], MapPartitionsRDD[1748] at localCheckpoint at Materialize.scala:63, ExistingRDD
       |(5) Exchange
       |Arguments: hashpartitioning(o#22819L, 4), ENSURE_REQUIREMENTS, [plan_id=812]
       |""".stripMargin

  test("normalise replaces each run-specific token and keeps the rest") {
    assert(PlanDump.normalise(plan, root) ==
      """(1) Scan parquet
        |Output [2]: [o_orderkey#<n>L, inputCol_<uid>#<n>]
        |Location: InMemoryFileIndex [file:<fixtures>/cow_orders/ddbe1476c560]
        |(2) MapPartitions
        |Arguments: graft.llm.Subword$$$Lambda@<id>, obj#<n>: scala.Tuple5
        |(3) Filter
        |Condition : exists(xs#<n>, lambdafunction((lambda x_<n>#<n> > 0), lambda x_<n>#<n>, false))
        |Output [1]: [aggregate(xs#<n>, 0.0, lambdafunction((lambda acc_<n>#<n> + lambda y_<n>#<n>), lambda acc_<n>#<n>, lambda y_<n>#<n>, false)) AS s#<n>]
        |(4) Scan ExistingRDD
        |Arguments: [o#<n>L], MapPartitionsRDD[<n>] at localCheckpoint at Materialize.scala:63, ExistingRDD
        |(5) Exchange
        |Arguments: hashpartitioning(o#<n>L, 4), ENSURE_REQUIREMENTS, [plan_id=<n>]
        |""".stripMargin)
  }

  test("normalise makes two runs of one plan equal") {
    val rerun = plan
      .replace("#123L", "#4567L").replace("0de4eb8f9b85", "a1b2c3d4e5f6")
      .replace("65b636a9", "1f2e3d4c").replace("x_34", "x_2").replace("y_52", "y_7")
      .replace("RDD[1748]", "RDD[90]").replace("plan_id=812", "plan_id=3")
    assert(rerun != plan)
    assert(PlanDump.normalise(rerun, root) == PlanDump.normalise(plan, root))
  }
}
