package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Plans.scrub` keeps PLANS.md stable across regenerations: two
  * renderings of one plan that differ only in run-volatile tokens
  * scrub to the same text, and a real plan difference survives. */
class PlansSpec extends AnyFunSuite {
  private def plan(ids: Seq[Int], stage: Int, hash: String, pid: Int,
                   side: String) =
    s"""*(${ids(0)}) BroadcastHashJoin [a#${ids(1)}L], [b#${ids(2)}L], Inner, Build$side
       |:- ShuffleQueryStage $stage
       |:  +- Exchange hashpartitioning(a#${ids(1)}L, 8), ENSURE_REQUIREMENTS, [plan_id=${ids(3)}]
       |+- ReusedExchange [b#${ids(2)}L], Exchange hashpartitioning(a#${ids(1)}L, 8), [plan_id=${ids(3)}]
       |   +- Project [bigramscore(_a#${ids(1)}, graft.functions.BigramModel@$hash)]
       |      +- *(${ids(0)}) MapPartitions graft.X$$$$$$Lambda$$${ids(4)}/0x00007f70c5543d18
       |         +- FileScan parquet Location: InMemoryFileIndex(1 paths)[file:/tmp/graft_bm25c_sf0.001_$pid/parts/c64_093089a5-1ce/b...]
       |""".stripMargin

  test("run-volatile ids, hash codes and temp paths scrub away; plan " +
    "choices do not") {
    val a = plan(Seq(5, 4837, 4841, 36, 5606), 2, "1b1d094a", 32703, "Right")
    val b = plan(Seq(7, 5200, 5203, 642, 5554), 5, "2b92aca4", 411, "Right")
    assert(a != b)
    assert(Plans.scrub(a) == Plans.scrub(b))
    val s = Plans.scrub(a)
    assert(s.contains("[plan_id=1]") && s.contains("a#1L") && s.contains("*(1)"))
    assert(s.contains("file:/tmp/graft_bm25c_sf0.001_*/…"))
    assert(!s.contains("@") && !s.contains("0x") && !s.contains("QueryStage 2"))
    val c = plan(Seq(5, 4837, 4841, 36, 5606), 2, "1b1d094a", 32703, "Left")
    assert(Plans.scrub(c) != Plans.scrub(a))
  }
}
