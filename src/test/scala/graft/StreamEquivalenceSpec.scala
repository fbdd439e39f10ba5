package graft

import operators.StreamEquivalence

/** The two streaming audits' oracles are constant `VALUES` lists: one
  * verdict row per family / state machine. The names in those lists
  * and the names in the audits' task tables must agree, or the driver
  * compare fails on a renamed task — or, worse, passes with a task
  * that was added to one side only. Building a table runs nothing, so
  * this checks the lockstep without replaying any stream.
  */
class StreamEquivalenceSpec extends SparkSuite {

  /** The first column of every `('name', 1, 1, 1)` tuple in an oracle. */
  private def oracleNames(q: Q): Seq[String] =
    """\('([a-z0-9_]+)', 1, 1, 1\)""".r
      .findAllMatchIn(q.oracle.getOrElse(fail(s"${q.name} has no oracle")))
      .map(_.group(1))
      .toSeq

  test("the family table and stream_equivalence_report's oracle name the same families") {
    val names = StreamEquivalence.families(spark, sf).map(_._1)
    assert(names.nonEmpty && names.distinct == names, s"family names: $names")
    assert(names.sorted == oracleNames(StreamEquivalence.streamEquivalenceReport).sorted)
  }

  test("the machine table and stream_state_api_parity's oracle name the same machines") {
    val names = StreamEquivalence.machines(spark, sf).map(_._1)
    assert(names.nonEmpty && names.distinct == names, s"machine names: $names")
    assert(names.sorted == oracleNames(StreamEquivalence.streamStateApiParity).sorted)
  }
}
