package graft

import org.scalatest.funsuite.AnyFunSuite

class DevSpec extends AnyFunSuite {

  test("median averages the two middle samples when n is even") {
    assert(Dev.median(Seq(3.0)) == 3.0)
    assert(Dev.median(Seq(4.0, 1.0, 2.0)) == 2.0)
    assert(Dev.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("plan normaliser fixes every run-specific token and nothing else") {
    val plan =
      "Arguments: hashpartitioning(l_returnflag#8, l_linestatus#19L, 4), ENSURE_REQUIREMENTS, [plan_id=118]\n" +
      "Arguments: [s#484L], MapPartitionsRDD[72] at localCheckpoint at Lineage.scala:49, ExistingRDD\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_stage-56345708-2947-455e-a001-f54852d66582/graft_dpp/fact]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_dedup_pairs/1b5808d7b1a49ac89e33717e25ae6449-v2]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_views/1b5808d7b1a49ac89e33717e25ae6449]\n" +
      "(3) Exchange [codegen id : 2]\n"
    val want =
      "Arguments: hashpartitioning(l_returnflag#N, l_linestatus#NL, 4), ENSURE_REQUIREMENTS, [plan_id=N]\n" +
      "Arguments: [s#NL], MapPartitionsRDD[N] at localCheckpoint at Lineage.scala:49, ExistingRDD\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_stage-<uuid>/graft_dpp/fact]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_dedup_pairs/<fingerprint>-v2]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_views/<fingerprint>]\n" +
      "(3) Exchange [codegen id : 2]\n"
    assert(Dev.normalise(plan) == want)
    assert(Dev.normalise(want) == want)
  }
}
