package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The `spark.graft.checkpoint.dir` knob ([[Lineage.truncate]]): one
  * conf flips the iterative operators from executor-local checkpoint
  * blocks to reliable storage checkpoints (the lost-executor recovery
  * path on a real cluster). The contract pinned here: the knob changes
  * WHERE lineage truncation lands, never WHAT the operators return.
  */
class CheckpointSpec extends SparkSuite {

  private def rows(q: Q): Seq[String] =
    q.run(spark, sf).collect().map(_.toString).toSeq

  test("reliable-checkpoint knob: identical results, files actually land in the dir") {
    val dedup = operators.Dedup.dedupClusters
    val pr    = operators.Graph.graphPagerank
    // baseline: knob unset → localCheckpoint fast path. Another suite
    // may have left a checkpoint dir on the shared context — clear it
    // rather than assuming suite order. Clear the label memo too so
    // BOTH runs exercise the real iterative path.
    org.apache.spark.graft.CheckpointDirAccess.clear(spark.sparkContext)
    operators.Dedup.clusterCache.clear()
    val dedupLocal = rows(dedup)
    val prLocal    = rows(pr)

    val dir: Path = Files.createTempDirectory("graft_ckpt_spec")
    try {
      spark.conf.set("spark.graft.checkpoint.dir", dir.toString)
      operators.Dedup.clusterCache.clear()
      val dedupReliable = rows(dedup)
      assert(
        spark.sparkContext.getCheckpointDir.isDefined,
        "Lineage.truncate must wire the conf into sparkContext.setCheckpointDir"
      )
      val prReliable = rows(pr)
      assert(dedupReliable == dedupLocal, "dedup_clusters must be checkpoint-mode-invariant")
      assert(prReliable == prLocal, "graph_pagerank must be checkpoint-mode-invariant")
      // the reliable path really wrote checkpoint files (not a silent
      // fallback to local blocks)
      val wrote = Files.walk(dir).iterator().asScala.exists(Files.isRegularFile(_))
      assert(wrote, s"no checkpoint files under $dir — reliable path not taken")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      org.apache.spark.graft.CheckpointDirAccess.clear(spark.sparkContext)
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
