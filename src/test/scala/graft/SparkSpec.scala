package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites — the [[Sessions.local]]
  * conf set Bench and Verify run under: 4 threads, 4 shuffle
  * partitions, UTC, FAIR. One session per JVM; scalatest suites share
  * it.
  */
object SparkSpec {
  // local[4, 2]: 2 task attempts, like a real cluster (default 4) —
  // lets SinkRetrySpec prove exactly-once under task retry; inert for
  // every other suite (their tasks don't fail). 4 cores pinned, not
  // SPARK_GRAFT_CPUS, so plan-shape pins see the same partition count
  // on every host.
  lazy val spark: SparkSession = Sessions.local(cpus = 4, taskAttempts = 2)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf
}
