package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One runtime configuration surface: every session comes from
  * [[Sessions.local]], and the engine reads only the `spark.graft.*`
  * keys listed here. A new key needs a measured reason and a
  * data-derived default; adding one means editing this list on
  * purpose, not slipping a conf read into an operator.
  */
class SessionsSpec extends SparkSuite {

  test("the shared test session carries the factory's conf set") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4, 2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    assert(conf.get("spark.cleaner.periodicGC.interval") == "1min")
    assert(conf.get("spark.scheduler.mode") == "FAIR")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("src/main reads exactly the allowed spark.graft.* keys") {
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)".r
    val keys = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => key.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    assert(keys == Set(
      "viewstore.dir", "viewstore.retention", "viewstore.build.lease", "viewstore.build.maxwait",
      "checkpoint.dir",
      // TopKSpec drives the operator's fallback path through it
      "topk.maxGroupsPerPartition"))
  }
}
