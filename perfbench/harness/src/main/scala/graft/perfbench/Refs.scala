package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.{Registry, SparkEntry}

/** Reference results for the hash-checked workloads: each named row
  * runs once; its collected result is hashed as the benchmark hashes
  * it, and the same DataFrame is written as `graft.Verify` writes it,
  * with the oracle file, so `tools/check.py` can vouch for the hash
  * before `record_refs.py` commits it. */
object Refs {
  import Harness._

  def main(opt: Map[String, String]): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, opt("work"))
    spark.sparkContext.setLogLevel("WARN")
    val out = s"${opt("work")}/out"
    val names = opt("rows").split(",").toSeq
    val hashes = names.map { name =>
      Registry.clearMemos()
      val df = Registry.byName(name).run(spark, opt("sf-dir"))
      val h = resultHash(df, df.collect())
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      name -> h
    }.toMap
    val oracles = SparkEntry.oracleSql
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json(names.flatMap(n => oracles.get(n).map(n -> _)).toMap).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(opt("out")), Json(hashes).getBytes(StandardCharsets.UTF_8))
    stop(spark)
  }
}
