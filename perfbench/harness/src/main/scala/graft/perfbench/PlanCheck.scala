package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.SortExec
import graft.Registry

/** The full-result rule, on both sides: for each named row, the plans
  * the benchmark's timed actions run (`collect`, and the Verify-style
  * `coalesce(1)` parquet write) next to the plan a `count()` of the
  * same DataFrame runs. `test_full_result.py` asserts the first two
  * keep the root Sort and every column, and shows the third does not. */
object PlanCheck {
  import Harness._

  def main(opt: Map[String, String]): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, opt("work"))
    spark.sparkContext.setLogLevel("WARN")
    val writes = new WriteCapture
    spark.listenerManager.register(writes)
    val recs = opt("rows").split(",").toSeq.map { name =>
      val df = Registry.byName(name).run(spark, opt("sf-dir"))
      df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(s"${opt("work")}/out/$name")
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val counted = df.groupBy().count()
      counted.collect()
      def sorts(p: org.apache.spark.sql.execution.SparkPlan) = collect(p) { case s: SortExec => s }.size
      Map("name" -> name,
        "full" -> fullResultCheck(df, df.queryExecution),
        "write" -> writes.get(name).map(fullResultCheck(df, _)).orNull,
        "full_sorts" -> sorts(df.queryExecution.executedPlan),
        "count_sorts" -> sorts(counted.queryExecution.executedPlan))
    }
    Files.write(Paths.get(opt("out")), Json(recs).getBytes(StandardCharsets.UTF_8))
    stop(spark)
  }
}
