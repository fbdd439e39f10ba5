package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.Registry

/** One-off row survey used to choose and refresh the row subsets in `workloads.json`: each
  * named row (or every non-streaming row) runs once with a view store
  * of its own, so the view families it reads show up as new dirs, and
  * its build / Catalyst / full-result times are recorded. Each
  * materializer is also run alone to map labels to view families.
  * Not part of a benchmark run. */
object Survey {
  import Harness._

  private def families(dir: File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory).map(_.getName).sorted.toSeq

  def main(opt: Map[String, String]): Unit = {
    val sfDir = opt("sf-dir")
    val work  = opt("work")
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    spark.sparkContext.setLogLevel("WARN")
    val rows = opt.get("rows").map(_.split(",").toSeq)
      .getOrElse(Registry.all.map(_.name).filterNot(_.startsWith("stream_")))
    def isolated[T](tag: String)(body: SparkSession => T): (T, Seq[String], Double) = {
      val store = new File(s"$work/survey/$tag")
      val s = spark.newSession()
      s.conf.set("spark.graft.viewstore.dir", store.getPath)
      Registry.clearMemos()
      val t0 = System.nanoTime()
      val r = body(s)
      (r, families(store), (System.nanoTime() - t0) / 1e9)
    }
    val viewRecs = views.map { case (label, f) =>
      val (_, fams, secs) = isolated(s"view-$label")(s => f(s, sfDir))
      Map("label" -> label, "families" -> fams, "seconds" -> secs)
    }
    val rowRecs = rows.map { name =>
      val q = Registry.byName(name)
      val (times, fams, secs) = isolated(s"row-$name") { s =>
        try {
          val t0 = System.nanoTime()
          val df = q.run(s, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          val n = df.collect().length
          val t3 = System.nanoTime()
          Map("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
            "exec_s" -> (t3 - t2) / 1e9, "rows" -> n, "oracle" -> q.oracle.isDefined)
        } catch { case e: Throwable => Map("error" -> e.toString.take(300)) }
      }
      val rec = times ++ Map("name" -> name, "families" -> fams, "wall_s" -> secs,
        "module" -> q.run.getClass.getName.split("\\$")(0))
      System.err.println(s"[survey] ${Json(rec)}")
      rec
    }
    Files.write(Paths.get(opt("out")),
      Json(Map("views" -> viewRecs, "rows" -> rowRecs)).getBytes(StandardCharsets.UTF_8))
    stop(spark)
  }
}
