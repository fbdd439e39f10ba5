package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, ProjectExec, QueryExecution, SortExec, SparkPlan,
  TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, WriteFilesExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Registry, Tables}

/** Closed-loop, single-client benchmark harness for the registry rows.
  *
  * One JVM per run. It sets the engine up three times (session,
  * then the serving views the rows need), then issues the rows back to
  * back, one at a time, in one pass in the seed's order. Each row is
  * timed from outside in three calls: `Q.run` (build), forcing
  * `queryExecution.executedPlan` (Catalyst), and delivering the FULL
  * result (`collect`, or a Verify-style `coalesce(1)` parquet write).
  * Never `count()`: Catalyst prunes a count down to a different plan.
  *
  * Everything the timings need is always recorded; with `--trace 1`
  * the harness also registers a [[Probe]] listener and a query
  * execution listener and writes one span per setup step, row and
  * layer call. The result is one JSON file that `run.py` reads.
  */
object Harness extends AdaptiveSparkPlanHelper {

  final case class Span(id: String, parent: String, kind: String, name: String,
      startMs: Long, var seconds: Double = 0.0, var codegenS: Double = 0.0)

  /** One issued row, kept until the pass ends so that checks and
    * trace reads happen outside the timed region. */
  final case class Issued(name: String, row: Span, df: DataFrame,
      result: Array[Row], error: String, familyS: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opt.getOrElse("mode", "run")
    mode match {
      case "survey"    => Survey.main(opt)
      case "plancheck" => PlanCheck.main(opt)
      case "refs"      => Refs.main(opt)
      case _           => new Run(opt).main()
    }
  }

  /** Session settings of `graft.Bench`, plus per-run scratch dirs. */
  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.viewstore.dir", s"$work/views")
      .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The serving-view materializers, by the label `workloads.json` uses. */
  val views: Seq[(String, (SparkSession, String) => Unit)] = {
    import graft.operators._
    Seq[(String, (SparkSession, String) => Any)](
      "dedup_sigs"     -> Dedup.sigTablePath,
      "dedup_pairs"    -> Dedup.pairTablePath,
      "minhash_sigs"   -> Dedup.minhashSigTablePath,
      "ngram_shingles" -> Dedup.ngramShingleTablePath,
      "simhash_sigs"   -> Dedup.simhashSigTablePath,
      "cdc_chunks"     -> Dedup.cdcChunkTablePath,
      "graph_edges"    -> Graph.edgeTablePath,
      "ivf_index"      -> Advanced.ivfIndexPath,
      "pq_index"       -> Advanced.pqIndexPath,
      "ivfpq_index"    -> Advanced.ivfPqIndexPath,
      "lsh_sigs"       -> Similarity.lshSigTablePath,
      "bm25_index"     -> TextAnalysis.bm25IndexPath,
      "contam_shingles" -> TextAnalysis.contamShingleTablePath,
      "contam_seed"    -> TextAnalysis.contamSeedPath,
      "bpe_index"      -> TextAnalysis.bpeIndexPath,
      "bpe_wide_merges" -> TextAnalysis.bpeWideMergesPath,
      "mm_features"    -> Multimodal.mmFeatureTablePath
    ).map { case (k, f) => k -> ((s: SparkSession, d: String) => { f(s, d); () }) }
  }

  /** Canonical text of a value: stable across runs (no identity hashes),
    * so an MD5 over a result's rows identifies the result. */
  def canon(v: Any): String = v match {
    case null                 => "null"
    case b: Array[Byte]       => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row               => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_]          => a.map(canon).mkString("[", ",", "]")
    case x                    => x.toString
  }

  def resultHash(df: DataFrame, rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      .getBytes(StandardCharsets.UTF_8))
    rows.foreach { r => md.update('\n'.toByte); md.update(canon(r).getBytes(StandardCharsets.UTF_8)) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The plan that produces the delivered rows: the executed plan
    * without the wrappers that keep its output, the write command and
    * the Verify-style `coalesce(1)` included. */
  def delivered(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec  => delivered(a.executedPlan)
    case q: QueryStageExec         => delivered(q.plan)
    case w: WholeStageCodegenExec  => delivered(w.child)
    case i: InputAdapter           => delivered(i.child)
    case d: DataWritingCommandExec => delivered(d.child)
    case w: WriteFilesExec         => delivered(w.child)
    case c: CoalesceExec           => delivered(c.child)
    case x                         => x
  }

  /** The top operator of the delivered plan, below its projections. */
  def topOperator(p: SparkPlan): SparkPlan = delivered(p) match {
    case pr: ProjectExec => topOperator(pr.child)
    case x               => x
  }

  /** The full-result rule, checked on the plan that actually ran (the
    * collect's, or the write's): if the row's own analyzed plan ends in
    * a global Sort, the top operator of the delivered plan is a global
    * sort, a top-k, or an operator whose single output partition already
    * has the root Sort's order; and the delivered plan outputs every
    * column of the row. */
  def fullResultCheck(row: DataFrame, ran: QueryExecution): Map[String, Boolean] = {
    def rootSort(p: LogicalPlan): Option[Sort] = p match {
      case s: Sort if s.global  => Some(s)
      case Project(_, c)        => rootSort(c)
      case SubqueryAlias(_, c)  => rootSort(c)
      case GlobalLimit(_, c)    => rootSort(c)
      case LocalLimit(_, c)     => rootSort(c)
      case _                    => None
    }
    val root = rootSort(row.queryExecution.analyzed)
    val top = topOperator(ran.executedPlan)
    val sorted = root.forall { s =>
      top match {
        case t: SortExec                  => t.global
        case _: TakeOrderedAndProjectExec => true
        case t => t.outputPartitioning == SinglePartition &&
          SortOrder.orderingSatisfies(t.outputOrdering, s.order)
      }
    }
    Map(
      "root_sort" -> root.nonEmpty,
      "sort_kept" -> sorted,
      "columns_kept" -> (delivered(ran.executedPlan).output.map(_.name) == row.columns.toSeq))
  }

  def broadcastBytes(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
      .flatMap(_.metrics.get("dataSize").map(_.value)).sum

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = scala.util.Try {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Keeps the QueryExecution of each Verify-style write into a dir
    * named `out`, by row: a write plans inside the write call, so its
    * executed plan is only reachable from here. Listener calls arrive
    * on the listener bus; drain it before [[get]]. */
  final class WriteCapture extends QueryExecutionListener {
    private val qes = new java.util.concurrent.ConcurrentHashMap[String, QueryExecution]()
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
        .filter(_.getParent.getName == "out").foreach(p => qes.put(p.getName, qe))
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    def get(row: String): Option[QueryExecution] = Option(qes.get(row))
  }
}

/** One benchmark run: setups, then one timed pass. */
final class Run(opt: Map[String, String]) {
  import Harness._

  private val sfDir   = opt("sf-dir")
  private val work    = opt("work")
  private val rows    = opt("rows").split(",").toSeq.filter(_.nonEmpty)
  private val viewSet = opt.getOrElse("views", "").split(",").toSeq.filter(_.nonEmpty)
  // setups per run; run.py reports their median as `setup_s`
  private val setups  = 3
  private val write   = opt.getOrElse("action", "collect") == "write"
  private val trace   = opt.getOrElse("trace", "0") == "1"
  private val seed    = opt.getOrElse("seed", "0").toLong
  private val runId   = opt.getOrElse("run-id", "run")
  private val launchMs = opt.get("launch-ms").map(_.toLong)
  private val cpus    = Runtime.getRuntime.availableProcessors
  private val outDir  = s"$work/out"

  private val spans = ArrayBuffer.empty[Span]
  private var spark: SparkSession = _
  private var probe: Probe = _

  private def now(): Long = System.currentTimeMillis()

  /** Run `body` as a span; jobs it starts carry the span id. */
  private def span[T](kind: String, name: String, parent: String = "")(body: Span => T): (T, Span) = {
    val s = Span(s"$runId/${spans.size}", parent, kind, name, now())
    spans += s
    if (spark != null) spark.sparkContext.setLocalProperty(Probe.SpanKey, s.id)
    val cg0 = CodeGenerator.compileTime
    val t0  = System.nanoTime()
    try (body(s), s)
    finally {
      s.seconds = (System.nanoTime() - t0) / 1e9
      s.codegenS = (CodeGenerator.compileTime - cg0) / 1e9
      if (spark != null) spark.sparkContext.setLocalProperty(Probe.SpanKey, if (parent.isEmpty) null else parent)
    }
  }

  private def setUp(i: Int): Map[String, Any] = {
    if (i > 0) {
      stop(spark)
      spark = null
      rmrf(new File(s"$work/views"))
      rmrf(new File(s"$work/local"))
      Registry.clearMemos()
    }
    val t0 = System.nanoTime()
    var sessionS, viewsS = 0.0
    span("setup", s"setup#$i") { root =>
      sessionS = span("setup.session", s"session#$i", root.id) { _ =>
        spark = session(cpus, work)
        spark.sparkContext.setLogLevel("WARN")
        if (probe != null) spark.sparkContext.addSparkListener(probe)
      }._2.seconds
      viewsS = span("setup.views", s"views#$i", root.id) { vs =>
        viewSet.foreach { v =>
          val f = views.find(_._1 == v).getOrElse(sys.error(s"unknown view $v"))._2
          span("view", v, vs.id)(_ => f(spark, sfDir))
        }
      }._2.seconds
    }
    val viewsDir = new File(s"$work/views")
    val generations = Option(viewsDir.listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory)
      .flatMap(f => Option(f.listFiles()).getOrElse(Array.empty[File]))
      .count(g => g.isDirectory && !g.getName.contains(".tmp-"))
    // the first setup is timed from the JVM launch, so it carries JVM
    // start and every cold cost
    val seconds = launchMs.filter(_ => i == 0).map(l => (now() - l) / 1000.0)
      .getOrElse((System.nanoTime() - t0) / 1e9)
    Map(
      "seconds" -> seconds,
      "session_s" -> sessionS,
      "views_s" -> viewsS,
      "views_built" -> generations,
      "views_bytes" -> du(viewsDir))
  }

  /** Issue one row: build, Catalyst, delivery, each a span. */
  private def issue(name: String, passId: String): Issued = {
    val q = Registry.byName(name)
    Registry.clearMemos()
    if (probe != null) probe.currentRow = name
    var err: String = null
    var df: DataFrame = null
    var result: Array[Row] = null
    val (_, row) = span("row", name, passId) { r =>
      try {
        df = span("build", name, r.id)(_ => q.run(spark, sfDir))._1
        if (write) {
          span("write", name, r.id) { _ =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          }
        } else {
          span("plan", name, r.id)(_ => df.queryExecution.executedPlan)
          result = span("exec", name, r.id)(_ => df.collect())._1
        }
      } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
    }
    // the audit overwrites these on its next run, so read them now
    val fams =
      if (name == "stream_state_api_parity") graft.operators.StreamEquivalence.lastMachineSeconds
      else Map.empty[String, Double]
    Issued(name, row, df, result, err, fams)
  }

  /** The sample record of an issued row: timings, result hash, plan
    * check and, when traced, what the plan that ran tells. */
  private def record(i: Issued, writeQe: Option[QueryExecution]): Map[String, Any] = {
    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "name" -> i.name, "span" -> i.row.id, "wall_s" -> i.row.seconds,
      "codegen_s" -> i.row.codegenS, "error" -> i.error)
    spans.filter(_.parent == i.row.id).foreach(s => rec(s"${s.kind}_s") = s.seconds)
    if (i.familyS.nonEmpty) rec("family_s") = i.familyS
    if (i.error == null) {
      if (!write) {
        rec("hash") = resultHash(i.df, i.result)
        rec("result_rows") = i.result.length.toLong
      }
      val qe = if (write) writeQe else Some(i.df.queryExecution)
      // a write whose plan was not captured has no plan_check, and
      // run.py counts the row as failed
      qe.foreach(qe => rec("plan_check") = fullResultCheck(i.df, qe))
      if (trace) qe.foreach { qe =>
        rec("broadcast_bytes") = broadcastBytes(qe.executedPlan)
        rec("phases_s") = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1000.0 }
        if (write) rec("result_rows") = collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
          .flatMap(_.cmd.metrics.get("numOutputRows").map(_.value)).sum
      }
      if (write) {
        val files = Option(new File(s"$outDir/${i.name}").listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.startsWith("part-"))
        rec("write_files") = files.length
        rec("write_bytes") = files.map(_.length).sum
      }
    }
    rec.toMap
  }

  def main(): Unit = {
    new File(s"$work/views").mkdirs()
    new File(outDir).mkdirs()
    if (write) {
      // the oracle file tools/check.py reads next to the written results
      val oracles = graft.SparkEntry.oracleSql
      val missing = rows.filterNot(oracles.contains)
      require(missing.isEmpty, s"rows without oracle SQL cannot be checked: ${missing.mkString(",")}")
      Files.write(Paths.get(s"$outDir/oracle_sql.json"),
        Json(rows.map(r => r -> oracles(r)).toMap).getBytes(StandardCharsets.UTF_8))
    }
    if (trace) probe = new Probe
    val setupRecs = (0 until setups).map(setUp)
    val writes = new WriteCapture
    if (write) spark.listenerManager.register(writes)
    val gc0 = gcSeconds
    heapPools.foreach(_.resetPeakUsage())
    val order = new scala.util.Random(seed).shuffle(rows)
    val issued = ArrayBuffer.empty[Issued]
    val passSeconds = span("pass", "pass") { p =>
      order.foreach(n => issued += issue(n, p.id))
    }._2.seconds
    val gc = gcSeconds - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val samples = issued.map(i => record(i, writes.get(i.name)))

    val traced = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      // a direct Tables.t call per input table: the build layer's
      // per-table resolution cost, outside any row
      val tables = Seq("region", "nation", "supplier", "customer", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      val resolveMs = tables.map { t =>
        span("tables.resolve", t)(_ => Tables.t(spark, sfDir, t))._2.seconds * 1000.0
      }
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      traced("tables_resolve_ms") = resolveMs
      traced("span_counts") = probe.spanCounts.map { case (k, v) => k -> v.toMap }
      traced("stream_counts") = probe.streamCounts.map { case (k, v) => k -> v.toMap }
      traced("spans") = spans.map(s => Map(
        "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "seconds" -> s.seconds, "codegen_s" -> s.codegenS))
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "run_id" -> runId, "cpus" -> cpus, "setups" -> setupRecs, "pass_s" -> passSeconds,
      "samples" -> samples, "gc_s" -> gc,
      "heap_peak_mb" -> heapPeakMb, "peak_rss_mb" -> peakRssMb)
    out ++= traced
    stop(spark)
    Files.write(Paths.get(opt("out")), Json(out).getBytes(StandardCharsets.UTF_8))
  }
}
