package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FormattedMode, SimpleMode}

/** Dev entry point (not part of the driver contract). Every command
  * runs under [[Sessions.local]], the conf set of [[Bench]], against
  * `SPARK_GRAFT_SF_DIR` (default: the sf0.1 fixture committed under
  * `perfbench/data`, relative to the checkout):
  *
  *   - `repeat <n> [key=value] <query> ...` — one untimed pass, then
  *     `n` timed rounds of each query. A time is a `noop`-sink write of
  *     the FULL result, never `count()` (Catalyst prunes a count to a
  *     different plan). Memoizing rows are memo-cleared before every
  *     run, so each reading is a recompute. With `key=value` each round
  *     runs the queries with the runtime conf at its default and then
  *     set, interleaved, so noise bursts land on both arms.
  *   - `calib [n]` — [[Bench.calibProbe]]'s 200M-row reading, `n` times.
  *   - `plans audit` — one line of operator counts per registry row.
  *   - `plans dump [out]` — formatted plans of the headline rows into
  *     PLANS.md (or `out`), run-specific ids and paths normalised.
  *   - `plans file <dir> <suffix> <query> ...` — one formatted plan
  *     file per named query, for before/after plan evidence.
  */
object Dev {
  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "perfbench/data/sf0.1")

  def main(args: Array[String]): Unit = args.toList match {
    case "repeat" :: n :: rest if rest.nonEmpty =>
      val (ab, names) = rest.partition(_.contains('='))
      require(ab.size <= 1, s"repeat takes at most one key=value, got ${ab.mkString(" ")}")
      repeat(n.toInt, ab.headOption.map(_.split("=", 2)).map { case Array(k, v) => (k, v) }, names)
    case "calib" :: rest => calib(rest.headOption.fold(3)(_.toInt))
    case "plans" :: "audit" :: Nil => plansAudit()
    case "plans" :: "dump" :: out => plansDump(out.headOption.getOrElse("PLANS.md"))
    case "plans" :: "file" :: dir :: suffix :: names if names.nonEmpty => plansFile(dir, suffix, names)
    case _ =>
      System.err.println("usage: graft.Dev repeat <n> [key=value] <query> ... | calib [n] | " +
        "plans audit | plans dump [out] | plans file <dir> <suffix> <query> ...")
      sys.exit(2)
  }

  /** Median; the mean of the two middle samples when n is even. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Fail fast on a typo'd name, before the session spins up. */
  private def requireKnown(names: Seq[String], extra: Set[String] = Set.empty): Unit = {
    val unknown = names.filterNot(n => Registry.byName.contains(n) || extra(n))
    if (unknown.nonEmpty) {
      System.err.println(s"[dev] unknown queries: ${unknown.mkString(", ")}\n" +
        s"[dev] valid names: ${Registry.all.map(_.name).sorted.mkString(", ")}")
      sys.exit(2)
    }
  }

  private def repeat(n: Int, ab: Option[(String, String)], names: Seq[String]): Unit = {
    requireKnown(names)
    val spark = Sessions.local()
    def timed(name: String): Double = {
      val q = Registry.byName(name)
      if (q.memoizes) Registry.clearMemos()
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      dt
    }
    // untimed pass: builds serving views and absorbs codegen off the clock
    val cold = names.map(n => n -> timed(n)).toMap
    val default = ab.flatMap { case (k, _) => spark.conf.getOption(k) }
    val arms = if (ab.isEmpty) Seq("-") else Seq("off", "on")
    val times = for (_ <- 1 to n; arm <- arms; name <- names) yield {
      ab.foreach { case (k, v) =>
        if (arm == "on") spark.conf.set(k, v) else default.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      (name, arm, timed(name))
    }
    for (name <- names; arm <- arms) {
      val ts = times.collect { case (`name`, `arm`, t) => t }
      println(f"[repeat] $name%-28s $arm%-3s cold=${cold(name)}%6.2f ${ts.map(t => f"$t%6.2f").mkString(" ")}" +
        f"  min=${ts.min}%6.2f median=${median(ts)}%6.2f")
    }
    spark.stop()
  }

  private def calib(n: Int): Unit = {
    val spark = Sessions.local()
    Bench.calibProbe(spark, 10000000L) // absorbs the probe plan's codegen/JIT
    (1 to n).foreach(i => println(f"[calib] $i: ${Bench.calibProbe(spark, 200000000L)}%.3f s"))
    spark.stop()
  }

  /** A plan as text, with embedded binary literals (e.g. a bloom
    * filter, kilobytes of hex) cut to a recognizable 16-hex-char head. */
  private def explain(df: DataFrame, mode: ExplainMode): String =
    df.queryExecution.explainString(mode)
      .replaceAll("(0x[0-9A-Fa-f]{16})[0-9A-Fa-f]{48,}", "$1<binary literal, truncated>")

  /** `plan` with the tokens that differ from run to run on the same
    * tree replaced by fixed ones, so two dumps diff only where a plan
    * changed: expression ids (`#N`), exchange plan ids, RDD ids, the
    * per-JVM [[Staging]] root and the ViewStore fingerprint dirs (the
    * build-version suffix stays). */
  private[graft] def normalise(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("(\\w+RDD)\\[\\d+\\]", "$1[N]")
    .replaceAll("graft_stage-[0-9a-f-]{36}", "graft_stage-<uuid>")
    .replaceAll("/[0-9a-f]{32}\\b", "/<fingerprint>")

  /** Catch plans that would not survive a 100× scale-up: stray
    * cartesian products, shuffles a broadcast should have absorbed,
    * repeated exchanges of the same data. */
  private def plansAudit(): Unit = {
    val spark = Sessions.local()
    val ops = Seq("Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct", "HashAggregate", "SortAggregate",
      "ObjectHashAggregate", "Window", "Sort ")
    for (q <- Registry.all.sortBy(_.name)) {
      val line =
        try {
          val plan = explain(q.run(spark, sfDir), SimpleMode)
          ops.map(k => k.trim -> plan.sliding(k.length).count(_ == k))
            .collect { case (k, c) if c > 0 => s"$k=$c" }.mkString(" ")
        } catch { case e: Throwable => s"ERROR ${String.valueOf(e.getMessage).take(80)}" }
      println(f"${q.name}%-24s $line")
    }
    spark.stop()
  }

  /** The rows whose plans SCALING.md's claims rest on. */
  private val headline = Seq(
    "agg_group_pricing", "join_broadcast_dims", "win_top3_per_group", "win_top3_topk",
    "ts_tumbling_1h", "sim_cosine_topk", "dedup_near_jaccard", "src_scan_pushdown",
    "src_dsv2_agg", "text_tfidf_top", "agg_decimal_pricing", "text_contamination",
    "sim_ann_ivf_persisted", "join_dpp_prune", "maint_incremental_agg",
    "graph_pagerank", "sim_coarse_rerank", "agg_theta_overlap",
    "dedup_ngram_exact", "text_bm25_topk", "join_asof_native_nearest",
    "join_bloom_prune", "sim_hybrid_rrf", "dedup_semantic",
    "dedup_incremental_persisted", "profile_fanout", "sample_reservoir",
    "ts_stl_decompose", "ml_auc", "text_ngram_novelty", "ts_periodogram", "ml_logreg_gd",
    "graph_bfs_reach", "sample_bootstrap_ci", "events_dau_wau",
    "dedup_lsh_recall_report", "dedup_minhash_lsh16", "ml_feature_bins",
    "ml_lift_gains", "pipeline_curriculum", "ml_ks_test",
    "dedup_clusters", "sim_ann_lsh_persisted", "text_bm25_persisted", "graph_lift",
    "dedup_containment", "dedup_simhash_pairs", "dedup_minhash_incremental",
    "sim_ann_pq", "sim_ann_pq_rerank", "sim_ann_ivfpq", "sim_ann_ivfpq_nprobe_report",
    "text_bpe_encode", "text_bpe_drift", "sim_ann_family_report", "text_bpe_train_wide",
    "pipeline_split_leakage", "maint_forget_report",
    "dedup_cdc_chunks", "dedup_cdc_incremental", "pipeline_token_budget", "sample_diverse_ivf",
    "sql_sorted_intersect", "sql_bloom_filter", "mm_decode_features", "join_skew_stress",
    "pipeline_corpus_build", "dedup_boilerplate",
    "pipeline_corpus_build_bestkeep", "dedup_boilerplate_global",
    "dedup_ngram_blocking_probe", "pipeline_boilerplate_rewrite")

  private def plansDump(out: String): Unit = {
    val spark = Sessions.local()
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.Dev plans dump` at $sfDir. These are the plans the\n")
    sb.append("SCALING.md claims rest on — regenerate after planner-affecting\nchanges.\n")
    for (name <- headline)
      sb.append(s"\n## $name\n\n```\n${normalise(explain(Registry.byName(name).run(spark, sfDir), FormattedMode))}```\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[dev] wrote $out")
    spark.stop()
  }

  /** Internal stages whose shape a spec pins but whose registry row
    * hides them behind a lineage truncate (the composed corpus builds
    * read a LogicalRDD, so only the stage plan shows the join shapes). */
  private val stages: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bestkeep_flagpass" -> ((s, d) => operators.Sampling.corpusBuildFlagsBestKeep(s, d)),
    "corpus_flagpass"   -> ((s, d) => operators.Sampling.corpusBuildFlags(s, d)))

  private def plansFile(dir: String, suffix: String, names: Seq[String]): Unit = {
    requireKnown(names, stages.keySet)
    val spark = Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    for (name <- names) {
      val df = stages.get(name).fold(Registry.byName(name).run(spark, sfDir))(_(spark, sfDir))
      val p = java.nio.file.Paths.get(dir, s"$name$suffix.txt")
      java.nio.file.Files.writeString(p, explain(df, FormattedMode))
      println(s"[dev] wrote $p")
    }
    spark.stop()
  }
}
