package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / mixture operators for training-data
  * pipelines. Nothing here uses rand(): sampling keys are md5-derived
  * integers so every engine, run, and retry selects the identical
  * subset (SURVEY §2.9.6 bans nondeterministic built-ins in verified
  * output) — which is also the production-correct choice at 100 TB,
  * where a resumable/idempotent sample beats a seeded RNG whose output
  * depends on partitioning.
  *
  * Scale notes: hash-percent sampling is a pure map-side filter;
  * stratified top-k is one shuffle on the stratum key; interleaving is
  * one shuffle on the source key then a mixture-order sort — the
  * standard "round-robin by (position, source)" schedule used to mix
  * corpora for training.
  */
object Sampling {

  /** 32-bit md5-derived sampling key — identical in both engines.
    * Shared with [[Ml.mlNaiveBayes]] so every train/test split in the
    * engine cuts the corpus on the same deterministic boundary. */
  private[operators] def hkey(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  private[operators] def oHkey(e: String): String =
    s"('0x' || substr(md5(cast($e as varchar)), 1, 8))::BIGINT"

  /** ~10% deterministic sample: keep docs whose hash bucket is 0. */
  val sampleHashPct: Q = Q(
    "sample_hash_pct",
    Some(
      s"SELECT doc_id, lang, source FROM documents WHERE ${oHkey("doc_id")} % 10 = 0 " +
        "ORDER BY doc_id"
    ),
    (spark, dir) =>
      Tables
        .documents(spark, dir)
        .filter(hkey(col("doc_id")) % 10 === 0)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
  )

  /** Stratified sample: exactly (up to) 20 docs per language, chosen by
    * hash order — balanced strata regardless of the corpus's language
    * skew (en is ~44% of this corpus). */
  val sampleStratified: Q = Q(
    "sample_stratified",
    Some(
      "SELECT lang, doc_id FROM (SELECT lang, doc_id, " +
        s"row_number() OVER (PARTITION BY lang ORDER BY ${oHkey("doc_id")}, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 20 ORDER BY lang, doc_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(hkey(col("doc_id")), col("doc_id"))
      Tables
        .documents(spark, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }
  )

  /** Mixture interleave: within each source, order docs by hash
    * (deterministic shuffle), then emit the first 5 rounds of a
    * round-robin over sources — the (round, source) order is the
    * training-time mixture schedule. */
  val interleaveSources: Q = Q(
    "interleave_sources",
    Some(
      "SELECT round, source, doc_id FROM (SELECT source, doc_id, " +
        s"row_number() OVER (PARTITION BY source ORDER BY ${oHkey("doc_id")}, doc_id) AS round " +
        "FROM documents) WHERE round <= 5 ORDER BY round, source"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(hkey(col("doc_id")), col("doc_id"))
      Tables
        .documents(spark, dir)
        .withColumn("round", row_number().over(w))
        .filter(col("round") <= 5)
        .select(col("round").cast("long").as("round"), col("source"), col("doc_id"))
        .orderBy(col("round"), col("source"))
    }
  )

  /** Per-user time-range join: for each purchase, how many views the
    * same user made in the preceding hour. Equi-join on user_id (high
    * cardinality — parallelizes) with the time window as a residual
    * condition; the window-function as-of pattern is its sibling
    * (Joins.asOf). */
  val joinRangeEvents: Q = Q(
    "join_range_events",
    Some(
      "SELECT p.event_id, p.user_id, count(v.event_id) AS views_1h, " +
        Det.oRN("coalesce(" + Det.oSum("v.value") + ", 0)", 6) + " AS view_value " +
        "FROM events p LEFT JOIN events v ON p.user_id = v.user_id " +
        "AND v.event_type = 'view' AND v.ts < p.ts " +
        "AND v.ts >= p.ts - INTERVAL 1 HOUR " +
        "WHERE p.event_type = 'purchase' " +
        "GROUP BY p.event_id, p.user_id ORDER BY p.event_id"
    ),
    (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val p = ev
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val v = ev
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("value").as("v_value"))
      p.join(
        v,
        col("p_user") === col("v_user") &&
          col("v_ts") < col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        "left"
      )
        .groupBy(col("p_id").as("event_id"), col("p_user").as("user_id"))
        .agg(
          count(col("v_ts")).as("views_1h"),
          Det.rN(coalesce(Det.dsum(col("v_value")), lit(0.0)), 6).as("view_value")
        )
        .orderBy(col("event_id"))
    }
  )

  /** Source-mixture rebalancing plan: per source, its current corpus
    * share and the sampling rate that would bring the mixture to a
    * UNIFORM target (rate = min(1, target_share / current_share)),
    * plus the projected post-sampling doc count — the artifact a
    * training run reads to set its data-mixing weights. One tiny
    * aggregate (|sources| rows) cross-joined with a broadcast 1-row
    * total; everything downstream of the count is driver-free column
    * arithmetic. Determinism: counts are exact longs; every ratio is a
    * division of identical exact values in an identical expression
    * tree, so doubles (and the floor) agree bit-for-bit cross-engine. */
  val mixReport: Q = Q(
    "mix_report",
    Some(
      "WITH s AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source), " +
        "t AS (SELECT cast(sum(n) as bigint) AS total, count(*)::BIGINT AS k FROM s) " +
        "SELECT source, n AS n_docs, " +
        Det.oRN("n::DOUBLE / total", 6) + " AS share, " +
        Det.oRN("least(1.0, total::DOUBLE / (k * n))", 6) + " AS sampling_rate, " +
        "cast(floor(n::DOUBLE * least(1.0, total::DOUBLE / (k * n))) as bigint) AS projected_docs " +
        "FROM s CROSS JOIN t ORDER BY source"
    ),
    (spark, dir) => {
      val s = Tables
        .documents(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val t = s.agg(sum(col("n")).cast("long").as("total"), count(lit(1)).as("k"))
      val rate = least(
        lit(1.0),
        col("total").cast("double") / (col("k") * col("n"))
      )
      s.crossJoin(broadcast(t))
        .select(
          col("source"),
          col("n").as("n_docs"),
          Det.rN(col("n").cast("double") / col("total"), 6).as("share"),
          Det.rN(rate, 6).as("sampling_rate"),
          floor(col("n").cast("double") * rate).cast("long").as("projected_docs")
        )
        .orderBy(col("source"))
    }
  )

  /** Quality-weighted deterministic sampling: keep-probability grows
    * with a quality proxy (n_chars, saturating at 400), realized by
    * comparing an md5-uniform in [0,1) against it — longer/higher-
    * quality docs are kept at a higher rate, and the decision is a
    * pure function of doc_id so retries/engines agree row-for-row.
    * The comparison is exact-rational vs exact-rational in the same
    * expression shape both engines, never a float artifact. Map-side
    * filter — zero shuffle at any scale. */
  val sampleQualityWeighted: Q = Q(
    "sample_quality_weighted",
    Some(
      "SELECT doc_id, lang, n_chars, " +
        Det.oRN("least(1.0, n_chars::DOUBLE / 400.0)", 6) + " AS keep_p " +
        s"FROM documents WHERE (${oHkey("doc_id")} % 1000000)::DOUBLE / 1000000.0 " +
        "< least(1.0, n_chars::DOUBLE / 400.0) ORDER BY doc_id"
    ),
    (spark, dir) => {
      val u = (hkey(col("doc_id")) % 1000000).cast("double") / 1000000.0
      val p = least(lit(1.0), col("n_chars").cast("double") / 400.0)
      Tables
        .documents(spark, dir)
        .filter(u < p)
        .select(col("doc_id"), col("lang"), col("n_chars"), Det.rN(p, 6).as("keep_p"))
        .orderBy(col("doc_id"))
    }
  )

  /** Sequence packing: assign documents to fixed-budget training packs
    * (budget = 4000 chars ≈ a 1k-token context) without splitting a
    * document. Docs are laid out in deterministic hash order within
    * each language shard; a doc belongs to the pack where its START
    * offset falls (running prefix sum of sizes), i.e. streaming
    * first-fit packing with boundary overflow — the standard
    * concatenate-then-chunk layout LLM dataloaders use. One window per
    * lang partition (partition-parallel; at 100 TB you'd sub-shard the
    * partition key to (lang, hash bucket) to bound any one shard — the
    * pack ids stay local to the shard either way) plus a tiny 2-key
    * aggregate. Determinism: offsets are exact long sums in identical
    * order both engines; pack_id is floor of an exact-double division
    * (sums ≪ 2^53). */
  val pipelinePack: Q = Q(
    "pipeline_pack",
    Some(
      "SELECT lang, pack_id, count(*)::BIGINT AS n_docs, " +
        "cast(sum(n_chars) as bigint) AS chars_packed, " +
        Det.oRN("cast(sum(n_chars) as bigint)::DOUBLE / 4000.0", 6) + " AS fill_ratio " +
        "FROM (SELECT lang, n_chars, " +
        "cast(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY " +
        s"${oHkey("doc_id")}, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)::DOUBLE / 4000.0) as bigint) " +
        "AS pack_id FROM documents) GROUP BY lang, pack_id ORDER BY lang, pack_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("lang"))
        .orderBy(hkey(col("doc_id")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables
        .documents(spark, dir)
        .withColumn("start_off", sum(col("n_chars")).over(w) - col("n_chars"))
        .withColumn("pack_id", floor(col("start_off").cast("double") / 4000.0).cast("long"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars_packed"),
          Det.rN(sum(col("n_chars")).cast("long").cast("double") / 4000.0, 6).as("fill_ratio")
        )
        .orderBy(col("lang"), col("pack_id"))
    }
  )

  /** Token-budget curation cut: given a fixed training-token budget
    * (here half the corpus), keep documents best-quality-first until
    * the budget is spent, and report the cut per source — the decision
    * table a data-mixing owner reads when a 1T-token run can't take
    * the whole crawl. Ordering key = [[TextAnalysis.textQuality]]'s
    * composite score (same arithmetic, unrounded), tie-broken by
    * doc_id; a document is kept iff its INCLUSIVE running token total
    * in (quality desc, doc_id) order fits the budget.
    *
    * Scale shape: the global running sum is [[Grids.runningSums]]'
    * two-level cumulative (range-bucketed, partitioned window — never
    * a partitionless window over the corpus); the budget is one
    * broadcast scalar; everything else is map-side projection into a
    * per-source aggregate. Determinism: the quality score is IEEE
    * arithmetic over exact ints in identical operation order in both
    * engines (bit-identical doubles — the same precedent text_quality's
    * hash match established), so the (quality, doc_id) order and the
    * exact long running sums agree; the budget compare is
    * exact-long-as-double vs 0.5 × exact-long-as-double. */
  val pipelineTokenBudget: Q = Q(
    "pipeline_token_budget",
    Some(
      "WITH d AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS t FROM documents), " +
        "f AS (SELECT doc_id, source, cast(len(t) as bigint) AS n_tokens, " +
        TextAnalysis.oQualityScore("n_chars", "t") + " AS q FROM d), " +
        "tt AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM f), " +
        "c AS (SELECT *, sum(n_tokens) OVER (ORDER BY q DESC, doc_id) AS cum FROM f) " +
        "SELECT source, cast(count(*) as bigint) AS n_docs, " +
        "cast(sum(n_tokens) as bigint) AS n_tokens, " +
        "cast(sum(CASE WHEN c.cum <= 0.5 * tt.tot THEN 1 ELSE 0 END) as bigint) AS n_docs_kept, " +
        "cast(sum(CASE WHEN c.cum <= 0.5 * tt.tot THEN n_tokens ELSE 0 END) as bigint) AS n_tokens_kept, " +
        Det.oRN(
          "sum(CASE WHEN c.cum <= 0.5 * tt.tot THEN n_tokens ELSE 0 END)::DOUBLE / sum(n_tokens)::DOUBLE",
          6) + " AS kept_token_frac " +
        "FROM c, tt GROUP BY source ORDER BY source"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.functions.broadcast
      val t = split(col("text"), " ")
      val f = Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), t.as("t"))
        .select(
          col("doc_id"),
          col("source"),
          size(col("t")).cast("long").as("n_tokens"),
          // THE shared quality composite (one definition engine-wide:
          // TextAnalysis.qualityScore, unrounded — the text_quality
          // row's exact score; SamplingSpec pins the two rows equal)
          TextAnalysis.qualityScore(col("n_chars"), col("t")).as("q")
        )
      val tot = f.agg(sum(col("n_tokens")).cast("double").as("tot"))
      val kept = col("cum_tokens").cast("double") <= lit(0.5) * col("tot")
      Grids
        .runningSums(f, "q", desc = true, Seq("doc_id"), Seq((col("n_tokens"), "cum_tokens")))
        .crossJoin(broadcast(tot)) // bounded: ONE budget row
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(when(kept, 1L).otherwise(0L)).cast("long").as("n_docs_kept"),
          sum(when(kept, col("n_tokens")).otherwise(0L)).cast("long").as("n_tokens_kept"),
          Det.rN(
            sum(when(kept, col("n_tokens")).otherwise(0L)).cast("double") /
              sum(col("n_tokens")).cast("double"),
            6).as("kept_token_frac")
        )
        .orderBy(col("source"))
    }
  )

  /** The END-TO-END corpus build in ONE audited plan (VERDICT r18 #1) —
    * the engine's LLM-pipeline families composed the way a real
    * training-data run chains them, per language:
    *
    *   raw → quality gate (length + token floor, [[pipelineFunnel]]'s
    *   gate) → exact-dedup survivors (min doc_id per sha256) → near-dup
    *   survivors (drop every doc paired jac ≥ 0.8 with a SMALLER id in
    *   the PERSISTED pair manifest — the view, not a recompute) →
    *   decontaminated (no ≥ 50% 5-gram coverage of an eval-set doc,
    *   from the PERSISTED shingle view) → token-budget cut (keep
    *   best-quality-first until half the clean corpus' tokens, the
    *   [[pipelineTokenBudget]] rule over [[Grids.runningSums]]) →
    *   packed (4000-char packs, [[pipelinePack]]'s layout) → per-lang
    *   build report.
    *
    * Why it exists as ONE row: every stage is individually
    * oracle-green, but composition is where view-reuse and pushdown
    * bugs hide — this row proves the stages chain (flags, not
    * filters, so one corpus pass feeds the funnel counts; the dedup
    * and contamination verdicts arrive as doc-keyed equi-joins from
    * the write-once views).
    *
    * 100 TB: inputs are the persisted pair manifest and shingle view
    * (built once per corpus snapshot); the verdict sets are doc-keyed
    * joins (broadcast at audit scale, shuffle-capable at corpus scale
    * — same shape either way); the only corpus-wide shuffles are the
    * sha256 keeper groupBy, the bucketed running sum, and the per-lang
    * pack window — [[pipelinePack]]'s sub-shard note applies
    * unchanged. Determinism: gates are exact-int compares; q is the
    * ONE [[TextAnalysis.qualityScore]] spelling; cum sums are exact
    * longs; pack offsets exact longs; mean_fill is one IEEE division,
    * trunc-rounded. */
  /** The corpus-build flag pass — one slim frame with every gate as a
    * FLAG (doc_id, lang, n_chars, n_tokens, q, pass_q/e/n/c), built from
    * ONE corpus scan for the flags + one for the sha256 keepers, with
    * the near-dup and contamination verdicts arriving as doc-keyed
    * joins FROM THE PERSISTED VIEWS (the pair manifest; the 5-gram
    * shingle view) — never recomputed inline. Factored out so
    * PlanShapeSpec can pin exactly that shape on the un-truncated
    * plan. */
  private[graft] def corpusBuildFlags(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    // near-dup verdicts from the WRITE-ONCE jac >= 0.8 pair manifest
    // (the view every full-scope pair consumer serves from): a doc is
    // dropped iff it pairs with a smaller-id doc, i.e. appears as idb
    val nearDropped = spark.read
      .parquet(Dedup.pairTablePath(spark, dir))
      .select(col("idb").as("doc_id"))
      .distinct()
      .withColumn("near_dup", lit(true))
    corpusBuildFlagsWith(spark, dir, nearDropped)
  }

  /** The `_bestkeep` flag pass: identical to [[corpusBuildFlags]]
    * except the near-dup SURVIVOR POLICY — instead of the smaller-id
    * rule, drop every dup-graph endpoint that is not its cluster's
    * highest-quality member. The verdicts arrive as the UNCOLLECTED
    * doc-keyed drop FRAME ([[Dedup.bestOfClusterDroppedFrame]], r21 —
    * VERDICT r20 #1): the CC + keeper argmax run from the persisted
    * pair view (never an inline re-screen), and the flag join reads
    * the checkpointed anti-join result directly, so the composed plan
    * carries NO driver-side collect and no LocalRelation of collected
    * ids — the shape that survives an O(corpus) drop set at 100 TB. */
  private[graft] def corpusBuildFlagsBestKeep(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val nearDropped = Dedup
      .bestOfClusterDroppedFrame(spark, dir)
      .withColumn("near_dup", lit(true))
    corpusBuildFlagsWith(spark, dir, nearDropped)
  }

  /** Shared flag-pass body: `nearDropped` is the policy knob — a
    * (doc_id, near_dup=true) frame naming the near-dup stage's DROPPED
    * docs under whichever survivor rule the variant applies. */
  private def corpusBuildFlagsWith(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      nearDropped: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t    = split(col("text"), " ")
    val keepers = docs
      .groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("pass_e"))
    // contamination verdicts from the WRITE-ONCE 5-gram shingle view —
    // literally text_contamination's screen, reduced to a doc_id set
    val contaminated = TextAnalysis
      .contamScreenAgainst(
        spark.read
          .parquet(TextAnalysis.contamShingleTablePath(spark, dir))
          .filter(col("doc_id") >= 20),
        TextAnalysis.contamBenchFrame(spark, dir))
      .select(col("doc_id"))
      .distinct()
      .withColumn("cont", lit(true))
    docs
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        size(t).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("n_chars"), t).as("q"),
        (col("n_chars") >= 150 && size(t) >= 20).as("pass_q")
      )
      .join(keepers, Seq("doc_id"), "left")
      .join(broadcast(nearDropped), Seq("doc_id"), "left")
      .join(broadcast(contaminated), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        col("n_tokens"),
        col("q"),
        col("pass_q"),
        coalesce(col("pass_e"), lit(false)).as("pass_e"),
        (!coalesce(col("near_dup"), lit(false))).as("pass_n"),
        (!coalesce(col("cont"), lit(false))).as("pass_c")
      )
  }

  /** The smaller-id near-dup CTE block of the corpus-build oracle: a
    * doc is dropped iff it pairs with a smaller-id doc. */
  private def corpusBuildNdSmallerId: String =
    "dt AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
      "nd AS (SELECT DISTINCT b.doc_id AS idb FROM dt a JOIN dt b " +
      "ON a.lang = b.lang AND a.doc_id < b.doc_id " +
      s"AND ${Dedup.oLenRatio("a.t", "b.t")} " +
      s"WHERE ${Dedup.oJac("a.t", "b.t")} >= 0.8), "

  /** The best-of-cluster near-dup CTE block: connected components over
    * the jac ≥ 0.8 pair graph, keep the (n_chars DESC, doc_id) argmax
    * per component, drop every other endpoint. The closure runs on a
    * STAR-CONTRACTED quotient graph (every endpoint first merges with
    * min(self, min neighbor) — one GROUP BY, connectivity-preserving
    * for any graph) because the raw fixture graph is near-clique
    * (759k edges at sf0.1) and DuckDB 1.0's recursive `reach` on it
    * measured 180+ s, vs < 1 s after contraction. MATERIALIZED hints
    * keep DuckDB from re-inlining the pair join per reference (29 s a
    * pop at sf0.1). */
  private def corpusBuildNdBestKeep: String =
    "dt AS MATERIALIZED (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
      "pr AS MATERIALIZED (SELECT a.doc_id ida, b.doc_id idb FROM dt a JOIN dt b " +
      "ON a.lang = b.lang AND a.doc_id < b.doc_id " +
      s"AND ${Dedup.oLenRatio("a.t", "b.t")} " +
      s"WHERE ${Dedup.oJac("a.t", "b.t")} >= 0.8), " +
      "sym AS MATERIALIZED (SELECT ida AS a, idb AS b FROM pr UNION ALL SELECT idb, ida FROM pr), " +
      "l0 AS MATERIALIZED (SELECT a AS doc_id, least(a, min(b)) AS c0 FROM sym GROUP BY a), " +
      "ce AS MATERIALIZED (SELECT DISTINCT la.c0 AS a, lb.c0 AS b FROM sym s " +
      "JOIN l0 la ON s.a = la.doc_id JOIN l0 lb ON s.b = lb.doc_id WHERE la.c0 != lb.c0), " +
      "reach(x, y) AS (SELECT a, b FROM ce UNION " +
      "SELECT r.x, s.b FROM reach r JOIN ce s ON r.y = s.a WHERE s.b != r.x), " +
      "l1 AS (SELECT x AS c0, least(x, min(y)) AS cluster FROM reach GROUP BY x), " +
      "lblc AS (SELECT l0.doc_id, coalesce(l1.cluster, l0.c0) AS cluster " +
      "FROM l0 LEFT JOIN l1 ON l0.c0 = l1.c0), " +
      "keepd AS (SELECT doc_id FROM (SELECT l.doc_id, row_number() OVER " +
      "(PARTITION BY l.cluster ORDER BY d.n_chars DESC, l.doc_id) AS rn " +
      "FROM lblc l JOIN documents d ON l.doc_id = d.doc_id) WHERE rn = 1), " +
      "nd AS (SELECT doc_id AS idb FROM lblc WHERE doc_id NOT IN (SELECT doc_id FROM keepd)), "

  /** The corpus-build oracle, parameterized on the near-dup survivor
    * policy's CTE block (which must end by defining `nd(idb)` = the
    * dropped set). Everything downstream — quality gate, exact-dedup
    * keepers, contamination, budget cut, packing, funnel — is shared
    * verbatim between the two policy rows. */
  private def corpusBuildOracleSql(withPrefix: String, ndBlock: String): String =
    withPrefix + "keepers AS (SELECT min(doc_id) AS k FROM documents GROUP BY sha256(text)), " +
        ndBlock +
        "dd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 3), " +
        "i -> array_to_string(t[i:i+4], ' '))) AS s FROM dd WHERE len(t) >= 5), " +
        "bench AS (SELECT doc_id AS bench_id, len(s) AS nb, unnest(s) AS g FROM sh WHERE doc_id < 20), " +
        "corp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20), " +
        "cont AS (SELECT DISTINCT c.doc_id FROM corp c JOIN bench b ON c.g = b.g " +
        "GROUP BY c.doc_id, b.bench_id HAVING count(*)::DOUBLE / max(b.nb) >= 0.5), " +
        "f AS (SELECT doc_id, lang, n_chars, cast(len(t) as bigint) AS n_tokens, " +
        TextAnalysis.oQualityScore("n_chars", "t") + " AS q, " +
        "(n_chars >= 150 AND len(t) >= 20) AS pass_q, " +
        "(doc_id IN (SELECT k FROM keepers)) AS pass_e, " +
        "(doc_id NOT IN (SELECT idb FROM nd)) AS pass_n, " +
        "(doc_id NOT IN (SELECT doc_id FROM cont)) AS pass_c " +
        "FROM (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS t FROM documents)), " +
        "clean AS (SELECT * FROM f WHERE pass_q AND pass_e AND pass_n AND pass_c), " +
        "tt AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM clean), " +
        "cc AS (SELECT *, sum(n_tokens) OVER (ORDER BY q DESC, doc_id) AS cum FROM clean), " +
        "kept AS (SELECT cc.* FROM cc, tt WHERE cc.cum <= 0.5 * tt.tot), " +
        "pk AS (SELECT lang, n_chars, n_tokens, " +
        "cast(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY " +
        s"${oHkey("doc_id")}, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)::DOUBLE / 4000.0) as bigint) " +
        "AS pack_id FROM kept), " +
        "ka AS (SELECT lang, count(*)::BIGINT AS n_kept, " +
        "cast(sum(n_tokens) as bigint) AS n_tokens_kept, " +
        "cast(count(DISTINCT pack_id) as bigint) AS n_packs, " +
        "cast(sum(n_chars) as bigint) AS chars_packed FROM pk GROUP BY lang), " +
        "fu AS (SELECT lang, count(*)::BIGINT AS n_raw, " +
        "cast(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) as bigint) AS n_quality, " +
        "cast(sum(CASE WHEN pass_q AND pass_e THEN 1 ELSE 0 END) as bigint) AS n_exact, " +
        "cast(sum(CASE WHEN pass_q AND pass_e AND pass_n THEN 1 ELSE 0 END) as bigint) AS n_near, " +
        "cast(sum(CASE WHEN pass_q AND pass_e AND pass_n AND pass_c THEN 1 ELSE 0 END) as bigint) AS n_clean " +
        "FROM f GROUP BY lang) " +
        "SELECT fu.lang, n_raw, n_quality, n_exact, n_near, n_clean, " +
        "cast(coalesce(n_kept, 0) as bigint) AS n_kept, " +
        "cast(coalesce(n_tokens_kept, 0) as bigint) AS n_tokens_kept, " +
        "cast(coalesce(n_packs, 0) as bigint) AS n_packs, " +
        "cast(coalesce(chars_packed, 0) as bigint) AS chars_packed, " +
        "CASE WHEN coalesce(n_packs, 0) > 0 THEN " +
        Det.oRN("chars_packed::DOUBLE / (n_packs * 4000.0)", 6) +
        " ELSE 0.0 END AS mean_fill " +
        "FROM fu LEFT JOIN ka ON fu.lang = ka.lang ORDER BY fu.lang"

  /** Shared downstream of both corpus-build rows: the lineage-truncated
    * flag frame in, the 11-column per-lang build report out.
    *
    * The flag pass feeds SIX downstream consumers (funnel aggregate,
    * clean filter, budget total, the running sum's internal
    * references) — callers truncate its lineage so the corpus is
    * flagged ONCE and every consumer reads the materialized slim frame
    * instead of re-deriving the joins (the no-recompute contract
    * PlanShapeSpec pins; at 100 TB this is one corpus pass + one
    * 9-column write, not six passes). */
  private def corpusBuildReport(f: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clean = f
      .filter(col("pass_q") && col("pass_e") && col("pass_n") && col("pass_c"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"), col("q"))
    val tot  = clean.agg(sum(col("n_tokens")).cast("double").as("tot"))
    val kept = Grids
      .runningSums(clean, "q", desc = true, Seq("doc_id"), Seq((col("n_tokens"), "cum_tokens")))
      .crossJoin(broadcast(tot)) // bounded: ONE budget row
      .filter(col("cum_tokens").cast("double") <= lit(0.5) * col("tot"))
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(hkey(col("doc_id")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ka = kept
      .withColumn("start_off", sum(col("n_chars")).over(w) - col("n_chars"))
      .withColumn("pack_id", floor(col("start_off").cast("double") / 4000.0).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).cast("long").as("n_tokens_kept"),
        countDistinct(col("pack_id")).as("n_packs"),
        sum(col("n_chars")).cast("long").as("chars_packed")
      )
    f.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("pass_q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("pass_q") && col("pass_e"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("pass_q") && col("pass_e") && col("pass_n"), 1L).otherwise(0L)).as("n_near"),
        sum(when(col("pass_q") && col("pass_e") && col("pass_n") && col("pass_c"), 1L)
          .otherwise(0L)).as("n_clean")
      )
      .join(broadcast(ka), Seq("lang"), "left")
      .select(
        col("lang"),
        col("n_raw"),
        col("n_quality"),
        col("n_exact"),
        col("n_near"),
        col("n_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("n_packs"), lit(0L)).as("n_packs"),
        coalesce(col("chars_packed"), lit(0L)).as("chars_packed"),
        when(coalesce(col("n_packs"), lit(0L)) > 0,
          Det.rN(col("chars_packed").cast("double") / (col("n_packs") * 4000.0), 6))
          .otherwise(0.0).as("mean_fill")
      )
      .orderBy(col("lang"))
  }

  val pipelineCorpusBuild: Q = Q(
    "pipeline_corpus_build",
    Some(corpusBuildOracleSql("WITH ", corpusBuildNdSmallerId)),
    (spark, dir) => corpusBuildReport(graft.Lineage.truncate(corpusBuildFlags(spark, dir)))
  )

  /** The corpus build with the SURVIVOR-POLICY knob turned (VERDICT
    * r19 #1): identical pipeline — quality gate → exact-dedup keepers →
    * near-dup stage → decontamination → quality-ordered token-budget
    * cut → 4000-char packing → per-lang report — but the near-dup
    * stage keeps each dup cluster's HIGHEST-QUALITY member
    * ([[Dedup.bestOfClusterDroppedFrame]]: n_chars desc, doc_id tiebreak,
    * over connected components of the persisted pair manifest) instead
    * of the smaller-id rule. Funnel consistency with the sibling row is
    * structural: n_raw/n_quality/n_exact are policy-independent
    * (SamplingSpec pins equality), while n_near and everything
    * downstream differ exactly by the policy (324 endpoints at sf0.01:
    * smaller-id keeps 18, best-of-cluster keeps its 6 cluster argmaxes).
    * memoizes = false since r21: the row consumes the uncollected drop
    * FRAME (recomputed per run — the honest measurement), not
    * [[Dedup]]'s collected-Seq memo, which now serves only the
    * spec/probe paths. */
  val pipelineCorpusBuildBestkeep: Q = Q(
    "pipeline_corpus_build_bestkeep",
    Some(corpusBuildOracleSql("WITH RECURSIVE ", corpusBuildNdBestKeep)),
    (spark, dir) => corpusBuildReport(graft.Lineage.truncate(corpusBuildFlagsBestKeep(spark, dir)))
  )

  /** Deterministic stratified train/test split — the assignment every
    * training pipeline needs to be reproducible across reruns, engines,
    * and cluster sizes: membership is a pure function of the document
    * key (md5 bucket mod 10 → 10% test), never of row order, partition
    * count, or a seeded RNG. The report shows per-language counts and
    * realized shares (a skew check on the strata). Map-side assignment
    * + one small aggregate; at 100 TB the split column is computed in
    * the same scan that reads the corpus — no extra pass, and any
    * worker can re-derive membership without coordination.
    */
  val sampleTrainTestSplit: Q = Q(
    "sample_train_test_split",
    Some(
      "WITH s AS (SELECT lang, CASE WHEN " + oHkey("doc_id") + " % 10 = 0 " +
        "THEN 'test' ELSE 'train' END AS split FROM documents) " +
        "SELECT lang, split, count(*) AS n_docs, " +
        Det.oRN("count(*)::DOUBLE / (sum(count(*)) OVER (PARTITION BY lang))::DOUBLE", 6) +
        " AS share FROM s GROUP BY lang, split ORDER BY lang, split"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
      Tables
        .documents(spark, dir)
        .withColumn("split", when(hkey(col("doc_id")) % 10 === 0, "test").otherwise("train"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn(
          "share",
          Det.rN(col("n_docs").cast("double") / sum(col("n_docs")).over(w).cast("double"), 6)
        )
        .orderBy(col("lang"), col("split"))
    }
  )

  /** Rendezvous (highest-random-weight) shard assignment — consistent
    * hashing without a ring: each doc goes to the shard whose
    * per-(doc, shard) hash is largest, so growing the fleet from 4 to
    * 5 shards moves only the docs the NEW shard now wins (~1/5),
    * where mod-N hashing would reshuffle ~4/5 of the corpus. The
    * report quantifies exactly that: per final shard, how many docs it
    * holds and how many moved in the 4→5 transition. Pure map-side
    * math (explode over candidate shards + per-doc argmax with a
    * deterministic (hash, shard) tie-break) — any worker computes any
    * doc's shard with no coordination, the property that makes this
    * THE placement function for distributed caches and shard maps.
    */
  val sampleRendezvousShards: Q = Q(
    "sample_rendezvous_shards",
    Some(
      "WITH e AS (SELECT doc_id, i, " +
        "('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT AS h " +
        "FROM documents, (SELECT unnest(range(0, 5)) AS i)), " +
        "a AS (SELECT doc_id, " +
        "first(i ORDER BY h DESC, i DESC) AS s5, " +
        "first(i ORDER BY h DESC, i DESC) FILTER (i < 4) AS s4 FROM e GROUP BY doc_id) " +
        "SELECT s5 AS shard, count(*) AS n_docs, " +
        "cast(sum(CASE WHEN s4 <> s5 THEN 1 ELSE 0 END) as bigint) AS n_moved " +
        "FROM a GROUP BY s5 ORDER BY shard"
    ),
    (spark, dir) => {
      val e = Tables
        .documents(spark, dir)
        .select(col("doc_id"))
        .withColumn("i", explode(sequence(lit(0L), lit(4L))))
        .withColumn("h", hkey(concat(col("doc_id").cast("string"), lit(":"), col("i").cast("string"))))
      e.groupBy(col("doc_id"))
        .agg(
          max(struct(col("h"), col("i"))).getField("i").as("s5"),
          max(when(col("i") < 4, struct(col("h"), col("i")))).getField("i").as("s4")
        )
        .groupBy(col("s5").as("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("s4") =!= col("s5"), 1L).otherwise(0L)).as("n_moved")
        )
        .orderBy(col("shard"))
    }
  )

  /** Deterministic per-epoch global shuffle — the dataloader primitive
    * a training pipeline runs over the curated corpus every epoch: the
    * permutation for epoch e orders docs by md5(e ∥ doc_id), so it is
    * (a) a full reshuffle between epochs, (b) reproducible across runs
    * and engines with no RNG state, and (c) computable as one sort —
    * at 100 TB this is exactly one range-partitioned exchange per
    * epoch, and workers slice their shard by position. The report
    * proves both properties with exact checksums: per-(epoch, shard)
    * doc counts and id sums show the CONTENT rebalances across shards
    * between epochs, while the position-weighted checksum differing
    * between epochs shows the ORDER changed too.
    */
  val pipelineEpochShuffle: Q = Q(
    "pipeline_epoch_shuffle",
    Some(
      "WITH e AS (SELECT doc_id, epoch, " +
        "md5(cast(epoch as varchar) || '_' || cast(doc_id as varchar)) AS k " +
        "FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch)), " +
        "r AS (SELECT doc_id, epoch, " +
        "row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos FROM e) " +
        "SELECT epoch, (pos - 1) % 4 AS shard, count(*) AS n_docs, " +
        "cast(sum(doc_id) as bigint) AS id_sum, " +
        "cast(sum(doc_id * pos) as bigint) AS pos_checksum " +
        "FROM r GROUP BY 1, 2 ORDER BY epoch, shard"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("epoch")).orderBy(col("k"), col("doc_id"))
      Tables
        .documents(spark, dir)
        .select(col("doc_id"))
        .withColumn("epoch", explode(array(lit(0), lit(1))))
        .withColumn(
          "k",
          md5(concat(col("epoch").cast("string"), lit("_"), col("doc_id").cast("string")))
        )
        .withColumn("pos", row_number().over(w))
        .groupBy(col("epoch"), ((col("pos") - 1) % 4).cast("long").as("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("doc_id") * col("pos")).as("pos_checksum")
        )
        .orderBy(col("epoch"), col("shard"))
    }
  )

  /** Temperature-scaled source mixing (the multilingual/multi-source
    * reweighting of mBERT/XLM-R and data-mixture tuning): raw source
    * shares p_s are flattened to w_s ∝ p_s^α (α = 0.5 — sqrt, chosen
    * because IEEE sqrt is correctly rounded, so the power is
    * bit-identical cross-engine), then a 10k-doc budget is allotted as
    * ⌊w_s·10000⌉. Upweights tail sources a proportional sample would
    * starve.
    *
    * Determinism: n_s and N exact; p_s one division; sqrt exact; the
    * normalizer Σ√p̅ is the order-independent decimal sum; w_s one
    * division trunc-rounded 6 dp; the allotment is the same
    * floor(x·10⁴+0.5) in both engines.
    *
    * 100 TB: one tiny per-source aggregate (partial map-side) + scalar
    * broadcasts — nothing scales with corpus size except the first
    * count. */
  val sampleTemperature: Q = Q(
    "sample_temperature",
    Some(
      "WITH s AS (SELECT source, cast(count(*) as bigint) AS n_docs FROM documents GROUP BY source), " +
        "n AS (SELECT cast(sum(n_docs) as bigint) AS n FROM s), " +
        "q AS (SELECT source, n_docs, sqrt(n_docs::DOUBLE / n.n) AS sq FROM s CROSS JOIN n), " +
        "t AS (SELECT cast(sum(cast(sq as decimal(30,8))) as double) AS tot FROM q) " +
        "SELECT source, n_docs, " + Det.oRN("sq / t.tot", 6) + " AS weight, " +
        "cast(floor(" + Det.oRN("sq / t.tot", 6) + " * 10000 + 0.5) as bigint) AS alloted_docs " +
        "FROM q CROSS JOIN t ORDER BY source"
    ),
    (spark, dir) => {
      val s = Tables
        .documents(spark, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val n = s.agg(sum(col("n_docs")).as("n"))
      val q = s
        .crossJoin(broadcast(n))
        .withColumn("sq", sqrt(col("n_docs").cast("double") / col("n")))
      val t = q.agg(Det.dsum(col("sq")).as("tot"))
      q.crossJoin(broadcast(t))
        .select(
          col("source"),
          col("n_docs"),
          Det.rN(col("sq") / col("tot"), 6).as("weight"),
          floor(Det.rN(col("sq") / col("tot"), 6) * 10000 + lit(0.5)).cast("long").as("alloted_docs")
        )
        .orderBy(col("source"))
    }
  )

  /** Mixture solver under a repetition cap — the planning step between
    * [[sampleTemperature]]'s target weights and an actual training run:
    * given each source's available token mass, a UNIFORM target mixture,
    * and a token budget of FOUR corpus-sizes (a training run that needs
    * more tokens than one pass supplies), how many epochs of
    * each source do we take, which sources saturate the 4-epoch
    * repetition cap (the "don't repeat data too often" rule), and what
    * mixture do we actually achieve? required = budget/n_sources;
    * epochs = min(required/avail, 4); achieved = min(required, 4·avail);
    * achieved_share renormalizes over the capped allocations. `starved`
    * marks sources whose uncapped demand exceeded the cap — the signal
    * to go crawl more of that source.
    *
    * Determinism: avail/budget are exact longs; required and epochs are
    * single IEEE divisions; least() on identical doubles is exact; the
    * achieved-mass normalizer is a [[Det.dsum]] exact decimal sum;
    * every reported double is trunc-rounded.
    *
    * 100 TB: one map-side-partial per-source aggregate over the corpus,
    * then pure arithmetic on a |sources|-row table with two broadcast
    * scalars — nothing after the first aggregate scales with data. */
  val pipelineMixtureSolve: Q = Q(
    "pipeline_mixture_solve",
    Some(
      "WITH s AS (SELECT source, cast(count(*) as bigint) AS n_docs, " +
        "cast(sum(len(string_split(text, ' '))) as bigint) AS avail FROM documents GROUP BY 1), " +
        "t AS (SELECT cast(4 * sum(avail) as bigint) AS budget, count(*) AS ns FROM s), " +
        "j AS (SELECT source, n_docs, avail, budget::DOUBLE / ns AS required, " +
        "(budget::DOUBLE / ns) / avail::DOUBLE AS epochs_raw FROM s CROSS JOIN t), " +
        "a AS (SELECT source, n_docs, avail, " +
        "least(epochs_raw, 4.0) AS epochs, " +
        "least(required, avail::DOUBLE * 4.0) AS achieved, " +
        "CASE WHEN epochs_raw > 4.0 THEN 1 ELSE 0 END AS starved FROM j), " +
        "g AS (SELECT " + Det.oSum("achieved") + " AS tot FROM a) " +
        "SELECT source, n_docs, avail AS avail_tokens, " +
        Det.oRN("epochs", 6) + " AS epochs, " +
        Det.oRN("achieved", 4) + " AS achieved_tokens, " +
        Det.oRN("achieved / g.tot", 6) + " AS achieved_share, " +
        "cast(starved as bigint) AS starved " +
        "FROM a CROSS JOIN g ORDER BY source"
    ),
    (spark, dir) => {
      val s = Tables
        .documents(spark, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("avail"))
      val t = s.agg((sum(col("avail")) * 4).as("budget"), count(lit(1)).as("ns"))
      val a = s
        .crossJoin(broadcast(t))
        .withColumn("required", col("budget").cast("double") / col("ns"))
        .withColumn("epochs_raw", col("required") / col("avail").cast("double"))
        .withColumn("epochs", least(col("epochs_raw"), lit(4.0)))
        .withColumn("achieved", least(col("required"), col("avail").cast("double") * 4.0))
        .withColumn("starved", when(col("epochs_raw") > 4.0, 1L).otherwise(0L))
      val g = a.agg(Det.dsum(col("achieved")).as("tot"))
      a.crossJoin(broadcast(g))
        .select(
          col("source"),
          col("n_docs"),
          col("avail").as("avail_tokens"),
          Det.rN(col("epochs"), 6).as("epochs"),
          Det.rN(col("achieved"), 4).as("achieved_tokens"),
          Det.rN(col("achieved") / col("tot"), 6).as("achieved_share"),
          col("starved")
        )
        .orderBy(col("source"))
    }
  )

  /** Per-source bootstrap confidence interval for mean document length
    * via the POISSON bootstrap (Chamandy et al.) — the only bootstrap
    * that works at 100 TB: instead of resampling n rows with
    * replacement (which needs global coordination), each row draws an
    * independent Poisson(1) replicate weight, and a replicate's
    * statistic is the weight-weighted mean. Weights come from the
    * md5-hash uniform (`hkey`), NOT `rand()` — deterministic under
    * task retry, AQE re-planning, and cross-engine replay, which is
    * the no-rand() rule every sampler in this file follows.
    * CI bounds are the 3rd/98th order statistics of the B = 100
    * replicate means (the 2.5 %/97.5 % quantile convention without a
    * cross-engine interpolation contract); `se` is the replicate
    * standard deviation.
    *
    * Determinism: the uniform is an exact integer scaled by 2⁻³²; the
    * inverse-CDF thresholds are shared decimal literals, so weights
    * are identical integers; per-replicate sums are EXACT integer
    * aggregates (weight × n_chars), leaving one IEEE division per
    * replicate mean; order statistics tie-break on b; the se sums go
    * through the decimal sum.
    *
    * 100 TB: the ×B row expansion is map-side (explode feeding a
    * partial aggregate — nothing materializes it) and the shuffle
    * carries |sources|·B pre-aggregated rows regardless of corpus
    * size; the ranking window runs over B rows per source. */
  val sampleBootstrapCi: Q = {
    val B = 100
    // cumulative Poisson(1) CDF at k = 0..6; weight 7 beyond
    val cdf = Seq(
      0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.9999167588451785
    )
    val wSql = "CASE " + cdf.zipWithIndex
      .map { case (c, k) => s"WHEN uu < $c THEN $k" }
      .mkString(" ") + s" ELSE ${cdf.length} END"
    Q(
      "sample_bootstrap_ci",
      Some(
        s"WITH r AS (SELECT source, doc_id, n_chars, unnest(generate_series(1, $B)) AS b FROM documents), " +
          "u AS (SELECT source, n_chars, b, " +
          s"${oHkey("cast(doc_id as varchar) || ':' || cast(b as varchar)")} / 4294967296.0 AS uu FROM r), " +
          s"w AS (SELECT source, n_chars, b, $wSql AS wt FROM u), " +
          "g AS (SELECT source, b, cast(sum(wt) as bigint) AS sw, " +
          "cast(sum(wt * n_chars) as bigint) AS swx FROM w GROUP BY 1, 2), " +
          "m AS (SELECT source, b, swx::DOUBLE / sw AS mb, " +
          "row_number() OVER (PARTITION BY source ORDER BY swx::DOUBLE / sw, b) AS rn, " +
          "count(*) OVER (PARTITION BY source) AS nb " +
          "FROM g WHERE sw > 0), " +
          "s AS (SELECT source, max(CASE WHEN rn = (nb + 39) // 40 THEN mb END) AS lo, " +
          "max(CASE WHEN rn = (nb * 39) // 40 + 1 THEN mb END) AS hi, " +
          "count(*) AS nb, " +
          s"${Det.oSum("mb")} AS sx, ${Det.oSum("mb * mb")} AS sxx FROM m GROUP BY source), " +
          "base AS (SELECT source, count(*)::BIGINT AS n_docs, " +
          s"${Det.oSum("n_chars")} / count(*) AS mean_chars FROM documents GROUP BY source) " +
          "SELECT base.source, n_docs, " + Det.oRN("mean_chars", 4) + " AS mean_chars, " +
          Det.oRN("lo", 4) + " AS ci_lo, " + Det.oRN("hi", 4) + " AS ci_hi, " +
          Det.oRN("sqrt((sxx - sx * sx / nb) / (nb - 1))", 4) + " AS se " +
          "FROM base JOIN s USING (source) ORDER BY source"
      ),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(spark, dir)
        val u = docs
          .select(
            col("source"),
            col("n_chars"),
            col("doc_id"),
            explode(sequence(lit(1), lit(B))).as("b")
          )
          .withColumn(
            "uu",
            hkey(concat(col("doc_id").cast("string"), lit(":"), col("b").cast("string"))) /
              4294967296.0
          )
        val wt = cdf.zipWithIndex
          .foldRight(lit(cdf.length): Column) { case ((c, k), acc) =>
            when(col("uu") < c, k).otherwise(acc)
          }
        val g = u
          .withColumn("wt", wt)
          .groupBy(col("source"), col("b"))
          .agg(
            sum(col("wt")).cast("long").as("sw"),
            sum(col("wt") * col("n_chars")).cast("long").as("swx")
          )
        val bySource = Window
          .partitionBy(col("source"))
          .orderBy(col("swx").cast("double") / col("sw"), col("b"))
        // sw > 0 guard (both engines, identically): a replicate whose
        // Poisson weights all drew 0 (P = e^-n_docs per source) has no
        // defined mean — drop it rather than divide by zero (ANSI) /
        // shift the order-statistic CI with a NULL. The CI positions
        // and the se divisor are computed from nb = count of SURVIVING
        // replicates (ADVICE r8): with nb = B they reduce to the
        // classic rn=3 / rn=B-2 / ÷(B-1), and when a replicate does
        // drop, the order statistics stay at the 2.5 %/97.5 % ranks of
        // what actually survived instead of silently biasing outward.
        // Positions use pure-integer ceil/floor division — no IEEE
        // rounding to disagree on across engines.
        val nbW = Window.partitionBy(col("source"))
        val m = g
          .filter(col("sw") > 0)
          .select(
            col("source"),
            col("b"),
            (col("swx").cast("double") / col("sw")).as("mb"),
            row_number().over(bySource).as("rn"),
            count(lit(1)).over(nbW).as("nb")
          )
        val s = m
          .groupBy(col("source"))
          .agg(
            max(when(col("rn") === expr("(nb + 39) div 40"), col("mb"))).as("lo"),
            max(when(col("rn") === expr("(nb * 39) div 40 + 1"), col("mb"))).as("hi"),
            count(lit(1)).as("nb"),
            Det.dsum(col("mb")).as("sx"),
            Det.dsum(col("mb") * col("mb")).as("sxx")
          )
        val base = docs
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            (Det.dsum(col("n_chars")) / count(lit(1))).as("mean_chars")
          )
        base
          .join(s, Seq("source"))
          .select(
            col("source"),
            col("n_docs"),
            Det.rN(col("mean_chars"), 4).as("mean_chars"),
            Det.rN(col("lo"), 4).as("ci_lo"),
            Det.rN(col("hi"), 4).as("ci_hi"),
            Det.rN(
              sqrt((col("sxx") - col("sx") * col("sx") / col("nb")) / (col("nb") - 1)),
              4
            ).as("se")
          )
          .orderBy(col("source"))
      }
    )
  }

  def qs: Seq[Q] = Seq(
    sampleHashPct, sampleStratified, interleaveSources, joinRangeEvents,
    mixReport, sampleQualityWeighted, pipelinePack, pipelineTokenBudget, pipelineCorpusBuild,
    pipelineCorpusBuildBestkeep,
    sampleTrainTestSplit,
    sampleRendezvousShards, pipelineEpochShuffle, sampleTemperature,
    pipelineMixtureSolve, sampleBootstrapCi
  )
}
