package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY §2.3).
  *
  * Scale strategy: fact-to-fact joins (lineitem⋈orders) shuffle on the
  * join key and scale linearly; dimension joins broadcast (explicit
  * `broadcast()` hints on region/nation, auto-broadcast for customer
  * under the 10 MB threshold) so the fact table is never shuffled for
  * them. The as-of join avoids a per-row range join entirely: it is a
  * single shuffle on user_id + one sort — the same plan a 1000-executor
  * cluster would want (no broadcast of a 100 TB event stream, no skewed
  * range explosion).
  */
object Joins {

  /** orders ⋈ customer (both sides large at scale → shuffled hash/SMJ;
    * Spark picks via stats + AQE), aggregated per market segment.
    */
  val innerHash: Q = Q(
    "join_inner_hash",
    Some(
      "SELECT c_mktsegment, count(*) AS n_orders, " +
        s"round(${Det.oSum("o_totalprice")}, 2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
    (spark, dir) =>
      Tables
        .orders(spark, dir)
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(Det.dsum(col("o_totalprice")), 2).as("revenue")
        )
        .orderBy(col("c_mktsegment"))
  )

  /** 5-way star join: the 600k-row (→100 TB) fact stays partition-local;
    * every dimension is broadcast, so the only shuffle is the final
    * 25-group aggregation.
    */
  val broadcastDims: Q = Q(
    "join_broadcast_dims",
    Some(
      "SELECT r_name, n_name, count(*) AS n_items, " +
        s"round(${Det.oSum("l_extendedprice * (1 - l_discount)")}, 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"
    ),
    (spark, dir) =>
      Tables
        .lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_items"),
          round(Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue")
        )
        .orderBy(col("r_name"), col("n_name"))
  )

  /** Left outer: every customer, with 0 for the orderless. Aggregate-
    * then-join keeps the outer side skinny (count per custkey first).
    */
  val leftOuter: Q = Q(
    "join_left_outer",
    Some(
      "SELECT c_custkey, c_name, coalesce(o.cnt, 0) AS n_orders " +
        "FROM customer LEFT JOIN " +
        "(SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o " +
        "ON c_custkey = o_custkey ORDER BY c_custkey"
    ),
    (spark, dir) => {
      val cnts = Tables
        .orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      Tables
        .customer(spark, dir)
        .join(cnts, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .orderBy(col("c_custkey"))
    }
  )

  /** Full outer on per-nation aggregates of two disjoint-ish entity sets
    * (suppliers vs customers) — at sf0.001 some nations have no
    * suppliers, exercising null sides both ways.
    */
  val fullOuter: Q = Q(
    "join_full_outer",
    Some(
      "SELECT coalesce(s.nk, c.nk) AS nationkey, " +
        "coalesce(s.s_cnt, 0) AS s_cnt, coalesce(c.c_cnt, 0) AS c_cnt " +
        "FROM (SELECT s_nationkey AS nk, count(*) AS s_cnt FROM supplier GROUP BY 1) s " +
        "FULL OUTER JOIN (SELECT c_nationkey AS nk, count(*) AS c_cnt FROM customer GROUP BY 1) c " +
        "ON s.nk = c.nk ORDER BY nationkey"
    ),
    (spark, dir) => {
      val s = Tables
        .supplier(spark, dir)
        .groupBy(col("s_nationkey").as("s_nk"))
        .agg(count(lit(1)).as("s_cnt"))
      val c = Tables
        .customer(spark, dir)
        .groupBy(col("c_nationkey").as("c_nk"))
        .agg(count(lit(1)).as("c_cnt"))
      s.join(c, col("s_nk") === col("c_nk"), "full")
        .select(
          coalesce(col("s_nk"), col("c_nk")).as("nationkey"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt")
        )
        .orderBy(col("nationkey"))
    }
  )

  /** EXISTS → left-semi join (Catalyst's RewritePredicateSubquery shape,
    * expressed directly). Restricted to 'P'-status orders so the
    * predicate is selective (every customer has *some* order).
    */
  val leftSemi: Q = Q(
    "join_left_semi",
    Some(
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P') " +
        "ORDER BY c_custkey"
    ),
    (spark, dir) =>
      Tables
        .customer(spark, dir)
        .join(
          Tables.orders(spark, dir).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"),
          "left_semi"
        )
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
  )

  /** NOT EXISTS → left-anti join (complement of the semi above; 56 rows
    * at sf0.01 — non-empty at every SF). */
  val leftAnti: Q = Q(
    "join_left_anti",
    Some(
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P') " +
        "ORDER BY c_custkey"
    ),
    (spark, dir) =>
      Tables
        .customer(spark, dir)
        .join(
          Tables.orders(spark, dir).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"),
          "left_anti"
        )
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
  )

  /** Cartesian product of the two smallest dims (5 × 25 rows). */
  val crossSmall: Q = Q(
    "join_cross_small",
    Some(
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"
    ),
    (spark, dir) =>
      Tables
        .region(spark, dir)
        .crossJoin(Tables.nation(spark, dir))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
  )

  /** Equi + range condition: ship within 90 days of the order date.
    * The equi key carries the shuffle; the range predicate is evaluated
    * post-match, so this stays a hash join (not a cartesian range join).
    */
  val thetaRange: Q = Q(
    "join_theta_range",
    Some(
      "SELECT date_trunc('month', o_orderdate) AS order_month, count(*) AS n_lines, " +
        s"round(${Det.oSum("l_extendedprice")}, 2) AS gross " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY " +
        "GROUP BY 1 ORDER BY order_month"
    ),
    (spark, dir) =>
      Tables
        .lineitem(spark, dir)
        .join(
          Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAY")
        )
        // NTZ→DATE→trunc→NTZ is pure field arithmetic end to end,
        // matching the oracle's naive-TIMESTAMP date_trunc. The
        // date_trunc(fmt, ·) builtin would cast the NTZ column through
        // the SESSION zone to an instant and shift order_month in a
        // non-UTC library session (TzRobustnessSpec probes this row).
        .groupBy(trunc(col("o_orderdate").cast("date"), "month").cast("timestamp_ntz").as("order_month"))
        .agg(
          count(lit(1)).as("n_lines"),
          round(Det.dsum(col("l_extendedprice")), 2).as("gross")
        )
        .orderBy(col("order_month"))
  )

  /** Interval-overlap self-join: pairs of users whose daily active
    * intervals ([first event, last event] per user per day) overlap,
    * with the exact overlap duration in µs. The join key is the DAY
    * block — the residual overlap predicate only runs within a block,
    * so candidates are bounded by per-day activity, never all-pairs
    * across time. At 100 TB the refinement is a finer block (day,
    * start-hour bucket) with intervals replicated into each bucket
    * they span — same plan shape, smaller blocks. Scope bounded to
    * user_id < 50 (interval overlap output is inherently quadratic in
    * concurrently-active users). Overlap arithmetic is exact integer
    * µs — bit-identical cross-engine. */
  val intervalOverlap: Q = Q(
    "join_interval_overlap",
    Some(
      "WITH iv AS (SELECT user_id, date_trunc('day', ts) AS day, min(ts) AS s, max(ts) AS e " +
        "FROM events WHERE user_id < 50 GROUP BY 1, 2) " +
        "SELECT a.day, a.user_id AS ua, b.user_id AS ub, " +
        "epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s)) AS overlap_us " +
        "FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id " +
        "AND a.s <= b.e AND b.s <= a.e " +
        "ORDER BY 1, 2, 3"
    ),
    (spark, dir) => {
      val iv = Tables
        .events(spark, dir)
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"), Det.ntzTruncDay(col("ts")).as("day"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      val a = iv.select(col("day"), col("user_id").as("ua"), col("s").as("sa"), col("e").as("ea"))
      val b = iv.select(col("day"), col("user_id").as("ub"), col("s").as("sb"), col("e").as("eb"))
      a.join(b, Seq("day"))
        .filter(col("ua") < col("ub") && col("sa") <= col("eb") && col("sb") <= col("ea"))
        .select(
          col("day"),
          col("ua"),
          col("ub"),
          // ts is TIMESTAMP_NTZ; Det.ntzMicros is naive field arithmetic,
          // identical in every session time zone (unlike a cast through
          // TIMESTAMP, which applies the session zone)
          (Det.ntzMicros(least(col("ea"), col("eb"))) -
            Det.ntzMicros(greatest(col("sa"), col("sb"))))
            .as("overlap_us")
        )
        .orderBy(col("day"), col("ua"), col("ub"))
    }
  )

  /** As-of join: for each purchase, the most recent click at-or-before it
    * by the same user. Spark has no batch ASOF primitive; the scalable
    * composition is union-the-tagged-streams + one window pass:
    * shuffle once on user_id, sort by (ts, tag, event_id), carry the
    * last click timestamp forward. O(n log n) per user partition, no
    * range-join blow-up. Oracle uses DuckDB's native ASOF LEFT JOIN
    * (`p.ts >= c.ts`, i.e. at-or-before, matching the inclusive frame).
    */
  val asOf: Q = Q(
    "join_asof",
    Some(
      "SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts " +
        "ORDER BY p.event_id"
    ),
    (spark, dir) => {
      val ev = Tables
        .events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      // tag 0 = click sorts before tag 1 = purchase at equal ts, making
      // the "at-or-before" inclusive like DuckDB ASOF's >=.
      val tagged = ev.withColumn("tag", when(col("event_type") === "click", 0).otherwise(1))
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn(
          "last_click_ts",
          last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w)
        )
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("last_click_ts"))
        .orderBy(col("event_id"))
    }
  )

  /** Forward as-of: for each purchase, the EARLIEST click at-or-after
    * it by the same user — the attribution direction (what did this
    * purchase lead to). Same union-and-one-window composition as the
    * backward as-of, mirrored: purchases sort before clicks at equal
    * ts (inclusive ≥), and the frame looks forward. One shuffle on
    * user_id, no range-join blowup. Oracle: DuckDB native ASOF with
    * the ≤ comparator. */
  val asOfForward: Q = Q(
    "join_asof_forward",
    Some(
      "SELECT p.event_id, p.user_id, p.ts, c.ts AS next_click_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts <= c.ts " +
        "ORDER BY p.event_id"
    ),
    (spark, dir) => {
      val ev = Tables
        .events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      // tag 0 = purchase sorts before tag 1 = click at equal ts, so the
      // current-row..following frame includes an equal-ts click (≥).
      val tagged = ev.withColumn("tag", when(col("event_type") === "purchase", 0).otherwise(1))
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      tagged
        .withColumn(
          "next_click_ts",
          first(when(col("tag") === 1, col("ts")), ignoreNulls = true).over(w)
        )
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("next_click_ts"))
        .orderBy(col("event_id"))
    }
  )

  /** Salted skew join: the manual remedy when one join key carries a
    * disproportionate share of a 100 TB fact table and AQE's skew split
    * can't help (e.g. the skew is in the UNSALTED shuffle itself, or
    * AQE is off). The fact side gets a deterministic salt in [0, 8)
    * derived from its row identity; the dimension side replicates each
    * row once per salt value; the join key becomes (suppkey, salt), so
    * a hot supplier's rows spread across 8 reducers instead of one.
    * The salt is invisible in the result — the oracle is the plain
    * unsalted join — and deterministic (xxhash64 of the row key, not
    * rand()), so retries produce identical partitioning. The 8×
    * dimension replication is the cost: only worth it when the skewed
    * side dwarfs it (here 8×80 supplier rows vs 600k lineitems; at
    * 100 TB, 8×|dim| vs the hot key's reducer being the straggler).
    */
  val skewSalted: Q = Q(
    "join_skew_salted",
    Some(
      "SELECT s_name, count(*) AS n_items, " +
        s"round(${Det.oSum("l_quantity")}, 2) AS total_qty " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_name ORDER BY s_name"
    ),
    (spark, dir) => {
      val salts = 8
      val li = Tables
        .lineitem(spark, dir)
        .withColumn(
          "salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)).cast("int")
        )
      val sup = Tables
        .supplier(spark, dir)
        .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
      li.join(sup, li("l_suppkey") === sup("s_suppkey") && li("salt") === sup("salt"))
        .groupBy(col("s_name"))
        .agg(
          count(lit(1)).as("n_items"),
          round(Det.dsum(col("l_quantity")), 2).as("total_qty")
        )
        .orderBy(col("s_name"))
    }
  )

  /** Skew-STRESS salted join (VERDICT r15 #7): [[skewSalted]] shows
    * the mechanism on a roughly uniform key; this row drives it under
    * a DELIBERATELY zipf-heavy key — 90% of all events collapse onto
    * one hot key (`user_id % 10 <> 0 → 0`), the head-heavy shape that
    * makes one reducer the straggler at 100 TB. The join is pinned to
    * a SHUFFLE hash join (hint) because salting is only meaningful in
    * a shuffle — at test scale the per-key dim would be broadcast and
    * the skew invisible; at 100 TB a non-broadcastable dim is the
    * premise. Fact salt = xxhash64(event_id) % salts (deterministic,
    * never rand()); dim replicated once per salt; the hot key's rows
    * spread over `salts` reducers. The final groupBy re-meets the hot
    * key but map-side partial aggregation reduces each partition to
    * one row per key first — the classic skew split: JOIN work spreads
    * by salt, AGG work collapses map-side. sf0.1's 90 k hot rows alone
    * are too few for a visible straggler (the salted/unsalted A/B TIES
    * at 0.65 s min-of-3 on 32 cores); replicating each fact row 200×
    * (18 M rows on the hot key) made it visible and split: salted-16
    * 4.02 s vs unsalted 6.72 s min-of-3 (SCALING.md §r16). Oracle: the
    * plain unsalted join — the salt must be invisible in the result. */
  val skewStress: Q = Q(
    "join_skew_stress",
    Some(
      "WITH f AS (SELECT CASE WHEN user_id % 10 <> 0 THEN 0 ELSE user_id END AS skew_key, value FROM events), " +
        "d AS (SELECT DISTINCT skew_key FROM f), " +
        "dw AS (SELECT skew_key, skew_key % 97 + 1 AS w FROM d) " +
        "SELECT f.skew_key, count(*) AS n_events, " +
        s"round(${Det.oSum("f.value * dw.w")}, 2) AS wsum " +
        "FROM f JOIN dw ON f.skew_key = dw.skew_key " +
        "GROUP BY 1 ORDER BY 1"
    ),
    (spark, dir) => {
      val salts = 16
      val hk = when(col("user_id") % 10 =!= 0, lit(0L)).otherwise(col("user_id"))
      // `rep` = 1 stays in the salt's hash input: dropping it would
      // re-salt every row and change the plan PLANS.md records
      val fact = Tables
        .events(spark, dir)
        .select(hk.as("skew_key"), col("value"), col("event_id"))
        .withColumn("rep", lit(1))
        .withColumn("salt", pmod(xxhash64(col("event_id"), col("rep")), lit(salts)).cast("int"))
      val dim = Tables
        .events(spark, dir)
        .select(hk.as("skew_key"))
        .distinct()
        .withColumn("w", col("skew_key") % 97 + 1)
        .withColumn("salt", explode(array((0 until salts).map(lit(_)): _*)))
        .hint("shuffle_hash")
      fact
        .join(dim, Seq("skew_key", "salt"))
        .groupBy(col("skew_key"))
        .agg(
          count(lit(1)).as("n_events"),
          round(Det.dsum(col("value") * col("w")), 2).as("wsum")
        )
        .orderBy(col("skew_key"))
    }
  )

  /** Nearest as-of: for each purchase, the click closest in time in
    * EITHER direction (ties go to the earlier click) — completes the
    * as-of family (backward [[asOf]], forward [[asOfForward]],
    * nearest). Composition: both directional window passes over ONE
    * user-hash partitioning (two sorts, one exchange), then an exact
    * epoch-µs distance compare picks the nearer side. DuckDB's native
    * ASOF has no "nearest" mode either, so the oracle mirrors the
    * same two-window construction — both engines run the identical
    * algorithm, which is the point: nearest-as-of reduces to two
    * linear passes, never a range join.
    */
  val asOfNearest: Q = Q(
    "join_asof_nearest",
    Some(
      "WITH ev AS (SELECT event_id, user_id, ts, event_type FROM events " +
        "WHERE event_type IN ('click', 'purchase')), " +
        "t AS (SELECT *, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tb_, " +
        "CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS tf_ FROM ev), " +
        "w AS (SELECT *, " +
        "last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, tb_, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts, " +
        "first_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, tf_, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts FROM t) " +
        "SELECT event_id, user_id, ts, " +
        "CASE WHEN prev_ts IS NULL THEN next_ts WHEN next_ts IS NULL THEN prev_ts " +
        "WHEN epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts) " +
        "THEN prev_ts ELSE next_ts END AS nearest_click_ts " +
        "FROM w WHERE event_type = 'purchase' ORDER BY event_id"
    ),
    (spark, dir) => {
      val ev = Tables
        .events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("tb_", when(col("event_type") === "click", 0).otherwise(1))
        .withColumn("tf_", when(col("event_type") === "purchase", 0).otherwise(1))
      val back = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tb_"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tf_"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val clickTs = when(col("event_type") === "click", col("ts"))
      def us(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        Det.ntzMicros(c) // naive NTZ field arithmetic — session-TZ-invariant
      ev
        .withColumn("prev_ts", last(clickTs, ignoreNulls = true).over(back))
        .withColumn("next_ts", first(clickTs, ignoreNulls = true).over(fwd))
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"),
          col("user_id"),
          col("ts"),
          when(col("prev_ts").isNull, col("next_ts"))
            .when(col("next_ts").isNull, col("prev_ts"))
            .when(
              us(col("ts")) - us(col("prev_ts")) <= us(col("next_ts")) - us(col("ts")),
              col("prev_ts")
            )
            .otherwise(col("next_ts"))
            .as("nearest_click_ts")
        )
        .orderBy(col("event_id"))
    }
  )

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    * semantic corner where plain equi-joins silently drop rows — NULL
    * join keys never equal anything under `=`, but a curation pipeline
    * routinely needs "route unknown keys to the unknown bucket", i.e.
    * NULL must match NULL. Dim side: nation keys 0..19 plus ONE
    * distinct NULL row (the unknown bucket); fact side: customers with
    * keys nulled for every 7th custkey. Spark plans `<=>` as a regular
    * hash-join key (internally coalesced), so this broadcasts and
    * scales exactly like [[broadcastDims]] — no fallback to a
    * condition-only nested loop.
    */
  val nullSafeEq: Q = Q(
    "join_null_safe_eq",
    Some(
      "WITH a AS (SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS k " +
        "FROM customer), " +
        "b AS (SELECT DISTINCT CASE WHEN n_nationkey >= 20 THEN NULL ELSE n_nationkey END AS k " +
        "FROM nation) " +
        "SELECT coalesce(cast(b.k as varchar), 'unknown') AS bucket, count(*) AS n_customers " +
        "FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k " +
        "GROUP BY bucket ORDER BY bucket"
    ),
    (spark, dir) => {
      val a = Tables
        .customer(spark, dir)
        .select(
          when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_nationkey")).as("ka")
        )
      val b = Tables
        .nation(spark, dir)
        .select(when(col("n_nationkey") >= 20, lit(null)).otherwise(col("n_nationkey")).as("kb"))
        .distinct()
      a.join(broadcast(b), col("ka") <=> col("kb"))
        .groupBy(coalesce(col("kb").cast("string"), lit("unknown")).as("bucket"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("bucket"))
    }
  )

  /** The backward as-of again, through the engine's NATIVE merge
    * operator ([[org.apache.spark.sql.graftx.AsOfJoinNative]]:
    * LogicalPlan + Strategy + co-partitioned ordered-merge SparkPlan)
    * instead of [[asOf]]'s union-window trick. Same oracle, same
    * result — AsOfNativeSpec asserts row equality between the two
    * formulations and the plan shape (no Window, an AsOfJoinMerge
    * node, one exchange per side). The union-window form shuffles
    * |purchases| + |clicks| rows in a padded union schema and sorts
    * them together; the native form shuffles each side once in its own
    * schema and resolves matches with an O(n + m) forward merge
    * holding one candidate row — at 100 TB that halves the shuffled
    * bytes and removes the post-union filter. */
  val asOfNative: Q = Q(
    "join_asof_native",
    Some(
      "SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts " +
        "ORDER BY p.event_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.graftx.AsOfJoinNative
      val ev = Tables
        .events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      AsOfJoinNative(
        purchases, clicks,
        keyCol = "user_id", leftTimeCol = "ts", rightTimeCol = "ts",
        carried = Seq("last_click_ts" -> "ts")
      )
        .select(col("event_id"), col("user_id"), col("ts"), col("last_click_ts"))
        .orderBy(col("event_id"))
    }
  )

  /** Forward direction through the same native operator — proof the
    * merge generalizes: "earliest at-or-after" is the identical scan
    * over time-REVERSED streams (sort descending, flip the
    * comparator), so the exec node parameterizes direction instead of
    * duplicating the algorithm. Twin of [[asOfForward]], same oracle. */
  val asOfNativeForward: Q = Q(
    "join_asof_native_fwd",
    Some(
      "SELECT p.event_id, p.user_id, p.ts, c.ts AS next_click_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts <= c.ts " +
        "ORDER BY p.event_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.graftx.AsOfJoinNative
      val ev = Tables
        .events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      AsOfJoinNative(
        purchases, clicks,
        keyCol = "user_id", leftTimeCol = "ts", rightTimeCol = "ts",
        carried = Seq("next_click_ts" -> "ts"),
        forward = true
      )
        .select(col("event_id"), col("user_id"), col("ts"), col("next_click_ts"))
        .orderBy(col("event_id"))
    }
  )

  /** Nearest-click as-of by CHAINING the two native directions: the
    * backward join's output (already hash-partitioned on user_id) is
    * the forward join's left input, so EnsureRequirements reuses the
    * exchange — the chain costs one extra right-side shuffle and a
    * per-partition re-sort, never a second left shuffle. The per-row
    * CASE picks the closer timestamp (ties to the backward match, like
    * [[asOfNearest]]). Same oracle as the window formulation. */
  val asOfNativeNearest: Q = Q(
    "join_asof_native_nearest",
    Some(
      "WITH ev AS (SELECT event_id, user_id, ts, event_type FROM events " +
        "WHERE event_type IN ('click', 'purchase')), " +
        "t AS (SELECT *, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tb_, " +
        "CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS tf_ FROM ev), " +
        "w AS (SELECT *, " +
        "last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, tb_, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts, " +
        "first_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, tf_, event_id " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts FROM t) " +
        "SELECT event_id, user_id, ts, " +
        "CASE WHEN prev_ts IS NULL THEN next_ts WHEN next_ts IS NULL THEN prev_ts " +
        "WHEN epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts) " +
        "THEN prev_ts ELSE next_ts END AS nearest_click_ts " +
        "FROM w WHERE event_type = 'purchase' ORDER BY event_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.graftx.AsOfJoinNative
      val ev = Tables
        .events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val back = AsOfJoinNative(
        purchases, clicks, "user_id", "ts", "ts", Seq("prev_ts" -> "ts"))
      val both = AsOfJoinNative(
        back, clicks, "user_id", "ts", "ts", Seq("next_ts" -> "ts"), forward = true)
      def us(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        Det.ntzMicros(c) // naive NTZ field arithmetic — session-TZ-invariant
      both
        .select(
          col("event_id"),
          col("user_id"),
          col("ts"),
          when(col("prev_ts").isNull, col("next_ts"))
            .when(col("next_ts").isNull, col("prev_ts"))
            .when(
              us(col("ts")) - us(col("prev_ts")) <= us(col("next_ts")) - us(col("ts")),
              col("prev_ts")
            )
            .otherwise(col("next_ts"))
            .as("nearest_click_ts")
        )
        .orderBy(col("event_id"))
    }
  )

  /** Tolerance-bounded as-of through the native operator: the latest
    * click still loses if it is older than 24 h — pandas
    * `merge_asof(tolerance=...)` semantics, the knob that keeps stale
    * context out of an enrichment. Free at execution time: the merge
    * already holds the candidate's time, the tolerance is one extra
    * comparison at emit. Oracle spells it as ASOF + a gap CASE. */
  val asOfNativeTol: Q = Q(
    "join_asof_native_tol",
    Some(
      "SELECT p.event_id, p.user_id, p.ts, " +
        "CASE WHEN c.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(c.ts) <= 86400000000 " +
        "THEN c.ts END AS recent_click_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND p.ts >= c.ts " +
        "ORDER BY p.event_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.graftx.AsOfJoinNative
      val ev = Tables
        .events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      AsOfJoinNative(
        purchases, clicks,
        keyCol = "user_id", leftTimeCol = "ts", rightTimeCol = "ts",
        carried = Seq("recent_click_ts" -> "ts"),
        toleranceUs = Some(86400000000L) // 24 h
      )
        .select(col("event_id"), col("user_id"), col("ts"), col("recent_click_ts"))
        .orderBy(col("event_id"))
    }
  )

  /** Runtime bloom-filter join pruning — the row-level cousin of
    * `join_dpp_prune`: a bloom filter is built over the join keys of a
    * SELECTIVE supplier subset (one pass over the small side, ~100 keys),
    * embedded in the plan as a binary literal, and probed by the native
    * codegen'd expression [[org.apache.spark.sql.graftx.LongBloomMightContain]]
    * directly above the lineitem scan — so ~97 % of the fact side dies
    * map-side in the scan's fused loop and never reaches the join.
    * False positives survive the probe but are removed by the join, so
    * results are exact (oracle = the plain join); the bloom only
    * shrinks the shuffled/broadcast-probed volume.
    *
    * 100 TB: this is the shape Spark's own InjectRuntimeFilter plans as
    * a bloom-aggregate subquery. The build side is the SMALL side; the
    * fact is touched once, map-side, zero extra shuffle. BloomPruneSpec
    * asserts the probe's pruning power and codegen/interpreted parity. */
  val bloomPrune: Q = Q(
    "join_bloom_prune",
    Some(
      "SELECT s_suppkey, s_name, count(*) AS n_items, " +
        s"round(${Det.oSum("l_extendedprice * (1 - l_discount)")}, 2) AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE s_suppkey % 10 = 0 " +
        "GROUP BY s_suppkey, s_name ORDER BY s_suppkey"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.graftx.LongBloomMightContain
      // the 10 %-of-keys dim subset is scale-independent (an acctbal
      // threshold selects ZERO suppliers at sf0.001 — max is 6035)
      val dim = Tables
        .supplier(spark, dir)
        .filter(col("s_suppkey") % 10 === 0)
        .select(col("s_suppkey"), col("s_name"))
      // one job over the small side builds the filter (the runtime-filter
      // build step); 10k expected keys / 1% fpp → ~12 KB plan literal
      val bf = dim.stat.bloomFilter("s_suppkey", 10000L, 0.01)
      val bytes = LongBloomMightContain.serialize(bf)
      Tables
        .lineitem(spark, dir)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        .filter(LongBloomMightContain.probe(bytes, col("l_suppkey")))
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(
          count(lit(1)).as("n_items"),
          round(Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue")
        )
        .orderBy(col("s_suppkey"))
    }
  )

  def qs: Seq[Q] = Seq(
    innerHash, broadcastDims, leftOuter, fullOuter, leftSemi, leftAnti,
    crossSmall, thetaRange, intervalOverlap, asOf, asOfForward, asOfNearest, skewSalted, skewStress,
    nullSafeEq, asOfNative, asOfNativeForward, asOfNativeNearest, asOfNativeTol, bloomPrune
  )
}
