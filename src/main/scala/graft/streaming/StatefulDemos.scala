package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful Structured Streaming beyond windowed aggregation:
  * exactly-once ingest dedup (`dropDuplicates` + watermark) and a
  * custom per-key state machine (`flatMapGroupsWithState`). Verified in
  * StatefulSpec against batch ground truth.
  *
  * 100 TB notes: both operators keep state partitioned by key across
  * executors in the state store; the watermark bounds dedup state (an
  * event id older than the watermark can no longer collide, so its
  * entry is evicted) and the state machine emits incrementally instead
  * of holding history — the pattern for unbounded per-user streams.
  */
object StatefulDemos {

  /** Epoch microseconds of `c`, session-zone-free for NTZ inputs: a
    * naive column is reinterpreted as UTC micros ([[graft.Det.ntzMicros]]);
    * an instant column is `unix_micros` (no zone in either direction).
    * Never spelled `unix_micros(cast(c as timestamp))` — for NTZ that
    * cast consults the session zone and the demos' state ordering /
    * as-of arithmetic would shift in a non-UTC library session. */
  private def epochUs(df: DataFrame, c: String) =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType => graft.Det.ntzMicros(col(c))
      case _                                           => unix_micros(col(c).cast("timestamp"))
    }

  /** Ingest-dedup: drop re-delivered events by event_id within the
    * watermark horizon — the streaming twin of exact dedup, i.e.
    * at-least-once delivery → exactly-once processing. */
  def dedupEvents(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")

  /** Per-user running counter + max-value tracker via an explicit
    * state machine: emits one row per incoming batch-group with the
    * updated totals. */
  case class UserAgg(user_id: Long, n_events: Long, max_value: Double)

  /** Per-user streaming EWMA — the incremental form of `ts_ewma`'s
    * batch fold. State carries (n, acc): each micro-batch's rows are
    * sorted (ts, event_id) within the group and folded from the
    * carried acc, so on a time-ordered source the final state equals
    * the batch left-fold exactly (StatefulSpec asserts bit-equality).
    * This is the 100 TB form of the operator: two numbers of state per
    * user — O(users), never O(events) — where the batch formulation
    * collects each user's full history. */
  case class EwmaAgg(user_id: Long, n: Long, ewma: Double)

  def userEwma(spark: SparkSession, events: DataFrame): Dataset[EwmaAgg] = {
    import spark.implicits._
    events
      .filter(col("value").isNotNull)
      .select(col("user_id"), epochUs(events, "ts").as("tsm"), col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)], state: GroupState[EwmaAgg]) =>
          val prev = state.getOption.getOrElse(EwmaAgg(user, 0L, 0.0))
          var n = prev.n
          var acc = prev.ewma
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            acc = 0.8 * acc + 0.2 * r._4
            n += 1
          }
          val next = EwmaAgg(user, n, acc)
          state.update(next)
          Iterator(next)
      }
  }

  /** Emitted closed session. */
  case class Sess(user_id: Long, start_us: Long, end_us: Long, n_events: Long)
  // not `private`: the state encoder's generated code needs public access
  case class OpenSess(start_us: Long, last_us: Long, n: Long)

  /** Session tracking as an explicit state machine with EVENT-TIME
    * TIMEOUTS — the state-API capability `session_window` hides: one
    * OpenSess per user in the state store, sessions closed by a
    * later-arriving event emit immediately, and sessions closed by
    * SILENCE emit when the watermark passes last_event + gap
    * (`GroupStateTimeout.EventTimeTimeout` + `setTimeoutTimestamp`) —
    * no unbounded wait on a key that went quiet, which is exactly what
    * a per-user stream needs at 100 TB: state is O(active users) and
    * the timeout sweep is the state store's own eviction scan, not a
    * query. StatefulSpec pins the semantics against batch
    * sessionization: on a single-batch finite source the emitted set
    * is precisely every batch session EXCEPT each user's last (still
    * open; no later watermark advance fires its timeout).
    */
  def sessionTracker(spark: SparkSession, events: DataFrame, gapMin: Int = 30): Dataset[Sess] = {
    import spark.implicits._
    val gapUs = gapMin * 60L * 1000000L
    events
      .withWatermark("ts", "1 hour")
      // the watermark-TAGGED ts column must survive the projection or
      // the analyzer rejects the event-time timeout
      .select(col("user_id"), col("ts"), epochUs(events, "ts").as("tu"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Long)],
         state: GroupState[OpenSess]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Sess(user, s.start_us, s.last_us, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
            var open = state.getOption
            val closed = Seq.newBuilder[Sess]
            for ((_, _, tu, _) <- sorted) {
              open match {
                case Some(o) if tu - o.last_us <= gapUs =>
                  open = Some(o.copy(last_us = tu, n = o.n + 1))
                case Some(o) =>
                  closed += Sess(user, o.start_us, o.last_us, o.n)
                  open = Some(OpenSess(tu, tu, 1))
                case None =>
                  open = Some(OpenSess(tu, tu, 1))
              }
            }
            open.foreach { o =>
              state.update(o)
              // timeout is in EVENT-TIME ms: fires once the watermark
              // passes the session's gap horizon
              state.setTimeoutTimestamp(o.last_us / 1000 + gapMin * 60L * 1000 + 1)
            }
            closed.result().iterator
          }
      }
  }

  /** Emitted enriched purchase. */
  case class AsOfEnriched(event_id: Long, user_id: Long, ts_us: Long, last_click_us: Option[Long])
  // not `private`: the state encoder's generated code needs public access
  case class LastClick(us: Long)

  /** Streaming as-of enrichment — the INCREMENTAL form of the backward
    * as-of join (batch twins: `join_asof`'s union-window and
    * `join_asof_native`'s ordered merge): every purchase is stamped
    * with the user's latest click at-or-before it, from ONE long of
    * state per user. Within a micro-batch rows fold in
    * (time, click-before-purchase, event_id) order, so an equal-time
    * click is visible to its purchase — the same inclusive tie rule as
    * DuckDB `ASOF ... ON p.ts >= c.ts` and both batch forms; on a
    * time-ordered source the emitted set equals the batch join exactly
    * (StatefulSpec). At 100 TB this is the enrichment shape that
    * replaces re-joining the full click history every batch: state is
    * O(users) — add a `GroupStateTimeout` TTL to evict idle users when
    * the key space is unbounded. */
  def lastClickEnrich(spark: SparkSession, events: DataFrame): Dataset[AsOfEnriched] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), epochUs(events, "ts").as("tu"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)], state: GroupState[LastClick]) =>
          var last = state.getOption.map(_.us)
          val out = Seq.newBuilder[AsOfEnriched]
          rows.toSeq
            .sortBy(r => (r._2, if (r._4 == "click") 0 else 1, r._3))
            .foreach { r =>
              if (r._4 == "click") last = Some(r._2)
              else out += AsOfEnriched(r._3, user, r._2, last)
            }
          last.foreach(us => state.update(LastClick(us)))
          out.result().iterator
      }
  }

  /** Streaming SCD2 — the incremental form of `maint_scd2`'s batch
    * dimension build: per customer the state is ONE open version
    * (version, status, valid_from-as-epoch-days, n_orders). Each
    * micro-batch folds its rows in (date, orderkey) order: a same-
    * status row bumps the open run's count; a status change EMITS the
    * closed interval (valid_to = the new valid_from, is_current=false)
    * and opens the next version; the open version is re-emitted each
    * batch with valid_to=None so downstream upsert sinks always hold
    * the current row. On an ordered replay the emission set (latest
    * per (cust, version)) equals the batch build exactly —
    * StatefulSpec.
    *
    * 100 TB: this replaces re-running the full-history window build
    * every batch; state is O(dimension keys) — one small row each —
    * and only changed versions are written downstream (CDC-style). */
  case class Scd2Ver(
      o_custkey: Long,
      version: Long,
      status: String,
      valid_from_days: Long,
      valid_to_days: Option[Long],
      is_current: Boolean,
      n_orders: Long
  )
  case class Scd2State(version: Long, status: String, fromDays: Long, n: Long)

  def scd2Stream(spark: SparkSession, orders: DataFrame): Dataset[Scd2Ver] = {
    import spark.implicits._
    orders
      .selectExpr(
        "o_custkey",
        "o_orderkey",
        "datediff(o_orderdate, DATE '1970-01-01') AS days",
        "o_orderstatus"
      )
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (cust: Long, rows: Iterator[(Long, Long, Long, String)], state: GroupState[Scd2State]) =>
          var cur = state.getOption
          val out = Seq.newBuilder[Scd2Ver]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, days, status) =>
            cur match {
              case None =>
                cur = Some(Scd2State(1L, status, days, 1L))
              case Some(s) if s.status == status =>
                cur = Some(s.copy(n = s.n + 1))
              case Some(s) =>
                out += Scd2Ver(cust, s.version, s.status, s.fromDays, Some(days), is_current = false, s.n)
                cur = Some(Scd2State(s.version + 1, status, days, 1L))
            }
          }
          cur.foreach { s =>
            state.update(s)
            // re-emit the open version: Update-mode upsert of the current row
            out += Scd2Ver(cust, s.version, s.status, s.fromDays, None, is_current = true, s.n)
          }
          out.result().iterator
      }
  }

  def userTotals(spark: SparkSession, events: DataFrame): Dataset[UserAgg] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(user, 0L, Double.MinValue))
          var n = prev.n_events
          var mx = prev.max_value
          rows.foreach { case (_, v) =>
            n += 1
            if (v > mx) mx = v
          }
          val next = UserAgg(user, n, mx)
          state.update(next)
          Iterator(next)
      }
  }

  /** [[userTotals]] through Spark 4's `transformWithState` — the
    * arbitrary-state API that supersedes `flatMapGroupsWithState`:
    * typed state HANDLES (`ValueState`/`ListState`/`MapState`)
    * acquired in `init` from a `StatefulProcessorHandle`, per-state
    * TTL, timers, and a RocksDB-backed store (the API requires the
    * RocksDB provider; the spec sets `spark.sql.streaming.stateStore
    * .providerClass` around the query). Semantics identical to
    * [[userTotals]], so StatefulSpec pins BOTH state APIs and the
    * batch aggregate on the same final per-user states — the
    * migration recipe for every state machine in this file: the
    * per-group fold body moves verbatim into `handleInputRows`, the
    * `GroupState` becomes a named `ValueState` handle. */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserAgg] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var totals: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)](
        "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Double)],
        timers: TimerValues): Iterator[UserAgg] = {
      val (n0, mx0) = if (totals.exists()) totals.get() else (0L, Double.MinValue)
      var n  = n0
      var mx = mx0
      rows.foreach { case (_, v) =>
        n += 1
        if (v > mx) mx = v
      }
      totals.update((n, mx))
      Iterator(UserAgg(user, n, mx))
    }
  }

  def userTotalsTws(spark: SparkSession, events: DataFrame): Dataset[UserAgg] = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  // ---------------------------------------------------------------------
  // transformWithState twins for the REMAINING fMGWS machines (r16):
  // §19i proved the migration recipe on userTotals; these apply it to
  // every other state machine in this file so the "migration
  // guarantee" covers the whole surface (VERDICT r15 #3). The per-group
  // fold bodies move VERBATIM into handleInputRows; `GroupState`
  // becomes a named ValueState handle; the session tracker's
  // EventTimeTimeout becomes an explicit event-time TIMER
  // (registerTimer + handleExpiredTimer). StatefulSpec pins each twin
  // pair on identical emissions; the sliced driver verdicts live in
  // stream_state_api_parity.
  // ---------------------------------------------------------------------

  /** [[userEwma]] through transformWithState: same (ts, event_id)
    * per-batch sort, same 0.8/0.2 fold from the carried acc — on the
    * same delivery the emitted doubles are bit-identical. */
  class EwmaProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long, Long, Double), EwmaAgg] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var acc: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[(Long, Double)](
        "acc", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timers: TimerValues): Iterator[EwmaAgg] = {
      val (n0, a0) = if (acc.exists()) acc.get() else (0L, 0.0)
      var n = n0
      var a = a0
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
        a = 0.8 * a + 0.2 * r._4
        n += 1
      }
      acc.update((n, a))
      Iterator(EwmaAgg(user, n, a))
    }
  }

  def userEwmaTws(spark: SparkSession, events: DataFrame): Dataset[EwmaAgg] = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    events
      .filter(col("value").isNotNull)
      .select(col("user_id"), epochUs(events, "ts").as("tsm"), col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new EwmaProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** [[lastClickEnrich]] through transformWithState: one long of state
    * per user (latest click micros), same (time, click-first,
    * event_id) in-batch fold. */
  class LastClickProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long, Long, String), AsOfEnriched] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var lastUs: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastUs = getHandle.getValueState[Long]("lastUs", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timers: TimerValues): Iterator[AsOfEnriched] = {
      var last: Option[Long] = if (lastUs.exists()) Some(lastUs.get()) else None
      val out = Seq.newBuilder[AsOfEnriched]
      rows.toSeq
        .sortBy(r => (r._2, if (r._4 == "click") 0 else 1, r._3))
        .foreach { r =>
          if (r._4 == "click") last = Some(r._2)
          else out += AsOfEnriched(r._3, user, r._2, last)
        }
      last.foreach(us => lastUs.update(us))
      out.result().iterator
    }
  }

  def lastClickEnrichTws(spark: SparkSession, events: DataFrame): Dataset[AsOfEnriched] = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), epochUs(events, "ts").as("tu"), col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new LastClickProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** [[scd2Stream]] through transformWithState: one open version of
    * state per dimension key, same (date, orderkey) in-batch fold,
    * closed versions emitted once and the open version re-emitted
    * per batch (Update-mode upsert). */
  class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long, Long, String), Scd2Ver] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var open: ValueState[Scd2State] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[Scd2State](
        "open", Encoders.product[Scd2State], TTLConfig.NONE)
    override def handleInputRows(
        cust: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timers: TimerValues): Iterator[Scd2Ver] = {
      var cur: Option[Scd2State] = if (open.exists()) Some(open.get()) else None
      val out = Seq.newBuilder[Scd2Ver]
      rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, days, status) =>
        cur match {
          case None =>
            cur = Some(Scd2State(1L, status, days, 1L))
          case Some(s) if s.status == status =>
            cur = Some(s.copy(n = s.n + 1))
          case Some(s) =>
            out += Scd2Ver(cust, s.version, s.status, s.fromDays, Some(days), is_current = false, s.n)
            cur = Some(Scd2State(s.version + 1, status, days, 1L))
        }
      }
      cur.foreach { s =>
        open.update(s)
        out += Scd2Ver(cust, s.version, s.status, s.fromDays, None, is_current = true, s.n)
      }
      out.result().iterator
    }
  }

  def scd2StreamTws(spark: SparkSession, orders: DataFrame): Dataset[Scd2Ver] = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    orders
      .selectExpr(
        "o_custkey",
        "o_orderkey",
        "datediff(o_orderdate, DATE '1970-01-01') AS days",
        "o_orderstatus")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new Scd2Processor, TimeMode.None(), OutputMode.Update())
  }

  /** [[sessionTracker]]'s state plus the timer it armed, so a stale
    * expiry (superseded by a later event in the same batch window) is
    * recognizable in handleExpiredTimer. Public for the encoder. */
  case class OpenSessT(start_us: Long, last_us: Long, n: Long, timer_ms: Long)

  /** [[sessionTracker]] through transformWithState with EVENT-TIME
    * TIMERS — the explicit form of fMGWS's EventTimeTimeout: each
    * batch re-arms one timer per open session at last_event + gap + 1
    * (deleting the superseded one), and [[handleExpiredTimer]] closes
    * the session when the watermark passes it. A fired timer that no
    * longer matches the state's armed timer is stale and ignored. */
  class SessionProcessor(gapMin: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long, Long), Sess] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var open: ValueState[OpenSessT] = _
    private def gapUs = gapMin * 60L * 1000000L
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSessT](
        "open", Encoders.product[OpenSessT], TTLConfig.NONE)
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Long)],
        timers: TimerValues): Iterator[Sess] = {
      var cur: Option[OpenSessT] = if (open.exists()) Some(open.get()) else None
      cur.foreach(o => getHandle.deleteTimer(o.timer_ms)) // re-armed below
      val closed = Seq.newBuilder[Sess]
      rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, _, tu, _) =>
        cur match {
          case Some(o) if tu - o.last_us <= gapUs =>
            cur = Some(o.copy(last_us = tu, n = o.n + 1))
          case Some(o) =>
            closed += Sess(user, o.start_us, o.last_us, o.n)
            cur = Some(OpenSessT(tu, tu, 1, 0L))
          case None =>
            cur = Some(OpenSessT(tu, tu, 1, 0L))
        }
      }
      cur.foreach { o =>
        // same expiry formula as the fMGWS twin's setTimeoutTimestamp
        val t = o.last_us / 1000 + gapMin * 60L * 1000 + 1
        open.update(o.copy(timer_ms = t))
        getHandle.registerTimer(t)
      }
      closed.result().iterator
    }
    override def handleExpiredTimer(
        user: Long,
        timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Sess] = {
      if (open.exists() && open.get().timer_ms == info.getExpiryTimeInMs) {
        val s = open.get()
        open.clear()
        Iterator(Sess(user, s.start_us, s.last_us, s.n))
      } else Iterator.empty
    }
  }

  def sessionTrackerTws(
      spark: SparkSession,
      events: DataFrame,
      gapMin: Int = 30): Dataset[Sess] = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), epochUs(events, "ts").as("tu"), col("event_id"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMin), TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[dedupEvents]] as an EXPLICIT state machine through
    * transformWithState, keyed by event_id: a seen-flag of state per
    * id, first sight emits, an event-time timer at ts + the watermark
    * delay evicts the flag (mirroring dropDuplicates' state horizon).
    * Rows already behind the watermark are dropped in the handler —
    * dropDuplicates' own late-row rule, made explicit via
    * TimerValues.getCurrentWatermarkInMs. Emits the event_id alone:
    * when the source holds several rows under one id, "which payload
    * survives" is delivery-order-dependent in BOTH APIs, the id set is
    * not. */
  class DedupProcessor(delayMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), Long] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, TTLConfig.NONE)
    override def handleInputRows(
        id: Long,
        rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[Long] = {
      val wmMs = timers.getCurrentWatermarkInMs()
      val live = rows.map(_._2).filter(_ / 1000 >= wmMs).toSeq
      if (live.nonEmpty && !seen.exists()) {
        seen.update(true)
        getHandle.registerTimer(live.max / 1000 + delayMs + 1)
        Iterator(id)
      } else Iterator.empty
    }
    override def handleExpiredTimer(
        id: Long,
        timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Long] = {
      seen.clear()
      Iterator.empty
    }
  }

  def dedupEventsTws(spark: SparkSession, events: DataFrame): Dataset[Long] = {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    val wm = events.withWatermark("ts", "2 hours")
    wm.select(col("event_id"), epochUs(wm, "ts").as("tu"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new DedupProcessor(2L * 3600 * 1000), TimeMode.EventTime(), OutputMode.Append())
  }

  /** Enumerated content signature of a parquet source path: for a
    * plain file its (name, size, mtime); for a DIRECTORY (a
    * Spark-written table) the sorted enumeration of its data files'
    * (name, size, mtime). Directory-level size/mtime only changes on
    * direct child add/remove, so an in-place regeneration that
    * rewrites part files in place could previously be served stale
    * chunks (ADVICE r15) — the enumeration sees every rewritten part
    * file. */
  private def sourceSig(src: java.nio.file.Path): String = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def one(p: java.nio.file.Path) =
      s"${p.getFileName}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
    if (Files.isDirectory(src)) {
      val s = Files.list(src)
      try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }
        .map(one).toSeq.sorted.mkString(";")
      finally s.close()
    } else one(src)
  }

  /** Stage `chunks` as one parquet file each (`chunk_<i>.parquet`)
    * under a fixed shared tmpdir and open a one-file-per-trigger
    * stream over them: chunk i is micro-batch i, in index order — the
    * file source processes oldest-first, so each staged file gets a
    * strictly increasing mtime (and a matching lexical name, so any
    * tie-break agrees). Staleness is judged on `sig` (the SOURCE's
    * part-file enumeration plus a derivation tag); a mismatch
    * re-stages. Build dirs are per-call-unique, removed even when a
    * chunk write throws, and the final placement is an ATOMIC_MOVE, so
    * two graft JVMs staging the same content concurrently (the
    * dual-run gate) interleave harmlessly — the rationale of
    * `StreamDemos.stageCopy`, which stages every whole-table stream
    * (events included).
    *
    * Within a JVM, calls for the same `name` serialize on that name's
    * lock while different sources stage concurrently (the parity
    * audit's legs open the events, orders and replay sources at once).
    * The staged schema is read once per (staged dir, `sig`): a later
    * call on a fresh staging starts no Spark job. */
  private def stagedChunkStream(
      spark: SparkSession,
      name: String,
      sig: String,
      chunks: Seq[() => DataFrame]): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.charset.StandardCharsets.UTF_8
    import scala.jdk.CollectionConverters._
    val staged = Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_chunks", name)
    val schema = stageLocks.getOrElseUpdate(name, new Object).synchronized {
      Files.createDirectories(staged)
      val meta = staged.resolve("_staging_meta")
      val fresh = Files.exists(meta) &&
        new String(Files.readAllBytes(meta), UTF_8) == sig
      if (!fresh) {
        val base = System.currentTimeMillis()
        chunks.zipWithIndex.foreach { case (c, i) =>
          val build = staged.resolve(s"_build-${java.util.UUID.randomUUID()}")
          try {
            c().coalesce(1).write.mode("overwrite").parquet(build.toString)
            val bl = Files.list(build)
            val part =
              try bl.iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet"))
                .getOrElse(sys.error(s"no part file staged under $build"))
              finally bl.close()
            val target = staged.resolve(f"chunk_$i%02d.parquet")
            Files.move(part, target,
              StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
            // strictly increasing mtimes pin the delivery order
            Files.setLastModifiedTime(
              target, java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
          } finally graft.Staging.delete(build.toFile)
        }
        val metaTmp = staged.resolve(s"._staging_meta.tmp-${java.util.UUID.randomUUID()}")
        Files.write(metaTmp, sig.getBytes(UTF_8))
        Files.move(metaTmp, meta,
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      }
      stagedSchemas.getOrElseUpdate(
        (staged.toString, sig), spark.read.parquet(staged.toString).schema)
    }
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)
  }

  private val stageLocks = scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Staged schema per (staged dir, sig): session metadata, not a
    * memoized result, so a memo clear keeps it. A re-staging under a
    * new `sig` reads its schema afresh. */
  private val stagedSchemas =
    scala.collection.concurrent.TrieMap.empty[(String, String), org.apache.spark.sql.types.StructType]

  /** The events table with a stream-ready instant `ts` (naive micros
    * interpreted as UTC — the `ts` rule `StreamDemos.eventsStream`
    * applies to its staged stream; a cast through TIMESTAMP would bake
    * in the session zone). */
  private def eventsForStream(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
    val tsCol = e.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        timestamp_micros(graft.Det.ntzMicros(col("ts")))
      case _ => col("ts").cast("timestamp")
    }
    e.select(
      col("event_id"), tsCol.as("ts"), col("user_id"), col("value"), col("event_type"))
  }

  /** A CHUNKED, TIME-SPLIT, never-replayed events stream: the events
    * table split at the midpoint of its ts span into two parquet
    * files, one per trigger — two micro-batches that exercise state
    * CARRY-OVER without duplicate delivery (a counter state machine
    * is deliberately not replay-idempotent; the at-least-once story is
    * [[dedupEvents]] / [[replayedEventsStream]]). The split is on
    * event time, ties kept in the earlier chunk, so delivery is
    * time-ordered ACROSS batches: no row ever arrives behind the
    * watermark, order-sensitive folds (EWMA, as-of, sessions) equal
    * their batch spellings, and the machines' per-batch (ts, event_id)
    * sort makes the fold order fully deterministic. */
  private[graft] def chunkedEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    require(java.nio.file.Files.exists(src), s"events source missing: $src")
    def base() = eventsForStream(spark, dir)
    lazy val cut = {
      val r = base()
        .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
        .head() // bounded: two longs
      (r.getLong(0) + r.getLong(1)) / 2
    }
    stagedChunkStream(
      spark,
      "events_tsplit_" + dir.replaceAll("[^a-zA-Z0-9]", "_"),
      "v1|tsmid|" + sourceSig(src),
      Seq(
        () => base().filter(unix_micros(col("ts")) <= cut),
        () => base().filter(unix_micros(col("ts")) > cut)))
  }

  /** A CHUNKED, TIME-SPLIT orders stream (split at the midpoint of the
    * o_orderdate span, ties in the earlier chunk) — the [[scd2Stream]]
    * twin's delivery: time-ordered across batches, never replayed. */
  private[graft] def chunkedOrdersStream(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(s"$dir/orders.parquet")
    require(java.nio.file.Files.exists(src), s"orders source missing: $src")
    def base() = graft.Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
    lazy val cut = {
      val r = base()
        .agg(
          min(datediff(col("o_orderdate"), lit("1970-01-01"))).as("lo"),
          max(datediff(col("o_orderdate"), lit("1970-01-01"))).as("hi"))
        .head() // bounded: two ints
      (r.getInt(0) + r.getInt(1)) / 2
    }
    stagedChunkStream(
      spark,
      "orders_dsplit_" + dir.replaceAll("[^a-zA-Z0-9]", "_"),
      "v1|datemid|" + sourceSig(src),
      Seq(
        () => base().filter(datediff(col("o_orderdate"), lit("1970-01-01")) <= cut),
        () => base().filter(datediff(col("o_orderdate"), lit("1970-01-01")) > cut)))
  }

  /** An at-least-once events stream: the full table delivered TWICE
    * (chunk 0 and chunk 1 are identical copies, one per trigger) — the
    * replay input for the ingest-dedup machines, where exactly-once
    * output under re-delivery is the claim itself. */
  private[graft] def replayedEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    require(java.nio.file.Files.exists(src), s"events source missing: $src")
    def base() = eventsForStream(spark, dir)
    stagedChunkStream(
      spark,
      "events_replay2_" + dir.replaceAll("[^a-zA-Z0-9]", "_"),
      "v1|x2|" + sourceSig(src),
      Seq(() => base(), () => base()))
  }
}
