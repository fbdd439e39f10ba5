package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stateful streaming semantics: re-delivered events are dropped
  * exactly-once by the watermarked dedup, and the
  * flatMapGroupsWithState machine converges to batch ground truth.
  */
class StatefulSpec extends SparkSuite {

  /** Session clone for transformWithState legs: the API requires the
    * RocksDB state store provider; a session-scoped conf can't leak
    * into concurrently running streaming queries (ADVICE r15). */
  private def twsSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** Run a stateful stream to completion into a memory sink and hand
    * back every emission, as a sorted row multiset. */
  private def emissions[T](
      s: org.apache.spark.sql.SparkSession,
      ds: org.apache.spark.sql.Dataset[T],
      name: String,
      mode: String): Seq[Seq[Any]] = {
    val q = ds.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
  }

  private def chunkedEvents(tmp: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"), col("value"))
    // write the SAME data twice — an at-least-once source re-delivering
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    ev.coalesce(1).write.mode("append").parquet(tmp)
    spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
  }

  test("watermarked dropDuplicates makes re-delivery exactly-once") {
    val tmp = Files.createTempDirectory("graft_dedup_stream").toString + "/in"
    val stream = streaming.StatefulDemos.dedupEvents(chunkedEvents(tmp))
    val q = stream.writeStream
      .format("memory")
      .queryName("t_dedup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("t_dedup").count()
    val distinct = Tables.events(spark, sf).select(col("event_id")).distinct().count()
    assert(got == distinct, s"deduped stream rows $got vs distinct ids $distinct")
  }

  test("streaming EWMA state machine equals the batch fold bit-for-bit") {
    val tmp = Files.createTempDirectory("graft_ewma_stream").toString + "/in"
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"), col("value"))
    ev.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = streaming.StatefulDemos
      .userEwma(spark, stream)
      .writeStream
      .format("memory")
      .queryName("t_ewma")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last emission per user (highest n) vs the batch fold, after the
    // same trunc-rounding the batch query applies
    val got = spark.table("t_ewma").collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) =>
        val last = rows.maxBy(_.getLong(1))
        u -> (last.getLong(1), math.floor(last.getDouble(2) * 1e6 + 0.5) / 1e6)
      }
    val exp = operators.TimeSeries.tsEwma.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size == exp.size, s"user count ${got.size} vs ${exp.size}")
    for ((u, (n, e)) <- got) {
      assert(exp(u) == ((n, e)), s"user $u: streamed ($n, $e) vs batch ${exp(u)}")
    }
  }

  test("flatMapGroupsWithState totals converge to batch ground truth") {
    val tmp = Files.createTempDirectory("graft_state_stream").toString + "/in"
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"), col("value"))
    ev.coalesce(2).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = streaming.StatefulDemos
      .userTotals(spark, stream)
      .writeStream
      .format("memory")
      .queryName("t_state")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // in update mode the memory sink accumulates every emission; the
    // LAST emission per user must equal the batch totals
    val finalPerUser = spark
      .table("t_state")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val batch = Tables
      .events(spark, sf)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(finalPerUser == batch)
  }

  test("transformWithState totals equal the flatMapGroupsWithState twin and batch") {
    // Spark 4's arbitrary-state API, driven over the same chunked
    // source as the fMGWS test: final per-user state must equal the
    // batch aggregate (and therefore userTotals' own final state).
    // transformWithState requires the RocksDB state store provider —
    // session-scoped on an isolated clone (twsSession).
    val tmp = Files.createTempDirectory("graft_tws_stream").toString + "/in"
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"), col("value"))
    ev.coalesce(2).write.mode("overwrite").parquet(tmp)
    // session-scoped RocksDB provider on an isolated clone — never a
    // set/unset dance on the shared suite session (ADVICE r15)
    val ts = twsSession()
    val twStream = ts.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = streaming.StatefulDemos
      .userTotalsTws(ts, twStream)
      .writeStream
      .format("memory")
      .queryName("t_tws")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the fMGWS twin over the SAME chunked source (default provider):
    // identical input decode + fold body, so the two APIs' final
    // states must be identical — including null-value decode behavior
    val stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
    val q2 = streaming.StatefulDemos
      .userTotals(spark, stream)
      .writeStream
      .format("memory")
      .queryName("t_tws_fm")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    def finalState(table: String): Map[Long, (Long, Double)] = (if (table == "t_tws") ts else spark)
      .table(table)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("max_value")).as("max_value"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val tws = finalState("t_tws")
    val fm  = finalState("t_tws_fm")
    assert(tws.nonEmpty && tws == fm, "the two state APIs disagree on final per-user state")
    // and both equal the batch event count per user
    val batchN = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tws.view.mapValues(_._1).toMap == batchN)
  }

  // -------------------------------------------------------------------
  // FULL-CORPUS transformWithState twin pins (r16): every fMGWS machine
  // gets its TWS twin run over the SAME chunked time-split delivery
  // (the StatefulDemos staging the parity row also uses) and the
  // emission logs must agree exactly — doubles included, since both
  // APIs run the identical per-batch fold. The sliced driver verdicts
  // live in stream_state_api_parity; these hold the unsliced claim.
  // -------------------------------------------------------------------

  test("transformWithState EWMA twin emits identically to fMGWS") {
    val fm = emissions(
      spark,
      streaming.StatefulDemos.userEwma(
        spark, streaming.StatefulDemos.chunkedEventsStream(spark, sf)),
      "t_ewma_fm_full", "update")
    val s = twsSession()
    val tw = emissions(
      s,
      streaming.StatefulDemos.userEwmaTws(
        s, streaming.StatefulDemos.chunkedEventsStream(s, sf)),
      "t_ewma_tws_full", "update")
    assert(fm.nonEmpty && fm == tw,
      s"EWMA twins diverge: ${fm.size} fMGWS vs ${tw.size} TWS emissions")
  }

  test("transformWithState session twin (event-time timers) emits identically to fMGWS") {
    val fm = emissions(
      spark,
      streaming.StatefulDemos.sessionTracker(
        spark, streaming.StatefulDemos.chunkedEventsStream(spark, sf), gapMin = 30),
      "t_sess_fm_full", "append")
    val s = twsSession()
    val tw = emissions(
      s,
      streaming.StatefulDemos.sessionTrackerTws(
        s, streaming.StatefulDemos.chunkedEventsStream(s, sf), gapMin = 30),
      "t_sess_tws_full", "append")
    assert(fm.nonEmpty && fm == tw,
      s"session twins diverge: ${fm.size} fMGWS vs ${tw.size} TWS emissions")
  }

  test("transformWithState as-of twin emits identically to fMGWS") {
    val fm = emissions(
      spark,
      streaming.StatefulDemos.lastClickEnrich(
        spark, streaming.StatefulDemos.chunkedEventsStream(spark, sf)),
      "t_asof_fm_full", "update")
    val s = twsSession()
    val tw = emissions(
      s,
      streaming.StatefulDemos.lastClickEnrichTws(
        s, streaming.StatefulDemos.chunkedEventsStream(s, sf)),
      "t_asof_tws_full", "update")
    assert(fm.nonEmpty && fm == tw,
      s"as-of twins diverge: ${fm.size} fMGWS vs ${tw.size} TWS emissions")
  }

  test("transformWithState SCD2 twin emits identically to fMGWS") {
    val fm = emissions(
      spark,
      streaming.StatefulDemos.scd2Stream(
        spark, streaming.StatefulDemos.chunkedOrdersStream(spark, sf)),
      "t_scd2_fm_full", "update")
    val s = twsSession()
    val tw = emissions(
      s,
      streaming.StatefulDemos.scd2StreamTws(
        s, streaming.StatefulDemos.chunkedOrdersStream(s, sf)),
      "t_scd2_tws_full", "update")
    assert(fm.nonEmpty && fm == tw,
      s"SCD2 twins diverge: ${fm.size} fMGWS vs ${tw.size} TWS emissions")
  }

  test("transformWithState dedup twin equals dropDuplicates under replay") {
    val fm = emissions(
      spark,
      streaming.StatefulDemos.dedupEvents(
        streaming.StatefulDemos.replayedEventsStream(spark, sf))
        .select(col("event_id")),
      "t_dedup_dd_full", "append")
    val s = twsSession()
    val tw = emissions(
      s,
      streaming.StatefulDemos.dedupEventsTws(
        s, streaming.StatefulDemos.replayedEventsStream(s, sf)),
      "t_dedup_tws_full", "append")
    assert(fm.nonEmpty && fm == tw,
      s"dedup twins diverge: ${fm.size} dropDuplicates vs ${tw.size} TWS emissions")
    val distinct = Tables.events(spark, sf).select(col("event_id")).distinct().count()
    assert(fm.size.toLong == distinct, s"deduped ids ${fm.size} vs distinct $distinct")
  }

  test("event-time-timeout session tracker matches batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    val tmp = Files.createTempDirectory("graft_sess_stream").toString + "/in"
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"))
    ev.coalesce(1).write.mode("overwrite").parquet(tmp) // ONE file = ONE batch
    val stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = streaming.StatefulDemos
      .sessionTracker(spark, stream, gapMin = 30)
      .writeStream
      .format("memory")
      .queryName("t_sess")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("t_sess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // batch ground truth: gaps-and-islands sessionization. A session
    // emits either because a later same-user event closed it IN batch,
    // or because AvailableNow's final watermark advance (max ts − 1 h)
    // fired its event-time timeout. Only sessions whose timeout sits
    // within the boundary jitter of the final watermark are excluded
    // from the exact compare (off-by-one watermark semantics).
    val w = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    val sess = Tables
      .events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(cast(ts as timestamp)) AS tu")
      .withColumn("gap", (col("tu") - lag(col("tu"), 1).over(w)) > 30L * 60 * 1000000)
      .withColumn("sid", sum(when(coalesce(col("gap"), lit(false)), 1).otherwise(0)).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("tu")).as("s"), max(col("tu")).as("e"), count(lit(1)).as("n"))
    val lastSid = sess.groupBy(col("user_id")).agg(max(col("sid")).as("last_sid"))
    val all = sess
      .join(lastSid, Seq("user_id"))
      .select(col("user_id"), col("s"), col("e"), col("n"), (col("sid") === col("last_sid")).as("isLast"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val wmMs = all.map(_._3).max / 1000 - 3600L * 1000 // final watermark: max ts − 1 h
    val gapMs = 30L * 60 * 1000
    def timeoutMs(e: Long): Long = e / 1000 + gapMs + 1
    val mustEmit = all.filter(s => !s._5 || timeoutMs(s._3) < wmMs - 1000).map(t => (t._1, t._2, t._3, t._4)).toSet
    val mayEmit = all.filter(s => s._5 && math.abs(timeoutMs(s._3) - wmMs) <= 1000).map(t => (t._1, t._2, t._3, t._4)).toSet
    assert(mustEmit.nonEmpty)
    assert(mustEmit.subsetOf(got), s"${(mustEmit -- got).size} expected sessions missing")
    assert((got -- mustEmit -- mayEmit).isEmpty, s"${(got -- mustEmit -- mayEmit).size} unexpected emissions")
  }

  test("session timers fire strictly below the final no-data-batch watermark, ms-floored") {
    // ADVICE r17: the parity audit's session batch cross-check PREDICTS
    // the emitted set from Spark-version-specific internals — the
    // AvailableNow run ends with a no-data batch whose watermark is
    // floor(max_event_us / 1000) − delay_ms, and a timer set at
    // last_us/1000 + gap_ms + 1 fires iff STRICTLY below that
    // watermark. Pin each internal on a synthetic slice whose users sit
    // exactly ON and exactly one ms BELOW the boundary, so a Spark
    // upgrade that changes no-data-batch or timeout-comparison
    // semantics fails THIS spec (naming the drifted assumption) instead
    // of silently flipping the audit's batch_consistent flags.
    // All µs offsets below are relative to the base B (ms-aligned):
    //   watermark: max event = u9 at B+10_000_000_789 µs → ms-FLOOR
    //     B+10_000_000, wm = that − 3_600_000 = B+6_400_000 ms (a
    //     ceiling would give +1 and wrongly emit u3);
    //   u3: last B+4_599_999_000 µs → timer B+6_400_000 == wm → must
    //     NOT fire (strictly-below);
    //   u4: last B+4_599_998_000 µs → timer B+6_399_999 < wm → fires;
    //   u5: last B+4_599_998_999 µs → timer floor-divides to the SAME
    //     B+6_399_999 → fires (a µs-rounding timer would hit the wm
    //     and not fire);
    //   u1/u2: ordinary in-gap merge and closed-by-later-event cases.
    val tmp = Files.createTempDirectory("graft_sess_semantics").toString + "/in"
    import spark.implicits._
    // B offsets the slice off the epoch: a row AT the initial zero
    // watermark is dropped by the stateful op's late-event filter
    // (observed: tu=0 rows never reach the handler), an epoch edge no
    // real slice sits on. B is ms-aligned so every boundary delta
    // below survives the shift unchanged.
    val B = 86400000000L // 1 day in µs
    val rows = Seq(
      (1L, B, 100L), (1L, B + 600000000L, 101L),          // one 2-event session
      (2L, B, 200L), (2L, B + 3000000000L, 201L),         // event-closed + timer-closed
      (3L, B + 4599999000L, 300L),                        // timer == wm exactly
      (4L, B + 4599998000L, 400L),                        // timer = wm − 1 ms
      (5L, B + 4599998999L, 500L),                        // µs tail, same floored timer
      (9L, B + 10000000789L, 900L))                       // the slice clock (never emits)
    val ev = rows.toDF("user_id", "us", "event_id")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("event_id"))
    ev.coalesce(1).write.mode("overwrite").parquet(tmp) // ONE file = ONE data batch
    val stream = spark.readStream.schema(ev.schema).parquet(tmp)
    val q = streaming.StatefulDemos
      .sessionTracker(spark, stream, gapMin = 30)
      .writeStream
      .format("memory")
      .queryName("t_sess_semantics")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("t_sess_semantics").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val expected = Set(
      (1L, B, B + 600000000L, 2L),
      (2L, B, B, 1L),
      (2L, B + 3000000000L, B + 3000000000L, 1L),
      (4L, B + 4599998000L, B + 4599998000L, 1L),
      (5L, B + 4599998999L, B + 4599998999L, 1L))
    assert(got == expected,
      s"session timer semantics drifted: missing=${expected -- got} unexpected=${got -- expected}")
  }

  test("streaming as-of enrichment equals the batch as-of join") {
    val tmp = Files.createTempDirectory("graft_asof_stream").toString + "/in"
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
    ev.coalesce(1).write.mode("overwrite").parquet(tmp) // ONE file = ONE batch
    val stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = streaming.StatefulDemos
      .lastClickEnrich(spark, stream)
      .writeStream
      .format("memory")
      .queryName("t_asof")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("t_asof").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
    val batch = operators.Joins.asOf.run(spark, sf).collect()
      .map { r =>
        def us(i: Int): Option[Long] =
          if (r.isNullAt(i)) None
          else {
            val t = r.getAs[java.time.LocalDateTime](i)
            Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L)
          }
        (r.getLong(0), r.getLong(1), us(2).get, us(3))
      }
      .toSet
    assert(got.nonEmpty && got == batch,
      s"${(got diff batch).size} extra, ${(batch diff got).size} missing")
  }

  test("streaming SCD2 state machine equals the batch dimension build") {
    val tmp = Files.createTempDirectory("graft_scd2_stream").toString + "/in"
    val o = Tables
      .orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
    o.coalesce(1).write.mode("overwrite").parquet(tmp) // ordered replay: one batch
    val stream = spark.readStream.schema(o.schema).option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = streaming.StatefulDemos
      .scd2Stream(spark, stream)
      .writeStream
      .format("memory")
      .queryName("t_scd2")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Update-mode upsert semantics: a version's CLOSED emission
    // supersedes its open re-emissions; among open rows the largest
    // n_orders is the latest (the run count only grows)
    val got = spark.table("t_scd2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5), r.getLong(6)))
      .groupBy(t => (t._1, t._2))
      .map { case (_, vs) => vs.find(!_._6).getOrElse(vs.maxBy(_._7)) }
      .toSet
    val batch = operators.Maintenance.maintScd2.run(spark, sf)
      .selectExpr("o_custkey", "version", "status",
        "datediff(valid_from, DATE '1970-01-01') AS f",
        "datediff(valid_to, DATE '1970-01-01') AS t", "is_current", "n_orders")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3).toLong,
        if (r.isNullAt(4)) None else Some(r.getInt(4).toLong), r.getBoolean(5), r.getLong(6)))
      .toSet
    assert(got.nonEmpty && got == batch,
      s"${(got diff batch).size} extra, ${(batch diff got).size} missing of ${batch.size}")
  }

  test("a second chunked stream over an already-staged source starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    streaming.StatefulDemos.chunkedEventsStream(spark, sf) // stages, or finds it staged
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("graft_stage_probe")  => probeJobs.incrementAndGet(); ()
          case Some("graft_stage_marker") => markerSeen.countDown()
          case _                          => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft_stage_probe", "second open of a staged source")
      try streaming.StatefulDemos.chunkedEventsStream(spark, sf)
      finally sc.clearJobGroup()
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job the probe started has been counted
      sc.setJobGroup("graft_stage_marker", "listener bus barrier")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(probeJobs.get == 0, s"${probeJobs.get} jobs opening an already-staged source")
    } finally sc.removeSparkListener(listener)
  }

  test("a chunked source regenerated in place is re-staged, never served stale") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_chunk_restage")
    val staged = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_chunks",
      "events_tsplit_" + dir.toString.replaceAll("[^a-zA-Z0-9]", "_"))
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    try {
      val table = dir.resolve("events.parquet")
      Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"), table)
      var run = 0
      def streamedIds(): Set[Long] = {
        run += 1
        emissions(
          spark,
          streaming.StatefulDemos.chunkedEventsStream(spark, dir.toString).select(col("event_id")),
          s"t_chunk_restage_$run", "append")
          .map(_.head.asInstanceOf[Long]).toSet
      }
      val events = Tables.events(spark, sf)
      val all = events.select(col("event_id")).collect().map(_.getLong(0)).toSet
      assert(streamedIds() == all)
      val subset = events.filter(col("event_id") % 2 === 0)
      val subsetIds = subset.select(col("event_id")).collect().map(_.getLong(0)).toSet
      assert(subsetIds.nonEmpty && subsetIds.size < all.size, "subset must be strict and non-empty")
      val written = dir.resolve("subset")
      subset.coalesce(1).write.parquet(written.toString)
      val part = Files.list(written).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, table, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val got = streamedIds()
      if (got != subsetIds)
        fail(s"the chunked replay served the stale staged copy: ${got.size} ids, ${subsetIds.size} in the subset")
    } finally {
      rmTree(dir)
      rmTree(staged)
    }
  }
}
