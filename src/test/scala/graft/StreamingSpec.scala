package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming semantics (SURVEY §5.4): the streamed
  * watermarked aggregations must agree with their DuckDB-verified
  * batch twins on all FINALIZED windows (append mode only emits a
  * window once the watermark passes its end — trailing windows inside
  * the final watermark stay open forever on a finite source), and
  * out-of-order replay beyond the watermark must drop late rows.
  */
class StreamingSpec extends SparkSuite {

  test("streamed tumbling 1h counts == batch twin on finalized windows") {
    val result = streaming.StreamDemos.runToCompletion(
      spark,
      streaming.StreamDemos.tumblingCounts(spark, sf),
      "t_tumbling"
    )
    val events = Tables.events(spark, sf)
    val maxTs = events.agg(max(col("ts"))).collect()(0).getAs[java.time.LocalDateTime](0)
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // finalized = window end < watermark = maxTs - 1h  ⇒  hour start
    // strictly before maxTs - 2h (strict: the boundary window's
    // emission depends on watermark comparison inclusivity)
    val cutoff = maxTs.minusHours(2)
    val expected = batch
      .filter(col("hour") < lit(cutoff))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getString(1)) -> r.getLong(2))
      .toMap
    val got = result
      .withColumn("hour", col("hour").cast("timestamp_ntz"))
      .filter(col("hour") < lit(cutoff))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(expected.nonEmpty)
    val onlyStream = (got.keySet -- expected.keySet).take(5)
    val onlyBatch = (expected.keySet -- got.keySet).take(5)
    val countDiff = got.collect { case (k, v) if expected.get(k).exists(_ != v) => k }.take(5)
    assert(
      got == expected,
      s"stream=${got.size} batch=${expected.size} onlyStream=$onlyStream onlyBatch=$onlyBatch countDiff=$countDiff"
    )
  }

  test("stream-stream view->purchase join == batch self-join") {
    val result = streaming.StreamDemos.runToCompletion(
      spark,
      streaming.StreamDemos.viewPurchaseJoin(spark, sf),
      "t_ss_join"
    )
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts").cast("timestamp").as("ts"))
    val views = ev
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    val expected = views
      .join(
        purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS")
      )
      .select(col("view_id"), col("purchase_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val got = result.select(col("view_id"), col("purchase_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(expected.nonEmpty, "batch twin found no view->purchase pairs")
    assert(got == expected, s"stream=${got.size} batch=${expected.size} " +
      s"onlyStream=${(got -- expected).take(3)} onlyBatch=${(expected -- got).take(3)}")
  }

  test("late events beyond the watermark are dropped on out-of-order replay") {
    val dir = Files.createTempDirectory("graft_stream").toFile
    val chunkDir = s"${dir.getAbsolutePath}/in"
    val ev = Tables
      .events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"))
    // chunk 1: the NEWEST half (advances watermark to near max ts);
    // chunk 2: the oldest quarter — far beyond the 1h watermark, late.
    val ts = ev.select(col("ts")).orderBy(col("ts")).collect().map(_.getAs[java.sql.Timestamp](0))
    val mid = ts(ts.length / 2)
    val q1 = ts(ts.length / 4)
    val lateCutoff = java.sql.Timestamp.from(q1.toInstant.minus(java.time.Duration.ofHours(1)))
    ev.filter(col("ts") >= lit(mid)).coalesce(1).write.mode("overwrite").parquet(chunkDir)
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(chunkDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))
    val q = stream.writeStream
      .format("memory")
      .queryName("t_late")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(200))
      .start()
    q.processAllAvailable()
    // now replay OLD data (ts < q1): watermark is already near max ts,
    // so every one of these rows is hours late and must be dropped.
    ev.filter(col("ts") < lit(q1)).coalesce(1).write.mode("append").parquet(chunkDir)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_late")
    val lateHours = got.filter(col("hour") < lit(lateCutoff))
    assert(lateHours.count() == 0, "late rows leaked past the watermark")
  }

  test("streamed ingest dedup: at-least-once replay emits each event exactly once") {
    // source stages the events file TWICE -> two micro-batches with
    // identical payloads; the dedup state (batch 2's recent events) and
    // the watermark late-drop (batch 2's old events) together must
    // suppress the entire replay
    val result = streaming.StreamDemos.runToCompletion(
      spark,
      streaming.StreamDemos.dedupedIngest(spark, sf, copies = 2),
      "t_dedup"
    )
    val n = Tables.events(spark, sf).count()
    assert(result.count() == n, s"expected $n exactly-once events, got ${result.count()}")
    assert(result.select(col("event_id")).distinct().count() == n, "duplicate event_ids in output")
  }

  test("streaming curation gate: replayed corpus yields each distinct doc exactly once") {
    val curated = streaming.StreamDemos.runToCompletion(
      spark,
      streaming.StreamDemos.curatedIngest(spark, sf, copies = 2),
      "t_curate"
    )
    val batch = Tables
      .documents(spark, sf)
      .filter(col("n_chars") >= 150 && size(split(col("text"), " ")) >= 20)
      .select(col("lang"), sha2(col("text"), 256).as("text_sha"))
      .distinct()
    // exactly-once per distinct (lang, sha) despite the x2 replay
    assert(curated.count() == batch.count(),
      s"expected ${batch.count()} curated docs, got ${curated.count()}")
    val got = curated.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = batch.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"per-lang curated counts diverge: got=$got exp=$exp")
  }

  test("incremental streamed top-k equals batch top-k (mergeable-summary invariant)") {
    val streamed = streaming.StreamDemos.incrementalTopK(spark, sf, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = org.apache.spark.sql.graftx.TopKPerGroup(
      Tables.events(spark, sf).select(col("event_type"), col("event_id"), col("value")),
      Seq("event_type"), Seq("value" -> true, "event_id" -> false), 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("incremental MV fold equals the one-shot batch recompute") {
    import org.apache.spark.sql.functions._
    val mv = streaming.StreamDemos.incrementalMv(spark, rows = 40000, perTrigger = 7000)
    val batch = spark.read
      .format("graft.sources.SyntheticSource")
      .option("rows", 40000)
      .load()
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"), Det.rN(Det.dsum(col("v")), 6).as("sum_v"))
      .orderBy(col("word"))
    val got = mv.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = batch.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want) // bit-identical: exact decimal partials merge without drift
  }

  test("streamed session windows cover all non-trailing events") {
    val result = streaming.StreamDemos.runToCompletion(
      spark,
      streaming.StreamDemos.sessionCounts(spark, sf),
      "t_sessions"
    )
    val batch = operators.TimeSeries.tsSession30m.run(spark, sf)
    val events = Tables.events(spark, sf)
    val maxTs = events.agg(max(col("ts"))).collect()(0).getAs[java.time.LocalDateTime](0)
    // a session is emitted once the watermark (maxTs - 1h) passes its
    // stream end = last event + 30 min gap; use a strict margin.
    val cutoff = maxTs.minusHours(2)
    val batchAll = batch
      .select(col("user_id"), col("session_start"), col("n_events"), col("session_end"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)) ->
        (r.getLong(2), r.getAs[java.time.LocalDateTime](3)))
      .toMap
    val got = result
      .withColumn("s", col("session_start").cast("timestamp_ntz"))
      .select(col("user_id"), col("s"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1)) -> r.getLong(2))
      .toMap
    // everything the stream emitted matches its batch twin exactly
    for ((k, n) <- got) {
      assert(batchAll.contains(k), s"stream emitted unknown session $k")
      assert(batchAll(k)._1 == n, s"session $k count stream=$n batch=${batchAll(k)._1}")
    }
    // and every clearly-finalized batch session was emitted
    val mustEmit = batchAll.filter { case (_, (_, end)) => end.isBefore(cutoff) }
    assert(mustEmit.nonEmpty)
    for ((k, (n, _)) <- mustEmit)
      assert(got.get(k).contains(n), s"finalized session $k missing from stream")
  }

  test("streaming ingest screen == persisted-signature batch screen, replay-idempotent") {
    // the stream side of the serving-view story: each micro-batch is
    // screened against the write-once corpus signature table; with
    // copies=2 every doc is REPLAYED and the merged verdicts must
    // still equal the batch row bit-for-bit (same static table, same
    // blocked plan, idempotent merge by doc_id)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
    val streamed = streaming.StreamDemos.screenedIngest(spark, sf, copies = 2)
      .collect().map(key).sortBy(_._1)
    val batch = operators.Dedup.dedupIncrementalPersisted.run(spark, sf)
      .collect().map(key).sortBy(_._1)
    assert(streamed.nonEmpty, "stream must emit verdicts")
    assert(streamed.toSeq == batch.toSeq, "streamed verdicts diverge from the batch screen")
  }

  test("streamed BM25 index maintenance == batch-built index, replay-idempotent") {
    // the inverted-index serving view's stream-update story: replayed
    // micro-batches (copies=2) merge postings idempotently by
    // (tok, doc_id), and the final index must be bit-equal to the
    // write-once batch build — both content (postings rows, stats row)
    // come from the same stateless projection, so persistence vs
    // streaming maintenance is result-invisible
    val (sPostings, sStats) = streaming.StreamDemos.streamedBm25Index(spark, sf, copies = 2)
    val (pPath, stPath)     = operators.TextAnalysis.bm25IndexPath(spark, sf)
    def pKey(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))
    val streamed = sPostings.collect().map(pKey).sortBy(k => (k._1, k._2))
    val batch = spark.read.parquet(pPath)
      .select(col("tok"), col("doc_id"), col("dl"), col("tf"))
      .collect().map(pKey).sortBy(k => (k._1, k._2))
    assert(streamed.nonEmpty, "stream must build postings")
    assert(streamed.toSeq == batch.toSeq, "streamed postings diverge from the batch index")
    val sRow = sStats.collect().head
    val bRow = spark.read.parquet(stPath).select(col("n"), col("avgdl")).collect().head
    assert(sRow.getLong(0) == bRow.getLong(0), "doc count diverges")
    assert(sRow.getDouble(1) == bRow.getDouble(1), "avgdl must be bit-equal (same IEEE op order)")
  }

  test("streamed LSH signature table == batch-built table, replay-idempotent") {
    // the ANN serving view's stream-update story: replayed vectors
    // merge idempotently by vec_id (the sign-bucket projection is a
    // pure per-vector function), and the final table must be bit-equal
    // to the write-once batch build — bucket AND embedding payload
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toList)
    val streamed = streaming.StreamDemos.streamedLshSigTable(spark, sf, copies = 2)
      .collect().map(key).sortBy(_._1)
    val batch = spark.read
      .parquet(operators.Similarity.lshSigTablePath(spark, sf))
      .select(col("vec_id"), col("embedding"), col("bucket"))
      .collect().map(key).sortBy(_._1)
    assert(streamed.nonEmpty, "stream must build signatures")
    assert(streamed.toSeq == batch.toSeq, "streamed LSH signatures diverge from the batch table")
  }

  test("streaming minhash ingest screen == persisted-table batch screen, replay-idempotent") {
    // the banded sibling of the exact-screen symmetry test: replayed
    // micro-batches screen against the same static minhash table and
    // merge verdicts idempotently by doc_id
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
    val streamed = streaming.StreamDemos.minhashScreenedIngest(spark, sf, copies = 2)
      .collect().map(key).sortBy(_._1)
    val batch = operators.Dedup.dedupMinhashIncremental.run(spark, sf)
      .collect().map(key).sortBy(_._1)
    assert(streamed.nonEmpty, "stream must emit verdicts")
    assert(streamed.toSeq == batch.toSeq, "streamed minhash verdicts diverge from the batch screen")
  }

  test("streaming pair-manifest delta == batch delta row, replay-idempotent across micro-batches") {
    // the one cross-record view with a stream story: each micro-batch
    // probes corpus signatures PLUS everything arrived so far, so a
    // pair spanning two micro-batches surfaces when its later endpoint
    // arrives; merging by (ida, idb) collapses same-batch symmetric
    // hits and replayed recomputations, so copies=2 must reproduce
    // dedup_pairs_incremental's delta bit-for-bit, jac rounding included
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = streaming.StreamDemos.pairDeltaIngest(spark, sf, copies = 2)
      .collect().map(key).sortBy(k => (k._1, k._2))
    val batch = operators.Dedup.dedupPairsIncremental.run(spark, sf)
      .collect().map(key).sortBy(k => (k._1, k._2))
    assert(streamed.nonEmpty, "stream must emit delta pairs")
    assert(streamed.toSeq == batch.toSeq, "streamed pair delta diverges from the batch delta row")
  }

  test("seeded audit slices provably contain a known positive (ADVICE r15)") {
    // The two join-dependent audit families seed their doc_id % 8
    // residue from a known positive instead of hardcoding 0, so the
    // equal-empty fallback only engages on a corpus with NO positive.
    // Pin the invariant the seeds buy: the BATCH spelling over each
    // seeded slice is nonempty whenever a positive exists at all.
    import org.apache.spark.sql.functions.{col, pmod, lit, min => fmin}
    // pair_delta: residue must come from a probe-corpus manifest pair,
    // and the sliced batch delta must then contain it
    val manifest = spark.read.parquet(operators.Dedup.pairTablePath(spark, sf))
    val hasProbeCorpusPair = manifest
      .filter((col("ida") % 10 === 0 && col("idb") % 10 =!= 0) ||
        (col("idb") % 10 === 0 && col("ida") % 10 =!= 0))
      .limit(1).count() > 0
    val pdRes = operators.StreamEquivalence.pairDeltaSeedResidue(spark, sf)
    if (hasProbeCorpusPair) {
      val probes = Tables.documents(spark, sf)
        .filter(col("doc_id") % 10 === 0 && pmod(col("doc_id"), lit(8)) === pdRes)
      val sigs = operators.Dedup.signaturesOf(probes)
      val slicedDelta = operators.Dedup.pairDeltaAgainst(
        sigs,
        operators.Dedup.corpusSigTable(spark, sf).unionByName(sigs),
        col("ida") =!= col("idb") && (col("idb") % 10 =!= 0 || col("ida") < col("idb")))
      assert(slicedDelta.limit(1).count() > 0,
        s"pair_delta seed residue $pdRes yields an empty sliced delta despite a known positive")
    } else assert(pdRes == 0L, "no probe-corpus pair: residue must fall back to 0")
    // contam: the seed view must agree with an independent recompute,
    // and the sliced screen must be nonempty when the seed is non-null
    val seed = spark.read
      .parquet(operators.TextAnalysis.contamSeedPath(spark, sf)).collect()(0)
    val ctRes = operators.StreamEquivalence.contamSeedResidue(spark, sf)
    val screened = operators.TextAnalysis.contamScreenAgainst(
      operators.TextAnalysis.contamShinglesBuild(
        Tables.documents(spark, sf).filter(col("doc_id") >= 20)),
      operators.TextAnalysis.contamBenchFrame(spark, sf))
    val expected = screened.agg(fmin(pmod(col("doc_id"), lit(8)))).collect()(0)
    assert(seed.isNullAt(0) == expected.isNullAt(0),
      "contam seed view disagrees with an independent full screen on emptiness")
    if (!seed.isNullAt(0)) {
      assert(seed.getLong(0) == expected.getLong(0), "contam seed residue drifted")
      assert(ctRes == seed.getLong(0))
      assert(screened.filter(pmod(col("doc_id"), lit(8)) === ctRes).limit(1).count() > 0,
        s"contam seed residue $ctRes yields an empty sliced screen")
    } else assert(ctRes == 0L, "clean corpus: residue must fall back to 0")
  }

  test("null-seed fallback: a clean corpus yields residue 0 without throwing (VERDICT r16 #7)") {
    // The seeded-slice test above exercises whichever branch the real
    // testdata takes — and at ALL three SFs positives exist, so the
    // NULL-seed path (no probe-corpus pair / clean corpus) was never
    // spec-covered at any scale. Synthesize it: a corpus of 30 docs
    // with fully disjoint vocabularies has no jac >= 0.8 pair and no
    // bench 5-gram overlap, so BOTH residue fetches must degrade to
    // the residue-0 fallback (null aggregate → 0L) instead of
    // throwing, and the manifests/views materialize empty cleanly.
    import org.apache.spark.sql.functions.{col, length => flen}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cleansf").toString
    val docs = (0 until 30).map { i =>
      // 8 distinct tokens per doc (>= 5, so shingle builds engage),
      // zero cross-doc token overlap
      (i.toLong, (0 until 8).map(j => s"tok${i}_$j").mkString(" "),
        "en", s"src${i % 3}")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", flen(col("text")).cast("long"))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(operators.StreamEquivalence.pairDeltaSeedResidue(spark, dir) == 0L,
      "empty pair manifest must fall back to residue 0")
    assert(operators.StreamEquivalence.contamSeedResidue(spark, dir) == 0L,
      "clean corpus must fall back to contam residue 0")
    // the seed view itself must exist and carry the null row (the
    // fallback's contract), not be absent or nonempty
    val seed = spark.read
      .parquet(operators.TextAnalysis.contamSeedPath(spark, dir)).collect()
    assert(seed.length == 1 && seed(0).isNullAt(0),
      "clean-corpus seed view must hold exactly one null row")
  }

  test("every per-document-pure serving view has a replay-idempotent streaming maintenance twin") {
    // the four signature/shingle tables that had no stream-update
    // story after the three index views: each twin runs the view
    // build's OWN projection per micro-batch and merges by doc_id, so
    // at-least-once replay must reproduce the batch-built parquet
    // bit-for-bit — arrays included
    def canon(v: Any): Any = v match {
      case s: scala.collection.Seq[_] => s.map(canon).toList
      case x => x
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.map(canon).toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    val twins: Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
      ("minhash_sigs", streaming.StreamDemos.streamedMinhashSigTable(spark, sf, copies = 2),
        operators.Dedup.minhashSigTablePath(spark, sf)),
      ("dedup_sigs", streaming.StreamDemos.streamedExactSigTable(spark, sf, copies = 2),
        operators.Dedup.sigTablePath(spark, sf)),
      ("simhash_sigs", streaming.StreamDemos.streamedSimhashSigTable(spark, sf, copies = 2),
        operators.Dedup.simhashSigTablePath(spark, sf)),
      ("contam_shingles", streaming.StreamDemos.streamedContamShingleTable(spark, sf, copies = 2),
        operators.TextAnalysis.contamShingleTablePath(spark, sf)),
      // r15: the multimodal feature view — decode+feature is a pure
      // per-document function of the payload bytes, so it rides the
      // same doc-keyed merge twin as the signature tables
      ("mm_features", streaming.StreamDemos.streamedMmFeatureTable(spark, sf, copies = 2),
        operators.Multimodal.mmFeatureTablePath(spark, sf))
    )
    for ((name, streamed, batchPath) <- twins) {
      val s = rows(streamed)
      val b = rows(spark.read.parquet(batchPath))
      assert(s.nonEmpty, s"$name: stream must build rows")
      assert(s == b, s"$name: streamed view diverges from the batch-built parquet")
    }
  }

  test("streamed CDC chunk table == batch chunk view, composite-keyed replay-idempotent") {
    // the first MULTI-row-per-document view twin: a doc emits one row
    // per content-defined chunk, merged by (doc_id, chunk_id) — a
    // replayed doc recomputes identical chunk rows, so copies = 2 must
    // reproduce the batch-built parquet bit-for-bit
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val streamed = streaming.StreamDemos.streamedCdcChunkTable(spark, sf, copies = 2)
      .collect().map(key).sortBy(k => (k._1, k._2))
    val batch = spark.read
      .parquet(operators.Dedup.cdcChunkTablePath(spark, sf))
      .collect().map(key).sortBy(k => (k._1, k._2))
    assert(streamed.nonEmpty, "stream must build chunk rows")
    assert(streamed.exists(_._1 != streamed.head._1), "multiple docs expected")
    assert(streamed.toSeq == batch.toSeq, "streamed chunk table diverges from the batch build")
  }

  test("streamed co-purchase edge view == batch edge view, replace-by-order replay-idempotent") {
    // the cross-record view whose unit of maintenance is the ORDER:
    // arrived incidence merges into basket state, touched orders'
    // pair contributions are recomputed with the batch build's own
    // basketPairs spelling and replaced wholesale — so replayed
    // lineitems (copies=2) and growing baskets both converge to the
    // batch-built weighted edge view bit-for-bit
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val streamed = streaming.StreamDemos.streamedEdgeView(spark, sf, copies = 2)
      .collect().map(key).sortBy(k => (k._1, k._2))
    val batch = spark.read
      .parquet(operators.Graph.edgeTablePath(spark, sf))
      .select(col("pa"), col("pb"), col("w"))
      .collect().map(key).sortBy(k => (k._1, k._2))
    assert(streamed.nonEmpty, "stream must build edges")
    assert(streamed.toSeq == batch.toSeq, "streamed edge view diverges from the batch build")
  }

  test("streaming contamination screen == batch screen over the persisted shingle view, replay-idempotent") {
    // the third ingest screen: each micro-batch is shingle-projected
    // by the view build's stateless function and screened against the
    // broadcast bench split of the persisted view; verdicts merge
    // idempotently by (doc_id, bench_id) — a doc can overlap several
    // bench docs — so at-least-once replay is bit-equal to the batch
    // text_contamination row
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed = streaming.StreamDemos.contamScreenedIngest(spark, sf, copies = 2)
      .collect().map(key).sortBy(k => (k._1, k._2))
    val batch = operators.TextAnalysis.textContamination.run(spark, sf)
      .collect().map(key).sortBy(k => (k._1, k._2))
    assert(streamed.nonEmpty, "stream must emit contamination verdicts")
    assert(streamed.toSeq == batch.toSeq, "streamed contamination verdicts diverge from the batch screen")
  }

  test("streamed PQ codes == batch-built compact code rows, replay-idempotent") {
    // new vectors are PQ-encoded against the FROZEN persisted
    // sub-codebooks and merge by vec_id — same serving contract as the
    // IVF lists; the final compact (vec_id, c0..c7) rows must be
    // bit-equal to the batch index build
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), (1 to 8).map(r.getInt).toList)
    val streamed = streaming.StreamDemos.streamedPqCodes(spark, sf, copies = 2)
      .collect().map(key).sortBy(_._1)
    val (_, codesPath) = operators.Advanced.pqIndexPath(spark, sf)
    val batch = spark.read.parquet(codesPath)
      .collect().map(key).sortBy(_._1)
    assert(streamed.nonEmpty, "stream must build codes")
    assert(streamed.toSeq == batch.toSeq, "streamed PQ codes diverge from the batch index")
  }

  test("streamed IVF-PQ codes == batch-built residual code rows, replay-idempotent") {
    // new vectors are coarse-assigned + residualized against the FROZEN
    // centroids, then encoded against the FROZEN residual sub-codebooks
    // — the composition is pure per-vector, so the replayed merge must
    // reproduce the batch index bit-exactly
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), (2 to 9).map(r.getInt).toList)
    val streamed = streaming.StreamDemos.streamedIvfPqCodes(spark, sf, copies = 2)
      .collect().map(key).sortBy(_._1)
    val (_, codesPath) = operators.Advanced.ivfPqIndexPath(spark, sf)
    val batch = spark.read.parquet(codesPath)
      .collect().map(key).sortBy(_._1)
    assert(streamed.nonEmpty, "stream must build IVF-PQ codes")
    assert(streamed.toSeq == batch.toSeq, "streamed IVF-PQ codes diverge from the batch index")
  }

  test("streamed BPE vocab == batch-built vocab view, replay-idempotent") {
    // the vocab's freq is a CORPUS aggregate, so the twin merges the
    // per-document-pure (doc_id, tok, cnt) rows keyed by (doc_id, tok)
    // and re-aggregates; the frozen merge list applies per token — the
    // served (tok, freq, st) rows must be bit-equal to the view build
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getString(2))
    val streamed = streaming.StreamDemos.streamedBpeVocab(spark, sf, copies = 2)
      .collect().map(key).sortBy(_._1)
    val (_, vocabPath) = operators.TextAnalysis.bpeIndexPath(spark, sf)
    val batch = spark.read.parquet(vocabPath)
      .select(col("tok"), col("freq"), col("st"))
      .collect().map(key).sortBy(_._1)
    assert(streamed.nonEmpty, "stream must build the vocab")
    assert(streamed.toSeq == batch.toSeq, "streamed BPE vocab diverges from the batch view")
  }

  test("streamed IVF assignments == batch-built inverted lists, replay-idempotent") {
    // new vectors are assigned against the FROZEN persisted quantizer
    // and merge by vec_id — the standard IVF serving contract; the
    // final lists must be bit-equal to the batch index build
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toList)
    val streamed = streaming.StreamDemos.streamedIvfAssignments(spark, sf, copies = 2)
      .collect().map(key).sortBy(_._1)
    val (_, asgPath) = operators.Advanced.ivfIndexPath(spark, sf)
    val batch = spark.read.parquet(asgPath)
      .select(col("vec_id"), col("embedding"), col("list_id"))
      .collect().map(key).sortBy(_._1)
    assert(streamed.nonEmpty, "stream must build assignments")
    assert(streamed.toSeq == batch.toSeq, "streamed IVF assignments diverge from the batch lists")
  }

  test("a source table regenerated in place is re-staged, never served stale") {
    // the file-source streams replay a STAGED copy of each table, and
    // the staging dir outlives the run; a table rewritten under the
    // same path (new size and mtime) must reach the next replay
    import java.nio.file.StandardCopyOption
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_restage")
    try {
      val table = dir.resolve("documents.parquet")
      Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"), table)
      def streamedKeys(): Set[Long] =
        streaming.StreamDemos.streamedExactSigTable(spark, dir.toString, copies = 1)
          .collect().map(_.getLong(0)).toSet
      val docs = Tables.documents(spark, sf)
      val all = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(streamedKeys() == all)
      val subset = docs.filter(col("doc_id") % 2 === 0)
      val subsetKeys = subset.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(subsetKeys.nonEmpty && subsetKeys.size < all.size, "subset must be strict and non-empty")
      val written = dir.resolve("subset")
      subset.coalesce(1).write.parquet(written.toString)
      val part = Files.list(written).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, table, StandardCopyOption.REPLACE_EXISTING)
      assert(streamedKeys() == subsetKeys, "the replay served the stale staged copy")
    } finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }
}
