package graft.streaming

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming demos (SURVEY §2.7 no-oracle rows): file-source
  * event ingest with watermarked tumbling and session windows. Their
  * batch twins (`ts_tumbling_1h`, `ts_session_30m`) carry the
  * DuckDB-verified semantics; StreamingSpec replays the events file in
  * chunks through these pipelines and asserts the final state matches
  * the batch result, plus watermark late-data drop on out-of-order
  * replay.
  *
  * 100 TB notes: both are single-stateful-operator topologies —
  * state is partitioned by (window/session, key) across executors, the
  * watermark bounds state size (old windows are evicted once the event
  * clock passes start+gap+watermark), and the file source scales by
  * splitting input files across tasks. `maxFilesPerTrigger` gives
  * backpressure; checkpointing (not enabled in the demo) makes it
  * exactly-once.
  */
object StreamDemos {

  /** The events schema as the STREAM source sees it: the RAW file
    * schema (LongType nanos under nanosAsLong for the ns testdata
    * generation, a native timestamp for the µs generation), with ts
    * converted per batch by the same schema-adaptive recipe as the
    * batch loader (SURVEY §1.3, [[Tables.events]]). */
  private def eventsStream(spark: SparkSession, dir: String, copies: Int = 1): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // The file source needs a DIRECTORY; the testdata table is a single
    // read-only file, so stage it into a temp dir (per-SF, idempotent).
    // copies > 1 stages the SAME file N times — each copy is its own
    // micro-batch (maxFilesPerTrigger=1), simulating an at-least-once
    // upstream that replays its payload.
    val staged = java.nio.file.Paths
      .get(
        System.getProperty("java.io.tmpdir"),
        "graft_stream_src",
        dir.replaceAll("[^a-zA-Z0-9]", "_") + (if (copies > 1) s"_x$copies" else "")
      )
    java.nio.file.Files.createDirectories(staged)
    (1 to copies).foreach { i =>
      // single-copy path keeps the historical file name so re-runs
      // against an already-staged dir stay idempotent
      val target = staged.resolve(if (copies == 1) "events.parquet" else s"events_$i.parquet")
      stageCopy(java.nio.file.Paths.get(s"$dir/events.parquet"), target)
    }
    val raw = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)
    rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // watermarks need TIMESTAMP (LTZ semantics). Interpret the
        // naive micros as UTC explicitly — `timestamp_micros` of the
        // physical NTZ value — instead of `cast(.. as timestamp)`,
        // which lands on the SESSION zone and would shift every window
        // boundary in a non-UTC library session. Identical under UTC.
        raw.withColumn("ts", timestamp_micros(graft.Det.ntzMicros(col("ts"))))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling 1 h counts per event_type with a 1 h watermark, append
    * mode — events later than (max seen ts − 1 h) are dropped. */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))

  /** Session windows (30-minute gap) per user with a 1 h watermark. */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("user_id"),
        col("n_events")
      )

  /** Stream-stream INNER join: each view joined to the same user's
    * purchases landing within 2 hours after it. Watermarks on BOTH
    * sides plus the closed time-range predicate are what make this
    * viable at scale — the state store keeps a view only until the
    * purchase-side watermark passes view_ts + 2h (and vice versa), so
    * state is bounded by (event rate × window), partitioned across
    * executors by user_id. Inner-join results emit as soon as both
    * rows arrive, so on a finite source the output equals the batch
    * self-join exactly (StreamingSpec asserts set equality). */
  def viewPurchaseJoin(spark: SparkSession, dir: String): DataFrame = {
    val views = eventsStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    views
      .join(
        purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS")
      )
      .select(col("user_id"), col("view_id"), col("purchase_id"), col("view_ts"), col("purchase_ts"))
  }

  /** Streaming ingestion dedup — the streaming twin of `dedup_exact`:
    * an at-least-once upstream (replayed files, retried producers)
    * becomes an exactly-once event stream via
    * `dropDuplicatesWithinWatermark` on the event key. State holds one
    * entry per key seen within the watermark horizon and is evicted as
    * the event clock advances, so state size is bounded by
    * (event rate x watermark), partitioned by key hash across
    * executors — the 100 TB shape for ingest dedup. Duplicates landing
    * later than the watermark are dropped as late data (also correct:
    * emit-once already happened). */
  def dedupedIngest(spark: SparkSession, dir: String, copies: Int = 2): DataFrame =
    eventsStream(spark, dir, copies)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  /** Incremental top-k maintenance over a stream — grouped top-k is a
    * MERGEABLE summary (top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B))), so
    * each micro-batch folds into a bounded sketch: per trigger, merge
    * the batch with the current sketch through the custom TopKPerGroup
    * operator and keep the k best per key. The sketch is k rows per
    * key (k·|event_types| total — bounded, independent of stream
    * length), which is what makes holding it driver-side legitimate;
    * at cluster scale the same merge runs as a foreachBatch write into
    * a keyed store. This is the streaming analog of map-side partial
    * aggregation: the unbounded stream never accumulates, only the
    * summary does. */
  def incrementalTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("event_id", LongType, nullable = false),
      StructField("value", DoubleType)
    ))
    var sketch: Array[Row] = Array.empty
    val q = eventsStream(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val prev = spark.createDataFrame(
          java.util.Arrays.asList(sketch: _*), schema)
        val merged = org.apache.spark.sql.graftx.TopKPerGroup(
          batch.select(col("event_type"), col("event_id"), col("value")).unionByName(prev),
          Seq("event_type"), Seq("value" -> true, "event_id" -> false), k)
          .select(col("event_type"), col("event_id"), col("value"))
        sketch = merged.collect() // bounded: k rows per event_type
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.createDataFrame(java.util.Arrays.asList(sketch: _*), schema)
  }

  /** The documents table as a stream (file source over a staged copy;
    * copies > 1 replays the same file N times — an at-least-once
    * upstream). No nanos conversion needed: documents has no
    * timestamp column. */
  private def docsStream(spark: SparkSession, dir: String, copies: Int = 1): DataFrame =
    stagedTableStream(spark, dir, "documents", Tables.documents(spark, dir).schema, copies)

  /** Shared staging core for the per-table file-source streams: copy
    * `<dir>/<table>.parquet` into a fixed stream dir `copies` times
    * (one file per trigger — copies > 1 is an at-least-once upstream)
    * and open a schema-pinned file stream over it. */
  private def stagedTableStream(
      spark: SparkSession,
      dir: String,
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      copies: Int
  ): DataFrame = {
    val staged = java.nio.file.Paths
      .get(
        System.getProperty("java.io.tmpdir"),
        s"graft_stream_$table",
        dir.replaceAll("[^a-zA-Z0-9]", "_") + (if (copies > 1) s"_x$copies" else "")
      )
    java.nio.file.Files.createDirectories(staged)
    (1 to copies).foreach { i =>
      val target = staged.resolve(if (copies == 1) s"$table.parquet" else s"${table}_$i.parquet")
      stageCopy(java.nio.file.Paths.get(s"$dir/$table.parquet"), target)
    }
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)
  }

  /** Copy `src` to `target` unless an up-to-date copy is already
    * staged: a bare exists-check would keep streaming STALE bytes
    * after the source corpus is regenerated in place (same path, new
    * content — exactly the scenario [[graft.ViewStore]]'s fingerprint
    * defends the batch views against), so staleness is judged on
    * (size, mtime) and a mismatch re-copies. COPY_ATTRIBUTES carries
    * the source mtime onto the staged file so the comparison is
    * stable across runs. The staged dirs are fixed shared tmpdir
    * paths ACROSS JVMs (deliberately — re-staging per JVM defeats the
    * cache), so the replace must be ATOMIC: copy to a temp name in
    * the same directory, then ATOMIC_MOVE over the target — a
    * REPLACE_EXISTING copy is delete+create, and another graft JVM
    * mid-stream could read a partially copied parquet file through
    * that window (the same interleaving Staging.scala closed for the
    * write-path queries). */
  private def stageCopy(src: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val fresh = Files.exists(target) &&
      Files.size(target) == Files.size(src) &&
      Files.getLastModifiedTime(target) == Files.getLastModifiedTime(src)
    if (!fresh) {
      val tmp = target.resolveSibling(s".${target.getFileName}.tmp-${java.util.UUID.randomUUID()}")
      try {
        Files.copy(src, tmp, StandardCopyOption.COPY_ATTRIBUTES)
        Files.move(tmp, target,
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        ()
      } finally {
        Files.deleteIfExists(tmp) // a failed move must not leave debris
        ()
      }
    }
  }

  /** Streaming curation gate — the ingest-side of pipeline_curate:
    * quality gate (stateless, map-side) → exact dedup on
    * (lang, sha256(text)). Dedup state is one 32-byte key per DISTINCT
    * surviving document, partitioned by key hash across executors —
    * for a corpus-ingest stream that is the honest state bound (the
    * distinct set IS the product being built; there is no event-time
    * horizon after which a duplicate stops mattering, so
    * dropDuplicatesWithinWatermark would be wrong here, unlike
    * dedupedIngest's event stream). With copies=2 the source replays
    * every document — the sink must still see each distinct doc
    * exactly once (StreamingSpec asserts equality with the batch
    * curation). */
  def curatedIngest(spark: SparkSession, dir: String, copies: Int = 2): DataFrame =
    docsStream(spark, dir, copies)
      .filter(col("n_chars") >= 150 && size(split(col("text"), " ")) >= 20)
      .withColumn("text_sha", sha2(col("text"), 256))
      .dropDuplicates("lang", "text_sha")
      .select(col("doc_id"), col("lang"), col("text_sha"), col("n_chars"))

  /** Streaming twin of `maint_incremental_agg`: a standing aggregate
    * (the MV) maintained by folding each micro-batch's PARTIALS into
    * merge-friendly state — count + exact decimal sum per group —
    * instead of re-aggregating history. Each batch pays one distributed
    * aggregate over its own rows; the driver-side fold touches ≤
    * |groups| rows per batch (5 words here), never batch rows, so the
    * collect is group-cardinality-bounded — at 100 TB the fold target
    * is a table MERGEd BY KEY (idempotent on batchId for exactly-once
    * under replay; this demo's map stands in for that table). Input is
    * the engine's own DSv2 micro-batch source, whose batch read is the
    * recompute oracle: StreamingSpec asserts the final MV equals the
    * one-shot batch aggregate bit-for-bit (exact decimal merge ⇒ no
    * summation-order drift).
    */
  def incrementalMv(spark: SparkSession, rows: Long = 40000, perTrigger: Long = 7000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val mv = scala.collection.mutable.HashMap.empty[String, (Long, java.math.BigDecimal)]
    val stream = spark.readStream
      .format("graft.sources.SyntheticSource")
      .option("rows", rows)
      .option("rowsPerTrigger", perTrigger)
      .load()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val partials = batch
          .groupBy(col("word"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(30, 8))).as("sv")
          )
          .collect() // bounded by |groups|, never by batch size
        mv.synchronized {
          partials.foreach { r =>
            val (n0, s0) = mv.getOrElse(r.getString(0), (0L, java.math.BigDecimal.ZERO))
            mv.update(r.getString(0), (n0 + r.getLong(1), s0.add(r.getDecimal(2))))
          }
        }
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      def seen: Long = mv.synchronized(mv.values.iterator.map(_._1).sum)
      while (seen < rows && System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally q.stop()
    import spark.implicits._
    mv.toSeq
      .map { case (w, (n, s)) => (w, n, s.doubleValue) }
      .toDF("word", "n", "sum_v")
      .withColumn("sum_v", graft.Det.rN(col("sum_v"), 6))
      .orderBy(col("word"))
  }

  /** Drive a streaming DF to completion against a finite file source:
    * write every micro-batch to an in-memory table, process all
    * available input, stop. Returns the memory sink's final contents. */
  /** Streaming near-dup ingest screen — the stream side of the
    * persisted-signature serving story: each micro-batch of incoming
    * documents is signature-transformed (stateless projection) and
    * screened against the WRITE-ONCE corpus signature table
    * ([[graft.operators.Dedup.sigTablePath]]) via `foreachBatch`, the
    * production shape for "gate every ingest batch against the
    * corpus": the corpus's text is never re-read, the screen is the
    * same blocked exact-Jaccard plan the batch row runs, and each
    * batch's verdicts MERGE idempotently by doc_id (replayed docs get
    * recomputed against the same static table, so a retry writes the
    * identical verdict — exactly-once semantics without needing a
    * transactional sink for this demo). State is driver-side here
    * ONLY because the demo batch is bounded (doc_id % 10); at scale
    * the merge target is a keyed table (MERGE BY doc_id).
    * StreamingSpec asserts the final verdict set equals
    * `dedup_incremental_persisted`'s batch output bit-for-bit. */
  def screenedIngest(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    // frozen corpus side persisted once per run; micro-batch probes
    // broadcast — the corpus signatures are never re-read or shuffled
    // per trigger (r17, same shape as the minhash screen)
    val corpus = graft.operators.Dedup.corpusSigTable(spark, dir).persist()
    val verdicts = scala.collection.concurrent.TrieMap.empty[Long, Row]
    try {
      corpus.count() // materialize before the stream starts
      val q = docsStream(spark, dir, copies)
        .filter(col("doc_id") % 10 === 0)
        .filter(scope)
        .writeStream
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Dedup
            .screenSigsAgainst(
              graft.operators.Dedup.signaturesOf(batch), corpus, broadcastProbe = true)
            .collect() // bounded: <= |demo batch| verdict rows per micro-batch
            .foreach(r => verdicts.put(r.getLong(0), r))
          ()
        }
        .start()
      q.awaitTermination()
    } finally corpus.unpersist()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      verdicts.values.toSeq.sortBy(_.getLong(0)).asJava,
      graft.operators.Dedup.screenSigsAgainst(
        graft.operators.Dedup.signaturesOf(Tables.documents(spark, dir).limit(0)),
        corpus.limit(0)).schema
    )
  }

  /** Streaming maintenance of the BM25 inverted index — the serving
    * view that had no streaming-update story after r9 covered the
    * dedup signature table: each micro-batch of incoming documents
    * runs the SAME stateless postings projection the batch ingest uses
    * ([[graft.operators.TextAnalysis.bm25PostingsOf]]) and merges by
    * (tok, doc_id); postings are a pure per-document function, so a
    * replayed document (copies ≥ 2) recomputes the identical rows and
    * the merge is idempotent — exactly-once index content under
    * at-least-once delivery, the same argument as [[screenedIngest]].
    * Corpus stats (n, avgdl) derive from a per-doc dl map merged the
    * same way, then one IEEE division — the batch build's op order.
    * Driver-side maps stand in for the keyed MERGE-target tables of a
    * real deployment (bounded here by the demo corpus); at 100 TB each
    * batch MERGEs its postings partial into the postings table BY
    * (tok, doc_id) and upserts (doc_id, dl) into a doc-length table —
    * per-batch work is batch-sized, never corpus-sized, and the
    * corpus text is read exactly once per document.
    *
    * Returns (postings, stats) frames; StreamingSpec asserts both
    * bit-equal to the [[graft.operators.TextAnalysis.bm25IndexPath]]
    * batch-built parquet. */
  def streamedBm25Index(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): (DataFrame, DataFrame) = {
    val postings = scala.collection.concurrent.TrieMap.empty[(String, Long), (Int, Long)]
    val docDl    = scala.collection.concurrent.TrieMap.empty[Long, Int]
    val q = docsStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.TextAnalysis
          .bm25PostingsOf(batch)
          .collect() // bounded by the demo batch's postings, never the corpus
          .foreach(r => postings.put((r.getString(0), r.getLong(1)), (r.getInt(2), r.getLong(3))))
        graft.operators.TextAnalysis
          .bm25DocLenOf(batch)
          .collect()
          .foreach(r => docDl.put(r.getLong(0), r.getInt(1)))
        ()
      }
      .start()
    q.awaitTermination()
    import spark.implicits._
    val postingsDf = postings.toSeq
      .map { case ((tok, doc), (dl, tf)) => (tok, doc, dl, tf) }
      .toDF("tok", "doc_id", "dl", "tf")
    val n     = docDl.size.toLong
    val sumDl = docDl.values.foldLeft(0L)(_ + _) // exact long sum, order-free
    val statsDf = Seq((n, sumDl.toDouble / n)).toDF("n", "avgdl")
    (postingsDf, statsDf)
  }

  /** A file-source stream over the embeddings table — [[docsStream]]'s
    * staging pattern (copy the parquet into a stream dir `copies`
    * times, one file per trigger) applied to the vector corpus. */
  private def embStream(spark: SparkSession, dir: String, copies: Int = 1): DataFrame =
    stagedTableStream(spark, dir, "embeddings", Tables.embeddings(spark, dir).schema, copies)

  /** Streaming maintenance of the hyperplane-LSH ANN signature table —
    * the remaining serving view without a stream-update story after
    * the BM25 index ([[streamedBm25Index]]): each micro-batch of
    * incoming vectors runs the SAME stateless sign-bucket projection
    * the batch ingest uses
    * ([[graft.operators.Similarity.lshSignaturesOf]]) and merges by
    * vec_id; the projection is a pure per-vector function, so a
    * replayed vector (copies ≥ 2) recomputes the identical row and
    * the merge is idempotent. The driver map stands in for a keyed
    * MERGE-target table (bounded by the demo corpus); at 100 TB each
    * batch upserts its signature partial BY vec_id — batch-sized
    * work, and base embeddings are never re-projected at query time.
    * StreamingSpec pins the streamed table bit-equal to the
    * [[graft.operators.Similarity.lshSigTablePath]] batch build. */
  def streamedLshSigTable(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    val sigs = scala.collection.concurrent.TrieMap.empty[Long, Row]
    val q = embStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity
          .lshSignaturesOf(batch)
          .collect() // bounded by the demo batch, never the corpus
          .foreach(r => sigs.put(r.getLong(0), r))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      sigs.values.toSeq.sortBy(_.getLong(0)).asJava,
      graft.operators.Similarity
        .lshSignaturesOf(Tables.embeddings(spark, dir).limit(0)).schema
    )
  }

  /** Streaming MinHash ingest screen — the banded sibling of
    * [[screenedIngest]]: each micro-batch of incoming documents is
    * minhash-signed by the shared stateless projection and screened by
    * 8×2 banding against the persisted FULL-CORPUS 16-wide signature
    * table ([[graft.operators.Dedup.minhashSigTablePath]], corpus
    * split), running literally the batch row's plan per batch
    * ([[graft.operators.Dedup.minhashScreenAgainst]]). Verdicts merge
    * idempotently by doc_id — a replayed doc recomputes the identical
    * verdict against the same static table. StreamingSpec pins the
    * final verdict set bit-equal to `dedup_minhash_incremental`'s
    * batch output. */
  /** `scope` bounds the PROBE universe (a `doc_id` predicate over the
    * incoming batch; default = everything, which StreamingSpec pins
    * against the batch row). A probe's verdict is a pure function of
    * (doc, static corpus table), so a probe slice is lossless for the
    * parity claim — the equivalence-report row audits a fixed hash
    * slice at bounded cost (the edge_view precedent). */
  def minhashScreenedIngest(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    val corpus = spark.read
      .parquet(graft.operators.Dedup.minhashSigTablePath(spark, dir))
      .filter(col("doc_id") % 10 =!= 0)
    // The corpus side is FROZEN for the whole ingest run, so its
    // banding and bucket-cap admission are computed ONCE and persisted
    // across micro-batches — re-deriving them per trigger (the pre-r17
    // shape) re-shuffled the full corpus band table on every
    // micro-batch and made this leg the equivalence report's 13.6 s
    // long pole (VERDICT r16 #1). At 100 TB this frame IS the
    // persisted LSH index the screen serves from; the per-trigger plan
    // is batch-signing plus one equi-join against it.
    val corpusB  = graft.operators.Dedup.bandedMinhashSigs(corpus)
    val corpusOk = corpusB
      .join(graft.operators.Dedup.minhashBucketCapOk(corpusB), Seq("band", "bk"))
      .persist()
    val verdicts = scala.collection.concurrent.TrieMap.empty[Long, Row]
    try {
      corpusOk.count() // materialize before the stream starts
      val q = docsStream(spark, dir, copies)
        .filter(col("doc_id") % 10 === 0)
        .filter(scope)
        .writeStream
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Dedup
            // broadcastProbe: the micro-batch's bands broadcast; the
            // persisted corpus index is never shuffled per trigger
            .minhashScreenPrepared(batch, corpusOk, broadcastProbe = true)
            .collect() // bounded: <= |demo batch| verdict rows per micro-batch
            .foreach(r => verdicts.put(r.getLong(0), r))
          ()
        }
        .start()
      q.awaitTermination()
    } finally {
      corpusOk.unpersist()
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      verdicts.values.toSeq.sortBy(_.getLong(0)).asJava,
      graft.operators.Dedup
        .minhashScreenAgainst(Tables.documents(spark, dir).limit(0), corpus.limit(0)).schema
    )
  }

  /** Streaming pair-manifest delta maintenance — the stream side of
    * [[graft.operators.Dedup.dedupPairsIncremental]], and the one
    * CROSS-RECORD view with a streaming story: the day's batch arrives
    * in micro-batches; each is signature-transformed by the shared
    * stateless projection and probed against the corpus signatures
    * PLUS every batch signature that has arrived so far (itself
    * included), so a pair spanning two micro-batches is found when its
    * LATER endpoint arrives. Pairs merge idempotently by (ida, idb):
    * a replayed doc recomputes identical pairs against the same static
    * corpus table and accumulated pool, and a same-micro-batch pair
    * seen from both endpoints collapses to one row. The driver-side
    * signature map stands in for the streamed signature table itself
    * ([[streamedExactSigTable]]) — at 100 TB the arrived-signature
    * pool IS that MERGE-maintained table, so per-batch work stays
    * batch × blocked-candidates and corpus text is never re-read.
    * StreamingSpec pins the final pair set bit-equal to the batch
    * row's delta under copies = 2. */
  /** `scope` bounds the arriving-batch universe (a `doc_id`
    * predicate; default = everything, which StreamingSpec pins against
    * the batch row). Under a scope the accumulated pool holds only
    * scoped arrivals, so the final pair set equals the batch spelling
    * `pairDeltaAgainst(scopedSigs, corpus ∪ scopedSigs)` — a pair is
    * found iff BOTH endpoints are delivered (corpus side) or scoped
    * (batch side), which is exactly the per-key parity claim on the
    * slice. */
  def pairDeltaIngest(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // the corpus signature side is frozen for the whole ingest run —
    // persist it once instead of re-reading + re-decoding the view
    // parquet on every micro-batch's probe join (r17, same rationale
    // as the minhash screen's persisted corpusOk)
    val corpus = graft.operators.Dedup.corpusSigTable(spark, dir).persist()
    val sigSchema =
      graft.operators.Dedup.signaturesOf(Tables.documents(spark, dir).limit(0)).schema
    val arrived = scala.collection.concurrent.TrieMap.empty[Long, Row]
    val pairs   = scala.collection.concurrent.TrieMap.empty[(Long, Long), Row]
    try {
      corpus.count() // materialize before the stream starts
      val q = docsStream(spark, dir, copies)
        .filter(col("doc_id") % 10 === 0)
        .filter(scope)
        .writeStream
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // sign once per arrival, reuse for probe AND pool accumulation
          val sigs = graft.operators.Dedup.signaturesOf(batch).collect() // bounded by the micro-batch
          sigs.foreach(r => arrived.put(r.getLong(0), r))
          val probe = spark.createDataFrame(sigs.toSeq.asJava, sigSchema)
          val pool = corpus.unionByName(
            spark.createDataFrame(arrived.values.toSeq.asJava, sigSchema))
          graft.operators.Dedup
            .pairDeltaAgainst(probe, pool, col("ida") =!= col("idb"))
            .collect() // bounded: the micro-batch's delta pairs
            .foreach(r => pairs.put((r.getLong(0), r.getLong(1)), r))
          ()
        }
        .start()
      q.awaitTermination()
    } finally corpus.unpersist()
    spark.createDataFrame(
      pairs.values.toSeq.sortBy(r => (r.getLong(0), r.getLong(1))).asJava,
      graft.operators.Dedup
        .pairDeltaAgainst(
          spark.createDataFrame(Seq.empty[Row].asJava, sigSchema),
          corpus.limit(0),
          col("ida") =!= col("idb"))
        .schema
    )
  }

  /** Generic micro-batch maintenance twin for any PER-DOCUMENT-pure
    * serving view over the documents table: each micro-batch runs the
    * view build's OWN stateless projection and merges rows
    * idempotently by doc_id (column 0), so at-least-once replay
    * (copies ≥ 2) reproduces the batch-built parquet bit-for-bit —
    * the [[streamedBm25Index]]/[[streamedLshSigTable]] pattern,
    * factored once now that FOUR more signature/shingle tables share
    * it. The driver map stands in for a keyed MERGE-target table
    * (bounded by the demo corpus); at 100 TB each batch MERGEs its
    * projection partial BY doc_id — batch-sized work, corpus text
    * read exactly once per document. Views that are NOT per-document
    * pure cannot ride this helper: the pair manifest's stream story is
    * the DELTA screen ([[pairDeltaIngest]] — new pairs, not re-merged
    * rows), and the co-purchase edge view's refresh story remains a
    * snapshot rebuild. */
  private def streamedDocView(
      spark: SparkSession,
      dir: String,
      copies: Int,
      scope: Column = lit(true))(proj: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = scala.collection.concurrent.TrieMap.empty[Long, Row]
    val q = docsStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        proj(batch)
          .collect() // bounded by the demo batch's projection, never the corpus
          .foreach(r => rows.put(r.getLong(0), r))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.values.toSeq.sortBy(_.getLong(0)).asJava,
      proj(Tables.documents(spark, dir).limit(0)).schema)
  }

  /** Streaming maintenance of the FULL-CORPUS 16-wide minhash
    * signature table — [[graft.operators.Dedup.minhashSignaturesOf]]
    * per batch, merged by doc_id; StreamingSpec pins it bit-equal to
    * the [[graft.operators.Dedup.minhashSigTablePath]] batch build. */
  def streamedMinhashSigTable(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame =
    streamedDocView(spark, dir, copies, scope)(graft.operators.Dedup.minhashSignaturesOf)

  /** Streaming maintenance of the exact-Jaccard token-signature table
    * — [[graft.operators.Dedup.signaturesOf]] per batch, merged by
    * doc_id; pinned against [[graft.operators.Dedup.sigTablePath]]. */
  def streamedExactSigTable(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame =
    streamedDocView(spark, dir, copies, scope)(graft.operators.Dedup.signaturesOf)

  /** Streaming maintenance of the simhash signature table —
    * [[graft.operators.Dedup.simhashOf]] per batch (a per-document
    * aggregate: each doc's 60-bit signature depends on its own tokens
    * alone), merged by doc_id; pinned against
    * [[graft.operators.Dedup.simhashSigTablePath]]. */
  def streamedSimhashSigTable(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame =
    streamedDocView(spark, dir, copies, scope)(graft.operators.Dedup.simhashOf)

  /** Streaming maintenance of the rolling-hash 5-gram shingle-set
    * table — [[graft.operators.TextAnalysis.contamShinglesBuild]] per
    * batch, merged by doc_id; pinned against
    * [[graft.operators.TextAnalysis.contamShingleTablePath]]. A
    * sub-5-token doc has no row in either build (the projection's own
    * filter), so the merge map simply never sees it. */
  def streamedContamShingleTable(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame =
    streamedDocView(spark, dir, copies, scope)(graft.operators.TextAnalysis.contamShinglesBuild)

  /** Streaming maintenance of the multimodal FEATURE view — the mm
    * family's stream-update story (17th parity family, r15): each
    * micro-batch of incoming payloads runs the SAME decode+feature
    * projection the view build uses
    * ([[graft.operators.Multimodal.mmFeatureRowsOf]] — a pure
    * per-document function of the payload bytes), merged by doc_id; a
    * replayed payload recomputes the identical fixed-width row, so the
    * merge is idempotent. Swapping the stub codec for a real one
    * changes NOTHING here (the decoder rides inside the shared
    * projection — the MultimodalCodecSpec boundary). Pinned against
    * [[graft.operators.Multimodal.mmFeatureTablePath]]. */
  def streamedMmFeatureTable(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame =
    streamedDocView(spark, dir, copies, scope)(graft.operators.Multimodal.mmFeatureRowsOf)

  /** Streaming maintenance of the CDC chunk table —
    * [[graft.operators.Dedup.cdcChunks]] per batch, merged by
    * (doc_id, chunk_id): a doc emits SEVERAL rows (unlike the
    * one-row-per-doc signature twins), but chunking is still a pure
    * per-document function of the text — a doc never splits across
    * micro-batches, the per-batch Window partitions by doc_id only —
    * so a replayed doc recomputes identical (doc_id, chunk_id, n_tok,
    * ck) rows and the composite-keyed merge is idempotent. Pinned
    * against [[graft.operators.Dedup.cdcChunkTablePath]]. */
  def streamedCdcChunkTable(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = scala.collection.concurrent.TrieMap.empty[(Long, Long), Row]
    val q = docsStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Dedup.cdcChunks(batch)
          .collect() // per-batch collect is batch-sized; the merge map
          // accumulates the corpus chunk table for the twin's duration
          // (demo-scale-bounded, like the other foreachBatch twins)
          .foreach(r => rows.put((r.getLong(0), r.getLong(1)), r))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.values.toSeq.sortBy(r => (r.getLong(0), r.getLong(1))).asJava,
      graft.operators.Dedup.cdcChunks(Tables.documents(spark, dir).limit(0)).schema)
  }

  /** Streaming maintenance of the co-purchase EDGE view — the last
    * view family without a stream story, and the one whose rows are
    * neither per-document pure nor append-only: an edge weight is a
    * count over baskets, and a basket GROWS as its order's lineitems
    * arrive, so the unit of maintenance is the ORDER, not the row.
    * Per micro-batch: merge arrived (l_orderkey, l_partkey) incidence
    * into the accumulated basket state, then recompute the TOUCHED
    * orders' pair contributions with the batch build's own spelling
    * ([[graft.operators.Graph.basketPairs]] over just those baskets)
    * and REPLACE each touched order's contribution set wholesale.
    * Replace-by-order is what makes every transition correct under
    * replay: a replayed lineitem recomputes an identical set, a
    * growing basket re-emits its superset, and a basket crossing
    * [[graft.operators.Graph.MaxBasketParts]] RETRACTS all its pairs
    * (basketPairs drops it, the replace stores empty). The served
    * edge view is the weight aggregate over contributions. Driver
    * maps stand in for two keyed MERGE-target tables (incidence BY
    * (okey, pkey), contributions replaced BY okey) — per-batch work
    * is touched-basket-sized, never lineitem-history-sized.
    * StreamingSpec pins the copies = 2 result bit-equal to the
    * batch-built [[graft.operators.Graph.edgeTablePath]] parquet. */
  /** `scope` bounds the maintained basket universe (an `l_orderkey`
    * predicate; default = everything, which StreamingSpec pins against
    * the full batch view). The equivalence-report row audits a FIXED
    * hash slice of orders so the audit cost stays bounded at any SF —
    * lossless for the parity claim because an edge weight only ever
    * aggregates over baskets, and a basket is in or out of the slice
    * wholesale. */
  def streamedEdgeView(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import scala.jdk.CollectionConverters._
    val baskets  = scala.collection.concurrent.TrieMap.empty[Long, Set[Long]]
    val contribs = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, Long)]]
    val q = stagedTableStream(spark, dir, "lineitem", Tables.lineitem(spark, dir).schema, copies)
      .select(col("l_orderkey"), col("l_partkey"))
      .filter(scope)
      .writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val touched = batch
          .distinct()
          .collect() // bounded by the micro-batch's distinct incidence
          .groupBy(_.getLong(0))
          .map { case (okey, rs) =>
            val merged = baskets.getOrElse(okey, Set.empty[Long]) ++ rs.map(_.getLong(1))
            baskets.put(okey, merged)
            okey
          }
        import spark.implicits._
        val touchedIncidence = touched.toSeq
          .flatMap(okey => baskets(okey).toSeq.map(p => (okey, p)))
          .toDF("l_orderkey", "l_partkey")
        val pairsByOrder = graft.operators.Graph
          .basketPairs(touchedIncidence)
          .collect() // bounded: C(MaxBasketParts,2) per touched order
          .groupBy(_.getLong(0))
        touched.foreach { okey =>
          contribs.put(
            okey,
            pairsByOrder.getOrElse(okey, Array.empty).map(r => (r.getLong(1), r.getLong(2))))
        }
        ()
      }
      .start()
    q.awaitTermination()
    import spark.implicits._
    contribs.values.toSeq.flatten
      .groupBy(identity)
      .map { case ((pa, pb), hits) => (pa, pb, hits.size.toLong) }
      .toSeq
      .sortBy(e => (e._1, e._2))
      .toDF("pa", "pb", "w")
  }

  /** Streaming decontamination screen — the third ingest screen,
    * closing the family: the contamination check is exactly what a
    * streaming corpus-ingest pipeline wants INLINE (gate every batch
    * against the frozen eval suite before it lands in the training
    * mix). Each micro-batch of incoming documents runs the SAME
    * stateless rolling-hash shingle projection the persisted view
    * build uses ([[graft.operators.TextAnalysis.contamShinglesBuild]])
    * and is screened against the view's broadcast bench split by the
    * shared screen plan
    * ([[graft.operators.TextAnalysis.contamScreenAgainst]]); a
    * verdict is a pure function of (doc, frozen bench set), so
    * replayed docs (copies ≥ 2) recompute identical rows and the
    * merge by (doc_id, bench_id) is idempotent — a doc can overlap
    * several bench docs, hence the compound key. StreamingSpec pins
    * the final verdict set bit-equal to `text_contamination`'s batch
    * output. */
  def contamScreenedIngest(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    // the frozen bench side is re-read + re-exploded per micro-batch
    // otherwise — tiny, but persisting it once removes two parquet
    // scans + explodes per trigger (r17)
    val bench = graft.operators.TextAnalysis.contamBenchFrame(spark, dir).persist()
    val verdicts = scala.collection.concurrent.TrieMap.empty[(Long, Long), Row]
    try {
      bench.count() // materialize before the stream starts
      val q = docsStream(spark, dir, copies)
        .filter(col("doc_id") >= 20)
        .filter(scope)
        .writeStream
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.TextAnalysis
            .contamScreenAgainst(graft.operators.TextAnalysis.contamShinglesBuild(batch), bench)
            .collect() // bounded: <= |batch| x |bench| verdict rows per micro-batch
            .foreach(r => verdicts.put((r.getLong(0), r.getLong(1)), r))
          ()
        }
        .start()
      q.awaitTermination()
    } finally bench.unpersist()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      verdicts.values.toSeq.sortBy(r => (r.getLong(0), r.getLong(1))).asJava,
      graft.operators.TextAnalysis.contamScreenAgainst(
        graft.operators.TextAnalysis.contamShinglesBuild(Tables.documents(spark, dir).limit(0)),
        bench.limit(0)).schema
    )
  }

  /** Streaming maintenance of the IVF inverted lists — the third and
    * last serving view to get a stream-update story (after the BM25
    * index and the LSH signature table): each micro-batch of incoming
    * vectors is assigned to its nearest list against the FROZEN
    * persisted quantizer
    * ([[graft.operators.Advanced.ivfAssignmentsOf]] over the
    * centroids parquet — the standard IVF serving contract: new
    * vectors join existing lists, retraining is a new index build,
    * not a streaming concern) and merges by vec_id; assignment
    * against fixed centroids is a pure per-vector function, so
    * replayed vectors recompute identical rows and the merge is
    * idempotent. StreamingSpec pins the streamed lists bit-equal to
    * the batch-built assignments table. */
  def streamedIvfAssignments(
      spark: SparkSession, dir: String, copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    val (centPath, _) = graft.operators.Advanced.ivfIndexPath(spark, dir)
    val cent = spark.read.parquet(centPath)
    val asg = scala.collection.concurrent.TrieMap.empty[Long, Row]
    val q = embStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Advanced
          .ivfAssignmentsOf(batch, cent)
          .collect() // bounded by the demo batch, never the corpus
          .foreach(r => asg.put(r.getLong(0), r))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      asg.values.toSeq.sortBy(_.getLong(0)).asJava,
      graft.operators.Advanced
        .ivfAssignmentsOf(Tables.embeddings(spark, dir).limit(0), cent.limit(0)).schema
    )
  }

  /** Streaming maintenance of the PQ codes table — new vectors are
    * encoded against the FROZEN persisted sub-codebooks
    * ([[graft.operators.Advanced.pqCodesOf]], a pure per-vector
    * function once the quantizer is frozen) and merge by vec_id; the
    * final compact code rows must be bit-equal to the batch-built
    * index ([[graft.operators.Advanced.pqIndexPath]]). Re-training
    * codebooks is a new buildVersion/snapshot, never a streaming
    * concern — the same serving contract as
    * [[streamedIvfAssignments]]. */
  /** `scope` bounds the maintained vector universe (a `vec_id`
    * predicate; default = everything, which StreamingSpec pins against
    * the full batch index). Encoding against frozen codebooks is a
    * pure per-vector function, so a vec slice is lossless for the
    * parity claim (the edge_view precedent). */
  def streamedPqCodes(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    val (cbPath, _) = graft.operators.Advanced.pqIndexPath(spark, dir)
    val cb    = spark.read.parquet(cbPath)
    val codes = scala.collection.concurrent.TrieMap.empty[Long, Row]
    val q = embStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Advanced
          .pqCodesOf(batch, cb)
          .collect() // bounded by the demo batch, never the corpus
          .foreach(r => codes.put(r.getLong(0), r))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      codes.values.toSeq.sortBy(_.getLong(0)).asJava,
      graft.operators.Advanced
        .pqCodesOf(Tables.embeddings(spark, dir).limit(0), cb.limit(0)).schema
    )
  }

  /** Streaming maintenance of the IVF-PQ codes table — each micro-batch
    * of incoming vectors is coarse-assigned and residualized against
    * the FROZEN centroid table, then PQ-encoded against the FROZEN
    * residual sub-codebooks
    * ([[graft.operators.Advanced.residualsOf]] then
    * [[graft.operators.Advanced.ivfPqCodesOf]] — the composition is a
    * pure per-vector function once both quantizers are frozen) and
    * merges by vec_id. Replayed vectors recompute identical
    * (list_id, c0..c7) rows, so the merge is idempotent; retraining
    * either quantizer is a new buildVersion/snapshot, never a streaming
    * concern — the same serving contract as [[streamedPqCodes]]. */
  def streamedIvfPqCodes(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    val (cbPath, _) = graft.operators.Advanced.ivfPqIndexPath(spark, dir)
    val cb    = spark.read.parquet(cbPath)
    val cent  = spark.read.parquet(graft.operators.Advanced.ivfIndexPath(spark, dir)._1)
    val codes = scala.collection.concurrent.TrieMap.empty[Long, Row]
    val q = embStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Advanced
          .ivfPqCodesOf(graft.operators.Advanced.residualsOf(batch, cent), cb)
          .collect() // bounded by the demo batch, never the corpus
          .foreach(r => codes.put(r.getLong(0), r))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      codes.values.toSeq.sortBy(_.getLong(0)).asJava,
      graft.operators.Advanced
        .ivfPqCodesOf(
          graft.operators.Advanced.residualsOf(
            Tables.embeddings(spark, dir).limit(0), cent.limit(0)),
          cb.limit(0)).schema
    )
  }

  /** Streaming maintenance of the BPE vocab view — the first twin
    * whose served rows are a CORPUS aggregate (freq sums over
    * documents) rather than per-document pure: the unit of maintenance
    * is the per-document token-count row
    * ([[graft.operators.TextAnalysis.bpeDocTokenCounts]], pure per
    * document), merged by (doc_id, tok) so a replayed document
    * recomputes identical rows and the merge is idempotent; the served
    * vocab re-aggregates the merged counts and applies the FROZEN
    * persisted merge list per token
    * ([[graft.operators.TextAnalysis.bpeVocabOf]] — the batch build's
    * own spelling). Retraining merges is a new buildVersion, never a
    * streaming concern — the tokenizer-freeze contract every serving
    * stack assumes. At 100 TB the driver map stands in for a keyed
    * MERGE-target table BY (doc_id, tok) and the vocab aggregate is a
    * scheduled view refresh over it — batch-sized ingest work, one
    * vocab-sized aggregate to serve. */
  /** `scope` bounds the maintained document universe (a `doc_id`
    * predicate; default = everything, which StreamingSpec pins against
    * the persisted full-corpus vocab view). The unit of maintenance is
    * the per-document (doc_id, tok, cnt) row, so a doc slice is
    * lossless for the MAINTENANCE parity claim: the served slice vocab
    * must equal the batch spelling `bpeVocabOf(bpeDocTokenCounts(
    * scoped docs), frozen merges)` — both sides apply the same frozen
    * merge list per token. */
  def streamedBpeVocab(
      spark: SparkSession,
      dir: String,
      copies: Int = 2,
      scope: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.Row
    val (mergesPath, _) = graft.operators.TextAnalysis.bpeIndexPath(spark, dir)
    val merges = graft.operators.TextAnalysis.bpeMergeList(spark, mergesPath)
    val counts = scala.collection.concurrent.TrieMap.empty[(Long, String), Row]
    val q = docsStream(spark, dir, copies).filter(scope).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.TextAnalysis
          .bpeDocTokenCounts(batch)
          .collect() // bounded by the demo batch, never the corpus
          .foreach(r => counts.put((r.getLong(0), r.getString(1)), r))
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val mergedCounts = spark.createDataFrame(
      counts.values.toSeq.sortBy(r => (r.getLong(0), r.getString(1))).asJava,
      graft.operators.TextAnalysis
        .bpeDocTokenCounts(Tables.documents(spark, dir).limit(0)).schema)
    graft.operators.TextAnalysis.bpeVocabOf(mergedCounts, merges)
  }

  def runToCompletion(spark: SparkSession, streamed: DataFrame, name: String): DataFrame = {
    val q: StreamingQuery = streamed.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Standalone demo main: stream the events table at the given SF dir
    * through both topologies and print row counts. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local()
    val tumbled = runToCompletion(spark, tumblingCounts(spark, dir), "tumbling_demo")
    val sessions = runToCompletion(spark, sessionCounts(spark, dir), "session_demo")
    println(s"stream tumbling windows: ${tumbled.count()} rows")
    println(s"stream session windows:  ${sessions.count()} rows")
    spark.stop()
  }
}
