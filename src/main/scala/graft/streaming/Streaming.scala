package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.expressions.Window
import graft.model.{Mention, Page, Segment, Triple}
import graft.extract.Extract
import graft.mentions.{AhoCorasick, Mentions}
import graft.relations.Relations

/** Streaming surface of the engine. The reference is batch-only (SURVEY
  * §2.9); these operators are the forward path for streaming ingest: a
  * tumbling-window aggregate, gap-based sessionization, and — the flagship
  * itself — the pages→triples KG-construction flow as an incremental
  * Structured Streaming job ([[pageTriples]]/[[triplesStream]]), each with a
  * batch-equivalent used by the DuckDB oracle (identical semantics, so the
  * streaming run is verified against the batch result in tests).
  */
object Streaming {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionCount(user_id: Long, n_events: Long, n_sessions: Long)

  /** Session gap in milliseconds — millis (not seconds) so the batch, the
    * stateful, and the SQL-oracle forms all compare the same integer.
    */
  val SessionGapMs = 600000L

  /** Batch form of the tumbling 1-minute window agg (count/min/max — exact
    * values, no float summation).
    */
  def windowedAggBatch(events: DataFrame): DataFrame =
    events.groupBy(
        unix_timestamp(date_trunc("minute", col("ts"))).as("minute_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Streaming form: same aggregate over readStream with a watermark.
    * outputMode=complete into a memory sink for deterministic test replay.
    */
  def windowedAggStream(spark: SparkSession, events: DataFrame): DataFrame = {
    val stream = spark.readStream.schema(events.schema)
      .parquet(streamInputPath(events))
    stream
      // parquet NTZ timestamps must become instants before watermarking
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(unix_timestamp(col("window.start")).as("minute_ts"),
        col("event_type"), col("n"), col("min_value"), col("max_value"))
  }

  private def streamInputPath(events: DataFrame): String = {
    val dir = graft.util.TempDirs.scratch("graft-stream").toString
    events.write.mode("overwrite").parquet(dir)
    dir
  }

  /** Batch sessionization: gap > 10 min starts a new session (lag window). */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("t_ms", unix_millis(col("ts").cast("timestamp"))) // events.ts is NTZ
      .withColumn("prev", lag(col("t_ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("t_ms") - col("prev") > SessionGapMs, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
  }

  // --- streaming flagship: pages → triples, incremental --------------------

  /** The flagship pages→triples flow as ONE fused narrow stage, runnable on
    * a batch OR a streaming Dataset[Page]: per page, extract segments →
    * scan mentions (same exact+recall core as the batch flagship,
    * [[Mentions.scanSegment]]) → emit per-segment co-occurrence triples
    * ([[Relations.coocLocal]]) plus page-level provenance triples rewritten
    * through a broadcast canonical-alias snapshot ([[Relations.provLocal]]).
    *
    * Scale shape: the streaming ingest path is SHUFFLE-FREE — mention
    * pairing is segment-local and provenance dedup is page-local (urls are
    * unique per page), so every micro-batch is a map-only job that scales
    * with input splits. The one stage that genuinely needs global state —
    * canonicalization's connected components — stays a periodic BATCH job
    * (Canon.canonicalMap over the accumulated mention table) whose
    * dimension-sized alias snapshot broadcasts into the stream, the
    * standard lambda split for entity resolution over an append-only feed.
    * StreamingSpec asserts the stream's output equals the batch flagship's
    * cooccurrence ∪ mentionedIn triples on the same corpus.
    *
    * PRECONDITION (batch-equivalence): urls are UNIQUE across the feed —
    * each page arrives exactly once. Provenance dedup is page-local
    * ([[Relations.provLocal]]); a feed that repeats a url (re-crawls,
    * upstream dupes) emits duplicate (canonical, mentioned_in, url) triples
    * where the batch form dedups globally. `graft.Harness stream`'s content-fingerprint
    * `require` catches a violation loudly; feeds that may repeat urls must
    * dedup upstream or compact the sink ([[Recanon.recanonicalize]] dedups
    * provenance per batch as a side effect, but not across batches).
    */
  def pageTriples(pages: Dataset[Page], gazetteer: Array[(String, String)],
      canonSnapshot: Map[String, String],
      fuzzyThreshold: Double = graft.model.Config.TokenFuzzyThreshold): Dataset[Triple] =
    fusedStage(pages, gazetteer, Some(canonSnapshot), fuzzyThreshold)

  /** [[pageTriples]] without the closure alias map — the
    * [[graft.canon.Canon.AliasFrame]] form for dimensions too large to
    * driver-collect: provenance rows carry the RAW surface as subj
    * ([[Relations.provLocal]] without a map) and the sink joins them to
    * canonical via [[Relations.rewriteProv]] per micro-batch. Co-occurrence
    * rows are identical to [[pageTriples]]'s.
    */
  def pageTriplesRaw(pages: Dataset[Page], gazetteer: Array[(String, String)],
      fuzzyThreshold: Double = graft.model.Config.TokenFuzzyThreshold): Dataset[Triple] =
    fusedStage(pages, gazetteer, None, fuzzyThreshold)

  private def fusedStage(pages: Dataset[Page], gazetteer: Array[(String, String)],
      canonSnapshot: Option[Map[String, String]],
      fuzzyThreshold: Double): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val bcGaz = spark.sparkContext.broadcast(gazetteer)
    val bcCanon = spark.sparkContext.broadcast(canonSnapshot)
    // Project (url, html) before the typed map so a parquet source prunes
    // the fat text column (same discipline as Extract.segments).
    pages.select(col("url"), col("html")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val gaz = bcGaz.value
        val ac = AhoCorasick.cached(gaz.map(_._1))
        val tokenIndex = Mentions.cachedTokenIndex(gaz)
        val canon = bcCanon.value
        it.flatMap { case (url, htmlBytes) =>
          val html = new String(htmlBytes, java.nio.charset.StandardCharsets.UTF_8)
          val pageMentions = List.newBuilder[Mention]
          val cooc = Extract.paragraphs(html).zipWithIndex.flatMap { case (t, i) =>
            val ms = Mentions.scanSegment(
              Segment(url, page = 1, seg_no = i + 1, seg_type = "Text", text = t),
              gaz, ac, tokenIndex, fuzzyThreshold)
            pageMentions ++= ms
            Relations.coocLocal(ms, url)
          }
          cooc ++ Relations.provLocal(pageMentions.result(), url, canon)
        }
      }
  }

  /** Streaming form of the flagship: readStream over a parquet directory of
    * pages (the file-source stand-in for a Kafka/WARC feed), through
    * [[pageTriples]]. Append-mode, watermark-free (the plan is stateless),
    * exactly-once with a file sink + checkpointLocation. `maxFilesPerTrigger`
    * bounds micro-batch size — backpressure for a bursty source. Inherits
    * [[pageTriples]]'s unique-url feed precondition.
    */
  def triplesStream(spark: SparkSession, pagesDir: String,
      gazetteer: Array[(String, String)], canonSnapshot: Map[String, String],
      maxFilesPerTrigger: Int = 1): Dataset[Triple] =
    pageTriples(pagesStream(spark, pagesDir, maxFilesPerTrigger), gazetteer, canonSnapshot)

  /** The feed source, shared by every streaming entry point (the AliasMap
    * and AliasFrame shapes must read the feed IDENTICALLY or the
    * "both branches produce the same sink" contract can drift). A
    * micro-batch's parallelism is its split count: a repartition after the
    * source cost more than the single-task scan saves (32 cores: 7.07/3.71 s
    * vs 6.53/3.42 s recanon/stream, OPTIMIZATION_r06.md §6).
    */
  private def pagesStream(spark: SparkSession, pagesDir: String,
      maxFilesPerTrigger: Int): Dataset[Page] = {
    import spark.implicits._
    spark.readStream
      .schema(Encoders.product[Page].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(pagesDir)
      .as[Page]
  }

  /** Drain everything currently available in `pagesDir` into a parquet sink
    * exactly once, then stop (Trigger.AvailableNow — still micro-batched by
    * `maxFilesPerTrigger`). Re-invoking with the same checkpoint + sink after
    * new files land resumes from the checkpoint: already-processed files are
    * skipped and half-written batches are rolled forward, which StreamingSpec
    * verifies by killing and resuming a run mid-input (the north rule's
    * "resumable from checkpoint", streaming dimension).
    */
  def runTriplesStreamOnce(spark: SparkSession, pagesDir: String, outDir: String,
      checkpointDir: String, gazetteer: Array[(String, String)],
      canonSnapshot: Map[String, String], maxFilesPerTrigger: Int = 1): Unit = {
    val q = triplesStream(spark, pagesDir, gazetteer, canonSnapshot, maxFilesPerTrigger)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Materialized streaming sink: the north rule's "partitioned tables with
    * per-partition lineage and metric rows for checkpoint resume", streaming
    * dimension. Each micro-batch writes
    * `outDir/triples/batch_id=<id>/bucket=<b>/` (url-hash buckets, same
    * [[graft.materialize.Materialize.bucketCol]] as the batch sink), a
    * lineage sidecar `outDir/_lineage/batch-<id>` with per-bucket row
    * counts (riding the write job via observe() — counts can never drift
    * from written rows), and a metrics sidecar `outDir/_metrics/batch-<id>`
    * with the batch's row total + wall nanos, counted independently of the
    * lineage bucket sums.
    *
    * Idempotency contract: foreachBatch is at-least-once on failure
    * recovery, so every per-batch path is written with OVERWRITE into a
    * batch-scoped directory — a replayed batch truncates its own partial
    * output and rewrites, never duplicates. (Contrast with the batch sink's
    * bucket-granular resume in Materialize.writeTriples: bucket-level
    * skip-sets are the wrong unit here because every micro-batch carries
    * every bucket.) Exactly-once for readers = checkpoint dedup of batch
    * ids × batch-scoped overwrite.
    */
  def materializedBatchWriter(outDir: String, nBuckets: Int = 16,
      bucketOf: Int => org.apache.spark.sql.Column = graft.materialize.Materialize.bucketCol,
      aliasFp: Option[Long] = None)(
      batch: Dataset[Triple], batchId: Long): Unit = {
    import graft.materialize.Materialize
    val t0 = System.nanoTime()
    val obs = org.apache.spark.sql.Observation()
    // total (a plain count) and the per-bucket conditional sums are
    // INDEPENDENT measurements of the same write job: the lineage sidecar is
    // built from the bucket sums, the metrics sidecar from the count, so a
    // bucket-predicate bug (e.g. rows whose bucket expression is null land
    // in no sum) shows up as lineage != metrics downstream.
    val aggs = count(lit(1)).as("total") +: Materialize.bucketAggs(nBuckets)
    val observed0 = batch.toDF()
      .withColumn("bucket", bucketOf(nBuckets))
      .observe(obs, aggs.head, aggs.tail: _*)
    // Bucket-clustering exchange only when the micro-batch arrives WIDE:
    // a batch of ≤ nBuckets input partitions writes at most parts×buckets
    // (≈ buckets²) part files without it — modest — while the exchange's
    // fixed per-batch stage cost dominates at micro-batch sizes. Wide
    // batches keep the one-file-per-bucket clustering. Derived from the
    // batch's own partition count, not a tuned constant; sink contents and
    // lineage accounting are identical either way (observe rides the same
    // rows; partitionBy lays out the same bucket dirs).
    val clustered =
      if (batch.rdd.getNumPartitions > nBuckets) observed0.repartition(col("bucket"))
      else observed0
    clustered
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/triples/batch_id=$batchId")
    val observed = obs.get
    val spark = batch.sparkSession
    import spark.implicits._
    // Sidecar dirs are batch-scoped but deliberately NOT hive-style
    // (`batch-N`, not `batch_id=N`): the row types already carry a typed
    // Long batch_id column, and a hive dir of the same name would shadow it
    // with an inferred partition column on read. Readers use a one-level
    // glob over the batch dirs.
    //
    // The three sidecar writes are INDEPENDENT one-row/one-dir metadata ops
    // dominated by per-job scheduling latency — they fan out concurrently
    // (guide §2.6; Par.run) instead of paying three serial round-trips per
    // micro-batch. Idempotency is untouched: each write is still a
    // batch-scoped OVERWRITE, and a crash mid-fan-out leaves the same
    // partial-sidecar states a serial crash could.
    val total = observed.get("total") match { case Some(n: Long) => n; case _ => 0L }
    val writeLineage: () => Unit = () => {
      val rows = Materialize.bucketCounts(observed, nBuckets)
        .map { case (b, n) => Materialize.LineageRow("stream_triples", b, batchId, n) }
      if (rows.nonEmpty)
        // ONE task, one file: a ≤nBuckets-row metadata write otherwise fans
        // out one row per task (LocalTableScan parallelizes to row count),
        // paying a 16-file commit per micro-batch for dimension-tiny data
        rows.toDS().toDF().coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/_lineage/batch-$batchId")
      else
        // A replayed batch can legitimately shrink to zero rows (at-least-once
        // recovery after the inputs' effective content changed); truncating
        // the batch's lineage dir keeps the idempotency contract — a stale
        // non-empty lineage from the failed attempt must not survive. LOUD
        // and through the sink's Hadoop FS (works on object-store sinks).
        graft.util.SinkFs.deleteLoud(spark, s"$outDir/_lineage/batch-$batchId")
    }
    // The metrics row is written for EVERY batch (empty ones included) so
    // the sidecar exists whenever at least one micro-batch committed; the
    // sink passes rows through, hence rows_in == rows_out (StreamMetricRow).
    val writeMetrics: () => Unit = () =>
      Seq(graft.model.StreamMetricRow("stream_ingest", batchId, total, total,
        System.nanoTime() - t0)).toDS().toDF()
        .write.mode("overwrite").parquet(s"$outDir/_metrics/batch-$batchId")
    // Alias-version watermark: record WHICH alias map this batch's
    // provenance reflects (Canon.aliasFingerprint of the drain snapshot) so
    // Recanon can skip the staleness scan of batches already current under
    // a fresh map — steady-state compaction becomes metadata-only instead
    // of a full-history provenance scan per canon cadence. Unversioned
    // (None — legacy Map-only entry points, or AliasNone raw drains) writes
    // nothing: the batch stays a permanent scan candidate, which is the
    // safe direction. Overwrite/delete keeps the at-least-once replay
    // contract, same as the other two sidecars.
    val writeAlias: () => Unit = () => aliasFp match {
      case Some(f) =>
        Seq((batchId, f)).toDF("batch_id", "alias_fp")
          .write.mode("overwrite").parquet(s"$outDir/_alias/batch-$batchId")
      case None =>
        graft.util.SinkFs.deleteLoud(spark, s"$outDir/_alias/batch-$batchId")
    }
    graft.util.Par.run(Seq(writeLineage, writeMetrics, writeAlias))(_.apply())
  }

  /** [[runTriplesStreamOnce]] with the materialized sink: same AvailableNow
    * drain + checkpoint resume, but through [[materializedBatchWriter]] so
    * the output is the partitioned table + lineage + metrics sidecars.
    * Readers: `spark.read.parquet(s"$outDir/triples")` (batch_id and bucket
    * come back as partition columns); sidecars are read with a one-level
    * glob over the batch dirs (dollar-outDir/_lineage/ star — spelled out
    * because a literal star-after-slash opens a nested Scala comment here).
    */
  /** Start the materialized flagship stream with a caller-chosen trigger
    * and return the live query (no await): the feeder-paced benchmark shape
    * — files land in `pagesDir` WHILE the query runs on a ProcessingTime
    * cadence, and the caller decides when the feed is drained and stops it.
    * Same fused stage, sink, and sidecar contract as
    * [[runTriplesStreamMaterialized]].
    */
  def startTriplesStreamMaterialized(spark: SparkSession, pagesDir: String,
      outDir: String, checkpointDir: String, gazetteer: Array[(String, String)],
      canonSnapshot: Map[String, String], maxFilesPerTrigger: Int,
      nBuckets: Int, trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery =
    startTriplesStreamMaterialized(spark, pagesDir, outDir, checkpointDir,
      gazetteer, graft.canon.Canon.AliasMap(canonSnapshot), maxFilesPerTrigger,
      nBuckets, trigger)

  /** [[startTriplesStreamMaterialized]] over either [[graft.canon.Canon
    * .AliasSnapshot]] shape (use [[graft.canon.Canon.snapshotBounded]] to
    * pick): AliasMap rewrites provenance inside the fused map-only stage;
    * AliasFrame defers it to a per-micro-batch [[Relations.rewriteProv]]
    * join in foreachBatch, keeping the job runnable when the alias
    * dimension is too large to driver-collect. Both shapes produce
    * identical sink contents (StreamingSpec pins the equivalence). `bucketOf` picks the sink's
    * bucket scheme (doc-id for the oracle surfaces, url-hash for arbitrary
    * production urls — [[graft.materialize.Materialize.hashBucketCol]]).
    */
  def startTriplesStreamMaterialized(spark: SparkSession, pagesDir: String,
      outDir: String, checkpointDir: String, gazetteer: Array[(String, String)],
      snapshot: graft.canon.Canon.AliasSnapshot, maxFilesPerTrigger: Int,
      nBuckets: Int, trigger: Trigger,
      bucketOf: Int => org.apache.spark.sql.Column = graft.materialize.Materialize.bucketCol)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.canon.Canon.{AliasFrame, AliasMap, AliasNone}
    val (stream, rewrite) = snapshot match {
      case AliasMap(m, _) =>
        (triplesStream(spark, pagesDir, gazetteer, m, maxFilesPerTrigger),
          identity[Dataset[Triple]] _)
      case AliasFrame(df, _) =>
        (pageTriplesRaw(pagesStream(spark, pagesDir, maxFilesPerTrigger), gazetteer),
          (b: Dataset[Triple]) => Relations.rewriteProv(b, df))
      case AliasNone =>
        (pageTriplesRaw(pagesStream(spark, pagesDir, maxFilesPerTrigger), gazetteer),
          identity[Dataset[Triple]] _)
    }
    stream
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch((b: Dataset[Triple], id: Long) =>
        materializedBatchWriter(outDir, nBuckets, bucketOf, snapshot.fp)(rewrite(b), id))
      .start()
  }

  def runTriplesStreamMaterialized(spark: SparkSession, pagesDir: String,
      outDir: String, checkpointDir: String, gazetteer: Array[(String, String)],
      canonSnapshot: Map[String, String], maxFilesPerTrigger: Int = 1,
      nBuckets: Int = 16): Unit =
    runTriplesStreamMaterialized(spark, pagesDir, outDir, checkpointDir,
      gazetteer, graft.canon.Canon.AliasMap(canonSnapshot), maxFilesPerTrigger,
      nBuckets)

  /** [[runTriplesStreamMaterialized]] over an [[graft.canon.Canon
    * .AliasSnapshot]]: drain everything available (AvailableNow) through the
    * snapshot-shaped start entry point and block until done.
    */
  def runTriplesStreamMaterialized(spark: SparkSession, pagesDir: String,
      outDir: String, checkpointDir: String, gazetteer: Array[(String, String)],
      snapshot: graft.canon.Canon.AliasSnapshot, maxFilesPerTrigger: Int,
      nBuckets: Int): Unit =
    startTriplesStreamMaterialized(spark, pagesDir, outDir, checkpointDir,
      gazetteer, snapshot, maxFilesPerTrigger, nBuckets, Trigger.AvailableNow())
      .awaitTermination()

  final case class SessState(nEvents: Long, nSessions: Long, lastTs: Long)

  /** Stateful sessionization via `mapGroupsWithState` — the custom-state
    * shape (KeyValueGroupedDataset + GroupState) a streaming deployment
    * uses; runs identically on a bounded batch Dataset. Semantics match
    * [[sessionizeBatch]].
    */
  def sessionizeStateful(events: Dataset[Event]): Dataset[SessionCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessState, SessionCount](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessState]) =>
          val prior = state.getOption.getOrElse(SessState(0L, 0L, Long.MinValue))
          val sorted = it.toVector.sortBy(e => (e.ts.getTime, e.event_id))
          var (n, sessions, lastTs) = (prior.nEvents, prior.nSessions, prior.lastTs)
          sorted.foreach { e =>
            val t = e.ts.getTime // millis
            if (lastTs == Long.MinValue || t - lastTs > SessionGapMs) sessions += 1
            lastTs = t
            n += 1
          }
          state.update(SessState(n, sessions, lastTs))
          SessionCount(uid, n, sessions)
      }
  }
}
