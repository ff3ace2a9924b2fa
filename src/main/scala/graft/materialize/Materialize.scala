package graft.materialize

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.model.{MetricRow, Triple}
import graft.util.SinkFs

/** Materialization + checkpoint/resume + per-partition lineage & metrics —
  * the engine's sink layer (north_rule: "materialized as partitioned tables
  * with per-partition lineage and metric rows for checkpoint resume").
  *
  * Mirrors the reference's only incremental behavior — the skip-if-cached
  * scan (src/cache_data.py:13-21) — at table granularity: work is split into
  * deterministic url-hash buckets; each completed bucket appends a lineage
  * row; a resumed run anti-joins pending buckets against the lineage table
  * and recomputes only the missing ones — on any sink URI, since the
  * lineage is read through [[SinkFs]] ([[readLineage]]).
  *
  * Sandbox note (SURVEY §7.4): no Iceberg jar ships in this container, so the
  * "table" is bucket-partitioned Parquet + a lineage sidecar table giving the
  * snapshot-style semantics; the write path is narrow enough that real
  * Iceberg `append` drops in outside the sandbox.
  */
object Materialize {

  /** `n_rows` rows of `table` committed into `bucket` by batch `batch_id`.
    * batch_id widened Int → Long in round 4 (streaming batch ids are Long);
    * [[readLineage]] widens an older sink's INT32 files on read. */
  final case class LineageRow(table: String, bucket: Int, batch_id: Long, n_rows: Long)

  /** Deterministic bucket of a page url. In the sandbox corpus the doc id is
    * embedded in the url path, so bucketing is reproducible in the DuckDB
    * oracle; a production deployment swaps this for
    * `pmod(xxhash64(url), nBuckets)` — same plan shape, hash-only change.
    */
  def bucketCol(nBuckets: Int): org.apache.spark.sql.Column =
    pmod(regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long"), lit(nBuckets)).cast("int")

  /** The production bucket scheme [[bucketCol]]'s doc promises: url-hash
    * buckets that hold for ARBITRARY urls (the doc-id regexp yields a null
    * bucket on any url without the sandbox's `/doc/N` suffix, which would
    * leak rows into a default partition the lineage sums never see).
    * xxhash64 is a Catalyst codegen'd expression and pmod handles its
    * negative half — same plan shape as [[bucketCol]], hash-only change.
    * [[graft.Submit]] defaults to this scheme; the oracle/driver surfaces
    * keep the doc-id scheme because the DuckDB twin must reproduce it.
    */
  def hashBucketCol(nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("url")), lit(nBuckets.toLong)).cast("int")

  def lineagePath(outDir: String) = s"$outDir/_lineage"

  /** The lineage table under [[LineageRow]]'s declared schema, empty on a
    * fresh sink. [[SinkFs]] probes for it, so every sink URI the writer
    * takes resumes; the declared schema skips footer inference and reads
    * INT32 batch_id files as BIGINT, so a dir mixing both widths reads. */
  def readLineage(spark: SparkSession, outDir: String): DataFrame = {
    val enc = Encoders.product[LineageRow]
    if (SinkFs.exists(spark, lineagePath(outDir)))
      spark.read.schema(enc.schema).parquet(lineagePath(outDir))
    else spark.emptyDataset(enc).toDF()
  }

  /** Buckets already completed for `table` (the checkpoint state). */
  def doneBuckets(spark: SparkSession, outDir: String, table: String): Set[Int] = {
    import spark.implicits._
    readLineage(spark, outDir).filter(col("table") === table)
      .select(col("bucket")).as[Int].collect().toSet
  }

  /** The nBuckets conditional-sum aggregate columns that ride a write job
    * via observe() — shared by the batch and streaming sinks so the bucket
    * accounting cannot diverge between them. */
  def bucketAggs(nBuckets: Int): Seq[org.apache.spark.sql.Column] =
    (0 until nBuckets).map(b =>
      sum(when(col("bucket") === b, 1L).otherwise(0L)).as(s"b$b"))

  /** Non-zero (bucket, count) pairs from an Observation over [[bucketAggs]]
    * (null sums = empty write; zeros = nothing landed in that bucket). */
  def bucketCounts(observed: Map[String, Any], nBuckets: Int): Seq[(Int, Long)] =
    (0 until nBuckets).flatMap { b =>
      observed.get(s"b$b") match {
        case Some(n: Long) if n > 0 => Some(b -> n)
        case _ => None
      }
    }

  /** Materialize `triples` into `outDir/<table>` partitioned by bucket,
    * skipping buckets recorded in the lineage table (resume semantics).
    * Returns the per-bucket row counts written this invocation.
    *
    * Scale shape: ONE job writes all pending buckets (partitionBy on the
    * bucket column — no per-bucket driver loop, which at 10^12 docs would be
    * thousands of sequential jobs); the bucket column is derived, so the
    * write is narrow on top of the triple pipeline. Row counts per bucket
    * ride the write job ([[commitBuckets]]).
    */
  def writeTriples(triples: Dataset[Triple], outDir: String, table: String = "triples",
      nBuckets: Int = 16, batchId: Long = 0L,
      bucketOf: Int => org.apache.spark.sql.Column = bucketCol): Seq[LineageRow] = {
    val spark = triples.sparkSession
    val done = doneBuckets(spark, outDir, table)
    val pending = triples.toDF()
      .withColumn("bucket", bucketOf(nBuckets))
      .filter(!col("bucket").isin(done.toSeq: _*))
    // repartition by the partition column before the dynamic write: one file
    // per bucket instead of (tasks × buckets) small files — the standard
    // dynamic-partition-write shape (at real scale add a second key to fan
    // each bucket over several files)
    commitBuckets(pending.repartition(col("bucket")), outDir, table, nBuckets, batchId)
  }

  /** The bucket commit shared by every batch writer: append `pending` (rows
    * carrying their `bucket` column, already laid out the way the caller
    * wants its files) under `outDir/<table>` partitioned by bucket, then
    * append one lineage row per bucket that received rows. ONE action: the
    * per-bucket counts ride the write job itself via observe() (nBuckets
    * conditional sums, map-side combinable), so the pending pipeline never
    * runs twice and the recorded counts can never drift from the written
    * rows. Returns the lineage rows appended.
    */
  def commitBuckets(pending: DataFrame, outDir: String, table: String,
      nBuckets: Int, batchId: Long): Seq[LineageRow] = {
    val spark = pending.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val aggs = bucketAggs(nBuckets)
    pending.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("append").partitionBy("bucket").parquet(s"$outDir/$table")
    val rows = bucketCounts(obs.get, nBuckets)
      .map { case (b, n) => LineageRow(table, b, batchId, n) }
    if (rows.nonEmpty)
      // one task/file per append: a ≤nBuckets-row lineage batch otherwise
      // parallelizes one row per task (16 one-row part files per call)
      rows.toDS().toDF().coalesce(1).write.mode("append").parquet(lineagePath(outDir))
    rows
  }

  def readTriples(spark: SparkSession, outDir: String, table: String = "triples"): DataFrame =
    spark.read.parquet(s"$outDir/$table")

  /** S5 JSON entity sink — the reference's per-document entity JSON dumps
    * (src/ollama_entity_extraction/OllamaNERExtractor.py:27-37) as a
    * distributed JSON-lines table (one object per row, Spark's native json
    * sink — splittable, schema'd on read).
    */
  def writeJson(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite").json(outDir)

  /** S6 sorted text sink — the reference's sorted name lists
    * (ollama_ner_extract_names.py sorted-output files). A GLOBAL sort
    * (range-partitioned exchange) then one text part per partition;
    * part files concatenate in order.
    */
  def writeSortedText(df: DataFrame, column: String, outDir: String): Unit =
    df.select(col(column).cast("string").as("value"))
      .orderBy(col("value"))
      .write.mode("overwrite").text(outDir)

  /** Per-partition metric instrumentation (SURVEY §2.5 A11): wraps a typed
    * stage boundary, counting rows and wall nanos per task into an
    * accumulator; metric rows are collected driver-side after the job and
    * appended to the metrics sidecar. Accumulators piggyback on task
    * completion — zero extra jobs, zero shuffle.
    */
  def instrumented[T](ds: Dataset[T], stage: String,
      acc: CollectionAccumulator[MetricRow]): Dataset[T] = {
    implicit val enc: org.apache.spark.sql.Encoder[T] = ds.encoder
    ds.mapPartitions { it =>
      val t0 = System.nanoTime()
      var n = 0L
      new Iterator[T] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h && n >= 0) {
            acc.add(MetricRow(stage, TaskContext.getPartitionId(), n, n, System.nanoTime() - t0))
            n = -1 // emit once
          }
          h
        }
        def next(): T = { val v = it.next(); if (n >= 0) n += 1; v }
      }
    }
  }

  def newMetricsAcc(spark: SparkSession, name: String): CollectionAccumulator[MetricRow] =
    spark.sparkContext.collectionAccumulator[MetricRow](name)

  def writeMetrics(spark: SparkSession, acc: CollectionAccumulator[MetricRow],
      outDir: String): Unit = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val rows = acc.value.asScala.toSeq
    if (rows.nonEmpty)
      rows.toDS().toDF().coalesce(1).write.mode("append").parquet(s"$outDir/_metrics")
  }
}
