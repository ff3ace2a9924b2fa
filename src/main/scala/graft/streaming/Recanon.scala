package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.relations.Relations
import graft.util.SinkFs

/** Re-canonicalization compaction — the lambda split's missing half.
  *
  * The streaming flagship rewrites provenance through the alias snapshot
  * current at drain time ([[Streaming.pageTriples]]); when the periodic
  * batch job later produces a FRESH canonical map, triples materialized
  * under the old snapshot keep stale canonical subjects forever unless the
  * sink is compacted. This job is the streaming-era form of the reference's
  * retroactive alias merge (EntitiesDict.merge_entities,
  * src/ollama_entity_extraction/data_model/EntitiesDict.py:27-32): it
  * identifies exactly the micro-batch partitions whose provenance subjects
  * changed under the new map and rewrites ONLY those, batch-scoped, with
  * the sink's own lineage/metrics discipline.
  *
  * Scale shape: stale detection is one narrow scan + dimension join over
  * the provenance slice of the table (predicate `pred == ProvPred` prunes
  * the co-occurrence majority); the rewrite is ONE job writing all affected
  * (batch_id, bucket) partitions via dynamic partition overwrite — never a
  * per-batch driver loop over data. Only the sidecar refresh loops
  * driver-side, one tiny metadata write per rewritten batch (the same unit
  * of work the streaming sink itself pays per micro-batch). The alias map
  * joins without a broadcast hint, so Catalyst broadcasts it while it fits
  * and shuffles past that — the same unbounded-dimension policy as
  * [[Relations.rewriteProv]]. All driver-side metadata ops go through the
  * Hadoop FileSystem of the sink URI ([[graft.util.SinkFs]]), so the job
  * works on object-store sinks, not only file://.
  *
  * Idempotency: canonical representatives map to themselves in a
  * [[graft.canon.Canon.canonicalMap]] output, so a second compaction under
  * the same map detects zero stale rows and takes the fast path (zero
  * partitions rewritten, no jobs beyond the detection scan). Crash window:
  * the data rewrite commits as one job; a crash between it and the sidecar
  * refresh leaves lineage totals ≠ table counts, which the standard sidecar
  * rider (q_stream_triples / q_stream_recanon `require`) detects loudly and
  * [[repairSidecars]] remedies from the table itself.
  */
object Recanon {

  /** One row per rewritten batch in the `_compactions/compact-<k>` record. */
  final case class CompactionRow(compaction_id: Long, batch_id: Long,
      rows_before: Long, rows_after: Long, nanos: Long)

  final case class CompactionReport(compactionId: Long,
      batchesRewritten: Seq[Long], rowsBefore: Long, rowsAfter: Long,
      batchesScanned: Seq[Long] = Nil)

  /** One batch's lineage + metrics sidecar refresh — the shared write
    * contract of the compaction loop and [[repairSidecars]] (and mirroring
    * [[Streaming.materializedBatchWriter]]): per-bucket LineageRows
    * overwrite `_lineage/batch-<b>` (truncated when the batch shrank to
    * zero rows — a stale non-empty sidecar must not survive), one
    * StreamMetricRow overwrites `_metrics/batch-<b>`. Metric rows stamp
    * nanos=0: ONE job produced every batch's rows, so a per-batch wall
    * time does not exist and is not faked (consumers like `graft.Harness stream`'s
    * paced mode read `_metrics` nanos as per-batch ingest latency).
    */
  private def writeBatchSidecars(spark: SparkSession, outDir: String,
      b: Long, buckets: Seq[(Int, Long)], stage: String): Unit = {
    import spark.implicits._
    val rows = buckets.sortBy(_._1).map { case (k, n) =>
      graft.materialize.Materialize.LineageRow("stream_triples", k, b, n) }
    if (rows.nonEmpty)
      // one task/file for the ≤nBuckets-row sidecar — see
      // Streaming.materializedBatchWriter's lineage write
      rows.toDS().toDF().coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/_lineage/batch-$b")
    else
      SinkFs.deleteLoud(spark, s"$outDir/_lineage/batch-$b")
    val total = buckets.map(_._2).sum
    Seq(graft.model.StreamMetricRow(stage, b, total, total, 0L))
      .toDS().toDF().write.mode("overwrite")
      .parquet(s"$outDir/_metrics/batch-$b")
  }

  /** Rewrite every materialized micro-batch whose provenance subjects are
    * stale under `canonMap` (fresh surface → canonical alias table). A
    * subject is stale when the map sends it elsewhere OR no longer contains
    * it (the batch flagship's inner join would drop it). Returns the
    * compaction report; fast-path (no stale batch) performs no writes.
    *
    * Staleness scans are gated by the sink's alias-version watermark
    * (`_alias/batch-<b>`: the [[graft.canon.Canon.aliasFingerprint]] of the
    * map each batch's provenance reflects, recorded at drain time and
    * refreshed here): batches whose recorded fingerprint equals the fresh
    * map's are skipped WITHOUT reading any data, so steady-state compaction
    * under an unchanged map is metadata-only — no per-cadence full-history
    * provenance scan. Unversioned batches (raw drains, legacy sinks, lost
    * sidecars) are always scan candidates, the safe direction. Candidates
    * confirmed current (scanned-not-stale, or rewritten) are re-marked with
    * the fresh fingerprint — AFTER the data and sidecar writes, so a crash
    * can only leave a batch unmarked (rescanned next time), never marked
    * current while stale.
    */
  def recanonicalize(spark: SparkSession, outDir: String,
      canonMap: DataFrame): CompactionReport = {
    import spark.implicits._
    val t0 = System.nanoTime()
    if (!SinkFs.exists(spark, s"$outDir/triples"))
      return CompactionReport(-1L, Nil, 0L, 0L)
    val alias = canonMap.select(col("surface"), col("canonical"))
    val freshFp = graft.canon.Canon.aliasFingerprint(alias)

    // Watermark gate: disk batches minus those already recorded at the
    // fresh map's fingerprint.
    val diskBatches: Seq[Long] =
      SinkFs.listPrefixed(spark, s"$outDir/triples", "batch_id=")
        .map(_.stripPrefix("batch_id=").toLong).sorted
    val aliasDirs = SinkFs.listPrefixed(spark, s"$outDir/_alias", "batch-")
      .map(n => s"$outDir/_alias/$n")
    val recordedFp: Map[Long, Long] =
      if (aliasDirs.isEmpty) Map.empty
      else spark.read.parquet(aliasDirs: _*)
        .select(col("batch_id").cast("long"), col("alias_fp"))
        .as[(Long, Long)].collect().toMap
    val candidates = diskBatches.filterNot(b => recordedFp.get(b).contains(freshFp))
    if (candidates.isEmpty)
      return CompactionReport(-1L, Nil, 0L, 0L)

    // Per-batch one-row watermark writes are independent — fan out (§2.6)
    def markCurrent(batches: Seq[Long]): Unit =
      graft.util.Par.run(batches) { b =>
        Seq((b, freshFp)).toDF("batch_id", "alias_fp")
          .write.mode("overwrite").parquet(s"$outDir/_alias/batch-$b")
      }

    // Stale detection, restricted to the candidate batches (partition
    // pruning on batch_id): provenance slice × alias dimension, left join
    // so a dropped surface (null canonical) counts as stale too.
    val table = spark.read.parquet(s"$outDir/triples")
      .filter(col("batch_id").isin(candidates: _*))
    val staleBatches = table
      .filter(col("pred") === Relations.ProvPred)
      .join(alias, col("subj") === alias("surface"), "left")
      .filter(col("canonical").isNull || col("canonical") =!= col("subj"))
      .select(col("batch_id").cast("long"))
      .distinct().as[Long].collect().sorted.toSeq
    if (staleBatches.isEmpty) {
      markCurrent(candidates)
      return CompactionReport(-1L, Nil, 0L, 0L, candidates)
    }

    // Per-batch BEFORE counts from the lineage sidecars (the sink's
    // invariant: lineage == table, so no extra scan of the data); a lost
    // sidecar degrades the audit row to 0, never fails the compaction.
    // Batch-subdir sidecars listed explicitly (a `/*` glob works too, but
    // Spark's source resolution logs a WARN stack probing the glob path).
    val lineageDirs: Seq[String] =
      SinkFs.listPrefixed(spark, s"$outDir/_lineage", "batch-")
        .map(n => s"$outDir/_lineage/$n")
    val beforeByBatch: Map[Long, Long] =
      if (lineageDirs.isEmpty) Map.empty
      else spark.read.parquet(lineageDirs: _*)
        .filter(col("batch_id").isin(staleBatches: _*))
        .groupBy(col("batch_id")).agg(sum(col("n_rows")).as("n"))
        .as[(Long, Long)].collect().toMap
    // On-disk buckets per stale batch BEFORE the rewrite — dynamic
    // partition overwrite replaces only partitions present in the new data,
    // so a bucket whose rows all vanish (subjects dropped by the fresh map)
    // must be deleted explicitly afterwards.
    val diskBucketsBefore: Map[Long, Set[Int]] = staleBatches.map { b =>
      b -> SinkFs.listPrefixed(spark, s"$outDir/triples/batch_id=$b", "bucket=")
        .map(_.stripPrefix("bucket=").toInt).toSet
    }.toMap

    // Rewrite: co-occurrence rows pass through; provenance rows join to
    // their fresh canonical and dedup per batch (urls unique per feed and
    // pages batch-local, so batch-level distinct == the batch flagship's
    // global distinct — Streaming.pageTriples' stated precondition).
    val stale = table.filter(col("batch_id").isin(staleBatches: _*))
    val keep = Seq(col("subj"), col("pred"), col("obj"), col("url"),
      col("score"), col("batch_id"), col("bucket"))
    val cooc = stale.filter(col("pred") =!= Relations.ProvPred).select(keep: _*)
    val prov = stale.filter(col("pred") === Relations.ProvPred)
      .join(alias, col("subj") === alias("surface"))
      .select((col("canonical").as("subj") +: keep.tail): _*)
      .distinct()
    val rewritten = cooc.unionByName(prov).cache()
    try {
      // Counts job FIRST (it materializes the cache from the still-intact
      // old files), the overwrite second: consuming the cache after the
      // overwrite would recompute from DELETED source files if any cached
      // block were lost (executor death on a cluster), crashing the
      // compaction after the data had already committed.
      val counts = rewritten
        .groupBy(col("batch_id").cast("long").as("b"), col("bucket").cast("int").as("k"))
        .agg(count(lit(1)).as("n"))
        .as[(Long, Int, Long)].collect()
      // ONE data job: all affected (batch_id, bucket) partitions at once.
      // (A recompute during this job still reads the old files — dynamic
      // overwrite swaps partitions only at commit.)
      rewritten
        .repartition(col("batch_id"), col("bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "bucket")
        .parquet(s"$outDir/triples")
      val byBatch = counts.groupBy(_._1)
      // Emptied partitions: on disk before, absent from the rewrite. LOUD
      // deletion — a swallowed failure here would leave stale rows in the
      // table that the refreshed lineage no longer accounts for.
      staleBatches.foreach { b =>
        val after = byBatch.getOrElse(b, Array.empty[(Long, Int, Long)]).map(_._2).toSet
        (diskBucketsBefore.getOrElse(b, Set.empty) -- after).foreach { k =>
          SinkFs.deleteLoud(spark, s"$outDir/triples/batch_id=$b/bucket=$k")
        }
      }
      val nanos = System.nanoTime() - t0
      // independent per-batch metadata refreshes — fan out (§2.6); the
      // phase ORDER (data → sidecars → compaction record → watermark) is
      // unchanged, so the crash-window story is identical
      graft.util.Par.run(staleBatches) { b =>
        writeBatchSidecars(spark, outDir, b,
          byBatch.getOrElse(b, Array.empty[(Long, Int, Long)])
            .map { case (_, k, n) => (k, n) }.toSeq, "stream_recanon")
      }
      // Compaction record: an append-only audit trail of WHAT was rewritten
      // and by how much, separate from the per-batch sidecars so their
      // table-total invariants stay untouched.
      val compactionId = nextCompactionId(spark, outDir)
      val report = staleBatches.map { b =>
        CompactionRow(compactionId, b, beforeByBatch.getOrElse(b, 0L),
          byBatch.getOrElse(b, Array.empty[(Long, Int, Long)]).map(_._3).sum, nanos)
      }
      report.toDS().toDF().coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/_compactions/compact-$compactionId")
      // Watermark refresh LAST: every candidate is now confirmed current
      // under the fresh map (rewritten or scanned-not-stale).
      markCurrent(candidates)
      CompactionReport(compactionId, staleBatches,
        report.map(_.rows_before).sum, report.map(_.rows_after).sum, candidates)
    } finally rewritten.unpersist()
  }

  private def nextCompactionId(spark: SparkSession, outDir: String): Long = {
    val ids = SinkFs.listPrefixed(spark, s"$outDir/_compactions", "compact-")
      .map(_.stripPrefix("compact-").toLong)
    if (ids.isEmpty) 0L else ids.max + 1L
  }

  /** Rebuild every batch's lineage and metrics sidecars from the table
    * itself: the remediation for a crash between a compaction's data job
    * and its sidecar refresh (or any external sidecar loss). One aggregate
    * job over the table, then per-batch metadata writes (stage
    * `sidecar_repair` — see [[writeBatchSidecars]] for the nanos=0
    * contract). Returns (batches rebuilt, total rows accounted) so a
    * caller can report/verify the repair.
    */
  def repairSidecars(spark: SparkSession, outDir: String): (Long, Long) = {
    import spark.implicits._
    if (!SinkFs.exists(spark, s"$outDir/triples")) return (0L, 0L)
    val counts = spark.read.parquet(s"$outDir/triples")
      .groupBy(col("batch_id").cast("long").as("b"), col("bucket").cast("int").as("k"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, Int, Long)].collect()
    graft.util.Par.run(counts.groupBy(_._1).toSeq) { case (b, rows) =>
      writeBatchSidecars(spark, outDir, b,
        rows.map { case (_, k, n) => (k, n) }.toSeq, "sidecar_repair")
    }
    (counts.map(_._1).distinct.length.toLong, counts.map(_._3).sum)
  }
}
