package graft

import graft.canon.Canon.AliasMap
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  lazy val events = spark.read.parquet(s"$sfTiny/events.parquet").cache()

  test("streaming windowed agg equals the batch form (memory sink replay)") {
    val batch = Streaming.windowedAggBatch(events).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    val sdf = Streaming.windowedAggStream(spark, events)
    val q = sdf.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("win_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(streamed == batch)
  }

  test("stateful sessionization (mapGroupsWithState) equals the window-lag batch form") {
    val batch = Streaming.sessionizeBatch(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stateful = Streaming.sessionizeStateful(
        events.select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value")).as[Streaming.Event])
      .collect().map(s => (s.user_id, s.n_events, s.n_sessions)).toSet
    assert(stateful == batch)
  }

  test("session counts are sane: 1 <= sessions <= events") {
    Streaming.sessionizeBatch(events).collect().foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1))
    }
  }

  // --- streaming flagship: pages → triples --------------------------------

  private lazy val gaz = graft.model.Gazetteer.all.toArray

  private lazy val flagshipFixture = {
    val pages = graft.sources.Pages.synthesize(spark, sfTiny)
    val ms = graft.mentions.Mentions
      .scanWithRecall(graft.extract.Extract.segments(pages), gaz).cache()
    val canonDf = graft.canon.Canon.canonicalMap(ms)
    val batch = graft.relations.Relations.cooccurrence(ms)
      .unionByName(graft.relations.Relations.mentionedIn(ms, canonDf))
    val canon = graft.canon.Canon.snapshot(canonDf)
    (pages, batch, canon)
  }

  /** Grouped-multiset view: (subj, pred, obj, url) → row count. */
  private def grouped(rows: Array[graft.model.Triple]): Map[(String, String, String, String), Int] =
    rows.groupBy(t => (t.subj, t.pred, t.obj, t.url)).view.mapValues(_.length).toMap

  test("fused narrow pageTriples equals batch cooccurrence ∪ mentionedIn (grouped multisets)") {
    val (pages, batch, canon) = flagshipFixture
    val fused = Streaming.pageTriples(pages, gaz, canon)
    assert(grouped(fused.collect()) == grouped(batch.collect()))
    assert(grouped(batch.collect()).nonEmpty)
  }

  test("streaming flagship over a multi-file feed equals the batch result, micro-batched") {
    val (pages, batch, canon) = flagshipFixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-flagship-spec")
    val in = s"$tmp/pages"; val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(4).write.parquet(in)
    Streaming.runTriplesStreamOnce(spark, in, out, ckpt, gaz, canon, maxFilesPerTrigger = 1)
    val streamed = spark.read.parquet(out).as[graft.model.Triple].collect()
    assert(grouped(streamed) == grouped(batch.collect()))
    // maxFilesPerTrigger=1 over a 4-file feed: the run must have been
    // genuinely incremental, not one monolithic batch.
    val commits = new java.io.File(s"$ckpt/commits").list().filterNot(_.startsWith("."))
    assert(commits.length >= 3, s"expected >=3 micro-batch commits, got ${commits.toList}")
  }

  test("streaming flagship resumes from checkpoint: stop mid-input, add files, no dupes/loss") {
    val (pages, batch, canon) = flagshipFixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-resume-spec")
    val staging = s"$tmp/staging"; val in = s"$tmp/pages"
    val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(4).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 4)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def feed(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(in, f.getName))
    }
    // First run sees only half the corpus, drains it, and stops.
    feed(parts.take(2))
    Streaming.runTriplesStreamOnce(spark, in, out, ckpt, gaz, canon)
    val partial = spark.read.parquet(out).count()
    // The rest of the corpus lands; the SAME checkpoint + sink resumes:
    // already-committed batches must be skipped (no dupes), new files drained.
    feed(parts.drop(2))
    Streaming.runTriplesStreamOnce(spark, in, out, ckpt, gaz, canon)
    val streamed = spark.read.parquet(out).as[graft.model.Triple].collect()
    val expected = grouped(batch.collect())
    assert(partial < streamed.length, "first drain should be a strict subset")
    assert(grouped(streamed) == expected)
  }

  test("AliasFrame branch (forced by a lowered snapshot bound) equals the AliasMap branch") {
    import graft.canon.Canon
    val (pages, batch, canon) = flagshipFixture
    // Rebuild the canon DataFrame the fixture snapshot came from.
    val canonDf = canon.toSeq.toDF("surface", "canonical")
    // Gate checks: the tiny corpus is under the default bound (Map shape);
    // maxRows = 0 forces the DataFrame shape.
    assert(Canon.snapshotBounded(canonDf).isInstanceOf[Canon.AliasMap])
    val snap = Canon.snapshotBounded(canonDf, maxRows = 0)
    assert(snap.isInstanceOf[Canon.AliasFrame])
    // The fused stage without the closure map + sink-side rewrite must
    // reproduce the batch flagship exactly (grouped multisets).
    val raw = Streaming.pageTriplesRaw(pages, gaz)
    val rewritten = graft.relations.Relations.rewriteProv(raw, canonDf)
    assert(grouped(rewritten.collect()) == grouped(batch.collect()))
    // End-to-end through the materialized sink on the join branch.
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-frame-spec")
    val in = s"$tmp/pages"; val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(4).write.parquet(in)
    Streaming.runTriplesStreamMaterialized(spark, in, out, ckpt, gaz, snap,
      maxFilesPerTrigger = 1, nBuckets = 16)
    val streamed = spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "score")
      .as[graft.model.Triple].collect()
    assert(grouped(streamed) == grouped(batch.collect()))
  }

  test("paced start variant: files landing DURING a ProcessingTime run equal the batch result") {
    val (pages, batch, canon) = flagshipFixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-paced-spec")
    val staging = s"$tmp/staging"; val in = s"$tmp/pages"
    val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(4).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val expectedPages = spark.read.parquet(staging).count()
    val inputRows = new java.util.concurrent.atomic.AtomicLong(0L)
    import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        inputRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val q = Streaming.startTriplesStreamMaterialized(spark, in, out, ckpt,
        gaz, AliasMap(canon), maxFilesPerTrigger = 1, nBuckets = 16,
        trigger = Trigger.ProcessingTime(50L))
      // Feed files one at a time WHILE the query runs (the paced-bench
      // shape); land atomically (hidden temp name + rename) so a trigger
      // can't list a half-copied parquet.
      parts.foreach { f =>
        val tmpName = java.nio.file.Paths.get(in, "." + f.getName + ".tmp")
        java.nio.file.Files.copy(f.toPath, tmpName)
        java.nio.file.Files.move(tmpName, java.nio.file.Paths.get(in, f.getName),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(100L)
      }
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (inputRows.get() < expectedPages && System.nanoTime() < deadline)
        Thread.sleep(50L)
      q.stop(); q.awaitTermination()
      assert(inputRows.get() == expectedPages, "drain timed out before all pages were read")
    } finally spark.streams.removeListener(listener)
    val streamed = spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "score")
      .as[graft.model.Triple].collect()
    assert(grouped(streamed) == grouped(batch.collect()))
    // Genuinely incremental: multiple committed micro-batches.
    val commits = new java.io.File(s"$ckpt/commits").list().filterNot(_.startsWith("."))
    assert(commits.length >= 2, s"expected >=2 micro-batch commits, got ${commits.toList}")
  }

  test("recanonicalize compacts a stale-drained sink to the batch flagship, selectively and idempotently") {
    import graft.streaming.Recanon
    val (pages, batch, canon) = flagshipFixture
    val canonDf = canon.toSeq.toDF("surface", "canonical")
    val tmp = java.nio.file.Files.createTempDirectory("graft-recanon-spec")
    val in = s"$tmp/pages"; val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(4).write.parquet(in)
    // Drain under a deliberately STALE snapshot: identity over all surfaces.
    val staleSnap = canon.keysIterator.map(k => k -> k).toMap
    Streaming.runTriplesStreamMaterialized(spark, in, out, ckpt, gaz, AliasMap(staleSnap))
    val allBatches = spark.read.parquet(s"$out/triples")
      .select(col("batch_id").cast("long")).distinct().as[Long].collect().toSet

    // Compact with the fresh map → table equals the batch flagship. The
    // Map-overload drain is UNVERSIONED, so every batch is a scan candidate.
    val report = Recanon.recanonicalize(spark, out, canonDf)
    assert(report.batchesRewritten.nonEmpty)
    assert(report.batchesScanned.toSet == allBatches)
    assert(report.batchesRewritten.toSet.subsetOf(allBatches))
    assert(report.rowsAfter <= report.rowsBefore) // dedup can only shrink
    val compacted = spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "score")
      .as[graft.model.Triple].collect()
    assert(grouped(compacted) == grouped(batch.collect()))
    // Sidecars refreshed: lineage total == metrics total == table count.
    val nTable = compacted.length.toLong
    assert(spark.read.parquet(s"$out/_lineage/*")
      .agg(sum("n_rows")).head.getLong(0) == nTable)
    assert(spark.read.parquet(s"$out/_metrics/*")
      .agg(sum("rows_out")).head.getLong(0) == nTable)
    // Compaction audit record exists with one row per rewritten batch.
    val audit = spark.read.parquet(s"$out/_compactions/compact-${report.compactionId}")
    assert(audit.count() == report.batchesRewritten.size)

    // Idempotent: a second compaction under the same map is the fast path —
    // and METADATA-ONLY: the first compaction stamped every batch with the
    // fresh map's fingerprint, so no batch is even scanned.
    val again = Recanon.recanonicalize(spark, out, canonDf)
    assert(again.batchesRewritten.isEmpty)
    assert(again.batchesScanned.isEmpty)
    assert(grouped(spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "score")
      .as[graft.model.Triple].collect()) == grouped(batch.collect()))

    // Selectivity: corrupt exactly ONE batch back to stale subjects (a real
    // foreachBatch replay shape) — the next compaction rewrites only it.
    val victim = report.batchesRewritten.max
    val victimPages = spark.read.parquet(in) // all pages; re-derive its rows
    val staleAll = Streaming.pageTriples(victimPages.as[graft.model.Page], gaz, staleSnap)
    val victimUrls = spark.read.parquet(s"$out/triples")
      .filter(col("batch_id").cast("long") === victim)
      .select("url").distinct().as[String].collect().toSet
    val victimRows = staleAll.filter((t: graft.model.Triple) => victimUrls.contains(t.url))
    Streaming.materializedBatchWriter(out)(victimRows, victim)
    val third = Recanon.recanonicalize(spark, out, canonDf)
    assert(third.batchesRewritten == Seq(victim),
      s"expected only batch $victim rewritten, got ${third.batchesRewritten}")
    // ...and the replay (unversioned writer) was the ONLY batch scanned:
    // the others kept their watermark and were skipped metadata-only.
    assert(third.batchesScanned == Seq(victim))
    assert(grouped(spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "score")
      .as[graft.model.Triple].collect()) == grouped(batch.collect()))
  }

  test("snapshotBounded carries aliasFingerprint on both shapes; the gate admits exactly maxRows") {
    import graft.canon.Canon
    val (_, _, canon) = flagshipFixture
    val canonDf = canon.toSeq.toDF("surface", "canonical")
    val (n, fp) = (canon.size.toLong, Canon.aliasFingerprint(canonDf))
    assert(Canon.snapshotBounded(canonDf).fp == Some(fp))
    // at the gate: the whole map fits, collected in the same action
    assert(Canon.snapshotBounded(canonDf, maxRows = n) == Canon.AliasMap(canon, Some(fp)))
    // one row over: the DataFrame shape, same fingerprint
    val over = Canon.snapshotBounded(canonDf, maxRows = n - 1)
    assert(over.isInstanceOf[Canon.AliasFrame] && over.fp == Some(fp))
  }

  test("alias-version watermark: a snapshot-versioned drain makes same-map compaction metadata-only") {
    import graft.streaming.Recanon
    val (pages, batch, canon) = flagshipFixture
    val canonDf = canon.toSeq.toDF("surface", "canonical")
    val tmp = java.nio.file.Files.createTempDirectory("graft-watermark-spec")
    val in = s"$tmp/pages"; val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(2).write.parquet(in)
    // snapshotBounded carries the alias fingerprint → the sink records a
    // per-batch watermark at drain time.
    val snap = graft.canon.Canon.snapshotBounded(canonDf)
    assert(snap.fp.isDefined)
    Streaming.runTriplesStreamMaterialized(spark, in, out, ckpt, gaz, snap, 1, 16)
    val aliasMarks = new java.io.File(s"$out/_alias").list()
      .count(_.startsWith("batch-"))
    assert(aliasMarks >= 2, s"expected per-batch alias marks, got $aliasMarks")
    // Same-map compaction: nothing scanned, nothing rewritten — the
    // steady-state per-cadence cost is reading the watermark sidecars only.
    val r = Recanon.recanonicalize(spark, out, canonDf)
    assert(r.batchesScanned.isEmpty && r.batchesRewritten.isEmpty)
    // A DIFFERENT map invalidates every watermark: all batches scan (and
    // here rewrite — the merged surface's canonical changes).
    val (aSurf, aCanon) = canon.head
    val merged = canonDf.withColumn("canonical",
      when(col("canonical") === aCanon, lit(aCanon + " (merged)"))
        .otherwise(col("canonical")))
    val r2 = Recanon.recanonicalize(spark, out, merged)
    assert(r2.batchesScanned.nonEmpty)
    assert(r2.batchesRewritten.nonEmpty)
    // ...and compacting AGAIN under the changed map is metadata-only.
    val r3 = Recanon.recanonicalize(spark, out, merged)
    assert(r3.batchesScanned.isEmpty && r3.batchesRewritten.isEmpty)
  }

  test("repairSidecars rebuilds lost lineage/metrics from the table (compaction crash window)") {
    import graft.streaming.Recanon
    val (pages, batch, canon) = flagshipFixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-repair-spec")
    val in = s"$tmp/pages"; val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(2).write.parquet(in)
    Streaming.runTriplesStreamMaterialized(spark, in, out, ckpt, gaz, AliasMap(canon))
    val nTable = spark.read.parquet(s"$out/triples").count()
    // Simulate the crash window: one batch's lineage sidecar vanishes.
    val victims = new java.io.File(s"$out/_lineage").listFiles()
      .filter(_.getName.startsWith("batch-")).sortBy(_.getName)
    assert(victims.nonEmpty)
    graft.util.TempDirs.delete(victims.head.toPath)
    assert(spark.read.parquet(s"$out/_lineage/*")
      .agg(sum("n_rows")).head.getLong(0) < nTable) // drift now detectable
    Recanon.repairSidecars(spark, out)
    assert(spark.read.parquet(s"$out/_lineage/*")
      .agg(sum("n_rows")).head.getLong(0) == nTable)
    assert(spark.read.parquet(s"$out/_metrics/*")
      .agg(sum("rows_out")).head.getLong(0) == nTable)
  }

  test("materialized streaming sink: partitioned table + lineage/metric sidecars, resume-safe") {
    val (pages, batch, canon) = flagshipFixture
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-mat-spec")
    val staging = s"$tmp/staging"; val in = s"$tmp/pages"
    val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
    pages.repartition(4).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def feed(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(in, f.getName))
    }
    // Drain half, then resume over the rest with the same checkpoint.
    feed(parts.take(2))
    Streaming.runTriplesStreamMaterialized(spark, in, out, ckpt, gaz, AliasMap(canon))
    val batchIdsAfterHalf = spark.read.parquet(s"$out/triples")
      .select("batch_id").distinct().collect().map(_.getInt(0)).toSet
    feed(parts.drop(2))
    Streaming.runTriplesStreamMaterialized(spark, in, out, ckpt, gaz, AliasMap(canon))

    // Table contents == batch flagship (partition cols dropped for compare).
    val table = spark.read.parquet(s"$out/triples")
    val rows = table.select("subj", "pred", "obj", "url", "score")
      .as[graft.model.Triple].collect()
    assert(grouped(rows) == grouped(batch.collect()))
    // Resume appended NEW batch ids; the first drain's partitions are intact.
    val allBatchIds = table.select("batch_id").distinct().collect().map(_.getInt(0)).toSet
    assert(batchIdsAfterHalf.nonEmpty && (allBatchIds -- batchIdsAfterHalf).nonEmpty)
    assert(batchIdsAfterHalf.subsetOf(allBatchIds))
    // Lineage and metric sidecars: totals equal the table exactly.
    val nTable = table.count()
    val lineage = spark.read.parquet(s"$out/_lineage/*")
    assert(lineage.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0) == nTable)
    assert(lineage.select("batch_id").distinct().count() == allBatchIds.size)
    val metrics = spark.read.parquet(s"$out/_metrics/*")
    assert(metrics.agg(org.apache.spark.sql.functions.sum("rows_out")).head.getLong(0) == nTable)
    // metrics cover every batch that LANDED rows (committed empty batches
    // also get a metrics row, so superset, not equality), batch_id a typed
    // Long data column
    assert(allBatchIds.map(_.toLong)
      .subsetOf(metrics.select("batch_id").as[Long].collect().toSet))
    // Idempotent replay: re-running one committed batch's writer must
    // OVERWRITE its batch-scoped dirs, not duplicate them (foreachBatch is
    // at-least-once on failure recovery).
    // (Materialized via collect first: a real foreachBatch replay re-reads
    // the SOURCE from the checkpoint — it never scans the sink it is about
    // to overwrite, so the spec must not either.)
    val replayId = allBatchIds.max.toLong
    val replayRows = table.filter(org.apache.spark.sql.functions.col("batch_id") === replayId)
      .select("subj", "pred", "obj", "url", "score").as[graft.model.Triple].collect()
    Streaming.materializedBatchWriter(out)(
      spark.createDataset(replayRows.toSeq), replayId)
    val after = spark.read.parquet(s"$out/triples")
    assert(after.count() == nTable, "replayed batch must not duplicate rows")
    assert(spark.read.parquet(s"$out/_lineage/*")
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0) == nTable)
    // A replay that shrinks to ZERO rows must truncate the batch's stale
    // lineage dir (not leave the failed attempt's counts behind).
    Streaming.materializedBatchWriter(out)(
      spark.emptyDataset[graft.model.Triple], replayId)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/_lineage/batch-$replayId")))
    assert(spark.read.parquet(s"$out/_lineage/*")
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0)
      == nTable - replayRows.length)
  }
}
