package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Gazetteer, Mention, Page, Segment, Triple}
import graft.sources.Pages
import graft.extract.Extract
import graft.mentions.Mentions
import graft.canon.Canon
import graft.relations.Relations

/** The flagship Dataset[Page] → Dataset[Triple] flow (SURVEY §7.1):
  *
  *   pages → segments → mentions (broadcast automaton, narrow)
  *         → canonicalization (dimension-sized self-join + CC)
  *         → co-occurrence + provenance triples in one fused pass over the
  *           url-contiguous mentions ([[Pipeline.triples]] — the one
  *           composition for every alias shape: a broadcast alias map
  *           rewrites provenance in the pass; an alias map too big for the
  *           driver rewrites it with one equi-join + distinct afterwards)
  *
  * Shuffle frontiers: surface-stats aggregate, ER band join, CC iterations
  * — the big-data path (pages → segments → mentions → triples) is narrow
  * end to end.
  */
object Pipeline {

  def pages(spark: SparkSession, sfDir: String): Dataset[Page] =
    Pages.synthesize(spark, sfDir)

  def segments(spark: SparkSession, sfDir: String): Dataset[Segment] =
    Extract.segments(pages(spark, sfDir))

  def mentions(spark: SparkSession, sfDir: String): Dataset[Mention] =
    mentions(pages(spark, sfDir), Gazetteer.all.toArray)

  /** The one pages → mentions composition: segment the pages, then the
    * exact automaton scan plus the fuzzy recall pass. The flagship,
    * `Submit batch`/`refresh`/`compact` and the streaming benchmark's
    * batch reference all run it. */
  def mentions(pages: Dataset[Page], gazetteer: Array[(String, String)]): Dataset[Mention] =
    Mentions.scanWithRecall(Extract.segments(pages), gazetteer)

  // Session-scoped memo of the cached mention Dataset: many SparkEntry
  // queries branch off the same scan, and Verify/Bench run them all in one
  // process — cache() + reuse turns 9 rescans into 1 (same effect a
  // materialized intermediate table has in a production run).
  private val mentionMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Dataset[Mention]]()

  def mentionsCached(spark: SparkSession, sfDir: String): Dataset[Mention] =
    mentionMemo.computeIfAbsent((spark, sfDir), _ => {
      val ms = mentions(spark, sfDir)
      // The page source may have been SPREAD over the cores for the scan
      // (graft.util.Reads.spread — the fill is then parallel), but a cache
      // built from the spread plan makes every one of the memo's many
      // small consumers pay defaultParallelism-many tasks per stage. For a
      // coarse source, re-cluster the cache BY URL back to the source's
      // own split count: the fill stays parallel (the exchange's map side
      // is the spread scan), the cached dimension reads at its natural
      // width, and url-hash partitioning PRESERVES the segment/url
      // contiguity the fused triples pass requires — a url's mention run
      // lives in one map task's shuffle block, blocks keep row order, and
      // no other block carries that url. Well-split production sources
      // skip this entirely (no spread happened, no exchange added).
      val srcParts = spark.read.parquet(s"$sfDir/documents.parquet")
        .rdd.getNumPartitions
      val par = spark.sparkContext.defaultParallelism
      val clustered =
        if (srcParts < par) ms.repartition(srcParts, col("url")) else ms
      clustered.cache()
    })

  // Canonical alias map is dimension-sized but costs a CC fixpoint loop —
  // memoize it too (q_canon / q_entity_prov / q_eval_pairs / q_lineage all
  // consume it).
  private val canonMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def canonCached(spark: SparkSession, sfDir: String): DataFrame =
    canonMemo.computeIfAbsent((spark, sfDir),
      _ => Canon.canonicalMap(mentionsCached(spark, sfDir)).cache())

  /** Unpersist and drop both memo entries for (spark, sfDir). The memos are
    * correct for one-shot Verify/Bench processes, but hold cached Datasets
    * for the session's lifetime — any long-lived embedding (a service, a
    * notebook iterating over sfDirs) must call this when done with a
    * corpus. Verify/Bench call it at teardown; PipelineSpec asserts the
    * session's cache manager is empty afterwards.
    */
  def evict(spark: SparkSession, sfDir: String): Unit = {
    val key = (spark, sfDir)
    Option(mentionMemo.remove(key)).foreach(_.unpersist())
    Option(canonMemo.remove(key)).foreach(_.unpersist())
  }

  /** All triples of the corpus at `sfDir`: the composition below over the
    * cached scan, under its size-gated alias snapshot. */
  def triples(spark: SparkSession, sfDir: String): Dataset[Triple] =
    triples(mentionsCached(spark, sfDir), Canon.snapshotBounded(canonCached(spark, sfDir)))

  /** The one mentions → triples composition (segment co-occurrence +
    * per-entity provenance) for every alias shape; the flagship, the
    * oracle's `q_triples`, [[flagshipChecksum]] and `Submit batch` all run
    * it. Both legs come from one shuffle-free pass
    * ([[Relations.triplesContiguous]]); only where the provenance subjects
    * get canonicalized depends on the shape:
    *  - [[Canon.AliasMap]]: inside the pass, through the broadcast map;
    *  - [[Canon.AliasFrame]]: raw in the pass, then one equi-join against
    *    the alias DataFrame ([[Relations.rewriteProv]]);
    *  - [[Canon.AliasNone]]: not at all — raw surface subjects.
    *
    * Precondition: `ms` is url- and segment-contiguous — every url's
    * mentions are consecutive rows of ONE partition, each segment's rows
    * consecutive within them. The scan output and the mention memo have
    * this shape; `Submit batch` establishes it with its bucket exchange and
    * per-partition sort. An intra-partition violation throws.
    */
  def triples(ms: Dataset[Mention], snap: Canon.AliasSnapshot): Dataset[Triple] =
    snap match {
      case Canon.AliasMap(m, _) => Relations.triplesContiguous(ms, Some(m))
      case Canon.AliasFrame(df, _) =>
        Relations.rewriteProv(Relations.triplesContiguous(ms, None), df)
      case Canon.AliasNone => Relations.triplesContiguous(ms, None)
    }

  /** Terminal flagship action for benchmarking: counts the amplified triples
    * and unpersists the run's mention cache afterwards, so repeated reps in
    * one JVM (Bench min-of-3, `graft.Harness scaling` interleaving) don't accumulate
    * cached Datasets across iterations.
    */
  def flagshipCount(spark: SparkSession, sfDir: String, factor: Int): Long =
    flagshipChecksum(spark, sfDir, factor)._1

  /** Order-insensitive content fingerprint of a triple set: row count plus
    * the SUM (mod 2^64) of per-row xxhash64 over all five columns. Sum, not
    * xor: xor cancels even multiplicities, so (count, sum-of-hashes) pins
    * the multiset far tighter — `graft.Harness stream` requires the streamed sink's
    * fingerprint equal the batch flagship's at full amplified scale, not
    * just the row count.
    */
  def tripleChecksum(triples: DataFrame): (Long, Long) = {
    // hash sum via decimal(38,0): a raw long sum overflows (and THROWS under
    // Spark 4's default ANSI mode) within a handful of rows; BigDecimal
    // .longValue() truncates to the low 64 bits = the intended mod-2^64 sum
    val r = triples.agg(
      count(lit(1)),
      sum(xxhash64(col("subj"), col("pred"), col("obj"), col("url"), col("score"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue())
  }

  /** [[flagshipCount]] that also fingerprints the result — one job, same
    * cost shape as a plain count (map-side-combinable aggregate). The
    * gazetteer is a parameter so `graft.Harness gazetteer` can time the IDENTICAL
    * end-to-end pipeline at the 100k-surface dimension. */
  def flagshipChecksum(spark: SparkSession, sfDir: String, factor: Int,
      gazetteer: Array[(String, String)] = Gazetteer.all.toArray): (Long, Long) = {
    val pages = Pages.synthesizeAmplified(spark, sfDir, factor)
    val ms = mentions(pages, gazetteer).cache()
    try tripleChecksum(triples(ms, Canon.snapshotBounded(Canon.canonicalMap(ms))).toDF())
    finally ms.unpersist()
  }
}
