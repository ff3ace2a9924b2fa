package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import graft.canon.Canon
import graft.materialize.Materialize
import graft.model.{Gazetteer, Mention, Page}
import graft.pipeline.Pipeline
import graft.sources.Pages
import graft.streaming.{Recanon, Streaming}
import graft.util.SinkFs

/** Production entry point — the engine as a spark-submit job (north rule:
  * "run via spark-submit on a multi-executor cluster"). Unlike the sandbox
  * mains (Bench/Verify/Harness), this one sets NO master and no
  * parallelism config: cluster shape comes entirely from spark-submit
  * (`--master`, `--num-executors`, `--conf spark.sql.shuffle.partitions`),
  * so the same jar runs unchanged at N and 4N executors. The engine has no
  * dependencies beyond Spark itself, so the plain `sbt package` jar
  * submits directly:
  *
  * {{{
  * spark-submit --class graft.Submit target/scala-2.13/graft_2.13-*.jar \
  *   batch --input s3://…/pages --output s3://…/kg [--canon-out s3://…/alias]
  * }}}
  *
  * Subcommands wire the lambda architecture end to end:
  *  - `batch`: pages table → mentions (cached once, tagged with their sink
  *    bucket) → canonical map → co-occurrence + provenance triples
  *    ([[Pipeline.triples]], the flagship's own composition) over mentions
  *    clustered by the sink's own bucket exchange and sorted by (url, page,
  *    seg_no), committed bucket-partitioned with lineage resume
  *    ([[Materialize.commitBuckets]]) — one path for both alias shapes;
  *    `--canon-out` also writes the alias table the stream job consumes as
  *    its snapshot.
  *  - `stream`: the fused micro-batch flagship over a page feed directory
  *    ([[Streaming]]), checkpoint-resumable, with the materialized
  *    lineage+metrics sink. `--canon` points at a prior batch run's alias
  *    table (size-gated into a closure map or a per-batch join via
  *    [[Canon.snapshotBounded]]); without it provenance lands RAW
  *    (surface-form subjects) for a later `compact` to canonicalize.
  *    Default trigger drains what is available and exits (re-invoke on a
  *    schedule = incremental ingest); `--trigger-ms` keeps it running.
  *  - `refresh`: the periodic batch canon job in its incremental form —
  *    fold a DELTA page table's mentions into the carried canon state
  *    persisted under `--state` ([[Canon.canonicalMapIncremental]]: one
  *    flagged merge of the carried stats with the delta's mentions, one
  *    token table serving the cap-crossing gate and the blocking, edge
  *    generation proportional to the delta, exact vs the full job, with
  *    the gate falling back to the full recompute). The first invocation
  *    (no complete version yet) runs the full job. State versions are
  *    `v<N>/{stats,alias}` parquet dirs, read back with their declared
  *    schemas ([[Canon.StatsSchema]], [[Canon.AliasSchema]]), written
  *    concurrently and published by a `_DONE` flag — a crash mid-write
  *    leaves an unflagged dir the next refresh ignores and reclaims. The
  *    summary line's surface count is observed on the alias write. The
  *    input is a delta BY CONTRACT (pages not already folded into the
  *    carried state), exactly like the stream feed's at-most-once
  *    placement.
  *  - `dedup`: fold a delta documents batch `(doc_id, text)` into the
  *    carried exact-dedup fingerprint index (same `_DONE` version
  *    discipline as `refresh`); each version materializes the merged
  *    index and `new_docs`, the batch's append set.
  *  - `compact`: re-canonicalization of the materialized stream sink under
  *    a fresh alias map ([[Recanon.recanonicalize]]) — rewrites only the
  *    micro-batches whose provenance went stale.
  *  - `repair`: rebuild the sink's lineage/metrics sidecars from the table
  *    itself ([[Recanon.repairSidecars]]) — remediation for a compaction
  *    crash window or external sidecar loss.
  *
  * Bucketing defaults to [[Materialize.hashBucketCol]] (url-hash — correct
  * for arbitrary production urls); `--bucket-by docid` restores the
  * sandbox/oracle scheme. Input is the BASELINE input_hint page table
  * `(url, warc_ts, html, text, lang)`; the gazetteer defaults to the
  * built-in dimension and `--gazetteer` loads a `(surface, label)` parquet.
  */
object Submit {

  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
    // Sandbox escape hatch only — under spark-submit the master comes from
    // the launcher and this env is unset.
    sys.env.get("SPARK_GRAFT_MASTER").foreach(b.master)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** Parse + dispatch, separated from [[main]] so tests (and embeddings)
    * drive it with their own session. Prints one summary line per action. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val (cmd, opts) = (args.head, parseOpts(args.tail))
    // Reject unknown options loudly: a typo (--gazeteer) silently falling
    // back to a default is exactly the failure mode a production job must
    // not have.
    allowedOpts.get(cmd).foreach { allowed =>
      val unknown = opts.keySet -- allowed
      require(unknown.isEmpty,
        s"unknown option(s) for '$cmd': ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}\n$usage")
    }
    cmd match {
      case "batch"   => runBatch(spark, opts)
      case "stream"  => runStream(spark, opts)
      case "refresh" => runRefresh(spark, opts)
      case "dedup"   => runDedup(spark, opts)
      case "compact" => runCompact(spark, opts)
      case "repair"  => runRepair(spark, opts)
      case other     => throw new IllegalArgumentException(s"unknown subcommand '$other'\n$usage")
    }
  }

  private val allowedOpts: Map[String, Set[String]] = Map(
    "batch"   -> Set("input", "output", "buckets", "batch-id", "bucket-by", "gazetteer", "canon-out"),
    "stream"  -> Set("input", "output", "checkpoint", "canon", "buckets", "files-per-trigger", "trigger-ms", "bucket-by", "gazetteer"),
    "refresh" -> Set("input", "state", "gazetteer", "canon-out"),
    "dedup"   -> Set("input", "index"),
    "compact" -> Set("output", "canon", "input", "gazetteer"),
    "repair"  -> Set("output"))

  val usage: String =
    """usage: graft.Submit <subcommand> --key value ...
      |  batch   --input <pages parquet> --output <sink dir>
      |          [--buckets 16] [--batch-id 0] [--bucket-by hash|docid]
      |          [--gazetteer <surface,label parquet>] [--canon-out <dir>]
      |  stream  --input <pages feed dir> --output <sink dir> --checkpoint <dir>
      |          [--canon <alias parquet>] [--buckets 16] [--files-per-trigger 1]
      |          [--trigger-ms <n>] [--bucket-by hash|docid] [--gazetteer <parquet>]
      |  refresh --input <delta pages parquet> --state <canon state dir>
      |          [--gazetteer <parquet>] [--canon-out <alias dir>]
      |  dedup   --input <delta docs parquet (doc_id, text)> --index <index state dir>
      |          (fold the delta into the exact-dedup fingerprint index;
      |           writes v<N>/{index,new_docs})
      |  compact --output <sink dir> (--canon <alias parquet> | --input <pages parquet>)
      |          [--gazetteer <parquet>]
      |  repair  --output <sink dir>   (rebuild lineage/metrics sidecars from the table)""".stripMargin

  private def parseOpts(rest: Array[String]): Map[String, String] = {
    require(rest.length % 2 == 0, s"dangling option value\n$usage")
    rest.grouped(2).map {
      case Array(k, v) =>
        require(k.startsWith("--"), s"expected --option, got '$k'\n$usage")
        k.stripPrefix("--") -> v
    }.toMap
  }

  private def req(opts: Map[String, String], key: String): String =
    opts.getOrElse(key, throw new IllegalArgumentException(s"missing --$key\n$usage"))

  private def gazetteerOf(spark: SparkSession, opts: Map[String, String]): Array[(String, String)] =
    opts.get("gazetteer") match {
      case None => Gazetteer.all.toArray
      case Some(path) =>
        import spark.implicits._
        // Dimension-sized driver collect by design: the gazetteer is
        // broadcast into the scan automaton either way (same policy as
        // Mentions.scanWithRecall), and the automaton build is evidenced to
        // 100k surfaces (BENCH/gazetteer_scale.json).
        spark.read.parquet(path)
          .select(org.apache.spark.sql.functions.col("surface"),
            org.apache.spark.sql.functions.col("label"))
          .as[(String, String)].collect()
    }

  private def bucketSchemeOf(opts: Map[String, String]): Int => org.apache.spark.sql.Column =
    opts.getOrElse("bucket-by", "hash") match {
      case "hash"  => Materialize.hashBucketCol
      case "docid" => Materialize.bucketCol
      case other   => throw new IllegalArgumentException(s"unknown --bucket-by '$other' (hash|docid)")
    }

  private def runBatch(spark: SparkSession, opts: Map[String, String]): Unit = {
    val nBuckets = opts.getOrElse("buckets", "16").toInt
    val rows = batch(Pages.fromParquet(spark, req(opts, "input")), gazetteerOf(spark, opts),
      req(opts, "output"), nBuckets, opts.getOrElse("batch-id", "0").toLong,
      bucketSchemeOf(opts), opts.get("canon-out"))
    println(s"[submit] batch: wrote ${rows.map(_.n_rows).sum} triples " +
      s"across ${rows.size} new buckets (${nBuckets - rows.size} resumed)")
  }

  /** The batch flagship over an explicit page table (the `batch`
    * subcommand as a function). ONE cached mention scan, tagged with each
    * row's sink bucket, feeds the canonical map and the triples. The
    * pending buckets' mentions go through one exchange on the bucket
    * column — `p` = the session's shuffle parallelism capped at
    * `nBuckets`, an explicit count AQE does not coalesce — and a
    * per-partition sort on (url, page, seg_no). A bucket is a function of
    * the url, so every url (a re-crawled one included) becomes one sorted
    * run in one partition: exactly the contiguity [[Pipeline.triples]]
    * requires, so its per-segment and per-url dedups are global. The
    * triples are written straight into their bucket partitions; with an
    * alias map at most `maxRows` surfaces ([[Canon.snapshotBounded]]) that
    * write has no second exchange, past it the provenance rewrite adds one
    * join. Returns the lineage rows this call committed.
    */
  def batch(pages: Dataset[Page], gazetteer: Array[(String, String)], output: String,
      nBuckets: Int, batchId: Long, bucketOf: Int => Column, canonOut: Option[String],
      maxRows: Long = Canon.SnapshotMaxRows): Seq[Materialize.LineageRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val tagged = Pipeline.mentions(pages, gazetteer).toDF()
      .withColumn("bucket", bucketOf(nBuckets)).cache()
    try {
      val canon = Canon.canonicalMap(tagged.as[Mention])
      val snap = Canon.snapshotBounded(canon, maxRows)
      canonOut.foreach { dir =>
        val alias = snap match {
          case Canon.AliasMap(m, _) => m.toSeq.toDF("surface", "canonical")
          case _ => canon
        }
        alias.write.mode("overwrite").parquet(dir)
      }
      val done = Materialize.doneBuckets(spark, output, "triples")
      val p = math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, nBuckets)
      val clustered = tagged.filter(!col("bucket").isin(done.toSeq: _*))
        .repartition(p, col("bucket"))
        .sortWithinPartitions(col("url"), col("page"), col("seg_no"))
        .as[Mention]
      Materialize.commitBuckets(
        Pipeline.triples(clustered, snap).withColumn("bucket", bucketOf(nBuckets)),
        output, "triples", nBuckets, batchId)
    } finally tagged.unpersist()
  }

  private def runStream(spark: SparkSession, opts: Map[String, String]): Unit = {
    val gaz = gazetteerOf(spark, opts)
    val snapshot = opts.get("canon") match {
      case Some(p) => Canon.snapshotBounded(spark.read.parquet(p))
      // No alias table yet (first ingest before any batch canon run):
      // provenance subjects stay raw surface forms; `compact` under the
      // first real map canonicalizes them retroactively.
      case None => Canon.AliasNone
    }
    val (in, out, ckpt) = (req(opts, "input"), req(opts, "output"), req(opts, "checkpoint"))
    val perTrigger = opts.getOrElse("files-per-trigger", "1").toInt
    val nBuckets = opts.getOrElse("buckets", "16").toInt
    val bucketOf = bucketSchemeOf(opts)
    opts.get("trigger-ms") match {
      case None =>
        Streaming.startTriplesStreamMaterialized(spark, in, out, ckpt, gaz,
          snapshot, perTrigger, nBuckets, Trigger.AvailableNow(), bucketOf)
          .awaitTermination()
        println(s"[submit] stream: drained $in into $out (checkpoint $ckpt)")
      case Some(ms) =>
        // Continuous mode: awaitTermination returns only on an external
        // stop/kill (checkpoint resumes the feed position on re-invoke).
        Streaming.startTriplesStreamMaterialized(spark, in, out, ckpt, gaz,
          snapshot, perTrigger, nBuckets,
          Trigger.ProcessingTime(ms.toLong, java.util.concurrent.TimeUnit.MILLISECONDS),
          bucketOf)
          .awaitTermination()
        println(s"[submit] stream: stopped continuous ingest of $in into $out (checkpoint $ckpt)")
    }
  }

  /** Incremental canon refresh over a delta page table — see the class doc.
    * Reads the newest `_DONE`-flagged version as the carried state and
    * publishes the refreshed state as the next one ([[publishVersion]]).
    * `--canon-out` additionally overwrites a plain alias table at a stable
    * path for `stream --canon` / `compact --canon` consumption. */
  private def runRefresh(spark: SparkSession, opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.{count, lit}
    val state = req(opts, "state")
    // Both canon paths consume the mentions once, into their checkpointed
    // stats, so the scan needs no cut of its own.
    val ms = Pipeline.mentions(Pages.fromParquet(spark, req(opts, "input")),
      gazetteerOf(spark, opts))
    // The state tables are this job's own output, so their schemas are
    // known: no footer-inference jobs on read.
    def alias(v: String): DataFrame = spark.read.schema(Canon.AliasSchema).parquet(s"$v/alias")
    val written = org.apache.spark.sql.Observation()
    val (how, next) = publishVersion(spark, state) { (cur, next) =>
      val (st, how) = cur match {
        case None => (Canon.canonicalState(ms), "full (initial)")
        case Some(v) =>
          val carried = Canon.CanonState(
            spark.read.schema(Canon.StatsSchema).parquet(s"$v/stats"), alias(v))
          val r = Canon.canonicalMapIncremental(carried, ms)
          (r.state, if (r.fellBack) "full (cap-crossing fallback)" else "incremental")
      }
      // The two state writes are independent jobs over the same checkpointed
      // stats: submitted together (Par.run), their scheduling latencies
      // overlap. The alias write counts its own rows for the summary line.
      graft.util.Par.run(Seq(
        () => st.stats.write.mode("overwrite").parquet(s"$next/stats"),
        () => st.canonMap.observe(written, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$next/alias")))(_.apply())
      how
    }
    opts.get("canon-out").foreach(p => alias(s"$state/$next").write.mode("overwrite").parquet(p))
    println(s"[submit] refresh: $how -> $next (${written.get("n")} surfaces)")
  }

  /** `dedup`: fold a delta documents batch into the carried exact-dedup
    * fingerprint index ([[graft.dedup.Dedup.foldIndex]]) — the corpus-scale
    * shape where history is never rescanned. Same version discipline as
    * `refresh` ([[publishVersion]]); each version also materializes
    * `new_docs`, the batch's append set (first occurrence of every hash the
    * index has not seen). The input is a delta BY CONTRACT, like
    * `refresh`'s. The summary line's counts are observed on the two writes. */
  private def runDedup(spark: SparkSession, opts: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    // Collapse the delta once (lazy cut): the fold write and the new-docs
    // write both consume it.
    val dstats = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy(
      graft.dedup.Dedup.exact(
        spark.read.parquet(req(opts, "input")).select(col("doc_id"), col("text"))))
    val (nIndex, nNew) = (org.apache.spark.sql.Observation(), org.apache.spark.sql.Observation())
    val (how, next) = publishVersion(spark, req(opts, "index")) { (cur, next) =>
      val (folded, newDocs, how) = cur match {
        case None =>
          (dstats, dstats.select(col("h"), col("keeper").as("doc_id")), "initial")
        case Some(v) =>
          val idx = spark.read.parquet(s"$v/index")
          (graft.dedup.Dedup.foldIndex(idx, dstats),
            graft.dedup.Dedup.newAgainst(idx, dstats), "incremental")
      }
      folded.observe(nIndex, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$next/index")
      newDocs.observe(nNew, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$next/new_docs")
      how
    }
    println(s"[submit] dedup: $how -> $next (${nIndex.get("n")} fingerprints, " +
      s"${nNew.get("n")} new docs)")
  }

  /** The `_DONE`-flagged version policy of `refresh` and `dedup`: the
    * newest flagged `v<N>` under `root` is current; `write` gets its dir
    * (None before the first version) and fills the next version's dir,
    * which the `_DONE` flag then publishes. The new version and its
    * predecessor stay (a manual rollback window); older versions and
    * unflagged crash residue are reclaimed. Returns `write`'s result and
    * the new version's name. */
  private def publishVersion[A](spark: SparkSession, root: String)(
      write: (Option[String], String) => A): (A, String) = {
    def done(v: Int): Boolean = SinkFs.exists(spark, s"$root/v$v/_DONE")
    val versions = SinkFs.listPrefixed(spark, root, "v")
      .flatMap(n => scala.util.Try(n.stripPrefix("v").toInt).toOption)
    val cur = versions.filter(done).sorted.lastOption
    val next = cur.map(_ + 1).getOrElse(0)
    val a = write(cur.map(v => s"$root/v$v"), s"$root/v$next")
    SinkFs.touch(spark, s"$root/v$next/_DONE")
    versions.filter(v => cur.exists(_ > v) || !done(v))
      .foreach(v => SinkFs.deleteLoud(spark, s"$root/v$v"))
    (a, s"v$next")
  }

  private def runCompact(spark: SparkSession, opts: Map[String, String]): Unit = {
    val canon: DataFrame = opts.get("canon") match {
      case Some(p) => spark.read.parquet(p)
      case None => Canon.canonicalMap(Pipeline.mentions(
        Pages.fromParquet(spark, req(opts, "input")), gazetteerOf(spark, opts)))
    }
    // No --buckets here: the rewrite preserves each row's existing bucket
    // (a compaction re-canonicalizes subjects, it never re-partitions).
    val report = Recanon.recanonicalize(spark, req(opts, "output"), canon)
    println(s"[submit] compact: rewrote ${report.batchesRewritten.size} batches " +
      s"(${report.rowsBefore} rows -> ${report.rowsAfter})")
  }

  /** Sidecar remediation for the compaction crash window (or any external
    * sidecar loss): rebuild every batch's lineage/metrics from the table
    * itself ([[Recanon.repairSidecars]]). */
  private def runRepair(spark: SparkSession, opts: Map[String, String]): Unit = {
    val (batches, rows) = Recanon.repairSidecars(spark, req(opts, "output"))
    println(s"[submit] repair: rebuilt sidecars for $batches batches ($rows rows accounted)")
  }
}
