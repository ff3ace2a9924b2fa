package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, length, lit, pmod, xxhash64}
import org.apache.spark.sql.streaming.Trigger
import graft.canon.Canon
import graft.dedup.Dedup
import graft.extract.Extract
import graft.fuzzy.Fuzzy
import graft.linking.Linking
import graft.materialize.Materialize
import graft.mentions.{AhoCorasick, Mentions}
import graft.model.Gazetteer
import graft.multimodal.Multimodal
import graft.relations.Relations
import graft.similarity.Ann
import graft.sources.Pages
import graft.streaming.{Recanon, Streaming}
import graft.textstats.TextStats

/** The traced run's layer chain: a workload's inputs driven through each
  * layer's public functions, one forced boundary (cache + count, or the
  * layer's own action) per layer, each inside a span. Iteration 1 is the
  * base table, 2 the delta fold, 3 the stream, 4 the packages only the
  * oracle query sweep reaches, fed tables in the sweep's own layout.
  */
object Layers {

  val stages: Seq[String] = Seq("sources.read", "extract.segments", "mentions.exact",
    "mentions.scan", "canon.surface_stats", "canon.similarity_edges", "canon.cc",
    "canon.pick", "canon.snapshot", "relations.triples", "materialize.write",
    "canon.merge_stats", "canon.delta_edges", "canon.incr", "streaming.invocation",
    "streaming.recanon", "dedup.exact", "dedup.ngram", "textstats.lang_id", "fuzzy.scan",
    "similarity.lsh_pairs", "linking.link", "multimodal.decode")

  /** Documents of the sweep-only stages: enough for every stage to do
    * real work, few enough that the n-gram self-join over generated text stays near a second. */
  val SweepDocs = 500
  val EmbeddingCount = 2000

  /** Run the chain; returns its counts by metric name. */
  def run(spark: SparkSession, t: Tracer, in: ChainInputs, seed: Long,
      out: String): Map[String, Double] = {
    val gaz = in.gazetteer.map(Workloads.readGazetteer(spark, _)).getOrElse(Gazetteer.all.toArray)
    val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def forced[T](name: String)(ds: => Dataset[T]): Dataset[T] = t.span(name) {
      val d = ds.cache()
      counts(s"$name.rows") += d.count()
      d
    }
    def scan(dir: String) = {
      val pages = forced("sources.read")(Pages.fromParquet(spark, dir))
      val segs = forced("extract.segments")(Extract.segments(pages))
      (segs, forced("mentions.scan")(Mentions.scanWithRecall(segs, gaz)))
    }

    t.iteration = 1
    val (segs, ms) = scan(in.base)
    val found = counts("mentions.scan.rows")
    t.span("mentions.automaton_build")(AhoCorasick(gaz.map(_._1)))
    forced("mentions.exact")(Mentions.scan(segs, gaz))
    val stats = forced("canon.surface_stats")(Canon.surfaceStats(ms))
    val edges = forced("canon.similarity_edges")(Canon.similarityEdges(stats))
    val (comps, rounds) = t.span("canon.cc") {
      val (c, r) = Canon.connectedComponentsWithRounds(stats.select(col("surface")), edges)
      val cc = c.cache()
      cc.count()
      (cc, r)
    }
    val canon = forced("canon.pick")(Canon.canonicalPick(stats, comps)).toDF()
    t.span("canon.snapshot")(Canon.snapshotBounded(canon))
    val triples = forced("relations.triples")(
      Relations.cooccurrence(ms).unionByName(Relations.mentionedIn(ms, canon)))
    t.span("materialize.write")(Materialize.writeTriples(triples, s"$out/sink",
      bucketOf = Materialize.hashBucketCol))

    t.iteration = 2
    val (_, dms) = scan(in.delta)
    val merged = forced("canon.merge_stats")(
      Canon.mergeStats(stats, Canon.surfaceStats(dms))).toDF()
    val fresh = merged.join(stats.select(col("surface")), Seq("surface"), "left_anti")
      .select(col("surface"))
    forced("canon.delta_edges")(Canon.deltaEdges(merged, fresh))
    val incr = t.span("canon.incr") {
      val r = Canon.canonicalMapIncremental(Canon.CanonState(stats, canon), dms)
      r.state.canonMap.cache().count()
      r
    }

    t.iteration = 3
    val feed = Files.createDirectories(Paths.get(s"$out/feed"))
    val files = Workloads.dataFiles(in.feed).sortBy(_.getFileName.toString)
    val (stream, ckpt) = (s"$out/stream", s"$out/ckpt")
    // First half raw (no alias table yet), second half under the base map.
    Seq(files.take(files.size / 2) -> Canon.AliasNone,
        files.drop(files.size / 2) -> Canon.snapshotBounded(canon)).foreach { case (fs, alias) =>
      fs.foreach(f => Files.copy(f, feed.resolve(f.getFileName)))
      t.span("streaming.invocation")(Streaming.startTriplesStreamMaterialized(spark,
        feed.toString, stream, ckpt, gaz, alias, 1, 16, Trigger.AvailableNow(),
        Materialize.hashBucketCol).awaitTermination())
    }
    val report = t.span("streaming.recanon")(Recanon.recanonicalize(spark, stream, canon))

    t.iteration = 4
    val sf = s"$out/sf"
    writeSweepTables(spark, in.base, seed, sf)
    forced("dedup.exact")(Dedup.exact(Dedup.corpus(spark, sf)))
    forced("dedup.ngram")(Dedup.ngramJaccard(Dedup.corpus(spark, sf)))
    forced("textstats.lang_id")(TextStats.langId(TextStats.documents(spark, sf)))
    forced("fuzzy.scan")(Fuzzy.scan(segs, gaz))
    forced("similarity.lsh_pairs")(Ann.lshPairs(Ann.embeddings(spark, sf)))
    forced("linking.link")(Linking.link(ms.toDF(), spark, sf))
    forced("multimodal.decode")(Multimodal.decode(Multimodal.media(spark, sf)))

    val batches = Workloads.dataFiles(s"$stream/triples")
      .flatMap(p => Option(p.getParent.getParent).map(_.getFileName.toString))
      .filter(_.startsWith("batch_id=")).distinct.size
    val batchNanos = spark.read.parquet(s"$stream/_metrics/*").select(col("nanos"))
      .collect().map(_.getLong(0)).filter(_ > 0)
    val sidecars = Seq("_lineage", "_metrics", "_alias")
      .map(d => Workloads.dataFiles(s"$stream/$d").size).sum
    spark.catalog.clearCache()

    counts.toMap ++ Map(
      "mentions.recall_share" ->
        (if (found == 0) 0.0 else 1.0 - counts("mentions.exact.rows") / found),
      "canon.cc.rounds" -> rounds.toDouble,
      "canon.incr.fell_back" -> (if (incr.fellBack) 1.0 else 0.0),
      "materialize.write.files" -> Workloads.dataFiles(s"$out/sink/triples").size.toDouble,
      "streaming.batches" -> batches.toDouble,
      "streaming.batch_p50_s" ->
        (if (batchNanos.isEmpty) 0.0 else Stats.median(batchNanos.map(_ / 1e9).toSeq)),
      "streaming.sidecar_files" -> sidecars.toDouble,
      "streaming.recanon.rewrite_ratio" ->
        report.batchesRewritten.size.toDouble / math.max(1, batches))
  }

  /** `documents.parquet` (the first [[SweepDocs]] pages of `pagesDir`, doc ids
    * hashed from urls) and `embeddings.parquet` ([[EmbeddingCount]] seeded
    * vectors around a few hundred centres, so near neighbours exist). */
  private def writeSweepTables(spark: SparkSession, pagesDir: String, seed: Long,
      dir: String): Unit = {
    import spark.implicits._
    Pages.fromParquet(spark, pagesDir).limit(SweepDocs).toDF()
      .select(pmod(xxhash64(col("url")), lit(1000000000L)).as("doc_id"), col("text"),
        col("lang"), lit("web").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rng = new java.util.SplittableRandom(seed + 17)
    val centres = Array.fill(EmbeddingCount / 10)(Array.fill(Ann.Dim)(rng.nextDouble() * 2 - 1))
    val vectors = (0 until EmbeddingCount).map { i =>
      val c = centres(rng.nextInt(centres.length))
      (i.toLong, c.map(x => (x + rng.nextDouble() * 0.02 - 0.01).toFloat), i % 10)
    }
    vectors.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
