package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.canon.Canon
import graft.dedup.Dedup
import graft.mentions.Mentions
import graft.multimodal.Multimodal
import graft.relations.Relations
import graft.similarity.Ann
import graft.streaming.Streaming
import graft.textstats.TextStats
import graft.verify.{Oracle, OracleOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is a deterministic DataFrame over the sfDir parquet
  * tables; the paired `oracleSql` is DuckDB SQL over the same tables
  * (generated from shared constants in [[graft.verify.Oracle]]). Aggregate /
  * computed columns are aliased identically on both sides (driver compare
  * sorts columns by name).
  */
object SparkEntry {

  /** Flagship: full pages→triples pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.triples(spark, "/root/testdata/sf0.001").toDF()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- baseline relational ops over driver tables ---------------------
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // --- KG pipeline stages (pages synthesized from documents) ----------
    "q_pages" -> ((s, dir) => {
      // F2 rider: the extractor's empty-text skip is a hard invariant of
      // the derived segment table — no empty/whitespace-only segment may
      // survive extraction (the reference's skip-empty guard).
      val nEmpty = Pipeline.segments(s, dir).toDF()
        .filter(length(trim(col("text"))) === 0).count()
      require(nEmpty == 0, s"F2 empty-text skip violated by $nEmpty segments")
      Pipeline.pages(s, dir).toDF()
        .select(col("url"), col("lang"), length(col("text")).cast("long").as("text_len"))
    }),
    "q_mentions" -> ((s, dir) => {
      val ms = Pipeline.mentionsCached(s, dir).toDF()
      // F5 rider (like A11 rides q_lineage): every mention's offsets must
      // lie inside its segment and its slice must agree with its surface —
      // the two provenance surfaces (span coordinates vs surface string)
      // can never drift. The drift predicate (Mentions.provenanceViolation)
      // accepts both legitimate score-1.0 shapes — verbatim automaton
      // slices and word-aligned tokenKey-equal fuzzy variants — while
      // catching drift into word chars (tokenKey mismatch) AND into
      // adjacent punctuation/whitespace (boundary misalignment).
      val bad = ms.join(Pipeline.segments(s, dir).toDF(), Seq("url", "page", "seg_no"))
        .filter(Mentions.provenanceViolation(
          col("text"), col("start"), col("end"), col("surface"), col("score")))
        .count()
      require(bad == 0, s"F5 containment violated by $bad mention spans")
      ms.groupBy(col("url"), col("surface"), col("label"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_entity_rollup" -> ((s, dir) => {
      Pipeline.mentionsCached(s, dir).toDF()
        .groupBy(col("surface"), col("label"))
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("url")).as("n_urls"))
    }),
    "q_canon" -> ((s, dir) => {
      Pipeline.canonCached(s, dir)
    }),
    // S9: mention context snippets (±Config.ContextChars around each span,
    // the reference's console report payload, OllamaNERExtractor.py:53-87)
    "q_mention_context" -> ((s, dir) => {
      val c = graft.model.Config.ContextChars
      Pipeline.mentionsCached(s, dir).toDF()
        .join(Pipeline.segments(s, dir).toDF(), Seq("url", "page", "seg_no"))
        .select(col("url"), col("surface"), col("label"),
          col("start").cast("long").as("pos"),
          expr(s"substring(text, greatest(1, start + 1 - $c), " +
            s"least(`end` + $c, length(text)) - greatest(0, start - $c))").as("context"))
    }),
    // C1/C2 incremental refresh: split the corpus deterministically into an
    // initial ingest (even url hash) and a delta batch (odd), run the full
    // canon job on the initial half, fold the delta in with
    // Canon.canonicalMapIncremental, and hand the ORACLE the full-corpus
    // canon SQL — the engine's exactness theorem (incremental == full when
    // no token crosses the stop-token cap) is what the hash check verifies.
    // The require pins that the INCREMENTAL path (not its full-job
    // fallback) produced the row — the fallback branch is spec-covered with
    // a lowered cap (CanonSpec).
    "q_canon_incr" -> ((s, dir) => {
      val ms = Pipeline.mentionsCached(s, dir)
      val half = pmod(xxhash64(col("url")), lit(2))
      val st = Canon.canonicalState(ms.filter(half === 0))
      val refreshed = Canon.canonicalMapIncremental(st, ms.filter(half === 1))
      require(!refreshed.fellBack,
        "incremental canon fell back to the full job on this corpus — " +
          "a token block crossed MaxTokenBlock between the halves")
      refreshed.state.canonMap
    }),
    // C8/A3/A10: canonical-keyed rollup with alias sets under oracle
    "q_entity_aliases" -> ((s, dir) => {
      graft.aggregate.Entities.canonicalRollup(
          Pipeline.mentionsCached(s, dir), Pipeline.canonCached(s, dir))
        .select(col("canonical"), col("label"), col("n_mentions"), col("n_urls"),
          array_join(col("aliases"), "|").as("aliases"))
    }),
    // C7: linked/isolated surface partition under oracle
    "q_linked_partition" -> ((s, dir) => {
      val stats = Canon.surfaceStats(Pipeline.mentionsCached(s, dir))
      Canon.linkedPartition(stats.select(col("surface")), Canon.similarityEdges(stats))
        .select(col("surface"), col("linked").cast("long").as("linked"))
    }),
    // A1 provenance payload under oracle: the occurrences array<struct>
    // exploded back to positioned rows (not just its counts)
    "q_entity_occ" -> ((s, dir) => {
      graft.aggregate.Entities.rollup(Pipeline.mentionsCached(s, dir))
        .select(col("surface"), col("label"), explode(col("occurrences")).as("o"))
        .select(col("surface"), col("label"), col("o.url").as("url"),
          col("o.start").cast("long").as("pos"), col("o.end").cast("long").as("pos_end"))
    }),
    "q_triples" -> ((s, dir) => {
      // the production composition (Pipeline.triples), co-occurrence leg:
      // identical triples to Relations.cooccurrence
      Pipeline.triples(s, dir).toDF()
        .filter(col("pred") =!= Relations.ProvPred)
        .groupBy(col("subj"), col("pred"), col("obj"), col("url"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_pattern_triples" -> ((s, dir) => {
      Relations.patternTriples(
          Pipeline.segments(s, dir), Pipeline.mentionsCached(s, dir)).toDF()
        .groupBy(col("subj"), col("pred"), col("obj"), col("url"))
        .agg(count(lit(1)).as("n"))
    }),
    "q_entity_prov" -> ((s, dir) => {
      val ms = Pipeline.mentionsCached(s, dir)
      Relations.mentionedIn(ms, Pipeline.canonCached(s, dir)).toDF()
        .select(col("subj"), col("pred"), col("obj"), col("url"))
    }),

    // --- canonicalization heuristics + evaluation -------------------------
    // distributed star-round CC path (vertex-subset edge filter; the RDD
    // loop with a broadcast m table at this size), forced past the
    // driver-local fast path — C1 at its scale shape
    "q_cc_dist" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
      val v = docs.select(format_string("v%07d", col("doc_id")).as("surface"))
      val e = docs.filter(col("doc_id") % 5 =!= 0)
        .select(format_string("v%07d", col("doc_id")).as("a"),
          format_string("v%07d", col("doc_id") - 1).as("b"))
        .unionByName(docs.filter(col("doc_id") % 35 === 0 && col("doc_id") > 0)
          .select(format_string("v%07d", col("doc_id")).as("a"),
            format_string("v%07d", col("doc_id") - 5).as("b")))
      Canon.connectedComponents(v, e, localThreshold = 0L)
        .groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    }),
    "q_canon_subset" -> ((s, dir) => {
      Canon.subsetEdges(Canon.surfaceStats(Pipeline.mentionsCached(s, dir)))
    }),
    "q_canon_minhash" -> ((s, dir) => {
      Canon.minhashEdges(Canon.surfaceStats(Pipeline.mentionsCached(s, dir)))
    }),
    "q_canon_abbrev" -> ((s, dir) => {
      import graft.model.Gazetteer
      Canon.abbrevEdges(
        Canon.surfaceDim(s, Gazetteer.persons ++ Gazetteer.abbrevPersons))
    }),
    "q_eval_pairs" -> ((s, dir) => {
      import graft.model.Gazetteer
      import s.implicits._
      val canon = Pipeline.canonCached(s, dir)
      val golden = Gazetteer.goldenAliasGroups.toDF("group_id", "surface")
      Canon.pairEval(canon, golden)
    }),
    "q_normalize" -> ((s, dir) => {
      Pipeline.mentionsCached(s, dir).toDF()
        .filter(col("label") === "PERSON").select(col("surface")).distinct()
        .select(col("surface"),
          // Python str.title() byte parity (P2); == the oracle's per-space-
          // word expression on this corpus (no apostrophes/hyphens/digits in
          // person surfaces — the divergent edges are spec-tested, TextSpec)
          graft.functions.expressions.pyTitle(col("surface")).as("title_case"),
          graft.functions.expressions.simkey(col("surface")).as("folded"),
          regexp_replace(col("surface"), "[^a-zA-Z0-9 ]", "").as("depunct"),
          array_join(array_sort(split(lower(col("surface")), " ")), " ").as("word_bag"))
    }),

    // --- windows / sort / limit over driver tables ------------------------
    "q_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          row_number().over(w).cast("long").as("rn"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, -1)).as("n_prior"))
    }),
    "q_topk_entities" -> ((s, dir) => {
      Pipeline.mentionsCached(s, dir).toDF()
        .groupBy(col("surface")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("surface"))
        .limit(10)
    }),
    // P7/J2: tokenizer with character positions over the normalized
    // document text — typed flatMap of the same Text.tokensWithPos the
    // fuzzy matchers align spans with. Plant safety is `require`d first:
    // the DuckDB twin (Oracle.qTokens) re-derives positions from
    // space-split arithmetic, which equals \w+-run tokenization only on
    // [a-z ]-only corpora.
    "q_tokens" -> ((s, dir) => {
      import s.implicits._
      graft.verify.CorpusAsserts.assertPlantSafe(s, dir)
      // NOT spread (graft.util.Reads.spread): one cheap narrow pass, which
      // the spread's exchange slows down (sf0.1, local[4]: 0.33 → 0.26 s)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.functions.Text.tokensWithPos(graft.functions.Text.normWs(t))
            .map { case (tok, st, en) => (id, tok, st.toLong, en.toLong) }
        }
        .toDF("doc_id", "token", "pos", "pos_end")
    }),
    "q_sentences" -> ((s, dir) => {
      Pipeline.pages(s, dir).toDF()
        .select(col("url"),
          size(split(col("text"), "(?<=[.!?])\\s+")).cast("long").as("n_sentences"))
    }),

    // --- skew: salted two-phase agg over the head-domain key --------------
    "q_domain_stats" -> ((s, dir) => {
      graft.skew.Skew.domainStats(Pipeline.pages(s, dir).toDF())
    }),

    // --- entity linking (prior + context cosine) --------------------------
    "q_linking" -> ((s, dir) => {
      graft.linking.Linking.link(Pipeline.mentionsCached(s, dir).toDF(), s, dir)
    }),
    "q_linking_best" -> ((s, dir) => {
      graft.linking.Linking.linkBest(Pipeline.mentionsCached(s, dir).toDF(), s, dir)
    }),

    // --- NL date parsing round-trip (P11) — all-codegen column grammar ----
    "q_dates" -> ((s, dir) => {
      import graft.functions.Dates
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          Dates.parseCol(Dates.renderCol(
            year(col("ts")), month(col("ts")), dayofmonth(col("ts")),
            pmod(col("event_id"), lit(4)).cast("int")))
            .cast("string").as("parsed_date"))
    }),

    // --- in-text date-mention scan with char offsets (search_dates form) --
    "q_date_mentions" -> ((s, dir) => {
      import graft.functions.Dates
      Dates.dateMentions(Dates.dateCorpus(s, dir))
    }),

    // --- fuzzy token-recall pass (J6) over planted case/punct variants ----
    "q_fuzzy" -> ((s, dir) => {
      import graft.model.Gazetteer
      graft.fuzzy.Fuzzy.scan(graft.fuzzy.Fuzzy.fuzzySegments(s, dir),
          Gazetteer.persons.map(_ -> "PERSON").toArray).toDF()
        .select(col("url").cast("long").as("doc_id"), col("surface"),
          col("start").cast("long").as("pos"),
          col("end").cast("long").as("pos_end"),
          round(col("score") * 1000).cast("long").as("score_milli"))
    }),

    // --- O7 ensemble union + cross-extractor overlap resolution -----------
    // exact automaton ∪ token-fuzzy person pass → per-segment totalized
    // leftmost-longest; same-span case-twin ties (g5) resolve to the
    // lexicographically smallest surface (Oracle.qEnsemble mirrors)
    "q_ensemble" -> ((s, dir) => {
      import graft.model.Gazetteer
      graft.verify.CorpusAsserts.assertPlantSafe(s, dir)
      val segs = Pipeline.segments(s, dir)
      val exact = graft.mentions.Mentions.scan(segs, Gazetteer.all.toArray)
      val fuzzy = graft.fuzzy.Fuzzy.scan(segs, Gazetteer.persons.map(_ -> "PERSON").toArray)
      graft.mentions.Mentions.resolveAcrossExtractors(exact.unionByName(fuzzy)).toDF()
        .groupBy(col("url"), col("surface"), col("label"))
        .agg(count(lit(1)).as("n"))
    }),

    // --- M4 GLiNER sliding windows (20/10 + rebase) over long segments ----
    "q_gliner_windows" -> ((s, dir) => {
      import graft.model.Gazetteer
      graft.fuzzy.Fuzzy.scanWindowed(graft.fuzzy.Fuzzy.fuzzySegments(s, dir),
          Gazetteer.persons.map(_ -> "PERSON").toArray).toDF()
        .select(col("url").cast("long").as("doc_id"), col("surface"),
          col("start").cast("long").as("pos"),
          col("end").cast("long").as("pos_end"),
          round(col("score") * 1000).cast("long").as("score_milli"))
    }),

    // --- char-window fuzzy pass (J5) over one-sentence segments -----------
    "q_fuzzy_char" -> ((s, dir) => {
      import graft.model.Gazetteer
      graft.fuzzy.Fuzzy.scanChar(graft.fuzzy.Fuzzy.fuzzyCharSegments(s, dir),
          Gazetteer.persons.map(_ -> "PERSON").toArray).toDF()
        .select(col("url").cast("long").as("doc_id"), col("surface"),
          col("start").cast("long").as("pos"),
          col("end").cast("long").as("pos_end"),
          round(col("score") * 1000).cast("long").as("score_milli"))
    }),

    // --- materialize + lineage (checkpoint-resume surface) ----------------
    "q_lineage" -> ((s, dir) => {
      import graft.materialize.Materialize
      // fresh scratch dir per invocation, torn down by TempDirs' single
      // JVM-exit hook — the one cleanup discipline every scratch path uses
      val out = graft.util.TempDirs.scratch("graft-q-lineage").toString
      // cache across the two write calls: the resume check below re-derives
      // pending work (that's the semantics), but need not re-run the whole
      // triple pipeline for it
      val triples = Pipeline.triples(s, dir).cache()
      try {
        // A11 rider: the write is instrumented with per-partition metric
        // rows; their rows_out total must equal the lineage row total (the
        // two provenance surfaces can never drift).
        val acc = Materialize.newMetricsAcc(s, "q_lineage_metrics")
        Materialize.writeTriples(
          Materialize.instrumented(triples, "write0", acc), out, nBuckets = 16)
        // resume semantics in the wired path: a second invocation sees every
        // bucket in the lineage table and must write NOTHING new
        val second = Materialize.writeTriples(triples, out, nBuckets = 16, batchId = 1)
        require(second.isEmpty, s"resume skip failed: rewrote ${second.size} buckets")
        import scala.jdk.CollectionConverters._
        val metricRows = acc.value.asScala.filter(_.stage == "write0").map(_.rows_out).sum
        val lineageRows = Materialize.readLineage(s, out)
          .agg(coalesce(sum(col("n_rows")), lit(0L))).first().getLong(0)
        require(metricRows == lineageRows,
          s"A11 metric rows ($metricRows) != lineage rows ($lineageRows)")
      } finally triples.unpersist()
      Materialize.readLineage(s, out)
        .groupBy(col("bucket")).agg(sum(col("n_rows")).as("n_rows"))
    }),

    // --- dedup suite (documents ∪ planted dups) --------------------------
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(Dedup.corpus(s, dir))),
    // incremental fold must equal the full job (same oracle by design, as
    // q_canon_incr): index from one content-independent half of the corpus,
    // the other half folded in as a delta; hard rider: the new-docs view
    // (what a pipeline appends) is exactly the folded hashes absent from
    // the index, keeper = doc_id
    "q_dedup_incr" -> ((s, dir) => {
      val corpus = Dedup.corpus(s, dir)
      val half = pmod(hash(col("doc_id")), lit(2))
      val index = Dedup.exact(corpus.filter(half === 0))
      val delta = corpus.filter(half === 1)
      val folded = Dedup.exactIncremental(index, delta)
      val newDocs = Dedup.exactIncrementalNew(index, delta)
      val viaFold = folded.join(index.select(col("h")), Seq("h"), "left_anti")
        .select(col("h"), col("keeper").as("doc_id"))
      // same multiset-equality rider as before, as ONE action: the union of
      // both exceptAll directions is empty iff each direction is
      require(newDocs.exceptAll(viaFold).union(viaFold.exceptAll(newDocs)).isEmpty,
        "incremental new-docs view must be exactly the folded hashes absent from the index")
      folded
    }),
    "q_dedup_ngram" -> ((s, dir) => Dedup.ngramJaccard(Dedup.corpus(s, dir))),
    "q_dedup_minhash" -> ((s, dir) => Dedup.minhashLsh(Dedup.corpus(s, dir))),
    "q_dedup_simhash" -> ((s, dir) => Dedup.simhash(Dedup.corpus(s, dir))),
    // banded Hamming join; oracle is brute all-pairs (pigeonhole ⇒ identical)
    "q_dedup_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(Dedup.corpus(s, dir))),
    "q_dedup_embed" -> ((s, dir) => Dedup.embeddingNearDup(s, dir)),

    // --- similarity search ----------------------------------------------
    "q_ann_topk" -> ((s, dir) => Ann.bruteTopK(Ann.embeddings(s, dir))),
    // scale path driver-verified against the brute all-pairs DuckDB oracle:
    // banding must achieve total recall on this corpus for the hash to
    // match. CORPUS-specific, not structural: SRP banding has a ~0.9%
    // worst-case miss at cos=0.99; valid here because every qualifying pair
    // is a planted near-identical variant — AnnSpec's margin test
    // ("gate validity") fails first if a borderline pair ever appears
    "q_ann_lsh" -> ((s, dir) => Ann.lshPairs(Dedup.embCorpus(s, dir), minCos = 0.99)),
    // the second scale path: IVF-flat. The oracle twin replays the exact
    // algorithm (hash-sampled centroids, nearest-cell assignment, nProbe
    // probing, exact re-rank), so this gates algorithmic determinism
    // end to end; recall properties live in AnnSpec (uniform vs clustered)
    "q_ann_ivf" -> ((s, dir) => Ann.ivfTopK(Ann.embeddings(s, dir))),

    // --- text analysis ---------------------------------------------------
    "q_langid" -> ((s, dir) => TextStats.langId(TextStats.documents(s, dir))),
    "q_quality" -> ((s, dir) => TextStats.quality(TextStats.documents(s, dir))),
    "q_token_count" -> ((s, dir) => TextStats.tokenCounts(TextStats.documents(s, dir))),
    "q_fingerprint" -> ((s, dir) => TextStats.fingerprints(TextStats.documents(s, dir))),

    // --- multimodal metadata (binary column + stub decode) ---------------
    // n_bytes (the real container size) is projected away: deflate output
    // length is not oracle-expressible arithmetic; the planted header
    // metadata is, and hash-matching it proves the encode→parse round trip.
    "q_media_meta" -> ((s, dir) => Multimodal.decode(Multimodal.media(s, dir))
      .toDF().select("doc_id", "kind", "width", "height", "frames")),
    // frame sampler: every 7th frame index of each video container, where
    // the frame count comes from the parsed GIF header (not the plant).
    // kind = video BEFORE the encode stage: the sampler discards the other
    // two kinds, so encoding their PNG/WAV payloads would be pure waste.
    "q_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.decode(
        Multimodal.media(s, dir, kind = Some("video"))))),

    // --- events: windowed agg + sessionization ---------------------------
    "q_events_window" -> ((s, dir) =>
      Streaming.windowedAggBatch(s.read.parquet(s"$dir/events.parquet"))),
    "q_sessions" -> ((s, dir) =>
      Streaming.sessionizeBatch(s.read.parquet(s"$dir/events.parquet"))),

    // The flagship run INCREMENTALLY: pages staged as a multi-file parquet
    // feed, drained by a real Structured Streaming query (AvailableNow,
    // maxFilesPerTrigger=1 → one micro-batch per file) into the MATERIALIZED
    // sink — a bucket-partitioned table plus per-micro-batch lineage and
    // metric sidecars (north rule: lineage + metrics + checkpoint resume on
    // the streaming path too); the canonical alias snapshot comes from the
    // periodic batch job, as a production lambda split would. The oracle is
    // the batch flagship's cooccurrence ∪ provenance arithmetic — the stream
    // must reproduce it exactly — and the lineage/metric sidecars are hard
    // riders: their row totals must equal the materialized table's count
    // (same A11 discipline as q_lineage) or the query throws.
    "q_stream_triples" -> ((s, dir) => {
      val tmp = graft.util.TempDirs.scratch("graft-stream-flagship")
      val in = s"$tmp/pages"; val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      Pipeline.pages(s, dir).repartition(4).write.parquet(in)
      // snapshotBounded: the production gate — resolves to the closure-map
      // shape at this dimension; past Canon.SnapshotMaxRows it would keep
      // the DataFrame and the sink would join (same output either way,
      // StreamingSpec pins the equivalence on a forced join branch).
      val canon = graft.canon.Canon.snapshotBounded(Pipeline.canonCached(s, dir))
      graft.streaming.Streaming.runTriplesStreamMaterialized(s, in, out, ckpt,
        graft.model.Gazetteer.all.toArray, canon, maxFilesPerTrigger = 1,
        nBuckets = 16)
      // Guard the table read like the sidecars: a drain that commits zero
      // batches (or only empty ones) leaves the dir missing, and parquet
      // schema inference would throw — fall back to an empty triple table
      // so the all-empty case compares 0 = 0 end to end.
      val table =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/triples"))) {
          import s.implicits._
          s.read.parquet(s"$out/triples").select(
            col("subj"), col("pred"), col("obj"), col("url"), col("score"))
        } else {
          import s.implicits._
          s.emptyDataset[graft.model.Triple].toDF()
        }
      val nTable = table.count()
      // _metrics exists for every committed batch; _lineage only for batches
      // that wrote rows (both null-safe, so an all-empty drain compares 0=0).
      val nLineage =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/_lineage")))
          s.read.parquet(s"$out/_lineage/*")
            .agg(coalesce(sum(col("n_rows")), lit(0L))).head.getLong(0)
        else 0L
      val nMetrics =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/_metrics")))
          s.read.parquet(s"$out/_metrics/*")
            .agg(coalesce(sum(col("rows_out")), lit(0L))).head.getLong(0)
        else 0L
      require(nLineage == nTable && nMetrics == nTable,
        s"stream sidecar drift: table=$nTable lineage=$nLineage metrics=$nMetrics")
      table.groupBy(col("subj"), col("pred"), col("obj"), col("url"))
        .agg(count(lit(1)).as("n"))
    }),

    // The lambda split's missing half, oracle-gated: drain the feed with a
    // DELIBERATELY STALE alias snapshot (the identity map — the shape of a
    // sink materialized before the periodic canon job ever ran), then
    // compact with the fresh canonical map (Recanon.recanonicalize). The
    // compacted table must hash-match the batch flagship's triples (same
    // oracle as q_stream_triples); hard riders: at least one batch was
    // rewritten, a second compaction under the same map is the zero-rewrite
    // fast path, and the refreshed lineage/metric sidecars still equal the
    // table count exactly.
    "q_stream_recanon" -> ((s, dir) => {
      import graft.streaming.Recanon
      val tmp = graft.util.TempDirs.scratch("graft-stream-recanon")
      val in = s"$tmp/pages"; val out = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      Pipeline.pages(s, dir).repartition(4).write.parquet(in)
      val canonDf = Pipeline.canonCached(s, dir)
      val staleSnapshot = graft.canon.Canon.snapshot(canonDf)
        .keysIterator.map(k => k -> k).toMap
      graft.streaming.Streaming.runTriplesStreamMaterialized(s, in, out, ckpt,
        graft.model.Gazetteer.all.toArray, graft.canon.Canon.AliasMap(staleSnapshot))
      val report = Recanon.recanonicalize(s, out, canonDf)
      require(report.batchesRewritten.nonEmpty,
        "stale drain must trigger at least one batch rewrite")
      val again = Recanon.recanonicalize(s, out, canonDf)
      require(again.batchesRewritten.isEmpty,
        s"re-compaction must be the fast path, rewrote ${again.batchesRewritten}")
      val table = s.read.parquet(s"$out/triples")
      val nTable = table.count()
      val nLineage = s.read.parquet(s"$out/_lineage/*")
        .agg(coalesce(sum(col("n_rows")), lit(0L))).head.getLong(0)
      val nMetrics = s.read.parquet(s"$out/_metrics/*")
        .agg(coalesce(sum(col("rows_out")), lit(0L))).head.getLong(0)
      require(nLineage == nTable && nMetrics == nTable,
        s"post-compaction sidecar drift: table=$nTable lineage=$nLineage metrics=$nMetrics")
      table.groupBy(col("subj"), col("pred"), col("obj"), col("url"))
        .agg(count(lit(1)).as("n"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "count(*) AS n_rows FROM lineitem GROUP BY 1, 2"),
    "q_pages" -> Oracle.qPages,
    "q_mentions" -> Oracle.qMentions,
    "q_entity_rollup" -> Oracle.qEntityRollup,
    "q_entity_occ" -> Oracle.qEntityOcc,
    "q_mention_context" -> Oracle.qMentionContext,
    "q_entity_aliases" -> Oracle.qEntityAliases,
    "q_linked_partition" -> Oracle.qLinkedPartition,
    "q_canon" -> Oracle.qCanon,
    // incremental refresh must equal the full job — same oracle by design
    "q_canon_incr" -> Oracle.qCanon,
    "q_triples" -> Oracle.qTriples,
    "q_entity_prov" -> Oracle.qEntityProv,
    "q_cc_dist" -> Oracle.qCcDist,
    "q_canon_subset" -> Oracle.qCanonSubset,
    "q_canon_minhash" -> Oracle.qCanonMinhash,
    "q_canon_abbrev" -> Oracle.qCanonAbbrev,
    "q_eval_pairs" -> Oracle.qEvalPairs,
    "q_normalize" -> Oracle.qNormalize,
    "q_window_running" -> Oracle.qWindowRunning,
    "q_topk_entities" -> Oracle.qTopkEntities,
    "q_sentences" -> Oracle.qSentences,
    "q_tokens" -> Oracle.qTokens,
    "q_linking" -> Oracle.qLinking,
    "q_linking_best" -> Oracle.qLinkingBest,
    "q_pattern_triples" -> Oracle.qPatternTriples,
    "q_dates" -> Oracle.qDates,
    "q_date_mentions" -> Oracle.qDateMentions,
    "q_fuzzy" -> Oracle.qFuzzy,
    "q_fuzzy_char" -> Oracle.qFuzzyChar,
    "q_ensemble" -> Oracle.qEnsemble,
    "q_gliner_windows" -> Oracle.qGlinerWindows,
    "q_domain_stats" -> Oracle.qDomainStats,
    "q_lineage" -> Oracle.qLineage,
    "q_dedup_exact" -> OracleOps.qDedupExact,
    // incremental fold must equal the full exact dedup — same oracle by design
    "q_dedup_incr" -> OracleOps.qDedupExact,
    "q_dedup_ngram" -> OracleOps.qDedupNgram,
    "q_dedup_minhash" -> OracleOps.qDedupMinhash,
    "q_dedup_simhash" -> OracleOps.qDedupSimhash,
    "q_dedup_simhash_pairs" -> OracleOps.qDedupSimhashPairs,
    "q_dedup_embed" -> OracleOps.qDedupEmbed,
    "q_ann_topk" -> OracleOps.qAnnTopk,
    "q_ann_lsh" -> OracleOps.qDedupEmbed,
    "q_ann_ivf" -> OracleOps.qAnnIvf,
    "q_langid" -> OracleOps.qLangid,
    "q_quality" -> OracleOps.qQuality,
    "q_token_count" -> OracleOps.qTokenCount,
    "q_fingerprint" -> OracleOps.qFingerprint,
    "q_media_meta" -> OracleOps.qMediaMeta,
    "q_media_frames" -> OracleOps.qMediaFrames,
    "q_events_window" -> OracleOps.qEventsWindow,
    "q_sessions" -> OracleOps.qSessions,
    "q_stream_triples" -> Oracle.qStreamTriples,
    // Same oracle as q_stream_triples: after compaction the stale-drained
    // sink must equal the batch flagship's triples exactly.
    "q_stream_recanon" -> Oracle.qStreamTriples
  )
}
