package graft.relations

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{Mention, Segment, Triple}

/** Relation extraction: per-segment label co-occurrence pairing — the Spark
  * form of the reference's proto-triple emission (cardinal × law per segment,
  * src/create_reference_data.py:16-32) generalized to the label pairs this
  * corpus plants.
  */
object Relations {

  /** (subject label, predicate, object label) co-occurrence rules. */
  val rules: Seq[(String, String, String)] = Seq(
    ("PERSON", "cites", "LAW"),
    ("PERSON", "member_of", "ORG"),
    ("PROVISION", "part_of", "LAW")
  )

  /** Segment-level co-occurrence triples. Mentions arrive grouped per
    * segment from the scan stage; the grouping shuffle keys on
    * (url, page, seg_no) — high-cardinality keys, so no hot partitions even
    * with head-domain skew (a domain's pages split across many segments).
    * Pairing is list-local inside each group (SURVEY §2.4 J11: intra-row
    * cross product).
    */
  def cooccurrence(mentions: Dataset[Mention]): Dataset[Triple] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    // Pure DataFrame formulation — one hash-agg shuffle of UnsafeRows plus
    // ONE native pairing expression ([[CoocPairs]]). (A typed
    // groupByKey/flatMapGroups version was measurably allocation-bound at
    // 32 cores: every row deserialized to a Mention object. The prior
    // explode(rules) + filter/transform/flatten HOF chain evaluated
    // interpreted — higher-order functions are CodegenFallback — and
    // tripled the post-aggregate rows before filtering.)
    val perSeg = mentions.toDF()
      .groupBy(col("url"), col("page"), col("seg_no"))
      .agg(collect_set(struct(col("label"), col("surface"))).as("ms"))
    val ruleArr: Array[Array[String]] =
      rules.map { case (sl, p, ol) => Array(sl, p, ol) }.toArray
    val pairs = org.apache.spark.sql.graft.Bridge.column(
      CoocPairs(org.apache.spark.sql.graft.Bridge.expression(col("ms")), ruleArr))
    perSeg
      .select(col("url"), explode(pairs).as("t"))
      .select(col("t.subj").as("subj"), col("t.pred").as("pred"),
        col("t.obj").as("obj"), col("url"), lit(1.0).as("score"))
      .as[Triple]
  }

  /** List-local form of [[cooccurrence]] for ONE segment's mentions: the
    * same distinct-(label, surface) → per-rule subjects × objects pairing,
    * but computed group-locally with no shuffle. Used by the streaming
    * flagship (graft.streaming.Streaming.pageTriples), where a segment's
    * mentions are already in hand inside the per-page stage; StreamingSpec
    * asserts grouped-count equality with the DataFrame form on a real
    * corpus.
    */
  def coocLocal(ms: Seq[Mention], url: String): List[Triple] = {
    val pairs = ms.iterator.map(m => (m.label, m.surface)).toList.distinct
    rules.iterator.flatMap { case (sl, pred, ol) =>
      val subjs = pairs.collect { case (l, s) if l == sl => s }
      val objs = pairs.collect { case (l, s) if l == ol => s }
      for (s <- subjs; o <- objs) yield Triple(s, pred, o, url, 1.0)
    }.toList
  }

  /** The provenance predicate — never appears in [[rules]], so provenance
    * and co-occurrence triples are distinguishable by pred alone (the
    * streaming sink's deferred rewrite depends on this). */
  val ProvPred = "mentioned_in"

  /** List-local form of [[mentionedIn]] for ONE page's mentions: per-url
    * dedup of the PERSON subjects. Exact because urls are unique per page,
    * so page-local distinct == the batch form's global distinct. With an
    * alias snapshot the subjects are rewritten to canonical (surfaces
    * absent from it are dropped, matching the batch inner join); without
    * one they stay RAW surfaces — the form the flagship emits for the
    * [[graft.canon.Canon.AliasFrame]] and [[graft.canon.Canon.AliasNone]]
    * shapes, so the fused stage never needs a large alias map in its
    * closure ([[rewriteProv]] or a later compaction canonicalizes them).
    */
  def provLocal(ms: Seq[Mention], url: String,
      canon: Option[Map[String, String]]): List[Triple] = {
    val persons = ms.iterator.filter(_.label == "PERSON").map(_.surface)
    canon.fold(persons)(c => persons.flatMap(c.get)).toList.distinct
      .map(s => Triple(s, ProvPred, url, url, 1.0))
  }

  /** Provenance rewrite for the [[graft.canon.Canon.AliasFrame]] shape:
    * raw-surface provenance rows (pred == [[ProvPred]], distinguishable
    * because the predicate never occurs in the co-occurrence [[rules]])
    * equi-join subj → canonical against the alias DataFrame, then dedup —
    * page-local surface-distinct leaves exactly the
    * two-surfaces-one-canonical residue. Over the url-contiguous batch
    * table ([[graft.pipeline.Pipeline.triples]]) that distinct is the
    * global one; in the stream sink urls are unique per feed and a page
    * lands in ONE micro-batch, so batch-level distinct equals it too. No
    * broadcast hint: Catalyst broadcasts the dimension side while it fits,
    * shuffles past that — which is the whole point of this shape.
    */
  def rewriteProv(batch: Dataset[Triple], alias: DataFrame): Dataset[Triple] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val df = batch.toDF()
    val prov = df.filter(col("pred") === ProvPred)
      .join(alias, col("subj") === alias("surface"))
      .select(alias("canonical").as("subj"), col("pred"), col("obj"),
        col("url"), col("score"))
      .distinct()
    df.filter(col("pred") =!= ProvPred).unionByName(prov).as[Triple]
  }

  /** Connector-word → predicate table for pattern extraction. */
  val patternPreds: Map[String, String] = Map(
    "representing" -> "represents",
    "cited" -> "cites",
    "of" -> "of")

  /** OpenIE-style pattern triples (north_star "dependency-pattern triple
    * extraction", deterministic form): for ADJACENT mention pairs within a
    * segment (sorted by start), the connector text between the spans is
    * looked up in [[patternPreds]]; a hit emits (a.surface, pred, b.surface).
    * The reference's analog is the per-segment provision↔law pairing with
    * query matching (src/create_reference_data.py:16-32,
    * src/methods/TransformerReferenceExtractor.py:72-88).
    *
    * Plan: typed cogroup of mentions and segments on the (url, page, seg_no)
    * key — ONE shuffle on a high-cardinality key, pairing is group-local.
    */
  def patternTriples(segments: Dataset[Segment], mentions: Dataset[Mention]): Dataset[Triple] = {
    val spark = segments.sparkSession
    import spark.implicits._
    val preds = patternPreds
    val segByKey = segments.groupByKey(s => (s.url, s.page, s.seg_no))
    val menByKey = mentions.groupByKey(m => (m.url, m.page, m.seg_no))
    menByKey.cogroup(segByKey) { (key, ms, ss) =>
      val text = if (ss.hasNext) Some(ss.next().text) else None
      text match {
        case None => Iterator.empty
        case Some(t) =>
          val sorted = ms.toArray.sortBy(_.start)
          sorted.iterator.zip(sorted.iterator.drop(1)).flatMap { case (a, b) =>
            if (a.end <= b.start && b.start <= t.length) {
              val between = t.substring(a.end, b.start).trim
              preds.get(between).map(p => Triple(a.surface, p, b.surface, key._1, 1.0))
            } else None
          }
      }
    }
  }

  /** ONE fused pass over url-contiguous mentions producing BOTH triple
    * legs with no shuffle: per-segment co-occurrence pairing
    * ([[coocLocal]]) and page-local provenance — the batch twin of the
    * streaming fused stage, over the mention table instead of raw pages.
    * `Some(map)` rewrites provenance subjects through the broadcast alias
    * map ([[provLocal]]), and the output equals [[cooccurrence]] ∪
    * [[mentionedIn]] as a multiset. `None` keeps them RAW surfaces for a
    * [[rewriteProv]] join against an alias DataFrame, or for a later
    * compaction when there is no alias table yet.
    *
    * Contiguity contract: all of a url's mentions are consecutive rows of
    * ONE partition, and within that run each (page, seg_no) segment's rows
    * are consecutive. Then per-segment distinct equals `cooccurrence`'s
    * collect_set and per-url provenance dedup equals `mentionedIn`'s global
    * distinct. The scan stages emit this shape naturally (a page's mentions
    * come from one flatMap element; cache() and deterministic recompute
    * preserve row order) — the grouping a shuffle would establish is
    * already present in the data, the optimizer just cannot see it.
    *
    * Safety: per-partition sets of closed urls and closed segment keys turn
    * an intra-partition violation (e.g. a shuffled or re-sorted mention
    * table) into a LOUD error, never silently wrong triples. A url split
    * ACROSS partitions without an intra-partition repeat is not detectable
    * here, so callers establish contiguity by construction:
    * [[graft.Submit]]'s `batch` clusters its mentions with one exchange on
    * the sink bucket (a function of url) and sorts each partition by (url,
    * page, seg_no), which also merges a re-crawled url's rows into one run;
    * the [[graft.pipeline.Pipeline]] flagship reads the scan output, whose
    * memo re-clusters by url. The one caller is
    * [[graft.pipeline.Pipeline.triples]]; RelationsSpec pins it equal to
    * the reference legs on the live corpus for every alias shape.
    */
  def triplesContiguous(mentions: Dataset[Mention],
      canon: Option[Map[String, String]]): Dataset[Triple] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(canon)
    mentions.mapPartitions { it =>
      val cm = bc.value
      val buf = it.buffered
      val closedUrls = new java.util.HashSet[String]()
      new Iterator[Triple] {
        private var out: Iterator[Triple] = Iterator.empty
        private def advance(): Unit = {
          while (!out.hasNext && buf.hasNext) {
            val url = buf.head.url
            if (!closedUrls.add(url))
              throw new IllegalStateException(
                s"triplesContiguous: url $url reappeared after its run " +
                  "closed — input is not url-contiguous")
            val page = scala.collection.mutable.ListBuffer.empty[Mention]
            val cooc = List.newBuilder[Triple]
            val closedSegs = new java.util.HashSet[(Int, Int)]()
            while (buf.hasNext && buf.head.url == url) {
              val segKey = { val m = buf.head; (m.page, m.seg_no) }
              if (!closedSegs.add(segKey))
                throw new IllegalStateException(
                  s"triplesContiguous: segment $url/$segKey reappeared after " +
                    "its run closed — input is not segment-contiguous")
              val seg = scala.collection.mutable.ListBuffer.empty[Mention]
              while (buf.hasNext && {
                val m = buf.head
                m.url == url && m.page == segKey._1 && m.seg_no == segKey._2
              }) seg += buf.next()
              page ++= seg
              cooc ++= coocLocal(seg.toList, url)
            }
            out = (cooc.result() ++ provLocal(page.toList, url, cm)).iterator
          }
        }
        def hasNext: Boolean = { advance(); out.hasNext }
        def next(): Triple = { advance(); out.next() }
      }
    }
  }

  /** Provenance triples (canonical_entity, mentioned_in, url) — subjects
    * rewritten through the canonicalization alias map (broadcast: the map is
    * dimension-sized) then deduplicated per url.
    */
  def mentionedIn(mentions: Dataset[Mention], canonicalMap: DataFrame): Dataset[Triple] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions.toDF()
      .filter(col("label") === "PERSON")
      .join(broadcast(canonicalMap), "surface")
      .select(col("canonical").as("subj"), lit(ProvPred).as("pred"),
        col("url").as("obj"), col("url"), lit(1.0).as("score"))
      .distinct()
      .as[Triple]
  }
}
