package graft.sources

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.model.{Gazetteer, Page}
import graft.functions.Text

/** Deterministic synthesis of the engine input table
  * `pages(url, warc_ts, html:binary, text, lang)` (BASELINE.json input_hint)
  * from the driver-generated `documents.parquet` corpus (TESTDATA.md).
  *
  * Every derivation is integer/string arithmetic reproducible in DuckDB SQL
  * (see SparkEntry.oracleSql) — no wall-clock, no RNG. Domains are skew-
  * bucketed (head domain owns ~50% of pages) to exercise salting/AQE at the
  * groupBy/join frontiers, mirroring Common-Crawl head-domain skew.
  *
  * Entity plants follow the reference's corpus shape (legal text naming
  * persons, orgs, GPEs, provisions, laws — src/create_reference_data.py:16-32)
  * with invented surfaces from [[Gazetteer]].
  */
object Pages {

  /** 2025-01-01T00:00:00Z in epoch millis. */
  val EpochMs = 1735689600000L

  /** Zipf-ish domain bucketing: t = (doc_id * 48271) % 1000 against fixed
    * thresholds → ~50/25/12.5/…% of pages per domain. 48271 is the classic
    * MINSTD multiplier (public Lehmer RNG constant).
    */
  def domainOf(docId: Long): Int = {
    val t = (docId * 48271L) % 1000L
    if (t < 500) 0 else if (t < 750) 1 else if (t < 875) 2
    else if (t < 930) 3 else if (t < 960) 4 else if (t < 975) 5
    else if (t < 985) 6 else if (t < 991) 7 else if (t < 996) 8 else 9
  }

  def urlOf(docId: Long): String =
    s"https://site${domainOf(docId)}.example.org/doc/$docId"

  /** Number of planted entity sentences per doc: 1..3. */
  def nPlanted(docId: Long): Int = (docId % 3).toInt + 1

  def personIdx(docId: Long, j: Int): Int = ((docId * 7 + j * 13) % Gazetteer.persons.length).toInt
  def orgIdx(docId: Long, j: Int): Int = ((docId * 13 + j * 29) % Gazetteer.orgs.length).toInt
  def gpeIdx(docId: Long, j: Int): Int = ((docId * 11 + j * 17) % Gazetteer.gpes.length).toInt
  def provIdx(docId: Long, j: Int): Int = ((docId * 3 + j * 23) % Gazetteer.provisions.length).toInt
  def lawIdx(docId: Long, j: Int): Int = ((docId * 5 + j * 19) % Gazetteer.laws.length).toInt

  /** One planted sentence; single-spaced so page text stays ws-normalized. */
  def plantedSentence(docId: Long, j: Int): String = {
    val p = Gazetteer.persons(personIdx(docId, j))
    val o = Gazetteer.orgs(orgIdx(docId, j))
    val g = Gazetteer.gpes(gpeIdx(docId, j))
    val pr = Gazetteer.provisions(provIdx(docId, j))
    val l = Gazetteer.laws(lawIdx(docId, j))
    s"$p representing $o of $g cited $pr of $l."
  }

  def plantedSentences(docId: Long): Vector[String] =
    (0 until nPlanted(docId)).map(plantedSentence(docId, _)).toVector

  /** Ground-truth page text: normalized base doc text + planted sentences,
    * single-space joined. This is the byte-identity target of the HTML
    * extractor (input_hint per-row invariant).
    */
  def pageText(docId: Long, rawDocText: String): String =
    (Text.normWs(rawDocText) +: plantedSentences(docId)).mkString(" ")

  /** Greedy word-boundary chunking of the base text into <p>-sized segments.
    * Joining chunks with a single space restores the input exactly.
    */
  def chunk(base: String, maxLen: Int = 160): Vector[String] = {
    if (base.isEmpty) return Vector.empty
    val words = base.split(' ')
    val out = Vector.newBuilder[String]
    val sb = new java.lang.StringBuilder
    words.foreach { w =>
      if (sb.length == 0) sb.append(w)
      else if (sb.length + 1 + w.length <= maxLen) { sb.append(' '); sb.append(w) }
      else { out += sb.toString; sb.setLength(0); sb.append(w) }
    }
    if (sb.length > 0) out += sb.toString
    out.result()
  }

  /** Deterministic HTML wrapping: one <p> per base chunk + one <p> per
    * planted sentence (FIXTURES.md §1).
    */
  def htmlOf(docId: Long, rawDocText: String): String = {
    val ps = (chunk(Text.normWs(rawDocText)) ++ plantedSentences(docId))
      .map(c => s"<p>$c</p>").mkString
    s"<html><head><title>Doc $docId</title></head><body>$ps</body></html>"
  }

  def pageOf(docId: Long, rawDocText: String, lang: String): Page = Page(
    url = urlOf(docId),
    warc_ts = new java.sql.Timestamp(EpochMs + docId * 1000L),
    html = htmlOf(docId, rawDocText).getBytes(java.nio.charset.StandardCharsets.UTF_8),
    text = pageText(docId, rawDocText),
    lang = lang
  )

  /** A production page table (the BASELINE input_hint shape: url, warc_ts,
    * html, text, lang) read straight from parquet — the [[graft.Submit]]
    * input path. The read declares [[Page]]'s schema (the one the stream
    * source declares), so no job infers it from the footers and extra
    * columns in a wider table are never read. A missing column reads as
    * nulls; the pages → segments stages reject a null url or html
    * ([[graft.extract.Extract.pageHtml]]).
    */
  def fromParquet(spark: SparkSession, path: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.schema(Encoders.product[Page].schema).parquet(path).as[Page]
  }

  /** Distributed synthesis: documents parquet → Dataset[Page]. Narrow map,
    * no shuffle; scales with input partitions.
    */
  def synthesize(spark: SparkSession, sfDir: String): Dataset[Page] = {
    import spark.implicits._
    // page synthesis (and everything narrow downstream of it: HTML parse,
    // mention scan) runs in the scan stage — spread a single-split source
    // over the cores (guide §2.5; the amplified bench path repartitions for
    // the same reason)
    graft.util.Reads.spread(spark,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text", "lang"))
      .as[(Long, String, String)]
      .map { case (id, text, lang) => pageOf(id, text, lang) }
  }

  /** Amplified synthesis for benchmarking: `factor` deterministic copies per
    * base document, each with a distinct derived doc id (shifts the plant /
    * domain arithmetic, so copies are distinct pages, not duplicates). The
    * flatMap stays narrow; `repartition` spreads the amplified rows across
    * the session's cores so parallelism actually engages.
    */
  def synthesizeAmplified(spark: SparkSession, sfDir: String, factor: Int): Dataset[Page] = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)]
      .repartition(parts)
      .flatMap { case (id, text, lang) =>
        (0 until factor).iterator.map(c => pageOf(id + c.toLong * 10000000L, text, lang))
      }
  }
}
