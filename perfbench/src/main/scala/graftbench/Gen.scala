package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Page
import graft.sources.Pages

/** Seeded input generators. Every table is a pure function of the seed and
  * the size arguments: the same seed writes the same rows. The engine only
  * ever sees the written parquet tables.
  */
object Gen {

  private val syllables = Vector("ka", "lo", "mi", "ne", "ra", "su", "ti", "vo",
    "ze", "ba", "de", "fi", "gu", "ho", "ju", "le", "ma", "no", "pi", "re", "sa",
    "to", "vu", "we", "ya", "qo", "xi", "ce")

  private def word(rng: SplittableRandom, nSyl: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nSyl) { sb.append(syllables(rng.nextInt(syllables.size))); i += 1 }
    sb.toString
  }

  private def capitalized(w: String): String =
    w.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + w.substring(1)

  /** Filler prose: `nWords` lowercase syllable words in sentences of 6-14
    * words. Syllable words share no token with the built-in gazetteer, so
    * every entity mention on a generated page is a planted one. */
  def filler(rng: SplittableRandom, nWords: Int): String = {
    val sb = new java.lang.StringBuilder
    var left = nWords
    while (left > 0) {
      val n = math.min(left, 6 + rng.nextInt(9))
      var i = 0
      while (i < n) {
        if (sb.length > 0) sb.append(' ')
        val w = word(rng, 2 + rng.nextInt(3))
        sb.append(if (i == 0) capitalized(w) else w)
        i += 1
      }
      sb.append('.')
      left -= n
    }
    sb.toString
  }

  private val langs = Vector("en", "de", "fr", "es", "nl")

  // ---------------------------------------------------------------------
  // Web pages with planted built-in gazetteer entities (batch_build and
  // stream_ingest). Page bodies come from Pages.pageOf, so the planted
  // sentences follow the engine's own corpus shape.
  // ---------------------------------------------------------------------

  /** Doc ids of file `f`: a seed-drawn base keeps the planted-entity mix
    * seed-dependent; ids never collide across files. */
  def docIds(seed: Long, f: Int, perFile: Int): Seq[Long] = {
    val base = 1000L + new SplittableRandom(seed).nextLong(1000000L)
    val ids = (0 until perFile).map(i => base + f.toLong * perFile + i)
    shuffled(ids, new SplittableRandom(seed * 31 + f))
  }

  private def shuffled[T](xs: Seq[T], rng: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  private def webPage(seed: Long, docId: Long, crawl: Int): Page = {
    val rng = new SplittableRandom(seed ^ (docId * 0x9E3779B97F4A7C15L) ^ crawl)
    val p = Pages.pageOf(docId, filler(rng, 40 + rng.nextInt(80)),
      langs(rng.nextInt(langs.size)))
    if (crawl == 0) p
    else p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + crawl * 86400000L))
  }

  /** `nFiles` parquet files of `perFile` pages each, urls unique, rows of
    * each file in seeded order. */
  def webPages(spark: SparkSession, seed: Long, nFiles: Int, perFile: Int): Dataset[Page] = {
    import spark.implicits._
    spark.sparkContext.parallelize(0 until nFiles, nFiles)
      .flatMap(f => docIds(seed, f, perFile).map(webPage(seed, _, 0)))
      .toDS()
  }

  /** Re-crawls: a seed-drawn share (2-4 %) of the pages of [[webPages]],
    * same url, fresh text and a later `warc_ts`. */
  def recrawls(spark: SparkSession, seed: Long, nFiles: Int, perFile: Int): Dataset[Page] = {
    import spark.implicits._
    val rng = new SplittableRandom(seed + 7)
    val share = 0.02 + rng.nextDouble() * 0.02
    val all = (0 until nFiles).flatMap(f => docIds(seed, f, perFile))
    val picked = all.filter(_ => rng.nextDouble() < share)
    spark.sparkContext.parallelize(picked, 1).map(webPage(seed, _, 1)).toDS()
  }

  /** batch_build's table: `nFiles` first-crawl files plus one re-crawl file. */
  def writeBatchTable(spark: SparkSession, seed: Long, nFiles: Int, perFile: Int,
      dir: String): Unit = {
    webPages(spark, seed, nFiles, perFile).write.mode("overwrite").parquet(dir)
    recrawls(spark, seed, nFiles, perFile).coalesce(1).write.mode("append").parquet(dir)
  }

  // ---------------------------------------------------------------------
  // Synthetic PERSON dimension (canon_refresh).
  // ---------------------------------------------------------------------

  private val accents = Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ó', 'u' -> 'ú')

  /** The accent variant of a name: its last vowel accented. Same
    * unaccented similarity key as the base, so canon links the pair. */
  def accentVariant(name: String): String = {
    val i = name.lastIndexWhere(c => accents.contains(c))
    name.substring(0, i) + accents(name.charAt(i)) + name.substring(i + 1)
  }

  final case class People(bases: Vector[String], delta: Set[String]) {
    def surfaces(names: Iterable[String]): Vector[String] =
      names.iterator.flatMap(b => Iterator(b, accentVariant(b))).toVector
    def gazetteer: Vector[(String, String)] = surfaces(bases).map(_ -> "PERSON")
  }

  /** `nBases` distinct two-token names from seeded first/last-name pools
    * sized so every token block stays far below the canon stop-token cap;
    * `deltaShare` of them (seed-chosen) form the incremental delta. */
  def people(seed: Long, nBases: Int, deltaShare: Double): People = {
    val rng = new SplittableRandom(seed + 11)
    val pool = math.max(64, nBases / 10)
    def names(n: Int): Vector[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      while (out.size < n) out += capitalized(word(rng, 3))
      out.toVector
    }
    val (firsts, lasts) = (names(pool), names(pool))
    val bases = scala.collection.mutable.LinkedHashSet.empty[String]
    while (bases.size < nBases)
      bases += firsts(rng.nextInt(pool)) + " " + lasts(rng.nextInt(pool))
    val v = bases.toVector
    val nDelta = math.max(1, (nBases * deltaShare).toInt)
    People(v, shuffled(v, rng).take(nDelta).toSet)
  }

  private val verbs = Vector("met", "wrote to", "sued", "thanked", "hired", "cited")

  /** Short pages planting `surfaces`, `perPage` per page, each surface on
    * at least one page, in seed-drawn order; page urls end in `/doc/<id>`
    * with ids counted from `firstId`, the engine's url shape. */
  def personPages(spark: SparkSession, seed: Long, surfaces: Vector[String],
      perPage: Int, host: String, firstId: Long): Dataset[Page] = {
    import spark.implicits._
    val rng = new SplittableRandom(seed + 13)
    val order = shuffled(surfaces, rng).grouped(perPage).toVector.zipWithIndex
    val pages = order.map { case (group, i) =>
      val sentences = group.sliding(2, 2).map {
        case Seq(a, b) => s"$a ${verbs(rng.nextInt(verbs.size))} $b."
        case Seq(a) => s"$a ${verbs(rng.nextInt(verbs.size))} the court."
      }.toVector
      val body = sentences.map(s => s"<p>$s</p>").mkString
      Page(url = s"https://$host${i % 7}.example.net/doc/${firstId + i}",
        warc_ts = new java.sql.Timestamp(Pages.EpochMs + i * 1000L),
        html = s"<html><head><title>P $i</title></head><body>$body</body></html>"
          .getBytes(UTF_8),
        text = sentences.mkString(" "), lang = "en")
    }
    spark.createDataset(pages).repartition(math.max(1, spark.sparkContext.defaultParallelism))
  }
}
