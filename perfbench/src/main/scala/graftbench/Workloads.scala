package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.canon.Canon
import graft.extract.Extract
import graft.mentions.Mentions
import graft.model.{Gazetteer, Mention}
import graft.pipeline.Pipeline
import graft.relations.Relations
import graft.sources.Pages

/** Named expected values of a workload's outputs (row counts and content
  * fingerprints), compared exactly. */
object Check {
  type Values = Map[String, Long]

  /** None when `got` carries every expected value, else what differed. */
  def equal(got: Values, expected: Values): Option[String] = {
    val bad = expected.toSeq.sortBy(_._1).collect {
      case (k, v) if !got.get(k).contains(v) =>
        s"$k: got ${got.get(k).fold("none")(_.toString)}, expected $v"
    }
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** The `(rows, fingerprint)` of a triple table, as Pipeline.tripleChecksum. */
  def triples(df: DataFrame, prefix: String = "triples"): Values = {
    val (n, fp) = Pipeline.tripleChecksum(
      df.select(col("subj"), col("pred"), col("obj"), col("url"), col("score")))
    Map(prefix -> n, s"${prefix}_fp" -> fp)
  }

  def alias(df: DataFrame, prefix: String): Values =
    Map(prefix -> df.count(), s"${prefix}_fp" -> Canon.aliasFingerprint(df))
}

/** Where a traced layer chain reads its inputs. `feed` holds page parquet
  * files landed into a stream in two halves. */
final case class ChainInputs(base: String, delta: String, gazetteer: Option[String], feed: String)

/** One benchmark workload: inputs staged from a seed, a closed-loop cycle of
  * production entry-point calls, and exact checks of what the calls wrote.
  */
trait Workload {
  def name: String
  /** The call kind reported as `call_s`. */
  def mainKind: String
  /** Generate the inputs from `seed` into `dir` (replacing what is there). */
  def stage(spark: SparkSession, seed: Long, dir: String): Unit
  /** Expected output values, computed from the inputs without the entry points. */
  def reference(spark: SparkSession, dir: String): Check.Values
  /** One cycle of calls writing under `out`. Returns the check verdict
    * against `expected` (skipped when None), the rows committed and the
    * call kinds that committed them. */
  def cycle(spark: SparkSession, dir: String, out: String, expected: Option[Check.Values],
      c: Recorder#Cycle): (Option[String], Long, Seq[String])
  def chainInputs(dir: String): ChainInputs
  /** Chain spans, as (name, iteration), that make up one cycle's work. */
  def cycleStages: Seq[(String, Int)]
}

object Workloads {
  def standard(name: String): Workload = name match {
    case "batch_build" => new BatchBuild(nFiles = 4, perFile = 2500)
    case "canon_refresh" => new CanonRefresh(nBases = 4000, perPage = 8)
    case "stream_ingest" => new StreamIngest(invocations = 2, filesPerInvocation = 1, perFile = 800)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Run `graft.Submit` with `args` and return what it printed. */
  def submit(spark: SparkSession, args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(graft.Submit.run(spark, args.toArray))
    ps.flush()
    buf.toString("UTF-8")
  }

  def mentions(spark: SparkSession, pagesDirs: Seq[String],
      gaz: Array[(String, String)]): org.apache.spark.sql.Dataset[Mention] =
    Mentions.scanWithRecall(Extract.segments(
      pagesDirs.map(Pages.fromParquet(spark, _)).reduce(_ unionByName _)), gaz)

  def readGazetteer(spark: SparkSession, path: String): Array[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("surface"), col("label")).as[(String, String)].collect()
  }

  def expect(expected: Option[Check.Values], got: => Check.Values): Option[String] =
    expected.flatMap(Check.equal(got, _))

  /** Data files (not hidden, not markers) under `dir`, recursively. */
  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toList
      finally w.close()
    }
  }

  /** The number in "<verb> N <noun>" of a Submit summary line. */
  def countAfter(out: String, verb: String): Long = {
    val m = (java.util.regex.Pattern.quote(verb) + " (\\d+)").r.findFirstMatchIn(out)
    m.map(_.group(1).toLong).getOrElse(
      throw new IllegalStateException(s"no '$verb N' in Submit output: ${out.trim}"))
  }
}

/** `Submit batch --canon-out` over a page table with a re-crawl file. */
final class BatchBuild(nFiles: Int, perFile: Int) extends Workload {
  import Workloads._
  val name = "batch_build"
  val mainKind = "batch"

  def stage(spark: SparkSession, seed: Long, dir: String): Unit =
    Gen.writeBatchTable(spark, seed, nFiles, perFile, s"$dir/pages")

  /** Co-occurrence ∪ mentioned-in over the same table: the reference that
    * stays correct when a url appears twice. */
  def reference(spark: SparkSession, dir: String): Check.Values = {
    val ms = mentions(spark, Seq(s"$dir/pages"), Gazetteer.all.toArray).cache()
    try {
      val canon = Canon.canonicalMap(ms).cache()
      try Check.triples(Relations.cooccurrence(ms)
          .unionByName(Relations.mentionedIn(ms, canon)).toDF()) ++ Check.alias(canon, "alias")
      finally canon.unpersist()
    } finally ms.unpersist()
  }

  def cycle(spark: SparkSession, dir: String, out: String, expected: Option[Check.Values],
      c: Recorder#Cycle): (Option[String], Long, Seq[String]) = {
    c.call("batch")(submit(spark, "batch", "--input", s"$dir/pages",
      "--output", s"$out/sink", "--canon-out", s"$out/alias"))
    val sink = graft.materialize.Materialize.readTriples(spark, s"$out/sink")
    val got = Check.triples(sink)
    (expect(expected, got ++ Check.alias(spark.read.parquet(s"$out/alias"), "alias")),
      got("triples"), Seq("batch"))
  }

  def chainInputs(dir: String): ChainInputs =
    ChainInputs(base = s"$dir/pages", delta = s"$dir/pages", gazetteer = None, feed = s"$dir/pages")

  val cycleStages: Seq[(String, Int)] = Seq("sources.read", "extract.segments", "mentions.scan",
    "canon.surface_stats", "canon.similarity_edges", "canon.cc", "canon.pick",
    "relations.triples", "materialize.write").map(_ -> 1)
}

/** `Submit refresh --gazetteer`: a full refresh over the base pages, then an
  * incremental refresh over the 1 % delta. */
final class CanonRefresh(nBases: Int, perPage: Int, deltaShare: Double = 0.01) extends Workload {
  import Workloads._
  val name = "canon_refresh"
  val mainKind = "incr"

  def stage(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val people = Gen.people(seed, nBases, deltaShare)
    people.gazetteer.toDF("surface", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/gazetteer")
    val (delta, base) = people.bases.partition(people.delta)
    Gen.personPages(spark, seed, people.surfaces(base), perPage, "base", firstId = 0L)
      .write.mode("overwrite").parquet(s"$dir/base")
    Gen.personPages(spark, seed + 1, people.surfaces(delta), perPage, "delta", firstId = 1000000L)
      .write.mode("overwrite").parquet(s"$dir/delta")
  }

  /** The full canon job over base, and over base ∪ delta: what the full and
    * the incremental refresh must publish. */
  def reference(spark: SparkSession, dir: String): Check.Values = {
    val gaz = readGazetteer(spark, s"$dir/gazetteer")
    def full(dirs: String*): DataFrame =
      Canon.canonicalState(mentions(spark, dirs, gaz).cache()).canonMap.cache()
    val v0 = full(s"$dir/base")
    val v1 = full(s"$dir/base", s"$dir/delta")
    val r = Check.alias(v0, "v0") ++ Check.alias(v1, "v1")
    spark.catalog.clearCache()
    r
  }

  def cycle(spark: SparkSession, dir: String, out: String, expected: Option[Check.Values],
      c: Recorder#Cycle): (Option[String], Long, Seq[String]) = {
    val state = s"$out/state"
    def refresh(input: String) =
      submit(spark, "refresh", "--input", input, "--state", state, "--gazetteer", s"$dir/gazetteer")
    val first = c.call("full")(refresh(s"$dir/base"))
    val second = c.call("incr")(refresh(s"$dir/delta"))
    val got = Check.alias(spark.read.parquet(s"$state/v0/alias"), "v0") ++
      Check.alias(spark.read.parquet(s"$state/v1/alias"), "v1")
    val branch =
      if (!first.contains("refresh: full (initial) -> v0")) Some(s"first refresh: ${first.trim}")
      else if (!second.contains("refresh: incremental -> v1"))
        Some(s"second refresh: ${second.trim}")
      else None
    (if (expected.isEmpty) None else branch.orElse(expect(expected, got)),
      got("v0") + got("v1"), Seq("full", "incr"))
  }

  def chainInputs(dir: String): ChainInputs =
    ChainInputs(base = s"$dir/base", delta = s"$dir/delta",
      gazetteer = Some(s"$dir/gazetteer"), feed = s"$dir/base")

  val cycleStages: Seq[(String, Int)] = Seq("sources.read", "extract.segments", "mentions.scan",
    "canon.surface_stats", "canon.similarity_edges", "canon.cc", "canon.pick").map(_ -> 1) ++
    Seq("sources.read", "extract.segments", "mentions.scan", "canon.incr").map(_ -> 2)
}

/** `Submit stream` invocations over one checkpoint, each after new feed files
  * land: the first half without an alias table (raw provenance), the second
  * half with `--canon`; then `Submit compact --canon`. */
final class StreamIngest(invocations: Int, filesPerInvocation: Int, perFile: Int) extends Workload {
  import Workloads._
  require(invocations >= 2 && invocations % 2 == 0, "an even number of invocations")
  val name = "stream_ingest"
  val mainKind = "stream"
  private def nFiles = invocations * filesPerInvocation

  /** Feed files (unique urls) and the periodic batch job's alias table over them. */
  def stage(spark: SparkSession, seed: Long, dir: String): Unit = {
    Gen.webPages(spark, seed, nFiles, perFile).write.mode("overwrite").parquet(s"$dir/staged")
    Canon.canonicalMap(mentions(spark, Seq(s"$dir/staged"), Gazetteer.all.toArray))
      .write.mode("overwrite").parquet(s"$dir/alias")
  }

  def reference(spark: SparkSession, dir: String): Check.Values = {
    val ms = mentions(spark, Seq(s"$dir/staged"), Gazetteer.all.toArray).cache()
    try Check.triples(Relations.cooccurrence(ms)
        .unionByName(Relations.mentionedIn(ms, spark.read.parquet(s"$dir/alias"))).toDF()) ++
      Map("stale_batches" -> (invocations / 2 * filesPerInvocation).toLong, "noop_batches" -> 0L)
    finally ms.unpersist()
  }

  def cycle(spark: SparkSession, dir: String, out: String, expected: Option[Check.Values],
      c: Recorder#Cycle): (Option[String], Long, Seq[String]) = {
    val files = dataFiles(s"$dir/staged").sortBy(_.getFileName.toString)
    require(files.size == nFiles, s"expected $nFiles staged files, found ${files.size}")
    val feed = Files.createDirectories(Paths.get(s"$out/feed"))
    val (sink, ckpt) = (s"$out/sink", s"$out/ckpt")
    files.grouped(filesPerInvocation).zipWithIndex.foreach { case (batch, i) =>
      batch.foreach(f => Files.copy(f, feed.resolve(f.getFileName)))
      val canon = if (i >= invocations / 2) Seq("--canon", s"$dir/alias") else Nil
      c.call("stream")(submit(spark, Seq("stream", "--input", feed.toString, "--output", sink,
        "--checkpoint", ckpt, "--files-per-trigger", "1") ++ canon: _*))
    }
    val compacted = c.call("compact")(
      submit(spark, "compact", "--output", sink, "--canon", s"$dir/alias"))
    val got = Check.triples(spark.read.parquet(s"$sink/triples"))
    val verdict = expected.flatMap { e =>
      val again = submit(spark, "compact", "--output", sink, "--canon", s"$dir/alias")
      Check.equal(got ++ Map("stale_batches" -> countAfter(compacted, "rewrote"),
        "noop_batches" -> countAfter(again, "rewrote")), e)
    }
    (verdict, got("triples"), Seq("stream"))
  }

  def chainInputs(dir: String): ChainInputs =
    ChainInputs(base = s"$dir/staged", delta = s"$dir/staged", gazetteer = None,
      feed = s"$dir/staged")

  val cycleStages: Seq[(String, Int)] = Seq("streaming.invocation", "streaming.recanon").map(_ -> 3)
}
