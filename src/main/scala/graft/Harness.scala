package graft

import org.apache.spark.sql.SparkSession
import graft.harness.{AnnScale, DedupScale, GazetteerScale, PlanAudit, Scaling, StreamIngest, TextStatsScale}

/** The one auxiliary benchmark main: `runMain graft.Harness <subcommand>`.
  * Every subcommand runs on one session builder ([[session]]), reads the
  * corpus, core count, amplification and rep count through one [[Env]],
  * times through one noise protocol ([[minOf]]) and ends in one output step:
  * the JSON line is printed, and the subcommands whose record lives under
  * `BENCH/` also write it there. The repo benchmark proper is `perfbench/`
  * (`BENCHMARK.json`); these subcommands reproduce the committed
  * JSON evidence records under `BENCH/` (table in BENCH/BASELINE.md).
  */
object Harness {

  val usage: String =
    """usage: graft.Harness <subcommand> [args]
      |  target [query ...]         time the named SparkEntry queries (default q_cc_dist)
      |  gazetteer                  exact scan + flagship at 51 vs 100k surfaces (BENCH/gazetteer_scale.json)
      |  textstats                  langId map vs shuffle form, quality stats, on a synthetic corpus
      |  ann                        IVF build/top-k, brute top-k and LSH pairs at the million-vector dimension
      |  dedup                      shingles, MinHash, SimHash and incremental exact dedup at scale
      |  stream                     streaming flagship, mode SPARK_GRAFT_STREAM_MODE=drain|paced|recanon
      |                             (BENCH/stream_<mode>_last.json)
      |  scaling                    the flagship at local[N] and local[4N], both in this JVM
      |  explain [outFile] [sfDir]  physical-plan audit (default PLANS.md over the sf0.001 fixture)
      |env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_AMPLIFY, SPARK_GRAFT_REPS,
      |     plus the per-subcommand sizes named in each subcommand's doc""".stripMargin

  /** The harness's view of the environment. Every name is read through
    * `get`, so a test can see which names a run reads. */
  final case class Env(get: String => Option[String]) {
    def sfDir: String = get("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1")
    def cpus: Int = int("SPARK_GRAFT_CPUS", 32)
    def amplify(default: Int): Int = int("SPARK_GRAFT_AMPLIFY", default)
    /** Timed reps per measurement (at least 1); each subcommand keeps its
      * own default. */
    def reps(default: Int): Int = math.max(1, int("SPARK_GRAFT_REPS", default))
    def int(name: String, default: Int): Int = get(name).fold(default)(_.toInt)
    def long(name: String, default: Long): Long = get(name).fold(default)(_.toLong)
  }

  def main(args: Array[String]): Unit = {
    val env = Env(sys.env.get)
    val line = args.headOption match {
      // one session per core level, started and stopped inside
      case Some("scaling") => Scaling.run(env)
      case sub =>
        val spark = session(if (sub.contains("explain")) 4 else env.cpus)
        try run(spark, args, env) finally spark.stop()
    }
    println(line)
  }

  /** Every subcommand but `scaling` on the caller's session; returns the
    * line [[main]] prints. */
  def run(spark: SparkSession, args: Array[String], env: Env): String =
    args.headOption match {
      case Some("target")    => target(spark, args.toSeq.tail, env)
      case Some("gazetteer") => record("gazetteer_scale.json", GazetteerScale.run(spark, env))
      case Some("textstats") => TextStatsScale.run(spark, env)
      case Some("ann")       => AnnScale.run(spark, env)
      case Some("dedup")     => DedupScale.run(spark, env)
      case Some("stream")    =>
        val mode = env.get("SPARK_GRAFT_STREAM_MODE").getOrElse("drain")
        record(s"stream_${mode}_last.json", StreamIngest.run(spark, env, mode))
      case Some("explain")   => PlanAudit.run(spark, args.toSeq.tail)
      case _ => throw new IllegalArgumentException(usage)
    }

  /** The local session every subcommand runs on; `conf` adds settings. */
  def session(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-harness")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The repo's bench noise protocol (BENCH/BASELINE.md): an untimed
    * warm-up evaluation, then `reps` timed evaluations; returns the MIN
    * (stall-robust on this host), the raw rep timings verbatim, and the
    * LAST timed rep's result — equivalent to any rep's for the
    * deterministic checksums benched here; a measurement with
    * rep-dependent results must not rely on it.
    */
  def minOf[A](reps: Int)(f: => A): (Double, Seq[Double], A) = {
    var last: A = f // untimed warm-up
    val ts = (1 to math.max(1, reps)).map { _ =>
      val t0 = System.nanoTime()
      last = f
      (System.nanoTime() - t0) / 1e9
    }
    (ts.min, ts, last)
  }

  /** Rep timings as a JSON array of seconds, 3 decimals. */
  def secs(ts: Seq[Double]): String = ts.map(t => f"$t%.3f").mkString("[", ",", "]")

  /** Also keep `line` as `BENCH/<file>`: sbt prefixes stdout, so a reader
    * parses the file, not the log. */
  private def record(file: String, line: String): String = {
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("BENCH"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH", file), line + "\n")
    } catch { case _: java.io.IOException => () }
    line
  }

  /** `target q_a q_b …`: times just the named SparkEntry queries (untimed
    * warm-up + min of `SPARK_GRAFT_REPS`, default 3) — focused evidence
    * runs (e.g. the md5-vs-xxhash64 MinHash family comparison in
    * BENCH/BASELINE.md) where a full Bench sweep would bury the signal.
    * SPARK_GRAFT_MINHASH_FN, if set, is copied into the `graft.minhash.fn`
    * system property before any query runs (forked sbt JVMs don't inherit
    * -D flags from the sbt command line).
    */
  private def target(spark: SparkSession, names: Seq[String], env: Env): String = {
    env.get("SPARK_GRAFT_MINHASH_FN").foreach(v => System.setProperty("graft.minhash.fn", v))
    val reps = env.reps(3)
    val results = (if (names.nonEmpty) names else Seq("q_cc_dist")).map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      val (_, ts, _) = minOf(reps)(fn(spark, env.sfDir).count())
      name -> ts
    }
    val body = results.map { case (n, ts) =>
      s""""$n":{"min":${f"${ts.min}%.3f"},"reps":${secs(ts)}}"""
    }.mkString(",")
    s"""{"metric":"target_bench","minhash_fn":"${graft.model.Config.MinHashFn}","cpus":${env.cpus},"sf":"${env.sfDir}","queries":{$body}}"""
  }
}
