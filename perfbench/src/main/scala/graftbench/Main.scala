package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The benchmark harness. One JVM, one workload, one client:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <scratch dir> --cores <n>
  * }}}
  *
  * Set-up (input generation, staging and a full-size warm-up cycle) runs
  * [[SetupReps]] times and reports its median as `setup_s`. Expected outputs
  * are then computed untimed. With `--trace 0` cycles of entry-point calls
  * run in a closed loop for `--seconds` and the end-to-end metrics are
  * reported; with `--trace 1` the per-layer metrics of the traced layer
  * chain are. The last line of standard output is the result object.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cores: Int)

  val SetupReps = 3

  /** End-to-end metrics, named alike on every workload: `call_s` is the
    * median time of the workload's main call ([[Workload.mainKind]]),
    * `cycle_s` the median time of all timed calls of one cycle, and
    * `rows_per_s` the rows the row-committing calls wrote per second of
    * their time. */
  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "call_s" -> "s", "cycle_s" -> "s", "rows_per_s" -> "rows/s")

  /** Per-layer metrics of the traced chain; a layer called more than once
    * (the delta fold re-reads and re-scans) reports the sum of its calls. */
  val perLayer: Seq[(String, String)] =
    Layers.stages.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.task_s" -> "s",
      s"$s.shuffle_mb" -> "MB", s"$s.jobs" -> "count")) ++ Seq(
      "mentions.automaton_build.wall_s" -> "s",
      "extract.segments.rows" -> "count", "mentions.scan.rows" -> "count",
      "canon.similarity_edges.rows" -> "count", "relations.triples.rows" -> "count",
      "mentions.recall_share" -> "ratio", "canon.cc.rounds" -> "count",
      "canon.incr.fell_back" -> "count", "materialize.write.files" -> "count",
      "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s",
      "streaming.sidecar_files" -> "count", "streaming.recanon.rewrite_ratio" -> "ratio",
      "cache.peak_mb" -> "MB", "jvm.heap_peak_mb" -> "MB",
      "trace.coverage" -> "ratio", "trace.overhead" -> "ratio",
      "trace.scaling_1to4" -> "ratio", "trace.group_share" -> "ratio")

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "options come in --key value pairs")
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, get("cores").toInt)
  }

  def session(cores: Int, shufflePartitions: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def delete(p: Path): Unit = graft.util.TempDirs.delete(p)

  /** File system type under `p` (e.g. tmpfs or ext4), from /proc/mounts. */
  def fsType(p: Path): String = {
    val real = p.toRealPath().toString
    val mounts = scala.util.Try(Files.readAllLines(Paths.get("/proc/mounts"))).toOption
      .map(scala.jdk.CollectionConverters.ListHasAsScala(_).asScala.toSeq).getOrElse(Nil)
    mounts.map(_.split(' ')).collect { case f if f.length > 2 && real.startsWith(f(1)) => f }
      .sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.standard(a.workload)
    val run = a.work.resolve(s"run-${a.workload}-${a.seed}")
    delete(run)
    Files.createDirectories(run)
    val t0 = System.nanoTime()
    val spark = session(a.cores, a.cores, run)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val in = run.resolve("in").toString
    try {
      // The traced run reports no setup_s: one set-up warms it.
      val setup = (1 to (if (a.trace) 1 else SetupReps)).map { r =>
        val t = System.nanoTime()
        delete(Paths.get(in))
        w.stage(spark, a.seed, in)
        val warm = new Recorder
        warm.cycle(w.mainKind)(c => w.cycle(spark, in, s"$run/warm$r", None, c))
        require(warm.failed == 0, s"warm-up cycle $r failed")
        delete(run.resolve(s"warm$r"))
        (System.nanoTime() - t) / 1e9
      }
      val tRef = System.nanoTime()
      val expected = w.reference(spark, in)
      val referenceS = (System.nanoTime() - tRef) / 1e9
      val (result, detail) =
        if (a.trace) traced(spark, a, w, run, in, expected)
        else timed(spark, a, w, run, in, expected, setup)
      // Sinks, checkpoints, feeds and spark.local.dir all live under `run`.
      println("detail " + Json.obj(Seq("workload" -> a.workload, "seed" -> a.seed,
        "scratch_fs" -> fsType(run), "session_start_s" -> sessionS, "setup_reps_s" -> setup,
        "reference_s" -> referenceS, "elapsed_s" -> (System.nanoTime() - t0) / 1e9) ++ detail: _*))
      println(result)
    } finally {
      spark.stop() // a no-op when the traced run already replaced it
      delete(run)
    }
  }

  private def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** The machine's cpu line of /proc/stat: user … steal ticks. */
  private def cpuTicks(): Option[Array[Long]] =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)).toOption.filter(_.length == 8)

  /** Share of cpu time the hypervisor gave to other guests in between. */
  private def stealShare(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
    for (x <- a; y <- b; total = y.sum - x.sum if total > 0) yield (y(7) - x(7)).toDouble / total

  private def metric(name: String, unit: String, v: Double): (String, Any) =
    name -> ListMap("value" -> v, "unit" -> unit)

  private def resultLine(correct: Boolean, rec: Seq[Recorder],
      metrics: Seq[(String, Any)]): String =
    Json.obj("correct" -> correct, "attempted" -> rec.map(_.attempted).sum,
      "failed" -> rec.map(_.failed).sum, "metrics" -> ListMap(metrics: _*))

  private def timed(spark: SparkSession, a: Args, w: Workload, run: Path, in: String,
      expected: Check.Values, setup: Seq[Double]): (String, Seq[(String, Any)]) = {
    val rec = new Recorder
    val cpu0 = cpuTicks()
    val t0 = System.nanoTime()
    var i = 0
    val cycleJit = ArrayBuffer.empty[Double]
    while (System.nanoTime() - t0 < a.seconds * 1e9) {
      val j = jitSeconds()
      rec.cycle(w.mainKind)(c => w.cycle(spark, in, s"$run/it$i", Some(expected), c))
      cycleJit += jitSeconds() - j
      delete(run.resolve(s"it$i"))
      i += 1
    }
    if (rec.main.isEmpty) throw new IllegalStateException("no cycle passed its output check")
    val values = Seq(Stats.median(setup), Stats.median(rec.main.toSeq),
      Stats.median(rec.cycles.toSeq), rec.rows / rec.rowSeconds)
    val metrics = endToEnd.zip(values).map { case ((n, u), v) => metric(n, u, v) }
    val named = w.name match {
      case "batch_build" => Seq("wall_s" -> values(1), "triples_per_s" -> values(3))
      case "canon_refresh" => Seq("refresh_full_s" -> Stats.median(rec.extra("full").toSeq),
        "refresh_incr_s" -> values(1))
      case _ => Seq("ingest_latency_s" -> values(1), "triples_per_s" -> values(3),
        "compact_s" -> Stats.median(rec.extra("compact").toSeq))
    }
    val detail = named ++ Seq(
      "fail_ratio" -> rec.failed.toDouble / rec.attempted,
      "loop_steal_share" -> stealShare(cpu0, cpuTicks()),
      "cycle_jit_s" -> cycleJit.toSeq,
      "cycle_samples_s" -> rec.cycles.toSeq, "call_samples_s" -> rec.main.toSeq,
      "call_tail_percentile" -> Stats.tailPercentile(rec.main.toSeq).map(_._1),
      "call_tail_s" -> Stats.tailPercentile(rec.main.toSeq).map(_._2))
    (resultLine(rec.failed == 0, Seq(rec), metrics), detail)
  }

  /** Untraced vs traced entry-point cycles (trace.overhead), the layer chain
    * (per-layer metrics, trace.coverage), then one cycle in a local[1]
    * session that replaces `spark` (trace.scaling_1to4). */
  private def traced(spark: SparkSession, a: Args, w: Workload, run: Path, in: String,
      expected: Check.Values): (String, Seq[(String, Any)]) = {
    val recs = ArrayBuffer.empty[Recorder]
    def cycleTime(spark: SparkSession, trace: Option[Tracer], tag: String): Double = {
      val rec = new Recorder(trace)
      recs += rec
      val ok = rec.cycle(w.mainKind)(c => w.cycle(spark, in, s"$run/$tag", Some(expected), c))
      delete(run.resolve(tag))
      if (!ok) throw new IllegalStateException(s"entry cycle $tag failed its output check")
      rec.cycles.head
    }
    val base = cycleTime(spark, None, "plain")
    val probe = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(probe)
    val withTrace = cycleTime(spark, Some(probe), "traced")
    spark.sparkContext.removeSparkListener(probe)

    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    val counts = Layers.run(spark, t, w.chainInputs(in), a.seed, s"$run/chain")
    val layers = t.layers()
    spark.sparkContext.removeSparkListener(t)
    val covered = w.cycleStages.map { case (n, it) =>
      t.spans.filter(s => s.name == n && s.iteration == it).map(_.seconds).sum }.sum
    t.writeJson(a.work.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.json"),
      Map("workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores))

    spark.stop()
    val spark1 = session(1, a.cores, run)
    val single = try cycleTime(spark1, None, "single") finally spark1.stop()

    val values: Map[String, Double] = Layers.stages.flatMap { s =>
      val l = layers.get(s)
      Seq(s"$s.wall_s" -> t.wall(s), s"$s.task_s" -> l.fold(0.0)(_.taskS),
        s"$s.shuffle_mb" -> l.fold(0.0)(_.shuffleMb), s"$s.jobs" -> l.fold(0.0)(_.jobs.toDouble))
    }.toMap ++ counts ++ Map(
      "mentions.automaton_build.wall_s" -> t.wall("mentions.automaton_build"),
      "cache.peak_mb" -> t.cachePeakMb, "jvm.heap_peak_mb" -> t.heapPeakMb,
      "trace.coverage" -> covered / base,
      "trace.overhead" -> withTrace / base,
      "trace.scaling_1to4" -> single / base,
      "trace.group_share" -> t.groupShare())
    val metrics = perLayer.map { case (n, u) => metric(n, u, values(n)) }
    val detail = Seq("untraced_cycle_s" -> base, "traced_cycle_s" -> withTrace,
      "local1_cycle_s" -> single,
      "layers" -> layers.map { case (n, l) => n -> Map("wall_s" -> l.wallS, "task_s" -> l.taskS,
        "cpu_s" -> l.cpuS, "shuffle_mb" -> l.shuffleMb, "spill_mb" -> l.spillMb,
        "tasks" -> l.tasks, "failed_tasks" -> l.failedTasks, "jobs" -> l.jobs) })
    (resultLine(recs.forall(_.failed == 0), recs.toSeq, metrics), detail)
  }
}
