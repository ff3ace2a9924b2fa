package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** A span around one call into a layer, in the benchmark thread. */
final case class Span(id: Int, name: String, parent: Int, iteration: Int,
    startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work attributed to one layer name. */
final case class Layer(wallS: Double, taskS: Double, cpuS: Double, shuffleMb: Double,
    spillMb: Double, tasks: Long, failedTasks: Long, jobs: Long)

/** Spans plus a listener that attributes Spark work to them. Each span sets
  * the job group `graftbench:<name>` on the calling thread; a job counts
  * for the span named by its group. Jobs the engine runs under a group of
  * its own (streaming micro-batches) count for the innermost span open when
  * they were submitted. Spans stay in memory until [[writeJson]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.GroupPrefix

  private final case class JobRec(id: Int, group: Option[String], timeMs: Long,
      stages: Seq[Int], streaming: Boolean)
  private final class StageAgg {
    var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var tasks = 0L; var failedTasks = 0L
  }

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    jobs.add(JobRec(js.jobId, props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
      js.time, js.stageIds,
      props.exists(p => p.getProperty("sql.streaming.queryId") != null)))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(te.stageId, _ => new StageAgg)
    val m = te.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (!te.taskInfo.successful) a.failedTasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var iteration = 0

  private var cachePeak = 0L
  private var heapPeak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), iteration,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setJobGroup(GroupPrefix + name, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.name, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      cachePeak = math.max(cachePeak, used)
      // heap in use after the latest collection: live data, not garbage
      val live = heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      heapPeak = math.max(heapPeak, live)
    }
  }

  def wall(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def cachePeakMb: Double = cachePeak / 1e6
  def heapPeakMb: Double = heapPeak / 1e6

  private def spanAt(timeMs: Long): Option[Span] =
    spans.filter(s => s.startMs <= timeMs && timeMs <= s.endMs)
      .sortBy(s => -depth(s)).headOption

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  private def attributed(): Seq[(String, JobRec)] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    jobs.asScala.toSeq.flatMap { j =>
      j.group.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix))
        .orElse(spanAt(j.timeMs).map(_.name))
        .map(_ -> j)
    }
  }

  /** Per-name layer aggregates. A stage listed by several jobs counts once,
    * for the first of them. */
  def layers(): Map[String, Layer] = {
    val byName = attributed()
    val owner = scala.collection.mutable.Map.empty[Int, String]
    byName.sortBy(_._2.id).foreach { case (n, j) => j.stages.foreach(owner.getOrElseUpdate(_, n)) }
    val stagesOf = owner.toSeq.groupMap(_._2)(_._1)
    byName.groupBy(_._1).map { case (name, js) =>
      val ss = stagesOf.getOrElse(name, Nil).flatMap(id => Option(stages.get(id)))
      name -> Layer(
        wallS = wall(name),
        taskS = ss.map(_.runMs).sum / 1e3,
        cpuS = ss.map(_.cpuNs).sum / 1e9,
        shuffleMb = ss.map(_.shuffleBytes).sum / 1e6,
        spillMb = ss.map(_.spillBytes).sum / 1e6,
        tasks = ss.map(_.tasks).sum,
        failedTasks = ss.map(_.failedTasks).sum,
        jobs = js.size.toLong)
    }
  }

  /** Share of the non-streaming jobs submitted inside a span that carried
    * that span's job group, i.e. whose group survived any thread hand-off
    * (broadcasts and subqueries run on other threads). */
  def groupShare(): Double = {
    val inSpans = attributed().filterNot(_._2.streaming)
    if (inSpans.isEmpty) 1.0
    else inSpans.count { case (n, j) => j.group.contains(GroupPrefix + n) }.toDouble / inSpans.size
  }

  /** Spans as one JSON document, self time included (a span's duration
    * minus the time its child spans cover; children never overlap). */
  def writeJson(path: java.nio.file.Path, meta: Map[String, Any]): Unit = {
    val children = spans.groupBy(_.parent)
    val rows = spans.toSeq.map { s =>
      val childS = children.getOrElse(s.id, Nil).map(_.seconds).sum
      scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "iteration" -> s.iteration, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.seconds, "self_s" -> (s.seconds - childS))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Json.obj(meta.toSeq :+ ("spans" -> rows): _*) + "\n")
  }
}

object Tracer {
  val GroupPrefix = "graftbench:"
}
