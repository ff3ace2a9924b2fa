package graft

import org.apache.spark.sql.DataFrame
import graft.model.Gazetteer
import graft.sources.Pages
import graft.extract.Extract
import graft.mentions.Mentions
import graft.fuzzy.Fuzzy

/** Physical-plan shape guards: shuffle frontiers of the load-bearing
  * pipelines are pinned, so a change that silently introduces an Exchange
  * (the thing that becomes the bottleneck at 100×) fails a spec instead of
  * only showing up in a bench regression. Counts come from the SimpleMode
  * explain of the UNCACHED compositions (cache state would otherwise make
  * the plans depend on suite order).
  */
class PlanSpec extends SparkSpec {

  private def exchanges(df: DataFrame): Int = {
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    // Count DISTINCT hash-shuffle exchanges:
    //  - "BroadcastExchange" (not a shuffle) and "ReusedExchange" are
    //    excluded;
    //  - an executed AQE plan prints the FINAL and the INITIAL plan, so the
    //    same exchange can appear twice — dedupe by plan_id;
    //  - RoundRobinPartitioning exchanges are the DELIBERATE coarse-source
    //    rebalance (graft.util.Reads.spread, optimization guide §2.5) and
    //    are excluded: this spec guards against ACCIDENTAL mid-pipeline
    //    hash shuffles, which a round-robin spread is not.
    plan.linesIterator
      .filter(_.contains("Exchange "))
      .filterNot(_.contains("ReusedExchange"))
      .filterNot(_.contains("BroadcastExchange"))
      .filterNot(_.contains("RoundRobinPartitioning"))
      .map(l => "plan_id=(\\d+)".r.findFirstMatchIn(l).map(_.group(1)).getOrElse(l))
      .toSet.size
  }

  test("extraction and scan stages are narrow: zero shuffles end to end") {
    import org.apache.spark.sql.functions._
    val pages = Pages.synthesize(spark, sfTiny)
    assert(exchanges(pages.toDF()) == 0, "page synthesis must stay narrow")
    val segs = Extract.segments(pages)
    assert(exchanges(segs.toDF()) == 0, "HTML->segment extraction must stay narrow")
    val mentions = Mentions.scanWithRecall(segs, Gazetteer.all.toArray)
    assert(exchanges(mentions.toDF()) == 0, "mention scan must stay narrow")
    assert(exchanges(Fuzzy.scanWindowed(segs,
      Gazetteer.persons.map(_ -> "PERSON").toArray).toDF()) == 0,
      "M4 windowed scan must stay narrow")
    assert(exchanges(graft.functions.Dates.dateMentions(
      graft.functions.Dates.dateCorpus(spark, sfTiny))) == 0,
      "in-text date scan must stay narrow")
  }

  test("aggregation frontiers shuffle exactly once") {
    import org.apache.spark.sql.functions._
    val ms = Mentions.scanWithRecall(
      Extract.segments(Pages.synthesize(spark, sfTiny)), Gazetteer.all.toArray)
    val counts = ms.toDF().groupBy(col("url"), col("surface"), col("label"))
      .agg(count(lit(1)).as("n"))
    assert(exchanges(counts) == 1, "mention rollup = one partial-agg shuffle")
    val cooc = graft.relations.Relations.cooccurrence(ms)
    assert(exchanges(cooc.toDF()) <= 1,
      "co-occurrence pairs shuffle at most once (segment keys)")
  }

  test("Submit batch's write reads the shared bucket exchange, no shuffle") {
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val dir = graft.util.TempDirs.scratch("graft-plan-batch").toString
    Pages.synthesize(spark, sfTiny).write.parquet(s"$dir/pages")
    // AdaptiveSparkPlanHelper walks into AQE plans and stages; the shared
    // bucket exchange sits inside the RDD the write's scan reads, so what
    // it collects lies between that exchange and the writer.
    val h = new AdaptiveSparkPlanHelper {}
    // The executed plan of every write into the sink's triples table.
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (h.collect(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd
        }.exists {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName == "triples"
          case _ => false
        }) writes.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Submit.run(spark, Array("batch", "--input", s"$dir/pages", "--output", s"$dir/sink"))
      // listener events arrive asynchronously on the listener bus
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"expected one triple write, saw ${writes.size}")
    val plan = writes.peek()
    val plain = plan.treeString
    // the scanned RDD's nearest shuffle is the bucket exchange, one
    // partition per write task: min(shuffle partitions, 16 buckets)
    def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.ShuffleDependency[_, _, _]] =
      rdd.dependencies.flatMap {
        case d: org.apache.spark.ShuffleDependency[_, _, _] => Seq(d)
        case d => shuffles(d.rdd)
      }
    val scans = h.collect(plan) { case r: RDDScanExec => r }
    assert(scans.size == 1, s"the triples must read one shared RDD:\n$plain")
    assert(shuffles(scans.head.rdd).map(_.partitioner.numPartitions) == Seq(4),
      s"the scanned RDD must sit on the bucket exchange:\n$plain")
    assert(h.collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty,
      s"no shuffle exchange above the bucket exchange:\n$plain")
    assert(h.collect(plan) { case a: BaseAggregateExec => a }.isEmpty,
      s"no collect_set or distinct aggregate:\n$plain")
    assert(h.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty,
      s"no broadcast exchange:\n$plain")
  }

  test("sharedShuffle: a second action skips the exchange's map stage") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    // the stage ids of the jobs `body` ran, and the ids of the stages it submitted
    def stages(body: => Unit): (Seq[Set[Int]], Set[Int]) = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
      val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.stageIds.toSet)
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = ran.add(e.stageInfo.stageId)
      }
      org.apache.spark.GraftTestBus.drain(sc)
      sc.addSparkListener(l)
      try { body; org.apache.spark.GraftTestBus.drain(sc) } finally sc.removeSparkListener(l)
      import scala.jdk.CollectionConverters._
      (jobs.asScala.toSeq, ran.asScala.toSet)
    }
    def df = spark.range(0, 1000, 1, 4).toDF("id").repartition(3, col("id") % 7)
    // the stages run by building `f` plus one action, then by a second action
    def twice(f: => DataFrame): (Set[Int], Seq[Set[Int]], Set[Int]) = {
      var frame: DataFrame = null
      val (_, first) = stages { frame = f; assert(frame.collect().length == 1000) }
      val (jobs, second) = stages(assert(frame.filter(col("id") >= 0).collect().length == 1000))
      (first, jobs, second)
    }
    // through the shim: the map stage and a result stage run first; the
    // second action's one job lists the map stage again (under a new stage
    // id, as the scheduler forgets finished jobs' stages) but skips it
    val (first, jobs, second) = twice(org.apache.spark.sql.GraftSqlShims.sharedShuffle(df))
    assert(first.size == 2, s"ran $first")
    assert(jobs.size == 1 && second.size == 1 && (jobs.head -- second).size == 1,
      s"$jobs ran $second")
    // a plain frame plans a new exchange per action, and runs it again
    val (_, plainJobs, plainSecond) = twice(df)
    assert(plainSecond.size == 2, s"$plainJobs ran $plainSecond")
  }

  test("the ANN brute baseline is the only broadcast nested loop") {
    val bnl = "BroadcastNestedLoopJoin"
    val topk = graft.similarity.Ann.bruteTopK(
      graft.similarity.Ann.embeddings(spark, sfTiny))
    val topkPlan = topk.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(topkPlan.contains(bnl), "brute top-k intentionally broadcasts the tiny query side")
    // the LSH scale path must NOT fall back to a nested loop
    val lsh = graft.similarity.Ann.lshPairs(
      graft.dedup.Dedup.embCorpus(spark, sfTiny), minCos = 0.99)
    assert(!lsh.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode).contains(bnl),
      "SRP-LSH path regressed to an all-pairs nested loop")
  }
}
