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

  test("Submit batch's triple write: one shuffle exchange above the mention cache, no aggregate, no broadcast") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val dir = graft.util.TempDirs.scratch("graft-plan-batch").toString
    Pages.synthesize(spark, sfTiny).write.parquet(s"$dir/pages")
    // AdaptiveSparkPlanHelper walks into AQE plans and stages and stops at
    // a cache scan, so what it collects from a write's executed plan lies
    // between the mention cache and the writer.
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
    assert(h.collect(plan) { case c: InMemoryTableScanExec => c }.nonEmpty,
      s"the triples must read the mention cache:\n$plain")
    assert(h.collect(plan) { case e: ShuffleExchangeLike => e }.size == 1,
      s"exactly one shuffle exchange (the bucket clustering):\n$plain")
    assert(h.collect(plan) { case a: BaseAggregateExec => a }.isEmpty,
      s"no collect_set or distinct aggregate:\n$plain")
    assert(h.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty,
      s"no broadcast exchange:\n$plain")
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
