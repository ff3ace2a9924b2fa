package graft.harness

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Plan audit: dumps `explain("formatted")` for the load-bearing
  * queries to a markdown file (default PLANS.md) so broadcast choices,
  * pushdowns, and shuffle frontiers are reviewable without rerunning.
  * Usage: runMain graft.Harness explain [outFile] [sfDir] (local[4]).
  *
  * Caveat: two query builders execute verification jobs at CONSTRUCTION
  * time (q_mentions runs the F5 containment count, q_tokens the
  * plant-safety scan), so the audit pays those jobs per dump and requires
  * sfDir to satisfy their invariants — keep it pointed at the sf0.001
  * fixture, where they cost seconds.
  */
object PlanAudit {
  def run(spark: SparkSession, args: Seq[String]): String = {
    val outFile = args.headOption.getOrElse("PLANS.md")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"

    val audited = Seq(
      "q_pages", "q_mentions", "q_triples", "q_pattern_triples",
      "q_entity_prov", "q_canon_minhash", "q_linking", "q_linking_best",
      "q_domain_stats", "q_dedup_minhash", "q_dedup_ngram",
      "q_dedup_simhash_pairs",
      "q_dedup_embed", "q_dedup_incr", "q_ann_lsh",
      "q_ann_topk", "q_ann_ivf", "q_window_running", "q_events_window",
      "q_date_mentions", "q_fuzzy", "q_fuzzy_char", "q_cc_dist",
      "q_entity_aliases", "q_linked_partition", "q_lineage",
      "q_ensemble", "q_gliner_windows", "q_tokens",
      "q_media_meta", "q_media_frames",
      // per-doc text stats: both must be single narrow projections — the
      // zero-Exchange shape is the point (langId's explode+join+window
      // form is the measured baseline in BENCH/textstats_scale.json)
      "q_langid", "q_quality")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plan audit (generated by `graft.Harness explain`)\n\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on scans " +
      "(pruning), `BroadcastHashJoin` for dimension joins, `Exchange` nodes " +
      "only at intended shuffle frontiers, wide `WholeStageCodegen` spans.\n")
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }

    // The streaming flagship's fused per-micro-batch stage, audited in its
    // batch form over a parquet-backed pages table (exactly what each
    // micro-batch executes): the thing to verify is ZERO Exchange nodes
    // (ingest is map-only, scales with input splits) and ReadSchema pruned
    // to (url, html) — the fat text column never leaves the scan.
    {
      val tmp = graft.util.TempDirs.scratch("graft-explain-pages")
      graft.pipeline.Pipeline.pages(spark, sfDir).write.parquet(s"$tmp/pages")
      import spark.implicits._
      val pagesPq = spark.read.parquet(s"$tmp/pages").as[graft.model.Page]
      val fused = graft.streaming.Streaming.pageTriples(
        pagesPq, graft.model.Gazetteer.all.toArray, Map.empty)
      val plan = fused.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## streaming flagship — fused pageTriples stage " +
        s"(batch form of each micro-batch)\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    s"[explain] wrote ${audited.size + 1} plans to $outFile"
  }
}
