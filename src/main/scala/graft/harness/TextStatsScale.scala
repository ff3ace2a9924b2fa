package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Harness.{Env, minOf, secs}
import graft.textstats.TextStats

/** Corpus-scale evidence for the per-document text stats (BENCH/BASELINE.md
  * "text stats at the million-document dimension"): language ID is
  * logically a per-row argmax, and the natural column-API form — explode
  * every token, broadcast-join the marker table, shuffle per-doc hit
  * counts, rank with a window, join back — pays four wide stages for it.
  * [[TextStats.langId]] now runs it as ONE narrow map expression
  * ([[graft.textstats.LangBest]]); `graft.Harness textstats` measures both
  * forms on the same synthetic corpus (the shuffle form is inlined here
  * verbatim as the comparison baseline) plus [[TextStats.quality]], at
  * the million-document dimension, per the repo's noise protocol (untimed
  * warm-up, min of `SPARK_GRAFT_REPS`, default 2).
  *
  * Corpus: `SPARK_GRAFT_TS_N` docs (default 2M) of `SPARK_GRAFT_TS_TOKENS`
  * tokens (default 40) drawn xxhash64-uniform from a 200-word vocabulary
  * (the 23 marker tokens + fillers), synthesized DISTRIBUTED and staged to
  * parquet. One JSON line.
  */
object TextStatsScale {

  /** The pre-round-5 langId plan, kept as the measured baseline. */
  private def langIdShuffle(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = TextStats.markers.toDF("mlang", "marker")
    val toks = docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
    val hits = toks.join(broadcast(m), toks("t") === m("marker"))
      .groupBy(col("doc_id"), col("mlang")).agg(count(lit(1)).as("hits"))
    val best = hits.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("hits").desc, col("mlang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("mlang").as("pred_lang"), col("hits"))
    docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  // force full evaluation AND pin per-document content: a multiset checksum
  // over (doc_id, pred_lang, hits) catches any per-doc winner/tie divergence
  // between the two forms, not just a matching global hit total
  private def force(df: DataFrame): Long =
    df.agg(sum(hash(col("doc_id"), col("pred_lang"), col("hits"))))
      .head.getLong(0)

  def run(spark: SparkSession, env: Env): String = {
    val n = env.long("SPARK_GRAFT_TS_N", 2000000L)
    val tokens = env.int("SPARK_GRAFT_TS_TOKENS", 40)
    val cpus = env.cpus
    val reps = env.reps(2)

    val vocab = (TextStats.markers.map(_._2) ++
      (0 until (200 - TextStats.markers.length)).map(i => f"w$i%03d")).toArray
    val vocabLit = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val staged = graft.util.TempDirs.scratch("graft-ts-scale") + "/docs"
    spark.range(n).select(col("id").as("doc_id"),
        expr(s"array_join(transform(sequence(0, ${tokens - 1}), i -> " +
          s"element_at($vocabLit, 1 + cast(pmod(xxhash64(id, i), ${vocab.length}) as int))), ' ')")
          .as("text"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(staged)
    def docs: DataFrame = spark.read.parquet(staged)

    val (mapSec, mapReps, mapSum) = minOf(reps)(force(TextStats.langId(docs)))
    val (shufSec, shufReps, shufSum) = minOf(reps)(force(langIdShuffle(docs)))
    require(mapSum == shufSum,
      s"langId per-doc content drift: map=$mapSum shuffle=$shufSum")

    val (qSec, qReps, _) = minOf(reps) {
      TextStats.quality(docs)
        .agg(sum(col("n_stop")), sum(col("max_token_len")), sum(col("n_tokens")))
        .head.getLong(0)
    }

    s"""{"metric":"textstats_scale","n_docs":$n,"tokens_per_doc":$tokens,""" +
      s""""langid_map_sec":${f"$mapSec%.3f"},"langid_map_reps":${secs(mapReps)},""" +
      s""""langid_map_mdocs_per_sec":${f"${n / mapSec / 1e6}%.2f"},""" +
      s""""langid_shuffle_sec":${f"$shufSec%.3f"},"langid_shuffle_reps":${secs(shufReps)},""" +
      s""""langid_content_equal":true,""" + // the require above compared per-doc checksums
      s""""quality_sec":${f"$qSec%.3f"},"quality_reps":${secs(qReps)},""" +
      s""""cpus":$cpus}"""
  }
}
