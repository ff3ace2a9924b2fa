package graft.harness

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Harness.{Env, minOf}
import graft.extract.Extract
import graft.mentions.{AhoCorasick, Mentions}
import graft.model.Gazetteer
import graft.sources.Pages

/** Dimension-scale evidence for the broadcast-automaton mention scan
  * (BENCH/BASELINE.md "gazetteer at 100k surfaces"): times the SAME exact
  * scan over the SAME cached amplified segment corpus with the 51-surface
  * test gazetteer vs a 100k-surface synthetic dimension, plus the one-off
  * automaton build cost the `cached` amortization hides from tasks.
  * `graft.Harness gazetteer`: one JSON line, min of `SPARK_GRAFT_REPS`
  * (default 3) per the repo's noise protocol; SPARK_GRAFT_AMPLIFY
  * defaults to 40.
  */
object GazetteerScale {
  def run(spark: SparkSession, env: Env): String = {
    val (sfDir, cpus) = (env.sfDir, env.cpus)
    val amplify = env.amplify(40)
    val reps = env.reps(3)

    val segs = Extract.segments(Pages.synthesizeAmplified(spark, sfDir, amplify)).cache()
    val nSegs = segs.count()
    val nChars = segs.toDF().agg(sum(length(col("text")))).first().getLong(0)

    // One-off build cost at the 100k dimension (per executor in a cluster,
    // amortized across its tasks by AhoCorasick.cached).
    val dim100k = (Gazetteer.syntheticSurfaces(100000) ++ Gazetteer.all).toArray
    val tB = System.nanoTime()
    val ac = AhoCorasick(dim100k.map(_._1))
    val buildSec = (System.nanoTime() - tB) / 1e9

    def timeScan(gaz: Array[(String, String)]): (Double, Long) = {
      val (min, _, hits) = minOf(reps)(Mentions.scan(segs, gaz).toDF().count())
      (min, hits)
    }
    val (t51, hits51) = timeScan(Gazetteer.all.toArray)
    val (t100k, hits100k) = timeScan(dim100k)
    segs.unpersist()

    // End-to-end flagship (extract → exact+recall scan → canon CC →
    // triples) at both dimensions: the isolated scan above can't see
    // dimension costs that ride the WHOLE pipeline — the 100k broadcast,
    // the per-executor token-index memo, and the canon stage's input width.
    // Synthetic surfaces never hit the corpus, so both runs must produce
    // the IDENTICAL triple multiset — `require`d via content fingerprint.
    def timeFlagship(gaz: Array[(String, String)]): (Double, (Long, Long)) = {
      val (min, _, fp) = minOf(reps)(
        graft.pipeline.Pipeline.flagshipChecksum(spark, sfDir, amplify, gaz))
      (min, fp)
    }
    val (f51, fp51) = timeFlagship(Gazetteer.all.toArray)
    val (f100k, fp100k) = timeFlagship(dim100k)
    require(fp51 == fp100k,
      s"flagship fingerprint drifted with the 100k dimension: $fp51 != $fp100k")

    f"""{"metric":"gazetteer_scan","sf":"$sfDir","amplify":$amplify,"cpus":$cpus,"n_segments":$nSegs,"n_chars":$nChars,"build_100k_sec":$buildSec%.3f,"nodes_100k":${ac.nodeCount},"scan51_sec":$t51%.3f,"scan100k_sec":$t100k%.3f,"hits51":$hits51,"hits100k":$hits100k,"chars_per_sec_51":${(nChars / t51).toLong},"chars_per_sec_100k":${(nChars / t100k).toLong},"flagship51_sec":$f51%.3f,"flagship100k_sec":$f100k%.3f,"flagship_ratio":${f100k / f51}%.3f,"n_triples":${fp51._1},"reps":$reps}"""
  }
}
