package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Harness.{Env, minOf, secs}
import graft.similarity.Ann

/** Corpus-scale evidence for the ANN paths (BENCH/BASELINE.md "IVF-flat
  * ANN"): the sandbox embeddings table is 2,000 rows — enough for the
  * oracle hash gate, useless for a throughput claim. `graft.Harness ann`
  * synthesizes a clustered corpus at the million-vector dimension
  * DISTRIBUTED (a `spark.range` projection, staged to parquet — never
  * driver-side), then times, per the repo's noise protocol (untimed
  * warm-up, min of reps):
  *
  *  - `build`: nearest-centroid assignment of every corpus vector
  *    ([[Ann.ivfAssignCol]], the native [[graft.similarity.CentroidArgmax]]
  *    expression) + the per-cell histogram — the map side of an IVF index
  *    build, reported as vectors/sec;
  *  - `ivf_topk`: [[Ann.ivfTopK]] end-to-end (centroid sample + full
  *    assignment + probe join + exact re-rank — the same index-build-plus-
  *    query region q_ann_ivf times at sandbox scale);
  *  - `brute_topk`: [[Ann.bruteTopK]] on the same queries — the exact
  *    baseline IVF's candidate pruning is up against;
  *  - `recall@5` of IVF vs brute on the clustered corpus (the regime IVF
  *    exists for; AnnSpec pins the uniform-corpus worst case).
  *
  * Corpus: `nClusters` well-separated centers (deterministic sin basis,
  * same construction as AnnSpec's clustered fixture) + 5% per-member
  * deterministic noise; vec_id-keyed so runs are bit-reproducible. One
  * JSON line; SPARK_GRAFT_ANN_N / _K / _PROBE / _QUERIES, SPARK_GRAFT_CPUS
  * and SPARK_GRAFT_REPS (default 2) override the defaults.
  */
object AnnScale {

  def run(spark: SparkSession, env: Env): String = {
    val n = env.long("SPARK_GRAFT_ANN_N", 2000000L)
    val k = env.int("SPARK_GRAFT_ANN_K", 256)
    val nProbe = env.int("SPARK_GRAFT_ANN_PROBE", 16)
    val nQueries = env.int("SPARK_GRAFT_ANN_QUERIES", 50)
    val nClusters = 64
    val cpus = env.cpus
    val reps = env.reps(2)
    val runBrute = env.get("SPARK_GRAFT_ANN_BRUTE").getOrElse("1") == "1"

    // Distributed synthesis: cluster center c = id % nClusters on a sin
    // basis, plus 5% deterministic per-member noise (AnnSpec's clustered
    // fixture at scale). Staged to parquet so every timed region reads the
    // production input shape, not a cached projection.
    val dim = Ann.Dim
    val staged = graft.util.TempDirs.scratch("graft-ann-scale") + "/emb"
    spark.range(n).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), i -> " +
          s"sin((id % $nClusters) * $dim + i) + 0.05d * sin(id * 997 + i * 131))")
          .as("v"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(staged)
    def emb: DataFrame = spark.read.parquet(staged)

    // build: full-corpus nearest-centroid assignment + cell histogram
    // (centroid sample recomputed inside the timed region — it is part of
    // the index build).
    val (buildSec, buildReps, nCells) = minOf(reps) {
      val cents = Ann.ivfCentroids(emb, k)
      Ann.withUnit(emb)
        .withColumn("cid", Ann.ivfAssignCol(col("nv"), cents))
        .groupBy("cid").count().count()
    }

    val (ivfSec, ivfReps, nIvf) = minOf(reps) {
      Ann.ivfTopK(emb, nQueries = nQueries, k = 5, nCentroids = k, nProbe = nProbe).count()
    }

    // Brute is the baseline, not the subject: ONE timed run (no warm-up —
    // a cold figure only flatters IVF's side of the comparison), recall
    // computed driver-side from the two nQueries×5 result sets.
    val (bruteSec, recall) = if (runBrute) {
      val t0 = System.nanoTime()
      val brute = Ann.bruteTopK(emb, nQueries = nQueries, k = 5)
        .select(col("query_id"), col("neighbor_id")).collect()
      val s = (System.nanoTime() - t0) / 1e9
      val bruteSet = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = Ann.ivfTopK(emb, nQueries = nQueries, k = 5, nCentroids = k, nProbe = nProbe)
        .select(col("query_id"), col("neighbor_id")).collect()
        .count(r => bruteSet((r.getLong(0), r.getLong(1))))
      (s, hits.toDouble / (nQueries * 5))
    } else (-1.0, -1.0)

    // LSH near-dup at the same dimension, production-parameterized: band
    // width must grow with log N to keep buckets O(1)-sized (P=8 is the
    // sandbox width; at 2M uniform vectors it would put ~8k rows in every
    // bucket and the candidate set would be ~100× the corpus). P=20 keeps
    // E[bucket] ≈ 2 while a planted near-identical pair (cos ≈ 0.99997)
    // still collides in ≥1 of 4 bands with miss probability ~5×10⁻⁶.
    // Corpus: xxhash64-derived uniform components (a sin(a·id + b·i) basis
    // is a ONE-PARAMETER curve — ids with close phases are near-identical
    // across every component, flooding the 0.99 threshold with spurious
    // pairs; hash components are genuinely independent, so random pairs sit
    // ~8σ below it) + a planted +0.01 first-component variant for every
    // 10th id (Dedup.embCorpus's construction at scale).
    val lshPlanes = env.int("SPARK_GRAFT_ANN_LSH_PLANES", 20)
    val (lshSec, lshReps, lshPairs, lshRecall) =
      if (env.get("SPARK_GRAFT_ANN_LSH").getOrElse("1") == "1") {
        val stagedU = graft.util.TempDirs.scratch("graft-ann-scale") + "/embu"
        val base = spark.range(n).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), i -> " +
            "cast(xxhash64(id, i) % 1000 as double) / 1000.0d)").as("v"))
        base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + n).as("vec_id"),
            expr("concat(array(element_at(v, 1) + 0.01d), slice(v, 2, size(v) - 1))").as("v"))
          .unionByName(base)
          .repartition(cpus)
          .write.mode("overwrite").parquet(stagedU)
        def embU: DataFrame = spark.read.parquet(stagedU)
        val (s, rs, found) = minOf(reps) {
          Ann.lshPairs(embU, minCos = 0.99, bands = 4, nPlanes = lshPlanes)
            .filter(col("b") === col("a") + n && col("a") % 10 === 0)
            .count() // planted base→variant pairs found
        }
        val total = Ann.lshPairs(embU, minCos = 0.99, bands = 4, nPlanes = lshPlanes).count()
        (s, rs, total, found.toDouble / ((n + 9) / 10)) // planted = ceil(n/10)
      } else (-1.0, Seq.empty[Double], -1L, -1.0)

    s"""{"metric":"ann_scale","n_vectors":$n,"dim":$dim,"n_clusters":$nClusters,""" +
      s""""k_centroids":$k,"n_probe":$nProbe,"n_queries":$nQueries,"cells":$nCells,""" +
      s""""build_sec":${f"$buildSec%.3f"},"build_reps":${secs(buildReps)},""" +
      s""""assign_mvec_per_sec":${f"${n / buildSec / 1e6}%.2f"},""" +
      s""""ivf_topk_sec":${f"$ivfSec%.3f"},"ivf_reps":${secs(ivfReps)},"ivf_rows":$nIvf,""" +
      s""""brute_topk_sec":${f"$bruteSec%.3f"},"recall_at5":${f"$recall%.3f"},""" +
      s""""lsh_planes":$lshPlanes,"lsh_pairs_sec":${f"$lshSec%.3f"},""" +
      s""""lsh_reps":${secs(lshReps)},"lsh_pairs":$lshPairs,""" +
      s""""lsh_planted_recall":${f"$lshRecall%.3f"},"cpus":$cpus}"""
  }
}
