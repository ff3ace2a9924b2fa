package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Harness.{Env, minOf, secs}
import graft.dedup.Dedup

/** Corpus-scale evidence for the text-dedup map side (shingling + MinHash
  * signatures) at the million-document dimension. Shingling is the map
  * stage every text-dedup path pays on ALL input bytes — at 100 TB it runs
  * before any pruning — so its per-row form matters more than any join
  * below it. [[Dedup.shingles]] now emits shingles from one native pass
  * ([[graft.dedup.WordShingles]]); `graft.Harness dedup` measures it
  * against the pre-round-5 HOF form (inlined verbatim as the baseline),
  * distinct-shingle counts `require`d equal, plus the full xxhash64 MinHash
  * signature build over the native form — per the repo's noise protocol
  * (untimed warm-up, min of `SPARK_GRAFT_REPS`, default 2).
  *
  * Corpus: `SPARK_GRAFT_TS_N` docs (default 2M) × `SPARK_GRAFT_TS_TOKENS`
  * tokens (default 40) drawn xxhash64-uniform from a 5k-word vocabulary
  * (large enough that shingles are near-unique — worst case for the
  * distinct), synthesized DISTRIBUTED and staged to parquet.
  */
object DedupScale {

  /** The pre-round-5 shingle plan, kept as the measured baseline. */
  private def shinglesHof(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= Dedup.ShingleN)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${Dedup.ShingleN - 1}), i -> concat_ws(' ', slice(w, i, ${Dedup.ShingleN})))"
      )).as("s"))
      .distinct()

  /** The pre-round-5 SimHash pairing — minimal pigeonhole, k+1 contiguous
    * bands of 16 bits — kept as the measured baseline for the (b−k)-block
    * combination scheme that replaced it ([[Dedup.simhashPairs]]).
    */
  private def simhashCandidatesBanded(corpus: DataFrame, k: Int): DataFrame = {
    val nBands = k + 1
    val width = 64 / nBands
    val packed = Dedup.simhash(corpus).select(col("doc_id"),
      conv(substring(col("simhash"), 1, 32), 2, 10).cast("long").as("x1"),
      conv(substring(col("simhash"), 33, 32), 2, 10).cast("long").as("x2"),
      posexplode(array((0 until nBands).map(b =>
        substring(col("simhash"), b * width + 1, width)): _*)).as(Seq("band", "key")))
    packed.as("x").join(packed.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (expr("bit_count(x.x1 ^ y.x1)") + expr("bit_count(x.x2 ^ y.x2)"))
          .cast("long").as("hamming"))
  }

  private def simhashPairsBanded(corpus: DataFrame, k: Int): DataFrame =
    simhashCandidatesBanded(corpus, k)
      .filter(col("hamming") <= k)
      .distinct()

  /** The pre-round-5 SimHash fingerprint — explode tokens → distinct → md5
    * → 64 sum aggregates — kept as the measured baseline for the native
    * one-pass map expression that replaced it ([[graft.dedup.SimHash64]]).
    */
  private def simhashGroupBy(corpus: DataFrame): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .distinct()
      .withColumn("h", md5(col("t")))
    val bitAggs = (0 until 64).map { b =>
      val bit = expr(
        s"shiftright(cast(conv(substring(h, ${b / 4 + 1}, 1), 16, 10) as int), ${3 - b % 4}) & 1")
      sum(bit * 2 - 1).as(s"acc$b")
    }
    toks.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), concat((0 until 64).map(b =>
        when(col(s"acc$b") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
  }

  def run(spark: SparkSession, env: Env): String = {
    val n = env.long("SPARK_GRAFT_TS_N", 2000000L)
    val tokens = env.int("SPARK_GRAFT_TS_TOKENS", 40)
    val cpus = env.cpus
    val reps = env.reps(2)

    val staged = graft.util.TempDirs.scratch("graft-dedup-scale") + "/docs"
    spark.range(n).select(col("id").as("doc_id"),
        expr(s"array_join(transform(sequence(0, ${tokens - 1}), i -> " +
          s"concat('w', cast(pmod(xxhash64(id, i), 5000) as string))), ' ')")
          .as("text"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(staged)
    def docs: DataFrame = spark.read.parquet(staged)

    // simhash corpus: docs ∪ exact copies of every 1000th doc. Random
    // 40-token docs sit at Hamming ~32 from each other, so the planted
    // copies (Hamming 0) are the ONLY pairs within the radius — the banded
    // join's output count is exactly checkable at scale.
    val nPlanted = (n + 999) / 1000 // ids 0..n−1 with id % 1000 == 0 → ceil
    val simCorpus = docs.unionByName(
      docs.filter(col("doc_id") % 1000 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
    // fingerprint stage isolated, native vs aggregate baseline — forced
    // through a (doc_id, simhash) multiset checksum so the map expression
    // can't be pruned, and the two forms are content-compared at full scale
    def fpChecksum(fp: DataFrame): Long =
      fp.agg(sum(hash(col("doc_id"), col("simhash")))).head.getLong(0)
    val (fpSec, fpReps, fpSum) = minOf(reps)(fpChecksum(Dedup.simhash(simCorpus)))
    val (fpGbSec, fpGbReps, fpGbSum) = minOf(reps)(fpChecksum(simhashGroupBy(simCorpus)))
    require(fpSum == fpGbSum, s"fingerprint form drift: native=$fpSum groupBy=$fpGbSum")

    val (simSec, simReps, simPairs) = minOf(reps)(Dedup.simhashPairs(simCorpus).count())
    require(simPairs == nPlanted, s"simhash pairs drift: got $simPairs, planted $nPlanted")
    val (bandSec, bandReps, bandPairs) =
      minOf(reps)(simhashPairsBanded(simCorpus, graft.model.Config.SimHashMaxHamming).count())
    require(bandPairs == nPlanted, s"banded baseline drift: got $bandPairs, planted $nPlanted")

    // candidate volume BEFORE verification — the quadratically-growing term
    // the block-count choice controls (banded 16-bit keys: ~nBands·n²/2¹⁷
    // random collisions; 20 combination keys of ~32 bits: ~20·n²/2³³).
    // Counted once each (no timing: the pair timings above already include
    // probing them).
    val comboCands = Dedup.simhashCandidates(simCorpus,
      graft.model.Config.SimHashMaxHamming, graft.model.Config.SimHashBlocks).count()
    val bandCands = simhashCandidatesBanded(simCorpus,
      graft.model.Config.SimHashMaxHamming).count()

    val (natSec, natReps, natCount) = minOf(reps)(Dedup.shingles(docs).count())
    val (hofSec, hofReps, hofCount) = minOf(reps)(shinglesHof(docs).count())
    require(natCount == hofCount, s"shingle form drift: native=$natCount hof=$hofCount")

    // full signature build over the native form, production hash family:
    // the one-groupBy k-min aggregate; forced through a checksum of the
    // signature columns so no aggregate can be pruned
    val (sigSec, sigReps, _) = minOf(reps) {
      val sig = Dedup.minhashSignature(Dedup.shingles(docs), "xxhash64")
      val cols = (0 until graft.model.Config.MinHashK).map(i => col(s"h$i"))
      sig.agg(sum(hash(cols: _*))).head.getLong(0)
    }

    // incremental exact dedup, PRODUCTION-SHAPED: the index and the 1%
    // delta are their own staged tables (a delta arriving as a filter over
    // the historical corpus would re-scan every historical byte, defeating
    // the point). The fold reads delta text + dimension-sized index — it
    // never re-reads or re-hashes historical text, which is the whole
    // 100-TB argument; exactness (fold == full-corpus exact) `require`d.
    val scratchIncr = graft.util.TempDirs.scratch("graft-dedup-scale")
    val stagedIdx = scratchIncr + "/index"
    val stagedDelta = scratchIncr + "/delta"
    val deltaSplit = col("doc_id") % 100
    Dedup.exact(docs.filter(deltaSplit =!= 0))
      .write.mode("overwrite").parquet(stagedIdx)
    docs.filter(deltaSplit === 0).write.mode("overwrite").parquet(stagedDelta)
    def idxChecksum(df: DataFrame): Long =
      df.agg(coalesce(sum(hash(col("h"), col("n_docs"), col("keeper"))), lit(0L)))
        .head.getLong(0)
    val (exFullSec, exFullReps, exFullSum) = minOf(reps)(idxChecksum(Dedup.exact(docs)))
    val (exIncrSec, exIncrReps, exIncrSum) = minOf(reps)(idxChecksum(
      Dedup.exactIncremental(spark.read.parquet(stagedIdx),
        spark.read.parquet(stagedDelta))))
    require(exFullSum == exIncrSum,
      s"incremental fold drift: full=$exFullSum incremental=$exIncrSum")

    s"""{"metric":"dedup_scale","n_docs":$n,"tokens_per_doc":$tokens,""" +
      s""""n_distinct_shingles":$natCount,"counts_equal":true,""" +
      s""""shingle_native_sec":${f"$natSec%.3f"},"shingle_native_reps":${secs(natReps)},""" +
      s""""shingle_native_mdocs_per_sec":${f"${n / natSec / 1e6}%.2f"},""" +
      s""""shingle_hof_sec":${f"$hofSec%.3f"},"shingle_hof_reps":${secs(hofReps)},""" +
      s""""minhash_sig_sec":${f"$sigSec%.3f"},"minhash_sig_reps":${secs(sigReps)},""" +
      s""""simhash_fp_sec":${f"$fpSec%.3f"},"simhash_fp_reps":${secs(fpReps)},""" +
      s""""simhash_fp_gb_sec":${f"$fpGbSec%.3f"},"simhash_fp_gb_reps":${secs(fpGbReps)},""" +
      s""""simhash_pairs_sec":${f"$simSec%.3f"},"simhash_pairs_reps":${secs(simReps)},""" +
      s""""simhash_band_sec":${f"$bandSec%.3f"},"simhash_band_reps":${secs(bandReps)},""" +
      s""""simhash_combo_candidates":$comboCands,"simhash_band_candidates":$bandCands,""" +
      s""""simhash_planted_pairs":$nPlanted,"simhash_pairs_exact":true,""" +
      s""""exact_full_sec":${f"$exFullSec%.3f"},"exact_full_reps":${secs(exFullReps)},""" +
      s""""exact_incr_sec":${f"$exIncrSec%.3f"},"exact_incr_reps":${secs(exIncrReps)},""" +
      s""""exact_incr_equal":true,""" +
      s""""cpus":$cpus}"""
  }
}
