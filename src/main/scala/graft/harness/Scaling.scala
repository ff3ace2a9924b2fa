package graft.harness

import graft.Harness.{Env, secs, session}

/** `graft.Harness scaling` — scaling-efficiency measurement (BASELINE.md):
  * the identical flagship job at local[8] and local[32], BOTH LEVELS IN ONE
  * JVM via sequential SparkContexts, reps interleaved (8,32,8,32,...).
  *
  * One JVM matters on this sandbox: first-touch page faults to the
  * virtualized host are pathologically slow and made per-JVM timings vary
  * 10×+ (measured: touching 12 GB of fresh pages can exceed 300 s while pure
  * CPU work is stable at ±20%). Reusing one heap removes that noise from
  * the comparison; interleaving cancels any residual time-correlated drift.
  *
  * One JSON line: per-rep times, medians, efficiency = (T8/T32)/4.
  * SPARK_GRAFT_REPS defaults to 3, SPARK_GRAFT_AMPLIFY to 800.
  */
object Scaling {

  private def timedRun(cpus: Int, sfDir: String, amplify: Int): Double = {
    // tmpfs shuffle dir: block-device I/O on this host adds run-to-run
    // jitter that has nothing to do with CPU scaling
    val spark = session(cpus, "spark.local.dir" -> "/dev/shm/graft-spark")
    try {
      val t0 = System.nanoTime()
      // flagshipCount unpersists the rep's mention cache — interleaved reps
      // in one JVM must not accumulate cached Datasets
      graft.pipeline.Pipeline.flagshipCount(spark, sfDir, amplify)
      (System.nanoTime() - t0) / 1e9
    } finally spark.stop()
  }

  def run(env: Env): String = {
    val sfDir = env.sfDir
    // Default amplification is high on purpose: the per-run parallel work
    // must dwarf the ~5 s of fixed scheduler overhead per flagship run or
    // the 4× core comparison measures overhead, not scaling.
    val amplify = env.amplify(800)
    val reps = env.reps(3)
    // N and 4N cores (BASELINE.md allows any N; default 8→32). On one box,
    // 8→32 saturates the single memory bus — a contention that multi-node
    // scale-out does not have — so 2→8 is the fairer executor-scaling proxy.
    val n = env.int("SPARK_GRAFT_N", 8)
    val n4 = 4 * n

    // warm the JVM at both levels, at reduced size (codegen + class init +
    // JIT + heap pretouch; timings discarded)
    timedRun(n, sfDir, math.max(1, amplify / 8))
    timedRun(n4, sfDir, math.max(1, amplify / 8))

    val r8 = Array.ofDim[Double](reps)
    val r32 = Array.ofDim[Double](reps)
    (0 until reps).foreach { i =>
      r8(i) = timedRun(n, sfDir, amplify)
      r32(i) = timedRun(n4, sfDir, amplify)
    }
    def median(xs: Array[Double]): Double = xs.sorted.apply(xs.length / 2)
    val (t8, t32) = (median(r8), median(r32))
    // min-based figure too: min approximates unimpeded hardware (standard
    // microbenchmark practice) on a host with intermittent fault stalls
    val (m8, m32) = (r8.min, r32.min)
    val eff = (t8 / t32) / 4.0
    val effMin = (m8 / m32) / 4.0
    s"""{"metric":"scaling_efficiency","value":$eff,"n":$n,"t8_sec":$t8,"t32_sec":$t32,""" +
      s""""speedup":${t8 / t32},"efficiency_min":$effMin,"t8_min":$m8,"t32_min":$m32,""" +
      s""""runs8":${secs(r8)},"runs32":${secs(r32)},""" +
      s""""amplify":$amplify,"sf":"$sfDir"}"""
  }
}
