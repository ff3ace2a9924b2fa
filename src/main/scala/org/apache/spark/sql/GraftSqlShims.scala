package org.apache.spark.sql

/** Narrow access shims into `private[sql]` Spark internals, used only where
  * the public API cannot express the needed behavior. Kept deliberately tiny.
  */
object GraftSqlShims {

  /** Local checkpoint that does NOT carry the origin plan's estimated
    * statistics into the resulting `LogicalRDD`.
    *
    * Why this exists: Spark 4's `Dataset.localCheckpoint` preserves the
    * pre-checkpoint plan's stats via `LogicalRDD.rewriteStatsAndConstraints`
    * (sql/core ExistingRDD.scala:200,263). For ITERATIVE algorithms that
    * checkpoint every round (connected components), this is quadratic
    * poison: each round's plan joins two stat-carrying LogicalRDDs, the
    * size-only stats visitor MULTIPLIES children's `sizeInBytes`
    * (SizeInBytesOnlyStatsPlanVisitor.visitJoin), and the product is stored
    * into the next checkpoint — so sizeInBytes SQUARES every round. After
    * ~10 rounds the driver spends minutes in BigInteger.multiplyToomCook3
    * computing million-digit "statistics" (observed: 891 s of driver CPU on
    * a 10k-edge graph). There is no public conf to opt out, hence this shim:
    * checkpoint the materialized `InternalRow` RDD and rebuild the frame
    * with `internalCreateDataFrame`, whose `LogicalRDD` carries only default
    * stats. Join planning falls back to `defaultSizeInBytes` estimates; AQE
    * re-plans with real runtime sizes, so physical strategy quality is
    * unaffected. The same squaring explains every cut made through this
    * shim, inside the CC loop or not: a stat-carrying cut that feeds a
    * join passes the product on.
    *
    * Lazy, and NOT free to build: `queryExecution.toRdd` prepares the
    * executed plan, and under AQE that runs every shuffle map stage of `df`
    * as its own job, right here (the final stage is planned from their
    * runtime sizes). Only the final stage is deferred: it runs inside the
    * FIRST consumer action, and local checkpoints cache partitions as they
    * are computed — later consumers read the stored blocks. Use when a
    * consumer action provably follows — e.g. the CC loop, where each
    * round's star output is consumed by a checksum aggregate in the same
    * driver step; an eager count() there was a pure extra job per round
    * (~1/3 of the loop's fixed per-round latency on small graphs).
    */
  def localCheckpointFreshLazy(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = ds.sparkSession
    // copy(): unsafe rows are buffer-reused per partition; checkpointed
    // storage must own its bytes (same guard Dataset.checkpoint applies)
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    spark.internalCreateDataFrame(rdd, ds.schema)
  }

  /** `df` re-wrapped as a `LogicalRDD` over its executed RDD, so all
    * consumers share one lineage: a shuffle in `df` runs its map stage once
    * (under AQE, here, as in [[localCheckpointFreshLazy]]) and later jobs
    * skip it, where a plain frame re-plans and reruns it per action. The
    * stage after the last exchange reruns per consumer; nothing is stored
    * but shuffle files. Default statistics, like the checkpoint's. */
  def sharedShuffle(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }

  /** True iff the session's cache manager holds no cached plans — lets a
    * test assert that an unpersist/evict hook really emptied the cache
    * (CacheManager is `private[sql]`, hence the shim).
    */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
