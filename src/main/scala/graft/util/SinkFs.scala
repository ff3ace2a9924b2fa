package graft.util

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Sink-side filesystem operations through the Hadoop FileSystem API, so
  * the materialized-sink machinery (batch-dir listings, sidecar deletes,
  * existence probes) works on whatever store the sink URI names — local
  * file://, HDFS, s3a://… — not just java.nio's local filesystem. Every
  * Spark read/write already goes through this layer; these helpers cover
  * the driver-side metadata operations around them, e.g. the batch
  * sink's lineage probe ([[graft.materialize.Materialize.readLineage]]).
  *
  * Deletion here is LOUD (IllegalStateException on failure): these calls
  * maintain sink invariants (a truncated sidecar, an emptied partition), so
  * a swallowed failure would surface later as silent table/lineage drift.
  * Contrast [[TempDirs.delete]], whose best-effort semantics are right for
  * JVM-exit scratch cleanup and wrong here.
  */
object SinkFs {

  private def fs(spark: SparkSession, p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  def exists(spark: SparkSession, p: String): Boolean = {
    val (f, hp) = fs(spark, p)
    f.exists(hp)
  }

  /** Child names under `dir` starting with `prefix`; Nil if `dir` absent. */
  def listPrefixed(spark: SparkSession, dir: String, prefix: String): Seq[String] = {
    val (f, hp) = fs(spark, dir)
    if (!f.exists(hp)) Nil
    else f.listStatus(hp).toSeq.map(_.getPath.getName).filter(_.startsWith(prefix))
  }

  /** Create an empty flag file, parents included (the `_DONE` publication
    * convention: create+close after a multi-file write completes is the
    * closest to an atomic commit every Hadoop FS offers). */
  def touch(spark: SparkSession, p: String): Unit = {
    val (f, hp) = fs(spark, p)
    f.create(hp, true).close()
  }

  /** Recursive delete that must succeed (or find nothing to delete). */
  def deleteLoud(spark: SparkSession, p: String): Unit = {
    val (f, hp) = fs(spark, p)
    if (f.exists(hp) && !f.delete(hp, true))
      throw new IllegalStateException(s"failed to delete sink path $p")
  }
}
