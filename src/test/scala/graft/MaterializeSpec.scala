package graft

import org.apache.spark.sql.functions._
import graft.materialize.Materialize
import graft.model.Triple

class MaterializeSpec extends SparkSpec {

  private def sampleTriples = {
    import spark.implicits._
    (0 until 40).map { i =>
      Triple(s"e$i", "mentioned_in", s"https://x/doc/$i", s"https://x/doc/$i", 1.0)
    }.toDS()
  }

  test("writeTriples is resumable: second run writes only missing buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mat").toString
    val ts = sampleTriples
    // first run: restrict to buckets 0..3 by filtering input urls
    val firstRows = Materialize.writeTriples(
      ts.filter((t: Triple) => (t.url.split("/doc/")(1).toLong % 8) < 4),
      dir, nBuckets = 8, batchId = 0)
    assert(firstRows.map(_.bucket).toSet == Set(0, 1, 2, 3))
    // resumed run over the FULL input: must write only buckets 4..7
    val secondRows = Materialize.writeTriples(ts, dir, nBuckets = 8, batchId = 1)
    assert(secondRows.map(_.bucket).toSet == Set(4, 5, 6, 7))
    // materialized table has every row exactly once
    assert(Materialize.readTriples(spark, dir).count() == 40)
    // lineage covers all 8 buckets, 5 rows each (40 ids round-robin over 8)
    val lineage = Materialize.readLineage(spark, dir)
    assert(lineage.count() == 8)
    assert(lineage.agg(sum("n_rows")).head.getLong(0) == 40)
    // idempotent: a third run writes nothing
    assert(Materialize.writeTriples(ts, dir, nBuckets = 8, batchId = 2).isEmpty)
    // sidecar layout: each append lands as ONE part file (the ≤nBuckets-row
    // metadata write is coalesced — not one row per task), so resume
    // lookups read a file per completed batch, not per row
    val parts = new java.io.File(Materialize.lineagePath(dir)).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(parts.length == 2, s"expected 2 lineage part files, got ${parts.length}")
  }

  test("instrumented emits one metric row per partition with exact row counts") {
    import spark.implicits._
    val acc = Materialize.newMetricsAcc(spark, "m")
    val ds = spark.range(100).map(_.toString).repartition(4)
    val out = Materialize.instrumented(ds, "stage1", acc)
    assert(out.count() == 100)
    import scala.jdk.CollectionConverters._
    val rows = acc.value.asScala.toList
    assert(rows.map(_.partition_id).toSet.size == 4)
    assert(rows.map(_.rows_out).sum == 100)
    assert(rows.forall(_.stage == "stage1"))
  }

  test("S5 json sink round-trips rows; S6 sorted text sink is globally ordered") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-sinks").toString
    val df = Seq(("Maria", "PERSON", 3L), ("Ana", "PERSON", 1L), ("Zoe", "PERSON", 2L))
      .toDF("surface", "label", "n")
    Materialize.writeJson(df, s"$dir/json")
    val back = spark.read.json(s"$dir/json")
    assert(back.count() == 3)
    assert(back.select("surface", "label", "n").as[(String, String, Long)]
      .collect().toSet == Set(("Maria", "PERSON", 3L), ("Ana", "PERSON", 1L), ("Zoe", "PERSON", 2L)))

    Materialize.writeSortedText(df.repartition(3), "surface", s"$dir/txt")
    // global order: part files sorted by name concatenate to a sorted list
    val files = new java.io.File(s"$dir/txt").listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val lines = files.flatMap(f =>
      java.nio.file.Files.readAllLines(f.toPath).toArray.map(_.toString))
    assert(lines.toSeq == Seq("Ana", "Maria", "Zoe"))
  }

  /** Types of batch_id, one per lineage part file, each read under its own
    * footer. */
  private def batchIdTypes(dir: String): Set[org.apache.spark.sql.types.DataType] =
    new java.io.File(Materialize.lineagePath(dir)).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).schema("batch_id").dataType).toSet

  test("readLineage reads INT32 batch_id files as BIGINT beside new INT64 appends") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-int32").toString
    val ts = sampleTriples
    // A sidecar written before batch_id widened to Long: the first run's
    // lineage rows with batch_id narrowed back to INT32, replacing the Long
    // files the current writer produced.
    val firstRows = Materialize.writeTriples(
      ts.filter((t: Triple) => (t.url.split("/doc/")(1).toLong % 8) < 4),
      dir, nBuckets = 8, batchId = 0)
    val old = firstRows.map(r => (r.table, r.bucket, r.batch_id.toInt, r.n_rows))
      .toDF("table", "bucket", "batch_id", "n_rows")
    graft.util.TempDirs.delete(java.nio.file.Paths.get(s"$dir/_lineage"))
    old.write.parquet(s"$dir/_lineage")
    val lineage = Materialize.readLineage(spark, dir)
    assert(lineage.schema("batch_id").dataType == LongType)
    assert(lineage.count() == 4)
    // The resume appends Long rows into the same dir, which now mixes both
    // widths, and the mixed dir still reads as one BIGINT table.
    val secondRows = Materialize.writeTriples(ts, dir, nBuckets = 8, batchId = 1)
    assert(secondRows.map(_.bucket).toSet == Set(4, 5, 6, 7))
    assert(batchIdTypes(dir) == Set(IntegerType, LongType))
    assert(Materialize.readLineage(spark, dir).agg(sum("n_rows")).head.getLong(0) == 40)
    assert(Materialize.readLineage(spark, dir).select("batch_id").as[Long].collect().toSet ==
      Set(0L, 1L))
    assert(Materialize.writeTriples(ts, dir, nBuckets = 8, batchId = 2).isEmpty)
  }

  test("an INT32-only lineage sidecar reads as BIGINT and resumes") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-int32only").toString
    // Buckets 0-3 committed by an older binary: 5 rows each, INT32 batch_id.
    (0 until 4).map(b => ("triples", b, 7, 5L)).toDF("table", "bucket", "batch_id", "n_rows")
      .write.parquet(s"$dir/_lineage")
    val lineage = Materialize.readLineage(spark, dir)
    assert(lineage.schema("batch_id").dataType == LongType)
    assert(lineage.select("batch_id").as[Long].collect().toSeq == Seq.fill(4)(7L))
    assert(Materialize.doneBuckets(spark, dir, "triples") == Set(0, 1, 2, 3))
    val resumed = Materialize.writeTriples(sampleTriples, dir, nBuckets = 8, batchId = 8)
    assert(resumed.map(_.bucket).toSet == Set(4, 5, 6, 7))
    assert(batchIdTypes(dir) == Set(IntegerType, LongType))
    assert(Materialize.readLineage(spark, dir).agg(sum("n_rows")).head.getLong(0) == 40)
  }

  test("bucketCol derives the url-embedded id deterministically") {
    import spark.implicits._
    val df = Seq("https://a.example.org/doc/17", "https://b.example.org/doc/32")
      .toDF("url").withColumn("b", Materialize.bucketCol(16))
    assert(df.select("b").as[Int].collect().toSeq == Seq(1, 0))
  }
}
