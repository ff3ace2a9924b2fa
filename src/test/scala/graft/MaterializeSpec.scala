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

  test("migrateLineage widens a pre-round-4 INT32 batch_id sidecar, then resume works") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-migrate").toString
    val ts = sampleTriples
    // Simulate a PRE-WIDENING binary's sidecar: write the first run's lineage
    // rows with batch_id narrowed back to INT32 (the old schema), replacing
    // the Long files the current writer produced.
    val firstRows = Materialize.writeTriples(
      ts.filter((t: Triple) => (t.url.split("/doc/")(1).toLong % 8) < 4),
      dir, nBuckets = 8, batchId = 0)
    val old = firstRows.map(r => (r.table, r.bucket, r.batch_id.toInt, r.n_rows))
      .toDF("table", "bucket", "batch_id", "n_rows")
    graft.util.TempDirs.delete(java.nio.file.Paths.get(s"$dir/_lineage"))
    old.write.parquet(s"$dir/_lineage")
    // Explicit utility: migrates once, then reports no-op.
    assert(Materialize.migrateLineage(spark, dir))
    assert(!Materialize.migrateLineage(spark, dir))
    val lineage = Materialize.readLineage(spark, dir)
    assert(lineage.schema("batch_id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(lineage.count() == 4)
    // A new-binary resume over the migrated sidecar appends Long rows into
    // the same dir and the mixed read stays green.
    val secondRows = Materialize.writeTriples(ts, dir, nBuckets = 8, batchId = 1)
    assert(secondRows.map(_.bucket).toSet == Set(4, 5, 6, 7))
    assert(Materialize.readLineage(spark, dir).agg(sum("n_rows")).head.getLong(0) == 40)
  }

  test("readLineage heals an interrupted migration swap (live dir missing, staged complete)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-heal").toString
    // Simulate the crash window between the two moves: the original sits at
    // .pre_migration, the fully-written widened dir at .migrated, and NO
    // live _lineage dir. A resume that read this as "fresh sink" would
    // re-append every completed bucket.
    Seq(("triples", 3, 7, 11L)).toDF("table", "bucket", "batch_id", "n_rows")
      .write.parquet(s"$dir/_lineage.pre_migration")
    Seq(("triples", 3, 7L, 11L)).toDF("table", "bucket", "batch_id", "n_rows")
      .write.parquet(s"$dir/_lineage.migrated")
    val lineage = Materialize.readLineage(spark, dir)
    assert(lineage.select("batch_id").as[Long].collect().toSeq == Seq(7L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_lineage")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/_lineage.pre_migration")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/_lineage.migrated")))
    // Earlier window (staged never finished → deleted, only the backup
    // remains): the ORIGINAL dir is restored and then migrated normally.
    val dir2 = java.nio.file.Files.createTempDirectory("graft-mat-heal2").toString
    Seq(("triples", 4, 9, 13L)).toDF("table", "bucket", "batch_id", "n_rows")
      .write.parquet(s"$dir2/_lineage.pre_migration")
    val l2 = Materialize.readLineage(spark, dir2)
    assert(l2.schema("batch_id").dataType == org.apache.spark.sql.types.LongType)
    assert(l2.select("batch_id").as[Long].collect().toSeq == Seq(9L))
  }

  test("readLineage auto-migrates an INT32 sidecar it has not verified this JVM") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mat-automigrate").toString
    Seq(("triples", 3, 7, 11L)).toDF("table", "bucket", "batch_id", "n_rows")
      .write.parquet(s"$dir/_lineage")
    val lineage = Materialize.readLineage(spark, dir)
    assert(lineage.schema("batch_id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(lineage.select("batch_id").as[Long].collect().toSeq == Seq(7L))
  }

  test("bucketCol derives the url-embedded id deterministically") {
    import spark.implicits._
    val df = Seq("https://a.example.org/doc/17", "https://b.example.org/doc/32")
      .toDF("url").withColumn("b", Materialize.bucketCol(16))
    assert(df.select("b").as[Int].collect().toSeq == Seq(1, 0))
  }
}
