package graft

import org.apache.spark.sql.functions._
import graft.canon.Canon
import graft.pipeline.Pipeline

/** The spark-submit entry point, driven end to end through [[Submit.run]]
  * with an explicit page table (the production input shape) — batch
  * materialize + resume, lambda wiring (batch --canon-out → stream --canon),
  * and the no-canon-yet raw ingest healed by compact. All sinks use the
  * default url-HASH bucket scheme, so these tests also pin
  * [[graft.materialize.Materialize.hashBucketCol]]'s lineage accounting.
  */
class SubmitSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(name: String) = graft.util.TempDirs.scratch(name).toString

  /** Page table staged to parquet — what a production caller points
    * --input at. */
  private lazy val pagesDir: String = {
    val dir = scratch("graft-submit-pages")
    graft.sources.Pages.synthesize(spark, sfTiny).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/pages")
    s"$dir/pages"
  }

  /** The batch flagship's fingerprint over the same corpus, computed
    * directly (the equivalence target for every Submit path). */
  private lazy val batchChecksum: (Long, Long) =
    Pipeline.tripleChecksum(Pipeline.triples(spark, sfTiny).toDF())

  private def sinkChecksum(out: String): (Long, Long) =
    Pipeline.tripleChecksum(spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj", "url", "score"))

  test("submit batch materializes the flagship triples with hash-bucket lineage, and resumes as a no-op") {
    val out = scratch("graft-submit-batch")
    Submit.run(spark, Array("batch", "--input", pagesDir, "--output", out))
    assert(sinkChecksum(out) == batchChecksum)
    val lineage = spark.read.parquet(s"$out/_lineage")
    val nTable = spark.read.parquet(s"$out/triples").count()
    assert(lineage.agg(sum("n_rows")).head.getLong(0) == nTable)
    // hash buckets are in range and the partition dirs agree with lineage
    val buckets = lineage.select("bucket").as[Int].collect().toSet
    assert(buckets.forall(b => b >= 0 && b < 16))
    // resume: a second run finds every bucket done and writes nothing
    val lineageRowsBefore = lineage.count()
    Submit.run(spark, Array("batch", "--input", pagesDir, "--output", out))
    assert(spark.read.parquet(s"$out/triples").count() == nTable)
    assert(spark.read.parquet(s"$out/_lineage").count() == lineageRowsBefore)
  }

  test("submit batch resumes as a no-op on a file:// URI output") {
    val out = new java.io.File(scratch("graft-submit-uri")).toURI.toString.stripSuffix("/")
    assert(out.startsWith("file:/"))
    def batch(): String = {
      val printed = new java.io.ByteArrayOutputStream()
      Console.withOut(printed)(Submit.run(spark, Array("batch", "--input", pagesDir, "--output", out)))
      printed.toString
    }
    batch()
    val nTable = spark.read.parquet(s"$out/triples").count()
    val nLineage = spark.read.parquet(s"$out/_lineage").count()
    val second = batch()
    assert(second.contains("0 new buckets (16 resumed)"), second)
    assert(spark.read.parquet(s"$out/triples").count() == nTable)
    assert(spark.read.parquet(s"$out/_lineage").count() == nLineage)
  }

  /** The page table plus a second file re-crawling every 4th url: a later
    * warc_ts and the same <p> layout (so the same (page, seg_no)
    * numbering), but every planted PERSON swapped for another one. */
  private lazy val recrawlDir: String = {
    import graft.model.{Gazetteer, Page}
    val dir = scratch("graft-submit-recrawl") + "/pages"
    val pages = spark.read.parquet(pagesDir).as[Page]
    pages.write.parquet(dir)
    val persons = Gazetteer.persons
    val next = persons.indices.map(i => persons(i) -> persons((i + 7) % persons.length)).toMap
    val re = persons.sortBy(-_.length).map(java.util.regex.Pattern.quote).mkString("|").r
    def swap(s: String) =
      re.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(next(m.matched)))
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    pages.filter(pmod(xxhash64(col("url")), lit(4)) === 0).collect().toSeq
      .map(p => p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
        html = swap(new String(p.html, utf8)).getBytes(utf8), text = swap(p.text)))
      .toDS().coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  /** `cooccurrence ∪ mentionedIn` and `canonicalMap` over a page table:
    * the join forms, exact for repeated urls by their own shuffles. */
  private def joinReference(pages: String): ((Long, Long), Long) = {
    import graft.relations.Relations
    val ms = graft.mentions.Mentions.scanWithRecall(
      graft.extract.Extract.segments(graft.sources.Pages.fromParquet(spark, pages)),
      graft.model.Gazetteer.all.toArray).cache()
    try {
      val canon = graft.canon.Canon.canonicalMap(ms)
      (Pipeline.tripleChecksum(Relations.cooccurrence(ms)
        .unionByName(Relations.mentionedIn(ms, canon)).toDF()),
        graft.canon.Canon.aliasFingerprint(canon))
    } finally ms.unpersist()
  }

  test("re-crawled urls: batch equals cooccurrence ∪ mentionedIn and canonicalMap, on both bucket schemes and both alias shapes") {
    import graft.canon.Canon
    import graft.materialize.Materialize
    val recrawled = spark.read.parquet(recrawlDir).groupBy("url").count()
      .filter(col("count") > 1).count()
    assert(recrawled > 0, "the table must repeat some urls")
    val (triples, alias) = joinReference(recrawlDir)
    assert(triples != batchChecksum, "the re-crawl must change the triples")
    def check(out: String, what: String, want: ((Long, Long), Long) = (triples, alias)): Unit = {
      assert(sinkChecksum(s"$out/sink") == want._1, what)
      assert(Canon.aliasFingerprint(spark.read.parquet(s"$out/alias")) == want._2, what)
    }
    // one batch of `pages` into `out`/sink at `p` shuffle partitions; the
    // alias map through the CLI, or kept a DataFrame (maxRows = 0: the
    // join-form branch) through Submit.batch
    def batch(pages: String, out: String, scheme: String, frame: Boolean, p: Int): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try {
        if (frame) Submit.batch(graft.sources.Pages.fromParquet(spark, pages),
          graft.model.Gazetteer.all.toArray, s"$out/sink", nBuckets = 16, batchId = 0L,
          bucketOf = if (scheme == "hash") Materialize.hashBucketCol else Materialize.bucketCol,
          canonOut = Some(s"$out/alias"), maxRows = 0)
        else Submit.run(spark, Array("batch", "--input", pages, "--output", s"$out/sink",
          "--canon-out", s"$out/alias", "--bucket-by", scheme))
      } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    def lineage(out: String): Set[(Int, Long)] =
      Materialize.readLineage(spark, s"$out/sink").as[Materialize.LineageRow].collect()
        .map(r => r.bucket -> r.n_rows).toSet
    for (scheme <- Seq("hash", "docid"); frame <- Seq(false, true)) {
      val what = s"--bucket-by $scheme, ${if (frame) "AliasFrame" else "AliasMap"}"
      val out4 = scratch(s"graft-submit-recrawl-$scheme-$frame-4")
      batch(recrawlDir, out4, scheme, frame, p = 4)
      check(out4, what)
      // 3 partitions do not divide the 16 buckets
      val out = scratch(s"graft-submit-recrawl-$scheme-$frame-3")
      batch(recrawlDir, out, scheme, frame, p = 3)
      check(out, s"$what, p = 3")
      // resume: the even buckets stay committed, the odd ones' lineage and
      // files go; the rerun filters the pending buckets after the shared
      // exchange and must commit exactly the odd ones again
      val full = lineage(out)
      graft.util.TempDirs.delete(java.nio.file.Paths.get(s"$out/sink/_lineage"))
      full.filter(_._1 % 2 == 0).toSeq
        .map { case (b, n) => Materialize.LineageRow("triples", b, 0L, n) }
        .toDS().coalesce(1).write.parquet(s"$out/sink/_lineage")
      full.filter(_._1 % 2 == 1).foreach { case (b, _) =>
        graft.util.TempDirs.delete(java.nio.file.Paths.get(s"$out/sink/triples/bucket=$b"))
      }
      batch(recrawlDir, out, scheme, frame, p = 4)
      check(out, s"$what, resumed")
      assert(lineage(out) == full, what)
    }

    // A url without the /doc/N suffix has no docid bucket: under ANSI
    // casts the docid batch fails in the shared exchange's map stage,
    // naming the bucket column, and writes nothing.
    val noDoc = scratch("graft-submit-nodocid")
    spark.read.parquet(pagesDir).limit(20).withColumn("url", concat(col("url"), lit("/v2")))
      .write.parquet(s"$noDoc/pages")
    val e = intercept[Exception](batch(s"$noDoc/pages", noDoc, "docid", frame = false, p = 4))
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")
    assert(msg.contains("CAST_INVALID_INPUT") && msg.contains("Materialize$.bucketCol"), msg)
    assert(!new java.io.File(s"$noDoc/sink/triples").exists())
  }

  test("lambda wiring: batch --canon-out feeds stream --canon; stream sink equals the batch flagship") {
    val out = scratch("graft-submit-lambda")
    Submit.run(spark, Array("batch", "--input", pagesDir,
      "--output", s"$out/batch_sink", "--canon-out", s"$out/alias"))
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$out/stream_sink", "--checkpoint", s"$out/ckpt",
      "--canon", s"$out/alias", "--files-per-trigger", "2"))
    assert(sinkChecksum(s"$out/stream_sink") == batchChecksum)
  }

  test("no-canon-yet ingest lands raw provenance; compact canonicalizes it to the batch flagship") {
    val out = scratch("graft-submit-raw")
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$out/sink", "--checkpoint", s"$out/ckpt",
      "--files-per-trigger", "2"))
    // raw: provenance subjects are surface forms — the corpus plants fuzzy
    // variants, so at least one subject differs from its canonical and the
    // raw fingerprint cannot equal the batch flagship's
    val raw = sinkChecksum(s"$out/sink")
    assert(raw != batchChecksum, "raw drain should differ until compacted")
    Submit.run(spark, Array("compact", "--output", s"$out/sink",
      "--input", pagesDir))
    assert(sinkChecksum(s"$out/sink") == batchChecksum)
    // idempotent: a second compact is the zero-rewrite fast path
    Submit.run(spark, Array("compact", "--output", s"$out/sink",
      "--input", pagesDir))
    assert(sinkChecksum(s"$out/sink") == batchChecksum)
  }

  test("--gazetteer loads the scan dimension from parquet") {
    val out = scratch("graft-submit-gaz")
    // a one-PERSON gazetteer: provenance triples exist (so the sink is
    // non-empty and readable) but can only ever name that surface
    val one = Seq(graft.model.Gazetteer.all.find(_._2 == "PERSON").get)
    one.toDF("surface", "label").write.parquet(s"$out/gaz")
    Submit.run(spark, Array("batch", "--input", pagesDir,
      "--output", s"$out/sink", "--gazetteer", s"$out/gaz"))
    val sink = spark.read.parquet(s"$out/sink/triples")
    // single-label gazetteer ⇒ no co-occurrence rule can fire: provenance
    // only, and all of it names the one surface's canonical cluster
    val preds = sink.select("pred").distinct().as[String].collect().toSet
    assert(preds == Set(graft.relations.Relations.ProvPred))
    assert(sink.select("subj").distinct().count() == 1)
  }

  test("repair rebuilds lost sidecars from the table through the CLI") {
    val out = scratch("graft-submit-repair")
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$out/sink", "--checkpoint", s"$out/ckpt",
      "--files-per-trigger", "2"))
    val nTable = spark.read.parquet(s"$out/sink/triples").count()
    // simulate the compaction crash window: one batch's lineage vanishes
    val victims = new java.io.File(s"$out/sink/_lineage").listFiles()
      .filter(_.getName.startsWith("batch-")).sortBy(_.getName)
    assert(victims.nonEmpty)
    graft.util.TempDirs.delete(victims.head.toPath)
    Submit.run(spark, Array("repair", "--output", s"$out/sink"))
    assert(spark.read.parquet(s"$out/sink/_lineage/*")
      .agg(sum("n_rows")).head.getLong(0) == nTable)
    assert(spark.read.parquet(s"$out/sink/_metrics/*")
      .agg(sum("rows_out")).head.getLong(0) == nTable)
  }

  test("refresh folds page deltas into a versioned canon state, equal to the full job, and feeds the stream") {
    val dir = scratch("graft-submit-refresh")
    val pages = spark.read.parquet(pagesDir)
    val half = pmod(xxhash64(col("url")), lit(2))
    pages.filter(half === 0).write.parquet(s"$dir/delta0")
    pages.filter(half === 1).write.parquet(s"$dir/delta1")

    def aliasMap(v: Int): Map[String, String] =
      spark.read.parquet(s"$dir/state/v$v/alias").collect()
        .map(r => r.getAs[String]("surface") -> r.getAs[String]("canonical")).toMap
    val full = Pipeline.canonCached(spark, sfTiny).collect()
      .map(r => r.getAs[String]("surface") -> r.getAs[String]("canonical")).toMap
    // runs one refresh publishing v`v`; its summary line's surface count
    // must be the published alias table's row count
    def refresh(v: Int, args: String*): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(Submit.run(spark, ("refresh" +: args).toArray))
      val printed = raw"-> v$v \((\d+) surfaces\)".r.findFirstMatchIn(out.toString)
        .getOrElse(fail(s"no v$v surface count in: $out")).group(1).toLong
      assert(printed == spark.read.parquet(s"$dir/state/v$v/alias").count())
    }

    // initial refresh = full job over delta0, published as v0
    refresh(0, "--input", s"$dir/delta0", "--state", s"$dir/state")
    assert(new java.io.File(s"$dir/state/v0/_DONE").exists())
    // the state is read back with the declared schemas: they must be the
    // ones the job writes
    Seq("stats" -> Canon.StatsSchema, "alias" -> Canon.AliasSchema).foreach { case (t, ddl) =>
      def shape(st: org.apache.spark.sql.types.StructType) = st.map(f => f.name -> f.dataType.catalogString)
      assert(shape(spark.read.parquet(s"$dir/state/v0/$t").schema) ==
        shape(org.apache.spark.sql.types.StructType.fromDDL(ddl)))
    }
    // second refresh folds delta1 incrementally: v1 must equal the full job
    refresh(1, "--input", s"$dir/delta1", "--state", s"$dir/state", "--canon-out", s"$dir/alias")
    assert(aliasMap(1) == full)
    // predecessor kept for rollback; --canon-out is a content copy of v1
    assert(new java.io.File(s"$dir/state/v0/_DONE").exists())
    assert(spark.read.parquet(s"$dir/alias").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == full)

    // the refreshed alias drives the stream to batch-flagship equality
    Submit.run(spark, Array("stream", "--input", pagesDir,
      "--output", s"$dir/sink", "--checkpoint", s"$dir/ckpt",
      "--canon", s"$dir/alias", "--files-per-trigger", "2"))
    assert(sinkChecksum(s"$dir/sink") == batchChecksum)

    // crash residue (unflagged version dir) + an empty third delta: the
    // refresh is a no-op on the map, publishes v2, reclaims v0 and the
    // residue, and keeps v1 as the rollback window
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/state/v9/stats"))
    pages.limit(0).write.parquet(s"$dir/delta_empty")
    refresh(2, "--input", s"$dir/delta_empty", "--state", s"$dir/state")
    assert(aliasMap(2) == full)
    val left = new java.io.File(s"$dir/state").listFiles().map(_.getName)
      .filter(_.startsWith("v")).toSet
    assert(left == Set("v1", "v2"))
  }

  test("dedup folds document deltas into a versioned fingerprint index, equal to the full job") {
    val dir = scratch("graft-submit-dedup")
    val corpus = graft.dedup.Dedup.corpus(spark, sfTiny)
    val half = pmod(hash(col("doc_id")), lit(2))
    corpus.filter(half === 0).write.parquet(s"$dir/delta0")
    corpus.filter(half === 1).write.parquet(s"$dir/delta1")
    def idx(v: Int): Set[(String, Long, Long)] =
      spark.read.parquet(s"$dir/index/v$v/index").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.dedup.Dedup.exact(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // runs one fold publishing v`v`; its summary line's counts must be the
    // row counts of the published index and new_docs tables
    def fold(v: Int, delta: String): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(Submit.run(spark,
        Array("dedup", "--input", s"$dir/$delta", "--index", s"$dir/index")))
      val printed = raw"-> v$v \((\d+) fingerprints, (\d+) new docs\)".r
        .findFirstMatchIn(out.toString).getOrElse(fail(s"no v$v counts in: $out"))
      assert(printed.group(1).toLong == spark.read.parquet(s"$dir/index/v$v/index").count())
      assert(printed.group(2).toLong == spark.read.parquet(s"$dir/index/v$v/new_docs").count())
    }

    // initial fold publishes v0 = exact dedup of delta0; new_docs = all of it
    fold(0, "delta0")
    assert(new java.io.File(s"$dir/index/v0/_DONE").exists())
    assert(idx(0) == graft.dedup.Dedup.exact(corpus.filter(half === 0)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
    assert(spark.read.parquet(s"$dir/index/v0/new_docs").count() == idx(0).size)

    // second fold: v1 must equal the full-corpus exact dedup; new_docs are
    // exactly the hashes v0 had not seen
    fold(1, "delta1")
    assert(idx(1) == full)
    val newDocs = spark.read.parquet(s"$dir/index/v1/new_docs").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // new = hashes v0 had not seen (a hash in BOTH halves is not new even
    // when delta1 carries a smaller keeper for it)
    val expected = full.map(_._1) -- idx(0).map(_._1)
    assert(newDocs.map(_._1) == expected)

    // empty third delta: index passes through, zero new docs, v0 reclaimed
    corpus.limit(0).write.parquet(s"$dir/delta_empty")
    fold(2, "delta_empty")
    assert(idx(2) == full)
    assert(spark.read.parquet(s"$dir/index/v2/new_docs").count() == 0)
    val left = new java.io.File(s"$dir/index").listFiles().map(_.getName)
      .filter(_.startsWith("v")).toSet
    assert(left == Set("v1", "v2"))
  }

  test("batch and refresh fail by name on a page table without html, a null url, a gazetteer without label or with no rows") {
    val dir = scratch("graft-submit-inputs")
    val pages = spark.read.parquet(pagesDir)
    pages.drop("html").write.parquet(s"$dir/no_html")
    pages.limit(3).unionByName(pages.limit(1).withColumn("url", lit(null).cast("string")))
      .write.parquet(s"$dir/null_url")
    graft.model.Gazetteer.all.map(_._1).toDF("surface").write.parquet(s"$dir/no_label")
    // a directory holding only a success marker, which no schema can be inferred from
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/gaz_empty"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/gaz_empty/_SUCCESS"))
    // the failure's message chain: a task's exception arrives wrapped
    def failure(args: String*): String = {
      val e = intercept[Exception](Submit.run(spark, args.toArray))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    }
    Seq("batch" -> "--output", "refresh" -> "--state").foreach { case (cmd, out) =>
      Seq(
        Seq("--input", s"$dir/no_html") -> "null html",
        Seq("--input", s"$dir/null_url") -> "null url",
        Seq("--input", pagesDir, "--gazetteer", s"$dir/no_label") -> "null label",
        Seq("--input", pagesDir, "--gazetteer", s"$dir/gaz_empty") -> "gaz_empty: no rows"
      ).zipWithIndex.foreach { case ((in, want), i) =>
        val msg = failure(Seq(cmd) ++ in ++ Seq(out, s"$dir/$cmd-$i"): _*)
        assert(msg.contains(want), s"$cmd ${in.mkString(" ")}: $msg")
      }
    }
  }

  test("Spark jobs per call: refresh 5 and 6, batch 6, incremental dedup 6") {
    val dir = scratch("graft-submit-jobs")
    val pages = spark.read.parquet(pagesDir)
    val half = pmod(xxhash64(col("url")), lit(2))
    pages.filter(half === 0).write.parquet(s"$dir/delta0")
    pages.filter(half === 1).write.parquet(s"$dir/delta1")
    val docs = graft.dedup.Dedup.corpus(spark, sfTiny)
    docs.filter(pmod(hash(col("doc_id")), lit(2)) === 0).write.parquet(s"$dir/docs0")
    docs.filter(pmod(hash(col("doc_id")), lit(2)) === 1).write.parquet(s"$dir/docs1")
    graft.model.Gazetteer.all.toDF("surface", "label").write.parquet(s"$dir/gaz")
    // no cached plan from another spec may stand in for one of these calls'
    // (a cached canon map equal to the batch's local one turns its snapshot
    // collect into jobs), so the count does not depend on which specs ran
    Pipeline.evict(spark, sfTiny)
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val st = sc.statusTracker
    // the jobs one call ran under its own job group (each as its stages'
    // call sites), and its summary line
    def jobs(group: String, args: String*): (Seq[String], String) = {
      val out = new java.io.ByteArrayOutputStream()
      sc.setJobGroup(group, group)
      try Console.withOut(out)(Submit.run(spark, args.toArray)) finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
      (st.getJobIdsForGroup(group).sorted.toSeq.map(j => st.getJobInfo(j).toSeq
        .flatMap(_.stageIds.flatMap(st.getStageInfo).map(_.name)).mkString("+")), out.toString)
    }
    // threads of Par.run (the refresh's state writes) inherit the caller's
    // group, so their jobs count
    sc.setJobGroup("graft-par", "graft-par")
    try graft.util.Par.run(Seq(1, 2))(_ => sc.parallelize(1 to 2).count()) finally sc.clearJobGroup()
    org.apache.spark.GraftTestBus.drain(sc)
    assert(st.getJobIdsForGroup("graft-par").length == 2)
    val state = Seq("--state", s"$dir/state", "--gazetteer", s"$dir/gaz")
    val (full, fullOut) = jobs("graft-refresh-full", Seq("refresh", "--input", s"$dir/delta0") ++ state: _*)
    val (incr, incrOut) = jobs("graft-refresh-incr", Seq("refresh", "--input", s"$dir/delta1") ++ state: _*)
    val (batch, _) = jobs("graft-batch", "batch", "--input", pagesDir, "--output", s"$dir/sink",
      "--gazetteer", s"$dir/gaz")
    Submit.run(spark, Array("dedup", "--input", s"$dir/docs0", "--index", s"$dir/index"))
    val (dedup, dedupOut) = jobs("graft-dedup-incr", "dedup", "--input", s"$dir/docs1",
      "--index", s"$dir/index")
    assert(fullOut.contains("full (initial)") && incrOut.contains("incremental") &&
      dedupOut.contains("incremental"), fullOut + incrOut + dedupOut)
    assert((full.size, incr.size, batch.size, dedup.size) == (5, 6, 6, 6),
      Seq(full, incr, batch, dedup).mkString("\n"))
  }

  test("usage errors are loud: unknown subcommand, missing required option, unknown option") {
    intercept[IllegalArgumentException] {
      Submit.run(spark, Array("frobnicate"))
    }
    intercept[IllegalArgumentException] {
      Submit.run(spark, Array("batch", "--input", pagesDir))
    }
    // a typo must fail, not silently fall back to a default dimension
    intercept[IllegalArgumentException] {
      Submit.run(spark, Array("batch", "--input", pagesDir,
        "--output", scratch("graft-submit-typo"), "--gazeteer", "/nope"))
    }
  }
}
