package graftbench

import java.nio.file.Files
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: a wrong expected value must fail a cycle, a
  * thrown call must count as a failure and never as a timing, and the
  * tracer must attribute jobs to the span that caused them. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark = Main.session(2, 2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Main.delete(work)
  }

  test("a call that throws counts as failed, not as a timing") {
    val rec = new Recorder
    val counted = rec.cycle("batch") { c =>
      c.call("batch")(throw new IllegalStateException("boom"))
      (None, 1L, Seq("batch"))
    }
    assert(!counted)
    assert(rec.attempted == 1 && rec.failed == 1)
    assert(rec.main.isEmpty && rec.cycles.isEmpty && rec.rows == 0)
  }

  test("a failed output check counts every call of the cycle as failed") {
    val rec = new Recorder
    val counted = rec.cycle("a") { c =>
      c.call("a")(())
      c.call("b")(())
      (Some("wrong fingerprint"), 5L, Seq("a"))
    }
    assert(!counted)
    assert(rec.attempted == 2 && rec.failed == 2 && rec.main.isEmpty)
  }

  test("a passing cycle records its calls, rows and cycle time") {
    val rec = new Recorder
    assert(rec.cycle("a") { c => c.call("a")(()); c.call("b")(()); (None, 7L, Seq("a")) })
    assert(rec.attempted == 2 && rec.failed == 0)
    assert(rec.main.size == 1 && rec.extra("b").size == 1 && rec.cycles.size == 1)
    assert(rec.rows == 7 && rec.rowSeconds == rec.main.head)
  }

  test("Check.equal reports each differing or missing value") {
    val want = Map("triples" -> 10L, "triples_fp" -> 42L)
    assert(Check.equal(want, want).isEmpty)
    assert(Check.equal(want.updated("triples", 11L), want).exists(_.contains("triples: got 11")))
    assert(Check.equal(Map("triples" -> 10L), want).exists(_.contains("triples_fp: got none")))
  }

  test("generated inputs are a function of the seed") {
    assert(Gen.people(7, 300, 0.01) == Gen.people(7, 300, 0.01))
    assert(Gen.people(7, 300, 0.01) != Gen.people(8, 300, 0.01))
    def pages(seed: Long) =
      Gen.webPages(spark, seed, 2, 20).collect().map(p => (p.url, p.text)).toSeq
    assert(pages(3) == pages(3))
    assert(pages(3) != pages(4))
  }

  /** Stage `w`, check that a cycle passes against the reference, then that it
    * fails, naming the key, with each of `keys` off by one. */
  private def checkFails(w: Workload, keys: Seq[String]): Unit = {
    val dir = work.resolve(w.name).toString
    w.stage(spark, 5, dir)
    val expected = w.reference(spark, dir)
    var n = 0
    def verdict(e: Check.Values): Option[String] = {
      n += 1
      var v: Option[String] = None
      new Recorder().cycle(w.mainKind) { c =>
        val r = w.cycle(spark, dir, s"$dir-out$n", Some(e), c)
        v = r._1
        r
      }
      v
    }
    assert(verdict(expected).isEmpty)
    keys.foreach { k =>
      val wrong = verdict(expected.updated(k, expected(k) + 1))
      assert(wrong.exists(_.contains(k)), s"$k off by one passed the check")
    }
  }

  test("batch_build's check fails on a wrong triple count, fingerprint or alias map") {
    checkFails(new BatchBuild(nFiles = 2, perFile = 40), Seq("triples", "triples_fp", "alias_fp"))
  }

  test("canon_refresh's check fails on a wrong alias map count or fingerprint") {
    checkFails(new CanonRefresh(nBases = 150, perPage = 8), Seq("v0", "v1", "v1_fp"))
  }

  test("stream_ingest's check fails on a wrong sink or rewritten-batch count") {
    checkFails(new StreamIngest(invocations = 2, filesPerInvocation = 1, perFile = 30),
      Seq("triples", "triples_fp", "stale_batches", "noop_batches"))
  }

  test("the tracer attributes jobs, broadcast ones included, to the open span") {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    try {
      t.span("outer") {
        t.span("inner")(spark.range(100).count())
        val small = spark.range(10).withColumnRenamed("id", "k")
        spark.range(1000).join(broadcast(small), col("id") === col("k")).count()
      }
    } finally spark.sparkContext.removeSparkListener(t)
    val layers = t.layers()
    assert(layers("inner").jobs >= 1 && layers("outer").jobs >= 1)
    assert(layers("outer").tasks > 0 && layers("outer").taskS >= 0)
    assert(t.groupShare() == 1.0)
    assert(t.spans.map(s => s.name -> s.parent) == Seq("outer" -> -1, "inner" -> 0))
  }
}
