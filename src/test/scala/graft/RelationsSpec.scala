package graft

import graft.pipeline.Pipeline
import graft.sources.Pages
import graft.model.Gazetteer

class RelationsSpec extends SparkSpec {

  test("co-occurrence triples match the plant arithmetic exactly") {
    val got = graft.relations.Relations.cooccurrence(Pipeline.mentions(spark, sfTiny))
      .collect().map(t => (t.subj, t.pred, t.obj, t.url)).sorted.toSeq
    val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val expected = docs.flatMap { id =>
      (0 until Pages.nPlanted(id)).flatMap { j =>
        val url = Pages.urlOf(id)
        val p = Gazetteer.persons(Pages.personIdx(id, j))
        val o = Gazetteer.orgs(Pages.orgIdx(id, j))
        val pr = Gazetteer.provisions(Pages.provIdx(id, j))
        val l = Gazetteer.laws(Pages.lawIdx(id, j))
        Seq((p, "cites", l, url), (p, "member_of", o, url), (pr, "part_of", l, url))
      }
    }.sorted.toSeq
    assert(got == expected)
  }

  private def rows(ts: Array[graft.model.Triple]) =
    ts.map(t => (t.subj, t.pred, t.obj, t.url, t.score)).sorted.toSeq

  test("triplesContiguous fails loudly on non-segment-contiguous input (map and raw)") {
    import spark.implicits._
    import graft.model.Mention
    // two interleaved segments of one url in ONE partition: A, B, A again
    val ms = Seq(
      Mention("u1", 1, 1, "Ada Person", "PERSON", 0, 10, 1.0),
      Mention("u1", 1, 2, "Some Org", "ORG", 0, 8, 1.0),
      Mention("u1", 1, 1, "Acme Law", "LAW", 20, 28, 1.0)
    ).toDS().coalesce(1)
    Seq(Some(Map("Ada Person" -> "Ada Person")), None).foreach { canon =>
      val e = intercept[org.apache.spark.SparkException] {
        graft.relations.Relations.triplesContiguous(ms, canon).collect()
      }
      assert(e.getMessage.contains("not segment-contiguous") ||
        Option(e.getCause).exists(_.getMessage.contains("not segment-contiguous")), canon)
    }
  }

  test("triplesContiguous fails loudly on non-url-contiguous input (map and raw)") {
    import spark.implicits._
    import graft.model.Mention
    // url u1, then u2, then u1 again in ONE partition
    val ms = Seq(
      Mention("u1", 1, 1, "Ada Person", "PERSON", 0, 10, 1.0),
      Mention("u2", 1, 1, "Ada Person", "PERSON", 0, 10, 1.0),
      Mention("u1", 1, 2, "Ada Person", "PERSON", 5, 15, 1.0)
    ).toDS().coalesce(1)
    Seq(Some(Map("Ada Person" -> "Ada Person")), None).foreach { canon =>
      val e = intercept[org.apache.spark.SparkException] {
        graft.relations.Relations.triplesContiguous(ms, canon).collect()
      }
      assert(e.getMessage.contains("not url-contiguous") ||
        Option(e.getCause).exists(_.getMessage.contains("not url-contiguous")), canon)
    }
  }

  test("triplesContiguous ≡ cooccurrence ∪ mentionedIn on the live scan output") {
    import org.apache.spark.sql.functions.col
    import graft.canon.Canon
    import graft.relations.Relations
    // Pipeline.triples — the one composition over triplesContiguous — under
    // every alias shape. mentionsCached, not mentions: exercises contiguity
    // THROUGH the memo's url-hash re-clustering exchange.
    val ms = Pipeline.mentionsCached(spark, sfTiny)
    val canonDf = Pipeline.canonCached(spark, sfTiny)
    val cooc = Relations.cooccurrence(ms).collect()
    val reference = rows(cooc ++ Relations.mentionedIn(ms, canonDf).collect())
    val map = Canon.snapshotBounded(canonDf)
    val frame = Canon.snapshotBounded(canonDf, maxRows = 0)
    assert(map.isInstanceOf[Canon.AliasMap] && frame.isInstanceOf[Canon.AliasFrame])
    Seq(map, frame).foreach { snap =>
      assert(rows(Pipeline.triples(ms, snap).collect()) == reference, snap.getClass.getSimpleName)
    }
    // AliasNone: raw provenance = mentionedIn under the identity alias map
    val identity = ms.toDF().filter(col("label") === "PERSON")
      .select(col("surface"), col("surface").as("canonical")).distinct()
    val raw = rows(cooc ++ Relations.mentionedIn(ms, identity).collect())
    assert(raw != reference, "the corpus plants aliases, so raw provenance must differ")
    assert(rows(Pipeline.triples(ms, Canon.AliasNone).collect()) == raw)
  }

  test("flagship entry() returns triples on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("subj", "pred", "obj", "url", "score"))
  }
}
