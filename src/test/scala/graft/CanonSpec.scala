package graft

import graft.canon.Canon
import graft.model.Gazetteer
import graft.pipeline.Pipeline
import org.apache.spark.sql.DataFrame

class CanonSpec extends SparkSpec {

  lazy val canonMap: Map[String, String] =
    Canon.canonicalMap(Pipeline.mentions(spark, sfTiny))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("alias groups merge to one canonical per golden group (P/R vs golden = 1.0)") {
    // every golden group whose surfaces appear in the corpus maps to a single canonical
    Gazetteer.personGroups.foreach { group =>
      val present = group.filter(canonMap.contains)
      if (present.size > 1) {
        val canons = present.map(canonMap).toSet
        assert(canons.size == 1, s"group $group split into $canons")
      }
    }
  }

  test("negative pairs stay separate") {
    // different golden groups never share a canonical
    val byCanon = canonMap.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    val groupOf = Gazetteer.goldenAliasGroups.map { case (g, s) => s -> g }.toMap
    byCanon.foreach { case (canon, surfaces) =>
      val groups = surfaces.map(groupOf)
      assert(groups.size == 1, s"canonical $canon merges golden groups $groups: $surfaces")
    }
  }

  test("canonical pick is deterministic: most words, longest, then lexicographic") {
    // g2: "Carlos Mendez Rivera" (3 words) beats "Carlos Mendez"
    if (canonMap.contains("Carlos Mendez"))
      assert(canonMap("Carlos Mendez") == "Carlos Mendez Rivera")
    // g0 accent pair: equal words/mentions differ in surface bytes; expect
    // lexicographically last of equal-length pair
    if (canonMap.contains("Maria Elena Vasquez") && canonMap.contains("María Elena Vásquez")) {
      assert(canonMap("Maria Elena Vasquez") == canonMap("María Elena Vásquez"))
    }
  }

  test("connected components: permutation-invariant, handles chains") {
    import spark.implicits._
    val vertices = Seq("a", "b", "c", "d", "e", "z").toDF("surface")
    // repeated and reversed edges make |E| = 7 > |V| = 6, so each side of
    // the size gate has its own boundary
    val edgeList = Seq(("a", "b"), ("b", "c"), ("d", "e"), ("c", "a"), ("b", "a"),
      ("e", "d"), ("a", "b"))
    val edges = edgeList.toDF("a", "b")
    val (nV, nE) = (6L, edgeList.size.toLong)
    // exercise BOTH the driver-local union-find fast path and the
    // distributed min-label loop (localThreshold = 0 forces it), and the
    // gate's thresholds at |E|, |E|−1, |V| and |V|−1: the labels must be
    // identical, and the local path (rounds = 0) is taken exactly when both
    // sizes are within the threshold
    val labels = Seq(100000L, 0L, nE, nE - 1, nV, nV - 1).map { thr =>
      val (cc, rounds) = Canon.connectedComponentsWithRounds(vertices, edges, localThreshold = thr)
      val comps = cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(comps("a") == "a" && comps("b") == "a" && comps("c") == "a")
      assert(comps("d") == "d" && comps("e") == "d")
      assert(comps("z") == "z")
      assert((rounds == 0) == (nV <= thr && nE <= thr), s"threshold $thr: $rounds rounds")
      comps
    }
    assert(labels.distinct.size == 1)
  }

  test("distributed CC agrees with local union-find on the live similarity graph") {
    val stats = Canon.surfaceStats(Pipeline.mentionsCached(spark, sfTiny))
    val edges = Canon.similarityEdges(stats).cache()
    val verts = stats.select("surface").cache()
    val local = Canon.connectedComponents(verts, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = Canon.connectedComponents(verts, edges, localThreshold = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
  }

  /** Distributed CC (surface, component) rows, as collected, and rounds
    * under both round loops: `bcastBound` at its default runs the RDD loop
    * with the whole neighborhood-min table broadcast, 0 forces the
    * DataFrame hub-split loop (hub m-joins broadcast, every other source
    * joined by key). The rows are not folded into a Map, so a vertex with
    * two label rows (join fan-out) shows up as an extra row.
    */
  private def bothLoops(verts: DataFrame, edges: DataFrame, maxIter: Int = 60,
      hubDegree: Long = 1024L): Seq[(Seq[(String, String)], Int)] =
    Seq(1000000L, 0L).map { bound =>
      val (cc, rounds) = Canon.connectedComponentsWithRounds(verts, edges, maxIter = maxIter,
        localThreshold = 0, hubDegree = hubDegree, bcastBound = bound)
      (cc.collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted, rounds)
    }

  test("distributed CC with a planted mega-component hub takes the broadcast branch") {
    import spark.implicits._
    // star: one hub linked to 3000 leaves + a disjoint pair; hubDegree = 100
    // forces the hub's adjacency through the hub split's broadcast label
    // join (bcastBound = 0), never through a keyed join
    val leaves = (0 until 3000).map(i => f"leaf$i%05d")
    val verts = ("hub" +: leaves :+ "x1" :+ "x2").toDF("surface")
    val edges = leaves.map(l => ("hub", l)).toDF("a", "b")
      .unionByName(Seq(("x1", "x2")).toDF("a", "b"))
    val local = Canon.connectedComponents(verts, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    bothLoops(verts, edges, hubDegree = 100).foreach { case (rows, _) =>
      assert(rows == local.toSeq.sorted)
      val cc = rows.toMap
      val expected = "hub" // lexicographic min of {hub} ∪ leaves is "hub"
      assert(cc("hub") == expected)
      assert(leaves.forall(l => cc(l) == expected))
      assert(cc("x1") == "x1" && cc("x2") == "x1")
    }
  }

  test("distributed CC ignores edges with endpoints outside the vertex set (ccLocal parity)") {
    import spark.implicits._
    val verts = Seq("a", "b", "c").toDF("surface")
    val edges = Seq(("a", "b"), ("b", "ghost"), ("ghost", "c")).toDF("a", "b")
    val local = Canon.connectedComponents(verts, edges) // fast path
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // ghost must not bridge b and c, and must not appear in the output
    bothLoops(verts, edges).foreach { case (dist, _) =>
      assert(dist == Seq("a" -> "a", "b" -> "a", "c" -> "c"))
      assert(dist == local.toSeq.sorted)
    }
  }

  test("large-star/small-star CC converges in O(log n) rounds on a 10k-vertex chain") {
    import spark.implicits._
    // A path graph is min-label propagation's worst case: the min travels
    // one hop per round (10k rounds — silently wrong under maxIter=25).
    // Alternating large-star/small-star halves chains every round.
    val n = 10000
    val verts = (0 until n).map(i => f"v$i%05d").toDF("surface")
    val edges = (1 until n).map(i => (f"v${i - 1}%05d", f"v$i%05d")).toDF("a", "b")
    // both loops: no vertex reaches the hub degree, so the forced hub
    // split (bcastBound = 0) runs every source through the keyed join
    bothLoops(verts, edges, maxIter = 25).foreach { case (labels, rounds) =>
      assert(labels.length == n)
      assert(labels.map(_._1).distinct.length == n)
      assert(labels.forall(_._2 == "v00000"),
        s"bad labels: ${labels.filter(_._2 != "v00000").take(3).toSeq}")
      assert(rounds <= 20, s"chain took $rounds rounds — not O(log n)")
    }
  }

  test("RDD round loop ≡ DataFrame round loop ≡ local union-find (forced branches)") {
    import spark.implicits._
    // chain ∪ star ∪ isolated vertex — exercises multi-round convergence,
    // the hub path of the DF branch, and the left-join default label.
    // bcastBound picks the round implementation: default → RDD rounds,
    // 0 → DataFrame hub-split rounds; localThreshold default → union-find.
    // The pair past the BMP pins one string order: U+1F600 is a surrogate
    // pair in UTF-16, so String.compareTo puts "a😀" below "aＡ" (U+FF21),
    // while in UTF-8 bytes, Spark's order, "aＡ" is the least.
    val chain = (1 until 40).map(i => (f"c${i - 1}%03d", f"c$i%03d"))
    val star = (0 until 200).map(i => ("hub", f"s$i%04d"))
    val verts = ((0 until 40).map(i => f"c$i%03d") ++
      star.map(_._2) :+ "hub" :+ "lonely" :+ "a😀" :+ "aＡ").toDF("surface")
    val edges = (chain ++ star :+ ("a😀" -> "aＡ")).toDF("a", "b")
    val Seq((rdd, _), (df, _)) = bothLoops(verts, edges, hubDegree = 50)
    val local = Canon.connectedComponents(verts, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rdd == local.toSeq.sorted, "RDD round branch diverged from local union-find")
    assert(df == local.toSeq.sorted, "DataFrame round branch diverged from local union-find")
    assert(local("a😀") == "aＡ" && local("aＡ") == "aＡ", "component past the BMP")
  }

  test("CC fails loudly (not silently wrong) when maxIter is exhausted") {
    import spark.implicits._
    // A 64-vertex chain needs several alternating rounds; maxIter=1 cannot
    // reach the star forest. The old behavior extracted labels from the
    // non-converged pair set — multiple conflicting (surface, component)
    // rows per vertex, silently corrupting downstream joins. Now it throws.
    val n = 64
    val verts = (0 until n).map(i => f"v$i%03d").toDF("surface")
    val edges = (1 until n).map(i => (f"v${i - 1}%03d", f"v$i%03d")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Canon.connectedComponentsWithRounds(verts, edges, maxIter = 1, localThreshold = 0)
        ._1.collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("stop-token cap knowingly sacrifices Levenshtein-only pairs blocked by hot tokens") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // "de anna" / "de anne" pass the Levenshtein-ratio predicate (1 - 1/7 =
    // 0.857 > 0.79) but share ONLY the token "de". When "de" is hot (its
    // block exceeds the cap) the pair has no surviving blocking key and is
    // dropped — a documented semantic deviation from the reference's
    // ungated pairing (see similarityEdges scaladoc), traded for bounded
    // candidate generation at corpus scale.
    val surfaces = (0 until 38).map(i => f"de zzfiller$i%02d") ++ Seq("de anna", "de anne")
    val dim = Canon.surfaceDim(spark, surfaces).withColumn("n_mentions", lit(1L))
    val capped = Canon.similarityEdges(dim, maxBlock = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!capped.contains(("de anna", "de anne")), "pair should be sacrificed under the cap")
    val uncapped = Canon.similarityEdges(dim, maxBlock = 1000)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(uncapped.contains(("de anna", "de anne")), "pair must exist without the cap")
  }

  test("pairEval stays aggregate-only: a 10k-member mega-cluster completes in bounded time") {
    import spark.implicits._
    // 10k surfaces in ONE predicted cluster = 49,995,000 pairs; materializing
    // them (the old self-join) is what the size-arithmetic form avoids.
    val n = 10000
    val cm = (0 until n).map(i => (f"s$i%05d", "c")).toDF("surface", "canonical")
    val golden = (0 until 100).map(i => (0, f"s$i%05d")).toDF("group_id", "surface")
    val row = Canon.pairEval(cm, golden).collect().head
    assert(row.getLong(row.fieldIndex("n_pred_pairs")) == n.toLong * (n - 1) / 2)
    assert(row.getLong(row.fieldIndex("n_gold_pairs")) == 100L * 99 / 2)
    assert(row.getLong(row.fieldIndex("n_correct_pairs")) == 100L * 99 / 2)
  }

  test("similarityEdges drops hot blocking tokens but keeps other-token pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 40 surfaces all share the hot token "de"; two of them also share the
    // rare token "vasquez" (a similar pair). cap = 10 → "de" blocks nothing,
    // the vasquez pair still survives via its rare token.
    val surfaces = (0 until 38).map(i => f"de person$i%02d") ++
      Seq("Maria de Vasquez", "Maria de Vasquez Ortiz")
    val dim = Canon.surfaceDim(spark, surfaces)
      .withColumn("n_mentions", lit(1L))
    val edges = Canon.similarityEdges(dim, maxBlock = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges.contains(("Maria de Vasquez", "Maria de Vasquez Ortiz")))
    // none of the de-only pairs survive: "de" exceeded the cap and they
    // share no rare token
    assert(edges.size == 1)
  }

  // --- incremental refresh ------------------------------------------------

  private def mkMentions(surfaces: Seq[String], urlSalt: String = "u") = {
    import spark.implicits._
    surfaces.zipWithIndex.map { case (s, i) =>
      graft.model.Mention(s"$urlSalt$i", 0, 0, s, "PERSON", 0, s.length, 1.0)
    }.toDS()
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getAs[String]("surface") -> r.getAs[String]("canonical")).toMap

  /** Registers a canon exactness spec twice, as [[bothLoops]] does for CC:
    * at the default `localThreshold` (these dimension-sized inputs take the
    * driver canon branch) and at 0 (forced distributed: blockedEdges, a CC
    * round loop and canonicalPick). The default copy keeps the spec's name.
    */
  private def bothBranches(name: String)(body: Long => Unit): Unit =
    Seq(100000L -> name, 0L -> s"$name [distributed]").foreach { case (thr, n) =>
      test(n)(body(thr))
    }

  bothBranches("incremental refresh equals the full job across url-hash splits of the live corpus") { thr =>
    import org.apache.spark.sql.functions._
    val ms = Pipeline.mentionsCached(spark, sfTiny)
    val full = asMap(Canon.canonicalState(ms, localThreshold = thr).canonMap)
    // three different split seams: alias groups straddle each one
    (0 to 2).foreach { salt =>
      val half = pmod(xxhash64(col("url"), lit(salt)), lit(2))
      val st = Canon.canonicalState(ms.filter(half === 0), localThreshold = thr)
      val r = Canon.canonicalMapIncremental(st, ms.filter(half === 1), localThreshold = thr)
      assert(!r.fellBack, s"salt=$salt unexpectedly crossed the token cap")
      assert(asMap(r.state.canonMap) == full, s"salt=$salt diverged from full job")
    }
  }

  bothBranches("incremental refresh: empty delta is a no-op, empty initial state is the full job") { thr =>
    import spark.implicits._
    val ms = Pipeline.mentionsCached(spark, sfTiny)
    val full = Canon.canonicalState(ms, localThreshold = thr)
    val noDelta = Canon.canonicalMapIncremental(full, spark.emptyDataset[graft.model.Mention],
      localThreshold = thr)
    assert(!noDelta.fellBack)
    assert(asMap(noDelta.state.canonMap) == asMap(full.canonMap))
    val empty = Canon.canonicalState(spark.emptyDataset[graft.model.Mention], localThreshold = thr)
    val allDelta = Canon.canonicalMapIncremental(empty, ms, localThreshold = thr)
    assert(!allDelta.fellBack)
    assert(asMap(allDelta.state.canonMap) == asMap(full.canonMap))
  }

  bothBranches("incremental refresh: merged stats carry summed mention counts") { thr =>
    import org.apache.spark.sql.functions._
    val oldMs = mkMentions(Seq("Ada Lovelace", "Ada Lovelace", "Alan Turing"), "a")
    val newMs = mkMentions(Seq("Ada Lovelace", "Grace Hopper"), "b")
    val r = Canon.canonicalMapIncremental(Canon.canonicalState(oldMs, localThreshold = thr), newMs,
      localThreshold = thr)
    val counts = r.state.stats.select(col("surface"), col("n_mentions"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(counts == Map("Ada Lovelace" -> 3L, "Alan Turing" -> 1L, "Grace Hopper" -> 1L))
  }

  bothBranches("incremental refresh: two new surfaces linked only to each other give one new↔new edge") { thr =>
    import org.apache.spark.sql.functions._
    val oldMs = mkMentions(Seq("Ada Lovelace", "Alan Turing"), "a")
    val newMs = mkMentions(Seq("Grace Hopper", "Grace Hoppers"), "b")
    val st = Canon.canonicalState(oldMs, localThreshold = thr)
    val merged = Canon.mergeStats(st.stats, Canon.surfaceStats(newMs))
    val fresh = Canon.surfaceStats(newMs).select(col("surface"))
    val edges = Canon.deltaEdges(merged, fresh).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(edges == Seq(("Grace Hopper", "Grace Hoppers")))
    val r = Canon.canonicalMapIncremental(st, newMs, localThreshold = thr)
    assert(!r.fellBack)
    assert(asMap(r.state.canonMap) ==
      asMap(Canon.canonicalState(oldMs.unionByName(newMs), localThreshold = thr).canonMap))
    assert(asMap(r.state.canonMap)("Grace Hopper") == "Grace Hoppers")
  }

  bothBranches("incremental refresh: a delta of re-mentioned old surfaces keeps them old, sums counts, keeps the map") { thr =>
    import org.apache.spark.sql.functions._
    val oldMs = mkMentions(Seq("Ada Lovelace", "Ada Lovelace", "Ada Lovelace", "Alan Turing",
      "Alan Turing", "Alan Mathison Turing"), "a")
    val newMs = mkMentions(Seq("Alan Turing", "Ada Lovelace"), "b")
    val st = Canon.canonicalState(oldMs, localThreshold = thr)
    val flags = Canon.flaggedMerge(st.stats, newMs.toDF().select(col("surface"), lit(1L).as("n_mentions")))
      .select(col("surface"), col("n_mentions"), col("is_new"))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(flags == Map("Ada Lovelace" -> (4L, false), "Alan Turing" -> (3L, false),
      "Alan Mathison Turing" -> (1L, false)))
    val r = Canon.canonicalMapIncremental(st, newMs, localThreshold = thr)
    assert(!r.fellBack)
    assert(asMap(r.state.canonMap) == asMap(st.canonMap))
    assert(asMap(r.state.canonMap) ==
      asMap(Canon.canonicalState(oldMs.unionByName(newMs), localThreshold = thr).canonMap))
  }

  bothBranches("a token block crossing the cap forces the full-job fallback — and stays exact") { thr =>
    // cap 2: token "alpha" has df_old = 2 (cold), df_merged = 3 (hot) —
    // the ONLY non-monotone case of the incremental scheme
    val oldMs = mkMentions(Seq("alpha one", "alpha two"), "a")
    val newMs = mkMentions(Seq("alpha three"), "b")
    val st = Canon.canonicalState(oldMs, maxBlock = 2, localThreshold = thr)
    val r = Canon.canonicalMapIncremental(st, newMs, maxBlock = 2, localThreshold = thr)
    assert(r.fellBack, "cap crossing must trigger the full-job fallback")
    val allMs = mkMentions(Seq("alpha one", "alpha two"), "a")
      .unionByName(mkMentions(Seq("alpha three"), "b"))
    assert(asMap(r.state.canonMap) ==
      asMap(Canon.canonicalState(allMs, maxBlock = 2, localThreshold = thr).canonMap))
    // control: a delta that does NOT push any old ≥2-surface token past the
    // cap stays on the incremental branch at the same cap
    val quiet = Canon.canonicalMapIncremental(st, mkMentions(Seq("beta four"), "c"), maxBlock = 2,
      localThreshold = thr)
    assert(!quiet.fellBack)
  }

  test("driver canon branch ≡ distributed canon on adversarial surfaces") {
    // U+1F600 sorts below U+FF21 in UTF-16 (a surrogate pair) but above it
    // in UTF-8, which is Spark's string order
    val grin = new String(Character.toChars(0x1F600))
    val surfaces = Seq(
      "José Núñez", "Jose Nunez", // equal sim_key, tied on words, length and mentions
      s"Annabel Lee $grin", "Annabel Lee \uFF21", // one edit apart, tied on all but the surface
      "Grace Hopper", "Grace Hopper", "Grace Hoppor", // tied on words and length
      "Cher", "Chér", "Madonna", // one-token surfaces
      "de anna", "de anne", "de zz", // "de" is hot at maxBlock = 2
      "Ana  Maria", "Ana Maria") // a doubled space: split(' ') counts an empty word
    def full(thr: Long) = Canon.canonicalState(mkMentions(surfaces), maxBlock = 2,
      localThreshold = thr).canonMap
    val (local, dist) = (full(100000L), full(0L))
    assert(local.isLocal && !dist.isLocal)
    val m = asMap(local)
    assert(m == asMap(dist))
    assert(m("Jose Nunez") == "José Núñez")
    assert(m("Annabel Lee \uFF21") == s"Annabel Lee $grin")
    assert(m("Grace Hoppor") == "Grace Hopper")
    assert(m("Cher") == "Chér" && m("Madonna") == "Madonna")
    assert(m("de anna") == "de anna" && m("de anne") == "de anne", "the hot token must not block")
    // incremental over three splits of the same surfaces, both branches
    val refreshes = Seq(2, 3, 5).map { k =>
      val (a, b) = surfaces.zipWithIndex.partition(_._2 % k == 0)
      def refresh(thr: Long) = Canon.canonicalMapIncremental(
        Canon.canonicalState(mkMentions(a.map(_._1), "a"), maxBlock = 2, localThreshold = thr),
        mkMentions(b.map(_._1), "b"), maxBlock = 2, localThreshold = thr)
      val (l, d) = (refresh(100000L), refresh(0L))
      assert(l.fellBack == d.fellBack, s"split $k")
      assert(asMap(l.state.canonMap) == m, s"split $k: driver branch")
      assert(asMap(d.state.canonMap) == m, s"split $k: distributed branch")
      l.fellBack
    }
    assert(refreshes.contains(true) && refreshes.contains(false))
  }

  test("driver canon branch: a local map under the gate, none at localThreshold = 0, snapshot fingerprint intact") {
    val small = mkMentions(Seq("Ada Lovelace", "Ada Lovelace", "Ada King Lovelace", "Alan Turing"))
    val st = Canon.canonicalState(small)
    assert(st.canonMap.isLocal)
    assert(!Canon.canonicalState(small, localThreshold = 0).canonMap.isLocal)
    assert(Canon.canonicalMapIncremental(st, mkMentions(Seq("Grace Hopper"), "b")).state.canonMap.isLocal)
    Canon.snapshotBounded(st.canonMap) match {
      case Canon.AliasMap(m, fp) =>
        assert(m == asMap(st.canonMap))
        assert(fp.contains(Canon.aliasFingerprint(st.canonMap)))
      case other => fail(s"expected an AliasMap, got $other")
    }
  }

  test("driver verifier: the code-point banded distance equals UTF8String.levenshteinDistance(other, k)") {
    import org.apache.spark.unsafe.types.UTF8String
    // ASCII, Latin-1 accents, a combining acute, U+1F600 (a surrogate pair
    // in UTF-16), U+FF21 and a lone surrogate (`?` once encoded)
    val alphabet = Array("a", "b", "z", " ", "?", "é", "ñ", "\u0301",
      new String(Character.toChars(0x1F600)), "\uFF21", "\uD800")
    val rnd = new scala.util.Random(1L)
    def draw(): String = Seq.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length))).mkString
    val pairs = Seq(("", ""), ("", "a"), ("\uD800\u0301", ""), ("", "\uFF21\uFF21")) ++
      Seq.fill(100000)((draw(), draw()))
    val within = Array.fill(7)(0)
    val mismatches = pairs.iterator.flatMap { case (x, y) =>
      val (u, v) = (UTF8String.fromString(x), UTF8String.fromString(y))
      val (cu, cv) = (Canon.codePoints(u), Canon.codePoints(v))
      assert(cu.length == u.numChars && cv.length == v.numChars, s"numChars of '$x' / '$y'")
      (0 to 6).iterator.flatMap { k =>
        val want = u.levenshteinDistance(v, k)
        if (want >= 0) within(k) += 1
        val got = Canon.levenshteinWithin(cu, cv, k)
        if (got == want) None else Some(s"('$x', '$y', k = $k): $got, want $want")
      }
    }.take(5).toList
    assert(mismatches.isEmpty, mismatches.mkString("; "))
    // every band both holds and rejects pairs
    assert(within.forall(n => n > 0 && n < pairs.size), within.mkString(", "))
  }
}
