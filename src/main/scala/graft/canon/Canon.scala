package graft.canon

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.unsafe.types.UTF8String
import graft.model.{Config, Mention}
import graft.functions.expressions.unaccent

/** Entity canonicalization: similarity self-join → connected components →
  * deterministic canonical pick. Replaces the reference's order-dependent
  * greedy transitive grouping + LLM representative
  * (OllamaNERExtractor.py:122-184) with an order-independent parallel
  * formulation (SURVEY §2.7 C1/C2, §7.6 risk 1).
  *
  * Both canon jobs ([[canonicalState]], [[canonicalMapIncremental]]) gate
  * on the surface-stats table the way [[connectedComponentsWithRounds]]
  * gates on its graph: a dimension-sized table (at most `localThreshold`
  * surfaces, at most [[LocalMaxCandidates]] blocking candidates) is
  * collected once and canonicalized on the driver ([[canonLocal]]: the
  * same blocking, verification, union-find and pick, with Spark's own
  * string primitives), and the map comes back as a local DataFrame. Past
  * either gate the distributed chain runs: [[blockedEdges]] →
  * [[connectedComponents]] → [[canonicalPick]].
  */
object Canon {

  /** Per-surface stats over PERSON mentions: the vertex table of the
    * similarity graph. Small relative to the corpus (distinct surfaces ≪
    * mentions) — one shuffle, then everything downstream is dimension-sized.
    */
  def surfaceStats(mentions: Dataset[Mention]): DataFrame =
    withWords(personSurfaces(mentions)
      .groupBy(col("surface"))
      .agg(count(lit(1)).as("n_mentions")))

  /** PERSON mention rows — the vertices' raw source. */
  private def personSurfaces(mentions: Dataset[Mention]): DataFrame =
    mentions.toDF().filter(col("label") === "PERSON").select(col("surface"))

  /** Adds `sim_key` and the distinct normalized `words`: both are pure
    * functions of `surface`, so every stats table derives them the same way.
    */
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("sim_key", graft.functions.expressions.simkey(col("surface")))
      .withColumn("words", array_distinct(split(col("sim_key"), " ")))

  /** Similarity edges (J7): candidates = pairs sharing ≥1 normalized token
    * (blocking — at corpus scale the all-pairs product is impossible; token
    * blocking + verification is the standard similarity-join shape), verified
    * with the reference thresholds: Levenshtein ratio > 0.79 OR word-overlap
    * ≥ 0.65 (OllamaNERExtractor.py:124) OR equal normalized keys.
    * Output: (a, b) surface pairs with a < b. The blocking is
    * [[blockedEdges]] with every surface new — the same routine
    * [[deltaEdges]] and the incremental refresh run.
    *
    * Tokens whose block exceeds `maxBlock` surfaces are DROPPED as blocking
    * keys (the standard stop-token cap: a shared first name held by millions
    * of surfaces makes the per-token block quadratic at 100× scale). The cap
    * is a KNOWN recall sacrifice, not a free optimization: a pair whose only
    * shared tokens are hot can still satisfy the Levenshtein-ratio or
    * equal-sim_key predicate, and such pairs are silently lost when the cap
    * triggers (word-overlap-only pairs are safe — overlap through hot tokens
    * alone sits below the 0.65 threshold for long names). CanonSpec
    * ("stop-token cap sacrifices…") documents the behavior. The cap is
    * mirrored in the DuckDB oracle (Oracle.canonCtes) so engine and oracle
    * move together at every SF; verification still scores FULL word arrays —
    * only candidate generation is capped.
    */
  def similarityEdges(stats: DataFrame, maxBlock: Long = Config.MaxTokenBlock): DataFrame = {
    val flagged = stats.withColumn("is_new", lit(true))
    blockedEdges(flagged, coldTokens(tokenTable(flagged), maxBlock))
  }

  /** Per-token block sizes over a flagged stats table (`is_new` marks the
    * surfaces a refresh adds): `df` counts every surface holding the token,
    * `df_old` only the carried ones.
    */
  private def tokenTable(flagged: DataFrame): DataFrame =
    flagged.select(explode(col("words")).as("tok"), col("is_new"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), count_if(!col("is_new")).as("df_old"))

  /** The blocking keys under the stop-token cap. */
  private def coldTokens(tokens: DataFrame, maxBlock: Long): DataFrame =
    tokens.filter(col("df") <= maxBlock).select(col("tok"))

  /** Token blocking + verification over a flagged stats table: every
    * verified pair sharing a cold token with at least one NEW endpoint, as
    * (least, greatest). Only new surfaces probe (the left side), so the
    * candidate cost is |new| × block sizes; a new↔new pair is generated by
    * its smaller endpoint alone, a new↔old pair by its new endpoint.
    */
  private def blockedEdges(flagged: DataFrame, coldToks: DataFrame): DataFrame = {
    val toks = flagged.select(col("surface"), col("sim_key"), col("words"), col("is_new"),
        explode(col("words")).as("tok"))
      .join(coldToks, Seq("tok"), "left_semi")
    val l = toks.filter(col("is_new")).select(col("surface").as("a"), col("sim_key").as("ka"),
      col("words").as("wa"), col("tok").as("tok_a"))
    val r = toks.select(col("surface").as("b"), col("sim_key").as("kb"),
      col("words").as("wb"), col("is_new").as("new_b"), col("tok").as("tok_b"))
    l.join(r, col("tok_a") === col("tok_b") && col("a") =!= col("b") &&
        (!col("new_b") || col("a") < col("b")))
      .filter(similar)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** The reference thresholds over a joined pair's (ka, wa) × (kb, wb):
    * equal normalized keys OR Levenshtein ratio > 0.79 OR word overlap ≥
    * 0.65. All three are symmetric in the two sides.
    */
  private def similar: org.apache.spark.sql.Column = {
    val overlap = size(array_intersect(col("wa"), col("wb"))).cast("double") /
      greatest(size(col("wa")), size(col("wb"))).cast("double")
    val levRatio = lit(1.0) - levenshtein(col("ka"), col("kb")).cast("double") /
      greatest(length(col("ka")), length(col("kb"))).cast("double")
    col("ka") === col("kb") ||
      levRatio > Config.LevRatioThreshold ||
      overlap >= Config.WordOverlapThreshold
  }

  /** MinHash-banded similarity edges (the north-star scale path for
    * surface-form clustering): char-3-gram shingles of the normalized key →
    * k=12 min-hashes → 4 bands of 3 → equi-self-join on (band, key) →
    * verification with the same reference thresholds as [[similarityEdges]].
    * At corpus scale this bounds candidate pairs by band-bucket sizes where
    * token blocking would hot-spot on stop-word-ish tokens. Default md5
    * hashing keeps the DuckDB oracle byte-exact; `hashFn = "xxhash64"`
    * (Config.MinHashFn) is the production path — long signatures, same plan
    * shape; structural equivalences spec-asserted in DedupSpec (band recall
    * near the similarity threshold is family-dependent by nature).
    */
  def minhashEdges(stats: DataFrame, hashFn: String = Config.MinHashFn): DataFrame = {
    import graft.model.Config.{MinHashBands, MinHashK, MinHashRows}
    val sh = stats.select(col("surface"), col("sim_key"))
      .withColumn("s", explode(expr(
        "array_distinct(transform(sequence(1, greatest(length(sim_key) - 2, 1)), i -> substring(sim_key, i, 3)))")))
    val seeds = (0 until MinHashK).map(lit(_))
    val sigCols = (0 until MinHashK).map(i =>
      min(when(col("sd") === i, col("h"))).as(s"h$i"))
    val hashCol = hashFn match {
      case "md5"      => md5(concat(col("sd").cast("string"), lit(":"), col("s")))
      case "xxhash64" => xxhash64(col("sd"), col("s"))
      case other      => throw new IllegalArgumentException(s"unknown minhash family: $other")
    }
    def bandKey(b: Int): org.apache.spark.sql.Column = {
      val cols = (0 until MinHashRows).map(i => col(s"h${b * MinHashRows + i}"))
      if (hashFn == "md5") concat(cols: _*) // oracle-mirrored (qCanonMinhash)
      else concat_ws(":", cols.map(_.cast("string")): _*)
    }
    val sig = sh.select(col("surface"), explode(array(seeds: _*)).as("sd"), col("s"))
      .groupBy(col("surface"), col("sd"))
      .agg(min(hashCol).as("h"))
      .groupBy(col("surface"))
      .agg(sigCols.head, sigCols.tail: _*)
    val bands = sig.select(col("surface"), explode(array(
      (0 until MinHashBands).map(b =>
        struct(lit(b).as("band"), bandKey(b).as("key"))): _*
    )).as("bk"))
      .select(col("surface"), col("bk.band"), col("bk.key"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.surface") < col("y.surface"))
      .select(col("x.surface").as("a"), col("y.surface").as("b"))
      .distinct()
    verifyEdges(cand, stats)
  }

  /** Reference-threshold verification ([[similar]]) of candidate pairs
    * (a, b) against the full per-surface dims — the verify stage of the
    * MinHash candidates; token blocking verifies inline ([[blockedEdges]]).
    */
  private def verifyEdges(cand: DataFrame, stats: DataFrame): DataFrame = {
    val dims = stats.select(col("surface"), col("sim_key"), col("words"))
    cand
      .join(dims.select(col("surface").as("a"), col("sim_key").as("ka"), col("words").as("wa")), "a")
      .join(dims.select(col("surface").as("b"), col("sim_key").as("kb"), col("words").as("wb")), "b")
      .filter(similar)
      .select(col("a"), col("b"))
  }

  /** Connected components over an undirected string-keyed edge list, pure
    * DataFrame iteration (no GraphX — north_rule). Distributed path:
    * alternating large-star/small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — the SURVEY §2.7 C1
    * prescription), which converges in O(log n) rounds where plain min-label
    * propagation needs O(diameter) — the difference between 14 and 10,000
    * rounds on a long alias chain. `vertices` must include isolated nodes.
    * Returns (surface, component), component = least member in UTF-8 order.
    *
    * `maxIter` default 60: the chain spec (CanonSpec) measures convergence
    * at ~1.5·log₂(n) alternating rounds (20 at n=10⁴), so 10⁹ vertices —
    * the 100× deployment shape — need ~45; 60 adds headroom. Hitting
    * `maxIter` without converging THROWS (the non-star-forest pair set
    * would otherwise emit multiple conflicting component labels per vertex
    * and silently corrupt every downstream canonical map via join fan-out).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 60,
      localThreshold: Long = 100000L, hubDegree: Long = 1024L): DataFrame =
    connectedComponentsWithRounds(vertices, edges, maxIter, localThreshold, hubDegree)._1

  /** [[connectedComponents]] plus the number of distributed rounds executed
    * (0 on the driver-local fast path) — exposed so the O(log n) round bound
    * is spec-assertable (CanonSpec chain-graph case).
    */
  def connectedComponentsWithRounds(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 60, localThreshold: Long = 100000L,
      hubDegree: Long = 1024L, bcastBound: Long = 1000000L): (DataFrame, Int) = {
    // Materialize the (possibly expensive — e.g. a banded similarity
    // self-join) edge input ONCE: the size gate, the local collect()/first
    // distributed round would otherwise each re-run the edge pipeline.
    // localCheckpointFreshLazy, not Dataset.localCheckpoint: Spark 4
    // propagates estimated stats through checkpoints, and in an iterative
    // join loop sizeInBytes SQUARES per round until the driver melts down in
    // BigInteger stats arithmetic — see GraftSqlShims.localCheckpointFreshLazy.
    // Lazy everywhere here: building one already runs the input's shuffle
    // stages (AQE plans the final stage from their sizes), and its final
    // stage then runs inside the next driver action (the size gate's
    // collects, the per-round checksum aggregate) — an eager count() would
    // be one more job, ~1/3 of the fixed per-round loop latency.
    val ck = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy _
    val vs = ck(vertices.select(col("surface")))
    val es = ck(edges.select(col("a"), col("b")))
    // Adaptive fast path (same spirit as Spark's broadcast-join threshold):
    // a dimension-sized graph is solved with driver-local union-find — the
    // iterative rounds below cost several scheduler round-trips that dwarf
    // the work when |V| is tiny. Identical output (component = min member).
    // Gated on BOTH vertex and edge count — a 100k-vertex similarity graph
    // can carry O(V²) edges, which must never be collect()ed whole: each
    // side is collected by [[upToBound]], and the local path is taken only
    // when both came back within the threshold. The canon jobs reach this
    // gate only past their own stats-table gate ([[canonLocal]]).
    val esRows = upToBound(es, localThreshold)
    lazy val vsRows = upToBound(vs, localThreshold)
    if (esRows.length <= localThreshold && vsRows.length <= localThreshold) {
      import vertices.sparkSession.implicits._
      return (ccLocal(vsRows.map(_.getString(0)),
        esRows.map(r => (r.getString(0), r.getString(1)))).toSeq.toDF("surface", "component"), 0)
    }
    val vsCount = vs.count()
    val esCount = es.count()
    // Scale-adaptive round sizing (guide §2: derive partitioning from the
    // measured input, never a constant): the per-round pair set is bounded
    // by the edge count, so round exchanges are coalesced to ~50k pairs per
    // partition, capped at the session's configured shuffle parallelism
    // (the production knob). Without this every round of a small-but-forced-
    // distributed graph materializes conf-many near-empty tasks per stage —
    // measured 32 tasks per checkpoint for a 4k-pair set, ~1.1 s/round of
    // pure scheduling at local[32].
    val spark0 = vertices.sparkSession
    val confPar = spark0.sessionState.conf.numShufflePartitions
    val nPart = math.max(1, math.min(confPar, (math.max(vsCount, esCount) / 50000L).toInt + 1))
    // A dimension-sized neighborhood-min table collects/broadcasts (standard
    // broadcast-below-threshold policy — `bcastBound` is exposed so tests
    // can force either branch); past the gate the rounds run the hub-split
    // hash-join formulation so a mega-hub's adjacency still never lands on
    // a single reducer.
    val bcastM = math.max(vsCount, esCount) <= bcastBound
    // Edges referencing endpoints absent from `vertices` are ignored — the
    // exact semantics of ccLocal's parent.contains guard, enforced here so
    // the two paths can never diverge.
    val known = es
      .join(vs.withColumnRenamed("surface", "a"), Seq("a"), "left_semi")
      .join(vs.withColumnRenamed("surface", "b"), Seq("b"), "left_semi")
    // Canonical undirected pair set (a < b), self-loops dropped.
    var pairs = ck(known
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .coalesce(nPart))
    // Dimension-sized graphs iterate at the RDD layer (identical math, two
    // shuffles + one vertex-bounded driver collect per round); past the
    // broadcast gate the rounds run as the DataFrame hub-split formulation.
    val (finalPairs, rounds) =
      if (bcastM) ccRoundsRdd(spark0, pairs, nPart, maxIter)
      else ccRoundsDf(pairs, hubDegree, nPart, maxIter)
    // Fixpoint is a star forest: every pair is (component-min, member).
    val labels = vs
      .join(finalPairs.select(col("b").as("surface"), col("a").as("component")), Seq("surface"), "left")
      .select(col("surface"), coalesce(col("component"), col("surface")).as("component"))
    (labels, rounds)
  }

  /** At most `localThreshold + 1` rows of `df`: the read behind every
    * driver-local gate (the canon jobs' stats table, both sides of the CC
    * graph), which goes local only when at most `localThreshold` came back.
    * It reads the partitions in order in ONE task (coalesce(1)) and stops
    * at the limit: a plain limit scans one partition per job and then
    * scales up, several jobs per gate. Every partition it reads off a
    * checkpoint is computed whole and kept, so a distributed branch past
    * the gate reuses it.
    */
  private def upToBound(df: DataFrame, localThreshold: Long): Array[Row] = {
    require(localThreshold >= 0 && localThreshold < Int.MaxValue,
      s"localThreshold out of range: $localThreshold")
    df.coalesce(1).limit(localThreshold.toInt + 1).collect()
  }

  /** The alternating star-round fixpoint loop, DataFrame form — the branch
    * for graphs whose neighborhood-min table may exceed broadcast/driver
    * bounds (hub-split joins, AQE skew handling).
    *
    * Fixpoint detection via an order-independent edge-set checksum
    * (count + bit_xor of xxhash64(a,b)): ONE tiny driver action per round
    * on the lazily-checkpointed pair set — the aggregate doubles as the
    * checkpoint-materializing action (SURVEY §7.6 risk 5 — batched driver
    * actions). A checksum MATCH is confirmed with one exact set compare
    * before the loop exits: counts are equal by construction (part of the
    * signature), so `next \ pairs = ∅` ⇒ set equality — a bit_xor hash
    * collision therefore cannot terminate the loop early with wrong
    * components; it only costs one extra round.
    *
    * Why this loop stays past the gate: the same hub split written as an
    * RDD leg of [[ccRoundsRdd]] (hubs broadcast, other sources joined to m
    * by key) took 296-344 s where this loop took 140-161 s, on 600k pairs ∪
    * a 20k-leaf star ∪ a 5k chain (1.23M vertices, 14 rounds, local[4] on
    * a 4-core host).
    */
  private def ccRoundsDf(pairs0: DataFrame, hubDegree: Long, nPart: Int,
      maxIter: Int): (DataFrame, Int) = {
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var pairs = pairs0
    var rounds = 0
    var sig = checksum(pairs)
    var converged = sig._1 == 0L
    while (!converged && rounds < maxIter) {
      // Large-star: every node u links its strictly-larger neighbors to
      // m(u) = min(Γ(u) ∪ {u}). Small-star: u links its ≤ neighbors and
      // itself to m(u). Alternating the two is the published O(log n)
      // scheme; the fixpoint is a star forest centered at component minima.
      val (afterLarge, mLarge) = starRound(pairs, hubDegree, large = true, nPart)
      val (next, mSmall) = starRound(afterLarge, hubDegree, large = false, nPart)
      // Materializes next's checkpoint AND afterLarge's (first touch) in
      // one job, while both rounds' cached m aggregates are still live.
      val nextSig = checksum(next)
      mLarge.unpersist(false)
      mSmall.unpersist(false)
      converged = nextSig == sig && next.exceptAll(pairs).isEmpty
      sig = nextSig
      pairs = next
      rounds += 1
    }
    requireConverged(converged, maxIter, rounds)
    (pairs, rounds)
  }

  /** The same alternating star-round loop at the RDD layer — the branch for
    * graphs small enough that the per-source minimum collects to a driver
    * map (the [[connectedComponentsWithRounds]] broadcast gate). Math is
    * line-for-line [[starRound]]'s: m(u) = min(Γ(u) ∪ {u}); large-star
    * emits (m(src), dst) for dst > src; small-star emits (m(src), dst) for
    * dst < src plus (m(src), src) for every src; self-loops dropped,
    * distinct per round; convergence = signature match confirmed by an
    * exact set compare (subtract), exactly like the DataFrame loop. Why a
    * second layer: each DataFrame round pays a fresh Catalyst plan cycle;
    * here a round is two shuffles and one vertex-bounded collect. On
    * `graft.Harness target q_cc_dist` (sf0.1, local[4] on a 4-core host,
    * 3 alternating JVM pairs × 3 reps) this loop took 3.08-3.96 s and
    * `ccRoundsDf` 6.62-8.89 s, so both loops stay.
    * CanonSpec pins RDD ≡ DataFrame ≡ local union-find on forced graphs.
    */
  private def ccRoundsRdd(spark: org.apache.spark.sql.SparkSession,
      pairs0: DataFrame, nPart: Int, maxIter: Int): (DataFrame, Int) = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    val sc = spark.sparkContext
    val part = new HashPartitioner(nPart)
    def h64(a: String, b: String): Long =
      (scala.util.hashing.MurmurHash3.stringHash(a).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(b).toLong & 0xffffffffL)
    def checksum(p: RDD[(String, String)]): (Long, Long) =
      p.mapPartitions { it =>
        var n = 0L; var x = 0L
        it.foreach { case (a, b) => n += 1; x ^= h64(a, b) }
        Iterator((n, x))
      }.fold((0L, 0L)) { case ((n1, x1), (n2, x2)) => (n1 + n2, x1 ^ x2) }

    var pairs: RDD[(String, String)] =
      pairs0.rdd.map(r => (r.getString(0), r.getString(1)))
    pairs.localCheckpoint()
    var rounds = 0
    var sig = checksum(pairs)
    var converged = sig._1 == 0L
    while (!converged && rounds < maxIter) {
      def star(p: RDD[(String, String)], large: Boolean)
          : (RDD[(String, String)], org.apache.spark.broadcast.Broadcast[Map[String, String]]) = {
        val sym = p.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
        val m = sym.reduceByKey(part, (x: String, y: String) => if (utf8Compare(x, y) <= 0) x else y)
          .map { case (s, mn) => (s, if (utf8Compare(mn, s) < 0) mn else s) }
        val mMap = sc.broadcast(m.collectAsMap().toMap)
        val base = sym.mapPartitions { it =>
          val mm = mMap.value
          it.flatMap { case (src, dst) =>
            val c = utf8Compare(dst, src)
            if (if (large) c > 0 else c < 0) Iterator((mm(src), dst)) else Iterator.empty
          }
        }
        // small-star self pairs (m(src), src) come from the m RDD — its
        // reduceByKey shuffle output is reused, not recomputed
        val emitted = if (large) base else base ++ m.map { case (s, mv) => (mv, s) }
        (emitted.filter { case (a, b) => a != b }.distinct(nPart), mMap)
      }
      val (afterLarge, mL) = star(pairs, large = true)
      val (next, mS) = star(afterLarge, large = false)
      next.localCheckpoint() // lineage cut, materialized by the checksum job
      val nextSig = checksum(next)
      converged = nextSig == sig && next.subtract(pairs, nPart).isEmpty()
      mL.destroy()
      mS.destroy()
      pairs.unpersist(false)
      sig = nextSig
      pairs = next
      rounds += 1
    }
    requireConverged(converged, maxIter, rounds)
    import spark.implicits._
    (pairs.toDF("a", "b"), rounds)
  }

  /** Spark's string order (UTF-8 bytes, i.e. code points) without
    * allocating, for every hand-written CC comparison. At the first
    * differing UTF-16 unit, surrogates (0xD800-0xDFFF, characters past the
    * BMP) rank above U+E000-U+FFFF; `String.compareTo` ranks them below. */
  private def utf8Compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    def lift(c: Char): Int = if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c
    if (i == n) a.length - b.length else lift(a.charAt(i)) - lift(b.charAt(i))
  }

  /** Fail loudly on non-convergence: the pair set is not yet a star forest,
    * so label extraction could emit conflicting component labels per vertex
    * — silent corruption of every downstream canonical map. (See the
    * maxIter sizing note on [[connectedComponents]].)
    */
  private def requireConverged(converged: Boolean, maxIter: Int, rounds: Int): Unit =
    require(converged,
      s"connected components did not converge within maxIter=$maxIter " +
        s"rounds ($rounds executed) — raise maxIter (~1.5*log2(|V|) rounds " +
        "are needed; default 60 covers 1e12 vertices)")

  /** Per-source neighborhood minimum m(src) = min(Γ(src) ∪ {src}) and the
    * degree, joined back onto the symmetric edge list. The min/count agg is
    * map-side combinable (no reducer hot-spot); the join back is hub-split:
    * sources with degree > hubDegree take a BROADCAST m-join so a
    * mega-component hub never lands its whole adjacency on one reducer
    * (north_star "salted, AQE-rebalanced" CC).
    */
  private def withNbrMin(sym: DataFrame, hubDegree: Long,
      nPart: Int): (DataFrame, DataFrame) = {
    // cache (lazy), not an eager checkpoint: m is consumed 2-3× inside one
    // star op and discarded — no extra materialization job, and lineage is
    // already cut at the per-round pair checkpoints
    val m = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"), count(lit(1)).as("deg"))
      .select(col("src"), least(col("mn"), col("src")).as("m"), col("deg"))
      .coalesce(nPart)
      .cache()
    val hubs = m.filter(col("deg") > hubDegree).select(col("src"), col("m"))
    val symCold = sym.join(hubs.select(col("src")), Seq("src"), "left_anti")
    val symHub = sym.join(hubs.select(col("src")), Seq("src"), "left_semi")
    val joined = symCold.join(m.select(col("src"), col("m")), "src")
      .unionByName(symHub.join(broadcast(hubs), "src"))
    (joined, m)
  }

  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))

  /** One star round, LAZILY checkpointed (iterative lineage cut; the
    * caller's checksum aggregate is the materializing action).
    *
    * Large-star (`large = true`): emit (v, m(u)) for every neighbor v > u —
    * output is canonical pairs (m ≤ src < dst). Small-star: emit (v, m(u))
    * for every neighbor v < u plus (u, m(u)) itself — all edges point
    * downward to local minima.
    *
    * Returns (out, m): `m` is the round's CACHED neighborhood-min
    * aggregate, consumed 2-3× inside the round's plan — the caller must
    * unpersist it AFTER materializing `out` (unpersisting earlier would
    * recompute the aggregate per consumer when the lazy checkpoint finally
    * executes).
    */
  private def starRound(pairs: DataFrame, hubDegree: Long,
      large: Boolean, nPart: Int): (DataFrame, DataFrame) = {
    val (symM, m) = withNbrMin(symmetrize(pairs), hubDegree, nPart)
    val emitted =
      if (large)
        symM.filter(col("dst") > col("src"))
          .select(col("m").as("a"), col("dst").as("b")) // m ≤ src < dst
      else
        symM.filter(col("dst") < col("src"))
          .select(col("m").as("a"), col("dst").as("b")) // m ≤ dst by definition
          .unionByName(m.select(col("m").as("a"), col("src").as("b")))
    // coalesce AFTER the distinct: map-side partial dedup is kept, only the
    // post-exchange final-aggregate + checkpoint stage shrinks to nPart
    // tasks (the checkpoint would otherwise pin conf-many partitions for
    // the rest of the loop's lifetime)
    val out = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy(
      emitted.filter(col("a") =!= col("b")).distinct().coalesce(nPart))
    (out, m)
  }

  /** Pair-level evaluation of a canonicalization vs golden alias groups —
    * the deterministic form of the reference's label-group matching + metric
    * print (check_performance.py:63-89, SURVEY §2.4 J10 + §2.5 A8). Standard
    * ER pair metric: within-cluster pairs predicted vs golden (restricted to
    * surfaces present in the prediction), all counts integer.
    */
  def pairEval(canonMap: DataFrame, golden: DataFrame): DataFrame = {
    // Pure size arithmetic — a cluster of n surfaces holds n·(n−1)/2 pairs,
    // so every count comes from group sizes, never a within-cluster
    // self-join (which is quadratic in the largest cluster: one 10⁶-member
    // mega-cluster would materialize 5·10¹¹ rows). Valid because canonMap
    // has one row per surface and golden groups are disjoint; correct pairs
    // = pairs agreeing on BOTH keys = Σ over (canonical, group_id) cells.
    val cm = canonMap.select(col("surface"), col("canonical"))
    val g = golden.join(cm.select(col("surface")), "surface")
    val cells = cm.join(golden, "surface")
    def sumPairs(df: DataFrame, alias: String, keys: Seq[String]): DataFrame =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as(alias))
    sumPairs(cm, "n_pred_pairs", Seq("canonical"))
      .crossJoin(sumPairs(g, "n_gold_pairs", Seq("group_id")))
      .crossJoin(sumPairs(cells, "n_correct_pairs", Seq("canonical", "group_id")))
  }

  /** Surface dimension (surface, sim_key, words) from a static list — used
    * by the heuristic edge queries over gazetteer dimensions.
    */
  def surfaceDim(spark: org.apache.spark.sql.SparkSession, surfaces: Seq[String]): DataFrame = {
    import spark.implicits._
    withWords(surfaces.toDF("surface"))
  }

  /** C4 word-bag-subset edges (check_heuristics.use_part_of_the_name:63-97):
    * (a, b) where a's ≥2 normalized words are all contained in b's and b has
    * strictly more words. Blocked on a shared token — never all-pairs.
    */
  def subsetEdges(dim: DataFrame): DataFrame = {
    val toks = dim.select(col("surface"), col("words"))
      .withColumn("tok", explode(col("words")))
    val l = toks.select(col("surface").as("a"), col("words").as("wa"), col("tok").as("tok_a"))
    val r = toks.select(col("surface").as("b"), col("words").as("wb"), col("tok").as("tok_b"))
    l.join(r, col("tok_a") === col("tok_b") && col("a") =!= col("b"))
      .filter(size(col("wa")) >= 2 &&
        size(col("wb")) > size(col("wa")) &&
        size(array_except(col("wa"), col("wb"))) === 0)
      .select(col("a"), col("b"))
      .distinct()
  }

  /** C5 abbreviation edges (check_heuristics.fix_abbreviations:191-226):
    * a has ≥1 single-letter initial (after punctuation strip); b contains all
    * of a's full words; every initial of a prefixes some extra word of b.
    * Blocked on a shared full word.
    */
  def abbrevEdges(dim: DataFrame): DataFrame = {
    val cleaned = dim
      .withColumn("cw", expr("transform(words, w -> regexp_replace(w, '[^a-z0-9]', ''))"))
      .withColumn("initials", expr("filter(cw, w -> length(w) = 1)"))
      .withColumn("fulls", expr("filter(cw, w -> length(w) > 1)"))
    val l = cleaned.filter(size(col("initials")) >= 1 && size(col("fulls")) >= 1)
      .select(col("surface").as("a"), col("initials"), col("fulls").as("fa"),
        explode(col("fulls")).as("tok_a"))
    val r = cleaned.filter(size(col("initials")) === 0)
      .select(col("surface").as("b"), col("cw").as("wb"), explode(col("cw")).as("tok_b"))
    l.join(r, col("tok_a") === col("tok_b"))
      .filter(size(array_except(col("fa"), col("wb"))) === 0)
      .withColumn("extra", expr("array_except(wb, fa)"))
      .filter(expr("forall(initials, i -> exists(extra, w -> startswith(w, i)))"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** C7 non-unique partitioning: split surfaces into (has a similar partner)
    * vs isolated — degree ≥ 1 endpoints vs the anti-join complement
    * (OllamaEntityCleaner.find_unique_entities:400-421 at scale). Returns
    * (surface, linked: boolean).
    */
  def linkedPartition(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val endpoints = edges.select(col("a").as("surface"))
      .unionByName(edges.select(col("b").as("surface"))).distinct()
    vertices.select(col("surface"))
      .join(endpoints.withColumn("linked", lit(true)), Seq("surface"), "left")
      .withColumn("linked", coalesce(col("linked"), lit(false)))
  }

  /** Driver-local union-find for dimension-sized similarity graphs; labels
    * each vertex with the minimum of its component in Spark's string order
    * ([[utf8Compare]]) — exactly the fixpoint of the distributed round
    * loops. Returns (surface, component) in `vs` order; edges with an
    * endpoint outside `vs` are ignored.
    */
  private def ccLocal(vs: Array[String], es: Iterable[(String, String)]): Array[(String, String)] = {
    val parent = scala.collection.mutable.HashMap(vs.map(v => v -> v): _*)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(rb) = ra
      }
    }
    val minOf = scala.collection.mutable.HashMap.empty[String, String]
    vs.foreach { v =>
      val r = find(v)
      val cur = minOf.get(r)
      if (cur.isEmpty || utf8Compare(v, cur.get) < 0) minOf(r) = v
    }
    vs.map(v => (v, minOf(find(v))))
  }

  /** Deterministic canonical representative per component: most words, then
    * longest, then most mentions, then lexicographically last — the
    * deterministic stand-in for the reference's temperature-0 LLM pick
    * (SURVEY §2.7 C2). Mirrored by a row_number window in the DuckDB oracle.
    */
  def canonicalMap(mentions: Dataset[Mention]): DataFrame =
    canonicalState(mentions).canonMap

  /** Representative pick over (surface, component) labels + per-surface
    * stats — the shared tail of the full and incremental canon jobs. The
    * first surface of each component in rank order, read off the window
    * itself: the four keys end in the surface, so the order is total and
    * every member row carries its component's pick without a join back.
    */
  def canonicalPick(stats: DataFrame, comps: DataFrame): DataFrame =
    stats.join(comps, "surface")
      .select(col("surface"), first(col("surface")).over(
        Window.partitionBy(col("component")).orderBy(
          size(split(col("surface"), " ")).desc,
          length(col("surface")).desc,
          col("n_mentions").desc,
          col("surface").desc)).as("canonical"))

  // ------------------------------------------------------------------
  // Incremental canonicalization (the production refresh shape): at 100 TB
  // the periodic batch canon job must not re-join the full surface dimension
  // against itself per refresh — a day's delta is orders of magnitude
  // smaller than the accumulated corpus. The engine carries (stats, map)
  // forward and pays only delta-proportional edge generation.
  // ------------------------------------------------------------------

  /** Carried state of the periodic canon job: the per-surface stats
    * dimension ([[surfaceStats]] schema) and the alias map it produced.
    * Both are dimension-sized (one row per distinct PERSON surface) — in a
    * production deployment they live as parquet tables between refreshes.
    */
  final case class CanonState(stats: DataFrame, canonMap: DataFrame)

  /** Schemas (DDL) of the two [[CanonState]] tables, for readers of a
    * persisted state that would otherwise infer them from parquet footers.
    */
  val StatsSchema = "surface STRING, n_mentions BIGINT, sim_key STRING, words ARRAY<STRING>"
  val AliasSchema = "surface STRING, canonical STRING"

  /** Refresh outcome: the new carried state and whether the exactness
    * guard forced a full recompute.
    */
  final case class CanonRefresh(state: CanonState, fellBack: Boolean)

  /** Full canon job, returning the carry-forward [[CanonState]]. The
    * dimension-sized stats are cut once (`GraftSqlShims.localCheckpointFreshLazy`,
    * as [[canonicalMapIncremental]] does on the merged stats); building the
    * cut runs the aggregation's shuffle, and its final stage runs inside
    * the one bounded collect of `(surface, n_mentions, sim_key, words)`
    * that [[canonLocal]] gates on. Within `localThreshold` surfaces and
    * [[LocalMaxCandidates]] candidates the driver canonicalizes them and
    * `canonMap` is a local DataFrame: no further Spark job. Otherwise the
    * distributed chain runs, and blocking, edge verification, the CC
    * vertex set and the pick all read the cut (without it each consumer
    * would re-aggregate the corpus-sized mention table). `stats` is the
    * cut in both branches.
    */
  def canonicalState(mentions: Dataset[Mention],
      maxBlock: Long = Config.MaxTokenBlock, localThreshold: Long = 100000L): CanonState = {
    val stats = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy(
      surfaceStats(mentions))
    val canon = canonLocal(stats.withColumn("is_new", lit(true)), None, maxBlock, localThreshold)
      .map(_._1).getOrElse(canonicalPick(stats, connectedComponents(stats.select("surface"),
        similarityEdges(stats, maxBlock), localThreshold = localThreshold)))
    CanonState(stats, canon)
  }

  /** Upper bound on the blocking candidates the driver branch enumerates
    * (Σ over cold tokens of probing members × block size, summed from the
    * token table before any pair is built): it bounds the driver's CPU
    * and the edges it holds. Sized from a measurement on canon_refresh
    * tables (seed 1, local[4], 4-core host): the driver solve ran at about
    * 2M candidates/s (0.13-0.18 s for 349k candidates at 7,920 surfaces,
    * 1.1-1.3 s for 2.37M at 49,500), while the distributed chain took
    * 2.0-2.6 s and 4.1-5.1 s on the same tables. At this bound the driver
    * spends about 2 s, no more than the chain at the smallest size.
    * With the code-point verifier ([[levenshteinWithin]]) the solve runs at
    * about 3.5M candidates/s: on tables of the same shape (10 full calls
    * each, same host), 0.09-0.15 s for 353k candidates at 7,920 surfaces
    * and 0.64-0.98 s for 2.39M at 49,500, against 0.14-0.25 s and
    * 1.04-1.56 s with `UTF8String.levenshteinDistance`. The bound itself
    * is unchanged: re-sizing it belongs with a memory-derived driver gate.
    */
  val LocalMaxCandidates = 4000000L

  /** One collected stats row of the driver branch, with the UTF-8 forms
    * Spark's string expressions evaluate on. `keyCps` holds the sim_key's
    * characters as `UTF8String` counts them (one per UTF-8 sequence, that
    * is, one per code point), decoded from its bytes once per surface, so
    * [[similarLocal]]'s distance compares ints instead of byte ranges.
    */
  private final class Surf(r: Row) {
    val surface: String = r.getString(0)
    val n: Long = r.getLong(1)
    val keyCps: Array[Int] = codePoints(UTF8String.fromString(r.getString(2)))
    val words: Array[String] = r.getSeq[String](3).toArray
    val isNew: Boolean = r.getBoolean(4)
    val utf8: UTF8String = UTF8String.fromString(surface)
  }

  /** The characters of `s` as `numChars` and `levenshteinDistance` see
    * them: the code points of its UTF-8 bytes. A Java string's lone
    * surrogate is already `?` in those bytes, as it is for Spark.
    */
  private[graft] def codePoints(s: UTF8String): Array[Int] = s.toString.codePoints.toArray

  /** [[similar]] on the driver: sim_key equality, its length in characters
    * and its Levenshtein distance (what `===`, `length` and `levenshtein`
    * evaluate), word overlap over the distinct `words` (`array_intersect`),
    * the same double arithmetic and [[Config]] thresholds. The ratio
    * `1 − d/m` falls as the distance d grows, so its predicate holds
    * exactly up to [[levBound]]`(m)`, and the banded [[levenshteinWithin]]
    * over the code-point arrays decides it without filling the whole
    * table.
    */
  private def similarLocal(a: Surf, b: Surf): Boolean =
    java.util.Arrays.equals(a.keyCps, b.keyCps) ||
      a.words.count(b.words.contains).toDouble /
        math.max(a.words.length, b.words.length).toDouble >= Config.WordOverlapThreshold ||
      levenshteinWithin(a.keyCps, b.keyCps,
        levBound(math.max(a.keyCps.length, b.keyCps.length))) >= 0

  /** `UTF8String.levenshteinDistance(other, k)` over code-point arrays: the
    * edit distance of `a` and `b` if it is at most `k`, else −1. Only the
    * diagonal band |i − j| ≤ k is filled (a path of cost ≤ k never leaves
    * it; cells outside it read as k + 1), and the scan stops once a whole
    * row of the band exceeds k.
    */
  private[graft] def levenshteinWithin(a: Array[Int], b: Array[Int], k: Int): Int = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val (n, m) = (s.length, t.length)
    if (m - n > k) return -1
    val out = k + 1
    var p = Array.tabulate(n + 1)(i => if (i <= k) i else out)
    var d = Array.fill(n + 1)(out)
    var j = 1
    while (j <= m) {
      val lo = math.max(1, j - k)
      val hi = math.min(n, j + k)
      d(lo - 1) = if (lo == 1) j else out
      val tj = t(j - 1)
      var rowMin = d(lo - 1)
      var i = lo
      while (i <= hi) {
        val v = math.min(math.min(d(i - 1), p(i)) + 1, p(i - 1) + (if (s(i - 1) == tj) 0 else 1))
        d(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > k) return -1
      val x = p; p = d; d = x
      j += 1
    }
    if (p(n) <= k) p(n) else -1
  }

  /** The largest distance d with `1.0 - d / m > LevRatioThreshold`. */
  private def levBound(m: Int): Int = {
    var d = 0
    while (1.0 - (d + 1).toDouble / m.toDouble > Config.LevRatioThreshold) d += 1
    d
  }

  private val Space = UTF8String.fromString(" ")

  /** The driver branch of both canon jobs. One [[upToBound]] collect of a
    * flagged stats table's `(surface, n_mentions, sim_key, words, is_new)`;
    * when at most `localThreshold` rows came back (none with a null
    * surface), the distributed chain's math runs on the driver:
    *  - the token table (`df`, `df_old`), the stop-token cap and the
    *    cap-crossing gate, which makes every surface probe (the full job);
    *  - [[LocalMaxCandidates]] against the candidate count summed from the
    *    block sizes — past it, None before any pair is enumerated;
    *  - old connectivity (`carried`, the incremental refresh's old map) as
    *    its star pairs, one more bounded collect, skipped by the fallback;
    *  - [[blockedEdges]]' probe rule `a ≠ b && (!new_b || a < b)` with
    *    [[similarLocal]] verification, [[ccLocal]], and [[canonicalPick]]'s
    *    four keys.
    * Surfaces are indexed in Spark's string order (UTF-8 bytes, which
    * differs from `String.compareTo` past the BMP), so `a < b` and the
    * pick's `surface desc` are index compares. Returns the map as a local
    * DataFrame and whether the cap-crossing gate fired; None past a gate.
    */
  private def canonLocal(flagged: DataFrame, carried: Option[DataFrame], maxBlock: Long,
      localThreshold: Long): Option[(DataFrame, Boolean)] = {
    val rows = upToBound(flagged.select(col("surface"), col("n_mentions"), col("sim_key"),
      col("words"), col("is_new")), localThreshold)
    if (rows.length > localThreshold || rows.exists(_.isNullAt(0))) return None
    val ss = rows.map(new Surf(_)).sortWith((x, y) => x.utf8.compareTo(y.utf8) < 0)
    val blocks = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    ss.indices.foreach(i => ss(i).words.foreach(w =>
      blocks.getOrElseUpdate(w, mutable.ArrayBuffer.empty[Int]) += i))
    val crossed = blocks.valuesIterator.exists { b =>
      val dfOld = b.count(!ss(_).isNew)
      dfOld >= 2 && dfOld <= maxBlock && b.length > maxBlock
    }
    val probe = ss.map(s => crossed || s.isNew)
    val cold = blocks.filter(_._2.length <= maxBlock)
    if (cold.valuesIterator.map(b => b.count(probe(_)).toLong * b.length).sum > LocalMaxCandidates)
      return None
    val star = if (crossed) Array.empty[Row] else carried.fold(Array.empty[Row])(m =>
      upToBound(m.filter(col("surface") =!= col("canonical"))
        .select(col("canonical"), col("surface")), localThreshold))
    if (star.length > localThreshold) return None
    val edges = mutable.ArrayBuffer.empty[(String, String)]
    val seen = Array.fill(ss.length)(-1) // the last probe that tested each surface
    ss.indices.filter(probe(_)).foreach { i =>
      ss(i).words.foreach(w => cold.get(w).foreach(_.foreach { j =>
        if (j != i && seen(j) != i) {
          seen(j) = i
          if ((!probe(j) || i < j) && similarLocal(ss(i), ss(j)))
            edges += ((ss(i).surface, ss(j).surface))
        }
      }))
    }
    val labels = ccLocal(ss.map(_.surface),
      edges ++ star.iterator.map(r => (r.getString(0), r.getString(1))))
    // size(split(surface, ' ')) and length(surface) as StringSplit and
    // Length evaluate them; the index breaks ties as `surface desc`.
    val rank = ss.indices.map(i => (ss(i).utf8.split(Space, -1).length, ss(i).utf8.numChars,
      ss(i).n, i))
    val pick = mutable.HashMap.empty[String, Int]
    labels.indices.foreach { i =>
      val c = labels(i)._2
      if (pick.get(c).forall(j => Ordering[(Int, Int, Long, Int)].gt(rank(i), rank(j)))) pick(c) = i
    }
    // createDataFrame, not toDF: a renaming projection would hide the
    // LocalRelation from `isLocal` and from the planner
    Some((flagged.sparkSession.createDataFrame(
      java.util.Arrays.asList(labels.map { case (s, c) => Row(s, ss(pick(c)).surface) }: _*),
      org.apache.spark.sql.types.StructType.fromDDL(AliasSchema)), crossed))
  }

  /** Merge the carried stats dimension with a delta batch's stats: mention
    * counts add per surface; sim_key/words are pure functions of the
    * surface. [[flaggedMerge]] without its flag.
    */
  def mergeStats(oldStats: DataFrame, deltaStats: DataFrame): DataFrame =
    flaggedMerge(oldStats, deltaStats).drop("is_new")

  /** The merged stats dimension flagged with `is_new` (surface absent from
    * `oldStats`): one map-side-combinable aggregation over the carried
    * stats ∪ the delta's `(surface, n_mentions)` rows — a stats table, or
    * raw mentions at one each. A delta row of an old surface adds to its
    * count and leaves it old (`min` over the flags).
    */
  private[graft] def flaggedMerge(oldStats: DataFrame, delta: DataFrame): DataFrame =
    withWords(oldStats.select(col("surface"), col("n_mentions"), lit(false).as("is_new"))
      .unionByName(delta.select(col("surface"), col("n_mentions"), lit(true).as("is_new")))
      .groupBy(col("surface"))
      .agg(sum(col("n_mentions")).as("n_mentions"), min(col("is_new")).as("is_new")))

  /** Similarity edges incident to the NEW surfaces only, under the MERGED
    * dimension's stop-token cap — candidate cost is |new| × block sizes,
    * never |merged|². The same blocking + verification routine as
    * [[similarityEdges]] ([[blockedEdges]]), with `newSurfaces` flagged.
    */
  def deltaEdges(mergedStats: DataFrame, newSurfaces: DataFrame,
      maxBlock: Long = Config.MaxTokenBlock): DataFrame = {
    val flagged = mergedStats
      .join(newSurfaces.select(col("surface")).distinct().withColumn("is_new", lit(true)),
        Seq("surface"), "left")
      .withColumn("is_new", coalesce(col("is_new"), lit(false)))
    blockedEdges(flagged, coldTokens(tokenTable(flagged), maxBlock))
  }

  /** Incremental canon refresh: fold a delta mention batch into a carried
    * [[CanonState]] and return the refreshed state, EXACTLY equal to a full
    * [[canonicalState]] over the union corpus (CanonSpec property).
    *
    * Why it is exact: edges depend only on the surface dimension and the
    * per-token block cap. Surfaces only accumulate, so token df only grows
    * — a full run over the merged dimension generates old↔old candidates
    * through tokens still cold in MERGED, all of which were cold in OLD too,
    * so merged-full old↔old edges ⊆ old edges, and old connectivity (carried
    * as the old map's star contraction pairs) subsumes them. Edges touching
    * a new surface are regenerated under the merged cap by the blocking
    * routine [[deltaEdges]] runs.
    * The ONE non-monotone case: a token whose block crosses the cap
    * (df_old ∈ [2, cap], df_merged > cap) — a fresh full run would DROP
    * old↔old pairs whose only generating token it was, splitting components
    * the carried state keeps merged. That case is detected by a filter on
    * the token table the blocking reads anyway (`df_old` counts the flagged
    * merge's old rows, which are exactly the carried surfaces) and answered
    * by falling back to the full job over the merged stats
    * (`fellBack = true`); in a web corpus a token crosses a 1000-surface
    * block once ever, not per refresh, so the amortized cost stays
    * delta-proportional.
    *
    * The canonical pick re-ranks ALL merged surfaces (n_mentions — rank key
    * 3 — moves with every delta), but that is a dimension-sized window, not
    * a corpus-sized one.
    *
    * Driver branch: the flagged merge is collected once ([[canonLocal]]);
    * within `localThreshold` surfaces and [[LocalMaxCandidates]]
    * candidates, the token table, the cap-crossing gate, the new-surface
    * probes and the pick run on the driver, with old connectivity from one
    * collect of the carried map's star pairs. `fellBack` means the same in
    * both branches, and `state.canonMap` is then a local DataFrame.
    */
  def canonicalMapIncremental(old: CanonState, deltaMentions: Dataset[Mention],
      maxBlock: Long = Config.MaxTokenBlock, localThreshold: Long = 100000L): CanonRefresh = {
    val ck = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy _
    // Checkpoint the flagged merge: it feeds the driver gate's collect and,
    // past it, the token table, the blocking, the CC vertex set and the
    // pick — without the cut, each consumer action would re-scan the delta
    // mention source.
    val flagged = ck(flaggedMerge(old.stats,
      personSurfaces(deltaMentions).withColumn("n_mentions", lit(1L))))
    val merged = flagged.drop("is_new")
    val (canon, crossed) = canonLocal(flagged, Some(old.canonMap), maxBlock, localThreshold)
      .getOrElse(incrementalDistributed(old.canonMap, flagged, maxBlock, localThreshold))
    CanonRefresh(CanonState(merged, canon), fellBack = crossed)
  }

  /** The distributed branch of [[canonicalMapIncremental]] over the
    * carried map: the refreshed map and whether the cap-crossing gate fired.
    */
  private def incrementalDistributed(carried: DataFrame, flagged: DataFrame, maxBlock: Long,
      localThreshold: Long): (DataFrame, Boolean) = {
    val ck = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy _
    val merged = flagged.drop("is_new")
    // One token table for the exactness gate and the blocking keys.
    val tokens = ck(tokenTable(flagged))
    // Exactness gate: any token crossing the cold→hot cap boundary with ≥2
    // old surfaces invalidates carried edges.
    val crossed = !tokens
      .filter(col("df_old") >= 2 && col("df_old") <= maxBlock && col("df") > maxBlock)
      .isEmpty
    val cold = coldTokens(tokens, maxBlock)
    val edges =
      // fallback: the full job's edges (every surface probes), which are
      // similarityEdges(merged) — its token table is this one
      if (crossed) blockedEdges(flagged.withColumn("is_new", lit(true)), cold)
      else
        // Old connectivity enters as the old map's star contraction pairs
        // (canonical, member) — already a star forest, so the CC loop pays
        // O(1) rounds for them; only delta edges add structure.
        carried
          .filter(col("surface") =!= col("canonical"))
          .select(col("canonical").as("a"), col("surface").as("b"))
          .unionByName(blockedEdges(flagged, cold))
    val comps = connectedComponents(merged.select("surface"), edges,
      localThreshold = localThreshold)
    (canonicalPick(merged, comps), crossed)
  }

  /** Collect a [[canonicalMap]] result into the broadcastable alias snapshot
    * (surface → canonical) the streaming flagship rewrites provenance
    * through. Dimension-sized by construction — one row per distinct
    * surface, never per mention. UNBOUNDED driver collect: callers on the
    * streaming path must go through [[snapshotBounded]], which falls back
    * to the DataFrame form past [[SnapshotMaxRows]] instead of OOMing the
    * driver at a 10⁸-10⁹-surface dimension.
    */
  def snapshot(canonMap: DataFrame): Map[String, String] =
    canonMap.collect()
      .map(r => r.getAs[String]("surface") -> r.getAs[String]("canonical")).toMap

  /** Alias snapshot for the streaming flagship, in one of two shapes:
    *  - [[AliasMap]]: a plain driver map, broadcast into the fused per-page
    *    stage's task closure — provenance rewrite costs a hash lookup, the
    *    micro-batch stays map-only. Right up to millions of surfaces.
    *  - [[AliasFrame]]: the canonical map kept as a DataFrame; the fused
    *    stage emits RAW (surface) provenance and the sink rewrites it with
    *    an equi-join per micro-batch
    *    ([[graft.relations.Relations.rewriteProv]]). Catalyst broadcasts
    *    the dimension side while it fits `autoBroadcastJoinThreshold` and
    *    shuffles past it — the job stays runnable at any dimension size.
    */
  sealed trait AliasSnapshot {
    /** Content fingerprint of the alias map this snapshot carries
      * ([[aliasFingerprint]]), when known. The streaming sink records it
      * per batch so [[graft.streaming.Recanon]] can skip staleness scans
      * of batches already current under the fresh map — None (the legacy
      * Map-only entry points) means unversioned: always a scan candidate.
      */
    def fp: Option[Long]
  }
  final case class AliasMap(map: Map[String, String],
      fp: Option[Long] = None) extends AliasSnapshot
  final case class AliasFrame(df: DataFrame,
      fp: Option[Long] = None) extends AliasSnapshot
  /** No alias table exists yet (first ingest, before any periodic canon
    * run): provenance subjects stay RAW surface forms at the sink, and a
    * later [[graft.streaming.Recanon.recanonicalize]] under the first real
    * map rewrites them retroactively. NOT the same as `AliasMap(Map.empty)`,
    * whose inner-join semantics would DROP every provenance row — dropped
    * rows are gone; raw rows are compactable. */
  case object AliasNone extends AliasSnapshot { val fp: Option[Long] = None }

  /** Default gate between the two [[AliasSnapshot]] shapes. 5M two-string
    * rows ≈ low hundreds of MB as a Java map — comfortably inside a
    * production driver/executor heap; past that the closure-serialized map
    * becomes the job's biggest object and the DataFrame join wins.
    */
  val SnapshotMaxRows = 5000000L

  /** [[snapshot]] gated on the canon map's row count, in ONE action:
    * collect `(surface, canonical, xxhash64(surface, canonical))` under a
    * `maxRows + 1` limit. At most `maxRows` rows came back ⇒ that is the
    * whole map: the driver map plus its fingerprint, summed here with the
    * same wrapping mod-2⁶⁴ arithmetic as [[aliasFingerprint]]. One row more
    * ⇒ keep the DataFrame, fingerprinted by a Spark aggregate.
    */
  def snapshotBounded(canonMap: DataFrame,
      maxRows: Long = SnapshotMaxRows): AliasSnapshot = {
    require(maxRows >= 0 && maxRows < Int.MaxValue, s"maxRows out of range: $maxRows")
    val rows = canonMap
      .select(col("surface"), col("canonical"), xxhash64(col("surface"), col("canonical")))
      .limit(maxRows.toInt + 1).collect()
    if (rows.length <= maxRows)
      AliasMap(rows.iterator.map(r => r.getString(0) -> r.getString(1)).toMap,
        Some(rows.iterator.map(_.getLong(2)).sum))
    else AliasFrame(canonMap, Some(aliasFingerprint(canonMap)))
  }

  /** Order-independent content fingerprint of an alias map: the wrapping
    * Long sum of `xxhash64(surface, canonical)` over the dimension table —
    * the same mod-2⁶⁴ idiom as Pipeline.tripleChecksum, so equality means
    * content equality for any realistic map (64-bit collision odds).
    * Computed by a Spark aggregate BOTH at snapshot time and at compaction
    * time so the two sides can never disagree on hash arithmetic.
    */
  def aliasFingerprint(canonMap: DataFrame): Long = {
    // decimal(38,0) sum then truncate to the low 64 bits: a raw long sum
    // THROWS under Spark 4's default ANSI mode (same device as
    // Pipeline.tripleChecksum).
    val r = canonMap.select(col("surface"), col("canonical"))
      .agg(sum(xxhash64(col("surface"), col("canonical"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head
    if (r.isNullAt(0)) 0L else r.getDecimal(0).toBigInteger.longValue()
  }
}
