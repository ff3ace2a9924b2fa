package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{Config, Mention}
import graft.functions.expressions.unaccent

/** Entity canonicalization: similarity self-join → connected components →
  * deterministic canonical pick. Replaces the reference's order-dependent
  * greedy transitive grouping + LLM representative
  * (OllamaNERExtractor.py:122-184) with an order-independent parallel
  * formulation (SURVEY §2.7 C1/C2, §7.6 risk 1).
  */
object Canon {

  /** Per-surface stats over PERSON mentions: the vertex table of the
    * similarity graph. Small relative to the corpus (distinct surfaces ≪
    * mentions) — one shuffle, then everything downstream is dimension-sized.
    */
  def surfaceStats(mentions: Dataset[Mention]): DataFrame =
    mentions.toDF()
      .filter(col("label") === "PERSON")
      .groupBy(col("surface"))
      .agg(count(lit(1)).as("n_mentions"))
      .withColumn("sim_key", graft.functions.expressions.simkey(col("surface")))
      .withColumn("words", array_distinct(split(col("sim_key"), " ")))

  /** Similarity edges (J7): candidates = pairs sharing ≥1 normalized token
    * (blocking — at corpus scale the all-pairs product is impossible; token
    * blocking + verification is the standard similarity-join shape), verified
    * with the reference thresholds: Levenshtein ratio > 0.79 OR word-overlap
    * ≥ 0.65 (OllamaNERExtractor.py:124) OR equal normalized keys.
    * Output: (a, b) surface pairs with a < b.
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
    val toks = stats.select(col("surface"), col("sim_key"), col("words"))
      .withColumn("tok", explode(col("words")))
    val coldToks = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxBlock).select(col("tok"))
    val blockToks = toks.join(coldToks, Seq("tok"), "left_semi")
    val l = blockToks.select(col("surface").as("a"), col("sim_key").as("ka"),
      col("words").as("wa"), col("tok").as("tok_a"))
    val r = blockToks.select(col("surface").as("b"), col("sim_key").as("kb"),
      col("words").as("wb"), col("tok").as("tok_b"))
    val overlap = size(array_intersect(col("wa"), col("wb"))).cast("double") /
      greatest(size(col("wa")), size(col("wb"))).cast("double")
    val levRatio = lit(1.0) - levenshtein(col("ka"), col("kb")).cast("double") /
      greatest(length(col("ka")), length(col("kb"))).cast("double")
    l.join(r, col("tok_a") === col("tok_b") && col("a") < col("b"))
      .filter(col("ka") === col("kb") ||
        levRatio > Config.LevRatioThreshold ||
        overlap >= Config.WordOverlapThreshold)
      .select(col("a"), col("b"))
      .distinct()
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

  /** Reference-threshold verification of candidate pairs (a, b) against the
    * full per-surface dims: equal normalized keys OR Levenshtein ratio >
    * 0.79 OR word overlap ≥ 0.65 — the shared verify stage of every
    * candidate-generation scheme here (token blocking, MinHash bands, delta
    * blocking). All three predicates are symmetric in (a, b), so any
    * canonical pair orientation verifies identically.
    */
  private def verifyEdges(cand: DataFrame, stats: DataFrame): DataFrame = {
    val dims = stats.select(col("surface"), col("sim_key"), col("words"))
    val overlap = size(array_intersect(col("wa"), col("wb"))).cast("double") /
      greatest(size(col("wa")), size(col("wb"))).cast("double")
    val levRatio = lit(1.0) - levenshtein(col("ka"), col("kb")).cast("double") /
      greatest(length(col("ka")), length(col("kb"))).cast("double")
    cand
      .join(dims.select(col("surface").as("a"), col("sim_key").as("ka"), col("words").as("wa")), "a")
      .join(dims.select(col("surface").as("b"), col("sim_key").as("kb"), col("words").as("wb")), "b")
      .filter(col("ka") === col("kb") ||
        levRatio > Config.LevRatioThreshold ||
        overlap >= Config.WordOverlapThreshold)
      .select(col("a"), col("b"))
  }

  /** Connected components over an undirected string-keyed edge list, pure
    * DataFrame iteration (no GraphX — north_rule). Distributed path:
    * alternating large-star/small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — the SURVEY §2.7 C1
    * prescription), which converges in O(log n) rounds where plain min-label
    * propagation needs O(diameter) — the difference between 14 and 10,000
    * rounds on a long alias chain. `vertices` must include isolated nodes.
    * Returns (surface, component) with component = lexicographic min member.
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
    // localCheckpointFresh*, not Dataset.localCheckpoint: Spark 4 propagates
    // estimated stats through checkpoints, and in an iterative join loop
    // sizeInBytes SQUARES per round until the driver melts down in
    // BigInteger stats arithmetic — see GraftSqlShims.localCheckpointFresh.
    // The LAZY variant everywhere here: every checkpoint below is consumed
    // by an immediate driver action (the size-gate counts, the per-round
    // checksum aggregate), which materializes it — the eager count() was a
    // pure extra job, ~1/3 of the fixed per-round loop latency.
    val ck = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy _
    val vs = ck(vertices.select(col("surface")))
    val es = ck(edges.select(col("a"), col("b")))
    // Adaptive fast path (same spirit as Spark's broadcast-join threshold):
    // a dimension-sized graph is solved with driver-local union-find — the
    // iterative rounds below cost several scheduler round-trips that dwarf
    // the work when |V| is tiny. Identical output (component = min member).
    // Gated on BOTH vertex and edge count — a 100k-vertex similarity graph
    // can carry O(V²) edges, which must never be collect()ed.
    val vsCount = vs.count()
    val esCount = es.count()
    if (vsCount <= localThreshold && esCount <= localThreshold)
      return (ccLocal(vs, es), 0)
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
      val tR = System.nanoTime()
      val (afterLarge, mLarge) = starRound(pairs, hubDegree, large = true, nPart)
      val tL = System.nanoTime()
      val (next, mSmall) = starRound(afterLarge, hubDegree, large = false, nPart)
      val tS = System.nanoTime()
      // Materializes next's checkpoint AND afterLarge's (first touch) in
      // one job, while both rounds' cached m aggregates are still live.
      val nextSig = checksum(next)
      mLarge.unpersist(false)
      mSmall.unpersist(false)
      converged = nextSig == sig && next.exceptAll(pairs).isEmpty
      sig = nextSig
      pairs = next
      rounds += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] round $rounds large=${(tL - tR) / 1e9}%.2fs small=${(tS - tL) / 1e9}%.2fs " +
          f"check=${(System.nanoTime() - tS) / 1e9}%.2fs n=${nextSig._1}")
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
    * second layer: each DataFrame round pays a fresh Catalyst
    * analyze/optimize/plan cycle (measured ~0.4 s/round on a 4k-pair set —
    * scheduling, not data), which is the textbook reason iterative graph
    * engines run on RDDs; here a round is two shuffles and one
    * vertex-bounded collect with zero per-round planning. CanonSpec pins
    * RDD-branch ≡ DataFrame-branch ≡ local union-find on forced graphs.
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
      val tR = System.nanoTime()
      def star(p: RDD[(String, String)], large: Boolean)
          : (RDD[(String, String)], org.apache.spark.broadcast.Broadcast[Map[String, String]]) = {
        val sym = p.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
        val m = sym.reduceByKey(part, (x: String, y: String) => if (x <= y) x else y)
          .map { case (s, mn) => (s, if (mn < s) mn else s) }
        val mMap = sc.broadcast(m.collectAsMap().toMap)
        val base = sym.mapPartitions { it =>
          val mm = mMap.value
          it.flatMap { case (src, dst) =>
            if (large) { if (dst > src) Iterator((mm(src), dst)) else Iterator.empty }
            else { if (dst < src) Iterator((mm(src), dst)) else Iterator.empty }
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
      val tS = System.nanoTime()
      val nextSig = checksum(next)
      converged = nextSig == sig && next.subtract(pairs, nPart).isEmpty()
      mL.destroy()
      mS.destroy()
      pairs.unpersist(false)
      sig = nextSig
      pairs = next
      rounds += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] round $rounds stars=${(tS - tR) / 1e9}%.2fs " +
          f"check=${(System.nanoTime() - tS) / 1e9}%.2fs n=${nextSig._1}")
    }
    requireConverged(converged, maxIter, rounds)
    import spark.implicits._
    (pairs.toDF("a", "b"), rounds)
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
    surfaces.toDF("surface")
      .withColumn("sim_key", graft.functions.expressions.simkey(col("surface")))
      .withColumn("words", array_distinct(split(col("sim_key"), " ")))
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
    * each vertex with the lexicographic minimum of its component — exactly
    * the fixpoint of the distributed min-label loop.
    */
  private def ccLocal(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val vs = vertices.select(col("surface")).as[String].collect()
    val es = edges.select(col("a"), col("b")).as[(String, String)].collect()
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
      if (cur.isEmpty || v < cur.get) minOf(r) = v
    }
    vs.toSeq.map(v => (v, minOf(find(v)))).toDF("surface", "component")
  }

  /** Deterministic canonical representative per component: most words, then
    * longest, then most mentions, then lexicographically last — the
    * deterministic stand-in for the reference's temperature-0 LLM pick
    * (SURVEY §2.7 C2). Mirrored by a row_number window in the DuckDB oracle.
    */
  def canonicalMap(mentions: Dataset[Mention]): DataFrame =
    canonicalState(mentions).canonMap

  /** Representative pick over (surface, component) labels + per-surface
    * stats — the shared tail of the full and incremental canon jobs.
    */
  def canonicalPick(stats: DataFrame, comps: DataFrame): DataFrame = {
    val ranked = stats.join(comps, "surface")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("component")).orderBy(
          size(split(col("surface"), " ")).desc,
          length(col("surface")).desc,
          col("n_mentions").desc,
          col("surface").desc)))
    val canon = ranked.filter(col("rn") === 1)
      .select(col("component"), col("surface").as("canonical"))
    comps.join(canon, "component").select(col("surface"), col("canonical"))
  }

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

  /** Refresh outcome: the new carried state and whether the exactness
    * guard forced a full recompute.
    */
  final case class CanonRefresh(state: CanonState, fellBack: Boolean)

  /** Full canon job, returning the carry-forward [[CanonState]]. The
    * dimension-sized stats are cut once (`GraftSqlShims.localCheckpointFreshLazy`,
    * as [[canonicalMapIncremental]] does on `merged`): blocking, edge
    * verification, the CC vertex set and the pick all read them, and
    * without the cut each consumer re-aggregates the corpus-sized mention
    * table. The cut materializes at the first consumer action.
    */
  def canonicalState(mentions: Dataset[Mention],
      maxBlock: Long = Config.MaxTokenBlock): CanonState = {
    val stats = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy(
      surfaceStats(mentions))
    val comps = connectedComponents(stats.select("surface"),
      similarityEdges(stats, maxBlock))
    CanonState(stats, canonicalPick(stats, comps))
  }

  /** Merge the carried stats dimension with a delta batch's stats: mention
    * counts add per surface; sim_key/words are pure functions of the
    * surface. One map-side-combinable shuffle over two dimension tables.
    */
  def mergeStats(oldStats: DataFrame, deltaStats: DataFrame): DataFrame =
    oldStats.select(col("surface"), col("n_mentions"))
      .unionByName(deltaStats.select(col("surface"), col("n_mentions")))
      .groupBy(col("surface"))
      .agg(sum(col("n_mentions")).as("n_mentions"))
      .withColumn("sim_key", graft.functions.expressions.simkey(col("surface")))
      .withColumn("words", array_distinct(split(col("sim_key"), " ")))

  /** Similarity edges incident to the NEW surfaces only, under the MERGED
    * dimension's stop-token cap — candidate cost is |new| × block sizes,
    * never |merged|². Verification scores full word arrays, exactly as the
    * full job does.
    */
  def deltaEdges(mergedStats: DataFrame, newSurfaces: DataFrame,
      maxBlock: Long = Config.MaxTokenBlock): DataFrame = {
    val toks = mergedStats.select(col("surface"), col("words"))
      .withColumn("tok", explode(col("words")))
    val coldToks = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxBlock).select(col("tok"))
    val blockToks = toks.join(coldToks, Seq("tok"), "left_semi")
      .select(col("surface"), col("tok"))
    val newToks = blockToks.join(newSurfaces.select(col("surface")),
      Seq("surface"), "left_semi")
    val cand = newToks.as("x").join(blockToks.as("y"),
        col("x.tok") === col("y.tok") && col("x.surface") =!= col("y.surface"))
      .select(least(col("x.surface"), col("y.surface")).as("a"),
        greatest(col("x.surface"), col("y.surface")).as("b"))
      .distinct()
    verifyEdges(cand, mergedStats)
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
    * a new surface are regenerated by [[deltaEdges]] under the merged cap.
    * The ONE non-monotone case: a token whose block crosses the cap
    * (df_old ∈ [2, cap], df_merged > cap) — a fresh full run would DROP
    * old↔old pairs whose only generating token it was, splitting components
    * the carried state keeps merged. That case is detected with one
    * dimension-sized aggregate and answered by falling back to the full job
    * over the merged stats (`fellBack = true`); in a web corpus a token
    * crosses a 1000-surface block once ever, not per refresh, so the
    * amortized cost stays delta-proportional.
    *
    * The canonical pick re-ranks ALL merged surfaces (n_mentions — rank key
    * 3 — moves with every delta), but that is a dimension-sized window, not
    * a corpus-sized one.
    */
  def canonicalMapIncremental(old: CanonState, deltaMentions: Dataset[Mention],
      maxBlock: Long = Config.MaxTokenBlock): CanonRefresh = {
    val ck = org.apache.spark.sql.GraftSqlShims.localCheckpointFreshLazy _
    // Checkpoint the merged dimension: it feeds the cap-crossing gate, the
    // delta blocking, the CC vertex set, and the pick — without the cut,
    // each consumer action would re-scan the delta mention source.
    val merged = ck(mergeStats(old.stats, surfaceStats(deltaMentions)))
    def tokenDf(stats: DataFrame, alias: String): DataFrame =
      stats.select(explode(col("words")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as(alias))
    // Exactness gate (materializes the checkpoint): any token crossing the
    // cold→hot cap boundary with ≥2 old surfaces invalidates carried edges.
    val crossed = !tokenDf(merged, "df_new")
      .join(tokenDf(old.stats, "df_old"), Seq("tok"))
      .filter(col("df_old") >= 2 && col("df_old") <= maxBlock &&
        col("df_new") > maxBlock)
      .isEmpty
    if (crossed) {
      val comps = connectedComponents(merged.select("surface"),
        similarityEdges(merged, maxBlock))
      CanonRefresh(CanonState(merged, canonicalPick(merged, comps)), fellBack = true)
    } else {
      val newSurfaces = merged.join(old.stats.select(col("surface")),
        Seq("surface"), "left_anti").select(col("surface"))
      // Old connectivity enters as the old map's star contraction pairs
      // (canonical, member) — already a star forest, so the CC loop pays
      // O(1) rounds for them; only delta edges add structure.
      val contraction = old.canonMap
        .filter(col("surface") =!= col("canonical"))
        .select(col("canonical").as("a"), col("surface").as("b"))
      val edges = contraction.unionByName(deltaEdges(merged, newSurfaces, maxBlock))
      val comps = connectedComponents(merged.select("surface"), edges)
      CanonRefresh(CanonState(merged, canonicalPick(merged, comps)), fellBack = false)
    }
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
    *    ([[graft.streaming.Streaming.rewriteProv]]). Catalyst broadcasts
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
