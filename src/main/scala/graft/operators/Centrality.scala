package graft.operators

import org.apache.spark.sql.GraftLineage._
import graft.graph.{Edge, GraphIO}
import graft.plans.Adaptive
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Vertex-centrality operators beyond degree and PageRank — the
  * closeness/harmonic/eigenvector family a link-graph engine owes its
  * users (no reference counterpart; the reference is CC-only; semantics
  * are the textbook definitions, e.g. Newman, "Networks", ch. 7).
  *
  * Harmonic and closeness are exact all-pairs quantities (O(V·E) — not
  * computable at link-graph scale); the standard scale substitute, and
  * what these implement, is the SEED-RESTRICTED estimate over a small
  * deterministic source set: distances come from ONE multi-source BFS
  * ([[Traversal.multiSourceHopDistances]]), so k seeds cost one
  * traversal with a k×-wider frontier, not k traversals.
  */
object Centrality {

  /** Iterations composed into one plan between lineage barriers for the
    * PINNED-iteration loops (katz/eigenvector/hits — loops with no
    * data-dependent exit): each barrier job then executes `IterChunk`
    * join+agg stages back-to-back inside Spark's scheduler instead of
    * paying one driver action + one localCheckpoint materialization per
    * iteration (guide §1.2: fix the distributed algorithm's pass count
    * first — measured ~0.4-0.6 s of fixed cost per action on the bench
    * host, and at scale each skipped barrier is one fewer full
    * materialization of the score table). Chunks stay bounded so plan
    * size, size-estimation BigInts and (for the L∞-normalized loops)
    * unnormalized value growth all stay small. */
  private[operators] val IterChunk = 4

  /** Seed-restricted harmonic centrality: h(v) = Σ_{s ∈ seeds, s ≠ v,
    * d(s,v) < ∞} 1 / d(s,v), rounded to 6 dp. Unreachable seed pairs
    * contribute 0 (the reason harmonic, not closeness, is the textbook
    * choice on disconnected graphs). Vertices reached by no seed are
    * omitted. Scale: one multi-source BFS + one hash agg keyed by id;
    * the per-term 1/d is exact IEEE on small integer d, and the ≤|seeds|
    * -term sum is order-noisy only below the 6 dp round. */
  def harmonic(edges: Dataset[Edge], seeds: Seq[Long],
               maxHops: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    if (seeds.isEmpty) // empty graph ⇒ empty seed rule ⇒ empty table
      return spark.emptyDataFrame
        .select(lit(0L).as("id"), lit(0.0).as("harmonic")).limit(0)
    scopedBlocks(spark) {
      barrier(Traversal.multiSourceHopDistances(edges, seeds, maxHops)
        .filter($"dist" > 0)
        .groupBy($"id")
        .agg(round(sum(lit(1.0) / $"dist".cast("double")), 6).as("harmonic")))
    }
  }

  /** Seed-restricted closeness: c(v) = r(v) / Σ d(s,v) over the seeds
    * that reach v (r = how many do), both exact integers — the quotient
    * is a single IEEE division, bit-reproducible across engines with no
    * rounding contract. Standard caveat applies: on disconnected graphs
    * closeness only counts reachable seeds (use [[harmonic]] when that
    * matters). Same one-BFS + one-agg plan as [[harmonic]]. */
  def closeness(edges: Dataset[Edge], seeds: Seq[Long],
                maxHops: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    if (seeds.isEmpty) // empty graph ⇒ empty seed rule ⇒ empty table
      return spark.emptyDataFrame
        .select(lit(0L).as("id"), lit(0.0).as("closeness")).limit(0)
    scopedBlocks(spark) {
      barrier(Traversal.multiSourceHopDistances(edges, seeds, maxHops)
        .filter($"dist" > 0)
        .groupBy($"id")
        .agg((count(lit(1)).cast("double") /
          sum($"dist").cast("double")).as("closeness")))
    }
  }

  /** Eigenvector centrality by power iteration with L∞ (max)
    * normalization, pinned to `maxIter` iterations: z_t(v) =
    * Σ_{u ~ v} z_{t-1}(u) / m_{t-1}, m_t = max_v z_t(v), output
    * round(z_T / m_T, 6). Max-normalization is the load-bearing choice:
    * max over doubles is ORDER-INDEPENDENT, so the only cross-engine
    * float noise is per-vertex neighbor-sum order (~1e-16/iter, absorbed
    * by the 6 dp round) — an L1/L2 norm would add a global
    * order-dependent reduction per iteration. Division happens per TERM
    * inside the sum (not on the sum) so an unrolled SQL oracle can
    * mirror the arithmetic exactly.
    *
    * Scale: the plan is PageRank's (adjacency keyed by src and score
    * keyed by id at one loop count, so the join needs no exchange; one
    * exchange of the messages by dst and their sum, see [[sendSum]]);
    * m_t is OBSERVED in iteration t's materialization job and enters
    * iteration t+1 as a one-row broadcast, so there is one compiled plan
    * for all of them. Isolated vertices don't occur in an
    * edge-derived vertex set (every vertex has degree ≥ 1). */
  def eigenvector(edges: Dataset[Edge], maxIter: Int = 20): DataFrame =
    eigenvector(edges, maxIter, IterChunk)

  /** [[eigenvector]] with `chunk` iterations per barrier job. */
  private[graft] def eigenvector(edges: Dataset[Edge], maxIter: Int,
                                 chunk: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxIter >= 1, "eigenvector: need at least one iteration")
    // Chunked unrolling: `chunk` update stages per barrier job. L∞
    // normalization commutes with the linear update (z/m is a pure
    // rescale), so dividing per term by the PREVIOUS CHUNK's observed max
    // — instead of every iteration's — leaves the final normalized output
    // z_T / max(z_T) mathematically unchanged; within a chunk values grow
    // by at most λ_max^chunk, far inside double range. Oracle-gated
    // equality re-verified after this change (the only float drift is the
    // removed per-iteration divisions, ~1e-13 relative, absorbed by the
    // 6 dp output round).
    fromOnes(edges, "score") { (adj, z0, p) =>
      val out = iterate(z0, 0, maxIter, chunk, metrics = Seq(max($"v").as("mx")),
          obs0 = Map("mx" -> 1.0)) {
        case (z, _, Some(obs)) => // a chunk's first update divides by m
          sendSum(adj.as("e")
            .join(z.hint("shuffle_hash").as("x"), $"e.src" === $"x.id")
            .crossJoin(broadcast(Seq(obs("mx").asInstanceOf[Double]).toDF("m")))
            .select($"e.dst".as("id"), ($"x.v" / $"m").as("c")), p)
        case (cur, _, None) =>
          sendSum(adj.as("e")
            .join(cur.hint("shuffle_hash").as("x"), $"e.src" === $"x.id")
            .select($"e.dst".as("id"), $"x.v".as("c")), p)
      }
      barrier(
        out.state.crossJoin(broadcast(Seq(out.obs("mx").asInstanceOf[Double]).toDF("m")))
          .select($"id", round($"v" / $"m", 6).as("score")))
    }
  }

  /** Shared set-up of the undirected score loops (eigenvector, katz):
    * the symmetric adjacency as a loop table keyed by src (partition
    * count adaptive from its OBSERVED row count, guide §2; see
    * [[graft.plans.Adaptive]]), and the start vector z0 = 1 on every
    * vertex keyed by id at that count. `loop(adj, z0)` returns the
    * materialized output, inside a block scope that frees every other
    * barrier; an empty edge set yields an empty (id, `score`) table. */
  private def fromOnes(edges: Dataset[Edge], score: String)(
      loop: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    scopedBlocks(spark) {
      val (adj, rows, p) = Adaptive.loopTable(
        GraphIO.bidirectional(GraphIO.canonical(edges)).toDF("src", "dst"),
        Seq($"src"))
      if (rows == 0L)
        spark.emptyDataFrame.select(lit(0L).as("id"), lit(0.0).as(score)).limit(0)
      else
        loop(adj, barrier(
          adj.select($"src".as("id")).distinct()
            .select($"id", lit(1.0).as("v"))
            .repartition(p, $"id")), p)
    }
  }

  /** The receiving side of a message step over a loop table (PageRank,
    * eigenvector, katz): the messages (id, c), keyed by their receiver
    * `id`, take ONE exchange at the loop count p and are summed per
    * receiver on that partitioning, so the result (id, `out`) is
    * partitioned like the state and the adjacency. The senders' join
    * hints the state `shuffle_hash`: both sides are already partitioned
    * alike, and unhinted, AQE turned a chunk's later steps into
    * broadcast joins (one more job each). */
  private[operators] def sendSum(msgs: DataFrame, p: Int, out: String = "v"): DataFrame =
    msgs.repartition(p, col("id")).groupBy(col("id")).agg(sum(col("c")).as(out))

  /** Seed-restricted betweenness centrality (Brandes '01, restricted to
    * a deterministic source set — the standard scale substitute for the
    * O(V·E) exact quantity, same seed rule as [[harmonic]]):
    * bc(v) = Σ_{s ∈ seeds} δ_s(v) with δ_s from Brandes' backward
    * accumulation δ_s(v) = Σ_{w : succ} σ_s(v)/σ_s(w) · (1 + δ_s(w))
    * over the BFS dag of s, output round(bc, 6), all vertices (0.0 when
    * never interior). Path counts σ stay exact integers; the division
    * happens per TERM (so an unrolled SQL oracle mirrors the arithmetic
    * bit-for-bit) and only the final per-vertex sum rounds.
    *
    * Scale: the forward pass is ONE level-synchronous multi-source BFS
    * ([[Traversal.levels]]; k seeds = one traversal with a k×-wide
    * frontier) that also accumulates σ as a per-level hash agg. Level
    * t+1 is N(L(t)) minus L(t−1) ∪ L(t) — on an undirected graph no
    * other level can hold a neighbour of L(t) — so each level's
    * anti-join reads two levels, not the visited set. A forward pass
    * that has not reached an empty level by `maxHops` throws, since
    * truncated levels give silently wrong δ. The backward pass walks
    * the ≤diameter per-level barriers once, two key-partitioned joins
    * + one hash agg and one barrier per level. Nothing driver-side; the
    * block scope frees the levels once the output is materialized. */
  def betweenness(edges: Dataset[Edge], seeds: Seq[Long],
                  maxHops: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    if (seeds.isEmpty) // empty graph ⇒ empty seed rule ⇒ empty table
      return spark.emptyDataFrame
        .select(lit(0L).as("id"), lit(0.0).as("betweenness")).limit(0)
    scopedBlocks(spark) {
      // adaptive loop partitioning — same rule as [[eigenvector]]; on the
      // sparse fixtures this operator targets, the per-level jobs were
      // dominated by session-partition-count task overhead
      val (adj, _, p) = Adaptive.loopTable(
        GraphIO.bidirectional(GraphIO.canonical(edges)).toDF("v", "nbr"),
        Seq($"v"))
      // ---- forward: per-level (source, id, sigma), sigma exact longs ----
      val level0 = barrier(
        spark.createDataset(seeds.distinct).toDF("source")
          .select($"source", $"source".as("id"), lit(1L).as("sigma"))
          .repartition(p, $"source", $"id"))
      val (levels, converged) = Traversal.levels(level0, maxHops) { (frontier, _, unseen) =>
        unseen(frontier.join(adj, $"id" === $"v").select($"source", $"nbr".as("id"), $"sigma"))
          .groupBy($"source", $"id")
          .agg(sum($"sigma").as("sigma"))
      }
      if (!converged)
        throw new IllegalStateException(
          s"betweenness: BFS not converged within maxHops=$maxHops")
      // ---- backward: δ per level, deepest first ----
      // One barrier per level, not lazily persisted δ frames computed by
      // the output job: nested caches re-plan per level and grew
      // super-linearly in depth (924-vertex fixture, local[4]: 297 jobs
      // and 12-15 s with caches, 114 jobs and 5-8 s with barriers; a
      // 21-level path exhausted an 8 GB heap with caches). The δ_0 frame
      // (Brandes' excluded endpoint terms) is never built.
      val maxT = levels.size - 1
      var deltas = List(levels(maxT).select($"source", $"id", lit(0.0).as("delta")))
      for (lvl <- maxT - 1 to 1 by -1) {
        val wSide = levels(lvl + 1).as("sw")
          .join(deltas.head.as("dw"), Seq("source", "id"))
          .select($"source".as("wsource"), $"id".as("w"),
            $"sw.sigma".as("sigw"), $"dw.delta".as("deltaw"))
        val agg = levels(lvl).as("lv")
          .join(adj, $"lv.id" === $"v")
          .select($"lv.source".as("source"), $"lv.id".as("id"),
            $"lv.sigma".as("sigv"), $"nbr")
          .join(wSide, $"nbr" === $"w" && $"source" === $"wsource")
          .groupBy($"source", $"id")
          .agg(sum($"sigv".cast("double") / $"sigw".cast("double") *
            (lit(1.0) + $"deltaw")).as("c"))
        deltas ::= barrier(levels(lvl).select($"source", $"id")
          .join(agg, Seq("source", "id"), "left")
          .select($"source", $"id", coalesce($"c", lit(0.0)).as("delta"))
          .repartition(p, $"source", $"id"))
      }
      // bc(v) = Σ over sources and dag levels ≥ 1 (a source's own dist-0
      // row never contributes — Brandes excludes the endpoint s itself;
      // the all-zero δ_maxT, level 0 when nothing is reached, sums to 0)
      barrier(adj.select($"v".as("id")).distinct()
        .join(deltas.reduce(_ union _).groupBy($"id").agg(sum($"delta").as("b")),
          Seq("id"), "left")
        .select($"id", round(coalesce($"b", lit(0.0)), 6).as("betweenness")))
    }
  }

  /** Katz centrality (Katz '53), pinned to `maxIter` fixed-point steps:
    * z_0 = 1, z_t(v) = 1 + α · Σ_{u ~ v} z_{t-1}(u), output round(z_T, 6)
    * — the textbook attenuated-paths score (β = 1). No per-iteration
    * normalization is needed: the caller picks α < 1/λ_max (the default
    * 0.05 is safe for the sparse co-occurrence graphs this engine
    * derives; values stay O(1), so the 6 dp round absorbs the only
    * cross-engine float noise, per-vertex neighbor-sum order). α is the
    * SAME literal every iteration, so unlike PageRank's dangling mass it
    * never forces a plan recompile.
    *
    * Scale: identical loop plan to [[eigenvector]] — adjacency
    * hash-partitioned by src once, one co-partitioned join + one
    * partial-agg'd hash agg per iteration, previous state released
    * eagerly. */
  def katz(edges: Dataset[Edge], alpha: Double = 0.05,
           maxIter: Int = 12): DataFrame =
    katz(edges, alpha, maxIter, IterChunk)

  /** [[katz]] with `chunk` iterations per barrier job. */
  private[graft] def katz(edges: Dataset[Edge], alpha: Double, maxIter: Int,
                          chunk: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxIter >= 1, "katz: need at least one iteration")
    require(alpha > 0 && alpha < 1, s"katz: alpha out of (0,1): $alpha")
    // Chunked unrolling (see [[IterChunk]]): the affine update needs no
    // per-iteration scalar, so `steps` join+agg stages compose into ONE
    // barrier job — identical arithmetic per stage, 12 jobs → 2.
    fromOnes(edges, "katz") { (adj, z0, p) =>
      val out = iterate(z0, 0, maxIter, chunk) { (cur, _, _) =>
        // every vertex in an edge-derived set has degree ≥ 1, so the
        // inner join reaches all of them — no left-join fallback needed
        sendSum(adj.as("e")
            .join(cur.hint("shuffle_hash").as("x"), $"e.src" === $"x.id")
            .select($"e.dst".as("id"), $"x.v".as("c")), p)
          .select($"id", (lit(1.0) + lit(alpha) * $"v").as("v"))
      }
      barrier(out.state.select($"id", round($"v", 6).as("katz")))
    }
  }

  /** HITS hubs & authorities (Kleinberg '99) over a DIRECTED edge table
    * (src, dst), pinned to `maxIter` alternating updates with the same
    * L∞-per-side normalization trick as [[eigenvector]]:
    * a_t(d) = Σ_{s→d} h_{t-1}(s)/mh_{t-1}, then
    * h_t(s) = Σ_{s→d} a_t(d)/ma_t — division per TERM, max observed in
    * the update's own materialization job, carried into the next update
    * as a one-row broadcast. Output is (id, kind, score) with kind ∈
    * {hub, auth}, each side scaled to max 1 and rounded to 6 dp.
    * Vertices with no out-edges have no hub row (resp. in/auth) — on a
    * bipartite order graph that is exactly the two natural sides.
    *
    * Scale: the edge table is materialized twice, hash-partitioned by
    * src and by dst, so BOTH alternating joins are co-partitioned with
    * the score table the previous aggregation produced — two
    * shuffle-free joins + two partial-agg'd hash aggs per iteration,
    * one job per update, one compiled plan for all iterations. */
  def hits(directed: DataFrame, maxIter: Int = 12): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    require(maxIter >= 1, "hits: need at least one iteration")
    scopedBlocks(spark) {
      // One materialization of the deduplicated edge table (the old code
      // evaluated the upstream distinct TWICE — once per keyed copy), with
      // the row count observed for adaptive loop partitioning; the two
      // keyed copies (by src, by dst) are then cheap re-shuffles of the
      // barrier, made in a nested scope that frees it: the loop holds two
      // edge copies, not three.
      val (p, keyed) = scopedFrames(spark)((k: (Int, Seq[DataFrame])) => k._2) {
        val (dedup, dObs) = barrierObserved(
          directed.select($"src", $"dst").distinct(), count(lit(1)).as("n"))
        val rows = dObs("n").asInstanceOf[Long]
        val p = Adaptive.forRows(spark, rows)
        (p, if (rows == 0L) Nil else Seq($"src", $"dst").map(k => barrier(dedup.repartition(p, k))))
      }
      if (keyed.isEmpty) // empty edge set → empty score table
        spark.emptyDataFrame
          .select(lit(0L).as("id"), lit("hub").as("kind"), lit(0.0).as("score"))
          .limit(0)
      else hitsLoop(keyed(0), keyed(1), p, maxIter)
    }
  }

  /** [[hits]] over the non-empty, deduplicated edge table keyed by src
    * and by dst at loop partition count `p`. */
  private def hitsLoop(eBySrc: DataFrame, eByDst: DataFrame, p: Int,
                       maxIter: Int): DataFrame = {
    val spark = eBySrc.sparkSession
    import spark.implicits._
    val hub0 = barrier(
      eBySrc.select($"src".as("id")).distinct()
        .select($"id", lit(1.0).as("v"))
        .repartition(p, $"id"))
    // auth update a_t = Σ_{s→d} h(s)/mh, per TERM by the last observed
    // hub max carried as a one-row broadcast
    def authOf(hub: DataFrame, mh: Double): DataFrame =
      eBySrc.as("e")
        .join(hub.as("h"), $"e.src" === $"h.id")
        .crossJoin(broadcast(Seq(mh).toDF("m")))
        .groupBy($"e.dst".as("id"))
        .agg(sum($"h.v" / $"m").as("v"))
    def hubOf(auth: DataFrame): DataFrame =
      eByDst.as("e")
        .join(auth.as("a"), $"e.dst" === $"a.id")
        .groupBy($"e.src".as("id"))
        .agg(sum($"a.v").as("v"))
    // Iterations 1..maxIter-1 run one fused (auth, hub) update per
    // barrier job; the LAST iteration materializes auth and hub
    // separately because both are outputs. The auth half of the pair is
    // divided per term by the previous pair's observed hub max — a pure
    // rescale that commutes with the linear updates, so the final
    // per-side normalized outputs are mathematically unchanged. Unlike
    // katz/eigenvector, chunking PAST one full iteration measured slower
    // here (ProfileChunk one-JVM A/B, tool since deleted; in git
    // history: 9.0 s at 1 vs 10.6 s at 4 — the two-agg update chain
    // replans worse under AQE), so the chunk is the fused (auth, hub)
    // pair: 2 jobs/iteration → 1.
    val looped = iterate(hub0, 0, maxIter - 1, chunk = 1,
        metrics = Seq(max($"v").as("mx")), obs0 = Map("mx" -> 1.0)) {
      (hub, _, obs) =>
        hubOf(authOf(hub, obs.get("mx").asInstanceOf[Double]))
    }
    val (auth, obsA) = barrierObserved(
      authOf(looped.state, looped.obs("mx").asInstanceOf[Double]), max($"v").as("mx"))
    val ma = obsA("mx").asInstanceOf[Double]
    val (hubT, obsH) = barrierObserved(hubOf(auth), max($"v").as("mx"))
    val mhT = obsH("mx").asInstanceOf[Double]
    barrier(
      hubT.crossJoin(broadcast(Seq(mhT).toDF("m")))
        .select($"id", lit("hub").as("kind"), round($"v" / $"m", 6).as("score"))
        .union(auth.crossJoin(broadcast(Seq(ma).toDF("m")))
          .select($"id", lit("auth").as("kind"), round($"v" / $"m", 6).as("score"))))
  }
}
