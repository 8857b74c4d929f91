package graft.operators

import org.apache.spark.sql.GraftLineage._
import graft.graph.{Edge, GraphIO}
import graft.plans.{Adaptive, LoopCheckpoint}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Frontier-based graph traversal (Pregel-style BFS) — the unweighted
  * shortest-path operator a link-graph engine owes its users alongside
  * CC/PageRank/LPA/triangles. No reference counterpart (the reference is
  * CC-only); semantics are the textbook level-synchronous BFS.
  *
  * Scale design: one shuffle equi-join per hop (frontier ⋈ adjacency,
  * the adjacency keyed once by [[Adaptive.loopTable]]), a left-anti
  * join that keeps the frontier minimal, and a lineage barrier per hop
  * (same iterative-join rules as the CC loop: without the barrier the
  * plan and its statistics double every hop). On an undirected graph a
  * neighbour of a vertex at distance t is at distance t−1, t or t+1, so
  * the anti-join reads only the last two levels, never the whole
  * visited set ([[levels]]). No broadcast inside the loop (pins blocks
  * until convergence), no driver-side state.
  */
object Traversal {

  /** Hop distance from `source` to every reachable vertex (undirected),
    * as (id, dist). `maxHops` bounds the loop (diameter guard); vertices
    * beyond it are omitted, like unreachable ones. */
  def hopDistances(edges: Dataset[Edge], source: Long, maxHops: Int = 64): DataFrame =
    multiSourceHopDistances(edges, Seq(source), maxHops).select(col("id"), col("dist"))

  /** Hop distances from EVERY vertex of `sources` simultaneously, as
    * (source, id, dist) — the level-synchronous multi-source BFS that
    * backs sampled centralities ([[Centrality.harmonic]]/[[Centrality.closeness]]).
    * One shuffle join per hop regardless of |sources|: the frontier
    * carries a source column, so k sources cost one traversal whose
    * frontier is at most k× wider — not k traversals. Levels are keyed
    * by (source, id); vertices past `maxHops` are omitted. A BFS of
    * depth D runs D + 1 level jobs (the last one finds the empty level)
    * plus the output barrier. */
  def multiSourceHopDistances(edges: Dataset[Edge], sources: Seq[Long],
                              maxHops: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(sources.nonEmpty, "multiSourceHopDistances: empty source set")
    scopedBlocks(spark) {
      val (adj, _, _) = Adaptive.loopTable(
        GraphIO.bidirectional(GraphIO.canonical(edges)).toDF("v", "nbr"), Seq($"v"))
      val level0 = spark.createDataset(sources.distinct).toDF("source")
        .select($"source", $"source".as("id"), lit(0L).as("dist"))
      val (lv, _) = levels(level0, maxHops) { (frontier, hop, unseen) =>
        unseen(frontier.join(adj, $"id" === $"v").select($"source", $"nbr".as("id")))
          .distinct().select($"source", $"id", lit(hop.toLong).as("dist"))
      }
      barrier(lv.reduce(_ union _))
    }
  }

  /** The level loop of a multi-source BFS on an UNDIRECTED graph, shared
    * by [[multiSourceHopDistances]] and [[Centrality.betweenness]]'s
    * forward pass. `step(frontier, hop, unseen)` builds level `hop`
    * (rows keyed by (source, id)) from level `hop - 1`; it applies
    * `unseen`, the left-anti join against levels `hop - 2` and
    * `hop - 1`, to its candidates. Those two levels suffice: an
    * undirected neighbour of a vertex at distance t is at distance t−1,
    * t or t+1. Each level is one [[barrierObserved]] job that counts its
    * rows. The loop stops on an empty level (dropped) or after level
    * `maxHops`, and returns levels 0.. and whether an empty level was
    * reached. Call it inside a [[scopedBlocks]] scope: the levels are
    * the caller's to keep or leave to the scope. */
  private[operators] def levels(level0: DataFrame, maxHops: Int)(
      step: (DataFrame, Int, DataFrame => DataFrame) => DataFrame)
      : (Vector[DataFrame], Boolean) = {
    var lv = Vector(level0)
    var converged = false
    while (!converged && lv.size <= maxHops) {
      val seen = lv.takeRight(2).map(_.select(col("source"), col("id"))).reduce(_ union _)
      val (next, obs) = barrierObserved(
        step(lv.last, lv.size, _.join(seen, Seq("source", "id"), "left_anti")),
        count(lit(1)).as("n"))
      if (obs("n") == 0L) converged = true else lv :+= next
    }
    (lv, converged)
  }

  /** DeepWalk-style walk corpus: `nWalks` walks of `steps` steps from
    * EVERY vertex, as (seed, walk, step, vertex) — the sentence
    * generator for skip-gram graph embeddings (Perozzi et al., KDD'14).
    * The step rule is deterministic pseudo-random: from vertex v the
    * walk moves to the neighbor u minimizing
    * `((u % P)·A + (v % P)·B + walk·C + step·D) % P` (P prime, ids
    * reduced mod P first so the arithmetic never overflows ANSI longs
    * at any vertex-id scale, ties to the smaller u) — replayable
    * epoch-to-epoch, diversified across walks/steps by the hash, and
    * expressible in plain SQL, so the whole corpus is oracle-checkable.
    * Undirected graphs have no dead ends (the walk arrived over an
    * incident edge), so every walk has exactly `steps`+1 rows.
    *
    * Scale: one equi-join (state ⋈ adjacency, both key-partitioned) +
    * one min-by hash agg per step — state is |V|·nWalks rows regardless
    * of step count; per-step lineage barriers; the output is the union
    * of per-step barriers, whose blocks the scope frees once it is
    * materialized. */
  def deterministicWalks(edges: Dataset[Edge], nWalks: Int = 2,
                         steps: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(nWalks >= 1 && steps >= 0, "deterministicWalks: bad shape")
    val (pP, a, b, c, d0) = (1000003L, 48271L, 16807L, 69621L, 40503L)
    scopedBlocks(spark) {
      // adaptive loop partitioning — same rule as multiSourceHopDistances
      val (adj, _, p) = Adaptive.loopTable(
        GraphIO.bidirectional(GraphIO.canonical(edges)).toDF("v", "nbr"),
        Seq($"v"))
      var state = barrier(
        adj.select($"v".as("seed")).distinct()
          .crossJoin(spark.createDataset(0L until nWalks.toLong).toDF("walk"))
          .select($"seed", $"walk", $"seed".as("vertex"), lit(0L).as("step"))
          .repartition(p, $"seed", $"walk"))
      var parts = List[DataFrame](state)
      var t = 0
      // Chunked unrolling (guide §1.2): `Centrality.IterChunk` walk
      // steps compose into ONE barrier job holding the
      // UNION of the chunk's per-step rows — the continuing state is the
      // last step's slice (a filter of the barrier, no recompute). Each
      // step's subtree feeds both the next step and the union, but the
      // steps end in an aggregation exchange, so ReuseExchange dedups
      // the double-consumed shuffle.
      while (t < steps) {
        val nSteps = math.min(Centrality.IterChunk, steps - t)
        var cur: DataFrame = state
        var stepOut: DataFrame = null
        var s = 0
        while (s < nSteps) {
          val ti = t + s + 1
          cur = cur.join(adj, $"vertex" === $"v")
            .select($"seed", $"walk",
              struct(
                pmod(($"nbr" % pP) * a + ($"vertex" % pP) * b +
                  $"walk" * c + lit(ti.toLong) * d0, lit(pP)).as("score"),
                $"nbr".as("vertex")).as("sv"))
            .groupBy($"seed", $"walk")
            .agg(min($"sv").as("m"))
            .select($"seed", $"walk", $"m.vertex".as("vertex"),
              lit(ti.toLong).as("step"))
          stepOut = if (stepOut == null) cur else stepOut.union(cur)
          s += 1
        }
        t += nSteps
        val next = barrier(stepOut)
        state = next.filter($"step" === t)
        parts ::= next
      }
      barrier(parts.reverse.reduce(_ union _)
        .select($"seed", $"walk", $"step", $"vertex"))
    }
  }

  /** Vertices of the k-core: the maximal subgraph in which every vertex
    * has degree ≥ k, by iterative peeling — recompute degrees, drop
    * vertices under k, drop their edges, repeat to fixpoint. One degree
    * aggregation + two semi-joins per iteration, fixpoint detected from
    * the edge count observed inside the same materialization job. The
    * iteration count is data-dependent (≤ peel depth, NOT diameter);
    * each round is a full parallel pass, nothing driver-side. */
  def kCoreVertices(edges: Dataset[Edge], k: Int, maxIter: Int = 100): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    scopedBlocks(spark) {
      val core = peel(GraphIO.canonical(edges).toDF(), count(lit(1)).as("n"),
          maxIter, "k-core") { e =>
        val keep = e.select(explode(array($"src", $"dst")).as("id"))
          .groupBy($"id").agg(count(lit(1)).as("dg"))
          .filter($"dg" >= k).select($"id")
        e.join(keep.as("ks"), $"src" === $"ks.id", "left_semi")
          .join(keep.as("kd"), $"dst" === $"kd.id", "left_semi")
      }
      barrier(GraphIO.vertices(core.as[Edge]).toDF("id"))
    }
  }

  /** The monotone peeling loops (k-core, k-truss, coreness): materialize
    * `input`, then run `step` until the one long `metric` — observed on
    * the input's and on every round's barrier — stops changing (values
    * only shrink, so unchanged ⟺ fixpoint). A zero start value (no
    * edges) runs no round; throws when `maxIter` rounds end first. */
  private[operators] def peel(input: DataFrame, metric: org.apache.spark.sql.Column,
                              maxIter: Int, what: String)(
      step: DataFrame => DataFrame): DataFrame = {
    val value = (o: Map[String, Any]) =>
      Option(o.values.head).map(_.asInstanceOf[Long]).getOrElse(0L)
    val (state0, obs0) = barrierObserved(input, metric)
    val empty = value(obs0) == 0L
    val out = iterate(state0, 0, if (empty) 0 else maxIter, chunk = 1,
        metrics = Seq(metric), obs0 = obs0,
        stop = (prev, o) => value(o) == value(prev))((s, _, _) => step(s))
    require(empty || out.stopped, s"$what did not converge in $maxIter iterations")
    out.state
  }

  /** Skip-gram (center, context) pair counts from the deterministic walk
    * corpus — the table a DeepWalk/node2vec pipeline actually feeds to
    * word2vec training (Perozzi et al., KDD'14 §4.2): for every walk,
    * all vertex pairs within `window` steps of each other (both
    * directions), self-pairs dropped, aggregated to pair multiplicities.
    *
    * Scale: the walk table is materialized ONCE (inside
    * [[deterministicWalks]]) and self-joined on its (seed, walk) key —
    * each walk contributes ≤ 2·window·(steps+1) pairs, and the count
    * agg is map-side combinable. */
  def walkSkipGramPairs(edges: Dataset[Edge], nWalks: Int = 2,
                        steps: Int = 8, window: Int = 2): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(window >= 1, "walkSkipGramPairs: window >= 1")
    scopedBlocks(spark) {
      val walks = deterministicWalks(edges, nWalks, steps)
      val a = walks.select($"seed", $"walk", $"step".as("si"), $"vertex".as("center"))
      val b = walks.select($"seed", $"walk", $"step".as("sj"), $"vertex".as("context"))
      barrier(a.join(b, Seq("seed", "walk"))
        .filter(abs($"si" - $"sj").between(1, window) && $"center" =!= $"context")
        .groupBy($"center", $"context")
        .agg(count(lit(1)).as("n")))
    }
  }

  /** Full core decomposition by h-index iteration (Lü, Zhou, Zhang,
    * Stanley, "The H-index of a network node", Nature Comm. 2016):
    * c⁰(v) = deg(v); cᵗ⁺¹(v) = H({cᵗ(u) : u ∈ N(v)}), where H is the
    * h-index of the neighbor multiset. The sequence is pointwise
    * non-increasing and converges to the coreness (max k such that v is
    * in the k-core) — the fully-distributed alternative to sequential
    * peeling, which is why it is the 100 TB-shape choice here.
    *
    * Per iteration: one key-partitioned join (adjacency ⋈ state) + a
    * map-side-combinable (v, value) histogram + a per-vertex running
    * sum over DISTINCT values only. The h-index is
    * max over present values c of min(c, #{neighbors with value ≥ c}) —
    * computing it over the value histogram instead of raw neighbor rows
    * keeps hub tasks bounded by their distinct-value count, not their
    * degree (the skew-safe form). Convergence is observed from Σc in
    * the round's own materialization job (values only decrease, so an
    * unchanged sum ⟺ fixpoint) — no extra comparison join. */
  def coreness(edges: Dataset[Edge], maxIter: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    scopedBlocks(spark) {
      val e = GraphIO.canonical(edges).toDF()
      // hash-partition the adjacency by the JOIN key (dst) once — the
      // per-iteration state join then reuses this partitioning (zero
      // exchanges on the edge side; the barrier claims the partitioning,
      // same rule as the PageRank/LPA iteration cores). Partition count
      // adaptive from the observed row count (graft.plans.Adaptive).
      val (bidir, _, _) = Adaptive.loopTable(
        e.select($"src", $"dst").union(e.select($"dst".as("src"), $"src".as("dst"))),
        Seq($"dst"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"v").orderBy($"c".desc)
      peel(bidir.groupBy($"src".as("id")).agg(count(lit(1)).as("c")),
          sum($"c").as("csum"), maxIter, "coreness") { state =>
        val hist = bidir
          .join(state.select($"id".as("dst"), $"c"), Seq("dst"))
          .groupBy($"src".as("v"), $"c").agg(count(lit(1)).as("n"))
        hist.withColumn("cum", sum($"n").over(w))
          .groupBy($"v".as("id"))
          .agg(max(least($"c", $"cum")).as("c"))
      }.select($"id", $"c".cast("long").as("coreness"))
    }
  }

  /** Multi-source WEIGHTED shortest-path distances (level-synchronous
    * Bellman–Ford — the textbook distributed choice for nonnegative
    * integer weights without a priority queue), as (source, id, dist)
    * over the undirected weighted edge table (src, dst, weight). All
    * arithmetic is exact longs, so the oracle gate is hash-exact. The
    * fixpoint is detected WITHOUT an extra join: distances only ever
    * decrease and rows only ever appear, so an unchanged
    * (row count, Σdist) pair observed in the round's own
    * materialization job ⟺ no relaxation fired.
    *
    * Scale: one key-partitioned join (state ⋈ adjacency) + one
    * map-side-combined min agg per round; state is |seeds|·|reached|
    * rows, freed by the round loop and the call's scope. Rounds ≤ the
    * longest hop-count of any optimal path (≪ V in real link graphs). */
  def weightedDistances(wedges: DataFrame, seeds: Seq[Long],
                        maxIter: Int = 64,
                        checkpointDir: Option[String] = None,
                        checkpointEvery: Int = 5,
                        runId: String = "sssp"): DataFrame = {
    val spark = wedges.sparkSession
    import spark.implicits._
    if (seeds.isEmpty) // empty seed rule ⇒ empty table
      return spark.emptyDataFrame
        .select(lit(0L).as("source"), lit(0L).as("id"), lit(0L).as("dist"))
        .limit(0)
    scopedBlocks(spark) {
      // weights must be nonnegative (no up-front scan — a negative cycle
      // cannot reach the (count, Σ) fixpoint, so the maxIter guard fires)
      val dir = wedges.select($"src".cast("long"), $"dst".cast("long"),
        $"weight".cast("long"))
      // adaptive loop partitioning (guide §2; graft.plans.Adaptive)
      val (adj, _, p) = Adaptive.loopTable(
        dir.union(dir.select($"dst".as("src"), $"src".as("dst"), $"weight")),
        Seq($"src"))
      val state0 = barrier(
        spark.createDataset(seeds.distinct).toDF("source")
          .select($"source", $"source".as("id"), lit(0L).as("dist"))
          .repartition(p, $"source", $"id"))
      ssspLoop(adj, state0, rows0 = -1L, total0 = -1L, startIter = 0, maxIter,
        checkpointDir.map(ssspCheckpoint(spark, _, runId, checkpointEvery)))
    }
  }

  private def ssspCheckpoint(spark: org.apache.spark.sql.SparkSession,
                             dir: String, runId: String,
                             every: Int): LoopCheckpoint =
    new LoopCheckpoint(spark, dir, "sssp", runId, every,
      static = "adj", state = "state")

  /** Continue a [[weightedDistances]] run from durable state written via
    * its `checkpointDir` (same contract as the CC/PageRank/LPA resumes:
    * `maxIter` counts TOTAL rounds across both runs). The state is all
    * longs, so the resumed trajectory is EXACTLY the uninterrupted one. */
  def resumeWeightedDistances(spark: org.apache.spark.sql.SparkSession,
                              checkpointDir: String,
                              maxIter: Int = 64,
                              checkpointEvery: Int = 5,
                              runId: String = "sssp-resume"): DataFrame = {
    import spark.implicits._
    val ck = ssspCheckpoint(spark, checkpointDir, runId, checkpointEvery)
    scopedBlocks(spark) {
      val (meta, adj, state) = ck.open(Seq($"src"), Seq($"source", $"id"))
      ssspLoop(adj, state, meta("rows").toLong, meta("total").toLong,
        meta("iter").toInt, maxIter, Some(ck))
    }
  }

  private def ssspLoop(adj: DataFrame, state0: DataFrame,
                       rows0: Long, total0: Long, startIter: Int,
                       maxIter: Int, ck: Option[LoopCheckpoint]): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    // Chunked relaxation (guide §1.2): `chunk` Bellman–Ford rounds
    // compose into one barrier job. Valid because the state is MONOTONE
    // (rows only appear, per-pair dists only decrease): an unchanged
    // (count, Σdist) pair across a CHUNK boundary still ⟺ no relaxation
    // fired anywhere in the chunk, and extra rounds past the fixpoint
    // are no-ops. Chunking is skipped on checkpointed runs (resume
    // wants per-round state). Each intermediate round's subtree is
    // consumed twice (union + join) but ends in an aggregation
    // exchange, so ReuseExchange dedups the double-read shuffle.
    // chunk = 2, not the katz/eigen 4: the round count is DATA-DEPENDENT
    // here and fixpoint detection lags a chunk — on fast-converging
    // graphs (dense co-occurrence: 2-3 rounds) a 4-chunk runs nearly 2×
    // the needed rounds (measured slower than per-round barriers), while
    // 2 still halves the job count on deep graphs.
    val rows = (o: Map[String, Any]) => o("n").asInstanceOf[Long]
    val total = (o: Map[String, Any]) =>
      Option(o("s")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val out = iterate(state0, startIter, maxIter,
        chunk = if (ck.isDefined) 1 else 2,
        metrics = Seq(count(lit(1)).as("n"), sum($"dist").as("s")),
        obs0 = Map("n" -> rows0, "s" -> total0),
        stop = (prev, o) => rows(o) == rows(prev) && total(o) == total(prev),
        onRound = r => ck.foreach(_.record(r, r.state, adj, Map(
          "rows" -> rows(r.obs).toString, "total" -> total(r.obs).toString),
          edgesIn = rows(r.obs)))) { (cur, _, _) =>
      cur
        .union(cur.join(adj, $"id" === $"src")
          .select($"source", $"dst".as("id"), ($"dist" + $"weight").as("dist")))
        .groupBy($"source", $"id")
        .agg(min($"dist").as("dist"))
    }
    if (!out.stopped)
      throw new IllegalStateException(
        s"weightedDistances: no fixpoint in $maxIter rounds " +
          "(negative weights, or raise maxIter)")
    out.state
  }

  /** Seed-restricted distance statistics over seeds × reachable vertices
    * (dist > 0 pairs), one row: `pairs` (reached pairs), `diameter`
    * (max observed distance — the standard sampled-BFS diameter lower
    * bound), and `eff_d90` (exact integer 90th-percentile effective
    * diameter: smallest d with ≥90% of pairs at distance ≤ d; the
    * percentile compare stays in integers, cum·10 ≥ pairs·9, so the
    * gate is hash-exact — no float quantile interpolation to disagree
    * on across engines). Scale: one multi-source BFS + a hash agg to a
    * ≤`maxHops`-row histogram; the single-partition window over that
    * histogram is bounded by construction. */
  def distanceStats(edges: Dataset[Edge], seeds: Seq[Long],
                    maxHops: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    if (seeds.isEmpty) // empty graph ⇒ empty seed rule ⇒ empty table
      return spark.emptyDataFrame
        .select(lit(0L).as("pairs"), lit(0L).as("diameter"),
          lit(0L).as("eff_d90")).limit(0)
    scopedBlocks(spark) {
      val byd = barrier(multiSourceHopDistances(edges, seeds, maxHops)
        .filter($"dist" > 0).groupBy($"dist").agg(count(lit(1)).as("n")))
      val w = Window.orderBy($"dist")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      barrier(
        byd.withColumn("cum", sum($"n").over(w))
          .crossJoin(broadcast(byd.agg(sum($"n").as("t"))))
          .agg(coalesce(max($"t"), lit(0L)).as("pairs"),
            coalesce(max($"dist"), lit(0L)).as("diameter"),
            coalesce(min(when($"cum" * 10 >= $"t" * 9, $"dist")), lit(0L))
              .as("eff_d90")))
    }
  }
}
