package graft.operators

import org.apache.spark.sql.GraftLineage._
import org.apache.spark.sql.GraftLineage
import graft.graph.{Edge, GraphIO}
import graft.plans.{Adaptive, LoopCheckpoint}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** PageRank by power iteration (north-rule operator; no reference
  * implementation — semantics from Page et al. 1999 with the standard
  * dangling-mass redistribution).
  *
  * Undirected link graphs are treated as symmetric directed graphs (each
  * edge contributes both directions), so out-degree = degree and dangling
  * vertices only arise from the optional isolated-vertex set.
  *
  * Scale design: the edge table is weighted once up-front
  * (`1/outdeg(src)`) and hash-partitioned by src at the loop partition
  * count; the rank state is hash-partitioned by id at that same count.
  * Each iteration is then one Pregel-style message step: ranks ⋈
  * weighted edges on src with no exchange, ONE exchange of the
  * contributions keyed by dst, and their sum on that partitioning,
  * which is also the next state's. Convergence delta AND next
  * iteration's dangling mass are observed on the rank barrier
  * (`Dataset.observe`), so there is no separate aggregation action;
  * under AQE each shuffle stage still runs as its own Spark job.
  * Each entry point is one block scope: the loop frees superseded ranks,
  * the scope everything else but the result's blocks, on a throw too.
  */
object PageRank {

  final case class Config(
      damping: Double = 0.85,
      maxIter: Int = 100,
      /** stop when the L1 delta between iterations falls below this.
        * Set 0.0 to run exactly `maxIter` iterations (early exit only at
        * an exact fixpoint, where further iterations are no-ops) — the
        * pinned-iteration mode used by the DuckDB oracle. */
      tol: Double = 1e-10,
      /** when `checkpointDir` is set, write a durable (ranks,
        * transition-table) snapshot every this many iterations —
        * [[resume]] continues from the latest one (the north rule's
        * mid-iteration resumability, same CheckpointManager + metrics
        * table as the CC strategies). The static transition table is
        * written once, at the first snapshot. */
      checkpointEvery: Int = 8,
      checkpointDir: Option[String] = None,
      runId: String = "pagerank")

  final case class Result(ranks: DataFrame, iterations: Int, l1Delta: Double)

  def run(edges: Dataset[Edge],
          extraVertices: Option[Dataset[Long]] = None,
          cfg: Config = Config()): Result =
    runWeighted(edges, extraVertices, None, cfg)

  /** Personalized PageRank: the restart (teleport) distribution is
    * uniform over `sources ∩ V` instead of over all of V, and dangling
    * mass redistributes to the sources — the standard random-walk-with-
    * restart ranking used for seed-relative link relevance. Same
    * iteration machinery and plan shape as [[run]]. */
  def personalized(edges: Dataset[Edge],
                   sources: Dataset[Long],
                   extraVertices: Option[Dataset[Long]] = None,
                   cfg: Config = Config()): Result =
    runWeighted(edges, extraVertices, Some(sources), cfg)

  /** PageRank over a WEIGHTED undirected graph: input rows
    * (src, dst, weight), arbitrary orientation, duplicates summed,
    * self-loops dropped. Transition probability u→v =
    * weight(u,v) / strength(u) with strength = Σ incident weights —
    * the natural random walk on a co-occurrence-counted link graph
    * (an unweighted run over the same edges ignores tie strength).
    * Same iteration machinery/plan as [[run]]; optional restart set =
    * personalized weighted PageRank. */
  def runWeightedGraph(weighted: DataFrame,
                       sources: Option[Dataset[Long]] = None,
                       extraVertices: Option[Dataset[Long]] = None,
                       cfg: Config = Config()): Result = {
    val spark = weighted.sparkSession
    import spark.implicits._
    scopedFrames(spark)((r: Result) => Seq(r.ranks)) {
      // materialized once — three consumers below (strength, the weighted
      // join, the vertex set) each re-ran the whole weighted derivation
      val bidirW = GraftLineage.barrier(GraphIO.bidirectionalWeighted(weighted))
      val strength = bidirW.groupBy($"src").agg(sum($"weight").as("st"))
      val wEdgesRaw = bidirW.join(strength, "src")
        .select($"src", $"dst",
          ($"weight".cast("double") / $"st".cast("double")).as("w"))
      val vertsRaw = bidirW.select($"src".as("id")).distinct()
      powerIteration(spark, vertsRaw, wEdgesRaw, extraVertices, sources, cfg)
    }
  }

  private def runWeighted(edges: Dataset[Edge],
                          extraVertices: Option[Dataset[Long]],
                          restart: Option[Dataset[Long]],
                          cfg: Config): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    scopedFrames(spark)((r: Result) => Seq(r.ranks)) {
      // canonical edges materialized ONCE: the lazy plan was re-evaluated
      // by every consumer below (bidirectional ×2 through the outdeg join,
      // vertices once more) — for derived co-occurrence inputs each
      // re-evaluation is the full upstream self-join (guide §1.2)
      val canon = GraphIO.canonical(edges).cutLineage()
      val directed = GraphIO.bidirectional(canon)
      val outDegPre = directed.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      val wEdgesRaw = directed.join(outDegPre, "src")
        .select($"src", $"dst", (lit(1.0) / $"outdeg").as("w"))
      powerIteration(spark, GraphIO.vertices(canon).toDF("id"), wEdgesRaw,
        extraVertices, restart, cfg)
    }
  }

  /** Shared power-iteration core over a prepared transition table
    * (src, dst, w) with Σ_dst w = 1 per non-dangling src. */
  private def powerIteration(spark: org.apache.spark.sql.SparkSession,
                             vertsRaw: DataFrame,
                             wEdgesRaw: DataFrame,
                             extraVertices: Option[Dataset[Long]],
                             restart: Option[Dataset[Long]],
                             cfg: Config): Result = {
    import spark.implicits._
    // n is observed in the vertex set's own materialization job
    val (verts, vObs) = barrierObserved(vertsRaw
      .union(extraVertices.map(_.toDF("id")).getOrElse(spark.emptyDataset[Long].toDF("id")))
      .distinct(), count(lit(1)).as("n"))
    val n = vObs("n").asInstanceOf[Long]
    if (n == 0) // empty graph → empty rank table (not an error)
      return Result(verts.select($"id", lit(0.0).as("rank")), 0, 0.0)

    // Restart weight rw(v): 1/n uniform, or 1/|S∩V| over the sources.
    // rank_{t+1} = (1-d)·rw + d·(Σ_in w·rank_t + danglingMass·rw).
    // Uniform runs keep rw as a LITERAL (constant-folded by Catalyst) —
    // carrying a constant column through every iteration's shuffle
    // would cost 8 bytes × vertices × iterations at scale for nothing;
    // only personalized runs carry a real per-vertex rw column.
    val personalized = restart.isDefined
    val vertsRw: DataFrame = restart match {
      case None => verts.select($"id")
      case Some(src) =>
        val sDf = src.toDF("sid").distinct()
        val nS = verts.join(sDf, $"id" === $"sid", "left_semi").count()
        require(nS > 0, "personalized PageRank: no source vertex is in the graph")
        verts.join(broadcast(sDf), $"id" === $"sid", "left")
          .select($"id",
            when($"sid".isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)).as("rw"))
    }
    val rw: org.apache.spark.sql.Column = if (personalized) $"rw" else lit(1.0 / n)
    val rwCols = if (personalized) Seq(col("rw")) else Seq.empty[org.apache.spark.sql.Column]

    // Weighted adjacency: one row per directed edge with its transition
    // weight, hash-partitioned by src ONCE — the per-iteration join then
    // reuses this partitioning (no edge shuffle per iteration; the rank
    // side is already partitioned by id from the previous groupBy), at
    // the adaptive loop partition count (guide §2: derive partitioning
    // from input size; see [[graft.plans.Adaptive.loopTable]]).
    val (wEdges, _, p) = Adaptive.loopTable(wEdgesRaw, Seq($"src"))

    // Dangling = vertices with no out-edges (isolated ones here). A flag
    // column on the rank table; dangling mass for iteration t+1 is
    // observed during iteration t's rank materialization — no extra job.
    // srcIds scans the barrier'd wEdges (the raw derivation was
    // re-evaluated per consumer before), and the flag is ONE left join
    // instead of the old anti+semi union (two srcIds evaluations).
    val srcIds = wEdges.select($"src".as("id")).distinct()
      .withColumn("_src", lit(true))
    val vertsFlagged = vertsRw.as("v")
      .join(srcIds, Seq("id"), "left")
      .select(Seq($"id") ++ rwCols :+ $"_src".isNull.as("dangling"): _*)

    val (ranks0, m0) = barrierObserved(
      vertsFlagged
        .select(Seq($"id", rw.as("rank")) ++ rwCols :+ $"dangling": _*)
        .repartition(p, $"id"),
      coalesce(sum(when($"dangling", $"rank")), lit(0.0)).as("dmass"),
      coalesce(sum(when($"dangling", 1L)), lit(0L)).as("dangn"))
    val dangN = Option(m0("dangn")).map(_.asInstanceOf[Long]).getOrElse(0L)
    // Pinned-iteration fast path (guide §1.2: cut the pass count): with
    // tol = 0 there is no convergence read, and with ZERO dangling
    // vertices the dangling mass is identically 0.0, so its
    // per-iteration observation is dead weight — every powerIteration() caller
    // builds a bidirectional graph, so dangN == 0 also means every
    // vertex has in-edges and the contribs aggregation alone reaches the
    // full vertex set. Arithmetic per iteration is unchanged: with
    // dmass = 0.0 the old rank expression d·(contrib + 0.0·rw) is
    // bit-identical to d·contrib. Checkpointed runs keep the observed
    // loop (resume needs the per-iteration dmass state).
    loop(wEdges, ranks0, p, m0, if (personalized) None else Some(1.0 / n),
      startIter = 0, cfg, cfg.checkpointDir.map(checkpoint(spark, _, cfg)),
      pinned = cfg.tol == 0.0 && cfg.checkpointDir.isEmpty && dangN == 0L)
  }

  private def checkpoint(spark: org.apache.spark.sql.SparkSession,
                         dir: String, cfg: Config): LoopCheckpoint =
    new LoopCheckpoint(spark, dir, "pagerank", cfg.runId, cfg.checkpointEvery,
      static = "wedges", state = "ranks")

  /** Continue a run from durable state written by [[Config.checkpointDir]]:
    * loads the latest rank snapshot + the once-written transition table
    * and iterates from the recorded iteration (`cfg.maxIter` counts
    * TOTAL iterations across the original run and the resume — the same
    * contract as the CC strategies' resume). */
  def resume(spark: org.apache.spark.sql.SparkSession,
             checkpointDir: String, cfg: Config = Config()): Result = {
    import spark.implicits._
    val ck = checkpoint(spark, checkpointDir, cfg)
    scopedFrames(spark)((r: Result) => Seq(r.ranks)) {
      val (meta, wEdges, ranks) = ck.open(Seq($"src"), Seq($"id"))
      // Double.toString round-trips exactly, so the resumed STATE is
      // bit-identical; final ranks may differ from an uninterrupted run
      // in the last ulp because the parquet round-trip can permute rows
      // within partitions and per-vertex neighbor sums are
      // order-sensitive — the same noise the 1e-6 oracle contract (and
      // the 6 dp rounds elsewhere) absorb. CC's resume is exact because
      // max over longs is order-independent.
      val rwLit = meta.get("rw").filter(_.nonEmpty).map(_.toDouble)
      loop(wEdges, ranks, spark.sessionState.conf.numShufflePartitions,
        Map("dmass" -> meta("dmass").toDouble), rwLit,
        startIter = meta("iter").toInt, cfg, Some(ck), pinned = false)
    }
  }

  /** The power-iteration loop proper, resumable at any iteration
    * boundary: state is (ranks frame, dangling mass, iteration).
    *
    * A `pinned` run (tol = 0, zero dangling vertices, no durable
    * checkpoints) takes the pinned step instead: [[Centrality.IterChunk]]
    * join+agg iterations compose into ONE plan per lineage barrier —
    * fewer driver actions and rank materializations than one barrier
    * per iteration, with the chunk kept small so plan size and size-only
    * estimates stay bounded. l1Delta is not computed on that path
    * (reported as NaN). */
  private def loop(wEdges: DataFrame, ranks0: DataFrame, p: Int, obs0: Map[String, Any],
                   rwLit: Option[Double], startIter: Int, cfg: Config,
                   ck: Option[LoopCheckpoint], pinned: Boolean): Result = {
    val spark = wEdges.sparkSession
    import spark.implicits._
    val personalized = rwLit.isEmpty
    val rw: org.apache.spark.sql.Column =
      rwLit.map(lit(_)).getOrElse($"rw")
    val rwCols = if (personalized) Seq(col("rw")) else Seq.empty[org.apache.spark.sql.Column]
    val ranksOf = (df: DataFrame) =>
      df.select(Seq($"id", $"rank") ++ rwCols :+ $"dangling": _*)
    // wEdges (by src) and ranks (by id) share partition count p, so the
    // join needs no exchange; see [[Centrality.sendSum]] for the rest
    val contribsOf = (ranks: DataFrame) =>
      Centrality.sendSum(wEdges.as("e")
        .join(ranks.hint("shuffle_hash").as("r"), $"e.src" === $"r.id")
        .select($"e.dst".as("id"), ($"e.w" * $"r.rank").as("c")), p, "contrib")
    // personalized pinned runs rebuild the (1-d)·rw term from the static
    // restart-weight table each iteration — a co-partitioned id join
    // against the ranks0 barrier, which the loop therefore retains (the
    // caller's scope frees it)
    val vertsRw: DataFrame =
      if (pinned && personalized) ranks0.select($"id", $"rw") else null
    val out =
      if (pinned)
        iterate(ranks0, startIter, cfg.maxIter, Centrality.IterChunk,
            retain = Option(vertsRw).toSeq) { (cur, _, _) =>
          if (personalized)
            contribsOf(cur).join(vertsRw, Seq("id"))
              .select($"id",
                (lit(1.0 - cfg.damping) * rw +
                  lit(cfg.damping) * $"contrib").as("rank"),
                $"rw")
          else
            contribsOf(cur).select($"id",
              (lit(1.0 - cfg.damping) * rw +
                lit(cfg.damping) * $"contrib").as("rank"))
        }
      else
        iterate(ranks0, startIter, cfg.maxIter, chunk = 1,
            metrics = Seq(
              coalesce(sum(abs($"rank" - $"prev")), lit(0.0)).as("delta"),
              coalesce(sum(when($"dangling", $"rank")), lit(0.0)).as("dmass")),
            obs0 = obs0,
            stop = (_, o) => !(o("delta").asInstanceOf[Double] > cfg.tol),
            onRound = r => ck.foreach(_.record(r, ranksOf(r.state), wEdges, Map(
              "runId" -> cfg.runId,
              "dmass" -> r.obs("dmass").asInstanceOf[Double].toString,
              "rw" -> rwLit.map(_.toString).getOrElse(""))))) { (state, _, obs) =>
          val ranks = ranksOf(state)
          val danglingMass = obs.get("dmass").asInstanceOf[Double]
          // ranks is the full vertex set → left join carries every
          // vertex, the old rank (for the delta), the restart weight and
          // the dangling flag in one pass. ONE action: materialize the new
          // ranks while observing the L1 delta and the next iteration's
          // dangling mass. The scalar dangling mass rides as a broadcast
          // one-row frame, not a literal: a changing literal is inlined
          // into the generated Java, so every iteration would be a new
          // plan paying a fresh Catalyst optimization and Janino
          // compile. With the broadcast the iteration plan — and its
          // compiled codegen — is IDENTICAL every iteration and only
          // iteration 1 compiles.
          ranks.as("r").join(contribsOf(ranks).as("c"), Seq("id"), "left")
            .crossJoin(broadcast(Seq(danglingMass).toDF("dmass")))
            .select(Seq($"id",
              (lit(1.0 - cfg.damping) * rw + lit(cfg.damping) *
                (coalesce($"contrib", lit(0.0)) + $"dmass" * rw)).as("rank"),
              $"r.rank".as("prev")) ++ rwCols :+ $"dangling": _*)
        }
    Result(out.state.select($"id", $"rank"), out.iter,
      if (pinned) Double.NaN
      else out.obs.get("delta").map(_.asInstanceOf[Double]).getOrElse(Double.MaxValue))
  }
}
