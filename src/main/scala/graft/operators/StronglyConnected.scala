package graft.operators

import org.apache.spark.sql.GraftLineage._
import org.apache.spark.sql.DataFrame
import graft.plans.Adaptive
import org.apache.spark.sql.functions._

/** Strongly connected components over a DIRECTED edge table (src, dst),
  * by Trim + Forward-Max-Coloring + Backward-Mark — the standard
  * distributed SCC decomposition (Slota/Rajamanickam/Madduri PPoPP'14
  * "BFS and Coloring-Based Parallel Algorithms for Strongly Connected
  * Components"; Orzan's coloring). Output: (id, label) with
  * label = MAX vertex id in the SCC — the same canonical-label contract
  * as the engine's undirected CC (SURVEY.md §3.5).
  *
  * Per outer round:
  *  1. TRIM (few sweeps): vertices with no in-edges or no out-edges in
  *     the remaining graph are singleton SCCs — peel them. Handles the
  *     long acyclic tails that make pure coloring O(V) rounds.
  *  2. COLOR: c(v) := v, then propagate c(v) = max(c(v), max_{u→v} c(u))
  *     to fixpoint — after which c(v) = r means r reaches v, and each
  *     color class is closed under the SCC of its root (c(r) = r).
  *  3. MARK: backward BFS from each root r inside color class r; the
  *     marked set is exactly {v : r→v and v→r} = SCC(r) (the classical
  *     color-closure argument: every vertex on a v→r path inside class r
  *     is itself in class r). Assign, peel, repeat.
  *
  * Scale shape: every step is an equi-join keyed by src/dst or id plus a
  * partial-agg'd max — the same join/agg loop machinery as PageRank/CC,
  * with lineage barriers per iteration. The color loop runs on
  * `GraftLineage.iterate`, bounded by the remaining vertex count (a
  * color travels at most that many edges); the mark loop is bounded the
  * same way (each level marks at least one new vertex). The outer round
  * loop, its trim sweeps and the mark loop run on
  * `GraftLineage.iterateFrames`: each frees the state it supersedes
  * (edges, remaining vertices, marked parts) once its successor has
  * materialized, and a round's own tables (colors, intra-class edges)
  * when the round ends; the call's scope frees the rest. Rounds:
  * ≤ #distinct-SCC-layers after trimming (one giant SCC + noise resolves
  * in 1-2 rounds; the adversarial worst case — a long chain of
  * nontrivial SCCs — costs a round per layer, the documented trade of
  * the coloring family); `maxRounds` bounds them and throws when
  * vertices remain. */
object StronglyConnected {

  /** The outer round loop's state: the remaining edges and vertices,
    * how many vertices remain, the (id, label) assignments so far and
    * the round. */
  private final case class Outer(edges: DataFrame, remaining: DataFrame, n: Long,
                                 assigned: List[DataFrame], round: Int) {
    def frames: Seq[DataFrame] = edges +: remaining +: assigned
  }

  def scc(directed: DataFrame, maxRounds: Int = 50,
          trimSweeps: Int = 3): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    val n = (o: Map[String, Any]) =>
      Option(o.values.head).map(_.asInstanceOf[Long]).getOrElse(0L)
    scopedBlocks(spark) {
      // adaptive loop partitioning (guide §2; graft.plans.Adaptive): the
      // edge count rides the input materialization as an observed metric
      val (edges0, _, p) = Adaptive.loopTable(
        directed.select($"src".cast("long"), $"dst".cast("long"))
          .filter($"src" =!= $"dst").distinct(),
        Seq($"src"))
      // vertex count observed inside the materialization job itself — a
      // separate count() is one more constant-time driver job per run
      // (the strong-scaling serial floor is made of exactly such jobs)
      val (rem0, remObs) = barrierObserved(
        edges0.select($"src".as("id")).union(edges0.select($"dst".as("id")))
          .distinct().repartition(p, $"id"),
        count(lit(1)).as("n"))
      // `s` with the vertices `keep` left and the `done` ones, counted
      // `k`, assigned; the edges between two kept vertices stay
      def peel(s: Outer, keep: DataFrame, done: DataFrame, k: Long): Outer =
        s.copy(edges = barrier(
          s.edges.join(keep.withColumnRenamed("id", "src"), "src")
            .join(keep.withColumnRenamed("id", "dst"), "dst")
            .select($"src", $"dst").repartition(p, $"src")),
          remaining = keep, n = s.n - k, assigned = done :: s.assigned)

      val last = iterateFrames[Outer](Outer(edges0, rem0, n(remObs), Nil, 0), _.frames)(
          s => s.n > 0 && s.round < maxRounds) { s0 =>
        // ---- 1. trim: no-in or no-out vertices are singleton SCCs ----
        // (state, sweeps run; a sweep that peels nothing ends the trim)
        val (s, _) = iterateFrames[(Outer, Int)]((s0, 0), t => t._1.frames)(
            t => t._2 < trimSweeps && t._1.n > 0) { case (s, sweep) =>
          val both = barrier(
            s.edges.select($"src".as("id")).distinct()
              .join(s.edges.select($"dst".as("id")).distinct(), "id")
              .repartition(p, $"id"))
          // singleton SCCs materialized directly as their (id, label)
          // assignment, with the count folded into the same job
          val (singles, sObs) = barrierObserved(
            s.remaining.join(both, Seq("id"), "left_anti")
              .select($"id", $"id".as("label")),
            count(lit(1)).as("n"))
          if (n(sObs) > 0) (peel(s, both, singles, n(sObs)), sweep + 1)
          else (s, trimSweeps)
        }
        if (s.n == 0) s.copy(round = s.round + 1)
        else {
          // ---- 2. color: forward max propagation to fixpoint ----
          // One job per color iteration: the repartition rides the
          // observed materialization; the unread chg column stays in the
          // barrier (8 B/row) and is pruned at every read.
          val colored = iterate(barrier(s.remaining.select($"id", $"id".as("c"))), 0,
              math.min(s.n, Int.MaxValue.toLong).toInt, chunk = 1,
              metrics = Seq(sum($"chg").as("nchg")),
              stop = (_, o) => n(o) == 0L) { (colors, _, _) =>
            val incoming = s.edges.as("e")
              .join(colors.as("x"), $"e.src" === $"x.id")
              .groupBy($"e.dst".as("id"))
              .agg(max($"x.c").as("inc"))
            colors.as("x")
              .join(incoming.as("i"), Seq("id"), "left")
              .select($"id",
                greatest($"x.c", coalesce($"i.inc", $"x.c")).as("c"),
                ($"i.inc".isNotNull && $"i.inc" > $"x.c").cast("long").as("chg"))
              .repartition(p, $"id")
          }
          check(colored.stopped, "color")
          val colors = colored.state
          // ---- 3. backward mark from roots inside each color class ----
          // ce: edges with both endpoint colors, kept only intra-class
          val ce = barrier(
            s.edges.as("e")
              .join(colors.as("cs"), $"e.src" === $"cs.id")
              .join(colors.as("cd"), $"e.dst" === $"cd.id")
              .filter($"cs.c" === $"cd.c")
              .select($"e.src", $"e.dst")
              .repartition(p, $"dst"))
          // The marked set is a LAZY union of the per-level barriers (the
          // CC doneParts shape), newest first, instead of a consolidated
          // re-barrier per level: one job per mark level, the newMarks
          // materialization. The mark loop runs on a directed graph, where
          // a new mark may sit next to any earlier level, so the anti-join
          // reads the whole marked set. State: (parts, whether the last
          // level marked any vertex, levels run); the frontier is the
          // newest part.
          val (parts, growing, _) = iterateFrames[(List[DataFrame], Boolean, Long)](
              (List(barrier(colors.filter($"c" === $"id").select($"id", $"c"))), true, 0L),
              _._1)(m => m._2 && m._3 < s.n) { case (parts, _, level) =>
            val (newMarks, obs) = barrierObserved(
              ce.as("e")
                .join(parts.head.as("f"), $"e.dst" === $"f.id")
                .select($"e.src".as("id"), $"f.c".as("c"))
                .distinct()
                .join(parts.reduce(_ union _), Seq("id"), "left_anti")
                .repartition(p, $"id"),
              count(lit(1)).as("n"))
            if (n(obs) == 0L) (parts, false, level + 1)
            // compact every 8 levels: an uncompacted union grows the
            // anti-join plan linearly in level count — O(depth²) driver
            // re-analysis on deep regions. The new frontier stays its own
            // barrier (the next join reads it directly).
            else if (parts.size >= 8)
              (List(newMarks, barrier(parts.reduce(_ union _).repartition(p, $"id"))),
                true, level + 1)
            else (newMarks :: parts, true, level + 1)
          }
          check(!growing, "mark")
          val (asg, aObs) = barrierObserved(
            parts.reduce(_ union _).select($"id", $"c".as("label")), count(lit(1)).as("n"))
          // peel the assigned SCCs and iterate on the rest
          peel(s, barrier(
            s.remaining.join(asg.select($"id"), Seq("id"), "left_anti")
              .repartition(p, $"id")), asg, n(aObs)).copy(round = s.round + 1)
        }
      }
      if (last.n != 0)
        throw new IllegalStateException(
          s"scc: ${last.n} vertices unresolved after $maxRounds rounds")
      if (last.assigned.isEmpty) // empty edge set → empty label table
        spark.emptyDataFrame.select(lit(0L).as("id"), lit(0L).as("label")).limit(0)
      else barrier(last.assigned.reduce(_ union _))
    }
  }

  /** Guards the bounded color and mark loops: reaching the vertex-count
    * bound without a fixpoint would mean a broken invariant, never a
    * slow input. */
  private def check(done: Boolean, loop: String): Unit =
    if (!done) throw new IllegalStateException(
      s"scc: $loop loop exceeded its vertex-count bound")

  /** Condensation DAG: contract each SCC to its canonical label and keep
    * the distinct cross-SCC edges — acyclic by construction (a cycle of
    * SCCs would be one SCC). `labels` is [[scc]]'s (id, label) output.
    * Scale shape: two equi-joins keyed by the edge endpoints + one
    * distinct — the same relabel plan as CC's edge contraction
    * (ConnectedComponents G4), no iteration. */
  def condensation(directed: DataFrame, labels: DataFrame): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    directed
      .select($"src".cast("long"), $"dst".cast("long"))
      .join(labels.select($"id".as("src"), $"label".as("src_scc")), "src")
      .join(labels.select($"id".as("dst"), $"label".as("dst_scc")), "dst")
      .filter($"src_scc" =!= $"dst_scc")
      .select($"src_scc", $"dst_scc")
      .distinct()
  }

  /** Longest-path topological levels of a DAG (e.g. the
    * [[condensation]]): level(v) = 0 for sources, else
    * 1 + max(level(u) : u → v) — the schedule depth / critical-path
    * stage of each node, and the canonical topological ordering key
    * (every edge goes strictly level-upward).
    *
    * Iterative max-propagation: one key-partitioned join + max agg per
    * round; levels only increase, so an unchanged Σlevel observed in the
    * round's own materialization job ⟺ fixpoint. Converges in
    * depth(DAG) rounds; `maxRounds` doubles as a cycle guard (a cycle
    * would increase levels forever), so the require below also certifies
    * acyclicity of the input. */
  def dagLevels(dag: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = dag.sparkSession
    import spark.implicits._
    scopedBlocks(spark) {
      // adaptive loop partitioning — same rule as [[scc]]
      val (edges, _, _) = Adaptive.loopTable(
        dag.select($"src".cast("long"), $"dst".cast("long"))
          .filter($"src" =!= $"dst").distinct(),
        Seq($"src"))
      val lsum = (o: Map[String, Any]) =>
        Option(o("lsum")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val state0 = barrier(
        edges.select($"src".as("id")).union(edges.select($"dst".as("id")))
          .distinct().select($"id", lit(0L).as("level")))
      val out = iterate(state0, 0, maxRounds, chunk = 1,
          metrics = Seq(sum($"level").as("lsum")), obs0 = Map("lsum" -> 0L),
          stop = (prev, o) => lsum(o) == lsum(prev)) { (state, _, _) =>
        val pushed = edges
          .join(state.select($"id".as("src"), $"level"), Seq("src"))
          .groupBy($"dst".as("id")).agg((max($"level") + 1L).as("nl"))
        state.join(pushed.select($"id", $"nl"), Seq("id"), "left")
          .select($"id", greatest($"level", coalesce($"nl", lit(0L))).as("level"))
      }
      require(out.stopped,
        s"dagLevels did not converge in $maxRounds rounds — cycle in input?")
      out.state
    }
  }
}
