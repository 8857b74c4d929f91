package graft.operators

import org.apache.spark.sql.GraftLineage._
import org.apache.spark.sql.GraftLineage
import graft.graph.{Edge, GraphIO}
import graft.plans.{Adaptive, LoopCheckpoint}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Synchronous label propagation for community detection (north-rule
  * operator; semantics from Raghavan et al. 2007, made deterministic:
  * each vertex adopts the most frequent neighbor label, ties broken by
  * the smallest label — no randomness, so results are reproducible across
  * runs and parallelism levels).
  *
  * Scale: one iteration = join(bidirectional edges ⋈ labels on src) +
  * two-level hash aggregation (groupBy (dst,label) count, then per-dst
  * argmax via max_by) — the per-dst argmax uses `max_by(label-struct)`
  * rather than a window sort, keeping it a pure hash agg with map-side
  * partial aggregation (no per-key sort, skew-tolerant). The
  * changed-vertex count is folded into the label materialization job via
  * `Dataset.observe`, so each iteration is ONE Spark job (the separate
  * count action was the dominant serial cost); superseded label
  * snapshots release their checkpoint blocks eagerly.
  */
object LabelPropagation {

  final case class Config(
      maxIter: Int = 20,
      /** durable resumability like PageRank/CC: when `checkpointDir` is
        * set, snapshot the label table every this many iterations (the
        * static adjacency written once, at the first snapshot) —
        * [[resume]] continues from the latest snapshot. Labels and
        * votes are integers (max/argmax are order-independent), so a
        * resumed run is EXACTLY equal to an uninterrupted one. */
      checkpointEvery: Int = 8,
      checkpointDir: Option[String] = None,
      runId: String = "lpa")

  final case class Result(labels: DataFrame, iterations: Int, converged: Boolean)

  def run(edges: Dataset[Edge],
          extraVertices: Option[Dataset[Long]] = None,
          cfg: Config = Config()): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    // canonical edges materialized once — the adjacency and the vertex
    // set each re-evaluated the full upstream derivation before
    val canon = GraphIO.canonical(edges).cutLineage()
    val res = propagate(
      GraphIO.bidirectional(canon).toDF().withColumn("weight", lit(1L)),
      GraphIO.vertices(canon).toDF("id"), extraVertices, cfg)
    canon.releaseLineage()
    res
  }

  /** LPA over a WEIGHTED undirected graph (rows (src, dst, weight),
    * arbitrary orientation, duplicates summed, self-loops dropped):
    * each vertex adopts the label with the largest total incident
    * weight, ties → smallest label. Integer weights keep the vote exact
    * and the fixpoint deterministic, like the unweighted case. */
  def runWeightedGraph(weighted: DataFrame,
                       extraVertices: Option[Dataset[Long]] = None,
                       cfg: Config = Config()): Result = {
    val spark = weighted.sparkSession
    import spark.implicits._
    // materialized once — the adjacency and vertex-set consumers each
    // re-ran the weighted derivation before
    val bidirW = GraftLineage.barrier(GraphIO.bidirectionalWeighted(weighted))
    val res = propagate(bidirW, bidirW.select($"src".as("id")).distinct(),
      extraVertices, cfg)
    GraftLineage.release(bidirW)
    res
  }

  private def propagate(bidirRaw: DataFrame, vertsRaw: DataFrame,
                        extraVertices: Option[Dataset[Long]],
                        cfg: Config): Result = {
    val spark = bidirRaw.sparkSession
    import spark.implicits._
    // Hash-partition the bidirectional adjacency by src ONCE — the
    // per-iteration labels join then reuses this partitioning (zero
    // exchanges at the join; the barrier preserves outputPartitioning).
    // Without the explicit repartition the barrier'd table keeps the
    // upstream distinct's (src,dst) partitioning, which does NOT satisfy
    // the join's src clustering — one full edge shuffle per iteration.
    // Adaptive loop partitioning (guide §2: derive from input size —
    // see graft.plans.Adaptive.loopTable).
    val (bidir, _, _) = Adaptive.loopTable(bidirRaw, Seq($"src"))
    val verts = vertsRaw
      .union(extraVertices.map(_.toDF("id")).getOrElse(spark.emptyDataset[Long].toDF("id")))
      .distinct()
      .cutLineage()

    val labels0 = verts.select($"id", $"id".as("label")).cutLineage()
    release(verts)
    loop(bidir, labels0, startIter = 0, cfg,
      cfg.checkpointDir.map(checkpoint(spark, _, "lpa", cfg)), seeded = false)
  }

  private def checkpoint(spark: org.apache.spark.sql.SparkSession, dir: String,
                         algo: String, cfg: Config): LoopCheckpoint =
    new LoopCheckpoint(spark, dir, algo, cfg.runId, cfg.checkpointEvery,
      static = "bidir", state = "labels")

  /** Continue a run from durable state written by [[Config.checkpointDir]]
    * (`cfg.maxIter` counts TOTAL iterations across both runs, like the
    * CC/PageRank resumes). */
  def resume(spark: org.apache.spark.sql.SparkSession,
             checkpointDir: String, cfg: Config = Config()): Result = {
    import spark.implicits._
    val ck = checkpoint(spark, checkpointDir, "lpa", cfg)
    val (meta, bidir, labels) = ck.open(Seq($"src"), Seq($"id"))
    loop(bidir, labels, meta("iter").toInt, cfg, Some(ck), seeded = false)
  }

  /** SEEDED (semi-supervised) label propagation: a small labeled seed
    * set (id, label) and an unlabeled majority; per iteration every
    * non-seed vertex adopts the most frequent label among its LABELED
    * neighbors (ties → smallest label), seeds never change, and
    * unlabeled vertices with no labeled neighbor stay unlabeled — the
    * classic label-inference primitive for propagating quality/spam/
    * topic classes through a link graph (Zhu & Ghahramani 2002 family,
    * majority-vote variant: integer votes → deterministic, so the
    * pinned-iteration run is oracle-exact). Returns only the vertices
    * labeled after `cfg.maxIter` synchronous rounds (or convergence).
    *
    * Scale shape = [[run]]: the adjacency is hash-partitioned by src
    * once and every iteration is one co-partitioned join + two hash
    * aggs, convergence observed in the round's own job. */
  def runSeeded(edges: Dataset[Edge], seeds: DataFrame,
                cfg: Config = Config()): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    // canonical edges materialized once (adjacency + vertex set both
    // consume it); adaptive loop partitioning — same rule as [[propagate]]
    val canon = GraphIO.canonical(edges).cutLineage()
    val (bidir, _, _) =
      Adaptive.loopTable(GraphIO.bidirectional(canon).toDF(), Seq($"src"))
    // duplicate seed rows would fan the vertex state out through the
    // left join — collapse to one deterministic label per id (smallest,
    // matching the tie rule); seeds not in the vertex set are ignored
    // (the graph defines the propagation domain)
    val seeds1 = seeds.groupBy($"id").agg(min($"label").as("seed_label"))
    val labels0 = GraphIO.vertices(canon).toDF("id")
      .join(seeds1, Seq("id"), "left")
      .select($"id", $"seed_label".as("label"),
        $"seed_label".isNotNull.as("seed"))
      .cutLineage()
    canon.releaseLineage() // both consumers materialized above
    loop(bidir, labels0, startIter = 0, cfg,
      cfg.checkpointDir.map(checkpoint(spark, _, "lpa_seeded", cfg)), seeded = true)
  }

  /** Continue a [[runSeeded]] run from durable state written by
    * [[Config.checkpointDir]] (same contract as the other resumes:
    * `cfg.maxIter` counts TOTAL iterations). All-integer state → the
    * resumed trajectory is EXACTLY the uninterrupted one. */
  def resumeSeeded(spark: org.apache.spark.sql.SparkSession,
                   checkpointDir: String, cfg: Config = Config()): Result = {
    import spark.implicits._
    val ck = checkpoint(spark, checkpointDir, "lpa_seeded", cfg)
    val (meta, bidir, labels) = ck.open(Seq($"src"), Seq($"id"))
    loop(bidir, labels, meta("iter").toInt, cfg, Some(ck), seeded = true)
  }

  /** The propagation loop proper, resumable at any iteration boundary:
    * state is (label frame, iteration); seeded runs also carry the seed
    * flag (a snapshot holds the full state, unlabeled rows included).
    * ONE job per round materializes the new labels while observing how
    * many vertices changed (the convergence signal). */
  private def loop(bidir: DataFrame, labels0: DataFrame, startIter: Int,
                   cfg: Config, ck: Option[LoopCheckpoint], seeded: Boolean): Result = {
    val spark = bidir.sparkSession
    import spark.implicits._
    val labelsOf = (df: DataFrame) =>
      if (seeded) df.select($"id", $"label", $"seed") else df.select($"id", $"label")
    val seededUpdate = (labels: DataFrame) => {
      val nbrCounts = bidir.as("e")
        .join(labels.filter($"label".isNotNull).as("l"), $"e.src" === $"l.id")
        .groupBy($"e.dst".as("id"), $"l.label".as("nl"))
        .agg(count(lit(1)).as("c"))
      val best = nbrCounts
        .groupBy($"id")
        .agg(max(struct($"c", (-$"nl").as("negl"))).as("m"))
        .select($"id", (-$"m.negl").as("newLabel"))
      labels.as("l")
        .join(best.as("b"), Seq("id"), "left")
        .select($"id",
          when($"seed", $"label").otherwise(coalesce($"newLabel", $"label"))
            .as("label"),
          $"seed",
          (!$"seed" && $"newLabel".isNotNull &&
            ($"label".isNull || $"newLabel" =!= $"label")).as("ch"))
    }
    val update = (cur: DataFrame) => {
      // heaviest neighbor label (unweighted: weight ≡ 1 → most
      // frequent); ties → smallest label. argmax as a single hash agg:
      // max_by over (vote, -label).
      val nbrCounts = bidir.as("e")
        .join(cur.as("l"), $"e.src" === $"l.id")
        .groupBy($"e.dst".as("id"), $"l.label".as("nl"))
        .agg(sum($"e.weight").as("c"))
      val best = nbrCounts
        .groupBy($"id")
        .agg(max(struct($"c", (-$"nl").as("negl"))).as("m"))
        .select($"id", (-$"m.negl").as("newLabel"))
      cur.as("l")
        .join(best.as("b"), Seq("id"), "left")
        .select($"id",
          coalesce($"newLabel", $"label").as("label"),
          ($"newLabel".isNotNull && $"newLabel" =!= $"label").as("ch"))
    }
    // Chunked iterations (guide §1.2; the Centrality.IterChunk rule,
    // bounded at 2 because the exit is DATA-DEPENDENT): two synchronous
    // unseeded updates compose into one barrier job, convergence
    // observed on the chunk's LAST update — valid because a fixpoint is
    // stable, so a mid-chunk fixpoint just makes the final update a
    // no-op with changed = 0. Checkpointed runs keep one barrier per
    // iteration.
    val out = iterate(labels0, startIter, cfg.maxIter,
        chunk = if (seeded || ck.isDefined) 1 else 2,
        metrics = Seq(
          coalesce(sum(when($"ch", 1L).otherwise(0L)), lit(0L)).as("changed")),
        stop = (_, o) => o("changed").asInstanceOf[Long] == 0L,
        onRound = r => ck.foreach(_.record(r, labelsOf(r.state), bidir,
          Map("runId" -> cfg.runId),
          verticesActive = r.obs("changed").asInstanceOf[Long]))) {
      (state, _, _) => (if (seeded) seededUpdate else update)(labelsOf(state))
    }
    release(bidir)
    val labels = labelsOf(out.state)
    Result(if (seeded) labels.filter($"label".isNotNull).select($"id", $"label") else labels,
      out.iter, out.stopped)
  }
}
