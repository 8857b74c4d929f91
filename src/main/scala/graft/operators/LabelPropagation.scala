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
  * Scale: each iteration is one Pregel-style message step. The loop
  * adjacency holds both directions of every edge plus one `(v, v, 0)`
  * self row per vertex, hash-partitioned by src at the loop partition
  * count, and the label state is hash-partitioned by id at that count.
  * A step joins them with no exchange, so each vertex's own label (and
  * seed flag) travels with the votes it sends. ONE exchange keyed by the
  * receiving vertex follows; the (receiver, label) vote sum and the
  * per-receiver argmax (`max(struct(vote, -label))`, an aggregate, no
  * window) both run on that partitioning, and their output is
  * already the next state, partitioned like the adjacency. The state is
  * read once per step, so a chunk of steps composes linearly. The
  * changed-vertex count is observed on the round's barrier
  * (`Dataset.observe`), so there is no separate count action; under AQE
  * each shuffle stage still runs as its own Spark job.
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
    start(spark, cfg, cfg.checkpointDir.map(checkpoint(spark, _, "lpa", cfg)), seeded = false) {
      // canonical edges materialized once — the adjacency and the vertex
      // set each re-evaluated the full upstream derivation before
      val canon = GraphIO.canonical(edges).cutLineage()
      (0, GraphIO.bidirectional(canon).toDF().withColumn("weight", lit(1L)),
        ownLabels(GraphIO.vertices(canon).toDF("id"), extraVertices))
    }
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
    start(spark, cfg, cfg.checkpointDir.map(checkpoint(spark, _, "lpa", cfg)), seeded = false) {
      // materialized once — the adjacency and vertex-set consumers each
      // re-ran the weighted derivation before
      val bidirW = GraftLineage.barrier(GraphIO.bidirectionalWeighted(weighted))
      (0, bidirW, ownLabels(bidirW.select($"src".as("id")).distinct(), extraVertices))
    }
  }

  /** Every vertex of `vertsRaw` and `extraVertices` labeled by its own
    * id, materialized once: the self rows and the keyed state both read it. */
  private def ownLabels(vertsRaw: DataFrame, extraVertices: Option[Dataset[Long]]): DataFrame = {
    val spark = vertsRaw.sparkSession
    import spark.implicits._
    vertsRaw
      .union(extraVertices.map(_.toDF("id")).getOrElse(spark.emptyDataset[Long].toDF("id")))
      .distinct()
      .cutLineage()
      .select($"id", $"id".as("label"))
  }

  /** Run [[loop]] from what `inputs` builds: the start iteration, the
    * adjacency (src, dst, weight) without self rows, and the label state.
    * The loop's two tables share one partition count p: the adjacency
    * plus one `(v, v, 0)` self row per vertex of the state, keyed by src
    * (adaptive count, see [[graft.plans.Adaptive.loopTable]]), and the
    * state keyed by id. The adjacency has no self loops, so a row is a
    * vote exactly when src ≠ dst. The call is one block scope that keeps
    * only the result's blocks; `inputs` and the two tables run in a
    * nested one, so the barriers `inputs` makes (the canonical edges, a
    * snapshot) are freed before the first round. */
  private def start(spark: org.apache.spark.sql.SparkSession, cfg: Config,
                    ck: Option[LoopCheckpoint], seeded: Boolean)(
      inputs: => (Int, DataFrame, DataFrame)): Result = {
    import spark.implicits._
    scopedFrames(spark)((r: Result) => Seq(r.labels)) {
      val (iter, adj, labels0, p) =
        scopedFrames(spark)((t: (Int, DataFrame, DataFrame, Int)) => Seq(t._2, t._3)) {
          val (iter, bidir, state) = inputs
          val selfRows = state.select($"id".as("src"), $"id".as("dst"),
            lit(0).cast(bidir.schema("weight").dataType).as("weight"))
          val (adj, _, p) = Adaptive.loopTable(
            bidir.select($"src", $"dst", $"weight").union(selfRows), Seq($"src"))
          (iter, adj, barrier(state.repartition(p, $"id")), p)
        }
      loop(adj, labels0, p, iter, cfg, ck, seeded)
    }
  }

  private def checkpoint(spark: org.apache.spark.sql.SparkSession, dir: String,
                         algo: String, cfg: Config): LoopCheckpoint =
    new LoopCheckpoint(spark, dir, algo, cfg.runId, cfg.checkpointEvery,
      static = "bidir", state = "labels")

  /** Continue a run from durable state written by [[Config.checkpointDir]]
    * (`cfg.maxIter` counts TOTAL iterations across both runs, like the
    * CC/PageRank resumes). */
  def resume(spark: org.apache.spark.sql.SparkSession,
             checkpointDir: String, cfg: Config = Config()): Result =
    reopen(spark, checkpoint(spark, checkpointDir, "lpa", cfg), cfg, seeded = false)

  /** Resume header shared by [[resume]] and [[resumeSeeded]]. The
    * snapshot's static table is the adjacency without self rows (its
    * format before self rows existed, too), so they are rebuilt from the
    * snapshot's state, which holds every vertex. */
  private def reopen(spark: org.apache.spark.sql.SparkSession, ck: LoopCheckpoint,
                     cfg: Config, seeded: Boolean): Result = {
    import spark.implicits._
    start(spark, cfg, Some(ck), seeded) {
      val (meta, bidir, labels) = ck.open(Seq($"src"), Seq($"id"))
      (meta("iter").toInt, bidir.filter($"src" =!= $"dst"), labels)
    }
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
    * Scale shape = [[run]]: one message step per iteration, the self
    * row carrying the seed flag; votes from unlabeled neighbors are
    * dropped before the exchange. */
  def runSeeded(edges: Dataset[Edge], seeds: DataFrame,
                cfg: Config = Config()): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    start(spark, cfg, cfg.checkpointDir.map(checkpoint(spark, _, "lpa_seeded", cfg)),
        seeded = true) {
      // canonical edges materialized once (adjacency + vertex set both
      // consume it)
      val canon = GraphIO.canonical(edges).cutLineage()
      // duplicate seed rows would fan the vertex state out through the
      // left join — collapse to one deterministic label per id (smallest,
      // matching the tie rule); seeds not in the vertex set are ignored
      // (the graph defines the propagation domain)
      val seeds1 = seeds.groupBy($"id").agg(min($"label").as("seed_label"))
      // materialized once: the self rows and the keyed state both read it
      val labels = GraphIO.vertices(canon).toDF("id")
        .join(seeds1, Seq("id"), "left")
        .select($"id", $"seed_label".as("label"), $"seed_label".isNotNull.as("seed"))
        .cutLineage()
      (0, GraphIO.bidirectional(canon).toDF().withColumn("weight", lit(1L)), labels)
    }
  }

  /** Continue a [[runSeeded]] run from durable state written by
    * [[Config.checkpointDir]] (same contract as the other resumes:
    * `cfg.maxIter` counts TOTAL iterations). All-integer state → the
    * resumed trajectory is EXACTLY the uninterrupted one. */
  def resumeSeeded(spark: org.apache.spark.sql.SparkSession,
                   checkpointDir: String, cfg: Config = Config()): Result =
    reopen(spark, checkpoint(spark, checkpointDir, "lpa_seeded", cfg), cfg, seeded = true)

  /** The propagation loop proper, resumable at any iteration boundary:
    * state is (label frame, iteration); seeded runs also carry the seed
    * flag (a snapshot holds the full state, unlabeled rows included).
    * `adj` is keyed by src and the state by id, both at `p`. */
  private def loop(adj: DataFrame, labels0: DataFrame, p: Int, startIter: Int,
                   cfg: Config, ck: Option[LoopCheckpoint], seeded: Boolean): Result = {
    val spark = adj.sparkSession
    import spark.implicits._
    val labelsOf = (df: DataFrame) =>
      if (seeded) df.select($"id", $"label", $"seed") else df.select($"id", $"label")
    // One message step: every adjacency row sends its src's label to dst
    // (the self row also the seed flag), one exchange by dst, then the
    // (dst, label) vote sum and the per-dst argmax — heaviest vote (an
    // unweighted row weighs 1, so most frequent), ties → smallest label —
    // on that same partitioning. The self row is the receiver's own
    // label, never a vote.
    val seedOf = (c: org.apache.spark.sql.Column) =>
      if (seeded) Seq(max(c).as("seed")) else Nil
    // The state side is hinted `shuffle_hash`: both sides are already
    // partitioned alike, so the join hashes each state partition in
    // place. Unhinted, AQE turned a chunk's later steps, whose state is a
    // small finished stage, into broadcast joins: one more job per step.
    val step = (labels: DataFrame) => {
      val msgs = adj.join(labels.hint("shuffle_hash"), $"src" === $"id")
        .select(Seq($"dst", $"label", $"weight", ($"src" =!= $"dst").as("vote")) ++
          (if (seeded) Seq($"seed") else Nil): _*)
      // seeded runs count only labeled neighbors
      val sent = if (seeded) msgs.filter(!$"vote" || $"label".isNotNull) else msgs
      val perLabel = sent.repartition(p, $"dst")
        .groupBy($"dst", $"label")
        .agg(max($"vote").as("voted"), sum(when($"vote", $"weight")).as("c") +:
          max(!$"vote").as("own") +: seedOf(when(!$"vote", $"seed")): _*)
      val best = perLabel.groupBy($"dst".as("id"))
        .agg(max(when($"voted", struct($"c", (-$"label").as("negl")))).as("m"),
          max(when($"own", $"label")).as("old") +: seedOf($"seed"): _*)
        .withColumn("newLabel", -$"m.negl")
      if (seeded)
        best.select($"id",
          when($"seed", $"old").otherwise(coalesce($"newLabel", $"old")).as("label"),
          $"seed",
          (!$"seed" && $"newLabel".isNotNull &&
            ($"old".isNull || $"newLabel" =!= $"old")).as("ch"))
      else
        best.select($"id",
          coalesce($"newLabel", $"old").as("label"),
          ($"newLabel".isNotNull && $"newLabel" =!= $"old").as("ch"))
    }
    // Chunked iterations (guide §1.2; the Centrality.IterChunk rule,
    // bounded at 2 because the exit is DATA-DEPENDENT): two synchronous
    // unseeded updates compose into one barrier job, convergence
    // observed on the chunk's LAST update — valid because a fixpoint is
    // stable, so a mid-chunk fixpoint just makes the final update a no-op
    // with changed = 0. Seeded runs report the exact fixpoint iteration
    // and checkpointed runs keep one barrier per iteration.
    val out = iterate(labels0, startIter, cfg.maxIter,
        chunk = if (seeded || ck.isDefined) 1 else 2,
        metrics = Seq(
          coalesce(sum(when($"ch", 1L).otherwise(0L)), lit(0L)).as("changed")),
        stop = (_, o) => o("changed").asInstanceOf[Long] == 0L,
        onRound = r => ck.foreach(_.record(r, labelsOf(r.state),
          adj.filter($"src" =!= $"dst"), Map("runId" -> cfg.runId),
          verticesActive = r.obs("changed").asInstanceOf[Long]))) {
      (state, _, _) => step(labelsOf(state))
    }
    val labels = labelsOf(out.state)
    Result(if (seeded) labels.filter($"label".isNotNull).select($"id", $"label") else labels,
      out.iter, out.stopped)
  }
}
