package graft.operators

import org.apache.spark.sql.GraftLineage._
import org.apache.spark.sql.GraftLineage
import graft.graph.{Edge, GraphIO, SuperstepMetrics}
import graft.plans.CheckpointManager
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
    val canonW = weighted
      .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"),
        $"weight")
      .filter($"src" =!= $"dst")
      .groupBy($"src", $"dst").agg(sum($"weight").as("weight"))
    // materialized once — the adjacency and vertex-set consumers each
    // re-ran the weighted derivation before
    val bidirW = GraftLineage.barrier(
      canonW.select(explode(array(
          struct($"src".as("src"), $"dst".as("dst"), $"weight"),
          struct($"dst".as("src"), $"src".as("dst"), $"weight"))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"), $"e.weight".as("weight")))
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
    // see graft.plans.Adaptive; at scale the rekey is a no-op): the row
    // count rides the adjacency materialization as an observed metric.
    val (bidir1, bObs) = barrierObserved(
      bidirRaw.repartition(spark.sessionState.conf.numShufflePartitions,
        $"src"),
      count(lit(1)).as("n"))
    val (bidir, _) = graft.plans.Adaptive.rekey(bidir1,
      Option(bObs("n")).map(_.asInstanceOf[Long]).getOrElse(0L), Seq($"src"))
    val verts = vertsRaw
      .union(extraVertices.map(_.toDF("id")).getOrElse(spark.emptyDataset[Long].toDF("id")))
      .distinct()
      .cutLineage()

    val labels0 = verts.select($"id", $"id".as("label")).cutLineage()
    GraftLineage.release(verts)
    loop(spark, bidir, labels0, startIter = 0, cfg, bidirStep0 = None)
  }

  /** Continue a run from durable state written by [[Config.checkpointDir]]
    * (`cfg.maxIter` counts TOTAL iterations across both runs, like the
    * CC/PageRank resumes). */
  def resume(spark: org.apache.spark.sql.SparkSession,
             checkpointDir: String, cfg: Config = Config()): Result = {
    import spark.implicits._
    val ck = new CheckpointManager(spark, checkpointDir)
    val step = ck.latestStep().getOrElse(
      throw new IllegalStateException(s"no checkpoint under $checkpointDir"))
    val meta = ck.meta(step)
    val algo = meta.getOrElse("algo", "")
    if (algo != "lpa")
      throw new IllegalStateException(
        s"not an lpa checkpoint under $checkpointDir (algo='$algo')")
    val p = spark.sessionState.conf.numShufflePartitions
    val bidirStep = meta("bidirStep").toInt
    val bidir = ck.load(bidirStep, "bidir").repartition(p, $"src").cutLineage()
    val labels = GraftLineage.barrier(ck.load(step, "labels").repartition(p, $"id"))
    loop(spark, bidir, labels, meta("iter").toInt,
      cfg.copy(checkpointDir = Some(checkpointDir)), Some(bidirStep))
  }

  /** The propagation loop proper, resumable at any iteration boundary:
    * state is (label frame, iteration). */
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
    val (bidir1, bObs) = barrierObserved(
      GraphIO.bidirectional(canon).toDF()
        .repartition(spark.sessionState.conf.numShufflePartitions, $"src"),
      count(lit(1)).as("n"))
    val (bidir, _) = graft.plans.Adaptive.rekey(bidir1,
      Option(bObs("n")).map(_.asInstanceOf[Long]).getOrElse(0L), Seq($"src"))
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
    seededLoop(spark, bidir, labels0, startIter = 0, cfg, bidirStep0 = None)
  }

  /** Continue a [[runSeeded]] run from durable state written by
    * [[Config.checkpointDir]] (same contract as the other resumes:
    * `cfg.maxIter` counts TOTAL iterations). All-integer state → the
    * resumed trajectory is EXACTLY the uninterrupted one. */
  def resumeSeeded(spark: org.apache.spark.sql.SparkSession,
                   checkpointDir: String, cfg: Config = Config()): Result = {
    import spark.implicits._
    val ck = new CheckpointManager(spark, checkpointDir)
    val step = ck.latestStep().getOrElse(
      throw new IllegalStateException(s"no checkpoint under $checkpointDir"))
    val meta = ck.meta(step)
    val algo = meta.getOrElse("algo", "")
    if (algo != "lpa_seeded")
      throw new IllegalStateException(
        s"not an lpa_seeded checkpoint under $checkpointDir (algo='$algo')")
    val p = spark.sessionState.conf.numShufflePartitions
    val bidirStep = meta("bidirStep").toInt
    val bidir = ck.load(bidirStep, "bidir").repartition(p, $"src").cutLineage()
    val labels = GraftLineage.barrier(ck.load(step, "labels").repartition(p, $"id"))
    seededLoop(spark, bidir, labels, meta("iter").toInt,
      cfg.copy(checkpointDir = Some(checkpointDir)), Some(bidirStep))
  }

  private def seededLoop(spark: org.apache.spark.sql.SparkSession,
                         bidir: DataFrame, labels0: DataFrame, startIter: Int,
                         cfg: Config, bidirStep0: Option[Int]): Result = {
    import spark.implicits._
    val ck = cfg.checkpointDir.map(new CheckpointManager(spark, _))
    var bidirStep = bidirStep0
    var labels = labels0
    var iter = startIter
    var changed = 1L
    while (iter < cfg.maxIter && changed > 0) {
      val t0 = System.nanoTime()
      val nbrCounts = bidir.as("e")
        .join(labels.filter($"label".isNotNull).as("l"), $"e.src" === $"l.id")
        .groupBy($"e.dst".as("id"), $"l.label".as("nl"))
        .agg(count(lit(1)).as("c"))
      val best = nbrCounts
        .groupBy($"id")
        .agg(max(struct($"c", (-$"nl").as("negl"))).as("m"))
        .select($"id", (-$"m.negl").as("newLabel"))
      val newLabels = labels.as("l")
        .join(best.as("b"), Seq("id"), "left")
        .select($"id",
          when($"seed", $"label").otherwise(coalesce($"newLabel", $"label"))
            .as("label"),
          $"seed",
          (!$"seed" && $"newLabel".isNotNull &&
            ($"label".isNull || $"newLabel" =!= $"label")).as("ch"))
      val (next, m) = barrierObserved(newLabels,
        coalesce(sum(when($"ch", 1L).otherwise(0L)), lit(0L)).as("changed"))
      changed = m("changed").asInstanceOf[Long]
      GraftLineage.release(labels)
      labels = next.select($"id", $"label", $"seed")
      iter += 1
      ck.foreach { c =>
        c.appendMetrics(Seq(SuperstepMetrics(cfg.runId, "lpa_seeded", iter,
          0L, 0L, changed, 0, (System.nanoTime() - t0) / 1000000)))
        val willContinue = iter < cfg.maxIter && changed > 0
        if (iter % cfg.checkpointEvery == 0 && willContinue) {
          // full state (unlabeled rows + seed flags included); static
          // adjacency written once, at the first snapshot
          val tables = Map("labels" -> labels) ++
            (if (bidirStep.isEmpty) Map("bidir" -> bidir) else Map.empty)
          if (bidirStep.isEmpty) bidirStep = Some(iter)
          c.save(iter, tables, Map(
            "algo" -> "lpa_seeded", "runId" -> cfg.runId,
            "iter" -> iter.toString, "bidirStep" -> bidirStep.get.toString))
        }
      }
    }
    GraftLineage.release(bidir)
    Result(labels.filter($"label".isNotNull).select($"id", $"label"),
      iter, changed == 0)
  }

  private def loop(spark: org.apache.spark.sql.SparkSession,
                   bidir: DataFrame, labels0: DataFrame, startIter: Int,
                   cfg: Config, bidirStep0: Option[Int]): Result = {
    import spark.implicits._
    val ck = cfg.checkpointDir.map(new CheckpointManager(spark, _))
    var bidirStep = bidirStep0
    var labels = labels0
    var iter = startIter
    var changed = 1L

    // Chunked iterations (guide §1.2; the Centrality.IterChunk rule,
    // bounded at 2 because the exit is DATA-DEPENDENT): two synchronous
    // updates compose into one barrier job, convergence observed on the
    // chunk's LAST update — valid because a fixpoint is stable, so a
    // mid-chunk fixpoint just makes the final update a no-op with
    // changed = 0. Checkpointed runs keep one barrier per iteration.
    val chunk = if (ck.isDefined) 1 else 2
    while (iter < cfg.maxIter && changed > 0) {
      val t0 = System.nanoTime()
      val steps = math.min(chunk, cfg.maxIter - iter)
      var cur = labels
      var newLabels: DataFrame = null
      var s = 0
      while (s < steps) {
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
        newLabels = cur.as("l")
          .join(best.as("b"), Seq("id"), "left")
          .select($"id",
            coalesce($"newLabel", $"label").as("label"),
            ($"newLabel".isNotNull && $"newLabel" =!= $"label").as("ch"))
        cur = newLabels.select($"id", $"label")
        s += 1
      }
      // ONE job: materialize the new labels while observing how many
      // vertices changed (the convergence signal).
      val (next, m) = barrierObserved(newLabels,
        coalesce(sum(when($"ch", 1L).otherwise(0L)), lit(0L)).as("changed"))
      changed = m("changed").asInstanceOf[Long]
      GraftLineage.release(labels)
      labels = next.select($"id", $"label")
      iter += steps
      ck.foreach { c =>
        c.appendMetrics(Seq(SuperstepMetrics(cfg.runId, "lpa", iter,
          0L, 0L, changed, 0, (System.nanoTime() - t0) / 1000000)))
        val willContinue = iter < cfg.maxIter && changed > 0
        if (iter % cfg.checkpointEvery == 0 && willContinue) {
          // static adjacency written once, at the first snapshot
          val tables = Map("labels" -> labels) ++
            (if (bidirStep.isEmpty) Map("bidir" -> bidir) else Map.empty)
          if (bidirStep.isEmpty) bidirStep = Some(iter)
          c.save(iter, tables, Map(
            "algo" -> "lpa", "runId" -> cfg.runId,
            "iter" -> iter.toString, "bidirStep" -> bidirStep.get.toString))
        }
      }
    }
    GraftLineage.release(bidir)
    Result(labels, iter, changed == 0)
  }
}
