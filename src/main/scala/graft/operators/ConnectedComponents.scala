package graft.operators

import org.apache.spark.sql.GraftLineage._
import graft.graph.{Edge, GraphIO, SuperstepMetrics, UnionFind, VertexLabel}
import graft.plans.CheckpointManager
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Distributed connected components over a `Dataset[Edge]`.
  *
  * Canonical output (SURVEY.md §3.5): `label(v) = max vertex id in v's
  * component` — byte-exact vs the reference's deterministic hook-to-max
  * fixpoint (`CSE613-MPI/mpi_parallel_cc_utils.cpp:25-35`).
  *
  * Four strategies, all producing identical canonical labels:
  *
  *  - [[CCStrategy.HookAndContract]] — the reference algorithm re-expressed
  *    as Dataset relational ops: hook-to-max = groupBy(src).agg(max(dst))
  *    (partial+final hash agg ≙ local hook + MPI_MAX reduce,
  *    `my_MPI_cc.cpp:193,196`), pointer jumping = iterated self-join with
  *    path doubling (`mpi_parallel_cc_utils.cpp:37-55`) over a
  *    frontier-split map (only unresolved rows are probed AND
  *    re-materialized per jump; resolved segments merge once at the
  *    fixpoint), edge contraction = relabel join + cross-component filter
  *    + normalize (`mpi_parallel_cc_utils.cpp:57-76`).
  *  - [[CCStrategy.AlternatingStar]] — small-star/large-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC 2014), the standard Dataset-join CC named by the north star.
  *  - [[CCStrategy.SampledContraction]] — communication-avoiding sampled
  *    contraction (PPoPP 2018 semantics, `SparseSampling.hpp:53-93`):
  *    per round sample a bounded edge subset, union-find it on the driver,
  *    broadcast the contraction map.
  *  - [[CCStrategy.RandomizedHook]] — coin-toss child hooking
  *    (random-mate, `randomized_OPENMP_cc.cpp:164-201`): tails hook to a
  *    heads neighbor, a depth-1 forest with no pointer jumping.
  *
  * Scale design: relabel maps after round 1 are orders of magnitude smaller
  * than the edge set, so relabel joins broadcast once the map fits
  * (`broadcastRows` threshold); before that they are shuffle joins under
  * AQE skew handling. The hook aggregation needs no salting: Spark's
  * partial (map-side) aggregation already collapses hot src keys per
  * partition before the shuffle. Lineage is cut every round with eager
  * `localCheckpoint`; durable parquet checkpoints + manifest every
  * `checkpointEvery` rounds make runs resumable mid-iteration.
  */
object ConnectedComponents {

  /** `name` is the strategy's CLI name (`CCRun`, `Bench`); `tag` is the
    * `algo` of its metrics rows and checkpoint manifests, which
    * [[resume]] dispatches on. */
  sealed abstract class CCStrategy(val name: String, val tag: String)
  object CCStrategy {
    case object HookAndContract extends CCStrategy("hook", "cc-hook")
    case object AlternatingStar extends CCStrategy("star", "cc-star")
    case object SampledContraction extends CCStrategy("sampled", "cc-sampled")
    /** G5 — coin-toss child hooking (random-mate), the randomized OpenMP
      * variant (`randomized_OPENMP_cc.cpp:164-201`), derandomized: the
      * per-round "coin" is `xxhash64(seed, round, id)`, so runs are
      * reproducible at any parallelism. */
    case object RandomizedHook extends CCStrategy("random", "cc-random")

    val all: Seq[CCStrategy] =
      Seq(HookAndContract, AlternatingStar, SampledContraction, RandomizedHook)
    /** `hook|star|sampled|random`, for usage texts. */
    val names: String = all.map(_.name).mkString("|")
    def named(name: String): Option[CCStrategy] = all.find(_.name == name)
  }

  final case class Config(
      strategy: CCStrategy = CCStrategy.HookAndContract,
      maxRounds: Int = 200,
      /** relabel maps at or below this row count are broadcast. */
      broadcastRows: Long = 1L * 1000 * 1000,
      /** durable checkpoint cadence (rounds); None = no durable ckpt. */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      runId: String = "cc",
      /** PPoPP sampling params: sample ≤ n^(1+eps/2) * (1+delta), hard cap. */
      sampleEps: Double = 0.09,
      sampleDelta: Double = 0.2,
      sampleHardCap: Long = 5L * 1000 * 1000,
      seed: Long = 17L,
      /** Per-partition union-find pre-contraction before each hook round
        * (reference analogue: master-local prefix CC,
        * `SparseSampling.hpp:275-313`, distributed to every partition)
        * replaces each partition's subgraph by its spanning star forest —
        * connectivity-preserving, collapses local path depth to 1, so
        * pointer jumping needs O(1) jumps instead of O(log diameter).
        * It runs in chunks of `preContractCap / 2` edges, each chunk's
        * union-find holding at most this many vertices: the cap bounds each
        * task's memory deterministically (~40 MB at 250k); edges past
        * the cap pass through unchanged (still correct — just contracts
        * less). ~70 B/vertex of LongMap state → 1 M ≈ 70 MB per task,
        * ≈ 2.2 GB at 32 concurrent tasks — fits the 8 GiB sandbox heap
        * and typical executor task memory. Raising 250k → 1M cut the
        * 16 M-edge suite from 3 supersteps to 2 and beat the old cap at
        * every parallelism measured (local[2/8/32]); size to
        * taskMemory / ~70 B on real executors. 2 makes one-edge chunks:
        * the hook then sees each edge plus a (dst, dst) row, i.e. plain
        * hook-to-max with no contraction ahead of it. */
      preContractCap: Int = 1000000,
      /** Pointer-jump frontiers at or below this row count never shuffle.
        * The label function f has a row for every label a frontier row can
        * hold, so a jump is an INNER join: the frontier is the broadcast
        * build side and the lookup union streams past it (one broadcast
        * job per jump). The lookup shuffle was the round-5 Amdahl
        * decomposition's non-scaling floor (~8 M rows re-shuffled per
        * jump at the same ~4 s at 2 AND 8 threads), and a 7-row tail
        * frontier never pays a shuffle of a multi-million-row map.
        * Frontiers above the threshold (early jumps, frontier ≈ f) take a
        * plain shuffle-hash join. NOTE the lookup must be the FULL union of resolved
        * segments and frontier — restricting it to the previous jump's
        * output is semantically wrong (a frontier label can reference a
        * segment resolved at ANY earlier jump: on a 9-chain, vertex 4's
        * jump-3 label 8 lives in jump-1's done segment). 0 makes every
        * jump shuffle.
        * Default 3 M rows: a hashed long-relation costs ~40 B/row, so
        * each build side stays ≈120 MB — comfortably inside the 8 GiB
        * single-JVM heap AND typical executor task memory, where the
        * old 6 M default could spike to ~240 MB per concurrent build
        * near the threshold (ADVICE r06). */
      broadcastRefsRows: Long = 3000000L,
      /** Tail rounds at or below this edge count finish on the driver:
        * collect the contracted edges, union-find them locally
        * (reference analogue: master-local prefix CC,
        * `SparseSampling.hpp:275-313` — the same bounded-collect shape
        * as the sampled strategy), compose the mapping with ONE
        * broadcast join. After round 0 the edge set typically shrinks
        * 2-3 orders of magnitude, but a distributed tail round still
        * costs the same ~6 constant-time driver jobs as a full round —
        * the measured serial floor of the strong-scaling gate. Never
        * applied to the FIRST round (the distributed path must do the
        * heavy lifting; also keeps small-graph tests exercising the
        * full machinery). 0 disables. */
      driverFinishEdges: Long = 2L * 1000 * 1000)

  /** `components`: the distinct-label count, observed for free inside the
    * FINAL mapping materialization when the strategy's labels are already
    * canonical there (hook, sampled): canonical max labels mean
    * `components = count(id == label)`, so the separate `countDistinct`
    * action [[componentCount]] would otherwise pay per run is folded into
    * a job that already exists. `None` for strategies whose
    * canonicalization is composed lazily after the loop (star, random). */
  final case class Result(labels: Dataset[VertexLabel], metrics: Seq[SuperstepMetrics],
                          components: Option[Long] = None)

  /** Observation: #rows with id == label — on a canonical-max label table
    * this IS the component count (each component contains exactly one
    * vertex labeled with itself: its max). */
  private def rootsMetric =
    coalesce(sum(when(col("id") === col("label"), 1L)), lit(0L)).as("roots")

  /** CC of `edges` (+ optional isolated vertices). Input edges may be
    * dirty: self-loops, duplicates, arbitrary orientation — loader
    * semantics of the reference are applied here (P1/P3 + dedup). */
  def run(edges: Dataset[Edge],
          extraVertices: Option[Dataset[Long]] = None,
          cfg: Config = Config()): Result = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Normalize + drop self-loops (P1/P3, narrow); duplicates are KEPT
    // here, exactly like the reference loaders — every strategy tolerates
    // them (hook pre-contraction and the per-step distinct()s dedup
    // structurally), and skipping the up-front distinct() saves a full
    // shuffle+materialization of the largest table in the whole job.
    val cleanedLazy = GraphIO.normalize(edges)
      .filter(col("src") =!= col("dst")).as[Edge]
    cfg.strategy match {
      // The hook path never materializes the cleaned input: round 0's
      // pre-contraction reads it lazily, in its range layout, and counts
      // it in the same job.
      case CCStrategy.HookAndContract =>
        hookAndContract(cleanedLazy, None, cfg, extraVertices = extraVertices)
      case strategy =>
        // Every other strategy starts from ONE materialization of the
        // cleaned input, re-materializes it canonical and leaves this
        // barrier to run().
        val cleaned = barrier(cleanedLazy.toDF()).as[Edge]
        val verts = GraphIO.vertices(cleaned).toDF("id")
          .union(extraVertices.map(_.toDF("id")).getOrElse(spark.emptyDataset[Long].toDF("id")))
          .distinct()
        val out = from(strategy, GraphIO.canonical(cleaned),
          verts.select($"id", $"id".as("label")), cfg, startRound = 0)
        cleaned.releaseLineage()
        out
    }
  }

  /** Resume a run from its latest durable checkpoint. The manifest's
    * `algo` field dispatches to the strategy that wrote it — every
    * strategy checkpoints the same (edges, mapping) state shape, so all
    * four are resumable. Resumed rounds are numbered from step+1 (a
    * metrics label; convergence is driven by the edge count, and the
    * randomized strategy's per-round coin seed only needs rounds to be
    * distinct, not contiguous). */
  def resume(spark: SparkSession, checkpointDir: String, cfg: Config): Result = {
    import spark.implicits._
    val ck = new CheckpointManager(spark, checkpointDir)
    val step = ck.latestStep().getOrElse(
      throw new IllegalStateException(s"no checkpoint under $checkpointDir"))
    val algo = ck.meta(step).getOrElse("algo", CCStrategy.HookAndContract.tag)
    val strategy = CCStrategy.all.find(_.tag == algo).getOrElse(
      throw new IllegalStateException(s"unknown checkpoint algo '$algo' under $checkpointDir"))
    from(strategy, ck.load(step, "edges").as[Edge], ck.load(step, "mapping"),
      cfg.copy(checkpointDir = Some(checkpointDir)), startRound = step + 1)
  }

  /** Runs `strategy` from an (edges, mapping) state: the canonical
    * cleaned input and the identity mapping, or a checkpoint's. */
  private def from(strategy: CCStrategy, edges: Dataset[Edge], mapping: DataFrame,
                   cfg: Config, startRound: Int): Result = strategy match {
    case CCStrategy.HookAndContract    => hookAndContract(edges, Some(mapping), cfg, startRound)
    case CCStrategy.AlternatingStar    => alternatingStar(edges, mapping, cfg, startRound)
    case CCStrategy.SampledContraction => sampledContraction(edges, mapping, cfg, startRound)
    case CCStrategy.RandomizedHook     => randomizedHook(edges, mapping, cfg, startRound)
  }

  /** One run's round bookkeeping, shared by the four strategies: each
    * closed round's metrics row, kept for the [[Result]] and appended to
    * the durable metrics table (§4.5), and the (edges, mapping)
    * checkpoint every `checkpointEvery` rounds and after the last. */
  private final class Ledger(spark: SparkSession, strategy: CCStrategy, cfg: Config) {
    private val metrics = ArrayBuffer.empty[SuperstepMetrics]
    private val ck = cfg.checkpointDir.map(new CheckpointManager(spark, _))

    /** Closes `round`, begun at `t0` (`System.nanoTime`); `edges` and
      * `mapping` are the state the next round starts from, `done` says
      * the loop ends after this round. */
    def close(round: Int, t0: Long, edgesIn: Long, edgesOut: Long,
              edges: DataFrame, mapping: DataFrame, done: Boolean,
              verticesActive: Long = -1L, pointerJumps: Int = 0): Unit = {
      val m = SuperstepMetrics(cfg.runId, strategy.tag, round, edgesIn, edgesOut,
        verticesActive, pointerJumps, (System.nanoTime() - t0) / 1000000)
      metrics += m
      ck.foreach { c =>
        c.appendMetrics(Seq(m))
        if ((round + 1) % cfg.checkpointEvery == 0 || done)
          c.save(round + 1, Map("edges" -> edges, "mapping" -> mapping),
            Map("algo" -> strategy.tag, "edgeCount" -> edgesOut.toString,
                "runId" -> cfg.runId))
      }
    }

    def result(labels: DataFrame, components: Option[Long]): Result = {
      import spark.implicits._
      Result(labels.select($"id", $"label").as[VertexLabel], metrics.toSeq, components)
    }
  }

  // ---------------------------------------------------------------------
  // Strategy 1: hook-to-max + pointer jumping + contraction (reference).
  // Two entries:
  //  - `mapping0 = None` (fresh run): `edges0` is the LAZY cleaned input.
  //    Round 0's pre-contraction reads it once, in range layout, and
  //    counts it in the same job. Its f covers every edge vertex with
  //    canonical max labels, so f (∪ `extraVertices`) IS the first
  //    mapping: no vertex-set distinct, no composition join. The input
  //    plan may reach the caller's own barriers (a release walks every
  //    checkpointed RDD in a plan), so the loop never releases it.
  //  - `mapping0 = Some(m)` (resume): the loop consumes `edges0`, a
  //    barrier released once round 0 has read it, and every round
  //    composes the mapping with its label function f. `m` stays the
  //    caller's, so the loop never releases it.
  // ---------------------------------------------------------------------
  private def hookAndContract(
      edges0: Dataset[Edge], mapping0: Option[DataFrame], cfg: Config,
      startRound: Int = 0, extraVertices: Option[Dataset[Long]] = None): Result = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ledger = new Ledger(spark, CCStrategy.HookAndContract, cfg)
    val fresh = mapping0.isEmpty
    val start = System.nanoTime()

    // Range-partition the edge table by (src, dst) once (CSR-style
    // adjacency layout, per the north star): graphs with id locality
    // (chains, web graphs, co-occurrence ids) then contract well
    // per-partition. The upstream dedup's hash shuffle scatters structure
    // randomly — without this, round-0 pre-contraction finds only
    // fragments and pointer jumping pays the full graph diameter
    // (observed: 22 jumps vs 6). (src, dst), not src alone, so a
    // single-hub star spreads across partitions instead of forming one
    // straggler task. A fresh run leaves the ranged input lazy: round 0's
    // pre-contraction is its only reader, and materializing it would cost
    // one more full pass over the largest table in the job.
    val p = spark.sessionState.conf.numShufflePartitions
    val ranged = edges0.toDF().repartitionByRange(p, $"src", $"dst")
      .sortWithinPartitions($"src", $"dst") // CSR layout: chunks see contiguous segments
    var edges = if (fresh) ranged else ranged.cutLineage()
    var mapping = mapping0
    var round = startRound
    // A fresh run counts its input edges under the pre-contraction kernel,
    // inside round 0's pre-contraction job.
    var preContracted: Option[DataFrame] = None
    var edgeCount =
      if (!fresh) edges.count()
      else {
        val obs = Observation()
        preContracted = Some(preContract(edges.observe(obs, count(lit(1)).as("n")), cfg))
        obs.get("n").asInstanceOf[Long]
      }
    // roots observed in each round's mapping materialization; at loop
    // exit the last value IS the component count (labels final there)
    var lastRoots: Option[Long] = None

    while (edgeCount > 0 && round < cfg.maxRounds) {
      // Driver tail finish (G8): collect the small contracted remainder,
      // union-find it locally, compose the mapping in one broadcast
      // join. A distributed tail round costs ~6 constant-time driver
      // jobs for a vanishing amount of data; this costs two.
      if (round > startRound && cfg.driverFinishEdges > 0 &&
          edgeCount <= cfg.driverFinishEdges) {
        val t0 = System.nanoTime()
        val pairs = edges.select($"src", $"dst").as[(Long, Long)].collect()
        val cc = UnionFind.components(pairs.iterator)
        val mapRows = cc.iterator.filter { case (v, r) => v != r }.toSeq
        // the relabel map can approach 2×driverFinishEdges rows; only
        // force-broadcast it when it is inside the configured broadcast
        // class — past that, fall back to a shuffle join rather than
        // bypassing autoBroadcastJoinThreshold with a ~100 MB relation
        val mapDf = bcIfSmall(
          spark.createDataset(mapRows).toDF("old", "new"), mapRows.size.toLong, cfg)
        val prevMapping = mapping.get // round 0 has built it by now
        val newMapping = prevMapping.as("m")
          .join(mapDf.as("f"), $"m.label" === $"f.old", "left")
          .select($"m.id".as("id"), coalesce($"f.new", $"m.label").as("label"))
        val (mappedDf, mm) = barrierObserved(newMapping, rootsMetric)
        mapping = Some(mappedDf)
        lastRoots = Option(mm("roots")).map(_.asInstanceOf[Long])
        prevMapping.releaseLineage(); edges.releaseLineage()
        edges = spark.emptyDataset[Edge].toDF()
        ledger.close(round, t0, edgeCount, 0L, edges, mappedDf, done = true)
        edgeCount = 0
        round += 1
      } else {
      // a fresh run's round 0 also times its input pass
      val t0 = if (round == startRound) start else System.nanoTime()

      val hookInput = preContracted.getOrElse(preContract(edges, cfg))
      preContracted = None

      // G2 hook-to-max: each src hooks to its largest (normalized) neighbor.
      // Partial+final hash aggregation reproduces local-hook + MPI_MAX
      // reduce; no salting needed (map-side combine absorbs src skew).
      // f has a row for EVERY vertex of the round and a root is an
      // identity row: pre-contraction emits (rep, rep) for each chunk max.
      // Row and root counts ride the same job: |f| = |hooked| (each row
      // resolves exactly once) and f's roots are hooked's identity rows
      // (labels only grow along a path).
      val (hooked, hm) = barrierObserved(
        hookInput.groupBy($"src".as("id")).agg(max($"dst").as("label")),
        count(lit(1)).as("n"), rootsMetric)
      val fRows = Option(hm("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
      val fRoots = Option(hm("roots")).map(_.asInstanceOf[Long]).getOrElse(0L)

      // G3 pointer jumping with path doubling: f := f ∘ f until fixpoint.
      // Hard-won rules in this loop:
      //  - cutLineage (not persist) per jump: the self-join doubles the
      //    LOGICAL plan (and the size-estimation BigInts) every jump —
      //    persist caches data but keeps lineage, and Catalyst's stats /
      //    plan-string work alone OOMs by jump ~19.
      //  - never broadcast all of f (each broadcast pins its copy until
      //    round end) and never route a jump through the driver: a
      //    collected frontier re-enters as a LocalRelation whose rows
      //    every later plan's optimizer rules walk again. Each jump is
      //    one Catalyst join materialized by its barrier — broadcast
      //    when the frontier is at most `broadcastRefsRows` rows
      //    (build side = the frontier), shuffle-hash above.
      //  - frontier split: a row is `done` once its label is a root (an
      //    identity row) or points at a done row. Each jump probes AND
      //    materializes only the shrinking undone frontier; resolved rows
      //    stay behind in their jump's barrier (per-jump checkpoint
      //    volume tracks the frontier, not |f| — measured 13M vs 30M rows
      //    across a 16M-edge round 0).
      //    The lookup side must remain ALL of f (frontier labels can
      //    point at any row): a union of the done segments + frontier.
      var frontier = hooked.filter($"label" =!= $"id")
      var doneParts = List(hooked.filter($"label" === $"id")) // the roots
      val jumpBarriers = scala.collection.mutable.ArrayBuffer[DataFrame](hooked)
      var jumps = 0
      var undone = fRows - fRoots
      while (undone > 0) {
        val lookup = (doneParts.map(_.withColumn("done", lit(true))) :+
            frontier.select($"id", $"label", lit(false).as("done")))
          .reduce(_ union _)
        // f has a row for every label, so each frontier row finds exactly
        // one lookup row (inner join). Small frontiers are the broadcast
        // build side and the lookup streams past them — one broadcast per
        // jump; coalesce keeps the growing union of done segments at ≤ p
        // partitions. Large frontiers take a shuffle-hash join.
        val (a, b) =
          if (undone <= cfg.broadcastRefsRows) (broadcast(frontier), lookup.coalesce(p))
          else (frontier, lookup.hint("shuffle_hash"))
        val joined = a.as("a").join(b.as("b"), $"a.label" === $"b.id")
          .select($"a.id".as("id"), $"b.label".as("label"), $"b.done".as("done"))
        val (next, m) = barrierObserved(joined,
          sum(when(!$"done", 1L).otherwise(0L)).as("undone"))
        undone = Option(m("undone")).map(_.asInstanceOf[Long]).getOrElse(0L)
        // next holds every frontier row (resolved + still-undone); the
        // barriers of earlier jumps still back doneParts until the merge
        jumpBarriers += next
        doneParts ::= next.filter($"done").select($"id", $"label")
        frontier = next.filter(!$"done").select($"id", $"label")
        jumps += 1
      }
      // fixpoint: frontier is empty (the round has edges, so at least one
      // jump ran); f = disjoint union of the roots and the resolved
      // segments, materialized ONCE into a compact barrier — contraction
      // and mapping each scan f twice, and joining against the lazy
      // union-of-filters was measured 3× slower than against one barrier.
      // Every per-jump barrier is superseded by it — free their blocks
      // NOW, before the contraction joins need the memory (keeping them
      // pinned through the sort-merge was a measured 2× contraction
      // slowdown on the 8g heap); blocking: the point is that the memory
      // is back before the join starts. coalesce: the union has a
      // partition set per jump segment, and a fresh run's f becomes the
      // mapping every later round (and checkpoint) inherits.
      val f = barrier(doneParts.reduce(_ union _).coalesce(p))
      jumpBarriers.foreach(_.releaseLineage(blocking = true))

      // G4 contraction: relabel endpoints through f, drop intra-component
      // edges (P2), normalize (P3), dedup (safe for CC). Contracts the
      // (connectivity-equivalent, ≤min(m,n)-edge) pre-contracted forest,
      // not the full edge set — same components, O(n) relabel volume.
      // f has a row for both endpoints of every edge: inner joins.
      val fB = bcIfSmall(f, fRows, cfg)
      val contracted = hookInput.filter($"src" =!= $"dst").as("e")
        .join(fB.as("fs"), $"e.src" === $"fs.id")
        .join(fB.as("fd"), $"e.dst" === $"fd.id")
        .select($"fs.label".as("u"), $"fd.label".as("v"))
        .filter($"u" =!= $"v")
        .select(least($"u", $"v").as("src"), greatest($"u", $"v").as("dst"))
        .distinct()
      val (newEdges, cm) = barrierObserved(contracted, count(lit(1)).as("n"))

      val prevMapping = mapping
      val (newMapping, roots) = (mapping, extraVertices) match {
        // G6 forward map composition (no recursion stack): orig → new rep.
        case (Some(m), _) =>
          val (md, mm) = barrierObserved(m.as("m")
            .join(fB.as("f"), $"m.label" === $"f.id", "left")
            .select($"m.id".as("id"), coalesce($"f.label", $"m.label").as("label")),
            rootsMetric)
          (md, Option(mm("roots")).map(_.asInstanceOf[Long]))
        // fresh round 0: f already maps every edge vertex to its
        // component max among this round's edges — the first mapping
        case (None, None) => (f, Some(fRoots))
        // an extra vertex keeps its edge label if it has one (labels are
        // maxima, so max picks it), else it labels itself
        case (None, Some(x)) =>
          val (md, mm) = barrierObserved(
            f.union(x.toDF("id").select($"id", $"id".as("label")))
              .groupBy($"id").agg(max($"label").as("label")),
            rootsMetric)
          (md, Option(mm("roots")).map(_.asInstanceOf[Long]))
      }
      val prevEdges = edges
      edges = newEdges
      val newCount = Option(cm("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
      mapping = Some(newMapping)
      lastRoots = roots
      if (!(newMapping eq f)) f.releaseLineage()
      if (!fresh || round > startRound) prevEdges.releaseLineage()
      if (round > startRound) prevMapping.foreach(_.releaseLineage())
      hookInput.releaseLineage() // last read: contraction join

      ledger.close(round, t0, edgeCount, newCount, edges, newMapping,
        done = newCount == 0, pointerJumps = jumps)
      edgeCount = newCount
      round += 1
      } // end distributed round (vs driver tail finish)
    }
    require(edgeCount == 0,
      s"CC did not converge in ${cfg.maxRounds} rounds ($edgeCount edges left)")
    // Edge-free input: the loop never ran, every vertex is its own
    // component. The mapping is the identity over the vertex set — still
    // LAZY, so materialize it now — then free the round-0 input.
    val finalMapping = mapping match {
      case Some(m) if round > startRound => m
      case _ =>
        val identity = mapping.getOrElse(extraVertices.map(_.toDF("id").distinct())
          .getOrElse(spark.emptyDataset[Long].toDF("id")).select($"id", $"id".as("label")))
        val (md, mm) = barrierObserved(identity, rootsMetric)
        lastRoots = Option(mm("roots")).map(_.asInstanceOf[Long])
        if (fresh) preContracted.foreach(_.releaseLineage()) else edges.releaseLineage()
        md
    }
    ledger.result(finalMapping, lastRoots)
  }

  /** Per-partition union-find pre-contraction (reference analogue:
    * master-local prefix CC, `SparseSampling.hpp:275-313`, run on every
    * partition): each chunk's subgraph becomes its spanning star forest,
    * one row (v, rep) per chunk vertex with rep = its local component max
    * — (rep, rep) included, so a hook over the output covers every vertex.
    * Pure narrow transformation (no shuffle); the non-identity rows are
    * already normalized since rep = local max. Chunked so each union-find
    * holds ≤ cap vertices (bounded task memory at any partition size):
    * a block is contracted, the maps reset, and the next block begins.
    * Blocks glue via shared vertices in the global hook rounds.
    * Materialized (barrier) because it has TWO consumers per round — the
    * hook aggregation and the contraction relabel join; left lazy, the
    * per-partition union-find pass ran twice per round (a measured ~6 s
    * of the round-0 contraction's 12.7 s at local[8], 16 M edges). */
  private def preContract(edges: DataFrame, cfg: Config): DataFrame = {
    import edges.sparkSession.implicits._
    val chunkEdges = math.max(1, cfg.preContractCap / 2)
    barrier(edges.as[Edge].mapPartitions { it =>
      it.grouped(chunkEdges).flatMap { chunk =>
        val uf = new UnionFind
        chunk.foreach { e => uf.touch(e.src); uf.touch(e.dst); uf.union(e.src, e.dst) }
        val maxOf = scala.collection.mutable.LongMap.empty[Long]
        val all = uf.ids.toArray
        all.foreach { v =>
          val r = uf.find(v)
          maxOf(r) = math.max(maxOf.getOrElse(r, Long.MinValue), v)
        }
        all.iterator.map(v => Edge(v, maxOf(uf.find(v))))
      }
    }.toDF())
  }

  // ---------------------------------------------------------------------
  // Strategy 2: alternating small-star / large-star (SoCC 2014).
  // ---------------------------------------------------------------------
  private def alternatingStar(
      edges0: Dataset[Edge], mapping0: DataFrame, cfg: Config,
      startRound: Int = 0): Result = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ledger = new Ledger(spark, CCStrategy.AlternatingStar, cfg)

    // Edges kept canonical (src < dst) between steps. The loop state is
    // (edges, vertsAll); vertsAll never changes, so the checkpoint shape
    // matches the other strategies' (edges, mapping) and resume() can
    // reload it as mapping0.
    var edges = edges0.toDF().cutLineage()
    val vertsAll = mapping0.cutLineage()
    var sig = signature(edges)
    var round = startRound
    var converged = edges.isEmpty

    while (!converged && round < cfg.maxRounds) {
      val t0 = System.nanoTime()
      val cntIn = sig._1

      // Large-star: each u attaches its larger neighbors to
      // m(u) = min(N(u) ∪ {u}).
      val bidir = edges.union(edges.select($"dst".as("src"), $"src".as("dst")))
      val minN = bidir.groupBy($"src").agg(min($"dst").as("mn"))
        .select($"src".as("u"), least($"src", $"mn").as("m"))
      val ls = bidir.as("e")
        .join(minN.as("s"), $"e.src" === $"s.u")
        .filter($"e.dst" > $"e.src")
        .select($"s.m".as("src"), $"e.dst".as("dst"))
        .filter($"src" =!= $"dst")
        .distinct()
        .cutLineage()

      // Small-star: on (v < u) pairs keyed by u, attach N(u) ∪ {u} to
      // m(u) = min(N(u)) (all neighbors here are < u).
      val minS = ls.groupBy($"dst".as("u")).agg(min($"src").as("m"))
      // convergence signature observed INSIDE the materialization job —
      // the separate signature() agg was one extra full scan per round
      val (ss, sm) = barrierObserved(
        ls.as("e")
          .join(minS.as("s"), $"e.dst" === $"s.u")
          .select($"s.m".as("src"), $"e.src".as("dst"))
          .union(minS.select($"m".as("src"), $"u".as("dst")))
          .filter($"src" =!= $"dst")
          .distinct(),
        count(lit(1)).as("c"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h"))

      val newSig = (sm("c").asInstanceOf[Long], sm("h").asInstanceOf[Long])
      converged = newSig == sig
      edges.releaseLineage(); ls.releaseLineage()
      edges = ss
      sig = newSig
      ledger.close(round, t0, cntIn, newSig._1, edges, vertsAll, done = converged)
      round += 1
    }
    require(converged, s"alternating-star did not converge in ${cfg.maxRounds} rounds")

    // Fixpoint: every non-min vertex v has exactly the edge (min, v).
    // Map to canonical component-max labels.
    val starLabels = edges.select($"dst".as("id"), $"src".as("label"))
      .union(edges.select($"src".as("id"), $"src".as("label")).distinct())
    // vertices isolated from the star set (singletons) come from mapping0
    val full = vertsAll.as("m")
      .join(starLabels.as("s"), $"m.id" === $"s.id", "left")
      .select($"m.id".as("id"), coalesce($"s.label", $"m.id").as("label"))
    val rep = full.groupBy($"label").agg(max($"id").as("rep"))
    val out = full.as("l").join(rep.as("r"), $"l.label" === $"r.label")
      .select($"l.id".as("id"), $"r.rep".as("label"))
    ledger.result(out, None)
  }

  /** Cheap set signature for convergence detection: (count, hash-xor).
    * Both compared edge tables are deduplicated sets, so a 64-bit
    * xxhash XOR-fold is an order-independent, overflow-free fingerprint. */
  private def signature(edges: DataFrame): (Long, Long) = {
    val row = edges.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")).collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  // ---------------------------------------------------------------------
  // Strategy 3: PPoPP-2018-style sampled contraction.
  // ---------------------------------------------------------------------
  private def sampledContraction(
      edges0: Dataset[Edge], mapping0: DataFrame, cfg: Config,
      startRound: Int = 0): Result = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ledger = new Ledger(spark, CCStrategy.SampledContraction, cfg)

    // Round-6 fold: the edge count AND the round's active-vertex estimate
    // ride the edge materialization job itself as observed metrics —
    // round 5 paid one extra countDistinct aggregation (a full edge scan)
    // plus one count() action per round on top of it. nEst is the
    // distinct count of src ∪ dst: one HLL sketch per column, unioned, so
    // a vertex seen in both columns counts once (±2% typical). It only
    // sizes the sample bound, which already carries (1+delta)=1.2
    // headroom, and prefix CC is exact on ANY sample — sample size
    // affects round count, never correctness.
    val vertEst = hll_sketch_estimate(
      hll_union(hll_sketch_agg($"src"), hll_sketch_agg($"dst"))).as("n")
    val (edges00, m0) = barrierObserved(edges0.toDF(),
      count(lit(1)).as("c"), vertEst)
    var edges = edges00
    var mapping = mapping0.cutLineage()
    var round = startRound
    var edgeCount = Option(m0("c")).map(_.asInstanceOf[Long]).getOrElse(0L)
    var nEst = Option(m0("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
    var lastRoots: Option[Long] = None

    while (edgeCount > 0 && round < cfg.maxRounds) {
      val t0 = System.nanoTime()
      // Bound: n^(1+eps/2) * (1+delta) — `SparseSampling.hpp:117` with
      // eps=.09, delta=.2 (`SparseSampling.hpp:34-35`) — under a hard cap
      // so the driver collect stays bounded regardless of input.
      val bound = math.min(cfg.sampleHardCap.toDouble,
        math.pow(nEst.toDouble.max(2.0), 1.0 + cfg.sampleEps / 2.0) * (1.0 + cfg.sampleDelta))
      val k = math.max(1L, math.min(edgeCount, bound.toLong))
      def take(df: org.apache.spark.sql.DataFrame): Array[(Long, Long)] =
        df.limit(k.toInt).select($"src", $"dst").as[(Long, Long)].collect()
      // the Bernoulli pre-sample is often empty at small k; prefix CC is
      // exact on any sample, so fall back to the first k edges rather
      // than spend a superstep contracting nothing
      val sampled: Array[(Long, Long)] =
        if (k >= edgeCount) edges.select($"src", $"dst").as[(Long, Long)].collect()
        else Some(take(edges.sample(withReplacement = false,
            math.min(1.0, k.toDouble * 1.2 / edgeCount), cfg.seed + round)))
          .filter(_.nonEmpty).getOrElse(take(edges))

      // Driver-local prefix CC (≙ master-only union-find,
      // SparseSampling.hpp:275-313), canonical max labels.
      val cc = UnionFind.components(sampled.iterator)
      val mapRows = cc.iterator.filter { case (v, r) => v != r }
        .map { case (v, r) => (v, r) }.toSeq
      val mapDf = broadcast(spark.createDataset(mapRows).toDF("old", "new"))

      // G9: broadcast map, relabel, drop intra-component edges.
      val contracted = edges.as("e")
        .join(mapDf.as("ms"), $"e.src" === $"ms.old", "left")
        .join(mapDf.as("md"), $"e.dst" === $"md.old", "left")
        .select(coalesce($"ms.new", $"e.src").as("u"),
                coalesce($"md.new", $"e.dst").as("v"))
        .filter($"u" =!= $"v")
        .select(least($"u", $"v").as("src"), greatest($"u", $"v").as("dst"))
        .distinct()

      val newMapping = mapping.as("m")
        .join(mapDf.as("f"), $"m.label" === $"f.old", "left")
        .select($"m.id".as("id"), coalesce($"f.new", $"m.label").as("label"))

      val prevEdges = edges; val prevMapping = mapping
      // next round's count + vertex estimate observed in THIS round's
      // contraction materialization — no separate count()/agg jobs
      val (contractedB, cm) = barrierObserved(contracted,
        count(lit(1)).as("c"), vertEst)
      edges = contractedB
      val (mappedDf, mm) = barrierObserved(newMapping, rootsMetric)
      mapping = mappedDf
      lastRoots = Option(mm("roots")).map(_.asInstanceOf[Long])
      val newCount = Option(cm("c")).map(_.asInstanceOf[Long]).getOrElse(0L)
      prevEdges.releaseLineage(); prevMapping.releaseLineage()

      ledger.close(round, t0, edgeCount, newCount, edges, mapping,
        done = newCount == 0, verticesActive = nEst)
      edgeCount = newCount
      nEst = Option(cm("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
      round += 1
    }
    require(edgeCount == 0,
      s"sampled CC did not converge in ${cfg.maxRounds} rounds")
    // edge-free input: the loop never ran — mapping is the identity,
    // every vertex its own component
    if (round == startRound) lastRoots = Some(mapping.count())
    ledger.result(mapping, lastRoots)
  }

  // ---------------------------------------------------------------------
  // Strategy 4: G5 randomized coin-toss hooking (random-mate), seeded.
  // ---------------------------------------------------------------------
  private def randomizedHook(
      edges0: Dataset[Edge], mapping0: DataFrame, cfg: Config,
      startRound: Int = 0): Result = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val ledger = new Ledger(spark, CCStrategy.RandomizedHook, cfg)

    var edges = edges0.toDF().cutLineage()
    var mapping = mapping0.cutLineage()
    var round = startRound
    var edgeCount = edges.count()

    while (edgeCount > 0 && round < cfg.maxRounds) {
      val t0 = System.nanoTime()
      // Deterministic per-round coin: heads(v) ⟺ hash is even.
      def heads(c: org.apache.spark.sql.Column) =
        pmod(xxhash64(lit(cfg.seed), lit(round), c), lit(2)) === 0
      // Tails hook to a heads-neighbor (max for determinism); the hook
      // forest has depth 1 by construction (a head never hooks), so no
      // pointer jumping is needed — the reference resolves the same
      // races with atomics + later root finding.
      val bidir = edges.select(explode(array(
          struct($"src".as("a"), $"dst".as("b")),
          struct($"dst".as("a"), $"src".as("b")))).as("e"))
        .select($"e.a".as("a"), $"e.b".as("b"))
      val f = bidir.filter(!heads($"a") && heads($"b"))
        .groupBy($"a".as("id")).agg(max($"b").as("label"))
        .cutLineage()

      val fB = bcIfSmall(f, 2 * edgeCount, cfg)
      val contracted = edges.as("e")
        .join(fB.as("fs"), $"e.src" === $"fs.id", "left")
        .join(fB.as("fd"), $"e.dst" === $"fd.id", "left")
        .select(coalesce($"fs.label", $"e.src").as("u"),
                coalesce($"fd.label", $"e.dst").as("v"))
        .filter($"u" =!= $"v")
        .select(least($"u", $"v").as("src"), greatest($"u", $"v").as("dst"))
        .distinct()
      val newMapping = mapping.as("m")
        .join(fB.as("f"), $"m.label" === $"f.id", "left")
        .select($"m.id".as("id"), coalesce($"f.label", $"m.label").as("label"))

      val prevEdges = edges; val prevMapping = mapping
      val (newEdges, cm) = barrierObserved(contracted, count(lit(1)).as("n"))
      edges = newEdges
      mapping = newMapping.cutLineage()
      val newCount = Option(cm("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
      f.releaseLineage(); prevEdges.releaseLineage(); prevMapping.releaseLineage()
      ledger.close(round, t0, edgeCount, newCount, edges, mapping, done = newCount == 0)
      edgeCount = newCount
      round += 1
    }
    require(edgeCount == 0,
      s"randomized CC did not converge in ${cfg.maxRounds} rounds " +
        "(reference analogue: stall detector, randomized_OPENMP_cc.cpp:143-150)")

    // Representatives are arbitrary (coin tosses) — canonicalize to the
    // component max (every member, incl. the rep, is present in mapping).
    val rep = mapping.groupBy($"label").agg(max($"id").as("rep"))
    val out = mapping.as("m").join(rep.as("r"), $"m.label" === $"r.label")
      .select($"m.id".as("id"), $"r.rep".as("label"))
    ledger.result(out, None)
  }

  /** Broadcast hint for relabel maps once they are known-small. `rows` is
    * the map's row count or a bound on it: the hook loop passes f's
    * observed count (a row per vertex of the round, up to 2·edgeCount),
    * the driver finish its collected map's size, and the randomized
    * strategy 2·edgeCount (at most one row per edge endpoint). */
  private def bcIfSmall(df: DataFrame, rows: Long, cfg: Config): DataFrame =
    if (rows <= cfg.broadcastRows) broadcast(df) else df

  /** Component count from a label table. */
  def componentCount(labels: Dataset[VertexLabel]): Long =
    labels.select(countDistinct(col("label"))).collect()(0).getLong(0)

  /** Per-component sizes (A5: `serial_cc.cpp:66-74`). */
  def componentSizes(labels: Dataset[VertexLabel]): DataFrame =
    labels.groupBy(col("label")).agg(count(lit(1)).as("size"))
}
