package graft.operators

import org.apache.spark.sql.GraftLineage._
import graft.graph.{Edge, GraphIO, SuperstepMetrics, UnionFind, VertexLabel}
import graft.plans.CheckpointManager
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
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
  *    fixpoint), then contraction (`mpi_parallel_cc_utils.cpp:57-76`).
  *  - [[CCStrategy.AlternatingStar]] — small-star/large-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC 2014), the standard Dataset-join CC named by the north star.
  *  - [[CCStrategy.SampledContraction]] — communication-avoiding sampled
  *    contraction (PPoPP 2018 semantics, `SparseSampling.hpp:53-93`):
  *    per round sample a bounded edge subset, union-find it on the driver,
  *    contract by the resulting map.
  *  - [[CCStrategy.RandomizedHook]] — coin-toss child hooking
  *    (random-mate, `randomized_OPENMP_cc.cpp:164-201`): tails hook to a
  *    heads neighbor, a depth-1 forest with no pointer jumping.
  *
  * One step shape: each strategy is a round `(edges, mapping) =>
  * (edges', mapping')` over the state every strategy checkpoints, with
  * its counts observed on the round's own barriers. Three of them build
  * a label function f and apply the shared [[contract]] (the reference's
  * one step over its `vertex_map`, `SparseSampling.hpp:71,260-264`) and
  * [[compose]]; the star strategy rewrites the edges in place and keeps
  * the identity mapping. The sampled strategy and the hook strategy's
  * tail finish share one [[driverRound]]: the reference's sampling round
  * and master-local prefix union-find (`SparseSampling.hpp:275-313`) as
  * one step. One round loop ([[rounds]], on
  * `GraftLineage.iterateFrames`) runs the steps: it owns the `maxRounds`
  * bound, the edge-free result, the round ledger (metrics rows and
  * durable checkpoints) and every block a round leaves behind. Star and
  * random representatives are arbitrary, so their labels finish with
  * [[canonicalMax]].
  *
  * Scale design: relabel maps after round 1 are orders of magnitude smaller
  * than the edge set, so relabel joins broadcast once the map fits
  * (`broadcastRows` threshold); before that they are shuffle joins under
  * AQE skew handling. The hook aggregation needs no salting: Spark's
  * partial (map-side) aggregation already collapses hot src keys per
  * partition before the shuffle. Lineage is cut every round with a
  * `GraftLineage.barrier`; durable parquet checkpoints + manifest every
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

  /** A run's settings. The sampled strategy's rounds and the hook's tail
    * finish run the same [[driverRound]]: `sampleHardCap` bounds its
    * sample, `driverFinishEdges` admits the hook's tail to it and
    * `broadcastRows` decides whether its map is broadcast. */
  final case class Config(
      strategy: CCStrategy = CCStrategy.HookAndContract,
      maxRounds: Int = 200,
      /** relabel maps at or below this row count are broadcast. */
      broadcastRows: Long = 1L * 1000 * 1000,
      /** durable checkpoint cadence (rounds); None = no durable ckpt. */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      runId: String = "cc",
      /** Hard cap on the sampled strategy's per-round sample, under the
        * PPoPP bound n^(1+eps/2) * (1+delta) ([[SampleEps]], [[SampleDelta]]). */
      sampleHardCap: Long = 5L * 1000 * 1000,
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
        * collect the contracted edges and run the [[driverRound]] the
        * sampled strategy runs on its sample (reference analogue:
        * master-local prefix CC, `SparseSampling.hpp:275-313`): ONE
        * mapping join. After round 0 the edge set typically shrinks
        * 2-3 orders of magnitude, but a distributed tail round still
        * costs the same ~6 constant-time driver jobs as a full round —
        * the measured serial floor of the strong-scaling gate. Never
        * applied to the FIRST round (the distributed path must do the
        * heavy lifting; also keeps small-graph tests exercising the
        * full machinery). 0 disables. */
      driverFinishEdges: Long = 2L * 1000 * 1000)

  /** The PPoPP sampling parameters, `SparseSampling.hpp:34-35`: a round
    * samples at most n^(1+eps/2) * (1+delta) edges. */
  private val SampleEps = 0.09
  private val SampleDelta = 0.2
  /** Seeds the sampled strategy's per-round sample and the randomized
    * strategy's per-round coin. */
  private val Seed = 17L

  /** `components`: the distinct-label count, observed for free inside the
    * job that materializes the labels: canonical max labels mean
    * `components = count(id == label)`, so the separate `countDistinct`
    * action [[componentCount]] would otherwise pay per run is folded into
    * a job that already exists (the hook and sampled strategies' last
    * mapping, the star and random strategies' canonicalized labels). */
  final case class Result(labels: Dataset[VertexLabel], metrics: Seq[SuperstepMetrics],
                          components: Option[Long] = None)

  /** Observation: #rows with id == label — on a canonical-max label table
    * this IS the component count (each component contains exactly one
    * vertex labeled with itself: its max). */
  private def rootsMetric =
    coalesce(sum(when(col("id") === col("label"), 1L)), lit(0L)).as("roots")

  /** The metrics every edges barrier of `strategy` observes: the edge
    * count `n`; the star strategy's set hash `h`, whose (n, h) pair is its
    * convergence signature (both compared edge tables are deduplicated
    * sets, so a 64-bit xxhash XOR-fold is an order-independent,
    * overflow-free fingerprint); and the sampled strategy's vertex
    * estimate `v`, the distinct count of src ∪ dst from one HLL sketch per
    * column (±2 % typical). `v` only sizes the sample bound, which already
    * carries (1+delta) = 1.2 headroom, and prefix CC is exact on ANY
    * sample — sample size affects round count, never correctness. */
  private def seenMetrics(strategy: CCStrategy): Seq[Column] =
    count(lit(1)).as("n") +: (strategy match {
      case CCStrategy.AlternatingStar =>
        Seq(coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h"))
      case CCStrategy.SampledContraction =>
        Seq(hll_sketch_estimate(
          hll_union(hll_sketch_agg(col("src")), hll_sketch_agg(col("dst")))).as("v"))
      case _ => Nil
    })

  private def long(m: Map[String, Any], key: String): Long =
    m.get(key).flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** `df` materialized, with its root count observed in the same job. */
  private def observed(df: DataFrame): (DataFrame, Option[Long]) = {
    val (out, m) = barrierObserved(df, rootsMetric)
    (out, Some(long(m, "roots")))
  }

  private def identity(ids: DataFrame): DataFrame =
    ids.select(col("id"), col("id").as("label"))

  /** CC of `edges` (+ optional isolated vertices). Input edges may be
    * dirty: self-loops, duplicates, arbitrary orientation — loader
    * semantics of the reference are applied here (P1/P3 + dedup). The
    * caller's input and extra vertices are never freed. */
  def run(edges: Dataset[Edge],
          extraVertices: Option[Dataset[Long]] = None,
          cfg: Config = Config()): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val start = System.nanoTime()
    // Normalize + drop self-loops (P1/P3, narrow); duplicates are KEPT
    // here, exactly like the reference loaders — every strategy tolerates
    // them (hook pre-contraction and the per-step distinct()s dedup
    // structurally), and skipping the up-front distinct() saves a full
    // shuffle+materialization of the largest table in the whole job.
    val cleanedLazy = GraphIO.normalize(edges)
      .filter(col("src") =!= col("dst")).as[Edge]
    val extras = extraVertices.map(_.toDF("id"))
    val retain = edges +: extraVertices.toSeq
    scopedFrames(spark)((r: Result) => Seq(r.labels)) {
      cfg.strategy match {
        // The hook path never materializes the cleaned input: round 0's
        // pre-contraction reads it lazily, in its range layout, and counts
        // it in the same job. Its f covers every edge vertex, so the
        // state's mapping holds only the extra vertices.
        case CCStrategy.HookAndContract =>
          val ranged = rangeLayout(cleanedLazy.toDF())
          val obs = Observation()
          val pre = preContract(ranged.observe(obs, count(lit(1)).as("n")), cfg)
          val ids = extras.map(_.distinct()).getOrElse(spark.emptyDataset[Long].toDF("id"))
          rounds(State(ranged, identity(ids), obs.get, pre = Some(pre)), cfg, start, retain,
            extras = extras.isDefined)
        // Every other strategy starts from ONE materialization of the
        // canonical input, which observes the strategy's edge metrics.
        case strategy =>
          val (canon, seen) = barrierObserved(GraphIO.canonical(cleanedLazy).toDF(),
            seenMetrics(strategy): _*)
          val verts = GraphIO.vertices(canon.as[Edge]).toDF("id")
            .union(extras.getOrElse(spark.emptyDataset[Long].toDF("id"))).distinct()
          rounds(State(canon, identity(verts), seen), cfg, start, retain)
      }
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
    val start = System.nanoTime()
    val ck = new CheckpointManager(spark, checkpointDir)
    val step = ck.latestStep().getOrElse(
      throw new IllegalStateException(s"no checkpoint under $checkpointDir"))
    val algo = ck.meta(step).getOrElse("algo", CCStrategy.HookAndContract.tag)
    val strategy = CCStrategy.all.find(_.tag == algo).getOrElse(
      throw new IllegalStateException(s"unknown checkpoint algo '$algo' under $checkpointDir"))
    val loaded = ck.load(step, "edges")
    scopedFrames(spark)((r: Result) => Seq(r.labels)) {
      val layout = if (strategy == CCStrategy.HookAndContract) rangeLayout(loaded) else loaded
      val (edges, seen) = barrierObserved(layout, seenMetrics(strategy): _*)
      rounds(State(edges, ck.load(step, "mapping"), seen, round = step + 1),
        cfg.copy(strategy = strategy, checkpointDir = Some(checkpointDir)), start, Nil)
    }
  }

  /** Range-partition the edge table by (src, dst) once (CSR-style
    * adjacency layout, per the north star): graphs with id locality
    * (chains, web graphs, co-occurrence ids) then contract well
    * per-partition. The upstream dedup's hash shuffle scatters structure
    * randomly — without this, round-0 pre-contraction finds only
    * fragments and pointer jumping pays the full graph diameter
    * (observed: 22 jumps vs 6). (src, dst), not src alone, so a
    * single-hub star spreads across partitions instead of forming one
    * straggler task. Sorted within partitions: pre-contraction chunks see
    * contiguous segments. */
  private def rangeLayout(edges: DataFrame): DataFrame = {
    val p = edges.sparkSession.sessionState.conf.numShufflePartitions
    edges.repartitionByRange(p, col("src"), col("dst"))
      .sortWithinPartitions(col("src"), col("dst"))
  }

  /** The state between rounds: the (edges, mapping) pair every strategy
    * checkpoints, the [[seenMetrics]] observed on the edges, the root
    * count of the mapping when a round observed it, the pre-contraction a
    * fresh hook run's round 0 starts from, the round the state starts,
    * whether the fixpoint is reached, and the metrics row of the round
    * that produced it. */
  private final case class State(edges: DataFrame, mapping: DataFrame, seen: Map[String, Any],
                                 roots: Option[Long] = None, pre: Option[DataFrame] = None,
                                 round: Int = 0, done: Boolean = false,
                                 row: Option[SuperstepMetrics] = None)

  /** What a strategy's step returns: the next edges with their observed
    * [[seenMetrics]], the next mapping with its root count when the step
    * observed it, and the round's active-vertex estimate and pointer
    * jumps for its metrics row. */
  private final case class Next(edges: DataFrame, mapping: DataFrame, seen: Map[String, Any],
                                roots: Option[Long] = None, active: Long = -1L, jumps: Int = 0)

  /** The round loop of all four strategies, on `iterateFrames`: runs
    * `cfg.strategy`'s step from `s0` until the fixpoint or `maxRounds`,
    * closing each round in the [[Ledger]], then finishes the labels.
    * The loop frees a superseded (edges, mapping) once its successor has
    * materialized and every barrier a step made for itself once the round
    * is closed; frames in `retain` (the caller's input) are never freed.
    * The labels are the last mapping with its root count when the last
    * round observed one (hook, sampled); else (star, random, or no round
    * ran: an edge-free input or a final checkpoint) they are materialized
    * here with the count observed. The first round's time includes the
    * start-up pass from `start`. */
  private def rounds(s0: State, cfg: Config, start: Long, retain: Seq[Dataset[_]],
                     extras: Boolean = false): Result = {
    val strategy = cfg.strategy
    val ledger = new Ledger(s0.edges.sparkSession, cfg)
    val startRound = s0.round
    val step: State => Next = strategy match {
      case CCStrategy.HookAndContract    => hookStep(cfg, startRound, extras)
      case CCStrategy.AlternatingStar    => starStep
      case CCStrategy.SampledContraction => sampledStep(cfg)
      case CCStrategy.RandomizedHook     => randomStep(cfg)
    }
    val last = iterateFrames[State](s0.copy(done = long(s0.seen, "n") == 0),
        s => Seq(s.edges, s.mapping) ++ s.pre, retain, ledger.close)(
        s => !s.done && s.round < cfg.maxRounds) { s =>
      val t0 = if (s.round == startRound) start else System.nanoTime()
      val next = step(s)
      // the star fixpoint repeats its (n, h) signature; a contraction
      // ends with no edge left
      val done =
        if (strategy == CCStrategy.AlternatingStar) next.seen == s.seen
        else long(next.seen, "n") == 0
      val row = SuperstepMetrics(cfg.runId, strategy.tag, s.round, long(s.seen, "n"),
        long(next.seen, "n"), next.active, next.jumps, (System.nanoTime() - t0) / 1000000)
      State(next.edges, next.mapping, next.seen, next.roots, None, s.round + 1, done, Some(row))
    }
    require(last.done, s"CC (${strategy.name}) did not converge in ${cfg.maxRounds} rounds " +
      s"(${long(last.seen, "n")} edges left)")
    val (labels, roots) = (strategy, last.roots) match {
      case (_, Some(r)) => (last.mapping, Some(r))
      // Fixpoint: every non-min vertex v has exactly the edge (min, v);
      // a vertex with no star edge keeps its identity label.
      case (CCStrategy.AlternatingStar, None) =>
        val e = last.edges
        observed(canonicalMax(compose(last.mapping,
          e.select(col("dst").as("id"), col("src").as("label"))
            .union(e.select(col("src").as("id"), col("src").as("label")).distinct()))))
      case (CCStrategy.RandomizedHook, None) => observed(canonicalMax(last.mapping))
      case (_, None) => observed(last.mapping)
    }
    ledger.result(labels, roots)
  }

  /** One run's round bookkeeping, the round loop's `onRound`: each
    * closed round's metrics row, kept for the [[Result]] and appended to
    * the durable metrics table (§4.5), and the (edges, mapping)
    * checkpoint every `checkpointEvery` rounds and after the last. */
  private final class Ledger(spark: SparkSession, cfg: Config) {
    private val metrics = ArrayBuffer.empty[SuperstepMetrics]
    private val ck = cfg.checkpointDir.map(new CheckpointManager(spark, _))

    def close(s: State): Unit = s.row.foreach { m =>
      metrics += m
      ck.foreach { c =>
        c.appendMetrics(Seq(m))
        if (s.round % cfg.checkpointEvery == 0 || s.done)
          c.save(s.round, Map("edges" -> s.edges, "mapping" -> s.mapping),
            Map("algo" -> cfg.strategy.tag, "edgeCount" -> m.edgesOut.toString,
                "runId" -> cfg.runId))
      }
    }

    def result(labels: DataFrame, components: Option[Long]): Result = {
      import spark.implicits._
      Result(labels.select($"id", $"label").as[VertexLabel], metrics.toSeq, components)
    }
  }

  /** The contraction step (G4, G9) the hook, sampled and random
    * strategies share — the reference's one step over its `vertex_map`
    * (`SparseSampling.hpp:71,260-264`): relabel both endpoints through
    * the label function f (an (id, label) frame; an id f has no row for
    * keeps itself), drop intra-component edges (P2), normalize (P3),
    * dedup (safe for CC). Where f is total, as the hook's is, the left
    * joins equal inner joins. */
  private def contract(edges: DataFrame, f: DataFrame): DataFrame =
    edges.as("e")
      .join(f.as("fs"), col("e.src") === col("fs.id"), "left")
      .join(f.as("fd"), col("e.dst") === col("fd.id"), "left")
      .select(coalesce(col("fs.label"), col("e.src")).as("u"),
              coalesce(col("fd.label"), col("e.dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("src"), greatest(col("u"), col("v")).as("dst"))
      .distinct()

  /** The mapping composition (G6, forward, no recursion stack) every
    * strategy shares: each original id moves to f's label of its current
    * label; a label f has no row for stays. */
  private def compose(mapping: DataFrame, f: DataFrame): DataFrame =
    mapping.as("m").join(f.as("f"), col("m.label") === col("f.id"), "left")
      .select(col("m.id").as("id"), coalesce(col("f.label"), col("m.label")).as("label"))

  /** Relabels every component by its max member, for the strategies whose
    * representatives are arbitrary (star: the component min; random: a
    * coin-toss winner). Every member, the representative included, has a
    * row in `mapping`. */
  private def canonicalMax(mapping: DataFrame): DataFrame = {
    val rep = mapping.groupBy(col("label")).agg(max(col("id")).as("rep"))
    mapping.as("m").join(rep.as("r"), col("m.label") === col("r.label"))
      .select(col("m.id").as("id"), col("r.rep").as("label"))
  }

  // ---------------------------------------------------------------------
  // Strategy 1: hook-to-max + pointer jumping + contraction (reference).
  // A fresh run's round 0 starts from the pre-contraction `run` made of
  // its lazy input: its f covers every edge vertex with canonical max
  // labels, so f (grouped with the extra vertices, if any) IS the first
  // mapping — no vertex-set distinct, no composition join. Every other
  // round composes the mapping with its f.
  // ---------------------------------------------------------------------
  // A tail round finishes on the driver (G8): a distributed tail round
  // costs ~6 constant-time driver jobs for a vanishing amount of data;
  // the driver round over the whole remainder costs three.
  private def hookStep(cfg: Config, startRound: Int, extras: Boolean)(s: State): Next =
    if (s.round > startRound && cfg.driverFinishEdges > 0 &&
        long(s.seen, "n") <= cfg.driverFinishEdges)
      driverRound(s, collectPairs(s.edges), whole = true, cfg)
    else hookRound(s, cfg, extras)

  /** The (src, dst) pairs of `edges`, collected to the driver. */
  private def collectPairs(edges: DataFrame): Array[(Long, Long)] = {
    import edges.sparkSession.implicits._
    edges.select($"src", $"dst").as[(Long, Long)].collect()
  }

  /** The driver round the sampled strategy and the hook's tail finish
    * share — the reference's sampling round and master-local prefix CC
    * (`SparseSampling.hpp:71,260-264,275-313`) as one step over one
    * vertex map: union-find the collected `pairs` on the driver into the
    * (id, label) map f with canonical max labels, compose the mapping
    * with f and observe its roots. When `pairs` is every edge of the
    * round (`whole`) no edge is left; when it is a sample, the edges are
    * contracted by f. f is a local relation of up to 2·|pairs| rows, so
    * it is broadcast only inside the `broadcastRows` class — never a
    * forced broadcast of a map that large. */
  private def driverRound(s: State, pairs: Array[(Long, Long)], whole: Boolean, cfg: Config,
                          active: Long = -1L): Next = {
    val spark = s.edges.sparkSession
    import spark.implicits._
    val mapRows = UnionFind.components(pairs.iterator).iterator
      .filter { case (v, r) => v != r }.toSeq
    val f = bcIfSmall(spark.createDataset(mapRows).toDF("id", "label"),
      mapRows.size.toLong, cfg)
    val (edges, seen) =
      if (whole) (spark.emptyDataset[Edge].toDF(), Map[String, Any]("n" -> 0L))
      else barrierObserved(contract(s.edges, f), seenMetrics(CCStrategy.SampledContraction): _*)
    val (mapping, roots) = observed(compose(s.mapping, f))
    Next(edges, mapping, seen, roots, active)
  }

  private def hookRound(s: State, cfg: Config, extras: Boolean): Next = {
    val spark = s.edges.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val hookInput = s.pre.getOrElse(preContract(s.edges, cfg))

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
    val fRows = long(hm, "n")
    val fRoots = long(hm, "roots")
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
      undone = long(m, "undone")
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

    // G4 contraction of the (connectivity-equivalent, ≤min(m,n)-edge)
    // pre-contracted forest, not the full edge set — same components,
    // O(n) relabel volume.
    val fB = bcIfSmall(f, fRows, cfg)
    val (edges, seen) = barrierObserved(contract(hookInput.filter($"src" =!= $"dst"), fB),
      seenMetrics(CCStrategy.HookAndContract): _*)
    val (mapping, roots) =
      if (s.pre.isEmpty) observed(compose(s.mapping, fB))
      // an extra vertex keeps its edge label if it has one (labels are
      // maxima, so max picks it), else it labels itself
      else if (extras) observed(f.union(s.mapping).groupBy($"id").agg(max($"label").as("label")))
      else (f, Some(fRoots))
    Next(edges, mapping, seen, roots, jumps = jumps)
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
  // Strategy 2: alternating small-star / large-star (SoCC 2014). Edges
  // stay canonical (src < dst) between steps; the mapping stays the
  // identity, so the checkpoint shape matches the other strategies'.
  // ---------------------------------------------------------------------
  private def starStep(s: State): Next = {
    val edges = s.edges
    import edges.sparkSession.implicits._
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
    // m(u) = min(N(u)) (all neighbors here are < u). The convergence
    // signature rides the materialization job.
    val minS = ls.groupBy($"dst".as("u")).agg(min($"src").as("m"))
    val (ss, seen) = barrierObserved(
      ls.as("e")
        .join(minS.as("s"), $"e.dst" === $"s.u")
        .select($"s.m".as("src"), $"e.src".as("dst"))
        .union(minS.select($"m".as("src"), $"u".as("dst")))
        .filter($"src" =!= $"dst")
        .distinct(),
      seenMetrics(CCStrategy.AlternatingStar): _*)
    Next(ss, s.mapping, seen)
  }

  // ---------------------------------------------------------------------
  // Strategy 3: PPoPP-2018-style sampled contraction. The round's edge
  // count and vertex estimate were observed on the barrier its edges
  // came from.
  // ---------------------------------------------------------------------
  private def sampledStep(cfg: Config)(s: State): Next = {
    val edges = s.edges
    val edgeCount = long(s.seen, "n")
    val nEst = long(s.seen, "v")
    // Bound: n^(1+eps/2) * (1+delta) — `SparseSampling.hpp:117` — under
    // a hard cap so the driver collect stays bounded regardless of input.
    val bound = math.min(cfg.sampleHardCap.toDouble,
      math.pow(nEst.toDouble.max(2.0), 1.0 + SampleEps / 2.0) * (1.0 + SampleDelta))
    val k = math.max(1L, math.min(edgeCount, bound.toLong))
    val whole = k >= edgeCount
    def take(df: DataFrame): Array[(Long, Long)] = collectPairs(df.limit(k.toInt))
    // the Bernoulli pre-sample is often empty at small k; prefix CC is
    // exact on any sample, so fall back to the first k edges rather
    // than spend a superstep contracting nothing
    val sampled: Array[(Long, Long)] =
      if (whole) collectPairs(edges)
      else Some(take(edges.sample(withReplacement = false,
          math.min(1.0, k.toDouble * 1.2 / edgeCount), Seed + s.round)))
        .filter(_.nonEmpty).getOrElse(take(edges))
    driverRound(s, sampled, whole, cfg, active = nEst)
  }

  // ---------------------------------------------------------------------
  // Strategy 4: G5 randomized coin-toss hooking (random-mate), seeded.
  // ---------------------------------------------------------------------
  private def randomStep(cfg: Config)(s: State): Next = {
    val edges = s.edges
    import edges.sparkSession.implicits._
    // Deterministic per-round coin: heads(v) ⟺ hash is even.
    def heads(c: Column) = pmod(xxhash64(lit(Seed), lit(s.round), c), lit(2)) === 0
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
    val fB = bcIfSmall(f, 2 * long(s.seen, "n"), cfg)
    val (next, seen) = barrierObserved(contract(edges, fB),
      seenMetrics(CCStrategy.RandomizedHook): _*)
    Next(next, compose(s.mapping, fB).cutLineage(), seen)
  }

  /** Broadcast hint for relabel maps once they are known-small. `rows` is
    * the map's row count or a bound on it: the hook loop passes f's
    * observed count (a row per vertex of the round, up to 2·edgeCount),
    * the driver round its collected map's size, and the randomized
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
