package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage barrier for iterative Dataset algorithms.
  *
  * `Dataset.localCheckpoint(eager = true)` truncates the RDD lineage and
  * the logical plan, BUT the resulting `LogicalRDD` carries *origin
  * statistics* computed from the checkpointed plan. In an iterative
  * self-join loop those statistics multiply: Catalyst's size-only
  * estimation computes `sizeInBytes(join) = Π sizeInBytes(children)`, so
  * the BigInt doubles in bit-length every iteration — after ~20
  * iterations the driver spends minutes in `BigInteger.multiply` inside
  * `SizeInBytesOnlyStatsPlanVisitor` (observed: 157 s for a 2k-edge
  * superstep). This helper materializes via localCheckpoint and then
  * rewraps the checkpointed internal RDD in a fresh `LogicalRDD` with
  * default statistics, resetting the estimate chain each superstep.
  *
  * Block hygiene: localCheckpoint pins its partitions as storage blocks
  * of the *inner* checkpointed RDD. Calling `.unpersist()` on the
  * returned DataFrame is a NO-OP for those blocks (the Dataset cache
  * manager knows nothing about them), so long benches / many-superstep
  * runs would accumulate stale blocks until driver GC eventually
  * collects the RDD handle — block-manager eviction + GC churn in the
  * meantime. Use [[release]] (or `ds.releaseLineage()`) once a barrier'd
  * frame's data is no longer needed; it unpersists the underlying
  * checkpointed RDD immediately.
  *
  * Lives in `org.apache.spark.sql` to reach the `private[sql]`
  * `Dataset.ofRows`. Public Spark API only, no behavior patching.
  */
object GraftLineage {
  // Per-thread stack of open [[scopedBlocks]] scopes; [[barrier]]
  // registers each checkpointed RDD id into the innermost scope of ITS
  // OWN thread, so concurrent library calls on one SparkSession can
  // never release each other's in-flight blocks (a global
  // getPersistentRDDs diff could).
  private val scopeStack = new ThreadLocal[List[scala.collection.mutable.Set[Int]]] {
    override def initialValue(): List[scala.collection.mutable.Set[Int]] = Nil
  }

  /** The members of a partitioning claim, a `PartitioningCollection`
    * flattened (a projected alias makes one: `select(id, id as label)`
    * over a hash(id) exchange is partitioned by both columns). */
  private def members(p: Partitioning): Seq[Partitioning] = p match {
    case c: PartitioningCollection => c.partitionings.flatMap(members)
    case other => Seq(other)
  }

  /** Eagerly materialize `df`, truncating RDD lineage, logical plan AND
    * statistics lineage. The returned frame's plan wraps the actual
    * checkpointed RDD so [[release]] can free its blocks later.
    *
    * Physical properties are PRESERVED: the rewrapped `LogicalRDD` keeps
    * the checkpointed plan's `outputPartitioning` and `outputOrdering`
    * (exactly what plain `localCheckpoint` keeps) and drops only the
    * origin statistics/constraints — the part whose size estimates
    * explode in iterative self-joins. Rewrapping via
    * `internalCreateDataFrame` instead (as earlier rounds did) builds a
    * `LogicalRDD` with `UnknownPartitioning`, so a "partition once, join
    * every iteration" loop silently re-shuffles its barrier'd table on
    * EVERY iteration — a full edge-table shuffle × ~100 iterations of
    * waste for converged PageRank at the 100 TB scale. */
  def barrier(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = cp.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // The checkpointed RDD (the one holding the storage blocks) sits in
    // cp's LogicalRDD; rewrap THAT node, not a derived toRdd, so release()
    // on the new frame reaches the real blocks.
    cp.queryExecution.analyzed match {
      case l: LogicalRDD =>
        scopeStack.get() match {
          case head :: _ => head += l.rdd.id
          case Nil       => ()
        }
        // Under AQE the checkpoint's own LogicalRDD captured
        // UnknownPartitioning: `AdaptiveSparkPlanExec` is a LEAF node
        // that never exposes its final plan's properties, and
        // `LogicalRDD.fromDataset` reads `executedPlan.outputPartitioning`
        // off that leaf. The checkpoint action has already finalized the
        // adaptive plan, so recover the REAL partitioning/ordering from
        // `a.executedPlan` — the physical plan whose output rows the
        // checkpointed RDD holds verbatim.
        // The finalized plan may name an output column by another exprId
        // than the checkpoint's output (the optimizer drops the alias of
        // `toDF("id")`), so its claims are renamed by output position.
        val (part0, order0, rename) = l.outputPartitioning match {
          case _: UnknownPartitioning =>
            val dfC = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
            dfC.queryExecution.executedPlan match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                val fp = a.executedPlan
                (fp.outputPartitioning, fp.outputOrdering, AttributeMap(fp.output.zip(l.output)))
              case _ => (l.outputPartitioning, l.outputOrdering, AttributeMap.empty[Attribute])
            }
          case _ => (l.outputPartitioning, l.outputOrdering, AttributeMap.empty[Attribute])
        }
        def onOutput[E <: Expression](e: E): E =
          e.transform { case a: Attribute => rename.getOrElse(a, a) }.asInstanceOf[E]
        // Claims must be expressed over the rewrapped output attributes;
        // keep every member of a collection that is, drop the rest.
        val outSet = AttributeSet(l.output)
        val kept = members(part0).map {
          case e: Expression => onOutput(e).asInstanceOf[Partitioning]
          case p => p
        }.filter {
          case e: Expression => e.references.subsetOf(outSet)
          case _ => true
        }
        val part = kept match {
          case Seq()    => l.outputPartitioning
          case Seq(one) => one
          case many     => PartitioningCollection(many)
        }
        val order = order0.map(onOutput(_)).takeWhile(_.references.subsetOf(outSet))
        // Same output attrs/rdd; recovered partitioning/ordering; fresh
        // default stats (conf.defaultSizeInBytes), no inherited constraints.
        val fresh = l.copy(outputPartitioning = part, outputOrdering = order)(
          spark, originStats = None, originConstraints = None)
        org.apache.spark.sql.classic.Dataset.ofRows(spark, fresh)
      case other =>
        // localCheckpoint always yields a bare LogicalRDD; anything else
        // has no block-holding RDD that release() could reach
        throw new IllegalStateException(
          s"localCheckpoint produced ${other.nodeName}, expected LogicalRDD")
    }
  }

  /** Free the storage blocks of every barrier'd/checkpointed RDD in this
    * frame's plan. Only call once the frame's data has been consumed —
    * a localCheckpoint'd RDD cannot be recomputed after unpersist.
    * Pass `blocking = true` when the very next operation needs the
    * memory back (bulk releases right before a heavy join); the default
    * fire-and-forget is right for steady-state loop releases. */
  def release(ds: Dataset[_], blocking: Boolean = false): Unit = {
    val dsC = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    dsC.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking)
      case _             => ()
    }
  }

  /** RDD ids of the checkpointed RDDs inside this frame's plan — lets a
    * caller sweep the block store while protecting long-lived inputs. */
  def plannedRddIds(ds: Dataset[_]): Set[Int] = {
    val dsC = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    dsC.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet
  }

  /** Library-call block hygiene: run `body` (which must EAGERLY
    * materialize its return value — end with [[barrier]]/`cutLineage`),
    * then release every barrier `body` created on THIS thread except
    * those backing the returned frame. Intermediate barriers inside a
    * pipeline call (signature caches, candidate buckets) otherwise
    * accumulate MEMORY_AND_DISK blocks across repeated library calls;
    * the caller frees the result itself with `releaseLineage()` when
    * done. Tracking is thread-local (not a global block-store diff), so
    * concurrent calls on one session are safe; a nested scope's kept
    * result is handed to the parent scope, which releases it in turn.
    * When `body` throws, every barrier it created is released: a
    * top-level scope has no parent that could free them later. */
  def scopedBlocks[T](spark: SparkSession)(body: => Dataset[T]): Dataset[T] =
    scopedFrames[Dataset[T]](spark)(Seq(_))(body)

  /** [[scopedBlocks]] for a result that holds several frames: the
    * barriers backing `frames(result)` are kept and handed to the parent
    * scope, every other barrier `body` created is released. */
  def scopedFrames[R](spark: SparkSession)(frames: R => Seq[Dataset[_]])(body: => R): R =
    inScope[R](spark.sparkContext, Set.empty, r => frames(r).flatMap(plannedRddIds).toSet,
      () => Set.empty)(_ => body)

  /** The one block scope both [[scopedFrames]] and [[iterateFrames]] run
    * in. `body` gets the scope's set, into which [[barrier]] registers
    * every RDD it checkpoints on this thread. On return, the scope's ids
    * outside `live(out)` are freed and `live(out)` is handed to the
    * parent scope; on a throw, the scope's ids and `owned()` are freed.
    * Ids in `retained` are never freed nor handed on. */
  private def inScope[R](sc: org.apache.spark.SparkContext, retained: Set[Int],
                         live: R => Set[Int], owned: () => Set[Int])(
      body: scala.collection.mutable.Set[Int] => R): R = {
    val scope = scala.collection.mutable.Set.empty[Int]
    scopeStack.set(scope :: scopeStack.get())
    var keep: Option[Set[Int]] = None
    try {
      val out = body(scope)
      keep = Some(live(out) -- retained)
      out
    } finally {
      val rest = scopeStack.get().tail
      scopeStack.set(rest)
      keep match {
        case Some(k) =>
          unpersistIds(sc, scope.toSet -- k -- retained)
          rest.headOption.foreach(_ ++= k)
        case None => unpersistIds(sc, (scope.toSet ++ owned()) -- retained)
      }
    }
  }

  /** Unpersist those of `ids` that are still persisted (ids already
    * freed are skipped, so no block is freed twice). */
  private def unpersistIds(sc: org.apache.spark.SparkContext, ids: Iterable[Int]): Unit =
    if (ids.nonEmpty) {
      val persistent = sc.getPersistentRDDs
      ids.foreach(id => persistent.get(id).foreach(_.unpersist(blocking = false)))
    }

  /** A finished round of [[iterate]]: the state barrier, the iteration
    * count reached, the metrics observed on that barrier, whether `stop`
    * fired, whether another round follows, and the round's wall time. */
  final case class Round(state: DataFrame, iter: Int, obs: Map[String, Any],
                         stopped: Boolean, continues: Boolean, ms: Long)

  /** The fixpoint loop every iterative operator runs, with its block
    * lifecycle owned by [[iterateFrames]] instead of hand-placed at each
    * call site.
    *
    * Each round composes `min(chunk, maxIter - iter)` calls of `step`
    * into one plan and materializes it with ONE [[barrierObserved]] job
    * (a plain [[barrier]] when `metrics` is empty), so the convergence
    * read rides the round's own job (README lessons 3 and 12). `step`
    * gets the state, the iteration it computes, and the observation of
    * the barrier its input came from: `Some(obs)` for a round's first
    * step (`obs0` before the first round), `None` for a later step of
    * the same chunk, whose input is the previous step's unmaterialized
    * plan. After a round `stop(previous obs, obs)` may end the loop.
    *
    * Lifecycle ([[iterateFrames]] with the state barrier as the one
    * frame): the loop owns `state0`, frames in `retain` are never freed,
    * and the returned state is the caller's to release (inside a
    * [[scopedBlocks]] scope it is handed to that scope). Returns the
    * last round (`state0` as round `startIter` when none ran).
    *
    * Checkpointed runs pass `chunk = 1`: a durable snapshot needs every
    * iteration's state materialized. */
  def iterate(state0: DataFrame, startIter: Int, maxIter: Int, chunk: Int,
              metrics: Seq[Column] = Nil,
              obs0: Map[String, Any] = Map.empty,
              retain: Seq[Dataset[_]] = Nil,
              stop: (Map[String, Any], Map[String, Any]) => Boolean = (_, _) => false,
              onRound: Round => Unit = _ => ())(
      step: (DataFrame, Int, Option[Map[String, Any]]) => DataFrame): Round = {
    require(chunk >= 1, s"iterate: chunk must be >= 1, got $chunk")
    val first = Round(state0, startIter, obs0, stopped = false, continues = false, 0L)
    iterateFrames[Round](first, r => Seq(r.state), retain, onRound)(
        r => !r.stopped && r.iter < maxIter) { prev =>
      val t0 = System.nanoTime()
      val steps = math.min(chunk, maxIter - prev.iter)
      var cur = step(prev.state, prev.iter, Some(prev.obs))
      for (s <- 1 until steps) cur = step(cur, prev.iter + s, None)
      val (next, obs) =
        if (metrics.isEmpty) (barrier(cur), Map.empty[String, Any])
        else barrierObserved(cur, metrics: _*)
      val ms = (System.nanoTime() - t0) / 1000000
      val iter = prev.iter + steps
      val stopped = stop(prev.obs, obs)
      Round(next, iter, obs, stopped, continues = !stopped && iter < maxIter, ms)
    }
  }

  /** The round loop under [[iterate]] and connected components, over a
    * state `S` of several frames (`frames(s)`; the first one's session
    * runs the loop). While `continues(state)`, `step` computes the next
    * state, which must be materialized when it returns, and `onRound`
    * sees it.
    *
    * The block lifecycle every round loop shares, written once:
    *  - the loop owns the frames of `state0`; a superseded state's
    *    blocks are freed only once its successor has materialized, and
    *    before `onRound`;
    *  - the barriers a step makes for itself live for its round: those
    *    that back no frame of the new state are freed after `onRound`;
    *  - the blocks of frames in `retain` (the caller's input and static
    *    tables) are never freed;
    *  - when `step`, `continues` or `onRound` throws, every barrier the
    *    loop holds is freed before the throw propagates;
    *  - the returned state's blocks are the caller's to release (inside
    *    a [[scopedBlocks]]/[[scopedFrames]] scope they are handed to that
    *    scope).
    * Returns the last state (`state0` when no round ran). */
  def iterateFrames[S](state0: S, frames: S => Seq[Dataset[_]], retain: Seq[Dataset[_]] = Nil,
                       onRound: S => Unit = (_: S) => ())(continues: S => Boolean)(
      step: S => S): S = {
    val sc = frames(state0).head.sparkSession.sparkContext
    val retained = retain.flatMap(plannedRddIds).toSet
    def live(s: S): Set[Int] = frames(s).flatMap(plannedRddIds).toSet
    def free(ids: Set[Int]): Unit = unpersistIds(sc, ids -- retained)
    var last = state0
    inScope[S](sc, retained, live, () => live(last)) { made =>
      while (continues(last)) {
        val prev = last
        last = step(prev)
        val keep = live(last)
        free(live(prev) -- keep)
        onRound(last)
        free(made.toSet -- keep)
        made.clear()
      }
      last
    }
  }

  /** Non-blocking read of an [[Observation]]'s metrics (empty until the
    * observed plan's first action completes). Built on the public
    * `getRowOrEmpty` — NOT on `getOrEmpty`, which on this Spark build
    * maps its empty-fallback `Row` (schema = null) through
    * `row.schema.fieldNames` and throws NPE on every pre-completion
    * poll (it killed the round-3 capGroups waiter thread on first
    * touch). Defensive on the completed row too: a schema-less metrics
    * row yields empty rather than a crash. */
  def observedOrEmpty(obs: Observation): Map[String, Any] =
    obs.getRowOrEmpty match {
      case Some(row) if row.schema != null =>
        row.schema.fieldNames.zipWithIndex
          .map { case (n, i) => n -> row.get(i) }.toMap
      case _ => Map.empty
    }

  /** [[barrier]] that also evaluates aggregate metrics over the rows in
    * the SAME materialization job (Dataset.observe) — saves the separate
    * count/convergence action per iteration that otherwise dominates
    * wall-clock in iterative loops (each extra action is a full job
    * round-trip). Returns the barrier'd frame plus the metric row. */
  def barrierObserved(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val out = barrier(df.observe(obs, metrics.head, metrics.tail: _*))
    (out, obs.get) // blocks until the checkpoint job reports the metrics
  }

  /** `ds.cutLineage()` — the typed sugar for [[barrier]];
    * `ds.releaseLineage()` — the typed sugar for [[release]]. */
  implicit class GraftLineageOps[T](private val ds: Dataset[T]) extends AnyVal {
    def cutLineage(): Dataset[T] = {
      val dsC = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[T]]
      implicit val enc: Encoder[T] = dsC.encoder
      barrier(dsC.toDF()).as[T]
    }
    def releaseLineage(blocking: Boolean = false): Unit = release(ds, blocking)
  }
}
