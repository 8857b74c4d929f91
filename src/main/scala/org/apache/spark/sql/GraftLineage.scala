package org.apache.spark.sql

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform

/** Lineage barrier for iterative Dataset algorithms.
  *
  * A barrier materializes a frame once and hands back a frame whose plan
  * is a single `LogicalRDD` leaf: RDD lineage, logical plan AND statistics
  * lineage are cut. The statistics matter: a `LogicalRDD` that carries
  * *origin statistics* (as a Dataset's own local checkpoint does)
  * multiplies them in an iterative self-join loop. Catalyst's size-only
  * estimation computes `sizeInBytes(join) = Π sizeInBytes(children)`, so
  * the BigInt doubles in bit-length every iteration — after ~20
  * iterations the driver spends minutes in `BigInteger.multiply` inside
  * `SizeInBytesOnlyStatsPlanVisitor` (observed: 157 s for a 2k-edge
  * superstep). The barrier's leaf keeps default statistics.
  *
  * Block hygiene: a barrier stores each partition's `UnsafeRow`s as
  * packed pages — `byte[]`s of about 1 MiB, each row a 4-byte length
  * followed by its bytes (a row larger than a page gets a page of its
  * own). An (id, label) or `Edge` row is 24 B, so a row costs 28 B in
  * the block store, where one Java `UnsafeRow` per row plus its own
  * `byte[]` cost 84 B. Only that page RDD is `localCheckpoint`ed:
  * it holds the storage blocks. The leaf's `LogicalRDD.rdd` is a reader
  * that points one reused `UnsafeRow` at each record in turn; it reads
  * the pages but does not hold them, so never unpersist it directly.
  * Calling `.unpersist()` on the returned DataFrame is a NO-OP for the
  * pages too (the Dataset cache manager knows nothing about them), so
  * long benches and many-superstep runs would accumulate stale blocks
  * until driver GC collected the page RDD. Library code frees blocks by
  * scope ([[scopedBlocks]], [[scopedFrames]], the [[iterateFrames]]
  * loop), on a throw too; [[release]] (`ds.releaseLineage()`) is for a
  * caller done with a result, and [[plannedRddIds]] names its blocks.
  *
  * Lives in `org.apache.spark.sql` to reach the `private[sql]`
  * `Dataset.ofRows` and the `private[spark]` RDD calls that Spark's
  * own Dataset checkpoint makes. No behavior patching.
  */
object GraftLineage {
  // Per-thread stack of open [[scopedBlocks]] scopes; [[barrier]]
  // registers each page RDD id into the innermost scope of ITS OWN
  // thread, so concurrent library calls on one SparkSession can never
  // release each other's in-flight blocks (a global getPersistentRDDs
  // diff could).
  private val scopeStack = new ThreadLocal[List[scala.collection.mutable.Set[Int]]] {
    override def initialValue(): List[scala.collection.mutable.Set[Int]] = Nil
  }

  /** Target size of a barrier page in bytes. A page starts at 1/256 of
    * it and doubles while it fills, so a partition of a few rows does
    * not allocate a whole page. */
  private val PageBytes = 1 << 20

  /** The members of a partitioning claim, a `PartitioningCollection`
    * flattened (a projected alias makes one: `select(id, id as label)`
    * over a hash(id) exchange is partitioned by both columns). */
  private def members(p: Partitioning): Seq[Partitioning] = p match {
    case c: PartitioningCollection => c.partitionings.flatMap(members)
    case other => Seq(other)
  }

  /** A partition's rows as pages: each row a 4-byte length and its
    * `UnsafeRow` bytes, up to [[PageBytes]] per page (a larger row fills
    * a page of its own); each page is trimmed to its records. Rows that
    * are not `UnsafeRow`s are projected to one first. */
  private[sql] def pack(rows: Iterator[InternalRow], types: Array[DataType]): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private lazy val toUnsafe = UnsafeProjection.create(types)
      private var pending: UnsafeRow = null // read, but did not fit the last page
      private def take(): UnsafeRow =
        if (!rows.hasNext) null
        else rows.next() match {
          case u: UnsafeRow => u
          case r            => toUnsafe(r)
        }
      def hasNext: Boolean = pending != null || rows.hasNext
      def next(): Array[Byte] = {
        var row = if (pending != null) pending else take()
        if (row == null) throw new NoSuchElementException("no rows left to pack")
        pending = null
        var page = new Array[Byte](math.max(PageBytes >> 8, 4 + row.getSizeInBytes))
        var used = 0
        while (row != null) {
          val need = used + 4 + row.getSizeInBytes
          if (need > page.length && need <= PageBytes)
            page = java.util.Arrays.copyOf(page, math.min(PageBytes, math.max(need, 2 * page.length)))
          if (need > page.length) { pending = row; row = null }
          else {
            Platform.putInt(page, Platform.BYTE_ARRAY_OFFSET + used, row.getSizeInBytes)
            row.writeToMemory(page, Platform.BYTE_ARRAY_OFFSET + used + 4)
            used = need
            row = take()
          }
        }
        if (used == page.length) page else java.util.Arrays.copyOf(page, used)
      }
    }

  /** The records of one page, in order, each read through `row`, which
    * is pointed at it (the same object every time). */
  private[sql] def records(page: Array[Byte], row: UnsafeRow): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var at = 0
      def hasNext: Boolean = at < page.length
      def next(): InternalRow = {
        val len = Platform.getInt(page, Platform.BYTE_ARRAY_OFFSET + at)
        row.pointTo(page, Platform.BYTE_ARRAY_OFFSET + at + 4, len)
        at += 4 + len
        row
      }
    }

  /** The rows of a barrier's page RDD, read in place through one
    * `UnsafeRow` per task. `pages` holds the storage blocks; this RDD
    * holds none. */
  private final class PagedRows(val pages: RDD[Array[Byte]], numFields: Int)
      extends RDD[InternalRow](pages) {
    override protected def getPartitions: Array[Partition] = pages.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val row = new UnsafeRow(numFields)
      pages.iterator(split, context).flatMap(records(_, row))
    }
  }

  /** Eagerly materialize `df` as packed pages (see the header), in ONE
    * job: `df`'s own `QueryExecution` runs under a new SQL execution
    * named `localCheckpoint`, as Spark's own Dataset checkpoint runs
    * it, so an `Observation` on `df` fires and no row is copied on its
    * own. Returns a frame over a `LogicalRDD` leaf that reads the pages;
    * its page RDD is registered with the innermost [[scopedBlocks]]
    * scope of this thread, and [[release]] frees it.
    *
    * Physical properties are PRESERVED: the leaf claims the final
    * physical plan's `outputPartitioning` and `outputOrdering` (under AQE
    * the finalized adaptive plan, whose properties the adaptive leaf
    * hides), renamed by position to the frame's analyzed output (the
    * optimizer may drop an alias such as `toDF("id")`). A leaf with
    * `UnknownPartitioning` would make a "partition once, join every
    * iteration" loop re-shuffle its barrier'd table on EVERY iteration —
    * a full edge-table shuffle × ~100 iterations for converged PageRank.
    * Statistics are the default (`conf.defaultSizeInBytes`), with no
    * inherited constraints. */
  def barrier(df: DataFrame): DataFrame = {
    val dfC = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = dfC.sparkSession
    val qe = dfC.queryExecution
    val output = qe.analyzed.output
    val (pages, plan) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rows = qe.executedPlan.execute()
      // read after execute: only then is an adaptive plan final
      val plan = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val types = plan.output.map(_.dataType).toArray
      val pages = rows.mapPartitionsInternal(pack(_, types))
      pages.localCheckpoint()
      // registered before its job, so a scope also frees a failed one's blocks
      scopeStack.get().headOption.foreach(_ += pages.id)
      pages.doCheckpoint()
      (pages, plan)
    }
    val rename = AttributeMap(plan.output.zip(output))
    def onOutput[E <: Expression](e: E): E =
      e.transform { case a: Attribute => rename.getOrElse(a, a) }.asInstanceOf[E]
    // Claims must be expressed over the leaf's output attributes; keep
    // every member of a collection that is, drop the rest.
    val outSet = AttributeSet(output)
    val kept = members(plan.outputPartitioning).map {
      case e: Expression => onOutput(e).asInstanceOf[Partitioning]
      case p => p
    }.filter {
      case e: Expression => e.references.subsetOf(outSet)
      case _ => true
    }
    val part = kept match {
      case Seq()    => UnknownPartitioning(pages.getNumPartitions)
      case Seq(one) => one
      case many     => PartitioningCollection(many)
    }
    val order = plan.outputOrdering.map(onOutput(_)).takeWhile(_.references.subsetOf(outSet))
    val leaf = LogicalRDD(output, new PagedRows(pages, output.length), part, order,
      df.isStreaming)(spark, originStats = None, originConstraints = None)
    org.apache.spark.sql.classic.Dataset.ofRows(spark, leaf)
  }

  /** The RDD holding a leaf's storage blocks: a barrier's page RDD, or
    * the leaf's own RDD for any other `LogicalRDD`. */
  private def blocks(l: LogicalRDD): RDD[_] = l.rdd match {
    case p: PagedRows => p.pages
    case other        => other
  }

  /** Free the storage blocks of every barrier'd/checkpointed RDD in this
    * frame's plan — for a caller done with a result; library code frees
    * by scope instead. Only call once the frame's data has been consumed —
    * a localCheckpoint'd RDD cannot be recomputed after unpersist.
    * Pass `blocking = true` when the very next operation needs the
    * memory back (bulk releases right before a heavy join); the default
    * fire-and-forget is right for steady-state loop releases. */
  def release(ds: Dataset[_], blocking: Boolean = false): Unit = {
    val dsC = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    dsC.queryExecution.analyzed.foreach {
      case l: LogicalRDD => blocks(l).unpersist(blocking)
      case _             => ()
    }
  }

  /** RDD ids of the block-holding RDDs inside this frame's plan (a
    * barrier's page RDD) — lets a caller sweep the block store while
    * protecting long-lived inputs. */
  def plannedRddIds(ds: Dataset[_]): Set[Int] = {
    val dsC = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    dsC.queryExecution.analyzed.collect { case l: LogicalRDD => blocks(l).id }.toSet
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
