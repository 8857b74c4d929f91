package org.apache.spark.sql

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

  /** `PartitioningCollection` can't survive on a leaf whose join
    * siblings are gone — keep its first (primary) partitioning, exactly
    * like Spark's own `LogicalRDD.fromDataset`. */
  @annotation.tailrec
  private def firstLeafPartitioning(
      p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning = p match {
    case c: org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection =>
      firstLeafPartitioning(c.partitionings.head)
    case other => other
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
        val (part0, order0) = (l.outputPartitioning, l.outputOrdering) match {
          case (_: org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning, _) =>
            val dfC = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
            dfC.queryExecution.executedPlan match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                val fp = a.executedPlan
                (firstLeafPartitioning(fp.outputPartitioning), fp.outputOrdering)
              case _ => (l.outputPartitioning, l.outputOrdering)
            }
          case other => other
        }
        // Claims must be expressed over the rewrapped output attributes
        // (same exprIds as the physical plan's); drop anything that isn't.
        val outSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(l.output)
        val part = part0 match {
          case e: org.apache.spark.sql.catalyst.expressions.Expression
              if !e.references.subsetOf(outSet) => l.outputPartitioning
          case p => p
        }
        val order = order0.takeWhile(_.references.subsetOf(outSet))
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
    * result is handed to the parent scope, which releases it in turn. */
  def scopedBlocks[T](spark: SparkSession)(body: => Dataset[T]): Dataset[T] = {
    val scope = scala.collection.mutable.Set.empty[Int]
    scopeStack.set(scope :: scopeStack.get())
    try {
      val out = body
      val keep = plannedRddIds(out)
      val persistent = spark.sparkContext.getPersistentRDDs
      (scope.toSet -- keep).foreach(id =>
        persistent.get(id).foreach(_.unpersist(blocking = false)))
      out
    } finally {
      val rest = scopeStack.get().tail
      scopeStack.set(rest)
      // the parent scope inherits everything (released ids are absent
      // from getPersistentRDDs by then — double-release is a no-op)
      rest.headOption.foreach(_ ++= scope)
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
