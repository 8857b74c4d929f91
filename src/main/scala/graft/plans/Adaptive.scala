package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftLineage, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Scale-adaptive partition counts for the iterative operators' loop
  * tables (guide §2.2/§2.5: derive partitioning from input size instead
  * of pinning a constant tuned for one deployment).
  *
  * The iterative loops hash-partition their adjacency/state tables ONCE
  * and reuse that partitioning every iteration — but the explicit
  * `repartition(n, col)` pins `n`, and AQE never coalesces a
  * user-specified partition count. With the session default (= core
  * count locally, larger on clusters) a small derived graph pays
  * per-task scheduling overhead × partitions × iterations for
  * partitions holding a few thousand rows each (measured on the bench
  * host: the 12-iteration katz loop dropped 8.7 s → 3.0 s when its
  * ~800k-row loop tables went from 32 to 8 partitions; per-stage task
  * overhead was the floor, not compute).
  *
  * `forRows` keeps partitions at ~`rowsPerPartition` rows, clamped to
  * [1, spark.sql.shuffle.partitions] — so at scale (rows ≥
  * rowsPerPartition × configured partitions) it returns exactly the
  * session setting and changes nothing; only small inputs coalesce.
  * The target is row-based, not byte-based, because these loop rows are
  * fixed-width (8-24 B): 100k rows ≈ 1-2 MB per task keeps a stage's
  * task count proportional to its data while staying far above the
  * per-task scheduling cost.
  *
  * A loop table never has ONE partition unless the session does: a
  * 1-partition table claims `SinglePartition`, which matches no
  * hash-partitioned state, so every step re-shuffled both sides of its
  * join to the session count. */
object Adaptive {
  val rowsPerPartition: Long = 100000L

  /** Partition count for a loop table of `rows` rows: ceil(rows /
    * rowsPerPartition), clamped to [1, session shuffle partitions]. */
  def forRows(spark: SparkSession, rows: Long): Int = {
    val conf = spark.sessionState.conf.numShufflePartitions
    val want = (math.max(0L, rows) + rowsPerPartition - 1) / rowsPerPartition
    math.max(1L, math.min(conf.toLong, want)).toInt
  }

  /** The iterative operators' loop-table prelude: hash-partition `df`
    * by `keys` at the session count in ONE barrier job that also
    * observes its row count, then re-key it down to [[forRows]] when that
    * is much smaller (at scale, adaptive == session, this adds no second
    * pass). Returns the loop table, its row count and the partition
    * count the loop should use for its state tables and its exchanges.
    * A table [[forRows]] would put in one partition is re-keyed to 2,
    * so the state, the adjacency and a step's message exchange share one
    * hash partitioning. Runs in its own block scope, so a re-keyed
    * table's session-count copy is freed before this returns. */
  def loopTable(df: DataFrame, keys: Seq[Column]): (DataFrame, Long, Int) = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf.numShufflePartitions
    GraftLineage.scopedFrames(spark)((t: (DataFrame, Long, Int)) => Seq(t._1)) {
      val (table, obs) = GraftLineage.barrierObserved(
        df.repartition(conf, keys: _*), count(lit(1)).as("n"))
      val rows = obs("n").asInstanceOf[Long]
      val want = forRows(spark, rows)
      // re-keying costs one extra pass over the table — only worth it when
      // the task-count reduction is substantial (≥4×); marginal shrinks
      // (e.g. 32 → 10 on a loop that converges in 3 rounds) measured as a
      // net loss on the bench host
      if (want * 4 > conf) (table, rows, conf)
      else {
        val p = math.max(2, want)
        (GraftLineage.barrier(table.repartition(p, keys: _*)), rows, p)
      }
    }
  }
}
