package graft.plans

import graft.graph.SuperstepMetrics
import org.apache.spark.sql.{Column, DataFrame, GraftLineage, SparkSession}

/** Durable snapshots for the iterative operators other than CC
  * (PageRank, LPA, seeded LPA, weighted SSSP), kept from their
  * [[GraftLineage.iterate]] hook: one metrics row per round, and a
  * snapshot of the `state` table every `every` iterations while the
  * loop continues. The static table (e.g. the adjacency) is written
  * once, at the first snapshot; each manifest names that step as
  * `<static>Step`, next to `algo`, `iter` and the run's resume scalars.
  * CC keeps its own ledger: it also snapshots after its last round. */
final class LoopCheckpoint(spark: SparkSession, dir: String, algo: String,
                           runId: String, every: Int,
                           static: String, state: String) {
  private val ck = new CheckpointManager(spark, dir)
  private var staticStep: Option[Int] = None

  /** Record one finished round: its metrics row, then — on the cadence,
    * when another round follows — a snapshot under a manifest with `meta`. */
  def record(r: GraftLineage.Round, stateDf: DataFrame, staticDf: DataFrame,
             meta: Map[String, String], edgesIn: Long = 0L,
             verticesActive: Long = -1L): Unit = {
    ck.appendMetrics(Seq(SuperstepMetrics(runId, algo, r.iter, edgesIn, 0L,
      verticesActive, 0, r.ms)))
    if (r.iter % every == 0 && r.continues) {
      val first = staticStep.isEmpty
      if (first) staticStep = Some(r.iter)
      ck.save(r.iter,
        Map(state -> stateDf) ++ (if (first) Map(static -> staticDf) else Map.empty),
        meta ++ Map("algo" -> algo, "iter" -> r.iter.toString,
          s"${static}Step" -> staticStep.get.toString))
    }
  }

  /** Reopen the latest snapshot for a resume: its manifest meta, the
    * static table and the state, each hash-partitioned by its keys at
    * the session count and barrier'd. Throws when `dir` holds no
    * snapshot or one of another algorithm. */
  def open(staticKeys: Seq[Column], stateKeys: Seq[Column])
      : (Map[String, String], DataFrame, DataFrame) = {
    val step = ck.latestStep().getOrElse(
      throw new IllegalStateException(s"no checkpoint under $dir"))
    val meta = ck.meta(step)
    val tag = meta.getOrElse("algo", "")
    if (tag != algo) {
      // tags read as letters take "an" (an lpa, an sssp), words "a"
      val article = if ("aeiolsx".contains(algo.head)) "an" else "a"
      throw new IllegalStateException(
        s"not $article $algo checkpoint under $dir (algo='$tag')")
    }
    val p = spark.sessionState.conf.numShufflePartitions
    // the resumed run's snapshots point at the static table on disk
    staticStep = Some(meta(s"${static}Step").toInt)
    val staticDf = GraftLineage.barrier(
      ck.load(staticStep.get, static).repartition(p, staticKeys: _*))
    val stateDf = GraftLineage.barrier(
      ck.load(step, state).repartition(p, stateKeys: _*))
    (meta, staticDf, stateDf)
  }
}
