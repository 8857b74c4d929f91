package graft.tools

import graft.Env
import graft.graph.Generators
import graft.operators.ConnectedComponents
import org.apache.spark.sql.GraftLineage
import org.apache.spark.sql.GraftLineage._
import org.apache.spark.sql.SparkSession

/** A/B harness for the two pointer-jump branches: arms = `refs` (a
  * frontier of at most `Config.broadcastRefsRows` rows — the shipped
  * default — semi-filters the lookup on
  * its labels and joins it as a broadcast) vs `plain` (threshold 0: every
  * jump shuffle-hash joins the whole lookup), interleaved in ONE JVM
  * on the synthetic 16 M-edge suite. Wall on this host is ±30-50% noise;
  * the decision signals are total shuffle WRITE bytes and job counts per
  * pass (plan-deterministic: the same plan shuffles the same bytes and
  * runs the same jobs whatever the host load).
  *
  * Env: SPARK_GRAFT_AB_REPS (default 3), SPARK_GRAFT_BENCH_SCALE
  * (default 2000000 → 16 M edges), SPARK_GRAFT_CPUS (default 8 — the
  * config where the round-5 Amdahl decomposition located the flat
  * ~4 s/jump lookup shuffle).
  */
object ProfileCCRefs {
  def main(args: Array[String]): Unit = {
    val reps = Env.int("SPARK_GRAFT_AB_REPS", 3)
    val scale = Env.long("SPARK_GRAFT_BENCH_SCALE", 2000000L)
    val (cpus, cores) = Env.cpus("SPARK_GRAFT_CPUS", 8)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ab-ccrefs")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val suite = Generators.benchSuite(spark, scale, seed = 42L).cutLineage()
    System.err.println(s"[ab-ccrefs] suite edges=${suite.count()} scale=$scale cpus=$cpus")
    val keep: Set[Int] = GraftLineage.plannedRddIds(suite)
    def sweep(): Unit = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep(id) }
      .values.foreach(_.unpersist(blocking = true))

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })

    // (name, broadcastRefsRows): 0 sends every jump through the shuffle
    val arms = Seq(
      "refs" -> ConnectedComponents.Config().broadcastRefsRows,
      "plain" -> 0L)
    def ccPass(refsRows: Long): Int = {
      val res = ConnectedComponents.run(suite, None,
        ConnectedComponents.Config(broadcastRefsRows = refsRows))
      val n = res.metrics.size
      GraftLineage.release(res.labels, blocking = true)
      n
    }
    // warm-up both arms (JIT + codegen), unrecorded
    arms.foreach { case (_, r) => ccPass(r); sweep() }

    for (rep <- 1 to reps; (name, refsRows) <- arms) {
      Thread.sleep(300)
      val b0 = shuffleBytes.get(); val j0 = jobs.get()
      val t0 = System.nanoTime()
      val steps = ccPass(refsRows)
      val sec = (System.nanoTime() - t0) / 1e9
      sweep(); Thread.sleep(300)
      println(f"[ab-ccrefs] rep=$rep arm=$name%-5s sec=$sec%7.2f " +
        f"shuffleMB=${(shuffleBytes.get() - b0) / 1e6}%9.1f " +
        f"jobs=${jobs.get() - j0}%3d supersteps=$steps")
    }
    spark.stop()
  }
}
