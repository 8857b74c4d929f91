package graft

import graft.graph.Edge
import graft.operators.{Centrality, GraphMetrics, LabelPropagation, PageRank, StronglyConnected,
  Traversal, TriangleCount}
import graft.plans.{CheckpointManager, LoopCheckpoint}
import org.apache.spark.sql.{DataFrame, GraftLineage}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The contract of the loop driver `GraftLineage.iterate`, the
  * checkpoint helper `LoopCheckpoint`, the failure cleanup of
  * `GraftLineage.scopedBlocks`, and the block contract of the operators
  * that free by scope: a call leaves behind exactly the blocks of its
  * result, and nothing when it throws. */
class LoopDriverSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** (id, v) with v = 0, barrier'd on 4 partitions by id. */
  private def counter(n: Int): DataFrame =
    GraftLineage.barrier(spark.range(n).select($"id", lit(0L).as("v")).repartition(4, $"id"))

  /** v + 1 per row, through one shuffle. */
  private def bump(df: DataFrame): DataFrame =
    df.groupBy($"id").agg((sum($"v") + 1L).as("v"))

  test("after each round only the live state and the caller's static tables are persisted") {
    val before = persisted
    val static = GraftLineage.barrier(spark.range(5).toDF("k"))
    val staticIds = GraftLineage.plannedRddIds(static)
    // (persisted, expected) as each round starts
    val seen = scala.collection.mutable.Buffer.empty[(Set[Int], Set[Int])]
    val out = GraftLineage.iterate(counter(8), 0, 4, chunk = 1) { (s, _, _) =>
      seen += ((persisted -- before, GraftLineage.plannedRddIds(s) ++ staticIds))
      // a step's own barrier lives for its round only
      bump(GraftLineage.barrier(s))
    }
    seen.size shouldBe 4
    seen.foreach { case (live, expect) => live shouldBe expect }
    (persisted -- before) shouldBe (GraftLineage.plannedRddIds(out.state) ++ staticIds)
    out.state.agg(max($"v")).head().getLong(0) shouldBe 4L
    GraftLineage.release(out.state); GraftLineage.release(static)
    persisted shouldBe before
  }

  test("a chunk = k round is one Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // with AQE off, jobs = driver actions (AQE runs each shuffle stage
    // as its own job)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val state0 = counter(16)
      def settle(): Int = {
        var prev = -1
        var spins = 0
        while (jobs.get() != prev && spins < 50) {
          prev = jobs.get(); Thread.sleep(100); spins += 1
        }
        prev
      }
      spark.sparkContext.addSparkListener(listener)
      val out = GraftLineage.iterate(state0, 0, 6, chunk = 3,
          metrics = Seq(max($"v").as("mx")))((s, _, _) => bump(s))
      settle() shouldBe 2
      out.iter shouldBe 6
      out.obs("mx") shouldBe 6L
      GraftLineage.release(out.state)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  test("stop and maxIter end the loop where they should") {
    val steps = scala.collection.mutable.Buffer.empty[(Int, Boolean)]
    def run(maxIter: Int, chunk: Int, stopAt: Long) = {
      steps.clear()
      val out = GraftLineage.iterate(counter(4), 0, maxIter, chunk,
          metrics = Seq(max($"v").as("mx")), obs0 = Map("mx" -> 0L),
          stop = (prev, o) => o("mx").asInstanceOf[Long] >= stopAt &&
            prev("mx").asInstanceOf[Long] < stopAt) { (s, i, obs) =>
        steps += ((i, obs.isDefined))
        bump(s)
      }
      GraftLineage.release(out.state)
      (out.iter, out.stopped, out.obs("mx"))
    }
    run(maxIter = 10, chunk = 1, stopAt = 3L) shouldBe ((3, true, 3L))
    steps shouldBe Seq((0, true), (1, true), (2, true))
    run(maxIter = 3, chunk = 1, stopAt = 100L) shouldBe ((3, false, 3L))
    // chunks of 2 and a last chunk of 1; only a round's first step sees
    // an observation
    run(maxIter = 5, chunk = 2, stopAt = 100L) shouldBe ((5, false, 5L))
    steps shouldBe Seq((0, true), (1, false), (2, true), (3, false), (4, true))
    // stop is read per round, so a mid-chunk fixpoint ends at the chunk
    run(maxIter = 10, chunk = 2, stopAt = 3L) shouldBe ((4, true, 4L))
    // no round at all when startIter >= maxIter
    val idle = GraftLineage.iterate(counter(2), 3, 3, 1)((s, _, _) => bump(s))
    idle.iter shouldBe 3
    idle.stopped shouldBe false
    GraftLineage.release(idle.state)
  }

  test("a checkpointed run takes one step per barrier") {
    val edges = graft.graph.Generators.random(spark, 300, 450, seed = 13L)
    val dir = Files.createTempDirectory("graft-loop-ckpt").toString
    val res = LabelPropagation.run(edges, cfg = LabelPropagation.Config(
      maxIter = 7, checkpointEvery = 100, checkpointDir = Some(dir), runId = "ld"))
    // one metrics row per barrier: the rows count 1, 2, 3, … (an
    // unchecked run composes 2 updates per barrier)
    val steps = new CheckpointManager(spark, dir).loadMetrics()
      .filter($"runId" === "ld").select($"superstep").as[Int].collect().sorted
    steps.toSeq shouldBe (1 to res.iterations)
    GraftLineage.release(res.labels)
  }

  test("a step that throws on round 3 leaves no persisted RDD behind") {
    val before = persisted
    val e = intercept[IllegalStateException] {
      GraftLineage.iterate(counter(8), 0, 10, chunk = 1,
          metrics = Seq(max($"v").as("mx"))) { (s, i, _) =>
        if (i == 2) throw new IllegalStateException("boom")
        GraftLineage.barrier(s) // a step-owned barrier too
        bump(s)
      }
    }
    e.getMessage shouldBe "boom"
    persisted shouldBe before
    // a stop predicate that throws is cleaned up the same way
    intercept[ArithmeticException] {
      GraftLineage.iterate(counter(8), 0, 10, chunk = 2,
        stop = (_, _) => throw new ArithmeticException("stop"))((s, _, _) => bump(s))
    }
    persisted shouldBe before
  }

  test("LoopCheckpoint.open throws on an empty directory and on the wrong algo tag") {
    val empty = Files.createTempDirectory("graft-loop-none").toString
    def ck(dir: String, algo: String) =
      new LoopCheckpoint(spark, dir, algo, "t", 1, static = "adj", state = "state")
    val none = the[IllegalStateException] thrownBy ck(empty, "sssp").open(Nil, Nil)
    none.getMessage shouldBe s"no checkpoint under $empty"
    val dir = Files.createTempDirectory("graft-loop-tag").toString
    new CheckpointManager(spark, dir).save(1, Map("state" -> spark.range(2).toDF("id")),
      Map("algo" -> "lpa", "iter" -> "1", "adjStep" -> "1"))
    val wrong = the[IllegalStateException] thrownBy ck(dir, "sssp").open(Nil, Nil)
    wrong.getMessage shouldBe s"not an sssp checkpoint under $dir (algo='lpa')"
    val wrongPr = the[IllegalStateException] thrownBy ck(dir, "pagerank").open(Nil, Nil)
    wrongPr.getMessage shouldBe s"not a pagerank checkpoint under $dir (algo='lpa')"
  }

  test("non-converging peeling loops free every block they made when they throw") {
    // K4 plus a pendant path: every loop below needs a second round to
    // see its fixpoint, so maxIter = 1 makes each of them throw from
    // inside its block scope
    val k4 = for (u <- 0L until 4L; v <- (u + 1) until 4L) yield Edge(u, v)
    val edges = spark.createDataset(k4 ++ Seq(Edge(3L, 4L), Edge(4L, 5L)))
    val dag = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val calls = Seq[(String, () => DataFrame)](
      "kCoreVertices" -> (() => Traversal.kCoreVertices(edges, k = 3, maxIter = 1)),
      "coreness" -> (() => Traversal.coreness(edges, maxIter = 1)),
      "dagLevels" -> (() => StronglyConnected.dagLevels(dag, maxRounds = 1)),
      "kTruss" -> (() => TriangleCount.kTruss(edges, k = 4, maxIter = 1)))
    for ((name, call) <- calls) withClue(name) {
      val before = persisted
      val e = the[IllegalArgumentException] thrownBy call()
      e.getMessage should include("did not converge")
      persisted shouldBe before
    }
  }

  test("betweenness past maxHops throws and frees every block it made") {
    val p21 = spark.createDataset((0L until 20L).map(i => Edge(i, i + 1)))
    val before = persisted
    val e = the[IllegalStateException] thrownBy
      graft.operators.Centrality.betweenness(p21, (0L to 20L), maxHops = 3)
    e.getMessage should include("not converged within maxHops")
    persisted shouldBe before
  }

  test("scc past maxRounds throws and frees every block it made") {
    // descending chain of 2-cycles: each round resolves one layer
    val chain = Seq((9L, 8L), (8L, 9L), (8L, 7L), (7L, 6L), (6L, 7L),
      (6L, 5L), (5L, 4L), (4L, 5L)).toDF("src", "dst")
    val before = persisted
    val e = the[IllegalStateException] thrownBy StronglyConnected.scc(chain, maxRounds = 1)
    e.getMessage should include("unresolved after")
    persisted shouldBe before
  }

  test("operators that throw free every block they made") {
    val edges = graft.graph.Generators.random(spark, 40, 60, seed = 5L)
    val chain = spark.createDataset((0L until 11L).map(i => (i, i + 1, 1L)))
      .toDF("src", "dst", "weight")
    val docs = Seq((0L, "a b c d e f g"), (1L, "a b c d e f g h"), (2L, "p q r s t u"))
      .toDF("doc_id", "text")
    val calls = Seq[(String, () => Any)](
      "PageRank.personalized, no source in the graph" -> (() =>
        PageRank.personalized(edges, spark.createDataset(Seq(1000L, 1001L)))),
      "Traversal.weightedDistances past maxIter" -> (() =>
        Traversal.weightedDistances(chain, Seq(0L), maxIter = 3)),
      "Corpus.contamination on duplicate ids" -> (() =>
        graft.functions.Corpus.contamination(docs.union(docs.filter($"doc_id" === 2L)),
          $"doc_id", $"text", $"doc_id" === 0L, k = 5)))
    for ((name, call) <- calls) withClue(name) {
      val before = persisted
      a[RuntimeException] should be thrownBy call()
      persisted shouldBe before
    }
  }

  test("entry points that free by scope leave exactly their result's blocks") {
    val edges = graft.graph.Generators.random(spark, 60, 90, seed = 7L)
    val weighted = edges.toDF().withColumn("weight", $"src" % 3L + 1L)
    val seeds = Seq((0L, 1L), (5L, 2L)).toDF("id", "label")
    val directed = edges.toDF().union(Seq((1L, 0L), (2L, 1L)).toDF("src", "dst"))
    val vectors = spark.createDataset((0L until 24L).map(i =>
      i -> Seq.tabulate(8)(j => ((i * 7 + j * 3) % 11).toDouble))).toDF("vec_id", "embedding")
    // checkpoint directories the resumes read, written before any call is measured
    def ckDir(run: String => Any): String = {
      val dir = Files.createTempDirectory("graft-scope-ckpt").toString
      run(dir) match {
        case r: LabelPropagation.Result => GraftLineage.release(r.labels)
        case r: PageRank.Result => GraftLineage.release(r.ranks)
        case _ => ()
      }
      dir
    }
    def lpaCfg(dir: String) =
      LabelPropagation.Config(maxIter = 2, checkpointEvery = 1, checkpointDir = Some(dir))
    val lpaDir = ckDir(d => LabelPropagation.run(edges, cfg = lpaCfg(d)))
    val seededDir = ckDir(d => LabelPropagation.runSeeded(edges, seeds, lpaCfg(d)))
    val prDir = ckDir(d => PageRank.run(edges,
      cfg = PageRank.Config(maxIter = 2, checkpointEvery = 1, checkpointDir = Some(d))))
    // a weighted chain needs a round per hop, so maxIter = 3 throws after two snapshots
    val chain = spark.createDataset((0L until 11L).map(i => (i, i + 1, i + 1)))
      .toDF("src", "dst", "weight")
    val ssspDir = ckDir(d => intercept[IllegalStateException](Traversal.weightedDistances(
      chain, Seq(0L), maxIter = 3, checkpointDir = Some(d), checkpointEvery = 1)))
    val lpa = LabelPropagation.Config(maxIter = 6)
    val calls = Seq[(String, () => DataFrame)](
      "LabelPropagation.run" -> (() => LabelPropagation.run(edges, cfg = lpa).labels),
      "LabelPropagation.runWeightedGraph" -> (() =>
        LabelPropagation.runWeightedGraph(weighted, cfg = lpa).labels),
      "LabelPropagation.runSeeded" -> (() =>
        LabelPropagation.runSeeded(edges, seeds, lpa).labels),
      "LabelPropagation.resume" -> (() => LabelPropagation.resume(spark, lpaDir, lpa).labels),
      "LabelPropagation.resumeSeeded" -> (() =>
        LabelPropagation.resumeSeeded(spark, seededDir, lpa).labels),
      "PageRank.run" -> (() => PageRank.run(edges).ranks),
      "PageRank.personalized" -> (() =>
        PageRank.personalized(edges, spark.createDataset(Seq(0L, 5L)),
          cfg = PageRank.Config(maxIter = 6, tol = 0.0)).ranks),
      "PageRank.runWeightedGraph" -> (() => PageRank.runWeightedGraph(weighted).ranks),
      "PageRank.resume" -> (() => PageRank.resume(spark, prDir, PageRank.Config(maxIter = 6)).ranks),
      "Traversal.weightedDistances" -> (() => Traversal.weightedDistances(weighted, Seq(0L, 5L))),
      "Traversal.resumeWeightedDistances" -> (() =>
        Traversal.resumeWeightedDistances(spark, ssspDir)),
      "StronglyConnected.scc" -> (() => StronglyConnected.scc(directed)),
      "GraphMetrics.prefixSum" -> (() =>
        GraphMetrics.prefixSum(spark.range(50).select($"id", ($"id" % 7).as("v")), "id", "v")),
      "Similarity.kMeansModel" -> (() =>
        graft.functions.Similarity.kMeansModel(vectors, k = 3, dim = 8, iters = 2)._1),
      "Similarity.pqCodes" -> (() =>
        graft.functions.Similarity.pqCodes(vectors, m = 2, k = 3, dim = 8, iters = 2)),
      "Centrality.hits" -> (() => Centrality.hits(directed, maxIter = 3)))
    for ((name, call) <- calls) withClue(name) {
      val before = persisted
      val out = call()
      (persisted -- before) shouldBe GraftLineage.plannedRddIds(out)
      GraftLineage.release(out, blocking = true)
      persisted shouldBe before
    }
  }
}
