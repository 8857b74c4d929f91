package graft

import graft.graph.{Edge, Generators, UnionFind}
import graft.operators.ConnectedComponents
import graft.operators.ConnectedComponents.{CCStrategy, Config}
import org.apache.spark.sql.Dataset
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based CC (SURVEY.md §5.2.4): arbitrary dirty edge lists
  * (self-loops, duplicates, isolated ids, unnormalized order) ⇒ Spark
  * partition == oracle partition; invariance under permutation/reversal.
  * Drives scalacheck Gens directly with fixed seeds (the scalatest
  * bridge artifact is not on the offline classpath). */
class CCPropertySpec extends SparkSpec {
  import spark.implicits._

  private val edgeListGen: Gen[List[(Long, Long)]] =
    for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 70)
      edges <- Gen.listOfN(m, for {
        u <- Gen.choose(0L, n.toLong)
        v <- Gen.choose(0L, n.toLong)
      } yield (u, v))
    } yield edges

  private def samples(count: Int): Seq[List[(Long, Long)]] =
    (0 until count).map { i =>
      edgeListGen(Gen.Parameters.default, Seed(1000L + i)).get
    }

  private def run(edges: Seq[(Long, Long)], strategy: CCStrategy): Map[Long, Long] =
    run(edges, Config(strategy = strategy))

  private def run(edges: Seq[(Long, Long)], cfg: Config): Map[Long, Long] =
    ConnectedComponents.run(
      spark.createDataset(edges.map(e => Edge(e._1, e._2))), None, cfg)
      .labels.collect().map(l => l.id -> l.label).toMap

  private def edgeList(ds: Dataset[Edge]): Seq[(Long, Long)] =
    ds.collect().map(e => (e.src, e.dst)).toSeq

  private lazy val chain10k = edgeList(Generators.chain(spark, 10000L))

  /** A chain and a star of `n` vertices and four random graphs of n/4. */
  private def generated(n: Long): Seq[(String, Seq[(Long, Long)])] = Seq(
    s"chain($n)" -> edgeList(Generators.chain(spark, n)),
    s"star($n)" -> edgeList(Generators.star(spark, n)),
    s"forest(4 x random(${n / 4}))" -> edgeList(
      Generators.forest(spark, 4, n / 4, (s, m) => Generators.random(s, m, 2 * m, 11L))))

  private lazy val generated10k = generated(10000L)

  /** Hook strategy vs the union-find oracle on the dirty samples and the
    * generated graphs under `cfg`; asserts whether rounds after round 0
    * ran distributed (they pointer-jump; a driver finish records none).
    * The 10k chain also runs with one-edge pre-contraction chunks
    * (`preContractCap = 2`), so the hook sees each edge plus a (dst, dst)
    * row and contracts nothing ahead of it: its hook forest is then one
    * path-shaped tree, ~14 jumps deep, whose frontier labels point into
    * segments finished at ANY earlier jump. A jump that looked them up
    * in less than the full lookup union would leave labels short of the
    * root — still correct after more rounds, so the check is that
    * round 0 contracts the chain to no edge at all. */
  private def checkHookBranches(cfg: Config): Unit = {
    val inputs =
      samples(8).zipWithIndex.map { case (e, i) => (s"dirty sample $i", e, cfg) } ++
        generated10k.map { case (name, e) => (name, e, cfg) } :+
        (("chain(10k), one-edge pre-contraction chunks", chain10k, cfg.copy(preContractCap = 2)))
    var tailRounds = 0
    for ((graph, edges, c) <- inputs) {
      val res = ConnectedComponents.run(
        spark.createDataset(edges.map(e => Edge(e._1, e._2))), None, c)
      withClue(s"$graph: ") {
        res.labels.collect().map(l => l.id -> l.label).toMap shouldBe
          UnionFind.components(edges).toMap
      }
      if (c.preContractCap == 2) withClue(s"$graph: ") {
        res.metrics.head.pointerJumps should be >= 10
        res.metrics.head.edgesOut shouldBe 0L
      }
      tailRounds += res.metrics.drop(1).count(_.pointerJumps > 0)
    }
    if (cfg.driverFinishEdges == 0) tailRounds should be > 0
    else tailRounds shouldBe 0
  }

  // The default thresholds send every jump of these small graphs through
  // the broadcast build side and every tail round to the driver finish;
  // broadcastRefsRows = 0 makes every jump a shuffle-hash join,
  // driverFinishEdges = 0 runs the tail rounds distributed, and
  // broadcastRows = 0 leaves the contraction and driver-finish relabel
  // maps without a broadcast hint.
  test("arbitrary dirty edge lists match the union-find oracle (hook strategy)") {
    checkHookBranches(Config())
  }

  test("hook strategy, broadcastRefsRows = 0: every pointer jump shuffles") {
    checkHookBranches(Config(broadcastRefsRows = 0L, broadcastRows = 0L))
  }

  test("hook strategy, driverFinishEdges = 0: tail rounds run distributed") {
    checkHookBranches(Config(driverFinishEdges = 0L))
  }

  test("hook strategy, shuffle jumps and distributed tail rounds together") {
    checkHookBranches(Config(broadcastRefsRows = 0L, driverFinishEdges = 0L,
      broadcastRows = 0L))
  }

  // A fresh pre-contracted hook run builds its first mapping from round
  // 0's label function, grouped with the extra vertices, and counts its
  // input inside the pre-contraction job; the other strategies count the
  // canonical (deduplicated) input in their one start-up barrier. Every
  // strategy runs as one more input dimension: an edge-free input never
  // enters the round loop, whose shared edge-free path labels every
  // extra vertex with itself and observes the component count.
  test("hook strategy with extra vertices and edge-free inputs matches the union-find oracle") {
    val dirty = samples(3)(2) ++ Seq((7L, 7L), (3L, 9L), (9L, 3L), (3L, 9L))
    val inputs = Seq[(String, Seq[(Long, Long)], Seq[Long])](
      ("extra vertices overlapping the edge vertices", dirty, Seq(0L, 3L, 9L, 9L, 17L)),
      ("isolated extra vertices", dirty, Seq(1000L, 1001L, 1001L, 1002L)),
      ("edge-free input with extra vertices", Seq((4L, 4L)), Seq(4L, 5L, 5L, 6L)),
      ("edge-free input without extra vertices", Seq((4L, 4L)), Nil))
    for ((name, edges, extras) <- inputs; strategy <- CCStrategy.all)
      withClue(s"$name, ${strategy.name}: ") {
        val cleaned = edges.filter { case (u, v) => u != v } // duplicates kept
        val oracle = UnionFind.components(cleaned, extras).toMap
        val res = ConnectedComponents.run(
          spark.createDataset(edges.map(e => Edge(e._1, e._2))),
          if (extras.isEmpty) None else Some(spark.createDataset(extras)),
          Config(strategy = strategy))
        val labels = res.labels.collect()
        labels.length shouldBe oracle.size // one row per vertex
        labels.map(l => l.id -> l.label).toMap shouldBe oracle
        res.components shouldBe Some(oracle.values.toSet.size.toLong)
        val edgesIn =
          if (strategy == CCStrategy.HookAndContract) cleaned.size
          else cleaned.map { case (u, v) => (u min v, u max v) }.distinct.size
        if (cleaned.isEmpty) res.metrics shouldBe empty
        else res.metrics.head.edgesIn shouldBe edgesIn.toLong
      }
  }

  // Samples 0-3 already run these strategies in "strategies agree". The
  // star and randomized strategies need O(log n) rounds of several jobs
  // each, so the inputs are fewer and smaller than the hook tests'.
  test("star, sampled and randomized strategies match the union-find oracle") {
    val inputs =
      samples(6).zipWithIndex.drop(4).map { case (e, i) => (s"dirty sample $i", e) } ++
        generated(1000L)
    val configs = Seq(
      Config(strategy = CCStrategy.AlternatingStar),
      Config(strategy = CCStrategy.SampledContraction),
      Config(strategy = CCStrategy.RandomizedHook),
      Config(strategy = CCStrategy.RandomizedHook, broadcastRows = 0L))
    for ((graph, edges) <- inputs; cfg <- configs)
      withClue(s"$graph, ${cfg.strategy}, broadcastRows = ${cfg.broadcastRows}: ") {
        run(edges, cfg) shouldBe UnionFind.components(edges).toMap
      }
  }

  // The 10k graphs under the other three strategies. On the chain and
  // the star (9,999 edges, under the sample bound of ≈ 18 k) the sampled
  // strategy takes the whole edge set in one superstep; on the forest
  // (~20 k edges over ~10 k vertices) it contracts a sample first and
  // finishes with a whole-set superstep, so both kinds of driver round run.
  test("star, sampled and randomized strategies on the 10k graphs match the union-find oracle") {
    val strategies =
      Seq(CCStrategy.AlternatingStar, CCStrategy.SampledContraction, CCStrategy.RandomizedHook)
    for ((graph, edges) <- generated10k; strategy <- strategies)
      withClue(s"$graph, ${strategy.name}: ") {
        val res = ConnectedComponents.run(
          spark.createDataset(edges.map(e => Edge(e._1, e._2))), None, Config(strategy = strategy))
        res.labels.collect().map(l => l.id -> l.label).toMap shouldBe
          UnionFind.components(edges).toMap
        if (strategy == CCStrategy.SampledContraction) {
          val out = res.metrics.map(_.edgesOut)
          if (graph.startsWith("forest")) {
            out.head should be > 0L
            out.last shouldBe 0L
          } else res.metrics.map(m => (m.edgesIn, m.edgesOut)) shouldBe
            Seq((edges.size.toLong, 0L))
        }
      }
  }

  // One sampled edge per round: on a forest each round contracts at most
  // that edge (a forest stays duplicate-free under contraction), so the
  // run takes at least one superstep per edge. The graph stays well under
  // maxRounds. A round whose Bernoulli pre-sample comes up empty takes
  // the first edge instead, so every superstep contracts one edge.
  test("sampled strategy, sampleHardCap = 1: at most one edge contracted per superstep") {
    val forest = (0L until 11L).map(i => (i, i + 1)) ++ (21L until 28L).map(i => (20L, i))
    val res = ConnectedComponents.run(
      spark.createDataset(forest.map(e => Edge(e._1, e._2))), None,
      Config(strategy = CCStrategy.SampledContraction, sampleHardCap = 1L))
    res.labels.collect().map(l => l.id -> l.label).toMap shouldBe
      UnionFind.components(forest).toMap
    res.metrics.head.edgesIn shouldBe forest.size.toLong
    res.metrics.foreach(m => (m.edgesIn - m.edgesOut) should (be >= 0L and be <= 1L))
    res.metrics.foreach(m => m.edgesOut should be < m.edgesIn)
    res.metrics.size should (be >= forest.size and be < Config().maxRounds)
    res.metrics.last.edgesOut shouldBe 0L
  }

  // A sample bound n^(1 + eps/2) * (1 + delta) at or above the edge count
  // collects the whole edge set: one superstep, a driver round that
  // leaves no edge. eps and delta are constants, so the input sits inside
  // the bound: ten 10-vertex paths (a forest, 90 edges over 100
  // vertices, bound ≈ 148). The same forest with the sample capped under
  // its edge count takes a second superstep.
  test("sampled strategy, large sampleEps: the whole edge set in one superstep") {
    val edges = for (c <- 0L until 10L; u <- 0L until 9L) yield (10 * c + u, 10 * c + u + 1)
    val oracle = UnionFind.components(edges).toMap
    def metrics(cfg: Config): Seq[(Long, Long)] = {
      val res = ConnectedComponents.run(
        spark.createDataset(edges.map(e => Edge(e._1, e._2))), None, cfg)
      res.labels.collect().map(l => l.id -> l.label).toMap shouldBe oracle
      res.metrics.map(m => (m.edgesIn, m.edgesOut))
    }
    val sampled = Config(strategy = CCStrategy.SampledContraction)
    metrics(sampled.copy(sampleHardCap = 60L)).size should be >= 2
    metrics(sampled) shouldBe Seq((edges.size.toLong, 0L))
  }

  // The sample bound's n is the number of distinct endpoints: a chain's
  // interior vertices sit in both columns and count once.
  test("sampled strategy: the vertex estimate of a 300-vertex chain is within 5 % of 300") {
    val chain = (0L until 299L).map(i => Edge(i, i + 1))
    val res = ConnectedComponents.run(spark.createDataset(chain), None,
      Config(strategy = CCStrategy.SampledContraction))
    res.metrics.head.verticesActive.toDouble shouldBe 300.0 +- 15.0
  }

  test("edge order and orientation do not change the result") {
    for (edges <- samples(4)) {
      val reversed = edges.reverse.map(_.swap)
      run(edges, CCStrategy.HookAndContract) shouldBe
        run(reversed, CCStrategy.HookAndContract)
    }
  }

  test("strategies agree on arbitrary inputs") {
    for (edges <- samples(4)) {
      val a = run(edges, CCStrategy.HookAndContract)
      withClue(s"edges=$edges") {
        run(edges, CCStrategy.AlternatingStar) shouldBe a
        run(edges, CCStrategy.SampledContraction) shouldBe a
        run(edges, CCStrategy.RandomizedHook) shouldBe a
      }
    }
  }
}
