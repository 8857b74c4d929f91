package graft

import graft.graph.{Edge, Generators, GraphIO, UnionFind}
import graft.operators.ConnectedComponents
import graft.operators.ConnectedComponents.{CCStrategy, Config}
import org.apache.spark.sql.{Dataset, GraftLineage}
import org.apache.spark.sql.GraftLineage._

/** CC correctness vs the plain-Scala union-find oracle on the reference's
  * own fixture graphs and the north-star synthetic shapes. Canonical label
  * = component max-vertex-id (SURVEY.md §3.5). */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def oracleOf(edges: Seq[(Long, Long)], vertices: Seq[Long] = Nil): Map[Long, Long] =
    UnionFind.components(edges, vertices).toMap

  private def sparkCC(edges: Seq[(Long, Long)], strategy: CCStrategy,
                      vertices: Seq[Long] = Nil): Map[Long, Long] = {
    val ds = spark.createDataset(edges.map { case (u, v) => Edge(u, v) })
    val extra = if (vertices.isEmpty) None else Some(spark.createDataset(vertices))
    ConnectedComponents.run(ds, extra, Config(strategy = strategy))
      .labels.collect().map(l => l.id -> l.label).toMap
  }

  private val strategies = Seq(
    CCStrategy.HookAndContract, CCStrategy.AlternatingStar,
    CCStrategy.SampledContraction, CCStrategy.RandomizedHook)

  test("small.txt: labels exact vs oracle, all strategies") {
    val g = GraphIO.readTextGraph(spark, resourcePath("graphs/small.txt"))
    g.vertexCount shouldBe 6L
    val edges = g.edges.collect().map(e => (e.src, e.dst)).toSeq
    val oracle = oracleOf(edges, 0L until g.vertexCount)
    for (s <- strategies) {
      val got = sparkCC(edges, s, 0L until g.vertexCount)
      got shouldBe oracle
    }
  }

  test("slide.txt exact labels, all strategies") {
    val g = GraphIO.readTextGraph(spark, resourcePath("graphs/slide.txt"))
    val edges = g.edges.collect().map(e => (e.src, e.dst)).toSeq
    val oracle = oracleOf(edges, 0L until g.vertexCount)
    for (s <- strategies) sparkCC(edges, s, 0L until g.vertexCount) shouldBe oracle
  }

  test("medium1.txt + medium2.txt exact labels (hook strategy)") {
    for (name <- Seq("graphs/medium1.txt", "graphs/medium2.txt")) {
      val g = GraphIO.readTextGraph(spark, resourcePath(name))
      GraphIO.validateBounds(g.edges, g.vertexCount)
      val edges = g.edges.collect().map(e => (e.src, e.dst)).toSeq
      val oracle = oracleOf(edges, 0L until g.vertexCount)
      sparkCC(edges, CCStrategy.HookAndContract, 0L until g.vertexCount) shouldBe oracle
    }
  }

  test("text reader is multi-split safe: tiny maxPartitionBytes, same graph") {
    // Force Spark to split medium1.txt (23 KB) into many file splits —
    // the header must still be identified as the first line of the FILE,
    // not of whichever split a monotonically_increasing_id ordering
    // happens to rank first (the round-2 single-split assumption).
    val path = resourcePath("graphs/medium1.txt")
    val whole = GraphIO.readTextGraph(spark, path)
    val wholeEdges = whole.edges.collect().map(e => (e.src, e.dst)).sorted
    val conf = spark.conf
    val prev = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      conf.set("spark.sql.files.maxPartitionBytes", "2048")
      val split = GraphIO.readTextGraph(spark, path)
      split.edges.rdd.getNumPartitions should be > 1 // the split actually happened
      split.vertexCount shouldBe whole.vertexCount
      split.edgeCount shouldBe whole.edgeCount
      split.edges.collect().map(e => (e.src, e.dst)).sorted shouldBe wholeEdges
    } finally conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("text reader anchors the header per file: directory of shards reads as one graph") {
    // ADVICE r3: with a directory input, every file's offset-0 split has
    // first_block=true; a single global header anchor would keep one
    // header and parse the other files' header lines as edges. Shards
    // share the id space: V = max(V_file), E = Σ E_file.
    val dir = java.nio.file.Files.createTempDirectory("graft-shards")
    val whole = GraphIO.readTextGraph(spark, resourcePath("graphs/medium1.txt"))
    val all = whole.edges.collect().map(e => (e.src, e.dst)).sorted
    val (shardA, shardB) = all.splitAt(all.length / 2)
    def write(name: String, edges: Seq[(Long, Long)]): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        s"${whole.vertexCount} ${edges.length}\n" +
          edges.map { case (u, v) => s"$u $v" }.mkString("\n") + "\n")
    write("part-0.txt", shardA.toSeq)
    write("part-1.txt", shardB.toSeq)
    val sharded = GraphIO.readTextGraph(spark, dir.toString)
    sharded.vertexCount shouldBe whole.vertexCount
    sharded.edgeCount shouldBe all.length.toLong
    sharded.edges.collect().map(e => (e.src, e.dst)).sorted shouldBe all
  }

  test("sparse_graph.txt (10k vertices): exact labels + component count, all strategies") {
    val g = GraphIO.readTextGraph(spark, resourcePath("graphs/sparse_graph.txt"))
    val edges = g.edges.collect().map(e => (e.src, e.dst)).toSeq
    val oracle = oracleOf(edges, 0L until g.vertexCount)
    for (s <- strategies) {
      val got = sparkCC(edges, s, 0L until g.vertexCount)
      got.size shouldBe g.vertexCount
      got shouldBe oracle
    }
  }

  test("chain(50): 1 component, all labels = 49 (diameter stress)") {
    val edges = (0L until 49L).map(i => (i, i + 1))
    for (s <- strategies) {
      val got = sparkCC(edges, s)
      got.values.toSet shouldBe Set(49L)
    }
  }

  test("star(40): 1 component, all labels = 39 (skew stress)") {
    val edges = (1L until 40L).map(i => (0L, i))
    for (s <- strategies) sparkCC(edges, s).values.toSet shouldBe Set(39L)
  }

  test("forest of 4 disjoint chains: 4 components, per-copy max labels") {
    val edges = Generators.forest(spark, 4, 25, Generators.chain)
      .collect().map(e => (e.src, e.dst)).toSeq
    val oracle = oracleOf(edges)
    for (s <- strategies) sparkCC(edges, s) shouldBe oracle
  }

  test("dirty input: self-loops, duplicates, reversed edges — loader semantics") {
    val edges = Seq[(Long, Long)]((3, 1), (1, 3), (2, 2), (4, 4), (5, 6), (6, 5), (5, 6))
    // vertices present: 1..6; 2 and 4 only via self-loops → singletons
    val oracle = oracleOf(edges, Seq(1L, 2L, 3L, 4L, 5L, 6L))
    for (s <- strategies) sparkCC(edges, s, Seq(1L, 2L, 3L, 4L, 5L, 6L)) shouldBe oracle
  }

  test("random graphs match oracle for several seeds, all strategies") {
    for (seed <- 1 to 3) {
      val edges = Generators.random(spark, 300, 400, seed).collect()
        .map(e => (e.src, e.dst)).toSeq
      val oracle = oracleOf(edges)
      for (s <- strategies) sparkCC(edges, s) shouldBe oracle
    }
  }

  test("component sizes and count agree with oracle") {
    val g = GraphIO.readTextGraph(spark, resourcePath("graphs/small.txt"))
    val res = ConnectedComponents.run(g.edges,
      Some(spark.range(0, g.vertexCount).as[Long]))
    val edges = g.edges.collect().map(e => (e.src, e.dst)).toSeq
    val oracleCount = oracleOf(edges, 0L until g.vertexCount).values.toSet.size.toLong
    ConnectedComponents.componentCount(res.labels) shouldBe oracleCount
    val sizes = ConnectedComponents.componentSizes(res.labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sizes.values.sum shouldBe 6L
  }

  private def withAqeOff(body: => Unit): Unit = {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** Runs `body` with AQE off (jobs ≈ actions) and a job counter;
    * `settled()` reads the count once the async listener bus is idle. */
  private def withJobCounter(body: (() => Int) => Unit): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = { // listener events are async
      var prev = -1; var spins = 0
      while (jobs.get() != prev && spins < 50) { prev = jobs.get(); Thread.sleep(100); spins += 1 }
      jobs.get()
    }
    withAqeOff {
      spark.sparkContext.addSparkListener(listener)
      try body(() => settled())
      finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  private lazy val random200 = Generators.random(spark, 200, 400, seed = 5L)
    .collect().map(e => (e.src, e.dst)).toSeq

  test("component count is folded into the final mapping job (no extra action)") {
    // r4 verdict Next #4: Bench/CCRun paid a separate countDistinct job
    // per rep for a number the final mapping materialization already
    // knows (canonical max labels → components = count(id == label)).
    val oracle = oracleOf(random200)
    withJobCounter { settled =>
      for (s <- Seq(CCStrategy.HookAndContract, CCStrategy.SampledContraction)) {
        val ds = spark.createDataset(random200.map { case (u, v) => Edge(u, v) })
        val res = ConnectedComponents.run(ds, None, Config(strategy = s))
        val afterRun = settled()
        // the folded count is already on the driver: ZERO further jobs
        res.components shouldBe defined
        settled() shouldBe afterRun
        // and it equals the separate countDistinct action (≥1 job)
        res.components.get shouldBe ConnectedComponents.componentCount(res.labels)
        settled() should be > afterRun
        res.components.get shouldBe oracle.values.toSet.size.toLong
      }
    }
  }

  test("a fresh hook run stays inside its action budget") {
    // Round 0 reads its input once and its label map is the first
    // mapping. Jobs with AQE off:
    //   range-bound sample; pre-contraction of the lazy ranged input
    //   (input edge count observed); hook (row and root counts observed);
    //   per pointer jump, a frontier broadcast and the jump; merged f;
    //   contraction, an f broadcast and the contraction itself. No
    //   vertex-set distinct, no round-0 composition.
    //   A driver-finish tail round adds three: collect, map broadcast,
    //   mapping.
    // The jump count follows the sampled range layout, so the budget is
    // taken from the run's own metrics (2 jumps + a tail: 13 jobs).
    withJobCounter { settled =>
      val ds = spark.createDataset(random200.map { case (u, v) => Edge(u, v) })
      val before = settled()
      val res = ConnectedComponents.run(ds, None, Config())
      val jobs = settled() - before
      res.labels.collect().map(l => l.id -> l.label).toMap shouldBe oracleOf(random200)
      val tailRounds = res.metrics.drop(1)
      tailRounds.foreach(_.pointerJumps shouldBe 0) // driver finishes
      jobs should be <= 6 + 2 * res.metrics.head.pointerJumps + 3 * tailRounds.size
    }
  }

  test("star, sampled and random runs materialize their input once") {
    // Jobs with AQE off: one start-up barrier of the canonical input,
    // observing the edge count (and the star hash or the sampled vertex
    // estimate), then per round
    //   star: the large-star barrier and the small-star barrier;
    //   sampled (300 edges over ~310 vertices, under the sample bound of
    //     ≈ 480): one whole-set driver round — the edge collect and the
    //     mapping after a broadcast of the driver-built map, no
    //     contraction;
    //   random: f, the contraction after two broadcasts of f (one per
    //     endpoint join) and the mapping after one;
    // and for star and random the canonicalized labels, whose job
    // observes the component count. No separate input, vertex-set,
    // signature, emptiness or count job.
    val sparse400 = Generators.random(spark, 400, 300, seed = 5L)
      .collect().map(e => (e.src, e.dst)).toSeq
    val budgets = Seq[(Config, Seq[(Long, Long)], Int => Int)](
      (Config(strategy = CCStrategy.AlternatingStar), random200, r => 2 + 2 * r),
      (Config(strategy = CCStrategy.SampledContraction), sparse400, r => 1 + 3 * r),
      (Config(strategy = CCStrategy.RandomizedHook), random200, r => 2 + 6 * r))
    withJobCounter { settled =>
      for ((cfg, edges, budget) <- budgets) withClue(s"${cfg.strategy}: ") {
        val ds = spark.createDataset(edges.map { case (u, v) => Edge(u, v) })
        val before = settled()
        val res = ConnectedComponents.run(ds, None, cfg)
        val jobs = settled() - before
        info(s"${cfg.strategy.name}: $jobs jobs, ${res.metrics.size} rounds")
        jobs should be <= budget(res.metrics.size)
        if (cfg.strategy == CCStrategy.SampledContraction) res.metrics.size shouldBe 1
        res.labels.collect().map(l => l.id -> l.label).toMap shouldBe oracleOf(edges)
        res.components shouldBe Some(oracleOf(edges).values.toSet.size.toLong)
      }
    }
  }

  test("a fresh hook run's labels keep at most the session's partition count") {
    // Round 0's merged f unions the roots and one segment per pointer
    // jump; it becomes the first mapping, and every later mapping (and
    // checkpoint) keeps its partitions. With AQE off the hook's shuffle
    // has the full partition count, so an uncoalesced union exceeds it.
    withAqeOff {
      val ds = spark.createDataset(random200.map { case (u, v) => Edge(u, v) })
      val res = ConnectedComponents.run(ds, None, Config())
      res.metrics.head.pointerJumps should be >= 1
      res.labels.collect().map(l => l.id -> l.label).toMap shouldBe oracleOf(random200)
      res.labels.rdd.getNumPartitions should be <=
        spark.conf.get("spark.sql.shuffle.partitions").toInt
    }
  }

  // Each strategy needs at least two rounds on this input (shown by the
  // unconstrained run), so maxRounds = 1 must throw, not return partial
  // labels. One-edge pre-contraction chunks make the hook's rounds
  // independent of the sampled range layout.
  test("every strategy fails loudly when maxRounds is too small") {
    val ds = spark.createDataset(random200.map { case (u, v) => Edge(u, v) })
    val configs = Seq(
      Config(preContractCap = 2),
      Config(strategy = CCStrategy.AlternatingStar),
      Config(strategy = CCStrategy.SampledContraction, sampleHardCap = 60L),
      Config(strategy = CCStrategy.RandomizedHook))
    for (cfg <- configs) withClue(s"${cfg.strategy}: ") {
      val full = ConnectedComponents.run(ds, None, cfg)
      full.labels.collect().map(l => l.id -> l.label).toMap shouldBe oracleOf(random200)
      full.metrics.size should be >= 2
      val e = the[IllegalArgumentException] thrownBy
        ConnectedComponents.run(ds, None, cfg.copy(maxRounds = 1))
      e.getMessage should include("did not converge")
    }
  }

  test("strategy names and checkpoint tags are defined once and unknown names fail") {
    CCStrategy.all.map(_.name) shouldBe Seq("hook", "star", "sampled", "random")
    CCStrategy.all.map(_.tag) shouldBe Seq("cc-hook", "cc-star", "cc-sampled", "cc-random")
    for (s <- CCStrategy.all) CCStrategy.named(s.name) shouldBe Some(s)
    CCStrategy.named("stra") shouldBe None
    // CCRun parses its strategy before it starts a session
    val e = the[IllegalArgumentException] thrownBy
      graft.tools.CCRun.main(Array(resourcePath("graphs/small.txt"), "foo"))
    e.getMessage should include("hook|star|sampled|random")
  }

  test("a hook run never frees the caller's barrier'd input") {
    // A fresh run's round 0 reads its input lazily, and a release walks
    // every checkpointed RDD in a plan: releasing that input (or the
    // extra vertices, a plan over the same barrier) would free the
    // caller's blocks.
    val edges = Generators.random(spark, 200, 400, seed = 5L).cutLineage()
    val inputRdds = GraftLineage.plannedRddIds(edges)
    inputRdds should not be empty
    def labelsOf(extra: Option[Dataset[Long]]): Map[Long, Long] = {
      val res = ConnectedComponents.run(edges, extra, Config())
      val labels = res.labels.collect().map(l => l.id -> l.label).toMap
      res.labels.releaseLineage()
      spark.sparkContext.getPersistentRDDs.keySet should contain allElementsOf inputRdds
      labels
    }
    try {
      val plain = labelsOf(None)
      labelsOf(Some(edges.map(_.src))) shouldBe plain
      plain shouldBe oracleOf(edges.collect().map(e => (e.src, e.dst)).toSeq)
    } finally edges.releaseLineage()
  }

  test("metrics are recorded per superstep and edges shrink monotonically") {
    val edges = Generators.random(spark, 500, 800, 7L)
    val res = ConnectedComponents.run(edges)
    res.metrics should not be empty
    val outs = res.metrics.map(_.edgesOut)
    outs.last shouldBe 0L
    res.metrics.map(_.edgesIn).zip(outs).foreach { case (in, out) =>
      out should be < in
    }
  }
}
