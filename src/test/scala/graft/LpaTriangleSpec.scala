package graft

import graft.graph.{Edge, Generators}
import graft.operators.{LabelPropagation, GraphMetrics, TriangleCount}

class LpaTriangleSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side mirror of the engine's deterministic synchronous LPA
    * (most frequent neighbor label, ties → smallest label). */
  private def lpaOracle(edges: Seq[(Long, Long)], maxIter: Int = 20): Map[Long, Long] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val verts = canon.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = canon.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    var labels = verts.map(v => v -> v).toMap
    var it = 0
    var changed = true
    while (it < maxIter && changed) {
      val next = verts.map { v =>
        val counts = adj.getOrElse(v, Nil).map(labels).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        if (counts.isEmpty) v -> labels(v)
        else {
          val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          v -> best
        }
      }.toMap
      changed = next != labels
      labels = next
      it += 1
    }
    labels
  }

  test("LPA on two cliques joined by a bridge finds the two communities") {
    // cliques {0..4} and {10..14}, bridge 4-10
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(0L to 4L) ++ clique(10L to 14L) ++ Seq((4L, 10L))
    val got = LabelPropagation.run(spark.createDataset(edges.map(e => Edge(e._1, e._2))))
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe lpaOracle(edges)
    // the two cliques end with (at most 2) distinct labels and intra-clique agreement
    got.filter(_._1 <= 4L).values.toSet.size shouldBe 1
    got.filter(_._1 >= 10L).values.toSet.size shouldBe 1
  }

  test("LPA matches driver oracle on random graphs") {
    for (seed <- 1 to 2) {
      val edges = Generators.random(spark, 60, 120, seed).collect()
        .map(e => (e.src, e.dst)).toSeq
      val got = LabelPropagation.run(spark.createDataset(edges.map(e => Edge(e._1, e._2))))
        .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe lpaOracle(edges)
    }
  }

  /** Brute-force triangle oracle. */
  private def triOracle(edges: Seq[(Long, Long)]): Long = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val verts = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var n = 0L
    for {
      (a, b) <- canon
      c <- verts if c > b && canon((a, c)) && canon((b, c))
    } n += 1
    n
  }

  test("triangle count: K4 has 4, chain has 0, matches brute force on random") {
    def cnt(edges: Seq[(Long, Long)]): Long =
      TriangleCount.count(spark.createDataset(edges.map(e => Edge(e._1, e._2))))
        .collect()(0).getLong(0)
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    cnt(k4) shouldBe 4L
    cnt((0L until 10L).map(i => (i, i + 1))) shouldBe 0L
    for (seed <- 1 to 3) {
      val edges = Generators.random(spark, 40, 160, seed).collect()
        .map(e => (e.src, e.dst)).toSeq
      cnt(edges) shouldBe triOracle(edges)
    }
  }

  test("per-vertex triangle counts: K4 all vertices in 3 triangles") {
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val got = TriangleCount.perVertex(spark.createDataset(k4.map(e => Edge(e._1, e._2))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)
  }

  test("per-vertex agrees with brute force on random graphs") {
    for (seed <- 1 to 2) {
      val edges = Generators.random(spark, 40, 160, seed).collect()
        .map(e => (e.src, e.dst)).toSeq
      val canon = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val verts = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val oracle = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        (a, b) <- canon
        c <- verts if c > b && canon((a, c)) && canon((b, c))
      } { oracle(a) += 1; oracle(b) += 1; oracle(c) += 1 }
      val got = TriangleCount.perVertex(
          spark.createDataset(edges.map(e => Edge(e._1, e._2))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe oracle.toMap
    }
  }

  test("degree orientation kills hub wedges: mid-id star generates none") {
    // Star with hub id 500, leaves 0..99 and 1000..1099: the old id-ordered
    // wedge build (e1.dst == e2.src) would generate 100×100 wedges at the
    // hub; degree orientation points every edge leaf→hub, so zero wedges.
    val star = ((0L until 100L) ++ (1000L until 1100L)).map(l => Edge(l, 500L))
    val canon = graft.graph.GraphIO.canonical(spark.createDataset(star))
    TriangleCount.wedges(TriangleCount.orient(canon)).count() shouldBe 0L
    TriangleCount.perVertex(spark.createDataset(star)).count() shouldBe 0L
  }

  test("partition histogram, prefix sum, dense relabel utilities") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 100).toDF("v").repartition(4)
    val hist = graft.operators.GraphMetrics.partitionHistogram(df).collect()
    hist.map(_.getLong(1)).sum shouldBe 100L
    val ps = graft.operators.GraphMetrics.prefixSum(
      spark.createDataset(Seq((1L, 10L), (2L, 5L), (3L, 7L))).toDF("i", "v"), "i", "v")
      .orderBy("i").collect().map(_.getAs[Long]("prefix_sum"))
    ps shouldBe Array(10L, 15L, 22L)
    // two-pass distributed scan at size: matches the sequential scan
    // (values land across many range partitions, offsets must compose)
    val big = spark.range(0, 10000).toDF("i")
      .withColumn("v", (col("i") * 7 % 13) + 1)
    val got = graft.operators.GraphMetrics.prefixSum(big, "i", "v")
      .orderBy("i").collect().map(_.getAs[Long]("prefix_sum"))
    val vals = big.orderBy("i").collect().map(_.getAs[Long]("v"))
    got shouldBe vals.scanLeft(0L)(_ + _).drop(1)
    val labels = spark.createDataset(Seq((1L, 9L), (2L, 9L), (3L, 4L)))
      .toDF("id", "label")
    val dense = graft.operators.GraphMetrics.denseRelabel(labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dense shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 0L) // labels 4,9 → 0,1
  }

  test("prefix sum: NULL values count as 0 (incl. an all-null range partition)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 12).toDF("i")
      .withColumn("v", when(col("i") % 3 === 1, lit(null).cast("long"))
        .otherwise(col("i")))
    val got = graft.operators.GraphMetrics.prefixSum(df, "i", "v")
      .orderBy("i").collect().map(_.getAs[Long]("prefix_sum"))
    val expect = (0L until 12L).map(i => if (i % 3 == 1) 0L else i)
      .scanLeft(0L)(_ + _).drop(1)
    got.toSeq shouldBe expect
    // all-null: pass-1 per-partition sums are NULL everywhere — guard holds
    val allNull = spark.range(0, 8).toDF("i")
      .withColumn("v", lit(null).cast("long"))
    graft.operators.GraphMetrics.prefixSum(allNull, "i", "v")
      .agg(max("prefix_sum")).collect()(0).getLong(0) shouldBe 0L
  }

  test("dense relabel is distributed: correct at 20k labels, no single-partition exchange") {
    import org.apache.spark.sql.functions._
    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // fragmented regime: every vertex its own component — #labels =
      // #vertices, the case where a global orderBy(label) window would
      // funnel everything through ONE reducer
      val labels = spark.range(0, 20000).select(col("id"), (col("id") * 3).as("label"))
      val got = graft.operators.GraphMetrics.denseRelabel(labels)
        .orderBy("id").collect().map(_.getLong(1))
      got.toSeq shouldBe (0L until 20000L) // ascending-label rank == id here
      // denseRelabel runs ≥4 jobs (2 barriers, 1 collect, 1 final barrier);
      // the listener bus is async — wait for them, then assert every
      // EXECUTED plan is free of single-partition exchanges
      val deadline = System.currentTimeMillis() + 30000
      while (plans.size() < 4 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      plans.size() should be >= 4
      plans.forEach(p => withClue(p) {
        p.contains("Exchange SinglePartition") shouldBe false
      })
    } finally spark.listenerManager.unregister(listener)
  }

  test("BFS hop distances: chain, star, disconnected component") {
    import graft.operators.Traversal
    // chain 0-1-2-...-9: dist(i) = i from source 0
    val chain = spark.createDataset((0L until 9L).map(i => Edge(i, i + 1)))
    val got = Traversal.hopDistances(chain, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe (0L until 10L).map(i => i -> i).toMap
    // star: hub 0, leaves at dist 1 from hub; leaf-to-leaf via hub = 2
    val star = spark.createDataset((1L until 6L).map(l => Edge(0L, l)))
    Traversal.hopDistances(star, 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      (Map(0L -> 0L) ++ (1L until 6L).map(_ -> 1L))
    Traversal.hopDistances(star, 3L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      (Map(3L -> 0L, 0L -> 1L) ++ Seq(1L, 2L, 4L, 5L).map(_ -> 2L))
    // disconnected: the other component is absent from the result
    val two = spark.createDataset(Seq(Edge(0L, 1L), Edge(10L, 11L)))
    val d2 = Traversal.hopDistances(two, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    d2 shouldBe Map(0L -> 0L, 1L -> 1L)
    // a chain deeper than the two levels each hop's anti-join reads
    val chain20 = spark.createDataset((0L until 20L).map(i => Edge(i, i + 1)))
    val d20 = Traversal.hopDistances(chain20, 0L, maxHops = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    d20 shouldBe (0L until 21L).map(i => i -> i).toMap
    // maxHops truncation: vertices beyond the bound are omitted
    val d3 = Traversal.hopDistances(chain20, 0L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    d3 shouldBe Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L)
  }

  test("k-core peeling: K4 with pendant path; chain empties, cycle survives") {
    import graft.operators.Traversal
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield Edge(i, j)
    val pendant = Seq(Edge(3L, 10L), Edge(10L, 11L), Edge(11L, 12L))
    val g = spark.createDataset(k4 ++ pendant)
    // pendant path peels over several iterations; the K4 is the 3-core
    Traversal.kCoreVertices(g, 3).collect().map(_.getLong(0)).toSet shouldBe
      Set(0L, 1L, 2L, 3L)
    // 2-core of a pure chain is empty (end-peel cascade, multi-iteration)
    val chain = spark.createDataset((0L until 6L).map(i => Edge(i, i + 1)))
    Traversal.kCoreVertices(chain, 2).count() shouldBe 0L
    // 2-core of a cycle is the whole cycle
    val cycle = spark.createDataset((0L until 6L).map(i => Edge(i, (i + 1) % 6)))
    Traversal.kCoreVertices(cycle, 2).collect().map(_.getLong(0)).toSet shouldBe
      (0L until 6L).toSet
  }

  test("seeded LPA: fronts meet with smallest-label ties, seeds frozen, unreached stay out") {
    import graft.operators.LabelPropagation
    // path 0-1-2-3-4 seeded at both ends (0 → 7, 4 → 5) + an unseeded
    // disjoint edge 10-11 that must never appear in the output
    val edges = spark.createDataset(Seq(
      Edge(0L, 1L), Edge(1L, 2L), Edge(2L, 3L), Edge(3L, 4L), Edge(10L, 11L)))
    val seeds = Seq((0L, 7L), (4L, 5L)).toDF("id", "label")
    val res = LabelPropagation.runSeeded(edges, seeds,
      cfg = LabelPropagation.Config(maxIter = 10))
    val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fronts: 2 sees {7, 5} tied → smallest (5) wins; then 1's vote set
    // becomes {7, 5} tied → 5 too. Seeds never flip. 10/11 unreached.
    got shouldBe Map(0L -> 7L, 1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L)
    res.converged shouldBe true
    // a single seed floods its whole component and only its component
    val one = LabelPropagation.runSeeded(edges, Seq((4L, 9L)).toDF("id", "label"),
      cfg = LabelPropagation.Config(maxIter = 10))
    one.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      Map(0L -> 9L, 1L -> 9L, 2L -> 9L, 3L -> 9L, 4L -> 9L)
  }

  test("coreness: closed forms, peel cascade, and agreement with k-core peeling") {
    import graft.operators.Traversal
    def cores(edges: Seq[Edge]): Map[Long, Long] =
      Traversal.coreness(spark.createDataset(edges)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 + pendant path: K4 is the 3-core, the path peels to coreness 1
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield Edge(i, j)
    val pendant = Seq(Edge(3L, 10L), Edge(10L, 11L), Edge(11L, 12L))
    cores(k4 ++ pendant) shouldBe Map(
      0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L, 10L -> 1L, 11L -> 1L, 12L -> 1L)
    // chain: everything coreness 1 (needs >1 h-index iterations to
    // propagate from the endpoints — degree starts at 2 inside)
    val chain = (0L until 8L).map(i => Edge(i, i + 1))
    cores(chain).values.toSet shouldBe Set(1L)
    // cycle: coreness 2 everywhere
    cores((0L until 6L).map(i => Edge(i, (i + 1) % 6))).values.toSet shouldBe Set(2L)
    // metamorphic vs the independent peeling implementation on a random
    // graph: {v : coreness(v) ≥ k} must equal the k-core vertex set
    val rnd = new scala.util.Random(7)
    val rand = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2).map(e => Edge(e._1, e._2))
    val cn = cores(rand)
    for (k <- 2 to 4) {
      val peeled = Traversal.kCoreVertices(spark.createDataset(rand), k)
        .collect().map(_.getLong(0)).toSet
      cn.filter(_._2 >= k).keySet shouldBe peeled
    }
  }

  test("community conductance: hand-computed two-triangle bridge; whole-graph community is 0") {
    import graft.operators.GraphMetrics
    def phi(edges: Seq[(Long, Long)], labels: Seq[(Long, Long)]) =
      GraphMetrics.communityConductance(
          spark.createDataset(edges.map(e => graft.graph.Edge(e._1, e._2))),
          spark.createDataset(labels).toDF("id", "label"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // two triangles joined by the bridge 2-3; m = 7
    val g = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val split = Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
    val got = phi(g, split)
    // vol = 2+2+3 = 7 per side, cut = 1, φ = 1/min(7, 14-7) = 1/7
    got(0L) shouldBe ((7L, 1L, BigDecimal(1.0 / 7.0).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble))
    got(1L) shouldBe ((7L, 1L, got(0L)._3))
    // single community covering the whole graph: denominator 0 → φ = 0
    val one = phi(g, split.map { case (id, _) => id -> 0L })
    one(0L) shouldBe ((14L, 0L, 0.0))
  }

  test("clustering coefficient and common neighbors: K4 and brute force on random") {
    import org.apache.spark.sql.functions._
    // K4: every vertex has deg 3, sits in 3 triangles → cc = 2*3/(3*2) = 1
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield Edge(i, j)
    val ccK4 = TriangleCount.clusteringCoefficient(spark.createDataset(k4))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ccK4 shouldBe (0L until 4L).map(_ -> 1.0).toMap
    // K4 edges each lie in 2 triangles (2 common neighbors)
    val cnK4 = TriangleCount.commonNeighborsPerEdge(spark.createDataset(k4))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    cnK4.values.toSet shouldBe Set(2L)
    cnK4.size shouldBe 6
    // chain has no triangles: all zeros, every vertex cc 0
    val chain = spark.createDataset((0L until 5L).map(i => Edge(i, i + 1)))
    TriangleCount.commonNeighborsPerEdge(chain).collect()
      .map(_.getLong(2)).toSet shouldBe Set(0L)
    TriangleCount.clusteringCoefficient(chain).collect()
      .map(_.getDouble(1)).toSet shouldBe Set(0.0)
    // random graph vs brute force
    val edges = graft.graph.Generators.random(spark, 40, 80, seed = 11L)
      .collect().map(e => (e.src, e.dst)).toSet
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2)
    val nbrs = canon.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    val expectCn = canon.map { case (u, v) =>
      (u, v) -> (nbrs(u) & nbrs(v)).size.toLong }.toMap
    val gotCn = TriangleCount.commonNeighborsPerEdge(
        spark.createDataset(edges.toSeq.map(e => Edge(e._1, e._2))))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    gotCn shouldBe expectCn
  }

  test("degrees: star hub has n-1, leaves 1") {
    val got = GraphMetrics.degrees(Generators.star(spark, 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(0L) shouldBe 7L
    (1L until 8L).foreach(i => got(i) shouldBe 1L)
  }

  test("adamic-adar: K4, triangle+pendant, and brute force on random") {
    def oracle(edges: Seq[(Long, Long)]): Map[(Long, Long), Double] = {
      val canon = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val nbrs = canon.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      canon.map { case (u, v) =>
        (u, v) -> BigDecimal((nbrs(u) & nbrs(v)).toSeq
            .map(w => 1.0 / math.log(nbrs(w).size)).sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    def got(edges: Seq[(Long, Long)]): Map[(Long, Long), Double] =
      TriangleCount.adamicAdar(
          spark.createDataset(edges.map(e => Edge(e._1, e._2))))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // K4: every edge has 2 common neighbors of degree 3 → 2/ln 3
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    got(k4).values.foreach(_ shouldBe (2.0 / math.log(3.0)) +- 1e-6)
    // triangle 0-1-2 with pendant 3 on 2: edge (0,1) scores 1/ln(3)
    // (common nbr 2 has degree 3); pendant edge (2,3) scores 0
    val tp = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val g = got(tp)
    g((0L, 1L)) shouldBe (1.0 / math.log(3.0)) +- 1e-6
    g((2L, 3L)) shouldBe 0.0
    // random graphs vs brute force
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val edges = Seq.fill(60)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
        .filter(e => e._1 != e._2)
      val e = got(edges); val o = oracle(edges)
      e.keySet shouldBe o.keySet
      e.foreach { case (k, v) => v shouldBe o(k) +- 2e-6 }
    }
  }

  test("weighted LPA: a heavy tie overrides frequency; equal weights reduce to unweighted") {
    import graft.operators.LabelPropagation
    // vertex 0 has two light neighbors in community A {1,2} and ONE
    // heavy neighbor 3: unweighted LPA votes 0 into A, weighted votes
    // it to 3's side
    val edges = Seq((0L, 1L, 1L), (0L, 2L, 1L), (1L, 2L, 1L), (0L, 3L, 5L), (3L, 4L, 5L), (4L, 3L, 5L))
    val wdf = spark.createDataset(edges).toDF("src", "dst", "weight")
    val weighted = LabelPropagation.runWeightedGraph(wdf,
        cfg = LabelPropagation.Config(maxIter = 10))
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pulled to the heavy side (synchronous LPA oscillates labels
    // WITHIN the heavy pair {3,4}, so assert side membership, not an
    // exact label): unweighted voting would keep 0 in {0,1,2}
    Set(3L, 4L) should contain(weighted(0L))
    Set(0L, 1L, 2L) should contain(weighted(1L))
    Set(0L, 1L, 2L) should contain(weighted(2L))
    // all-equal weights on a DUPLICATE-FREE edge list = plain LPA
    // (duplicates deliberately SUM in the weighted path — a repeated
    // row is tie strength — while the unweighted path dedups)
    val base = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (3L, 4L))
    val eqW = LabelPropagation.runWeightedGraph(
        spark.createDataset(base.map(e => (e._1, e._2, 1L)))
          .toDF("src", "dst", "weight"),
        cfg = LabelPropagation.Config(maxIter = 10))
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = LabelPropagation.run(
        spark.createDataset(base.map(e => Edge(e._1, e._2))),
        cfg = LabelPropagation.Config(maxIter = 10))
      .labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    eqW shouldBe plain
    // strength: duplicate orientations sum; self-loops dropped
    val s = GraphMetrics.strength(wdf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    s(3L) shouldBe 15L // 5 (edge 0-3) + 5+5 (both orientations of 3-4 summed)
    s(0L) shouldBe 7L
  }

  test("neighborhood jaccard: K4 = 0.5, local bridge = 0, brute force on random") {
    def got(edges: Seq[(Long, Long)]): Map[(Long, Long), Double] =
      TriangleCount.neighborhoodJaccard(
          spark.createDataset(edges.map(e => Edge(e._1, e._2))))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def oracle(edges: Seq[(Long, Long)]): Map[(Long, Long), Double] = {
      val canon = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val nbrs = canon.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      canon.map { case (u, v) =>
        val cn = (nbrs(u) & nbrs(v)).size
        (u, v) -> BigDecimal(cn.toDouble / (nbrs(u).size + nbrs(v).size - cn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    // K4: every edge has cn=2, deg 3+3 → 2/4 = 0.5
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    got(k4).values.foreach(_ shouldBe 0.5)
    // triangle with pendant: the pendant edge is a local bridge → 0
    val tp = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    got(tp)((2L, 3L)) shouldBe 0.0
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 3) {
      val edges = Seq.fill(60)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter(e => e._1 != e._2)
      val e = got(edges); val o = oracle(edges)
      e.keySet shouldBe o.keySet
      e.foreach { case (k, v) => v shouldBe o(k) +- 2e-6 }
    }
  }

  test("k-truss: K5 survives at k=4, chains/pendants peel away, brute force on random") {
    def got(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] =
      TriangleCount.kTruss(
          spark.createDataset(edges.map(e => Edge(e._1, e._2))), k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def oracle(edges: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
      var e = edges.filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct.toSet
      var changed = true
      while (changed) {
        val nbrs = e.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val kept = e.filter { case (u, v) => (nbrs(u) & nbrs(v)).size >= k - 2 }
        changed = kept != e
        e = kept
      }
      e
    }
    // K5: every edge has 3 common neighbors → whole graph is a 4-truss
    val k5 = for (i <- 0L until 5L; j <- (i + 1) until 5L) yield (i, j)
    got(k5.toSeq, 4) shouldBe k5.toSet
    // triangle + pendant at k=3: the triangle survives, the pendant peels
    val tp = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    got(tp, 3) shouldBe Set((0L, 1L), (0L, 2L), (1L, 2L))
    // chain has no triangles → empty at any k ≥ 3
    got((0L until 6L).map(i => (i, i + 1)), 3) shouldBe Set.empty
    // random graphs vs the brute-force peel
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 3) {
      val edges = Seq.fill(70)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(e => e._1 != e._2)
      got(edges, 4) shouldBe oracle(edges, 4)
    }
  }

  test("modularity: closed forms — perfect 2-community split 0.5, one community 0") {
    import graft.operators.GraphMetrics
    def q(edges: Seq[(Long, Long)], labels: Seq[(Long, Long)]): Double =
      GraphMetrics.modularity(
          spark.createDataset(edges.map(e => graft.graph.Edge(e._1, e._2))),
          spark.createDataset(labels).toDF("id", "label"))
        .head().getDouble(0)
    // two disjoint triangles, perfectly partitioned:
    // Q = 2 · [3/6 − (6/12)²] = 0.5
    val twoK3 = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L))
    val perfect = Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
    q(twoK3, perfect) shouldBe 0.5
    // everything in one community is always exactly 0: m/m − (2m/2m)²
    q(twoK3, perfect.map { case (id, _) => id -> 0L }) shouldBe 0.0
    // deliberately crossed labels score worse than the perfect split
    val crossed = Seq(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 0L)
    q(twoK3, crossed) should be < 0.5
  }

  test("harmonic/closeness centrality: path-graph closed forms") {
    import graft.operators.Centrality
    // path 0-1-2-3, all four vertices as seeds
    val p4 = spark.createDataset(Seq(Edge(0L, 1L), Edge(1L, 2L), Edge(2L, 3L)))
    val seeds = Seq(0L, 1L, 2L, 3L)
    val h = Centrality.harmonic(p4, seeds).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // h(0) = 1 + 1/2 + 1/3; h(1) = 1 + 1 + 1/2 (rounded HALF_UP to 6 dp)
    h(0L) shouldBe 1.833333
    h(1L) shouldBe 2.5
    h(2L) shouldBe 2.5
    h(3L) shouldBe 1.833333
    val c = Centrality.closeness(p4, seeds).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // c(0) = 3/(1+2+3); c(1) = 3/(1+1+2) — exact IEEE quotients
    c(0L) shouldBe 0.5
    c(1L) shouldBe 0.75
    c(2L) shouldBe 0.75
    c(3L) shouldBe 0.5
    // disconnected pair: unreachable seeds contribute nothing
    val twoEdges = spark.createDataset(Seq(Edge(0L, 1L), Edge(10L, 11L)))
    val h2 = Centrality.harmonic(twoEdges, Seq(0L, 1L, 10L, 11L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    h2 shouldBe Map(0L -> 1.0, 1L -> 1.0, 10L -> 1.0, 11L -> 1.0)
  }

  test("eigenvector centrality: cliques uniform at 1; paw graph orders hub first") {
    import graft.operators.Centrality
    // any clique is eigen-uniform: every iteration is exactly (k-1)·prev/max
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val uniform = Centrality.eigenvector(
      spark.createDataset(k4.map(e => Edge(e._1, e._2)))).collect()
    uniform.map(_.getDouble(1)).toSet shouldBe Set(1.0)
    // paw graph: triangle 0-1-2 with pendant 3 on 0 — hub 0 is the max,
    // the symmetric pair 1/2 tie strictly between hub and pendant
    val paw = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L))
    val s = Centrality.eigenvector(
      spark.createDataset(paw.map(e => Edge(e._1, e._2)))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    s(0L) shouldBe 1.0
    s(1L) shouldBe s(2L)
    assert(s(1L) < 1.0 && s(1L) > s(3L))
  }

  test("eigenvector/katz chunked unrolling is chunk-size invariant") {
    import graft.operators.Centrality
    // the chunked loop normalizes once per CHUNK (eigenvector) and the
    // rounded outputs must not depend on where the chunk boundaries
    // fall — 1 (one barrier per iteration, the pre-optimization shape)
    // vs the default 4
    val g = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (3L, 4L), (4L, 5L),
      (2L, 5L), (1L, 6L))
    val ds = spark.createDataset(g.map(e => Edge(e._1, e._2)))
    def run(chunk: Int) = {
      val e = Centrality.eigenvector(ds, maxIter = 7, chunk = chunk).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val k = Centrality.katz(ds, alpha = 0.05, maxIter = 7, chunk = chunk).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      (e, k)
    }
    val (e1, k1) = run(1)
    val (e4, k4c) = run(4)
    e4 shouldBe e1
    k4c shouldBe k1
  }

  test("weightedDistances: multi-hop beats heavy direct edge; unreachable omitted") {
    import graft.operators.Traversal
    import spark.implicits._
    // triangle 0-1-2 where 0→2 direct costs 10 but 0→1→2 costs 3;
    // pendant 3 on 2; disconnected pair 8-9
    val w = Seq((0L, 2L, 10L), (0L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 5L),
      (8L, 9L, 7L)).toDF("src", "dst", "weight")
    val got = Traversal.weightedDistances(w, Seq(0L)).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    got shouldBe Map(0L -> 0L, 1L -> 1L, 2L -> 3L, 3L -> 8L)
    // multi-source: per-source rows; source 8 reaches only its island
    val ms = Traversal.weightedDistances(w, Seq(0L, 8L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    ms((8L, 9L)) shouldBe 7L
    ms.keys.count(_._1 == 8L) shouldBe 2
    ms((0L, 2L)) shouldBe 3L
    // empty seeds → empty frame
    Traversal.weightedDistances(w, Seq.empty).count() shouldBe 0L
  }

  test("distanceStats: chain p90 below diameter; star; empty seeds") {
    import graft.operators.Traversal
    // chain 0..10, seed 0: dists 1..10 → diameter 10, p90 = 9 (cum 9/10)
    val chain = spark.createDataset((0L until 10L).map(i => Edge(i, i + 1)))
    val r = Traversal.distanceStats(chain, Seq(0L)).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2)) shouldBe ((10L, 10L, 9L))
    // star (hub 0, 9 leaves), seeds {0,1}: 9 pairs at d1 + (8 at d2 + 1 at d1)
    val star = spark.createDataset((1L to 9L).map(i => Edge(0L, i)))
    val s = Traversal.distanceStats(star, Seq(0L, 1L)).collect()(0)
    (s.getLong(0), s.getLong(1), s.getLong(2)) shouldBe ((18L, 2L, 2L))
    // empty seed set → empty frame, not an NPE
    Traversal.distanceStats(chain, Seq.empty).count() shouldBe 0L
  }

  test("digraphStats: counts vertices/edges/mutual/sources/sinks exactly") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 3L), (5L, 0L),
      (0L, 0L), (0L, 1L)) // self-loop + duplicate must be ignored
      .toDF("src", "dst")
    val r = GraphMetrics.digraphStats(e).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) shouldBe
      ((5L, 5L, 2L, 1L, 1L)) // verts {0,1,2,3,5}; mutual 0↔1; source 5; sink 3
  }

  test("betweenness: path and star closed forms; seed restriction; ends 0") {
    import graft.operators.Centrality
    // P5 (0-1-2-3-4), all vertices as seeds: directed-pair counts
    // (Brandes sums over ordered (s,t)) — 1→6, 2→8, 3→6, ends 0
    val p5 = spark.createDataset((0L until 4L).map(i => Edge(i, i + 1)))
    Centrality.betweenness(p5, Seq(0L, 1L, 2L, 3L, 4L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe
      Map(0L -> 0.0, 1L -> 6.0, 2L -> 8.0, 3L -> 6.0, 4L -> 0.0)
    // seed-restricted to source 0: δ_0 = (3, 2, 1, 0) down the path
    Centrality.betweenness(p5, Seq(0L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe
      Map(0L -> 0.0, 1L -> 3.0, 2L -> 2.0, 3L -> 1.0, 4L -> 0.0)
    // star: hub carries every leaf-to-leaf pair — 3 per leaf source
    val star = spark.createDataset((1L to 4L).map(i => Edge(0L, i)))
    Centrality.betweenness(star, Seq(0L, 1L, 2L, 3L, 4L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe
      Map(0L -> 12.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0)
    // empty seeds → empty frame
    Centrality.betweenness(p5, Seq.empty).count() shouldBe 0L
  }

  test("katz: path-graph closed form; driver fixed-point mirror on random") {
    import graft.operators.Centrality
    // P3 (0-1-2), α=0.1: fixed point z(ends) = 1.1/0.98, z(mid) = 1+0.2·z(0);
    // (αλ)^12 ≈ 6e-11 — converged far below the 6 dp round
    val p3 = Seq(Edge(0L, 1L), Edge(1L, 2L))
    val z = Centrality.katz(spark.createDataset(p3), alpha = 0.1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    z(0L) shouldBe 1.1 / 0.98 +- 2e-6
    z(2L) shouldBe z(0L)
    z(1L) shouldBe (1.0 + 0.2 * 1.1 / 0.98) +- 2e-6
    // driver mirror of the exact pinned iteration on a random graph
    val edges = Generators.random(spark, 40, 80, seed = 11L)
      .collect().map(e => (e.src, e.dst)).toSeq
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = canon.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    var ref = adj.keys.map(v => v -> 1.0).toMap
    for (_ <- 1 to 12)
      ref = adj.map { case (v, ns) => v -> (1.0 + 0.05 * ns.map(ref).sum) }
    val got = Centrality.katz(
        spark.createDataset(edges.map(e => Edge(e._1, e._2)))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.keySet shouldBe ref.keySet
    got.foreach { case (v, s) => s shouldBe ref(v) +- 1e-5 }
    // empty input → empty output, not an NPE
    Centrality.katz(spark.emptyDataset[Edge]).count() shouldBe 0L
  }

  test("HITS: bipartite hubs/authorities rank by coverage; sides are disjoint") {
    import graft.operators.Centrality
    import spark.implicits._
    // 0 points at both authorities, 1 at one → hub 0 is the max;
    // 10 is cited by both hubs, 11 by one → auth 10 is the max
    val e = Seq((0L, 10L), (0L, 11L), (1L, 10L)).toDF("src", "dst")
    val s = Centrality.hits(e).collect()
      .map(r => (r.getString(1), r.getLong(0)) -> r.getDouble(2)).toMap
    s(("hub", 0L)) shouldBe 1.0
    s(("auth", 10L)) shouldBe 1.0
    assert(s(("hub", 1L)) < 1.0 && s(("hub", 1L)) > 0.0)
    assert(s(("auth", 11L)) < 1.0 && s(("auth", 11L)) > 0.0)
    // only sources get hub rows, only targets get auth rows
    s.keys.filter(_._1 == "hub").map(_._2).toSet shouldBe Set(0L, 1L)
    s.keys.filter(_._1 == "auth").map(_._2).toSet shouldBe Set(10L, 11L)
    // empty input → empty output, not an NPE
    Centrality.hits(Seq.empty[(Long, Long)].toDF("src", "dst"))
      .count() shouldBe 0L
  }

  test("deterministic walks: shape, adjacency, replayability") {
    import graft.operators.Traversal
    val k4 = spark.createDataset(Seq(
      Edge(0L, 1L), Edge(0L, 2L), Edge(0L, 3L),
      Edge(1L, 2L), Edge(1L, 3L), Edge(2L, 3L)))
    val w = Traversal.deterministicWalks(k4, nWalks = 2, steps = 5)
    val rows = w.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every (seed, walk) emits exactly steps+1 rows, starting at the seed
    rows.length shouldBe 4 * 2 * 6
    rows.filter(_._3 == 0L).foreach { case (seed, _, _, v) => v shouldBe seed }
    // consecutive vertices are adjacent and never equal (no self-loops)
    val byWalk = rows.groupBy(t => (t._1, t._2))
      .view.mapValues(_.sortBy(_._3).map(_._4)).toMap
    val adj = Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    byWalk.values.foreach(path =>
      path.sliding(2).foreach(p => adj should contain((p(0), p(1)))))
    // replay: a second run is row-identical
    Traversal.deterministicWalks(k4, nWalks = 2, steps = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted shouldBe rows.sorted
    // the two walks from the same seed diverge somewhere (the hash
    // varies with the walk id)
    assert((0L to 3L).exists(s => byWalk((s, 0L)) != byWalk((s, 1L))))
  }

  test("walk skip-gram pairs: exact match with pairs recomputed from the walk corpus; symmetric") {
    import graft.operators.Traversal
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
      .filter(e => e._1 != e._2).map(e => Edge(e._1, e._2))
    val ds = spark.createDataset(edges)
    val got = Traversal.walkSkipGramPairs(ds, nWalks = 2, steps = 5, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // ground truth from the walk corpus itself
    val walks = Traversal.deterministicWalks(ds, nWalks = 2, steps = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(w => (w._1, w._2))
    val expect = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    walks.values.foreach { w =>
      val byStep = w.map(x => x._3 -> x._4).toMap
      for (i <- byStep.keys; j <- byStep.keys
           if i != j && math.abs(i - j) <= 2 && byStep(i) != byStep(j))
        expect((byStep(i), byStep(j))) += 1L
    }
    got shouldBe expect.toMap
    // both orderings are enumerated → the pair table is symmetric
    got.foreach { case ((a, b), n) => got((b, a)) shouldBe n }
  }

  test("fof recommendations: path graph distance-2 pairs; cliques produce none") {
    import graft.operators.TriangleCount
    def recs(edges: Seq[(Long, Long)], k: Int = 3): Seq[(Long, Long, Long, Long)] =
      TriangleCount.fofRecommendations(
          spark.createDataset(edges.map(e => graft.graph.Edge(e._1, e._2))), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // path 0-1-2-3: distance-2 pairs (0,2) and (1,3), one common neighbor each
    val path = recs(Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    path.toSet shouldBe Set(
      (0L, 1L, 2L, 1L), (1L, 1L, 3L, 1L), (2L, 1L, 0L, 1L), (3L, 1L, 1L, 1L))
    // K4: every distance-2 pair is adjacent → no recommendations
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    recs(k4.toSeq) shouldBe empty
    // two triangles sharing vertex 2: cross-triangle pairs share only 2
    val bowtie = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L))
    val bt = recs(bowtie).toSet
    bt should contain((0L, 1L, 3L, 1L)) // 0~3 via 2, ties → smaller cand first
    bt should contain((0L, 2L, 4L, 1L))
    // middle-degree cap: capping at degree 3 drops every rec through hub 2
    TriangleCount.fofRecommendations(
        spark.createDataset(bowtie.map(e => graft.graph.Edge(e._1, e._2))),
        k = 3, maxMiddleDeg = 3)
      .collect() shouldBe empty
    // the cap constrains ONLY the middle: a high-degree CANDIDATE
    // reached through a low-degree middle must survive. Star center 9
    // (degree 5) is at distance 2 from vertex 0 through middle 8
    // (degree 2): with the cap at 3, the (0 → 8 → 9) rec stays, and so
    // does the reverse (9 → 8 → 0) whose SOURCE out-degree exceeds the cap
    val star = Seq((9L, 5L), (9L, 6L), (9L, 7L), (9L, 8L), (9L, 4L), (8L, 0L))
    val capped = TriangleCount.fofRecommendations(
        spark.createDataset(star.map(e => graft.graph.Edge(e._1, e._2))),
        k = 5, maxMiddleDeg = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    capped should contain((0L, 9L))
    capped should contain((9L, 0L))
    // while recs THROUGH the degree-5 hub 9 (e.g. 5 → 9 → 6) are dropped
    capped.exists { case (id, cand) => id == 5L && cand == 6L } shouldBe false
  }

  test("assortativity: star is perfectly disassortative (-1), chain negative, regular → 0") {
    def got(edges: Seq[(Long, Long)]): Double =
      GraphMetrics.degreeAssortativity(
          spark.createDataset(edges.map(e => Edge(e._1, e._2))))
        .collect()(0).getDouble(0)
    // star: every edge joins the hub (deg n-1) to a leaf (deg 1) → r = -1
    got((1L until 8L).map(i => (0L, i))) shouldBe -1.0 +- 1e-6
    // cycle: all degrees equal → zero variance → defined as 0
    got((0L until 6L).map(i => (i, (i + 1) % 6))) shouldBe 0.0
    // chain: ends (deg 1) attach to deg-2 vertices → negative
    got((0L until 9L).map(i => (i, i + 1))) should be < 0.0
  }
}
