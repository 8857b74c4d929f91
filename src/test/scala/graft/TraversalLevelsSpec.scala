package graft

import graft.graph.Edge
import graft.operators.{Centrality, Traversal}
import org.apache.spark.sql.GraftLineage

/** The level loop shared by the multi-source BFS and betweenness's
  * forward pass anti-joins each new level against the previous two
  * levels only. These graphs stress that rule: an odd cycle (edges
  * inside one level), an even cycle (two shortest paths to the
  * antipode), a grid (many equal-length paths) and a path deeper than
  * 16 levels. Each result is checked against a BFS and Brandes
  * accumulation computed on the driver. */
class TraversalLevelsSpec extends SparkSpec {
  import spark.implicits._

  private def cycle(n: Int): Seq[(Long, Long)] =
    (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
  private def grid(k: Int): Seq[(Long, Long)] =
    for (r <- 0 until k; c <- 0 until k; (dr, dc) <- Seq((0, 1), (1, 0))
         if r + dr < k && c + dc < k)
      yield ((r * k + c).toLong, ((r + dr) * k + c + dc).toLong)
  private def path(n: Int): Seq[(Long, Long)] =
    (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))

  private val graphs = Seq("C7" -> cycle(7), "C6" -> cycle(6), "5x5 grid" -> grid(5),
    "P21" -> path(21))

  /** Driver-side BFS from `s`: (distance, shortest-path count) per
    * reached vertex, and the vertices in visiting order. */
  private def bfs(adj: Map[Long, Seq[Long]], s: Long)
      : (Map[Long, Int], Map[Long, Long], Seq[Long]) = {
    val dist = scala.collection.mutable.Map(s -> 0)
    val sigma = scala.collection.mutable.Map(s -> 1L).withDefaultValue(0L)
    val order = scala.collection.mutable.ArrayBuffer(s)
    var i = 0
    while (i < order.size) {
      val v = order(i)
      for (w <- adj(v)) {
        if (!dist.contains(w)) { dist(w) = dist(v) + 1; order += w }
        if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
      }
      i += 1
    }
    (dist.toMap, sigma.toMap, order.toSeq)
  }

  /** Brandes' betweenness over every source, ordered pairs. */
  private def brandes(adj: Map[Long, Seq[Long]]): Map[Long, Double] = {
    val bc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (s <- adj.keys) {
      val (dist, sigma, order) = bfs(adj, s)
      val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for (w <- order.reverse; v <- adj(w) if dist(v) == dist(w) - 1)
        delta(v) += sigma(v).toDouble / sigma(w) * (1.0 + delta(w))
      for (v <- order if v != s) bc(v) += delta(v)
    }
    adj.keys.map(v => v -> bc(v)).toMap
  }

  private def adjacency(es: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    (es ++ es.map(_.swap)).groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).sorted }

  test("BFS distances and betweenness match a driver-side BFS and Brandes mirror") {
    for ((name, es) <- graphs) withClue(name) {
      val adj = adjacency(es)
      val seeds = adj.keys.toSeq.sorted
      val edges = spark.createDataset(es.map { case (u, v) => Edge(u, v) })
      val got = Traversal.multiSourceHopDistances(edges, seeds)
        .select($"source", $"id", $"dist").as[(Long, Long, Long)].collect()
      got.length shouldBe seeds.size * seeds.size // connected: every pair, once
      got.map { case (s, v, d) => (s, v) -> d }.toMap shouldBe
        seeds.flatMap(s => bfs(adj, s)._1.map { case (v, d) => (s, v) -> d.toLong }).toMap
      val bc = Centrality.betweenness(edges, seeds).as[(Long, Double)].collect().toMap
      val want = brandes(adj)
      bc.keySet shouldBe want.keySet
      want.foreach { case (v, b) => bc(v) shouldBe (b +- 1e-6) }
      if (name == "P21") // closed form on a path: 2·i·(20−i) ordered pairs
        bc shouldBe (0 until 21).map(i => i.toLong -> (2.0 * i * (20 - i))).toMap
    }
  }

  test("a depth-D BFS runs D + 1 level jobs plus its adjacency and output jobs") {
    val edges = spark.createDataset(path(21).map { case (u, v) => Edge(u, v) })
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
    // with AQE off, jobs = driver actions
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Traversal.hopDistances(edges, 0L)
      // depth 20: levels 1..20 and the empty level 21, the loop table's
      // two jobs, the output barrier, and two broadcasts of the
      // driver-built level 0 at hop 1 (frontier and anti-join side)
      settled() should be <= 21 + 2 + 1 + 2
      out.count() shouldBe 21L
      GraftLineage.release(out)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
  }

  // Where every reached vertex has one seed at distance 1 and no other,
  // harmonic (Σ 1/d) equals closeness (count / Σ d), so a swapped
  // formula passes there. On the path 0-1-2 with seeds {0, 2}, vertex 1
  // is one hop from both seeds: harmonic 1 + 1 = 2.0, closeness
  // 2 / (1 + 1) = 1.0; each end is two hops from the other seed.
  test("harmonic and closeness centrality differ where a vertex has two seeds at distance 1") {
    val p3 = spark.createDataset(path(3).map { case (u, v) => Edge(u, v) })
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] = {
      val out = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      GraftLineage.release(df)
      out
    }
    val harmonic = scores(Centrality.harmonic(p3, Seq(0L, 2L)))
    val closeness = scores(Centrality.closeness(p3, Seq(0L, 2L)))
    harmonic shouldBe Map(0L -> 0.5, 1L -> 2.0, 2L -> 0.5)
    closeness shouldBe Map(0L -> 0.5, 1L -> 1.0, 2L -> 0.5)
  }
}
