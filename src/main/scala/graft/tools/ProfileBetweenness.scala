package graft.tools

import graft.graph.GraphIO
import org.apache.spark.sql.SparkSession

/** Phase timing for the betweenness query (fixture graph): separates the
  * fixture read + seed pick, the forward BFS (levels), and the backward
  * δ pass + output, by timing two runs — one stopped after the forward
  * pass (maxHops probe via hopDistances) and the full operator. */
object ProfileBetweenness {
  def main(args: Array[String]): Unit = {
    val fixture = if (args.nonEmpty) args(0) else graft.SparkEntry.textFixturePath
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    for (rep <- 1 to 3) {
      var t0 = System.nanoTime()
      val g = GraphIO.readTextGraph(spark, fixture)
      val seeds = graft.graph.GraphIO.vertices(g.edges).orderBy("id").limit(8)
        .collect().toSeq
      println(f"rep $rep read+seeds      ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      t0 = System.nanoTime()
      val d = graft.operators.Traversal.multiSourceHopDistances(g.edges, seeds)
      val maxd = d.agg(org.apache.spark.sql.functions.max("dist")).head().getLong(0)
      println(f"rep $rep forward-bfs     ${(System.nanoTime() - t0) / 1e9}%6.2f s (levels=$maxd)")
      sweep()
      t0 = System.nanoTime()
      graft.operators.Centrality.betweenness(g.edges, seeds)
        .write.format("noop").mode("overwrite").save()
      println(f"rep $rep full-betweenness${(System.nanoTime() - t0) / 1e9}%6.2f s")
      sweep()
    }
    spark.stop()
  }
}
