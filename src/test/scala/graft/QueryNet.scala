package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The driver queries that run an iterative loop — one driven by
  * `GraftLineage.iterate`, a BFS level loop (hop distances, harmonic,
  * closeness, diameter, betweenness), the walk loop, SCC's color and
  * mark loops, or a connected-components round loop (every CC strategy
  * and the incremental label maintainer) — plus the dedup and ANN
  * queries (MinHash bands and bucket pairs, k-NN, Lloyd's k-means,
  * product quantization, IVF), and their output fingerprints on the
  * sf0.001 and sf0.01 tables (see TESTDATA.md). At sf0.001 most of the graph outputs are
  * empty (the supplier co-occurrence-by-nation graph has no edges),
  * which exercises the empty-input paths; sf0.01 runs every loop on a
  * non-empty graph.
  *
  * A fingerprint is perfbench's `count:sum(xxhash64(row))`: the hash
  * over the columns in name order, summed as an exact decimal, observed
  * in the output's own job. `QueryNetSpec` compares it with the table
  * `src/test/resources/expected/query_net.tsv`, which
  * `src/test/query_net_expected.py` writes through [[main]] only after
  * every output matched DuckDB running `SparkEntry.oracleSql`. */
object QueryNet {
  /** Table sets by name: sf0.001 and sf0.01. */
  val dirs: Seq[(String, String)] =
    Seq("sf0.001", "sf0.01").map(sf => sf -> s"/root/testdata/$sf")

  val queries: Seq[String] = Seq(
    "eigencentrality", "sssp_weighted", "katz", "hits", "kcore3", "coreness",
    "ktruss4", "condensation_levels", "community_conductance", "modularity",
    "pagerank", "pagerank_weighted", "ppr", "lpa", "lpa_weighted", "lpa_seeded",
    "bfs_hops", "harmonic_centrality", "closeness_centrality", "graph_diameter",
    "betweenness", "random_walks", "walk_pairs", "scc_coactivity", "scc_condensation",
    "cc_supplier", "cc_supplier_star", "cc_supplier_sampled", "cc_supplier_random",
    "cc_incremental", "cc_nation", "cc_sizes", "cc_coactivity", "cc_dense_labels",
    "cc_text_fixture",
    "dedup_minhash_bands", "dedup_near_pairs", "dedup_clusters", "dedup_survivors",
    "corpus_filtered", "corpus_final", "split_leakage", "knn_all", "kmeans_assign",
    "pq_codes", "ivf_search")

  val expectedResource = "expected/query_net.tsv"

  /** Materialize `df` once — as parquet under `emitTo` when given, else
    * to the noop sink — and return its `count:sum` fingerprint. */
  def fingerprint(df: DataFrame, emitTo: Option[File] = None): String = {
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(xxhash64(df.columns.sorted.map(df.col): _*).cast(DecimalType(38, 0))),
        lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("h"))
    emitTo match {
      case Some(dir) => observed.coalesce(1).write.mode("overwrite").parquet(dir.toString)
      case None      => observed.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    s"${m("n")}:${m("h").asInstanceOf[java.math.BigDecimal].toPlainString}"
  }

  /** The committed fingerprints, (table set, query) → `count:sum`. */
  def expected: Map[(String, String), String] = {
    val in = getClass.getClassLoader.getResourceAsStream(expectedResource)
    require(in != null, s"missing test resource $expectedResource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val Array(sf, q, fp) = l.split("\t"); (sf, q) -> fp }.toMap
    finally in.close()
  }

  /** Emit mode for the generator: `QueryNet <outDir>` writes each
    * query's output as parquet under `<outDir>/<sf>/<query>/`, the
    * fingerprints as `<outDir>/fingerprints.tsv` (sf, query, fingerprint)
    * and the queries' oracle SQL as `<outDir>/oracle_sql.json`. */
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: QueryNet <outDir>")
    val out = new File(args(0))
    out.mkdirs()
    val spark = SparkSpec.spark
    val lines = for ((sf, dir) <- dirs; q <- queries) yield {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir)
      val fp = fingerprint(df, Some(new File(out, s"$sf/$q")))
      org.apache.spark.sql.GraftLineage.release(df)
      println(f"$sf\t$q\t$fp\t${(System.nanoTime() - t0) / 1e9}%.2f s")
      s"$sf\t$q\t$fp\n"
    }
    Files.write(new File(out, "fingerprints.tsv").toPath,
      lines.mkString.getBytes(StandardCharsets.UTF_8))
    val oracle = queries.map { q =>
      JsonEscape.quote(q) + ":" + JsonEscape.quote(SparkEntry.oracleSql(q))
    }.mkString("{", ",", "}")
    Files.write(new File(out, "oracle_sql.json").toPath,
      oracle.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
