package graft.operators

import graft.graph.{Edge, GraphIO}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Degree and other per-vertex structural metrics. */
object GraphMetrics {

  /** Undirected degree per vertex over a canonical (normalized, deduped)
    * edge set. One shuffle: union both directions, hash-aggregate
    * (map-side partial agg absorbs hub skew — same reason the hook agg
    * needs no salting). */
  def degrees(edges: Dataset[Edge]): DataFrame = {
    val canon = GraphIO.canonical(edges)
    canon.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
  }

  /** Degree histogram: how many vertices have each degree (diagnostics for
    * skew planning — drives hot-vertex thresholds). */
  def degreeHistogram(edges: Dataset[Edge]): DataFrame =
    degrees(edges).groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("degree"))

  /** Newman modularity of a vertex partition over an undirected graph:
    * Q = Σ_c [ m_c/m − (D_c/2m)² ] with m = |canonical edges|, m_c =
    * intra-community edges, D_c = summed degree of the community — the
    * standard quality metric for a community assignment (pairs with
    * [[LabelPropagation]]: "did the labels find real structure"). All
    * inputs are exact integer counts; the final fold is a sum of ≤|C|
    * doubles (6 dp — cross-engine sum-order noise ~1e-16).
    *
    * Scale: two relabel equi-joins (labels table ⋈ edges — broadcast
    * when small, shuffle otherwise), two hash aggs keyed by community,
    * one scalar fold. Vertices missing from `labels` count as their own
    * singleton communities only if present — pass the full label table
    * (LPA emits every vertex). */
  def modularity(edges: Dataset[Edge], labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = GraphIO.canonical(edges).toDF()
    val lab = labels.select($"id", $"label")
    val m = canon.count().toDouble
    // no early-return special case for m == 0: the final coalesce below
    // yields the same one 0.0 row (the oracle SQL coalesces identically,
    // so empty-graph fixtures gate cleanly too); the divisions are safe
    // because an empty edge set evaluates them on zero rows
    val within = canon
      .join(lab.select($"id".as("src"), $"label".as("ls")), Seq("src"))
      .join(lab.select($"id".as("dst"), $"label".as("ld")), Seq("dst"))
      .filter($"ls" === $"ld")
      .groupBy($"ls".as("c")).agg(count(lit(1)).as("mc"))
    val dc = degrees(canon.as[Edge])
      .join(lab, Seq("id"))
      .groupBy($"label".as("c")).agg(sum($"degree").as("dcv"))
    dc.join(within, Seq("c"), "left")
      .select((coalesce($"mc", lit(0L)).cast("double") / lit(m) -
        ($"dcv".cast("double") / lit(2.0 * m)) *
          ($"dcv".cast("double") / lit(2.0 * m))).as("q"))
      .agg(coalesce(round(sum($"q"), 6), lit(0.0)).as("modularity"))
  }

  /** Per-community conductance of a partition (the community-quality
    * metric alongside the global [[modularity]]): for community C,
    * φ(C) = cut(C) / min(vol(C), 2m − vol(C)), with cut = edges
    * leaving C, vol = Σ degrees inside C, m = |edges|; φ = 0 when the
    * denominator is 0 (C is the whole graph). All numerators/
    * denominators are exact integers (emitted alongside), only the
    * final ratio is rounded to 6 dp.
    *
    * Scale: two key-partitioned label joins on the edge table, then ONE
    * map-side-combinable aggregation over the per-endpoint explode —
    * each edge contributes (label_src, cut?) and (label_dst, cut?), so
    * vol(C) = row count and cut(C) = flagged count per community. No
    * per-community windows, no broadcast of the label table required
    * (it joins co-partitioned on id). */
  def communityConductance(edges: Dataset[Edge], labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = GraphIO.canonical(edges).toDF()
    val lab = labels.select($"id", $"label")
    val m = canon.count()
    val annotated = canon
      .join(lab.select($"id".as("src"), $"label".as("ls")), Seq("src"))
      .join(lab.select($"id".as("dst"), $"label".as("ld")), Seq("dst"))
      .select(explode(array(
          struct($"ls".as("c"), ($"ls" =!= $"ld").cast("long").as("cut")),
          struct($"ld".as("c"), ($"ls" =!= $"ld").cast("long").as("cut"))))
        .as("x"))
      .select($"x.c".as("c"), $"x.cut".as("cut"))
    annotated.groupBy($"c".as("label"))
      .agg(count(lit(1)).as("vol"), sum($"cut").as("cut"))
      .select($"label", $"vol", $"cut",
        when(least($"vol", lit(2L * m) - $"vol") === 0L, lit(0.0))
          .otherwise(round($"cut".cast("double") /
            least($"vol", lit(2L * m) - $"vol").cast("double"), 6))
          .as("conductance"))
  }

  /** A6 — per-partition edge tally (reference: MPI_Gather of slice sizes,
    * `SparseSampling.hpp:169-183`); partition-balance diagnostics. */
  def partitionHistogram(df: DataFrame): DataFrame =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("partition_id"))

  /** A7 — inclusive prefix sum of a LONG column over a total order
    * (reference: OpenMP scan compaction, `cse613_utils.cpp:29-49`; in
    * Spark a Filter compacts for free — this is for when a running total
    * is genuinely wanted). The classic two-pass distributed scan, not a
    * global unpartitioned window (which funnels every row through ONE
    * reducer): (1) range-partition by the order column and take tiny
    * per-partition totals; (2) scan the p totals on the driver into
    * exclusive offsets; (3) per-partition running sums + the broadcast
    * offset of their partition. Both passes are p-way parallel. */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // the scope frees the range barrier: the caller only ever has to
    // release the result itself
    org.apache.spark.sql.GraftLineage.scopedBlocks(spark) {
      val p = spark.sessionState.conf.numShufflePartitions
      val ranged = org.apache.spark.sql.GraftLineage.barrier(
        df.repartitionByRange(p, col(orderCol)))
      val partSums = ranged.groupBy(spark_partition_id().as("pid"))
        .agg(sum(col(valueCol)).as("s")).collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
      val offsets = (0 until p).scanLeft(0L)((acc, i) => acc + partSums.getOrElse(i, 0L))
      // per-range-partition scan: the partitionBy keeps p-way parallelism
      // (partition ids are stable — `ranged` is a materialized barrier).
      // Contract: `orderCol` values are unique (vertex ids here) — ties
      // under a ROWS frame would make per-row prefixes order-dependent.
      // NULL `valueCol` rows contribute 0 to the running sum (coalesce),
      // matching the all-null partition guard in pass 1 above.
      val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, 0)
      org.apache.spark.sql.GraftLineage.barrier(
        ranged.withColumn("_pid", spark_partition_id())
          .withColumn("prefix_sum",
            coalesce(sum(col(valueCol)).over(w), lit(0L)) +
              element_at(lit(offsets.toArray), col("_pid") + 1))
          .drop("_pid"))
    }
  }

  /** Exact distributed order statistics: the row value at each requested
    * 1-based global rank under (value, tie) ascending order — the exact
    * quantile/median primitive (approx_percentile's exact sibling; the
    * corpus-stats leg of a data pipeline wants exact cut points for
    * budget accounting). Same two-pass shape as [[prefixSum]]: range
    * partition, tiny per-partition counts to the driver, per-partition
    * `row_number` + broadcast partition offsets — p-way parallel, never
    * a single-reducer global sort. `tieCol` must make the order total
    * (unique key) for deterministic results. Eager; caller releases the
    * (tiny) returned frame. */
  def valueAtRanks(df: DataFrame, valueCol: String, tieCol: String,
                   ranks: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    org.apache.spark.sql.GraftLineage.scopedBlocks(spark) {
      val p = spark.sessionState.conf.numShufflePartitions
      val ranged = org.apache.spark.sql.GraftLineage.barrier(
        df.repartitionByRange(p, col(valueCol), col(tieCol)))
      val counts = ranged.groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = (0 until p).scanLeft(0L)((a, i) => a + counts.getOrElse(i, 0L))
      val w = Window.partitionBy(col("_pid")).orderBy(col(valueCol), col(tieCol))
      org.apache.spark.sql.GraftLineage.barrier(
        ranged.withColumn("_pid", spark_partition_id())
          .withColumn("rank", row_number().over(w).cast("long") +
            element_at(lit(offsets.toArray), col("_pid") + 1))
          .filter(col("rank").isin(ranks: _*))
          .select(col("rank"), col(valueCol)))
    }
  }

  /** Vertex strength (weighted degree): Σ incident edge weights over a
    * weighted edge table (src, dst, weight) — arbitrary orientation,
    * duplicate rows summed, self-loops dropped. One hash aggregation
    * after a single-scan explode, like [[degrees]]. */
  def strength(weighted: DataFrame): DataFrame = {
    GraphIO.canonicalWeighted(weighted).select(explode(array(
        struct(col("src").as("id"), col("weight").as("w")),
        struct(col("dst").as("id"), col("weight").as("w")))).as("e"))
      .select(col("e.id").as("id"), col("e.w").as("w"))
      .groupBy(col("id")).agg(sum(col("w")).as("strength"))
  }

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * the symmetric directed edge list — positive = hubs link to hubs
    * (social-graph shape), negative = hubs link to leaves (web/star
    * shape); the one-number skew fingerprint that picks hot-vertex
    * thresholds. Moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are computed in
    * DOUBLE over exact-integer-valued terms: every partial sum below
    * 2^53 is exact, so at oracle-gate scale the result is
    * bit-reproducible at any parallelism and fold order (a streaming
    * `corr()` is not), while at web scale the sums degrade gracefully
    * to fp instead of overflowing — deg² products overflow a LONG at
    * hub degree ≳ 3·10⁹, which under ANSI mode would crash the job.
    * Degenerate (regular) graphs → 0.0. One row, 6 dp. */
  def degreeAssortativity(edges: Dataset[Edge]): DataFrame = {
    val canon = GraphIO.canonical(edges)
    val bidir = GraphIO.bidirectional(canon).toDF()
    // degree = out-degree over the symmetric table (canon is already
    // deduped; calling degrees() would re-canonicalize — a wasted shuffle)
    val deg = bidir.groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))
    val pairs = bidir.as("b")
      .join(deg.as("d1"), col("b.src") === col("d1.id"))
      .join(deg.as("d2"), col("b.dst") === col("d2.id"))
      .select(col("d1.degree").cast("double").as("x"),
              col("d2.degree").cast("double").as("y"))
    val m = pairs.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    m.select(
      when(col("n") * col("sxx") - col("sx") * col("sx") <= 0 ||
           col("n") * col("syy") - col("sy") * col("sy") <= 0, lit(0.0))
        .otherwise(round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
        .as("assortativity"))
  }

  /** §2.5 — dense relabel: map arbitrary component labels to dense ids
    * [0, #components) in ascending-label order — the PPoPP renumbering
    * (`SparseSampling.hpp:297-309`). Fully distributed via the [[prefixSum]]
    * two-pass machinery: on a fragmented graph (mostly singletons — common
    * in co-occurrence data) #components ≈ #vertices, so a global
    * `Window.orderBy(label)` (one single-partition Exchange) is the exact
    * single-reducer sort the prefix scan exists to avoid. dense(label) =
    * prefixCount(label) - 1 over the range-partitioned distinct labels;
    * dense ids are a presentation concern, canonical max-labels remain the
    * engine's native output. */
  def denseRelabel(labels: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    org.apache.spark.sql.GraftLineage.scopedBlocks(spark) {
      val dense = prefixSum(
        labels.select(col("label")).distinct().withColumn("_one", lit(1L)),
        "label", "_one")
        .select(col("label"), (col("prefix_sum") - 1).as("dense_label"))
      org.apache.spark.sql.GraftLineage.barrier(
        labels.join(dense, "label").select(col("id"), col("dense_label")))
    }
  }

  /** One-row descriptive statistics of a DIRECTED edge table — the
    * health-check a digraph pipeline runs before the iterative
    * operators: vertex/edge counts, mutual (reciprocated) edge count
    * (reciprocity = n_mutual / n_edges, left as exact integers so the
    * gate is hash-exact), and source/sink counts (no in- resp. no
    * out-edges). Scale: self-loops/dups dropped once, then one
    * self-equi-join on the swapped key pair for mutuality and two
    * anti-joins on distinct endpoint sets — all key-partitioned aggs
    * to single-row frames, crossJoined at the end (5 one-row plans,
    * no collect). */
  def digraphStats(directed: DataFrame): DataFrame = {
    val e = directed.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
    val outs = e.select(col("src").as("id")).distinct()
    val ins = e.select(col("dst").as("id")).distinct()
    val nv = outs.union(ins).distinct()
      .agg(count(lit(1)).as("n_vertices"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    val nm = e.as("a")
      .join(e.as("b"), col("a.src") === col("b.dst") &&
        col("a.dst") === col("b.src"))
      .agg(count(lit(1)).as("n_mutual"))
    val nsrc = outs.join(ins, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_sources"))
    val nsink = ins.join(outs, Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_sinks"))
    nv.crossJoin(ne).crossJoin(nm).crossJoin(nsrc).crossJoin(nsink)
  }
}
