package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling (north rule: salted, hot-vertex-split,
  * two-phase broadcast+shuffle joins). AQE's skew-join covers sort-merge
  * cases at runtime; these utilities cover what AQE cannot: skewed
  * *aggregations* with non-algebraic combiners and join patterns where
  * the planner lacks key-frequency knowledge.
  *
  * No reference counterpart (the reference broadcasts the whole label
  * array to every process, `CSE613-MPI/my_MPI_cc.cpp:176` — the moral
  * ancestor of the broadcast leg here).
  */
object Skew {

  /** Keys of `df` whose row count exceeds `threshold` (the hot set —
    * expected tiny: power-law heads). */
  def hotKeys(df: DataFrame, key: Column, threshold: Long): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > threshold)
      .select(col("k"))

  /** Two-phase join of a skewed fact `big` against dim `small` on
    * big(bigKey) == small(smallKey):
    *   - hot keys (frequency > hotThreshold in `big`): broadcast the
    *     matching slice of `small` — hot rows never shuffle;
    *   - cold remainder: ordinary shuffle join (AQE-managed).
    * Union of the two legs ≡ the plain inner join. The hot keys are
    * collected once (the tiny power-law head, by contract) into a local
    * relation both legs broadcast: nothing is cached, so nothing is left
    * to free. */
  def twoPhaseJoin(big: DataFrame, small: DataFrame,
                   bigKey: String, smallKey: String,
                   hotThreshold: Long = 1000000L): DataFrame = {
    val hot = hotKeys(big, col(bigKey), hotThreshold)
    val hotB = broadcast(big.sparkSession.createDataFrame(
      java.util.Arrays.asList(hot.collect(): _*), hot.schema))
    val bigHot = big.join(hotB, big(bigKey) === hotB("k"), "left_semi")
    val bigCold = big.join(hotB, big(bigKey) === hotB("k"), "left_anti")
    val smallHot = broadcast(
      small.join(hotB, small(smallKey) === hotB("k"), "left_semi"))
    val joinedHot = bigHot.join(smallHot, bigHot(bigKey) === smallHot(smallKey))
    val joinedCold = bigCold.join(small, bigCold(bigKey) === small(smallKey))
    joinedHot.union(joinedCold)
  }

  /** Salted two-level aggregation for a skewed groupBy with an
    * IDEMPOTENT-under-re-aggregation combiner (max/min/sum): groupBy
    * (key, salt) → partial, then the SAME aggregate over the partials.
    * For aggregates where partial and final differ (count → sum,
    * avg → sum/sum), use the two-function overload. Spark's map-side
    * partial agg already handles most skew; explicit salting additionally
    * splits a hot key across REDUCERS, for aggregates whose per-key state
    * is large or when partial agg is disabled. */
  def saltedAgg(df: DataFrame, key: Column, value: Column,
                agg: Column => Column, salts: Int): DataFrame =
    saltedAgg(df, key, value, agg, agg, salts)

  def saltedAgg(df: DataFrame, key: Column, value: Column,
                agg: Column => Column): DataFrame =
    saltedAgg(df, key, value, agg, agg, 16)

  /** [[saltedAgg]] with distinct partial/final aggregates — the general
    * two-level form (count: partial = count, final = sum of partials). */
  def saltedAgg(df: DataFrame, key: Column, value: Column,
                partialAgg: Column => Column, finalAgg: Column => Column,
                salts: Int): DataFrame = {
    val salted = df.groupBy(key.as("k"), pmod(xxhash64(value), lit(salts)).as("salt"))
      .agg(partialAgg(value).as("partial"))
    salted.groupBy(col("k")).agg(finalAgg(col("partial")).as("agg"))
  }

  /** Deterministically cap rows per key-group (`row_number` ≤ maxSize,
    * ordered by `order`): the guard that keeps LSH-bucket self-joins
    * subquadratic when a degenerate bucket appears (thousands of empty /
    * near-identical documents — guaranteed in web corpora). Truncated
    * groups lose candidate pairs beyond the cap — run EXACT dedup first
    * so identical-content floods never reach the near-dup stage.
    *
    * The dropped-row count is observed inside the SAME job that evaluates
    * the frame (`Dataset.observe` on the ranked rows before the filter —
    * no extra action, no upstream recompute) and logged unconditionally
    * once the first action over the result completes, so recall loss from
    * capping always has a runtime signal in production runs. */
  def capGroups(df: DataFrame, keys: Seq[Column], order: Column,
                maxSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(order)
    val obs = org.apache.spark.sql.Observation()
    val ranked = df.withColumn("_rn", row_number().over(w))
      .observe(obs, sum(when(col("_rn") > maxSize, 1L).otherwise(0L)).as("dropped"))
    // The drop signal fires via a callback on the Observation's future —
    // no thread, no polling (the round-3 poller thread died on its first
    // poll: `Observation.getOrEmpty` NPEs pre-completion on this Spark
    // build — and a thread-per-call design leaked threads for plans that
    // are built but never executed). The future completes exactly when
    // the observed plan's first action finishes; for never-executed plans
    // nothing ever fires and the only residue is the Observation's own
    // registered listener. Metric extraction is defensive: a surprise
    // row shape logs a warning instead of silently dropping the signal.
    obs.future.onComplete {
      case scala.util.Success(row) =>
        try {
          val dropped = row.getAs[Any]("dropped") match {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case _ => 0L
          }
          if (dropped > 0)
            System.err.println(s"[skew] capGroups dropped $dropped rows past cap=$maxSize " +
              "(near-dup candidates lost; run exact dedup upstream if this is large)")
        } catch {
          case e: Throwable =>
            System.err.println(s"[skew] capGroups drop-count metric unreadable: $e")
        }
      case scala.util.Failure(_) => () // observed query itself failed — caller sees it
    }(scala.concurrent.ExecutionContext.global)
    ranked.filter(col("_rn") <= maxSize).drop("_rn")
  }

  /** Hot-vertex split for adjacency processing: rows of hot vertices get
    * a salt column (`xxhash64(dst) % salts`), producing `(src, salt)`
    * sub-vertices whose partial results re-combine on `src`. Returns the
    * input with a `salt` column (0 for cold rows). */
  def splitHotVertices(edges: DataFrame, hotThreshold: Long, salts: Int = 16): DataFrame = {
    val hot = broadcast(hotKeys(edges, col("src"), hotThreshold))
    edges.join(hot, edges("src") === hot("k"), "left")
      .select(edges("src"), edges("dst"),
        when(col("k").isNotNull, pmod(xxhash64(edges("dst")), lit(salts)))
          .otherwise(lit(0L)).as("salt"))
  }
}
