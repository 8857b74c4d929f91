package graft.tools

import graft.sources.EdgeDerivation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-JVM A/B of the co-occurrence edge-derivation formulations
  * (OPTIMIZATION_r07 "Not yet optimized" #1: the lineitem self-join is a
  * fixed ~2 s floor under every co-occurrence query).
  *
  * Candidates per derivation:
  *   - join  : the round-6 self-join on the group key, INLINED here so
  *             the baseline stays measurable after the shipped code
  *             moved on (broadcast at bench scale, SMJ at cluster scale)
  *   - hash  : the same join with a SHUFFLE_HASH hint (drops both sorts)
  *   - group : groupBy(group key) + sort_array(collect_set(member)) +
  *             map-side pair expansion (i < j over the sorted distinct
  *             set — identical canonical src < dst pair set by
  *             construction), then the same distinct/count tail. For
  *             supplier/parts this IS the shipped EdgeDerivation path
  *             (called through it); for nation/weighted it is the
  *             REJECTED alternative, built inline.
  *
  * Each candidate's output is fingerprinted (count + sum of
  * xxhash64(src, dst[, weight])) so the A/B itself proves multiset
  * equality before any timing is trusted.
  *
  * Usage: runMain graft.tools.ProfileDerivation [sfDir] [reps]
  */
object ProfileDerivation {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    def li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey")
    def liPart = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey")
    def liN = {
      val sup = spark.read.parquet(s"$sfDir/supplier.parquet")
        .select($"s_suppkey", $"s_nationkey")
      val l = li
      l.join(sup, l("l_suppkey") === sup("s_suppkey"))
        .select($"l_orderkey", $"l_suppkey", $"s_nationkey")
    }

    /** Sorted distinct member sets per group → canonical (src < dst)
      * pairs, expanded map-side after the grouping aggregation — the
      * multi-key inline variant for the formulations EdgeDerivation does
      * NOT ship grouped (nation/weighted); null keys dropped to match the
      * join's semantics. */
    def groupPairs(df: DataFrame, groupCols: Seq[String], member: String): DataFrame =
      df.where(groupCols.map(col(_).isNotNull).reduce(_ && _) && col(member).isNotNull)
        .groupBy(groupCols.map(col): _*)
        .agg(sort_array(collect_set(col(member))).as("vs"))
        .select(explode(expr(
          "flatten(transform(vs, (x, i) -> " +
            "transform(slice(vs, i + 2, size(vs)), " +
            "y -> named_struct('src', x, 'dst', y))))")).as("e"))
        .select($"e.src", $"e.dst")

    /** The round-6 self-join formulation, inlined as the baseline. */
    def joinPairs(df: DataFrame, groupCols: Seq[String], member: String): DataFrame = {
      val cond = groupCols.map(k => col(s"a.$k") === col(s"b.$k"))
        .reduce(_ && _) && col(s"a.$member") < col(s"b.$member")
      df.as("a").join(df.as("b"), cond)
        .select(col(s"a.$member").as("src"), col(s"b.$member").as("dst"))
    }

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "supplier/join" -> (() =>
        joinPairs(li, Seq("l_orderkey"), "l_suppkey").distinct()),
      "supplier/hash" -> (() => {
        val l = li
        l.hint("SHUFFLE_HASH").as("a")
          .join(l.as("b"),
            $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
          .select($"a.l_suppkey".as("src"), $"b.l_suppkey".as("dst"))
          .distinct()
      }),
      // the SHIPPED path (grouped since r07 §H)
      "supplier/group" -> (() => EdgeDerivation.supplierCooccurrence(spark, sfDir).toDF()),
      // the SHIPPED path (join — the group formulation measured slower)
      "nation/join" -> (() => EdgeDerivation.supplierCooccurrenceByNation(spark, sfDir).toDF()),
      "nation/group" -> (() =>
        groupPairs(liN, Seq("l_orderkey", "s_nationkey"), "l_suppkey").distinct()),
      "weighted/join" -> (() => EdgeDerivation.supplierCooccurrenceWeightedByNation(spark, sfDir)),
      "weighted/group" -> (() =>
        groupPairs(liN, Seq("l_orderkey", "s_nationkey"), "l_suppkey")
          .groupBy($"src", $"dst").agg(count(lit(1)).as("weight"))),
      "parts/join" -> (() =>
        joinPairs(liPart, Seq("l_orderkey"), "l_partkey").distinct()),
      // the SHIPPED path (grouped since r07 §H)
      "parts/group" -> (() => EdgeDerivation.partCooccurrence(spark, sfDir).toDF())
    )

    // Equality first: fingerprint every variant's output. A sum, not an
    // XOR fold, which cancels equal hashes and so misses a duplicated
    // row pair; decimal so the sum cannot overflow under ANSI mode.
    variants.foreach { case (name, f) =>
      val out = f()
      val row = out.agg(count(lit(1)).as("n"),
        expr(s"sum(cast(xxhash64(${out.columns.sorted.mkString(", ")}) AS DECIMAL(38, 0)))")
          .as("fp"))
        .head()
      println(s"FINGERPRINT $name n=${row.getLong(0)} fp=${row.get(1)}")
    }

    // Interleaved timing sweeps.
    for (r <- 1 to reps) {
      variants.foreach { case (name, f) =>
        val t0 = System.nanoTime()
        f().write.format("noop").mode("overwrite").save()
        println(f"PROF rep=$r $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      }
    }
    spark.stop()
  }
}
