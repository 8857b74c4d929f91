package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-driven stand-ins for the TPC-H-ish harness tables the graph and
  * corpus queries read (`lineitem`, `supplier`, `orders`, `documents`,
  * `embeddings`), written as one-file parquet tables under `dir`.
  *
  * Every value is `xxhash64(seed, salt, key…)`-derived, never `rand()`, so
  * the same seed writes the same rows at any parallelism. Row counts follow
  * TPC-H scale factor `sf` (lineitem ≈ 6 M × sf rows). The documents carry
  * planted near-duplicates (a copied text plus one marker token), so the
  * dedup, clustering and leakage queries have real work and real output.
  */
object Inputs {
  val Tables: Seq[String] = Seq("lineitem", "supplier", "orders", "documents", "embeddings")

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en", "en", "en", "en", "zh", "es", "de", "fr")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val nOrders = math.max(100L, (1500000 * sf).toLong)
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nCust = math.max(10L, (150000 * sf).toLong)
    val nPart = math.max(10L, (200000 * sf).toLong)
    val nDocs = math.max(50L, (50000 * sf).toLong)
    val nVecs = math.max(50L, (50000 * sf).toLong)
    def h(parts: Column*): Column = xxhash64(lit(seed) +: parts: _*)
    def pick(parts: Column*)(n: Long): Column = pmod(h(parts: _*), lit(n))
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pick(lit("cust"), col("id"))(nCust).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (pick(lit("status"), col("id"))(3) + 1).cast("int")).as("o_orderstatus"),
      (pick(lit("price"), col("id"))(50000000) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + pick(lit("odate"), col("id"))(2400) * 86400)
        .as("o_orderdate"),
      concat((pick(lit("prio"), col("id"))(5) + 1).cast("string"), lit("-PRIO"))
        .as("o_orderpriority"))
    save(orders, "orders")

    val lineitem = spark.range(nOrders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pick(lit("lines"), col("id"))(7) + 1).cast("int")))
          .as("l_linenumber"))
      .select(col("l_orderkey"),
        pick(lit("part"), col("l_orderkey"), col("l_linenumber"))(nPart).as("l_partkey"),
        pick(lit("supp"), col("l_orderkey"), col("l_linenumber"))(nSupp).as("l_suppkey"),
        col("l_linenumber"),
        (pick(lit("qty"), col("l_orderkey"), col("l_linenumber"))(50) + 1).cast("double")
          .as("l_quantity"),
        (pick(lit("ext"), col("l_orderkey"), col("l_linenumber"))(10000000) / 100.0 + 900.0)
          .as("l_extendedprice"),
        (pick(lit("disc"), col("l_orderkey"), col("l_linenumber"))(11) / 100.0)
          .as("l_discount"),
        (pick(lit("tax"), col("l_orderkey"), col("l_linenumber"))(9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pick(lit("rf"), col("l_orderkey"), col("l_linenumber"))(3) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (pick(lit("ls"), col("l_orderkey"), col("l_linenumber"))(2) + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_seconds(lit(788918400L) +
          pick(lit("ship"), col("l_orderkey"), col("l_linenumber"))(2500) * 86400)
          .as("l_shipdate"))
    save(lineitem, "lineitem")

    val supplier = spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(lit("nation"), col("id"))(25).cast("int").as("s_nationkey"),
      (pick(lit("bal"), col("id"))(1100000) / 100.0 - 999.99).as("s_acctbal"))
    save(supplier, "supplier")

    // Base texts: 6–90 tokens drawn from a small skewed-free vocabulary.
    val vocabArr = array(vocab.map(lit): _*)
    val base = spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(transform(
        sequence(lit(0), (pick(lit("len"), col("id"))(85) + 5).cast("int")),
        i => element_at(vocabArr,
          (pmod(xxhash64(lit(seed), lit("w"), col("id"), i), lit(vocab.size.toLong)) + 1)
            .cast("int"))), " ").as("base_text"))
    // Every ~20th document (not the first) copies an earlier one's text
    // and appends a marker token: a planted near-duplicate pair.
    val isDup = col("doc_id") > 0 && pick(lit("dup"), col("doc_id"))(20) === 0
    val withSrc = base.withColumn("src_id",
      when(isDup, pmod(h(lit("dupsrc"), col("doc_id")), col("doc_id"))))
    val srcText = base.select(col("doc_id").as("sid"), col("base_text").as("src_text"))
    val documents = withSrc.join(srcText, withSrc("src_id") === srcText("sid"), "left")
      .select(col("doc_id"),
        when(col("src_text").isNotNull, concat(col("src_text"), lit(" dup")))
          .otherwise(col("base_text")).as("text"))
      .select(col("doc_id"), col("text"),
        element_at(array(langs.map(lit): _*),
          (pick(lit("lang"), col("doc_id"))(langs.size.toLong) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
    save(documents, "documents")

    // 64-dim unit vectors around ten hash-placed class centres.
    val dim = 64
    def unitSigned(parts: Column*): Column =
      (pmod(h(parts: _*), lit(20001L)) - 10000) / 10000.0
    val embeddings = spark.range(nVecs)
      .select(col("id").as("vec_id"), pick(lit("label"), col("id"))(10).cast("int").as("label"))
      .select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          unitSigned(lit("centre"), col("label"), j) +
            unitSigned(lit("noise"), col("vec_id"), j) * 0.35).as("raw"))
      .select(col("vec_id"), col("label"),
        sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)).as("norm"), col("raw"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
    save(embeddings, "embeddings")
  }
}
