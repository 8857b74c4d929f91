package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-management operators for training-data pipelines: deterministic
  * train/val/test splitting, benchmark decontamination (n-gram overlap
  * against an eval set), and cross-split leakage detection. These sit
  * downstream of the dedup family ([[Dedup]]) in the pipeline the brief
  * describes: dedup → quality/lang filter → split → decontaminate.
  *
  * 100 TB design notes:
  *  - splits are a pure content-hash projection (zero shuffles, fully
  *    codegen'd, reproducible across runs and engines);
  *  - decontamination broadcasts the BENCHMARK n-gram set (eval suites
  *    are MB-scale by construction) and makes one pass over the corpus:
  *    explode_outer k-grams → broadcast left join → partial-agg hit
  *    count (zero-overlap docs ride the same aggregation). The corpus
  *    text itself is never shuffled;
  *  - leakage reuses the bucketed LSH near-dup machinery (no all-pairs)
  *    and only joins the resulting PAIR list (tiny relative to the
  *    corpus) against the split projection.
  */
object Corpus {

  /** Deterministic split assignment from the first hex nibble of the
    * content sha256: 0-b → train (12/16), c-d → val (2/16), e-f → test
    * (2/16). Hashing CONTENT (not ids) pins byte-identical documents to
    * the same split, so exact duplicates can never straddle a split
    * boundary; near-duplicate leakage is what [[crossSplitLeakage]]
    * measures. */
  def splitExpr(text: Column): Column = {
    val h = substring(sha2(text, 256), 1, 1)
    when(h.isin("c", "d"), "val")
      .when(h.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** Per-document split assignment: (id, split). */
  def splitAssign(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), splitExpr(text).as("split"))

  /** Benchmark contamination: for every corpus document (rows where
    * `benchPred` is false), the number of its distinct k-token n-grams
    * that appear in ANY benchmark document (rows where `benchPred` is
    * true), plus a 0/1 contaminated flag. This is the standard eval-set
    * decontamination primitive: at k=5, chance n-gram collisions vanish
    * and only true near-copies of benchmark items are flagged.
    *
    * The benchmark n-gram set is broadcast (eval suites are small by
    * nature); the corpus side is one scan + explode + broadcast join +
    * count, with the per-doc grams already distinct so the join-hit
    * count IS the distinct-overlap count. Ids must be unique non-null
    * per document (the corpus contract every gated consumer satisfies):
    * the per-doc aggregation emits ONE row per id, so a duplicate or
    * null id would silently merge documents. Both are checked with
    * metrics observed in the two materializations the call already
    * makes (no extra job) and rejected with IllegalArgumentException. */
  def contamination(docs: DataFrame, id: Column, text: Column,
                    benchPred: Column, k: Int = 5): DataFrame =
    org.apache.spark.sql.GraftLineage.scopedBlocks(docs.sparkSession) {
      // barrier: the n-gram pipeline (a CodegenFallback HOF chain, the
      // dominant cost) feeds BOTH the benchmark and corpus sides — one
      // materialized pass instead of two full evaluations (the same rule
      // as Dedup.nearDuplicates' shingle base; measured 14.9 s → 4.0 s
      // at sf0.1). scopedBlocks releases it once the result is barrier'd.
      val (grams, gramsObs) = org.apache.spark.sql.GraftLineage.barrierObserved(docs
        .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
        .select(id.as("doc_id"), benchPred.as("is_bench"),
          array_distinct(Dedup.shingles(text, k)).as("sh")),
        count(when(!col("is_bench"), 1)).as("corpus_rows"),
        count(when(col("doc_id").isNull, 1)).as("null_ids"))
      val bench = broadcast(
        grams.filter(col("is_bench"))
          .select(explode(col("sh")).as("g")).distinct()
          .withColumn("hit", lit(1L)))
      // r07: one corpus-side pass instead of two — explode_outer keeps
      // empty-gram docs as a single null-gram row (null never joins), so
      // counting bench-side hits per doc already covers the zero-overlap
      // documents and the former second barrier scan + left join of the
      // hit table are gone (guide §1.2)
      val hits = grams.filter(!col("is_bench"))
        .select(col("doc_id"), explode_outer(col("sh")).as("g"))
        .join(bench, Seq("g"), "left")
        .groupBy("doc_id").agg(count(col("hit")).as("n_overlap"))
      val (out, outObs) = org.apache.spark.sql.GraftLineage.barrierObserved(
        hits.select(col("doc_id"), col("n_overlap"),
          when(col("n_overlap") > 0, 1L).otherwise(0L).as("contaminated")),
        count(lit(1)).as("rows"))
      val nullIds = gramsObs("null_ids").asInstanceOf[Long]
      // one output row per distinct corpus id: fewer rows than corpus
      // rows means ids repeated
      val dupIds = gramsObs("corpus_rows").asInstanceOf[Long] - outObs("rows").asInstanceOf[Long]
      if (nullIds > 0 || dupIds != 0)
        throw new IllegalArgumentException(
          s"contamination: doc ids must be unique and non-null; saw $nullIds null " +
            s"and $dupIds duplicate ids")
      out
    }

  /** Near-duplicate pairs that straddle a split boundary — the train/test
    * leakage check a pipeline runs after splitting. Pairs come from the
    * gated LSH near-dup path ([[Dedup.nearDuplicates]], threshold
    * `threshold`); each endpoint's split is joined from the content-hash
    * projection. */
  def crossSplitLeakage(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    val pairs = Dedup.nearDuplicates(docs, idCol, textCol, threshold = threshold)
    val splits = splitAssign(docs, col(idCol), col(textCol))
    pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"))
  }

  /** Deterministic stratified sample: within each stratum, keep the `k`
    * documents with the SMALLEST content sha256 (ties → smallest id).
    * Content-keyed rank is a reproducible pseudo-random order that is
    * engine-independent AND id-independent — re-ingesting the same bytes
    * under new doc ids selects the same documents, the property a
    * curation pipeline needs for auditable subsampling. Emits the
    * stratum columns + (doc_id, rank).
    *
    * 100 TB: one row_number window per stratum (the same shape as
    * [[graft.plans.Skew.capGroups]] with the rank kept as output); the
    * per-stratum reducer sees only its stratum and emits ≤ k rows. For
    * mega-strata, pre-split the stratum with a salt column the same way
    * [[packSequences]] buckets — ranks then become per-(stratum, salt),
    * still deterministic. */
  def stratifiedSample(docs: DataFrame, id: Column, text: Column,
                       strata: Seq[(String, Column)], k: Int): DataFrame = {
    val base = docs.select(
      strata.map { case (n, c) => c.as(n) } ++
        Seq(id.as("doc_id"), sha2(text, 256).as("_sha")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata.map(t => col(t._1)): _*)
      .orderBy(col("_sha"), col("doc_id"))
    base.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("_sha")
  }

  /** Deterministic sequence packing: concatenate documents in a fixed
    * order (doc_id) and chunk the token stream into fixed-budget bins —
    * each document is assigned the bin where its FIRST token lands:
    * `offset` = exclusive running token count within its packing bucket,
    * `bin` = offset div budget, `bin_offset` = offset mod budget. A bin
    * can overflow by at most one document's tokens — the contract of
    * concat-then-chunk packing (how LLM pretraining actually consumes
    * documents), as opposed to bin-packing with reordering.
    *
    * 100 TB: packing is embarrassingly parallel across
    * (lang, doc_id mod `buckets`) groups, so a hot language's window
    * reducer is bounded to 1/buckets of that language; bucket membership
    * is pure integer arithmetic (deterministic and oracle-able — a hash
    * salt would be engine-bound). The token counter is the same
    * whitespace rule as the gated split_summary/text_stats family. */
  def packSequences(docs: DataFrame, id: Column, text: Column,
                    lang: Column, budget: Long, buckets: Int = 8): DataFrame = {
    val base = docs.select(lang.as("lang"),
      pmod(id, lit(buckets.toLong)).as("bucket"),
      id.as("doc_id"),
      TextAnalysis.tokenCount(text).as("tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    base
      .withColumn("offset", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .select(col("lang"), col("bucket"), col("doc_id"), col("tokens"),
        col("offset"),
        expr(s"offset div ${budget}L").as("bin"),
        pmod(col("offset"), lit(budget)).as("bin_offset"))
  }
}
