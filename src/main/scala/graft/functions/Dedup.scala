package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact (hash
  * groupBy), MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard
  * verification. All candidate generation is bucket-join based (no
  * all-pairs cross join anywhere), which is what keeps these viable at
  * 100 TB: candidates = same-bucket pairs, a self-equi-join on the bucket
  * key with map-side-combinable bucket sizes.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content hash with the
    * representative (min id) and multiplicity. */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(sha2(text, 256).as("content_sha"))
      .agg(min(id).as("rep_id"), count(lit(1)).as("cnt"))

  /** Rows surviving exact dedup (keep min id per content hash). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** k-token shingles of a text column (contiguous token windows). */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** MinHash signature: numHashes independent 64-bit min-hashes over a
    * shingle-set column (e.g. `array_distinct(shingles(text, k))`). Each
    * shingle STRING is hashed exactly once; the numHashes-member hash
    * family is derived by re-hashing that 64-bit value with the family
    * index (`h_i = xxhash64(i, h)`) — a fixed 12-byte hash instead of
    * numHashes variable-length string hashes per shingle (the dominant
    * cost of the whole dedup pipeline before).
    * ANSI mode rules out the classic `a_i*h + b_i` wraparound family
    * (64-bit multiply overflow throws); a seeded re-hash is one
    * expression node and just as uniform. */
  def minhashSignature(shingleSet: Column, numHashes: Int): Column = {
    val h1 = transform(shingleSet, s => xxhash64(s))
    val idx = sequence(lit(0), lit(numHashes - 1)) // foldable → constant array
    // SINGLE fold over the shingle hashes, updating all numHashes mins per
    // element. The naive `transform(idx, i => array_min(transform(h1, ..)))`
    // re-evaluates h1 — the whole shingle pipeline — once per family
    // member (64× per row, measured 10.5 s vs 0.5 s for h1 itself at
    // sf0.1); as the fold input, h1 is evaluated exactly once per row.
    aggregate(h1, array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, idx, (m, i) => least(m, xxhash64(i, h))))
  }

  /** Banded MinHash signatures (id, band, bucket) — the LSH bucketing
    * layer. Two performance rules learned the hard way:
    *  - the signature projection is MATERIALIZED (barrier) before the
    *    per-band slices: otherwise Catalyst's CollapseProject inlines the
    *    full 64-hash signature expression into every band (16× recompute
    *    of the most expensive expression in the pipeline);
    *  - the input is repartitioned first: a small parquet file is one
    *    split, and this is heavy interpreted per-row compute that must
    *    spread across cores. */
  def bandedSignatures(df: DataFrame, id: Column, text: Column,
                       k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    banded(df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions),
      id, array_distinct(shingles(text, k)), bands, rowsPerBand)

  /** The banding [[bandedSignatures]] and [[nearDuplicates]] share:
    * (id, band, bucket) from the signature barrier of the shingle-set
    * column `shingleSet` of `rows`, each bucket the hash of its band's
    * `rowsPerBand` min-hashes. */
  private def banded(rows: DataFrame, id: Column, shingleSet: Column,
                     bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = org.apache.spark.sql.GraftLineage.barrier(
      rows.select(id.as("id"), minhashSignature(shingleSet, bands * rowsPerBand).as("sig")))
    sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => aggregate(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          xxhash64(b), (acc, h) => xxhash64(acc, h)))))
      .toDF("id", "band", "bucket")
  }

  /** Same-bucket pairs of banded signatures: (id_a, id_b) with id_a <
    * id_b, distinct, each (band, bucket) capped at `maxBucket` members. */
  private def bucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val capped = graft.plans.Skew.capGroups(banded,
      Seq(col("band"), col("bucket")), col("id"), maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** LSH candidate pairs from banded MinHash signatures: docs sharing any
    * band bucket. bands * rowsPerBand must equal numHashes. Output:
    * (id_a, id_b) with id_a < id_b, distinct. Buckets are capped at
    * `maxBucket` members before the self-join (degenerate buckets — e.g.
    * thousands of identical docs — would otherwise go quadratic; run
    * [[exactDedup]] first so those floods never reach this stage). */
  def minhashCandidates(df: DataFrame, id: Column, text: Column,
                        k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                        maxBucket: Int = 2000): DataFrame =
    bucketPairs(bandedSignatures(df, id, text, k, bands, rowsPerBand), maxBucket)

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(aShingles: Column, bShingles: Column): Column = {
    val inter = size(array_intersect(aShingles, bShingles)).cast("double")
    val union = size(array_union(aShingles, bShingles)).cast("double")
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** MinHash-LSH near-duplicate pairs, verified by exact n-gram Jaccard ≥
    * threshold. Standard shingle→minhash→band→bucket-join→verify
    * pipeline; the shingle table is materialized ONCE and feeds both the
    * signature/banding stage and the verify joins, so the banding (the
    * same [[banded]] as [[bandedSignatures]], buckets identical) does not
    * repeat the tokenize+shingle pass. EAGER:
    * the result is materialized inside the call so the intermediate
    * shingle cache and signature barriers can be released immediately
    * (repeated library calls hold no stale blocks); release the
    * returned frame with `releaseLineage()` when consumed. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                     threshold: Double = 0.7, maxBucket: Int = 2000): DataFrame =
    org.apache.spark.sql.GraftLineage.scopedBlocks(df.sparkSession) {
      // barrier (not persist): scopedBlocks tracks barriers per-thread,
      // so this cache is released on exit even under concurrent calls
      val base = org.apache.spark.sql.GraftLineage.barrier(df
        .repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
        .select(col(idCol).as("id"),
          array_distinct(shingles(col(textCol), k)).as("sh")))
      val cands = bucketPairs(banded(base, col("id"), col("sh"), bands, rowsPerBand),
        maxBucket)
      org.apache.spark.sql.GraftLineage.barrier(cands
        .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard")))
    }

  /** 64-bit SimHash over token hashes: bit b set iff the majority of
    * tokens have bit b set in their xxhash64. Pure expressions, single
    * pass: each token is hashed ONCE and folded into 64 bit-counters
    * (the naive per-bit formulation re-hashes every token 64 times).
    * shiftleft/shiftrightunsigned go through call_function — the Scala
    * wrappers only take a literal Int shift, the SQL functions take
    * columns. */
  def simhash(text: Column): Column = {
    val hashes = transform(TextAnalysis.tokens(text), t => xxhash64(t))
    val n = size(hashes)
    val bitIdx = sequence(lit(0), lit(63))
    val counts = aggregate(hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitIdx, (c, b) =>
        c + call_function("shiftrightunsigned", h, b).bitwiseAND(lit(1L))))
    when(n === 0, lit(0L)).otherwise(
      aggregate(zip_with(counts, bitIdx, (c, b) =>
          when(c * 2 > n, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc.bitwiseOR(x)))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidates
    * via 4×16-bit chunk buckets (pigeonhole: hamming ≤ 3 ⇒ one chunk
    * equal). EAGER like [[nearDuplicates]]: result materialized, interior
    * signature barrier released before returning. */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3, maxBucket: Int = 2000): DataFrame =
   org.apache.spark.sql.GraftLineage.scopedBlocks(df.sparkSession) {
    val sigs = org.apache.spark.sql.GraftLineage.barrier(
      df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
        .select(col(idCol).as("id"), simhash(col(textCol)).as("sig")))
    val chunked = graft.plans.Skew.capGroups(
      sigs.select(col("id"), col("sig"),
          posexplode(transform(sequence(lit(0), lit(3)),
            c => call_function("shiftrightunsigned", col("sig"), c * 16)
              .bitwiseAND(lit(0xFFFFL)))))
        .toDF("id", "sig", "chunk", "ckey"),
      Seq(col("chunk"), col("ckey")), col("id"), maxBucket)
    org.apache.spark.sql.GraftLineage.barrier(
      chunked.as("a").join(chunked.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming))
   }

  /** Substring-overlap duplicate pairs (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): pairs of
    * documents sharing at least one run of `k` consecutive verbatim
    * tokens — equivalently, at least one shared k-token shingle —
    * with the count of distinct shared k-shingles per pair. This is
    * the dedup modality document-level Jaccard at 0.8 misses: two
    * long, otherwise-different documents with a copied paragraph.
    *
    * Scale design: one shingle pass (distinct per doc), then a
    * bucketed self-equi-join on the GRAM key — never all-pairs. Hot
    * grams (boilerplate paragraphs shared by thousands of docs) are
    * the quadratic hazard; [[graft.plans.Skew.capGroups]] bounds each
    * gram's posting list at `maxPostings` (smallest doc_ids kept,
    * deterministic, with the live dropped-row signal), so a gram
    * contributes at most C(maxPostings, 2) pairs. At k = 20-50 true
    * boilerplate is exactly what gets capped first — the pairs lost
    * are within already-flagged flood groups (run exact dedup
    * upstream, as with [[nearDuplicates]]). */
  def substringDupPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 20, maxPostings: Int = 1000): DataFrame =
    org.apache.spark.sql.GraftLineage.scopedBlocks(docs.sparkSession) {
      val grams = docs
        .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
        .select(col(idCol).as("doc_id"),
          explode(array_distinct(shingles(col(textCol), k))).as("g"))
      // barrier AFTER the cap: the self-join consumes the capped
      // postings twice, and the shingle HOF chain must evaluate once
      val post = org.apache.spark.sql.GraftLineage.barrier(
        graft.plans.Skew.capGroups(grams, Seq(col("g")), col("doc_id"),
          maxPostings))
      org.apache.spark.sql.GraftLineage.barrier(
        post.as("p").join(post.as("q"),
            col("p.g") === col("q.g") && col("p.doc_id") < col("q.doc_id"))
          .groupBy(col("p.doc_id").as("id_a"), col("q.doc_id").as("id_b"))
          .agg(count(lit(1)).as("n_shared")))
    }
}
