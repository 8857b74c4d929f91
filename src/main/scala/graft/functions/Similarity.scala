package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline, and
  * a signed-random-projection LSH bucketed variant as the scale path.
  *
  * Vector math uses `zip_with`/`aggregate` higher-order functions — pure
  * Catalyst expressions, no UDFs. Hyperplanes for SRP-LSH are Rademacher
  * (±1) vectors derived from `xxhash64(plane, dim)` — deterministic across
  * runs and parallelism, no stored model.
  */
object Similarity {

  /** dot(a, b) for two array<float/double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  /** cosine(a, b); 0 when either side has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, lit(0.0)).otherwise(d / nn)
  }

  /** dot(a, b) UNROLLED over a statically-known dimension: a chain of
    * `element_at` products instead of `zip_with`+`aggregate`. Same
    * left-to-right summation order (bit-identical result), but the
    * higher-order functions are CodegenFallback — every pair pays
    * lambda dispatch plus an intermediate array allocation — while this
    * expansion stays inside whole-stage codegen. On the all-pairs kNN
    * kernel (4 M pairs × 64 dims at sf0.1) the HOF form measured ~176 s
    * vs seconds unrolled. Use when `dim` is known (embedding tables);
    * the HOF forms remain for dynamic-width callers. */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduceLeft(_ + _)

  /** L2 norm, unrolled like [[dotUnrolled]]. */
  def normUnrolled(a: Column, dim: Int): Column =
    sqrt((1 to dim).map { i =>
      val x = element_at(a, i).cast("double"); x * x
    }.reduceLeft(_ + _))

  /** Exact brute-force cosine top-k: every query row is compared against
    * the whole corpus. Queries are expected to be a small set and are
    * broadcast: the "join" is a broadcast-nested-loop over corpus
    * partitions — embarrassingly parallel, no shuffle of the corpus.
    * Deterministic tie-break by id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val scored = c.join(q, col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("q_emb"), col("nbr_emb")), 8).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("cos"))
  }

  /** SRP-LSH signature: `planes` sign bits packed into a long. Bit p =
    * sign(Σ_d emb[d] * rademacher(p, d)). */
  def srpSignature(emb: Column, planes: Int, dim: Int, seed: Long = 7L): Column =
    aggregate(sequence(lit(0), lit(planes - 1)), lit(0L), (acc, p) => {
      val proj = aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (s, d) =>
        s + element_at(emb, d + 1).cast("double") *
          when(pmod(xxhash64(lit(seed), p, d), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0)))
      acc.bitwiseOR(call_function("shiftleft",
        when(proj >= 0, lit(1L)).otherwise(lit(0L)), p))
    })

  /** The LSH bands of an SRP signature, as a `posexplode` generator of
    * (band, bucket): `bands` consecutive `bandBits`-bit slices of `sig`.
    * [[lshTopK]], [[knnAll]]'s LSH path and [[cosineNearDuplicates]]
    * bucket on it. */
  private def srpBands(sig: Column, bands: Int, bandBits: Int): Column =
    posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
      call_function("shiftrightunsigned", sig, b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1))))

  /** LSH-bucketed ANN top-k: candidates share at least one band of the
    * SRP signature (bands of `bandBits` bits each); exact cosine + top-k
    * within candidates. Recall < 1 by construction; the trade is no
    * all-pairs pass — candidate generation is a bucket equi-join.
    *
    * Tuning (measured at sf0.1, 2000×64-d vectors, recall@10 vs brute
    * force): the per-band match probability for a neighbor at angle θ is
    * (1-θ/π)^bandBits, and the candidate fraction scanned per query is
    * ≈ bands/2^bandBits of the corpus. 8-bit bands are the NEAR-DUP
    * setting (cos ≥ 0.99 ⇒ per-plane agreement ≈ .97 ⇒ band match ≈ .79)
    * but miss general top-k neighbors (recall@10 = .05 at 16/8); short
    * bands trade candidate volume for recall: 32/4 → .69, 48/4 → .84
    * (default), 64/4 → .91. At larger corpora raise bandBits in step
    * with log2(corpus) to keep per-bucket candidate counts bounded, and
    * compensate with more bands (or multi-probe) for recall. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              dim: Int, planes: Int = 48, bandBits: Int = 0): DataFrame =
   org.apache.spark.sql.GraftLineage.scopedBlocks(corpus.sparkSession) {
    // bandBits = 0 (the default) self-tunes from the corpus count: one
    // count() picks bandBitsFor(n), so default invocations keep
    // per-bucket occupancy (and the candidate volume) bounded as the
    // corpus grows instead of silently scanning ~75% of it per query.
    // At the measured-recall scales (≤10^3 vectors) the auto choice is
    // exactly the old 48/4 default, so the recall curve still applies.
    // The count runs on a barrier'd corpus (released at scope end): a
    // caller handing in a derived, unmaterialized frame must not pay a
    // full re-evaluation of its upstream pipeline for the count AND
    // again for the banding pass below.
    val corpusM =
      if (bandBits > 0) corpus
      else org.apache.spark.sql.GraftLineage.barrier(corpus)
    val bb = if (bandBits > 0) bandBits else bandBitsFor(corpusM.count())
    val bands = math.max(1, planes / bb)
    // Candidate fraction per query ≈ bands/2^bandBits of the corpus.
    // Still possible to hit by pinning bandBits low explicitly — loud,
    // not silent:
    val candFraction = bands.toDouble / (1L << bb)
    if (candFraction > 0.25)
      System.err.println(f"[ann] lshTopK planes=$planes bandBits=$bb scans " +
        f"~${candFraction * 100}%.0f%% of the corpus per query — fine for small/" +
        "mid corpora, degenerate at scale; raise bandBits toward " +
        "bandBitsFor(corpusCount) and add bands for recall")
    def banded(df: DataFrame, idName: String, embName: String): DataFrame =
      df.select(col("vec_id").as(idName), col("embedding").as(embName),
          srpSignature(col("embedding"), planes, dim).as("sig"))
        .select(col(idName), col(embName), srpBands(col("sig"), bands, bb))
        .toDF(idName, embName, "band", "bucket")
    // barrier (not persist): tracked by the enclosing scopedBlocks
    val c = org.apache.spark.sql.GraftLineage.barrier(
      banded(corpusM, "nbr_id", "nbr_emb"))
    val q = banded(queries, "query_id", "q_emb")
    val cands = c.join(broadcast(q),
        c("band") === q("band") && c("bucket") === q("bucket") &&
          col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"), col("q_emb"), col("nbr_emb"))
      .distinct()
    val scored = cands.select(col("query_id"), col("nbr_id"),
      round(cosine(col("q_emb"), col("nbr_emb")), 8).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id").asc)
    // eager: materialize the (tiny) top-k so the banded-corpus cache can
    // be released before returning (scopedBlocks) — no stale blocks after
    // repeated library calls
    org.apache.spark.sql.GraftLineage.barrier(
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("nbr_id"), col("cos")))
   }

  /** bandBits giving ≈`targetPerBucket` expected occupancy per LSH bucket
    * under a uniform-hash model: 2^bandBits ≈ corpus/targetPerBucket.
    * Keeps per-bucket candidate counts (and the self-join volume) bounded
    * as the corpus grows; pair with more bands/multi-probe for recall. */
  def bandBitsFor(corpusCount: Long, targetPerBucket: Int = 64): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, corpusCount.toDouble / targetPerBucket)) /
        math.log(2.0)).toInt)

  /** Full-corpus k-nearest-neighbors by cosine: the top-k neighbor list
    * for EVERY vector — the embedding-clustering / semantic-dedup
    * primitive (each vector's cluster seed candidates are its kNN).
    * Output: (vec_id, rank, nbr_id, cos), rank 1..k, cos rounded to 8 dp,
    * ties broken by nbr_id.
    *
    * Two physical paths behind one contract:
    *  - corpora ≤ `exactRows`: EXACT blocked all-pairs. One side is
    *    broadcast (≤ exactRows × dim floats — a few MB), the "join" is a
    *    broadcast-nested-loop scanned in parallel over corpus partitions,
    *    and the per-vector top-k is a window over vec_id (reducer
    *    parallelism = corpus size, not a global funnel). n² work —
    *    affordable exactly where it is exact.
    *  - larger corpora: SRP-LSH bucketed SELF-join (bandBitsFor keeps
    *    per-bucket occupancy bounded; [[graft.plans.Skew.capGroups]] caps
    *    flooded buckets with its recall-loss signal), exact cosine
    *    rescoring of candidates, per-vector top-k. Approximate — vectors
    *    whose true neighbors never share a band are missed; recall vs the
    *    exact path is measured in PipelineSpec.
    */
  def knnAll(corpus: DataFrame, k: Int, dim: Int,
             exactRows: Long = 10000L,
             planes: Int = 48, bandBits: Int = 0,
             maxBucket: Int = 2000): DataFrame =
   org.apache.spark.sql.GraftLineage.scopedBlocks(corpus.sparkSession) {
    // norms precomputed ONCE per row (the HOF cosine() recomputes both
    // norms per PAIR — 3 non-codegen folds × n² pairs); the pair kernel
    // is then a single codegen'd unrolled dot product. The corpus is
    // spread over the full shuffle-partition count FIRST: the work below
    // is O(n²) in an O(n)-sized table, so inheriting the scan's split
    // count (often 1 for a small parquet) would serialize the whole
    // kernel into one task — an n-row shuffle buys n²/p parallelism.
    val spark = corpus.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val c = org.apache.spark.sql.GraftLineage.barrier(
      corpus.select(col("vec_id"), col("embedding"),
        normUnrolled(col("embedding"), dim).as("nrm")).repartition(p))
    val n = c.count() // reads the barrier — no second scan of the source
    def pairCos = {
      val nn = col("q_nrm") * col("nbr_nrm")
      round(when(nn === 0.0, lit(0.0))
        .otherwise(dotUnrolled(col("q_emb"), col("nbr_emb"), dim) / nn), 8)
    }
    if (n <= exactRows) {
      // EXACT path as a partition-batched JVM kernel (guide §4.2/§8:
      // heavy per-pair compute in tight primitive loops; decide with
      // small rows, never shuffle the n² pair table). The corpus — ≤
      // exactRows × dim floats, the same bounded class the old plan
      // broadcast — ships once with precomputed neighbor norms; each
      // partition scans its rows as queries against the broadcast and
      // emits its queries' FINAL top-k (map-side top-k: the n²-row
      // exchange + per-query window sort of the expression plan
      // disappear; measured 15.5 s → ~2 s at sf0.1, 2000×64-d).
      // Arithmetic is bit-identical to the old dotUnrolled/normUnrolled
      // expression kernel: float→double casts per element, ascending-
      // index left-to-right sums, nn == 0 guard, and the same
      // BigDecimal HALF_UP 8 dp round Spark's round() applies —
      // asserted by PipelineSpec against the expression plan.
      import spark.implicits._
      val rows = c.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      val ids = rows.map(_._1)
      val embs = rows.map(_._2)
      val nrms = embs.map { e =>
        var s = 0.0; var i = 0
        while (i < e.length) { val x = e(i).toDouble; s += x * x; i += 1 }
        math.sqrt(s)
      }
      val bc = spark.sparkContext.broadcast((ids, embs, nrms))
      val kk = k
      val topk = c.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val (nIds, nEmbs, nNrms) = bc.value
          val cnt = nIds.length
          def better(c1: Double, i1: Long, c2: Double, i2: Long): Boolean =
            c1 > c2 || (c1 == c2 && i1 < i2)
          it.flatMap { case (qid, qe) =>
            var qs = 0.0; var i = 0
            while (i < qe.length) { val x = qe(i).toDouble; qs += x * x; i += 1 }
            val qn = math.sqrt(qs)
            val topCos = new Array[Double](kk)
            val topId = new Array[Long](kk)
            var filled = 0
            var j = 0
            while (j < cnt) {
              val nid = nIds(j)
              if (nid != qid) {
                val nn = qn * nNrms(j)
                val cos =
                  if (nn == 0.0) 0.0
                  else {
                    val b = nEmbs(j)
                    var s = 0.0; var d = 0
                    while (d < qe.length) { s += qe(d).toDouble * b(d).toDouble; d += 1 }
                    round8(s / nn)
                  }
                if (filled < kk ||
                    better(cos, nid, topCos(filled - 1), topId(filled - 1))) {
                  var pos = math.min(filled, kk - 1)
                  while (pos > 0 && better(cos, nid, topCos(pos - 1), topId(pos - 1))) {
                    topCos(pos) = topCos(pos - 1); topId(pos) = topId(pos - 1)
                    pos -= 1
                  }
                  topCos(pos) = cos; topId(pos) = nid
                  if (filled < kk) filled += 1
                }
              }
              j += 1
            }
            (0 until filled).iterator
              .map(r => (qid, (r + 1).toLong, topId(r), topCos(r)))
          }
        }
        .toDF("vec_id", "rank", "nbr_id", "cos")
      org.apache.spark.sql.GraftLineage.barrier(topk)
    } else {
      val scored = {
        val bb = if (bandBits > 0) bandBits else bandBitsFor(n)
        val bands = math.max(1, planes / bb)
        val sig = graft.plans.Skew.capGroups(
          c.select(col("vec_id").as("id"), col("embedding").as("emb"),
              col("nrm"),
              srpSignature(col("embedding"), planes, dim).as("sig"))
            .select(col("id"), col("emb"), col("nrm"), srpBands(col("sig"), bands, bb))
            .toDF("id", "emb", "nrm", "band", "bucket"),
          Seq(col("band"), col("bucket")), col("id"), maxBucket)
        sig.as("a").join(sig.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") =!= col("b.id"))
          .select(col("a.id").as("query_id"), col("b.id").as("nbr_id"),
            col("a.emb").as("q_emb"), col("b.emb").as("nbr_emb"),
            col("a.nrm").as("q_nrm"), col("b.nrm").as("nbr_nrm"))
          .distinct() // a pair can share several bands
          .select(col("query_id"), col("nbr_id"), pairCos.as("cos"))
      }
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("nbr_id").asc)
      org.apache.spark.sql.GraftLineage.barrier(
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("query_id").as("vec_id"),
            col("rank").cast("long").as("rank"), col("nbr_id"), col("cos")))
    }
   }

  /** Spark's `round(col, 8)` for DoubleType, replicated exactly for the
    * JVM pair kernel: BigDecimal.valueOf (Double.toString shortest
    * repr) + HALF_UP at scale 8. */
  private def round8(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Lloyd's k-means over the embedding column — the semantic-CLUSTERING
    * primitive next to [[knnAll]] (cluster ids drive stratified corpus
    * curation / near-dup group selection at scale).
    *
    * Deterministic by construction, so a cross-engine oracle can
    * reproduce it exactly: init = the embeddings of the k smallest
    * `vec_id`s; distance = squared L2; assignment ties break toward the
    * smaller cluster index; `iters` is pinned (no convergence
    * early-exit) like the pinned-iteration PageRank/LPA gates. Float
    * noise: Spark and DuckDB both sum doubles (different orders, ~1e-13
    * relative); assignments only flip if two centroids are equidistant
    * to ~1e-13, which real embeddings never are — the INTEGER
    * (vec_id, cluster) table is the gated output, not the centroids.
    * It is [[lloyd]]'s one-subspace case. */
  def kMeans(corpus: DataFrame, k: Int, dim: Int, iters: Int = 5): DataFrame =
    kMeansModel(corpus, k, dim, iters)._1

  /** [[kMeans]] plus the FINAL centroids (the k × dim driver-resident
    * model) — the coarse quantizer / codebook form [[ivfSearch]] probes.
    * The centroids are the ones the returned assignment was computed
    * with (post-update iteration `iters`). */
  def kMeansModel(corpus: DataFrame, k: Int, dim: Int,
                  iters: Int = 5): (DataFrame, Array[(Int, Seq[Double])]) = {
    val (assigned, cents) = lloyd(corpus, 1, k, dim, iters)(
      _.select(col("vec_id"), col("cluster").cast("long").as("cluster")).orderBy("vec_id"))
    (assigned, cents.head)
  }

  /** Product-quantization codes (Jégou, Douze, Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011): split each
    * embedding into `m` contiguous subvectors and run the deterministic
    * [[kMeans]] independently in each subspace; a vector's code is the
    * m-tuple of its subspace cluster ids (columns `code_0..code_{m-1}`)
    * — kᵐ implicit cells from only m·k stored centroids, the compressed
    * representation IVF-PQ indexes store per vector (m bytes at k ≤
    * 256) instead of 4·dim. Fully deterministic, so the INTEGER codes
    * are oracle-gateable like `kmeans_assign`. */
  def pqCodes(corpus: DataFrame, m: Int, k: Int, dim: Int,
              iters: Int = 4): DataFrame =
    subspaceModels(corpus, m, k, dim, iters)._1

  /** The m subspace clusterings of [[pqCodes]] ([[lloyd]] over m
    * subspaces): the (vec_id, code_0..code_{m-1}) table, one pivot of
    * the assignment, plus each subspace's final (cluster, centroid)
    * model. */
  private[graft] def subspaceModels(corpus: DataFrame, m: Int, k: Int, dim: Int,
                                    iters: Int)
      : (DataFrame, IndexedSeq[Array[(Int, Seq[Double])]]) = {
    val codeCols = (0 until m).map(j =>
      max(when(col("j") === j, col("cluster"))).cast("long").as(s"code_$j"))
    lloyd(corpus, m, k, dim, iters)(
      _.groupBy(col("vec_id")).agg(codeCols.head, codeCols.tail: _*))
  }

  /** Lloyd's iterations of m independent k-means clusterings, one per
    * contiguous `dim/m`-wide subspace j, advanced in LOCKSTEP over one
    * exploded (vec_id, j, emb) table: each iteration is ONE broadcast
    * join + `min_by` assignment + per-(j, cluster, dim) mean collect for
    * ALL m subspaces (guide §1.2: the subspaces need separate GROUP
    * KEYS, not separate passes). Init per subspace: the k smallest ids'
    * subvectors, one bounded collect of k·m rows; an empty cluster keeps
    * its previous centroid.
    *
    * Scale design: centroids live on the DRIVER between iterations
    * (m·k × dim/m doubles — trivially bounded) and enter each iteration
    * as a BROADCAST table, so an iteration shuffles no corpus row; the
    * plan (and its codegen) is identical every iteration, the lesson of
    * the PageRank dangling-mass fix. Returns `shape` of the final
    * (vec_id, j, cluster) assignment, materialized, and each subspace's
    * (cluster, centroid) model. */
  private def lloyd(corpus: DataFrame, m: Int, k: Int, dim: Int, iters: Int)(
      shape: DataFrame => DataFrame): (DataFrame, IndexedSeq[Array[(Int, Seq[Double])]]) = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subvectors")
    require(k >= 1 && iters >= 1, s"k-means needs k >= 1, iters >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    org.apache.spark.sql.GraftLineage.scopedFrames(spark)(
        (r: (DataFrame, IndexedSeq[Array[(Int, Seq[Double])]])) => Seq(r._1)) {
      val c = org.apache.spark.sql.GraftLineage.barrier(
        corpus.select(col("vec_id"),
          posexplode(transform(sequence(lit(0), lit(m - 1)), j =>
            transform(slice(col("embedding"), j * lit(sub) + 1, lit(sub)),
              x => x.cast("double"))))))
        .toDF("vec_id", "j", "emb")
      val init = c.orderBy("vec_id", "j").limit(k * m).collect()
      var cents: IndexedSeq[Array[(Int, Seq[Double])]] = (0 until m).map { j =>
        (0 until init.length / m).map(i => (i, init(i * m + j).getSeq[Double](2))).toArray
      }
      def centDf() = broadcast(spark.createDataset(
          for { j <- 0 until m; (cl, v) <- cents(j) } yield (j, cl, v))
        .toDF("j", "cluster", "cent"))
      def assign() = {
        val dist = aggregate(zip_with(col("emb"), col("cent"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
        c.join(centDf(), Seq("j"))
          .select(col("vec_id"), col("j"), col("emb"), col("cluster"), dist.as("d2"))
          .groupBy(col("vec_id"), col("j"))
          .agg(min_by(struct(col("cluster"), col("emb")),
            struct(col("d2"), col("cluster"))).as("mm"))
          .select(col("vec_id"), col("j"), col("mm.cluster").as("cluster"),
            col("mm.emb").as("emb"))
      }
      var it = 0
      while (it < iters) {
        val means = assign()
          .select(col("j"), col("cluster"), posexplode(col("emb")))
          .groupBy(col("j"), col("cluster"), col("pos"))
          .agg(avg(col("col")).as("mv"))
          .collect().groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (key, rows) =>
            key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
          }
        cents = (0 until m).map { j =>
          cents(j).map { case (cl, old) => (cl, means.getOrElse((j, cl), old)) }
        }
        it += 1
      }
      (org.apache.spark.sql.GraftLineage.barrier(
        shape(assign().select(col("vec_id"), col("j"), col("cluster")))), cents)
    }
  }

  /** IVF-PQ approximate nearest-neighbor SEARCH (Jégou et al., TPAMI
    * 2011 — the IVFADC system): probe the `nprobe` nearest coarse
    * cells per query, ADC-score only those cells' PQ codes with
    * per-query subspace distance tables, exact-rerank the best
    * `rerank` candidates by true cosine. Output matches
    * [[bruteForceTopK]]: (query_id, rank, nbr_id, cos@8dp), ties by id.
    *
    * Determinism: everything integer-gated upstream is the pinned
    * [[kMeansModel]]; the two float surfaces (probe/ADC distances from
    * averaged centroids) differ cross-engine by ~1e-13 relative —
    * candidate sets only flip if two candidates tie to that precision
    * at the nprobe/rerank cutoffs, which real embeddings don't (the
    * same robustness argument as the gated kmeans_assign).
    *
    * Scale design: the index is ONE table (vec_id, cell, code_0..m-1)
    * built by m+1 broadcast-centroid passes (no corpus shuffle, see
    * [[lloyd]]); a search touches corpus rows only via (a) one
    * broadcast probe-table join on `cell` (scans the index, shuffles
    * nothing) and (b) m broadcast ADC-table joins + one windowed top-k
    * over candidates — per-query cost tracks the probed cells' sizes,
    * never the corpus. Queries collect to the driver (a search API's
    * query batch is small by contract — same class as
    * [[bruteForceTopK]]'s broadcast). */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nlist: Int = 4, nprobe: Int = 2, m: Int = 4, kSub: Int = 4,
                rerank: Int = 32, iters: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subvectors")
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe must be in [1, nlist]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    org.apache.spark.sql.GraftLineage.scopedBlocks(spark) {
      // index build: coarse cells + m subspace codebooks/codes — the m
      // sub-clusterings advance jointly ([[subspaceModels]]), so the
      // build is iters+iters iteration jobs instead of (m+1)·iters, and
      // the index assembly is ONE id join instead of m
      val (coarse, coarseCents) = kMeansModel(corpus, nlist, dim, iters)
      val (codes, subCents) = subspaceModels(corpus, m, kSub, dim, iters)
      val index = coarse.withColumnRenamed("cluster", "cell")
        .join(codes, "vec_id")
      // driver-side probe + ADC tables from the collected query batch.
      // d2 accumulates LEFT TO RIGHT — the same order as the oracle's
      // list_sum(list_transform(...)), so distances match bit-for-bit
      // given equal centroid inputs.
      def d2(a: Seq[Double], b: Seq[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val qRows = queries.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      // the query batch is small by contract (same bounded class as
      // bruteForceTopK's broadcast) — fail loudly past it, and validate
      // dimensions up front so a mismatched query errors clearly instead
      // of as an IndexOutOfBounds inside d2 (ADVICE r06)
      require(qRows.length <= 100000,
        s"ivfSearch: query batch ${qRows.length} exceeds the small-batch " +
          "contract (100k); shard the queries")
      qRows.foreach { case (qid, qe) =>
        require(qe.length == dim,
          s"ivfSearch: query $qid has dim ${qe.length}, expected $dim")
      }
      val probes = qRows.toSeq.flatMap { case (qid, qe) =>
        coarseCents.map { case (cIdx, cent) => (cIdx, d2(qe, cent)) }
          .sortBy { case (cIdx, d) => (d, cIdx) } // ties → smaller cell
          .take(nprobe).map { case (cIdx, _) => (qid, cIdx.toLong) }
      }
      val dtabs = (0 until m).map { j =>
        val rows = qRows.toSeq.flatMap { case (qid, qe) =>
          val qs = qe.slice(j * sub, (j + 1) * sub)
          subCents(j).map { case (code, cent) =>
            (qid, code.toLong, d2(qs, cent))
          }
        }
        broadcast(spark.createDataset(rows).toDF("query_id", s"code_$j", s"_d$j"))
      }
      // candidates = probed cells' index rows (broadcast join — the
      // index never shuffles); self-matches excluded like bruteForceTopK
      val cand = index
        .join(broadcast(spark.createDataset(probes).toDF("query_id", "cell")),
          Seq("cell"))
        .filter(col("query_id") =!= col("vec_id"))
      val adc = (0 until m)
        .foldLeft(cand)((df, j) => df.join(dtabs(j), Seq("query_id", s"code_$j")))
        .select(col("query_id"), col("vec_id"),
          (0 until m).map(j => col(s"_d$j")).reduceLeft(_ + _).as("adc"))
      val wAdc = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id").asc)
      val pool = adc.withColumn("_rn", row_number().over(wAdc))
        .filter(col("_rn") <= rerank).select(col("query_id"), col("vec_id"))
      // exact rerank of the tiny pool: true cosine (codegen'd unrolled
      // kernel, the knn_all-gated arithmetic), rank by the ROUNDED score
      val scored = corpus.select(col("vec_id"), col("embedding").as("nbr_emb"))
        .join(broadcast(pool), Seq("vec_id"))
        .join(broadcast(queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))), Seq("query_id"))
      val nn = normUnrolled(col("q_emb"), dim) * normUnrolled(col("nbr_emb"), dim)
      val cosed = scored.select(col("query_id"), col("vec_id").as("nbr_id"),
        round(when(nn === 0.0, lit(0.0))
          .otherwise(dotUnrolled(col("q_emb"), col("nbr_emb"), dim) / nn), 8)
          .as("cos"))
      val wC = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("nbr_id").asc)
      org.apache.spark.sql.GraftLineage.barrier(
        cosed.withColumn("rank", row_number().over(wC))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("nbr_id"), col("cos")))
    }
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    * threshold) via LSH buckets — the embedding leg of the dedup suite.
    * Keeps the long-band 16/8 defaults: at near-dup thresholds
    * (cos ≥ 0.99) per-plane agreement is ≈ .97, so an 8-bit band still
    * matches with p ≈ .79 per band while keeping buckets selective —
    * the regime where SRP-LSH is actually strong (see [[lshTopK]]). */
  def cosineNearDuplicates(corpus: DataFrame, threshold: Double,
                           dim: Int, planes: Int = 16, bandBits: Int = 8,
                           maxBucket: Int = 2000): DataFrame =
   org.apache.spark.sql.GraftLineage.scopedBlocks(corpus.sparkSession) {
    val bands = planes / bandBits
    val sig = graft.plans.Skew.capGroups(
      corpus.select(col("vec_id").as("id"), col("embedding").as("emb"),
          srpSignature(col("embedding"), planes, dim).as("sig"))
        .select(col("id"), col("emb"), srpBands(col("sig"), bands, bandBits))
        .toDF("id", "emb", "band", "bucket"),
      Seq(col("band"), col("bucket")), col("id"), maxBucket)
    org.apache.spark.sql.GraftLineage.barrier(
      sig.as("a").join(sig.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          round(cosine(col("a.emb"), col("b.emb")), 8).as("cos"))
        .distinct()
        .filter(col("cos") >= threshold))
   }
}
