package graft.operators

import graft.graph.{Edge, GraphIO}
import org.apache.spark.sql.{DataFrame, Dataset, GraftLineage, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Triangle counting over an undirected edge set (north-rule operator; no
  * reference implementation — spec is the classic E⋈E⋉E wedge-close count).
  *
  * Scale design: edges are oriented from lower to higher **(degree, id)**
  * rank before the wedge join — the standard degree-ordering trick that
  * bounds wedge count by O(m^1.5) instead of Σdeg² (a star hub generates
  * zero wedges instead of deg² of them). Both the total count and the
  * per-vertex counts build wedges on the SAME oriented table; each
  * triangle {a,b,c} with rank(a)<rank(b)<rank(c) is generated exactly
  * once, at apex a. The closing-edge probe is a left-semi join (no
  * payload materialized).
  */
object TriangleCount {

  /** Degree table computed from an ALREADY-canonical edge set (single
    * scan; `GraphMetrics.degrees` would re-canonicalize). */
  private def degreesOfCanonical(canon: Dataset[Edge]): DataFrame =
    canon.select(explode(array(col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(org.apache.spark.sql.functions.count(lit(1)).as("degree"))

  /** Degree-oriented edge table: one row (lo, hi) per canonical edge with
    * rank(lo) < rank(hi), rank = (degree, id). */
  private[graft] def orient(canon: Dataset[Edge]): DataFrame =
    orient(canon, degreesOfCanonical(canon))

  private def orient(canon: Dataset[Edge], deg: DataFrame): DataFrame = {
    val spark = canon.sparkSession
    import spark.implicits._
    val withDeg = canon.as("e")
      .join(deg.as("ds"), $"e.src" === $"ds.id")
      .join(deg.as("dd"), $"e.dst" === $"dd.id")
      .select($"e.src".as("src"), $"e.dst".as("dst"),
        $"ds.degree".as("sdeg"), $"dd.degree".as("ddeg"))
    withDeg.select(
      when($"sdeg" < $"ddeg" || ($"sdeg" === $"ddeg" && $"src" < $"dst"), $"src")
        .otherwise($"dst").as("lo"),
      when($"sdeg" < $"ddeg" || ($"sdeg" === $"ddeg" && $"src" < $"dst"), $"dst")
        .otherwise($"src").as("hi"))
  }

  /** Shared enumeration backbone: persist canon + oriented, hand the
    * caller (canon, degrees, confirmed triangles (a,u,v,src,dst)), then
    * unpersist. `f` must consume its result EAGERLY (count/collect/
    * barrier) — a lazy return would recompute after the unpersists. */
  private def withTriangleBase[T](edges: Dataset[Edge])(
      f: (DataFrame, DataFrame, DataFrame) => T): T = {
    val spark = edges.sparkSession
    import spark.implicits._
    val canon = GraphIO.canonical(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val deg = degreesOfCanonical(canon)
    val oriented = orient(canon, deg).persist(StorageLevel.MEMORY_AND_DISK)
    val tri = wedges(oriented)
      .select($"a", $"u", $"v",
        least($"u", $"v").as("src"), greatest($"u", $"v").as("dst"))
      .join(canon, Seq("src", "dst"), "left_semi")
    try f(canon.toDF(), deg, tri)
    finally { oriented.unpersist(); canon.unpersist() }
  }

  /** Wedges (a; u, v) from the low-rank apex of the oriented table —
    * |wedges| is O(m^1.5) regardless of hubs. */
  private[graft] def wedges(oriented: DataFrame): DataFrame = {
    val spark = oriented.sparkSession
    import spark.implicits._
    oriented.as("e1").join(oriented.as("e2"),
        $"e1.lo" === $"e2.lo" && $"e1.hi" < $"e2.hi")
      .select($"e1.lo".as("a"), $"e1.hi".as("u"), $"e2.hi".as("v"))
  }

  /** Total triangle count (one row, column `triangles`). */
  def count(edges: Dataset[Edge]): DataFrame = {
    val spark = edges.sparkSession
    val n = withTriangleBase(edges)((_, _, tri) => tri.count())
    spark.createDataset(Seq(n))(org.apache.spark.sql.Encoders.scalaLong)
      .toDF("triangles")
  }

  /** Per-vertex triangle participation counts. Vertices in no triangle are
    * absent (join with degrees for a dense view). Same oriented-wedge
    * bound as [[count]]: the triple (apex, u, v) is kept through the
    * closing semi-join, then each member is credited once. Eager. */
  def perVertex(edges: Dataset[Edge]): DataFrame =
    withTriangleBase(edges) { (_, _, tri) =>
      val spark = edges.sparkSession
      import spark.implicits._
      org.apache.spark.sql.GraftLineage.barrier(
        tri.select(explode(array($"a", $"u", $"v")).as("id"))
          .groupBy($"id")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles")))
    }

  /** Per-vertex local clustering coefficient:
    * 2·tri(v) / (deg(v)·(deg(v)−1)), 0 for deg < 2; rounded to 6 dp.
    * One row per vertex (dense — vertices in no triangle get 0). Eager;
    * one shared canonical/degree/wedge pass (not perVertex + degrees). */
  def clusteringCoefficient(edges: Dataset[Edge]): DataFrame =
    withTriangleBase(edges) { (_, deg, tri) =>
      val spark = edges.sparkSession
      import spark.implicits._
      val perV = tri.select(explode(array($"a", $"u", $"v")).as("id"))
        .groupBy($"id")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles"))
      org.apache.spark.sql.GraftLineage.barrier(
        deg.join(perV, Seq("id"), "left")
          .select($"id",
            when($"degree" < 2, lit(0.0)).otherwise(
              round(coalesce($"triangles", lit(0L)) * 2.0 /
                ($"degree" * ($"degree" - 1)), 6)).as("clustering")))
    }

  /** Common-neighbor count per canonical edge (u, v): |N(u) ∩ N(v)| =
    * the number of triangles through the edge — the basic link-prediction
    * feature. Edges in no triangle are reported with 0. Same O(m^1.5)
    * oriented wedge enumeration as [[count]]: each confirmed triangle
    * (a; u, v) credits its three edges once, in canonical (min, max)
    * orientation. Eager. */
  def commonNeighborsPerEdge(edges: Dataset[Edge]): DataFrame =
    withTriangleBase(edges) { (canonDf, _, tri) =>
      val spark = edges.sparkSession
      import spark.implicits._
      val perEdge = tri.select(explode(array(
          struct(least($"a", $"u").as("src"), greatest($"a", $"u").as("dst")),
          struct(least($"a", $"v").as("src"), greatest($"a", $"v").as("dst")),
          struct($"src", $"dst"))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"))
        .groupBy($"src", $"dst")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("common_neighbors"))
      org.apache.spark.sql.GraftLineage.barrier(
        canonDf.join(perEdge, Seq("src", "dst"), "left")
          .select($"src", $"dst",
            coalesce($"common_neighbors", lit(0L)).as("common_neighbors")))
    }

  /** Neighborhood Jaccard per canonical edge:
    * |N(u)∩N(v)| / (deg(u)+deg(v)−|N(u)∩N(v)|) — structural edge
    * similarity (embeddedness normalized by neighborhood size; 0 marks
    * a local bridge). Same shared triangle pass as the other per-edge
    * features; 6 dp. Eager. */
  def neighborhoodJaccard(edges: Dataset[Edge]): DataFrame =
    withTriangleBase(edges) { (canonDf, deg, tri) =>
      val spark = edges.sparkSession
      import spark.implicits._
      val perEdge = tri.select(explode(array(
          struct(least($"a", $"u").as("src"), greatest($"a", $"u").as("dst")),
          struct(least($"a", $"v").as("src"), greatest($"a", $"v").as("dst")),
          struct($"src", $"dst"))).as("e"))
        .select($"e.src".as("src"), $"e.dst".as("dst"))
        .groupBy($"src", $"dst")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("cn"))
      org.apache.spark.sql.GraftLineage.barrier(
        canonDf
          .join(perEdge, Seq("src", "dst"), "left")
          .join(deg.select($"id".as("src"), $"degree".as("ds")), Seq("src"))
          .join(deg.select($"id".as("dst"), $"degree".as("dd")), Seq("dst"))
          .select($"src", $"dst",
            round(coalesce($"cn", lit(0L)).cast("double") /
              ($"ds" + $"dd" - coalesce($"cn", lit(0L))), 6).as("nbr_jaccard")))
    }

  /** Edges of the k-truss: the maximal subgraph in which every edge
    * participates in ≥ k−2 triangles — the edge-level cohesion
    * decomposition (stricter than the k-core's vertex degrees; the
    * standard community-core extractor). Iterative peeling: per-edge
    * triangle support via the O(m^1.5) oriented enumeration, drop edges
    * under k−2, repeat to fixpoint (support only shrinks when edges
    * leave, so peeling converges; fixpoint = unchanged edge count,
    * observed inside the materialization job). Returns the canonical
    * truss edge list. */
  def kTruss(edges: Dataset[Edge], k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val spark = edges.sparkSession
    import spark.implicits._
    // the support table is the step's own barrier; the loop frees it
    // once the round's edges have materialized
    GraftLineage.scopedBlocks(spark) {
      Traversal.peel(GraphIO.canonical(edges).toDF(), functions.count(lit(1)).as("n"),
          maxIter, "k-truss") { e =>
        commonNeighborsPerEdge(e.as[Edge]) // eager barrier
          .filter($"common_neighbors" >= k - 2).select($"src", $"dst")
      }
    }
  }

  /** Adamic-Adar link-prediction score per canonical edge:
    * AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — common neighbors
    * weighted by rarity (a shared hub says little, a shared 2-degree
    * vertex says a lot). Every common neighbor sits in a triangle, so
    * deg(w) ≥ 2 and the log never hits zero. Same O(m^1.5) oriented
    * enumeration as [[count]]: each confirmed triangle (a; u, v)
    * contributes a as a common neighbor of edge (u,v), v of (a,u) and
    * u of (a,v). Edges in no triangle score 0; 6 dp. Eager. */
  def adamicAdar(edges: Dataset[Edge]): DataFrame =
    withTriangleBase(edges) { (canonDf, deg, tri) =>
      val spark = edges.sparkSession
      import spark.implicits._
      val contribs = tri.select(explode(array(
          struct(least($"a", $"u").as("src"), greatest($"a", $"u").as("dst"), $"v".as("w")),
          struct(least($"a", $"v").as("src"), greatest($"a", $"v").as("dst"), $"u".as("w")),
          struct($"src", $"dst", $"a".as("w")))).as("t"))
        .select($"t.src".as("src"), $"t.dst".as("dst"), $"t.w".as("w"))
      val perEdge = contribs
        .join(deg.select($"id".as("w"), $"degree"), Seq("w"))
        .groupBy($"src", $"dst")
        .agg(sum(lit(1.0) / log($"degree")).as("aa"))
      org.apache.spark.sql.GraftLineage.barrier(
        canonDf.join(perEdge, Seq("src", "dst"), "left")
          .select($"src", $"dst",
            round(coalesce($"aa", lit(0.0)), 6).as("adamic_adar")))
    }

  /** Friend-of-friend recommendations: for each vertex, the top-k
    * NON-adjacent vertices at distance 2, ranked by common-neighbor
    * count (ties → smaller candidate id) — the link-prediction product
    * built on the same common-neighbors signal as [[adamicAdar]], but
    * over candidate pairs instead of existing edges.
    *
    * Scale: candidate volume is Σ deg(m)² over middle vertices m — the
    * same blow-up class as wedge enumeration; `maxMiddleDeg` drops
    * middles above a degree ceiling (a celebrity middle contributes a
    * quadratic candidate set while carrying almost no signal — the
    * standard recommender mitigation; 0 disables). Adjacent pairs are
    * removed with one anti-join; per-vertex top-k is a window keyed by
    * the vertex (reducer parallelism = |V|). */
  def fofRecommendations(edges: Dataset[Edge], k: Int,
                         maxMiddleDeg: Long = 0L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val bidir = GraphIO.bidirectional(GraphIO.canonical(edges)).toDF()
    // the cap must constrain ONLY the middle vertex (x.dst == y.src):
    // `in` keeps edges whose dst is cap-eligible (x leg: v → middle);
    // the y leg (middle → candidate) is `in` REVERSED — bidir is
    // symmetric, so reversing the dst-capped rows yields exactly the
    // src-capped rows — so high-degree CANDIDATES (and sources) stay
    // eligible; only middles above the ceiling are dropped.
    val in = if (maxMiddleDeg <= 0) bidir else {
      val deg = bidir.groupBy($"src".as("id"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("dg"))
      bidir.join(deg.filter($"dg" <= maxMiddleDeg).select($"id".as("dst")), Seq("dst"))
    }
    val out = if (maxMiddleDeg <= 0) bidir
      else in.select($"dst".as("src"), $"src".as("dst"))
    val cand = in.as("x").join(out.as("y"),
        $"x.dst" === $"y.src" && $"x.src" =!= $"y.dst")
      .groupBy($"x.src".as("id"), $"y.dst".as("cand"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("common_neighbors"))
    val nonAdj = cand.join(bidir,
      cand("id") === bidir("src") && cand("cand") === bidir("dst"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"id").orderBy($"common_neighbors".desc, $"cand".asc)
    nonAdj.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"id", $"rank".cast("long").as("rank"), $"cand", $"common_neighbors")
  }
}
