package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Readers/normalizers for edge tables.
  *
  * Reference input format (`Serial/utils/GraphInputIterator.hpp:27-42`):
  * whitespace-separated text, header `V E`, then `E` pairs `u v` with
  * `0 <= u,v < V`. Undirected; may contain self-loops (dropped on load,
  * `Serial/serial_cc.cpp:42-43`), duplicates and unnormalized order (kept).
  */
object GraphIO {

  /** Parsed text graph: the declared vertex count plus the edge Dataset
    * with loader semantics applied (self-loops dropped; duplicates and
    * orientation preserved, like the reference loaders).
    */
  final case class TextGraph(vertexCount: Long, edgeCount: Long, edges: Dataset[Edge])

  /** Read the reference text format. Lines are position-tagged so each
    * file's header (its first non-empty line) is identified without a
    * driver-side file read — multi-split safe: `monotonically_increasing_id`
    * is only file-ordered WITHIN one split, so on a file Spark splits into
    * several partitions the globally-smallest id need not be the first
    * line. The header is instead anchored with the file-source `_metadata`
    * columns: PER FILE, it is the minimum-id row *among rows of the split
    * starting at file offset 0* (rows of one split stay in file order
    * inside their partition, and ids are monotone within a partition, so
    * that minimum IS the file's first line regardless of how splits are
    * packed).
    *
    * Glob/directory inputs are treated as SHARDS of one graph over a
    * shared vertex-id space — every file carries its own `V E` header;
    * the combined graph reports `V = max(V_file)` and `E = Σ E_file`.
    * (A single-header anchor here would silently parse the other files'
    * headers as edges.) The per-file header set is collected to the
    * driver — one row per file, bounded by the file count, same shape as
    * the reference's per-rank header read (`GraphInputIterator.hpp:27-33`
    * on every rank). */
  def readTextGraph(spark: SparkSession, path: String): TextGraph = {
    import spark.implicits._
    val withPos = spark.read.text(path)
      .select(monotonically_increasing_id().as("pos"),
        (col("_metadata.file_block_start") === 0).as("first_block"),
        col("_metadata.file_path").as("file"),
        trim(col("value")).as("line"))
      .filter(length(col("line")) > 0)
      .select(col("pos"), col("first_block"), col("file"),
        split(col("line"), "\\s+").as("toks"))
      .select(
        col("pos"), col("first_block"), col("file"),
        element_at(col("toks"), 1).cast("long").as("a"),
        element_at(col("toks"), 2).cast("long").as("b"))
    // struct-min is lexicographic → min pos per file = that file's header
    val headers = withPos.filter(col("first_block"))
      .groupBy(col("file"))
      .agg(min(struct(col("pos"), col("a"), col("b"))).as("h"))
      .select(col("h.pos"), col("h.a"), col("h.b"))
      .collect()
    require(headers.nonEmpty, s"no header line found under $path")
    val headerPositions = headers.map(_.getLong(0)).toSeq
    val vertexCount = headers.map(_.getLong(1)).max
    val edgeCount = headers.map(_.getLong(2)).sum
    val edges = withPos
      .filter(!col("pos").isInCollection(headerPositions)) // pos is globally unique
      .select(col("a").as("src"), col("b").as("dst"))
      .filter(col("src") =!= col("dst")) // P1: self-loop drop on load
      .as[Edge]
    TextGraph(vertexCount, edgeCount, edges)
  }

  /** P3 — normalize orientation so `src <= dst`
    * (`Edge.hpp:25-31`; applied e.g. `my_MPI_cc.cpp:70`). */
  def normalize(edges: Dataset[Edge]): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst")).as[Edge]
  }

  /** Canonical edge set: self-loops dropped, normalized, deduplicated.
    * Dedup is idempotent for CC (the reference keeps duplicates —
    * `mpi_parallel_cc_utils.cpp:57-76` never dedups — but dropping them
    * only shrinks shuffle volume, never changes the partition).
    */
  def canonical(edges: Dataset[Edge]): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    normalize(edges).filter(col("src") =!= col("dst")).distinct().as[Edge]
  }

  /** Both directions of an undirected edge set (for degree/neighborhood
    * operators that need symmetric adjacency). Implemented as a single-scan
    * explode, not a self-union: a union duplicates the whole upstream
    * subtree (double scan / double derivation at 100 TB). */
  def bidirectional(edges: Dataset[Edge]): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .as[Edge]
  }

  /** Canonical WEIGHTED edge set of (src, dst, weight) rows in arbitrary
    * orientation: normalized, self-loops dropped, duplicates summed. */
  def canonicalWeighted(weighted: DataFrame): DataFrame =
    weighted
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("weight"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))

  /** Both directions of [[canonicalWeighted]], each carrying the weight
    * (single-scan explode, like [[bidirectional]]). */
  def bidirectionalWeighted(weighted: DataFrame): DataFrame =
    canonicalWeighted(weighted).select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst"), col("weight")),
        struct(col("dst").as("src"), col("src").as("dst"), col("weight")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.weight").as("weight"))

  /** Distinct endpoint set of an edge table (single scan via explode). */
  def vertices(edges: Dataset[Edge]): Dataset[Long] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().as[Long]
  }

  /** P4 — bounds predicate `assert(from < V && to < V)`
    * (`serial_cc.cpp:39-40`): count violations, fail fast. */
  def validateBounds(edges: Dataset[Edge], vertexCount: Long): Unit = {
    val bad = edges.filter(
      col("src") < 0 || col("dst") < 0 ||
      col("src") >= vertexCount || col("dst") >= vertexCount).count()
    require(bad == 0, s"$bad edges reference vertex ids outside [0, $vertexCount)")
  }
}
