package graft.graph

/** Core data model of the link-graph engine.
  *
  * The reference engine's single data structure is a flat undirected edge
  * list of `(from, to)` pairs (`Serial/utils/Edge.hpp:10-13`, a POD of two
  * `uint32_t`). We widen ids to `Long`: the north-rule scale (10^12 files)
  * overflows 32 bits. Tungsten packs an `Edge` into a 24 B UnsafeRow (an
  * 8 B null bitset and two longs); a barrier stores it as those 24 B plus
  * a 4 B length prefix, 28 B per edge in the block store.
  */
final case class Edge(src: Long, dst: Long)

/** Per-vertex state: the label array `vector<uint32_t> labels` of the
  * reference (`CSE613-MPI/my_MPI_cc.cpp:84-87`), identity-initialized.
  * Array indexing `labels[v]` becomes an equi-join on `id`.
  */
final case class VertexLabel(id: Long, label: Long)

/** PageRank score row. */
final case class VertexRank(id: Long, rank: Double)

/** Per-superstep convergence metrics (north rule: per-partition lineage +
  * metrics appended each superstep; reference analogue: the per-round
  * printouts of `my_MPI_cc.cpp:108-116`).
  */
final case class SuperstepMetrics(
    runId: String,
    algo: String,
    superstep: Int,
    edgesIn: Long,
    edgesOut: Long,
    verticesActive: Long,
    pointerJumps: Int,
    wallMs: Long)
