package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import graft.operators.Temporal

/** Unit tests for the temporal/events family (Temporal.scala) on tiny
  * hand-computed event logs. The sf0.01 parquet versions are gated by
  * the DuckDB oracle through SparkEntry; these pin the edge semantics
  * (gap boundaries, as-of ties, strict funnel chains, bucket edges). */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  /** (event_id, minutesFromEpoch, user, type, value) → events frame. */
  private def ev(rows: (Long, Long, Long, String, Double)*): DataFrame =
    rows.map { case (id, m, u, t, v) =>
      (id, new Timestamp(m * 60000L), u, t, v, s"""{"k": ${id % 3}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("sessionize: gap strictly over 30min splits; exact 30min does not") {
    val e = ev(
      (0L, 0L, 1L, "view", 1.0),
      (1L, 30L, 1L, "click", 2.0),  // gap == 30min → same session
      (2L, 61L, 1L, "view", 3.0),   // gap 31min → new session
      (3L, 61L, 2L, "view", 4.0))   // other user → own session
    val s = Temporal.sessionize(e, gapMinutes = 30).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    s((1L, 1L)) shouldBe ((0L, 30L * 60000000L, 2L, 3.0))
    s((1L, 2L)) shouldBe ((61L * 60000000L, 61L * 60000000L, 1L, 3.0))
    s((2L, 1L)) shouldBe ((61L * 60000000L, 61L * 60000000L, 1L, 4.0))
    s.size shouldBe 3
  }

  test("asofJoin: backward lookup, equal-ts visible, max id on ties, null before first") {
    val e = ev(
      (0L, 10L, 1L, "view", 0.0),
      (1L, 10L, 1L, "view", 0.0),   // same-ts views → larger id wins
      (2L, 10L, 1L, "click", 0.0),  // click AT view ts → sees view 1
      (3L, 5L, 1L, "click", 0.0),   // click before any view → null left
      (4L, 20L, 2L, "click", 0.0))  // user with no views at all → null
    val a = Temporal.asofJoin(e, "view", "click").collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    a shouldBe Map(2L -> 1L, 3L -> -1L, 4L -> -1L)
  }

  test("funnel: strict-ts chains; same-ts pair does not advance; later re-entry does") {
    val e = ev(
      // user 1: full chain view(0) < click(5) < purchase(9)
      (0L, 0L, 1L, "view", 0.0), (1L, 5L, 1L, "click", 0.0),
      (2L, 9L, 1L, "purchase", 0.0),
      // user 2: click at SAME ts as view → chain stalls at view;
      // purchase later can't count without a click strictly after view
      (3L, 0L, 2L, "view", 0.0), (4L, 0L, 2L, "click", 0.0),
      (5L, 9L, 2L, "purchase", 0.0),
      // user 3: click BEFORE view, then a second click after → reaches click
      (6L, 5L, 3L, "click", 0.0), (7L, 6L, 3L, "view", 0.0),
      (8L, 7L, 3L, "click", 0.0),
      // user 4: purchase only → reaches nothing
      (9L, 1L, 4L, "purchase", 0.0))
    val f = Temporal.funnel(e, Seq("view", "click", "purchase")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    f shouldBe Map(0L -> 3L, 1L -> 2L, 2L -> 1L)
    // one row per stage even when nobody reaches it: views only →
    // click/purchase rows present with users = 0 (the oracle's
    // count-over-empty-set aggregate)
    val viewsOnly = ev((0L, 0L, 1L, "view", 0.0), (1L, 3L, 2L, "view", 0.0))
    val f0 = Temporal.funnel(viewsOnly, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    f0 shouldBe Set((0L, "view", 2L), (1L, "click", 0L), (2L, "purchase", 0L))
  }

  test("hourlyRollup and propsHistogram: exact counts") {
    val e = ev(
      (0L, 0L, 1L, "view", 1.5), (1L, 59L, 2L, "view", 2.5),
      (2L, 60L, 1L, "view", 4.0), (3L, 61L, 1L, "click", 8.0))
    val h = Temporal.hourlyRollup(e).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    h((0L, "view")) shouldBe ((2L, 2L, 4.0))
    h((3600000000L, "view")) shouldBe ((1L, 1L, 4.0))
    h((3600000000L, "click")) shouldBe ((1L, 1L, 8.0))
    val p = Temporal.propsHistogram(e, "k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    p shouldBe Map(0L -> 2L, 1L -> 1L, 2L -> 1L) // ids 0,3 / 1 / 2 mod 3
  }

  test("decayedActivity: half-life halves; as-of pins the clock") {
    val day7 = 7L * 24 * 60
    val e = ev((0L, 0L, 1L, "view", 8.0), (1L, day7, 2L, "view", 8.0))
    val asOf = day7 * 60000000L // "now" = exactly the second event's ts
    val d = Temporal.decayedActivity(e, asOf, halfLifeDays = 7.0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    d(2L) shouldBe 8.0 // zero age
    d(1L) shouldBe 4.0 +- 1e-6 // one half-life old
  }

  test("SCC: cycles, chains of SCCs, trim tails, bidirectional pairs") {
    import graft.operators.StronglyConnected.scc
    def run(es: (Long, Long)*): Map[Long, Long] =
      scc(es.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two 3-cycles bridged one-way + an acyclic tail (trim fodder)
    val m = run((0L, 1L), (1L, 2L), (2L, 0L), // SCC {0,1,2} → label 2
      (2L, 10L), (10L, 11L), (11L, 12L), (12L, 10L), // SCC {10,11,12} → 12
      (12L, 20L), (20L, 21L)) // tail singletons
    m shouldBe Map(0L -> 2L, 1L -> 2L, 2L -> 2L,
      10L -> 12L, 11L -> 12L, 12L -> 12L, 20L -> 20L, 21L -> 21L)
    // a pure DAG: every vertex its own SCC
    run((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)) shouldBe
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L)
    // 2-cycle + isolated-by-direction pair; duplicate + self edges ignored
    run((5L, 6L), (6L, 5L), (5L, 6L), (6L, 6L), (7L, 8L)) shouldBe
      Map(5L -> 6L, 6L -> 6L, 7L -> 7L, 8L -> 8L)
    // adversarial for coloring: descending chain of 2-cycles (each
    // round's root peels one layer) — exercises multi-round outer loop
    val chain = run((9L, 8L), (8L, 9L), (8L, 7L), (7L, 6L), (6L, 7L),
      (6L, 5L), (5L, 4L), (4L, 5L))
    chain shouldBe Map(9L -> 9L, 8L -> 9L, 7L -> 7L, 6L -> 7L,
      5L -> 5L, 4L -> 5L)
    // empty input
    scc(Seq.empty[(Long, Long)].toDF("src", "dst")).count() shouldBe 0L
  }

  test("SCC: a directed 20-cycle with tails in and out runs deep color and mark loops") {
    import graft.operators.StronglyConnected.scc
    // 100→101→102→0, cycle 0→1→…→19→0, 19→200→201→202: trim peels both
    // tails; color 19 then travels 19 edges (20 color rounds) and the
    // backward mark from root 19 takes 19 levels, past the every-8-levels
    // compaction of its marked union
    val tails = Seq((100L, 101L), (101L, 102L), (102L, 0L),
      (19L, 200L), (200L, 201L), (201L, 202L))
    val cyc = (0L until 20L).map(i => (i, (i + 1) % 20))
    val got = scc((cyc ++ tails).toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe (0L until 20L).map(_ -> 19L).toMap ++
      Seq(100L, 101L, 102L, 200L, 201L, 202L).map(v => v -> v)
  }

  test("SCC condensation: contracted cross-SCC edges, no self-edges, acyclic shape") {
    import graft.operators.StronglyConnected.{scc, condensation}
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), // SCC {0,1,2} → 2
      (2L, 10L), (10L, 11L), (11L, 12L), (12L, 10L), // SCC {10,11,12} → 12
      (12L, 20L), (20L, 21L)).toDF("src", "dst")
    val cond = condensation(e, scc(e)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    cond shouldBe Set((2L, 12L), (12L, 20L), (20L, 21L))
  }

  test("dagLevels: diamond + long-path closed form; cycle input refuses to converge") {
    import graft.operators.StronglyConnected.dagLevels
    // diamond with a long lower path: 0→1→3, 0→2→4→3, 3→5
    // level(3) must take the LONGER path (via 2,4): 0,1,1,3,2,4
    val dag = Seq((0L, 1L), (1L, 3L), (0L, 2L), (2L, 4L), (4L, 3L), (3L, 5L))
      .toDF("src", "dst")
    val got = dagLevels(dag).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 2L, 5L -> 4L)
    // every edge goes strictly level-upward (the topological-order law)
    Seq((0L, 1L), (1L, 3L), (0L, 2L), (2L, 4L), (4L, 3L), (3L, 5L)).foreach {
      case (s, d) => got(d) should be > got(s)
    }
    // a cycle can never converge — the guard must throw, not loop forever
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    an[IllegalArgumentException] should be thrownBy
      dagLevels(cyc, maxRounds = 8)
  }

  test("metamorphic: SCC of a symmetrized digraph == undirected CC labels") {
    import graft.operators.ConnectedComponents
    // deterministic pseudo-random digraph: 60 vertices, dst = (7i+3) mod 40
    val raw = (0L until 60L).map(i => (i, (i * 7 + 3) % 40))
      .filter { case (a, b) => a != b }
    val sym = (raw ++ raw.map(_.swap)).toDF("src", "dst")
    val sccM = graft.operators.StronglyConnected.scc(sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccM = ConnectedComponents
      .run(raw.toDF("src", "dst").as[graft.graph.Edge])
      .labels.collect().map(l => l.id -> l.label).toMap
    sccM shouldBe ccM
  }

  test("coactivityDirectedEdges: earlier-first → later; order flips across buckets make cycles") {
    val e = ev(
      // bucket 0: user 1 (t=0) before user 2 (t=5)  → 1→2
      (0L, 0L, 1L, "purchase", 0.0), (1L, 5L, 2L, "purchase", 0.0),
      // bucket 1: user 2 (t=10) before user 1 (t=15) → 2→1 (cycle!)
      (2L, 10L, 2L, "purchase", 0.0), (3L, 15L, 1L, "purchase", 0.0),
      // bucket 2: tie at t=20 → smaller id 3 → larger id 4
      (4L, 20L, 3L, "purchase", 0.0), (5L, 20L, 4L, "purchase", 0.0))
    val edges = graft.operators.Temporal
      .coactivityDirectedEdges(e, "purchase", bucketMinutes = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    edges shouldBe Set((1L, 2L), (2L, 1L), (3L, 4L))
    // hot-bucket cap keeps the EARLIEST (first_us, user_id) arrivals:
    // users 9 (t=0) and 7 (t=1) survive a cap of 2; user 8 (t=2) drops
    val hot = ev((0L, 0L, 9L, "purchase", 0.0), (1L, 1L, 7L, "purchase", 0.0),
      (2L, 2L, 8L, "purchase", 0.0))
    graft.operators.Temporal
      .coactivityDirectedEdges(hot, "purchase", maxGroupSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((9L, 7L))
  }

  test("coactivityEdges: same bucket+type pairs only; boundary starts a new bucket") {
    val e = ev(
      (0L, 0L, 1L, "purchase", 0.0), (1L, 9L, 2L, "purchase", 0.0),
      (2L, 10L, 3L, "purchase", 0.0),  // exactly at the next bucket edge
      (3L, 11L, 4L, "purchase", 0.0),
      (4L, 0L, 5L, "view", 0.0))       // other type never pairs
    val edges = Temporal.coactivityEdges(e, "purchase", bucketMinutes = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    edges shouldBe Set((1L, 2L), (3L, 4L))
  }
}
