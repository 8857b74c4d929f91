package graft

import graft.graph.{Generators, VertexLabel}
import graft.operators.ConnectedComponents
import graft.operators.ConnectedComponents.Config
import graft.plans.CheckpointManager
import java.nio.file.Files

/** North-rule resumability: a run killed mid-iteration resumes from the
  * last checkpoint manifest to identical final labels. */
class ResumeSpec extends SparkSpec {
  import spark.implicits._

  test("CC resumes from an early checkpoint to identical labels") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val edges = Generators.random(spark, 400, 500, seed = 5L)
    // tiny pre-contraction cap: forces chunked per-partition union-find
    // so the run is genuinely multi-round (the premise of a resume test)
    // regardless of the adaptive partition count on this small graph
    val cfg = Config(checkpointDir = Some(dir), checkpointEvery = 1, runId = "t1",
      preContractCap = 60)

    val full = ConnectedComponents.run(edges, None, cfg)
    val expect = full.labels.collect().map(l => l.id -> l.label).toMap
    full.metrics.length should be >= 2 // multi-round run, else resume is trivial

    // Simulate a kill after the FIRST committed checkpoint: rewind _LATEST.
    val ck = new CheckpointManager(spark, dir)
    val latest = ck.latestStep().get
    latest should be >= 1
    val firstStep = (1 to latest).find { s =>
      Files.exists(java.nio.file.Paths.get(s"$dir/manifest-$s.json"))
    }.get
    Files.writeString(java.nio.file.Paths.get(s"$dir/_LATEST"), firstStep.toString)
    // drop Hadoop LocalFS checksum sidecar invalidated by the direct write
    Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/._LATEST.crc"))

    val resumed = ConnectedComponents.resume(spark, dir, Config(runId = "t1-resume"))
    val got = resumed.labels.collect().map(l => l.id -> l.label).toMap
    got shouldBe expect

    // §4.5: the durable metrics table survives the "kill" and accumulates
    // across the resume — both runs' supersteps are readable.
    val persisted = ck.loadMetrics().collect()
      .map(r => (r.getAs[String]("runId"), r.getAs[Int]("superstep")))
    persisted.count(_._1 == "t1") shouldBe full.metrics.length
    val resumedSteps = persisted.filter(_._1 == "t1-resume").map(_._2).sorted
    // resume() continues at step+1
    resumedSteps shouldBe
      ((firstStep + 1) until (firstStep + 1 + resumed.metrics.length)).toArray
  }

  test("all four strategies checkpoint and resume to identical labels") {
    import graft.operators.ConnectedComponents.CCStrategy
    val edges = Generators.random(spark, 400, 500, seed = 7L)
    val expect = ConnectedComponents.run(edges).labels.collect()
      .map(l => l.id -> l.label).toMap
    val cases = Seq[(String, Config)](
      "hook" -> Config(strategy = CCStrategy.HookAndContract),
      "star" -> Config(strategy = CCStrategy.AlternatingStar),
      // tiny sample cap forces the sampled strategy through several
      // rounds so the resume is genuinely mid-run
      "sampled" -> Config(strategy = CCStrategy.SampledContraction,
        sampleHardCap = 60L),
      "random" -> Config(strategy = CCStrategy.RandomizedHook))
    for ((name, cfg0) <- cases) {
      val dir = Files.createTempDirectory(s"graft-ckpt-$name").toString
      val cfg = cfg0.copy(checkpointDir = Some(dir), checkpointEvery = 1,
        runId = s"rs-$name")
      val full = ConnectedComponents.run(edges, None, cfg)
      withClue(s"$name full run: ") {
        full.labels.collect().map(l => l.id -> l.label).toMap shouldBe expect
      }
      val ck = new CheckpointManager(spark, dir)
      val latest = ck.latestStep().get
      val firstStep = (1 to latest).find { s =>
        Files.exists(java.nio.file.Paths.get(s"$dir/manifest-$s.json"))
      }.get
      withClue(s"$name manifest algo: ") {
        ck.meta(firstStep).keySet should contain("algo")
      }
      Files.writeString(java.nio.file.Paths.get(s"$dir/_LATEST"), firstStep.toString)
      Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/._LATEST.crc"))
      // resume() dispatches on the manifest's algo field — the config's
      // strategy is deliberately NOT passed
      val resumed = ConnectedComponents.resume(spark, dir,
        Config(runId = s"rs-$name-resume"))
      withClue(s"$name resumed: ") {
        resumed.labels.collect().map(l => l.id -> l.label).toMap shouldBe expect
      }
    }
  }

  // `checkpoints/cc-<strategy>` hold the step-1 checkpoint (manifest,
  // edges and mapping parquet; `_LATEST` rewound to 1) of a
  // `checkpointEvery = 1` run on this graph, written by the per-strategy
  // loops that preceded the shared round loop (hook with default
  // settings, sampled with `sampleHardCap = 60`); every one is mid-run.
  // They pin the checkpoint format: resuming each must reach the
  // one-shot labels.
  test("committed step-1 checkpoints of all four strategies resume to the one-shot labels") {
    import graft.operators.ConnectedComponents.CCStrategy
    val edges = Generators.random(spark, 400, 500, seed = 7L)
    val expect = ConnectedComponents.run(edges).labels.collect()
      .map(l => l.id -> l.label).toMap
    for (strategy <- CCStrategy.all) withClue(s"${strategy.name}: ") {
      // resume appends metrics and checkpoints: work on a copy
      val from = java.nio.file.Paths.get(resourcePath(s"checkpoints/${strategy.tag}"))
      val dir = Files.createTempDirectory(s"graft-old-${strategy.name}")
      val walk = Files.walk(from)
      try walk.forEach { f =>
        val to = dir.resolve(from.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
      } finally walk.close()
      val ck = new CheckpointManager(spark, dir.toString)
      ck.latestStep() shouldBe Some(1)
      ck.meta(1)("algo") shouldBe strategy.tag
      ck.meta(1)("edgeCount").toLong should be > 0L
      val resumed = ConnectedComponents.resume(spark, dir.toString, Config(runId = "old"))
      resumed.labels.collect().map(l => l.id -> l.label).toMap shouldBe expect
      resumed.metrics.head.superstep shouldBe 2
    }
  }

  test("CC resume fails loudly without a checkpoint or with an unknown algo tag") {
    val empty = Files.createTempDirectory("graft-ckpt-none").toString
    val none = the[IllegalStateException] thrownBy
      ConnectedComponents.resume(spark, empty, Config())
    none.getMessage should include("no checkpoint")
    val dir = Files.createTempDirectory("graft-ckpt-tag").toString
    val state = Generators.random(spark, 20, 30, seed = 3L).toDF()
    new CheckpointManager(spark, dir).save(1,
      Map("edges" -> state, "mapping" -> state.select($"src".as("id"), $"dst".as("label"))),
      Map("algo" -> "cc-bogus", "edgeCount" -> "30"))
    val unknown = the[IllegalStateException] thrownBy
      ConnectedComponents.resume(spark, dir, Config())
    unknown.getMessage should include("'cc-bogus'")
  }

  test("manifest metadata round-trips") {
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    val ck = new CheckpointManager(spark, dir)
    val df = spark.range(3).toDF("id")
    ck.save(7, Map("t" -> df), Map("algo" -> "x", "edgeCount" -> "42"))
    ck.latestStep() shouldBe Some(7)
    ck.meta(7)("algo") shouldBe "x"
    ck.meta(7)("edgeCount") shouldBe "42"
    ck.load(7, "t").count() shouldBe 3L
  }

  test("manifest metadata round-trips values with commas, braces and quotes") {
    // round-3 verdict nit: the old string-split parser silently
    // mis-parsed any value containing ',' or '}'
    val dir = Files.createTempDirectory("graft-ckpt3").toString
    val ck = new CheckpointManager(spark, dir)
    val df = spark.range(2).toDF("id")
    val tricky = Map(
      "algo" -> "cc-hook",
      "runId" -> "run,with{tricky}:\"chars\"",
      "note" -> "a,b},{\"c\":1}\t\\end")
    ck.save(3, Map("edges" -> df), tricky)
    ck.meta(3) shouldBe (tricky + ("step" -> "3"))
  }

  test("PageRank resumes from a mid-run snapshot; ranks match to ulp noise") {
    import graft.operators.PageRank
    val dir = Files.createTempDirectory("graft-ckpt-pr").toString
    val edges = Generators.random(spark, 200, 400, seed = 9L)
    // uninterrupted pinned 8-iteration reference
    val full = PageRank.run(edges,
      cfg = PageRank.Config(maxIter = 8, tol = 0.0)).ranks.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // "killed" run: 5 iterations with snapshots every 2 (latest = 4)
    val part = PageRank.run(edges, cfg = PageRank.Config(maxIter = 5,
      tol = 0.0, checkpointEvery = 2, checkpointDir = Some(dir), runId = "pr1"))
    part.iterations shouldBe 5
    new CheckpointManager(spark, dir).latestStep().get shouldBe 4
    // resume to the same total budget: 4 more iterations from step 4.
    // The saved scalars/doubles round-trip exactly (Double.toString),
    // but the parquet round-trip can permute rows WITHIN partitions, so
    // per-vertex neighbor sums may differ in the last ulp — the same
    // order-noise the 1e-6 oracle contract absorbs. Assert ≤1e-12 rel.
    val resumed = PageRank.resume(spark, dir,
      PageRank.Config(maxIter = 8, tol = 0.0, runId = "pr1-resume"))
    resumed.iterations shouldBe 8
    val got = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.keySet shouldBe full.keySet
    got.foreach { case (v, r) =>
      math.abs(r - full(v)) should be <= 1e-12 * math.max(math.abs(full(v)), 1e-30)
    }
    // both runs' per-iteration metrics are durable
    val persisted = new CheckpointManager(spark, dir).loadMetrics().collect()
      .map(r => (r.getAs[String]("runId"), r.getAs[Int]("superstep")))
    persisted.count(_._1 == "pr1") shouldBe 5
    persisted.filter(_._1 == "pr1-resume").map(_._2).sorted shouldBe
      Array(5, 6, 7, 8)
  }

  test("LPA resumes from a mid-run snapshot to EXACTLY equal labels") {
    import graft.operators.LabelPropagation
    val dir = Files.createTempDirectory("graft-ckpt-lpa").toString
    val edges = Generators.random(spark, 300, 450, seed = 13L)
    val fullRes = LabelPropagation.run(edges,
      cfg = LabelPropagation.Config(maxIter = 20))
    val full = fullRes.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "killed" run: stop at 3 with snapshots every 2 (latest = 2)
    val part = LabelPropagation.run(edges,
      cfg = LabelPropagation.Config(maxIter = 3, checkpointEvery = 2,
        checkpointDir = Some(dir), runId = "lpa1"))
    part.converged shouldBe false // else the resume below is trivial
    new CheckpointManager(spark, dir).latestStep().get shouldBe 2
    // labels/votes are integers and the update is deterministic, so the
    // resumed trajectory is EXACTLY the uninterrupted one — same
    // iteration count, same labels (synchronous LPA may oscillate and
    // never set converged; that is the documented semantics, and the
    // resume must reproduce it too, not just fixpoints)
    val resumed = LabelPropagation.resume(spark, dir,
      LabelPropagation.Config(maxIter = 20, runId = "lpa1-resume"))
    resumed.iterations shouldBe fullRes.iterations
    resumed.converged shouldBe fullRes.converged
    resumed.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      full
  }

  test("seeded LPA resumes from a mid-run snapshot to EXACTLY equal labels") {
    import graft.operators.LabelPropagation
    val dir = Files.createTempDirectory("graft-ckpt-slpa").toString
    // long path: the label front advances one hop per round, so the run
    // is still mid-flood when the snapshot lands
    val edges = spark.createDataset((0L until 12L).map(i => graft.graph.Edge(i, i + 1)))
    val seeds = Seq((0L, 7L)).toDF("id", "label")
    val fullRes = LabelPropagation.runSeeded(edges, seeds,
      cfg = LabelPropagation.Config(maxIter = 30))
    val full = fullRes.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    full.size shouldBe 13 // whole component flooded
    // "killed" run: stop at 5 with snapshots every 2 (latest = 4)
    val part = LabelPropagation.runSeeded(edges, seeds,
      cfg = LabelPropagation.Config(maxIter = 5, checkpointEvery = 2,
        checkpointDir = Some(dir), runId = "slpa1"))
    part.converged shouldBe false
    new CheckpointManager(spark, dir).latestStep().get shouldBe 4
    val resumed = LabelPropagation.resumeSeeded(spark, dir,
      LabelPropagation.Config(maxIter = 30, runId = "slpa1-resume"))
    resumed.iterations shouldBe fullRes.iterations
    resumed.converged shouldBe fullRes.converged
    resumed.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      full
  }

  test("LPA and seeded LPA resume from a snapshot whose adjacency has no self rows") {
    // The snapshot format every LPA version writes: the label state of
    // iteration k (seeded: every vertex, unlabeled ones too, with the
    // seed flag) and the static both-directions adjacency with weight 1
    // and no (v, v) self rows, under the same manifest keys. Resuming
    // rebuilds the loop's self rows from the state.
    import graft.operators.LabelPropagation
    val edgeList = (0L until 12L).map(i => graft.graph.Edge(i, i + 1)) ++
      Seq(graft.graph.Edge(3L, 9L), graft.graph.Edge(20L, 21L))
    val edges = spark.createDataset(edgeList)
    val bidir = edgeList.flatMap(e => Seq((e.src, e.dst, 1L), (e.dst, e.src, 1L)))
      .toDF("src", "dst", "weight")
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def writeOld(dir: String, algo: String, k: Int, state: org.apache.spark.sql.DataFrame): Unit =
      new CheckpointManager(spark, dir).save(k, Map("labels" -> state, "bidir" -> bidir),
        Map("runId" -> s"$algo-old", "algo" -> algo, "iter" -> k.toString,
          "bidirStep" -> k.toString))

    val full = LabelPropagation.run(edges, cfg = LabelPropagation.Config(maxIter = 20))
    val dir = Files.createTempDirectory("graft-ckpt-lpa-old").toString
    writeOld(dir, "lpa", 2, LabelPropagation.run(edges,
      cfg = LabelPropagation.Config(maxIter = 2)).labels)
    // (iteration counts may differ: the uninterrupted run composes two
    // steps per barrier, a checkpointed one does not)
    val resumed = LabelPropagation.resume(spark, dir, LabelPropagation.Config(maxIter = 20))
    labelsOf(resumed.labels) shouldBe labelsOf(full.labels)

    val seeds = Seq((0L, 7L), (12L, 5L)).toDF("id", "label")
    val fullS = LabelPropagation.runSeeded(edges, seeds,
      cfg = LabelPropagation.Config(maxIter = 30))
    val at3 = LabelPropagation.runSeeded(edges, seeds,
      cfg = LabelPropagation.Config(maxIter = 3)).labels
    val verts = edgeList.flatMap(e => Seq(e.src, e.dst)).distinct.toDF("id")
    val dirS = Files.createTempDirectory("graft-ckpt-slpa-old").toString
    writeOld(dirS, "lpa_seeded", 3, verts.join(at3, Seq("id"), "left")
      .join(seeds.select($"id", org.apache.spark.sql.functions.lit(true).as("seed")),
        Seq("id"), "left")
      .select($"id", $"label",
        org.apache.spark.sql.functions.coalesce($"seed",
          org.apache.spark.sql.functions.lit(false)).as("seed")))
    val resumedS = LabelPropagation.resumeSeeded(spark, dirS,
      LabelPropagation.Config(maxIter = 30))
    resumedS.iterations shouldBe fullS.iterations
    resumedS.converged shouldBe fullS.converged
    labelsOf(resumedS.labels) shouldBe labelsOf(fullS.labels)
    labelsOf(resumedS.labels).keySet should not contain 20L // unreached stays out
  }

  test("weighted SSSP resumes from a mid-run snapshot to EXACTLY equal distances") {
    import graft.operators.Traversal
    val dir = Files.createTempDirectory("graft-ckpt-sssp").toString
    // weighted chain 0-1-...-11: from seed 0 the frontier advances one
    // hop per round → 12 rounds to fixpoint + 1 to observe stability
    val wedges = spark.createDataset((0L until 11L).map(i => (i, i + 1, i + 1)))
      .toDF("src", "dst", "weight")
    val full = Traversal.weightedDistances(wedges, Seq(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    full((0L, 11L)) shouldBe (1L to 11L).sum // cumulative chain weights
    // "killed" run: snapshots at rounds 4 and 8, then the maxIter guard
    // fires at 9 — the durable state must survive the failure
    an[IllegalStateException] should be thrownBy
      Traversal.weightedDistances(wedges, Seq(0L), maxIter = 9,
        checkpointDir = Some(dir), checkpointEvery = 4)
    new CheckpointManager(spark, dir).latestStep().get shouldBe 8
    // all-long state → the resumed trajectory is exactly the
    // uninterrupted one
    val resumed = Traversal.resumeWeightedDistances(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    resumed shouldBe full
  }
}
