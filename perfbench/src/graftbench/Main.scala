package graftbench

import graft.SparkEntry
import graft.graph.{Edge, Generators, SuperstepMetrics, UnionFind}
import graft.operators.ConnectedComponents
import graft.operators.ConnectedComponents.{CCStrategy, Config}
import graft.sources.{EdgeDerivation, ReposFilesGen}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.GraftLineage.GraftLineageOps
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** The measured process: one closed-loop client on one `local[4]`
  * session. It sets a workload up from the seed, runs untimed warm-up
  * passes, then timed passes until `--seconds` have gone by, and writes
  * one result object (metrics, failures, settings) to `--result`.
  *
  * An operation's timed region is its library call plus materializing its
  * output (a `noop` write, as `graft.Bench` does). The output fingerprint
  * `count + sum(xxhash64(row))` rides along in the same job through
  * `Dataset.observe`; comparing it with the expected value, sweeping
  * leftover storage blocks and the union-find checks all run outside the
  * timed region.
  *
  * With `--trace 1` passes alternate untraced and traced; the traced ones
  * record spans and Spark engine counters, which give the per-layer
  * metrics and `trace.overhead_ratio`.
  */
object Main {
  val Master = "local[4]"
  val Partitions = 4
  /** TPC-H scale factor of the generated tables (lineitem ≈ 30 k rows). */
  val Sf = 0.005
  /** `Generators.benchSuite` scale: 8 × scale edges of chain, star,
    * random and dense. */
  val CcScale = 50000L
  /** repos_files shape for `repo_cc`: orgs × repos × files rows. */
  val RepoOrgs = 200; val RepoPerOrg = 10; val RepoFiles = 12
  /** Generated table sets whose expected fingerprints are stored; the
    * table inputs of a seed are variant `seed mod Variants`. */
  val Variants = 4
  /** Input generation rounds during set-up (median reported). */
  val SetupReps = 3
  /** Untimed warm-up passes run until this much time has gone by (at
    * least one pass): one pass of `queries`, two of the shorter
    * `cc_synth`, whose first pass after one warm-up still runs ~25 %
    * slow while the JIT catches up. */
  val WarmupSeconds = 10.0

  /** Graph part of the `queries` pass: small derived graphs, many
    * iterations, plus the two CC steps the harness drives itself. */
  val GraphOps = Seq("edges_supplier", "cc_incremental", "pagerank", "lpa",
    "triangles", "bfs_hops", "cc_parts", "repo_cc")
  /** Corpus part: text and embedding pipelines of the functions layer. */
  val CorpusOps = Seq("dedup_minhash_bands", "dedup_clusters", "corpus_final",
    "decontaminate", "text_quality", "tfidf_topk", "knn_all")
  val Workloads: Map[String, Seq[String]] = Map(
    "cc_synth" -> Seq("cc_synth"),
    "queries" -> (GraphOps ++ CorpusOps))

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, result: String, expected: String,
                        launchMs: Long, emit: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("result"), m("expected"), m("launch-ms").toLong,
      m.get("emit"))
  }

  /** What a timed operation leaves: its output frame (materialized inside
    * the timed region when `write`), a step that frees the inputs it built,
    * run inside the timed region like `graft.Bench` does, and a step that
    * runs after it (counting and deleting checkpoint files). */
  final case class Out(df: DataFrame, write: Boolean = true, finish: () => Unit = () => (),
                       after: () => Unit = () => ())

  /** Fingerprint of a frame: row count and the exact (decimal) sum of
    * `xxhash64` over the columns in name order. */
  final case class Fp(count: Long, sum: BigDecimal) {
    override def toString: String = s"$count:${sum.bigDecimal.toPlainString}"
  }
  def fpColumns(df: DataFrame) = Seq(
    count(lit(1)).as("fp_n"),
    coalesce(sum(xxhash64(df.columns.sorted.map(df.col): _*).cast(DecimalType(38, 0))),
      lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("fp_h"))
  def fpOf(df: DataFrame): Fp = {
    val r = df.agg(fpColumns(df).head, fpColumns(df).last).head()
    Fp(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
  /** The fingerprint of (id, label) pairs computed off-engine. */
  def fpOfLabels(labels: Iterable[(Long, Long)]): Fp = {
    var s = BigInt(0)
    labels.foreach { case (id, l) => s += XXH64.hashLong(l, XXH64.hashLong(id, 42L)) }
    Fp(labels.size.toLong, BigDecimal(s))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val opNames = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val result = new Bench(o, opNames).run()
    Files.writeString(Paths.get(o.result), result)
  }
}

final class Bench(o: Main.Opts, opNames: Seq[String]) {
  import Main._

  private val work = new File(o.work).getAbsoluteFile
  private val spans = ArrayBuffer.empty[Span]
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private val expected: Map[String, String] = Json.readFingerprints(o.expected)
    .getOrElse((o.seed % Variants).toString, Map.empty)
  private val engine = new EngineListener
  private val doubleFrees = new DoubleFreeCounter
  private val heap = new HeapWatch
  private var tracing = false
  private var pass = 0

  // what the traced passes record for the per-layer metrics
  final case class OpSample(pass: Int, traced: Boolean, op: String, sec: Double,
                            start: Long, end: Long)
  private val opSamples = ArrayBuffer.empty[OpSample]
  final case class CcCall(pass: Int, metrics: Seq[SuperstepMetrics], start: Long, end: Long) {
    def sec: Double = (end - start) / 1e3
    def round0: Option[SuperstepMetrics] = metrics.headOption
  }
  private val ccCalls = ArrayBuffer.empty[CcCall]
  private val leaks = LinkedHashMap.empty[Int, Int]
  private val sweepSec = LinkedHashMap.empty[Int, Double]
  private val ckpt = LinkedHashMap.empty[Int, (Long, Long)]
  private val doubleFreeByPass = LinkedHashMap.empty[Int, Long]
  private val passWall = LinkedHashMap.empty[Int, (Long, Long, Boolean)]

  private def now(): Long = System.currentTimeMillis()

  /** Time `body` as a child span of the innermost open span. */
  private val open = new java.util.ArrayDeque[Int]()
  private def span[A](name: String)(body: => A): A = if (!o.trace) body else {
    val parent = if (open.isEmpty) -1 else open.peek()
    val idx = spans.size
    spans += Span(name, now(), -1L, parent, o.workload, pass)
    open.push(idx)
    try body
    finally {
      open.pop()
      spans(idx) = spans(idx).copy(end = now())
    }
  }

  private var spark: SparkSession = _
  private def session(): SparkSession = SparkSession.builder()
    .master(Master)
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", Partitions.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private var dataDir: String = _
  private var suite: org.apache.spark.sql.Dataset[Edge] = _
  private var keep = Set.empty[Int]
  private var ccComponents: Option[Long] = None

  def sweep(): Unit = spark.sparkContext.getPersistentRDDs
    .filterNot { case (id, _) => keep(id) }.values.foreach(_.unpersist(blocking = true))

  def run(): String = {
    spark = session()
    spark.sparkContext.setLogLevel("WARN")
    doubleFrees.install()
    if (o.trace) spark.sparkContext.addSparkListener(engine)
    val sessionMs = now()

    // Set-up: generate the inputs SetupReps times (identical rows each
    // time; the last copy is kept), then one untimed warm-up pass.
    val genSec = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      prepareInputs(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = now()
    var warmPasses = 0
    while (warmPasses == 0 || (now() - warm0) / 1e3 < WarmupSeconds) {
      runPass(timed = false)
      warmPasses += 1
    }
    val warmSec = (now() - warm0) / 1e3
    val genMedian = Stats.median(genSec)
    // set-up = boot to session + median input round + warm-up passes
    val setupSec = (sessionMs - o.launchMs) / 1e3 + genMedian + warmSec

    val measure0 = System.nanoTime()
    val passSec = ArrayBuffer.empty[(Double, Boolean)]
    // emitting expected outputs needs only the warm-up pass
    val minPasses = if (o.emit.isDefined) 0 else if (o.trace) 2 else 1
    while (passSec.size < minPasses ||
           (System.nanoTime() - measure0) / 1e9 < o.seconds) {
      val traced = o.trace && passSec.size % 2 == 1
      passSec += ((runPass(timed = true, traced), traced))

    }
    val measuredSec = (System.nanoTime() - measure0) / 1e9

    val end0 = System.nanoTime()
    if (o.trace && o.workload == "queries") deriveProbe()
    verifyAfterPasses()
    spark.stop() // drains the listener bus before the counters are read
    val endSec = (System.nanoTime() - end0) / 1e9
    o.emit.foreach { dir =>
      Json.writeFingerprints(new File(dir, "fingerprints.tsv"),
        (o.seed % Variants).toString, firstFp.map { case (k, v) => k -> v.toString }.toMap)
      Files.writeString(new File(dir, "oracle_sql.json").toPath, Json.obj(
        SparkEntry.oracleSql.filter { case (k, _) => opNames.contains(k) }))
      Files.writeString(new File(dir, "inputs").toPath, dataDir)
    }

    val untraced = passSec.filterNot(_._2).map(_._1).toSeq
    val traced = passSec.filter(_._2).map(_._1).toSeq
    val e2e = LinkedHashMap[String, Any](
      "pass_s" -> Stats.summary(untraced),
      "setup_s" -> Stats.summary(Seq(setupSec)),
      "heap_peak_mb" -> Stats.summary(Seq(heap.peakMb)))
    val layer = if (o.trace) perLayer(traced, untraced) else LinkedHashMap.empty[String, Double]
    val settings = LinkedHashMap[String, Any](
      "master" -> Master, "shuffle_partitions" -> Partitions,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""),
      "spark_graft_env" -> sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted.mkString(","),
      "sf" -> Sf, "cc_scale" -> CcScale, "table_variant" -> o.seed % Variants,
      "setup_boot_s" -> (sessionMs - o.launchMs) / 1e3,
      "setup_input_s" -> genSec.mkString(","), "setup_warmup_s" -> warmSec,
      "warmup_passes" -> warmPasses,
      "measured_s" -> measuredSec, "passes" -> passSec.size, "checks_and_stop_s" -> endSec)
    writeSpans()
    Json.obj(LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "attempted" -> attempted,
      "failed" -> failed, "failures" -> failures.toSeq, "end_to_end" -> e2e,
      "per_layer" -> layer, "settings" -> settings,
      "pass_samples" -> untraced,
      "op_median_s" -> LinkedHashMap(opNames.map(n => n -> Stats.median(
        opSamples.filter(s => s.op == n && s.pass > warmPasses && !s.traced).map(_.sec).toSeq)): _*)))
  }

  // ---------------------------------------------------------------- inputs

  private def prepareInputs(rep: Int): Unit = o.workload match {
    case "cc_synth" =>
      if (suite != null) { suite.releaseLineage(blocking = true); keep = Set.empty }
      suite = Generators.benchSuite(spark, CcScale, o.seed).cutLineage()
      keep = org.apache.spark.sql.GraftLineage.plannedRddIds(suite)
    case _ =>
      val dir = new File(work, s"inputs-$rep").toString
      Inputs.write(spark, dir, Sf, o.seed % Variants)
      // read every table once so the set-up pays the first parquet scans
      Inputs.Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
      dataDir = dir
  }

  // ---------------------------------------------------------------- passes

  /** One trip through the workload's operations; returns the summed
    * timed regions in seconds. */
  private def runPass(timed: Boolean, traced: Boolean = false): Double = {
    pass += 1
    tracing = traced
    engine.recording = traced
    doubleFrees.recording = traced
    val before = doubleFrees.count
    val p0 = now()
    var total = 0.0
    span(s"pass") {
      opNames.foreach { name => total += runOp(name, traced) }
    }
    val p1 = now()
    if (timed) heap.gcNow()
    engine.recording = false
    doubleFrees.recording = false
    tracing = false
    if (traced) doubleFreeByPass(pass) = doubleFrees.count - before
    passWall(pass) = (p0, p1, traced)
    total
  }

  private def runOp(name: String, traced: Boolean): Double = {
    attempted += 1
    val t0 = System.nanoTime(); val s0 = now()
    val res = try {
      val (out, fp) = span(name) {
        val out = body(name)
        val fp = if (out.write) Some(materialize(name, out.df)) else None
        out.finish()
        (out, fp)
      }
      Right((out, fp))
    } catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val s1 = now()
    opSamples += OpSample(pass, traced, name, sec, s0, s1)
    res match {
      case Left(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      case Right((out, fp0)) =>
        check(name, fp0.getOrElse(fpOf(out.df)))
        out.after()
    }
    // leaked blocks: persisted RDDs still present once the output is used
    if (traced) {
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.count(id => !keep(id))
      leaks(pass) = leaks.getOrElse(pass, 0) + leaked
    }
    val w0 = System.nanoTime()
    sweep()
    if (traced) sweepSec(pass) = sweepSec.getOrElse(pass, 0.0) + (System.nanoTime() - w0) / 1e9
    sec
  }

  private def materialize(name: String, df: DataFrame): Fp = {
    val obs = Observation(s"fp_${name}_$pass")
    val observed = df.observe(obs, fpColumns(df).head, fpColumns(df).last)
    o.emit match {
      case Some(dir) if pass == 1 =>
        observed.coalesce(1).write.mode("overwrite").parquet(new File(dir, name).toString)
      case _ => observed.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    Fp(m("fp_n").asInstanceOf[Long],
      BigDecimal(m("fp_h").asInstanceOf[java.math.BigDecimal]))
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"pass $pass: $msg"
  }

  /** Every pass must reproduce the first pass's fingerprint; stored
    * expectations (graph and corpus queries) and off-engine ones
    * (cc_synth, cc_parts, repo_cc; set after the passes) must match too. */
  private val firstFp = LinkedHashMap.empty[String, Fp]
  private def check(name: String, fp: Fp): Unit = {
    firstFp.get(name) match {
      case Some(f) if f != fp => fail(s"$name fingerprint $fp differs from pass 1 ($f)")
      case None => firstFp(name) = fp
      case _ =>
    }
    if (o.emit.isEmpty && storedCheck(name)) expected.get(name) match {
      case Some(e) if e != fp.toString => fail(s"$name fingerprint $fp != expected $e")
      case None => fail(s"$name has no expected fingerprint for table variant ${o.seed % Variants}")
      case _ =>
    }
  }
  private def storedCheck(name: String): Boolean =
    !Set("cc_synth", "cc_parts", "repo_cc")(name)

  // ------------------------------------------------------------ operations

  private def ccRun(edges: org.apache.spark.sql.Dataset[Edge], cfg: Config)
      : ConnectedComponents.Result = {
    val s0 = now()
    val r = span("cc.run")(ConnectedComponents.run(edges, None, cfg))
    if (tracing) ccCalls += CcCall(pass, r.metrics, s0, now())
    r
  }

  private def body(name: String): Out = name match {
    case "cc_synth" =>
      val r = ccRun(suite, Config(strategy = CCStrategy.HookAndContract))
      val comps = r.components.getOrElse(ConnectedComponents.componentCount(r.labels))
      ccComponents = Some(comps)
      Out(r.labels.toDF(), write = false)
    case "cc_parts" =>
      val partEdges = span("derive.parts")(
        EdgeDerivation.partCooccurrence(spark, dataDir).cutLineage())
      val r = ccRun(partEdges, Config())
      Out(r.labels.toDF(), finish = () => partEdges.releaseLineage())
    case "repo_cc" =>
      val dir = new File(work, s"ckpt-$pass")
      val rf = ReposFilesGen.generate(spark, RepoOrgs, RepoPerOrg, RepoFiles, o.seed)
      val edges = span("derive.repo")(EdgeDerivation.repoEdges(rf).cutLineage())
      val r = ccRun(edges, Config(checkpointDir = Some(dir.toString), checkpointEvery = 1))
      Out(r.labels.toDF(), finish = () => edges.releaseLineage(), after = () => {
        val files = Files.walk(dir.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path])
        val regular = files.filter(Files.isRegularFile(_))
        if (tracing) ckpt(pass) = (regular.map(Files.size).sum, regular.length.toLong)
        files.reverse.foreach(Files.delete)
      })
    case q =>
      Out(SparkEntry.queries(q)(spark, dataDir))
  }

  /** Off-engine expectations for the ops whose outputs follow from the
    * seed alone, checked against pass 1's fingerprint. */
  private def verifyAfterPasses(): Unit = {
    def expect(name: String, want: Fp): Unit = firstFp.get(name).foreach { got =>
      if (got != want) fail(s"$name fingerprint $got != independent expectation $want")
    }
    def ufLabels(edges: org.apache.spark.sql.Dataset[Edge]): Iterable[(Long, Long)] = {
      // CC drops self-loops before it sees a vertex; so does the oracle
      val es = edges.collect().iterator.filter(e => e.src != e.dst).map(e => (e.src, e.dst))
      UnionFind.components(es).toSeq
    }
    if (opNames.contains("cc_synth")) {
      val want = ufLabels(suite)
      expect("cc_synth", fpOfLabels(want))
      val comps = want.map(_._2).toSet.size.toLong
      if (!ccComponents.contains(comps))
        fail(s"cc_synth component count $ccComponents != $comps")
    }
    if (opNames.contains("cc_parts"))
      expect("cc_parts", fpOfLabels(ufLabels(EdgeDerivation.partCooccurrence(spark, dataDir))))
    if (opNames.contains("repo_cc")) {
      // each repo's component is its org: label = max repo id in the org
      val exp = ReposFilesGen.expectedComponents(spark, RepoOrgs, RepoPerOrg)
        .select(xxhash64(col("repo")).as("id"), col("org"))
      val want = exp.join(exp.groupBy("org").agg(max("id").as("label")), "org")
        .select("id", "label")
      expect("repo_cc", fpOf(want))
    }
  }

  /** Each edge derivation materialized alone (three times, median). */
  private val deriveSec = LinkedHashMap.empty[String, Double]
  private def deriveProbe(): Unit = {
    val ds: Seq[(String, () => org.apache.spark.sql.Dataset[Edge])] = Seq(
      "supplier" -> (() => EdgeDerivation.supplierCooccurrence(spark, dataDir)),
      "nation" -> (() => EdgeDerivation.supplierCooccurrenceByNation(spark, dataDir)),
      "parts" -> (() => EdgeDerivation.partCooccurrence(spark, dataDir)),
      "repo" -> (() => EdgeDerivation.repoEdges(
        ReposFilesGen.generate(spark, RepoOrgs, RepoPerOrg, RepoFiles, o.seed))))
    ds.foreach { case (n, f) =>
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val e = f().cutLineage()
        val s = (System.nanoTime() - t0) / 1e9
        e.releaseLineage(blocking = true)
        s
      }
      deriveSec(n) = Stats.median(secs)
    }
  }

  // ----------------------------------------------------------- per layer

  private def perLayer(traced: Seq[Double], untraced: Seq[Double]): LinkedHashMap[String, Double] = {
    val out = LinkedHashMap.empty[String, Double]
    val tPasses = passWall.collect { case (p, (_, _, true)) => p }.toSeq
    def med(f: Int => Double): Double = Stats.median(tPasses.map(f))
    val mb = 1024.0 * 1024.0
    def win(s: Long, e: Long) = engine.window(s, e)

    // ConnectedComponents: the direct CC calls of the workload
    val cc = ccCalls.groupBy(_.pass)
    def ccMed(f: Seq[CcCall] => Double): Double = med(p => f(cc.getOrElse(p, Seq.empty).toSeq))
    def edgesIn(c: CcCall): Double = c.metrics.map(_.edgesIn.toDouble).sum
    def round0Sec(c: CcCall): Double = c.round0.map(_.wallMs / 1e3).getOrElse(0.0)
    out("cc.supersteps") = ccMed(_.map(_.metrics.size.toDouble).sum)
    out("cc.pointer_jumps") = ccMed(_.map(_.metrics.map(_.pointerJumps.toDouble).sum).sum)
    out("cc.edges_processed") = ccMed(_.map(edgesIn).sum)
    out("cc.round0_s") = ccMed(_.map(round0Sec).sum)
    out("cc.tail_s") = ccMed(_.map(c => c.sec - round0Sec(c)).sum)
    out("cc.round0_keep_ratio") = ccMed { cs =>
      val in = cs.flatMap(_.round0).map(_.edgesIn.toDouble).sum
      if (in > 0) cs.flatMap(_.round0).map(_.edgesOut.toDouble).sum / in else 0.0
    }
    out("cc.jobs") = ccMed(_.map(c => win(c.start, c.end).jobs.toDouble).sum)
    out("cc.shuffle_write_mb") = ccMed(_.map(c => win(c.start, c.end).shuffleWrite / mb).sum)
    out("cc.edges_per_s") = ccMed { cs =>
      val s = cs.map(_.sec).sum
      if (s > 0) cs.map(edgesIn).sum / s else 0.0
    }

    // per operation (0 for the operations of other workloads)
    val ops = opSamples.filter(_.traced).groupBy(_.op)
    (Seq("cc_synth") ++ GraphOps ++ CorpusOps).foreach { op =>
      val ss = ops.getOrElse(op, Seq.empty).toSeq
      def m(f: OpSample => Double): Double = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
      out(s"q.$op.s") = m(_.sec)
      out(s"q.$op.jobs") = m(s => win(s.start, s.end).jobs.toDouble)
      out(s"q.$op.shuffle_write_mb") = m(s => win(s.start, s.end).shuffleWrite / mb)
    }

    def part(ops: Seq[String]): Double =
      med(p => opSamples.filter(x => x.pass == p && ops.contains(x.op)).map(_.sec).sum)
    out("part.graph_s") = part(GraphOps)
    out("part.corpus_s") = part(CorpusOps)

    Seq("supplier", "nation", "parts", "repo").foreach(n =>
      out(s"derive.$n.s") = deriveSec.getOrElse(n, 0.0))
    out("ckpt.bytes") = med(p => ckpt.get(p).map(_._1.toDouble).getOrElse(0.0))
    out("ckpt.files") = med(p => ckpt.get(p).map(_._2.toDouble).getOrElse(0.0))

    // Spark engine, per traced pass
    val eng = tPasses.map(p => p -> win(passWall(p)._1, passWall(p)._2)).toMap
    def em(f: Engine => Double): Double = med(p => f(eng(p)))
    out("spark.jobs") = em(_.jobs)
    out("spark.stages") = em(_.stages)
    out("spark.tasks") = em(_.tasks)
    out("spark.failed_tasks") = em(_.failedTasks)
    out("spark.shuffle_write_mb") = em(_.shuffleWrite / mb)
    out("spark.shuffle_read_mb") = em(_.shuffleRead / mb)
    out("spark.spill_mb") = em(_.spill / mb)
    out("spark.gc_s") = em(_.gcMs / 1e3)
    out("spark.executor_run_s") = em(_.runMs / 1e3)
    out("spark.executor_cpu_s") = em(_.cpuNs / 1e9)
    // gap inside the op spans only: harness sweeps are not driver work
    out("spark.driver_gap_s") = med(p => opSamples.filter(_.pass == p)
      .map(s => win(s.start, s.end).gapMs / 1e3).sum)

    out("lineage.rdds_leaked") = med(p => leaks.getOrElse(p, 0).toDouble)
    out("lineage.double_free_warnings") = med(p => doubleFreeByPass.getOrElse(p, 0L).toDouble)
    out("lineage.sweep_s") = med(p => sweepSec.getOrElse(p, 0.0))

    out("trace.overhead_ratio") = Stats.median(traced) / Stats.median(untraced)
    out("trace.span_coverage") = med { p =>
      val (s, e, _) = passWall(p)
      opSamples.filter(_.pass == p).map(x => (x.end - x.start).toDouble).sum / math.max(1L, e - s)
    }
    out
  }

  private def writeSpans(): Unit = {
    val lines = spans.zipWithIndex.map { case (s, i) =>
      val childMs = spans.filter(_.parent == i).map(c => c.end - c.start).sum
      Json.obj(LinkedHashMap[String, Any]("id" -> i, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "workload" -> s.workload, "pass" -> s.pass,
        "self_ms" -> ((s.end - s.start) - childMs)))
    }
    Files.writeString(new File(work, "spans.jsonl").toPath, lines.mkString("", "\n", "\n"))
  }
}
