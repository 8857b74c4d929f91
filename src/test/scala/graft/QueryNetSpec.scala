package graft

import org.apache.spark.sql.GraftLineage

/** Executes the driver queries that run an iterative loop (see
  * [[QueryNet]]) and compares each output's fingerprint with the
  * committed, DuckDB-verified table — once in the shared session's
  * layout and once with 7 shuffle partitions and AQE off, where a
  * result that depends on partitioning would differ. Once a query's
  * output is released, no persisted RDD may remain, and no storage
  * block may have been freed twice. */
class QueryNetSpec extends SparkSpec {
  private lazy val expected = QueryNet.expected

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Counts the block manager's "does not exist" errors: a block freed
    * twice (perfbench's DoubleFreeCounter rule; the shared session logs
    * at ERROR, which is where these land). */
  private val doubleFrees = new java.util.concurrent.atomic.AtomicLong
  private lazy val appender = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val app = new AbstractAppender("query-net-double-free", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        val thrown = Option(e.getThrown).flatMap(t => Option(t.getMessage)).getOrElse("")
        if (e.getLoggerName.contains("BlockManager") &&
            (msg + " " + thrown).contains("does not exist"))
          doubleFrees.incrementAndGet()
        ()
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    app
  }

  /** Runs every query; fails listing each wrong fingerprint, leak and
    * double free. */
  private def checkAll(): Unit = {
    appender
    expected.keySet shouldBe (for ((sf, _) <- QueryNet.dirs; q <- QueryNet.queries)
      yield (sf, q)).toSet
    val t0 = System.nanoTime()
    val failures = for ((sf, dir) <- QueryNet.dirs; q <- QueryNet.queries) yield {
      val before = persisted
      val freedTwice = doubleFrees.get()
      val df = SparkEntry.queries(q)(spark, dir)
      val fp = QueryNet.fingerprint(df)
      GraftLineage.release(df, blocking = true)
      val leaked = persisted -- before
      val twice = doubleFrees.get() - freedTwice
      (if (fp != expected((sf, q))) Seq(s"$sf $q: fingerprint $fp, expected ${expected((sf, q))}")
       else Nil) ++
        (if (leaked.nonEmpty) Seq(s"$sf $q: ${leaked.size} RDDs still persisted") else Nil) ++
        (if (twice > 0) Seq(s"$sf $q: $twice blocks freed twice") else Nil)
    }
    info(f"${failures.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    failures.flatten shouldBe empty
  }

  test("loop-backed queries match their committed fingerprints and leave no blocks") {
    checkAll()
  }

  test("loop-backed queries: same fingerprints with 7 shuffle partitions and AQE off") {
    val conf = spark.conf
    val was = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> conf.get(k))
    conf.set("spark.sql.shuffle.partitions", "7")
    conf.set("spark.sql.adaptive.enabled", "false")
    try checkAll()
    finally was.foreach { case (k, v) => conf.set(k, v) }
  }
}
