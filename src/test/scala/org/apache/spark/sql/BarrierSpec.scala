package org.apache.spark.sql

import graft.SparkSpec
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.functions.{count, lit, raise_error, repeat, sum, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** [[GraftLineage.barrier]] stores rows as packed pages: every value
  * type round-trips byte for byte, page boundaries hold for empty
  * partitions, oversized rows and long partitions, the page RDD is the
  * one block holder that `plannedRddIds` and `release` reach, and a row
  * of two longs costs 28 B in the block store. */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  private val PageBytes = 1 << 20

  /** Each row's UnsafeRow bytes, in partition order. */
  private def bytes(df: DataFrame): Seq[Seq[Byte]] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getBytes.toVector).collect().toSeq

  /** The page lengths of a barrier'd frame's blocks, per partition. */
  private def pageLengths(out: DataFrame): Seq[Seq[Int]] = {
    val Seq(id) = GraftLineage.plannedRddIds(out).toSeq
    spark.sparkContext.getPersistentRDDs(id).asInstanceOf[RDD[Array[Byte]]]
      .mapPartitions(pages => Iterator(pages.map(_.length).toSeq)).collect().toSeq
  }

  private def withBarrier[T](df: DataFrame)(check: DataFrame => T): T = {
    val out = GraftLineage.barrier(df)
    try check(out) finally GraftLineage.release(out, blocking = true)
  }

  test("rows of a wide schema come back byte-identical") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("b", BinaryType),
      StructField("d", DecimalType(38, 0)),
      StructField("x", DoubleType),
      StructField("a", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, ArrayType(StringType))),
      StructField("n", StructType(Seq(
        StructField("i", IntegerType),
        StructField("t", StringType),
        StructField("inner", StructType(Seq(StructField("l", LongType))))))),
      StructField("ts", TimestampType)))
    val big = BigDecimal("99999999999999999999999999999999999999")
    val base = Seq(
      Row(0L, "", Array.emptyByteArray, big, Double.NaN, Seq(1, null, 3),
        Map("k" -> Seq("v", null), "ü" -> Seq()), Row(1, "x", Row(2L)),
        java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456")),
      Row(1L, null, null, null, null, null, null, null, null),
      Row(2L, "héllo wörld ✓ 日本語 😀", Array[Byte](0, -1, 127, -128), -big, -0.0,
        Seq(), Map(), Row(null, null, null),
        java.sql.Timestamp.valueOf("1900-01-01 00:00:00")),
      Row(3L, "é" * 40, Array.fill[Byte](33)(7), BigDecimal(0), 1e300, Seq.fill(17)(9),
        Map("" -> null), Row(-1, "", Row(null)), java.sql.Timestamp.valueOf("2099-12-31 12:00:00")))
    val rows = (0 until 50).flatMap(k => base.map(r => Row.fromSeq((r.getLong(0) + 4L * k) +: r.toSeq.tail)))
    val df = spark.createDataFrame(rows.asJava, schema)
    df.rdd.getNumPartitions should be > 1
    val expected = bytes(df)
    expected should have size 200
    withBarrier(df) { out =>
      out.schema shouldBe df.schema
      bytes(out) shouldBe expected
      out.collect().toSeq shouldBe df.collect().toSeq
    }
  }

  test("an empty frame, and a frame with empty partitions") {
    withBarrier(spark.range(0).toDF("id")) { out =>
      out.count() shouldBe 0L
      out.schema shouldBe spark.range(0).toDF("id").schema
      pageLengths(out).flatten shouldBe empty
    }
    withBarrier(spark.range(0, 3, 1, 8).select($"id", ($"id" * 2).as("x"))) { out =>
      out.rdd.getNumPartitions shouldBe 8
      out.as[(Long, Long)].collect().toSeq shouldBe Seq((0L, 0L), (1L, 2L), (2L, 4L))
      pageLengths(out).count(_.isEmpty) shouldBe 5
    }
  }

  test("a row larger than a page gets a page of its own") {
    val big = 3 << 20
    val df = spark.range(0, 5, 1, 1).select($"id",
      when($"id" === 2, repeat(lit("x"), big)).otherwise($"id".cast("string")).as("s"))
    withBarrier(df) { out =>
      val got = out.as[(Long, String)].collect().toSeq
      got.map(_._1) shouldBe (0L until 5L)
      got.map(r => if (r._1 == 2) r._2.length else r._2.toLong) shouldBe
        Seq(0L, 1L, big.toLong, 3L, 4L)
      bytes(out) shouldBe bytes(df)
      val Seq(pages) = pageLengths(out)
      pages should have size 3
      pages(1) should be > big
      pages.patch(1, Nil, 1).foreach(_ should be <= PageBytes)
    }
  }

  test("a one-partition frame spans many pages") {
    val n = 200000L
    val df = spark.range(0, n, 1, 1).select($"id", ($"id" * 3).as("x"))
    withBarrier(df) { out =>
      val Seq(pages) = pageLengths(out)
      pages.size should be >= 5
      pages.foreach(_ should be <= PageBytes)
      pages.sum shouldBe n * 28 // 24 B per UnsafeRow of two longs + 4 B prefix
      val Row(c: Long, s: Long, sx: Long) = out.agg(count(lit(1)), sum($"id"), sum($"x")).head()
      (c, s, sx) shouldBe ((n, n * (n - 1) / 2, 3 * n * (n - 1) / 2))
      out.as[(Long, Long)].collect().toSeq shouldBe (0L until n).map(i => (i, 3 * i))
    }
  }

  test("rows that are not UnsafeRows are projected into pages") {
    val types: Array[DataType] = Array(LongType, StringType)
    val in = (0 until 1000).map(i =>
      new GenericInternalRow(Array[Any](i.toLong, if (i % 7 == 0) null else UTF8String.fromString("r" * (i % 50)))))
    val pages = GraftLineage.pack(in.iterator.map(r => r: InternalRow), types).toSeq
    pages should have size 1
    def value(r: InternalRow) = (r.getLong(0), if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
    val row = new UnsafeRow(2) // records() points this one row at each record
    pages.flatMap(GraftLineage.records(_, row).map(value)) shouldBe in.map(value)
  }

  test("barrierObserved returns its metrics in the barrier's one job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val df = spark.range(0, 1000, 1, 4).select($"id", ($"id" % 10).as("k"))
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    val (out, obs) = try {
      val r = GraftLineage.barrierObserved(df.repartition(3, $"k"), count(lit(1)).as("n"), sum($"id").as("s"))
      spark.sparkContext.listenerBus.waitUntilEmpty()
      r
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prior)
    }
    try {
      obs shouldBe Map("n" -> 1000L, "s" -> 499500L)
      jobs.get shouldBe 1
      out.count() shouldBe 1000L
    } finally GraftLineage.release(out, blocking = true)
    // under AQE too, where the shuffle runs as a stage job of its own
    val (aqe, aqeObs) = GraftLineage.barrierObserved(df.repartition(3, $"k"), count(lit(1)).as("n"))
    try aqeObs shouldBe Map("n" -> 1000L) finally GraftLineage.release(aqe, blocking = true)
  }

  test("the block store gains exactly plannedRddIds, and release frees them") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = GraftLineage.barrier(spark.range(0, 5000).select($"id", ($"id" + 1).as("v")))
    val ids = GraftLineage.plannedRddIds(out)
    ids should have size 1
    (sc.getPersistentRDDs.keySet -- before) shouldBe ids
    out.count() shouldBe 5000L
    GraftLineage.release(out, blocking = true)
    (sc.getPersistentRDDs.keySet & ids) shouldBe empty
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("a barrier whose job fails leaves no blocks behind its scope") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val failing = spark.range(0, 100, 1, 4).select(
      when($"id" === 57, raise_error(lit("planted failure"))).otherwise($"id").as("id"))
    intercept[Exception](GraftLineage.scopedBlocks(spark)(GraftLineage.barrier(failing)))
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("a row of two longs costs at most 32 B in the block store") {
    val n = 100000L
    withBarrier(spark.range(0, n).select($"id", ($"id" * 7).as("v"))) { out =>
      val ids = GraftLineage.plannedRddIds(out)
      val info = spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      info should have size 1
      info.head.diskSize shouldBe 0L
      val perRow = info.head.memSize.toDouble / n
      perRow should be >= 28.0
      perRow should be <= 32.0
    }
  }
}
