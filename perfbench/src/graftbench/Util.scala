package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Median, sample count, and the highest whole percentile that has at
    * least ten samples beyond it (absent below eleven samples). */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val n = xs.size
    val base = Map[String, Any]("median" -> median(xs), "n" -> n)
    if (n < 11) base
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      val idx = math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)
      base ++ Map("pct" -> p, "pct_value" -> s(math.max(0, idx)))
    }
  }
}

/** Driver heap in use right after a full collection, sampled at the end
  * of every timed pass: the live set the pass leaves behind. */
final class HeapWatch {
  private var peak = 0L
  def gcNow(): Unit = {
    // the second collection frees what Spark's cleaner released after the first
    System.gc(); Thread.sleep(300); System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Just enough JSON for the result file, plus the tab-separated
  * expected-fingerprint table (`variant<TAB>op<TAB>count:sum`). */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_]       => xs.map(value).mkString("[", ",", "]")
    case other                 => quote(other.toString)
  }

  def obj(m: scala.collection.Map[String, Any]): String =
    m.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def readFingerprints(path: String): Map[String, Map[String, String]] = {
    val f = new File(path)
    if (!f.isFile) Map.empty
    else Files.readAllLines(f.toPath).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(v, op, fp) => (v, op, fp) }
      .groupBy(_._1).map { case (v, rows) => v -> rows.map(r => r._2 -> r._3).toMap }
  }

  def writeFingerprints(f: File, variant: String, fps: Map[String, String]): Unit =
    Files.writeString(f.toPath,
      fps.toSeq.sorted.map { case (op, fp) => s"$variant\t$op\t$fp" }.mkString("", "\n", "\n"))
}
