package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Library calls depend only on their arguments: outside the entry
  * points (`Env`, `Bench`, `Verify`, `tools/`) no code under
  * `src/main/scala` reads an environment variable or keeps a
  * process-wide mutable switch (an object-level `@volatile var`). A knob
  * belongs in a `Config` field or a parameter, where tests and callers
  * can see and set it.
  *
  * Materialized state has one path: no code under `src/main/scala`
  * outside `GraftLineage.scala` calls `localCheckpoint(` or names a
  * `LogicalRDD`. A barrier's blocks are its page RDD, which only
  * `GraftLineage` (`barrier`, `release`, `plannedRddIds`, the scopes)
  * knows how to reach. Library code frees those blocks by scope (a
  * `scopedBlocks`/`scopedFrames` scope or a round loop): outside the
  * entry points and `GraftLineage.scala` only three named frees remain. */
class LibraryArgumentsSpec extends AnyFunSuite with Matchers {

  /** `src/main/scala` of the checkout these tests were built from: the
    * first one above the compiled test classes or the working directory. */
  private lazy val mainSources: Path = {
    val codeSource = Option(getClass.getProtectionDomain.getCodeSource)
      .map(cs => Paths.get(cs.getLocation.toURI))
    (codeSource.toSeq :+ Paths.get("").toAbsolutePath).iterator
      .flatMap(Iterator.iterate[Path](_)(_.getParent).takeWhile(_ != null))
      .map(_.resolve("src/main/scala"))
      .find(p => Files.isRegularFile(p.resolve("graft/SparkEntry.scala")))
      .getOrElse(fail("src/main/scala not found above the test classes or the working directory"))
  }

  private val entryPoints = Seq("graft/Env.scala", "graft/Bench.scala",
    "graft/Verify.scala", "graft/tools/")

  private val envRead =
    """sys\.env|System\.getenv|\bEnv\.(int|long|cpus)\s*\(""".r
  private val volatileVar = """@volatile\b.*\bvar\b""".r
  private val template = """\b(object|class|trait)\s""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
  }
  private def indent(line: String): Int = line.takeWhile(_ == ' ').length

  /** Whether the definition on `lines(i)` sits directly in an `object`
    * body: the nearest earlier code line indented less than it opens
    * the enclosing template or method. */
  private def inObjectBody(lines: IndexedSeq[String], i: Int): Boolean = {
    val k = indent(lines(i))
    (i - 1 to 0 by -1).iterator.map(lines)
      .filter(l => l.trim.nonEmpty && !isComment(l) &&
        !l.trim.startsWith("}") && !l.trim.startsWith(")") && !l.trim.startsWith("@"))
      .find(indent(_) < k)
      .exists(l => template.findFirstMatchIn(l).exists(_.group(1) == "object"))
  }

  /** "path:line: text" for every offending line of code under
    * `src/main/scala` outside `exempt` (paths, or prefixes ending in `/`). */
  private def offenders(matches: (IndexedSeq[String], Int) => Boolean,
                        exempt: Seq[String] = entryPoints): Seq[String] = {
    val files = Files.walk(mainSources).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sorted
    for {
      f <- files
      rel = mainSources.relativize(f).toString.replace('\\', '/')
      if !exempt.exists(e => if (e.endsWith("/")) rel.startsWith(e) else rel == e)
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      i <- lines.indices
      if !isComment(lines(i)) && matches(lines, i)
    } yield s"$rel:${i + 1}: ${lines(i).trim}"
  }

  test("library code reads no environment variables outside the entry points") {
    offenders((lines, i) => envRead.findFirstIn(lines(i)).isDefined) shouldBe empty
  }

  test("library code keeps no object-level @volatile var switches") {
    offenders((lines, i) =>
      volatileVar.findFirstIn(lines(i)).isDefined && inObjectBody(lines, i)) shouldBe empty
  }

  test("only GraftLineage materializes state: no localCheckpoint or LogicalRDD elsewhere") {
    val oneWay = """localCheckpoint\(|\bLogicalRDD\b""".r
    offenders((lines, i) => oneWay.findFirstIn(lines(i)).isDefined,
      exempt = Seq("org/apache/spark/sql/GraftLineage.scala")) shouldBe empty
  }

  test("library code frees blocks by scope") {
    val free = """\brelease\(|releaseLineage\(|\.unpersist\(""".r
    // The frees no scope owns, as (file, line): CC's jump barriers, which
    // must go blocking before the next jump; the label table a
    // LabelMaintainer holds across calls; the Spark cache (not a barrier)
    // of withTriangleBase.
    val kept = Seq(
      "graft/operators/ConnectedComponents.scala" ->
        "jumpBarriers.foreach(_.releaseLineage(blocking = true))",
      "graft/streaming/IncrementalCC.scala" -> "GraftLineage.release(prev)",
      "graft/operators/TriangleCount.scala" ->
        "finally { oriented.unpersist(); canon.unpersist() }")
    offenders((lines, i) => free.findFirstIn(lines(i)).isDefined,
      exempt = entryPoints :+ "org/apache/spark/sql/GraftLineage.scala")
      .filterNot(o => kept.exists { case (file, line) =>
        o.startsWith(s"$file:") && o.endsWith(s": $line") }) shouldBe empty
  }
}
