package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed interval of the harness: a pass, an operation, or a library
  * call inside an operation. `parent` is the index of the enclosing span
  * (-1 for a pass). Times are `System.currentTimeMillis` so they share a
  * clock with Spark's listener events. */
final case class Span(name: String, start: Long, end: Long, parent: Int,
                      workload: String, pass: Int)

/** A job's time span and the stages it listed. */
final case class JobRec(start: Long, var end: Long, stages: Seq[Int])

final case class StageRec(tasks: Int, failedTasks: Int, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long, gcMs: Long,
                          runMs: Long, cpuNs: Long)

/** Spark engine counters, collected only while `recording` is set (the
  * traced passes). Everything is kept in memory and read after the
  * session stops, which drains the listener bus. */
final class EngineListener extends SparkListener {
  @volatile var recording = false
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stages = scala.collection.mutable.Map.empty[Int, StageRec]
  private val failedByStage = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val r = JobRec(e.time, -1L, e.stageIds)
      jobs += r; jobById(e.jobId) = r
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!e.taskInfo.successful)
      failedByStage(e.stageId) = failedByStage.getOrElse(e.stageId, 0) + 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages(i.stageId) = StageRec(i.numTasks,
      failedByStage.getOrElse(i.stageId, 0),
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
      m.executorRunTime, m.executorCpuTime)
  }

  /** Jobs started inside [from, to], with their stages' counters (a stage
    * shared by several jobs counts once, under the first). */
  def window(from: Long, to: Long): Engine = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start <= to).toSeq
    val seen = scala.collection.mutable.Set.empty[Int]
    val ss = js.flatMap(_.stages).filter(seen.add).flatMap(stages.get)
    // driver gap: time in [from, to] during which no job of the window runs
    val busy = js.map(j => (j.start, if (j.end < 0) to else math.min(j.end, to)))
      .sortBy(_._1)
    var covered = 0L; var cur = from
    busy.foreach { case (s, e) =>
      val s1 = math.max(s, cur)
      if (e > s1) { covered += e - s1; cur = e }
    }
    Engine(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.failedTasks).sum,
      ss.map(_.shuffleWrite).sum, ss.map(_.shuffleRead).sum, ss.map(_.spill).sum,
      ss.map(_.gcMs).sum, ss.map(_.runMs).sum, ss.map(_.cpuNs).sum,
      (to - from) - covered)
  }
}

final case class Engine(jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        gcMs: Long, runMs: Long, cpuNs: Long, gapMs: Long)

/** Counts storage-block double frees from Spark's own log lines: the
  * block manager logs a warning ("Asked to remove block …, which does not
  * exist") or an error ("Block … does not exist") when a block is freed
  * twice. Installed as a log4j appender on the root logger. */
final class DoubleFreeCounter {
  @volatile var recording = false
  private val n = new java.util.concurrent.atomic.AtomicLong
  def count: Long = n.get

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val app = new AbstractAppender("graftbench-double-free", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (recording) {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        val thrown = Option(e.getThrown).flatMap(t => Option(t.getMessage)).getOrElse("")
        if (msg.contains("Asked to remove block") ||
            (e.getLoggerName.contains("BlockManager") &&
              (msg + " " + thrown).contains("does not exist")))
          n.incrementAndGet()
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }
}
