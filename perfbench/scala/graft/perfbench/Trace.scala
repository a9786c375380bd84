package graft.perfbench

import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into a layer. `parent` is -1 for a
  * root span; spans of one operation share `opId`. Times are wall-clock
  * milliseconds (the clock Spark stamps its events with) plus a nanosecond
  * duration for the arithmetic.
  */
final case class Span(id: Int, name: String, parent: Int, opId: Int,
                      startMs: Long, startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
  def covers(t: Long): Boolean = startMs <= t && t <= endMs
}

/** In-memory span recorder. Each span also becomes the thread's Spark job
  * group (`span-<id>`), so the engine listener can attribute the jobs,
  * tasks and bytes a span caused to its layer. Off by default: the runs
  * that produce end-to-end numbers never open a span.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var on = false
  var opId = -1
  private var stack: List[Span] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        opId, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", s"$name op=$opId", interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", s"${p.name} op=$opId", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The span that caused work started at `timeMs` under job group
    * `group`: the group's own span when it was open then, else the
    * innermost span open at that time (jobs started from pooled threads
    * can carry a stale inherited group).
    */
  def resolve(group: String, timeMs: Long): Option[Span] = {
    val byGroup = Option(group).filter(_.startsWith("span-"))
      .map(_.stripPrefix("span-").toInt).filter(_ < spans.size).map(spans)
      .filter(s => s.endMs >= 0 && s.startMs - 1 <= timeMs && timeMs <= s.endMs + 1)
    byGroup.orElse {
      val open = spans.filter(s => s.endMs >= 0 && s.covers(timeMs))
      if (open.isEmpty) None else Some(open.maxBy(_.startNs))
    }
  }

  def writeJsonl(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.opId},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}""")
    } finally w.close()
  }
}

/** Per-task numbers the benchmark reads back. */
final case class TaskRec(stageId: Int, runMs: Long, schedDelayMs: Long,
                         outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Job and stage start stamps with the job group that submitted them. */
final case class Stamp(timeMs: Long, group: String)

/** Engine-wide counters from Spark's listener bus. Registered in every run
  * (bytes written is an end-to-end metric); the per-layer attribution only
  * happens in the traced run, from the stamps recorded here.
  */
final class EngineListener extends SparkListener {
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[Stamp]
  val stages = scala.collection.mutable.Map.empty[Int, Stamp]

  private def group(p: Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Stamp(e.time, group(e.properties))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages(e.stageInfo.stageId) = Stamp(t, group(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      tasks += TaskRec(e.stageId, m.executorRunTime, sched, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  /** Counter positions, taken after the bus is drained, that bound a window. */
  def mark: (Int, Int) = synchronized((tasks.size, jobs.size))

  def tasksBetween(from: (Int, Int), to: (Int, Int)): Seq[TaskRec] =
    synchronized(tasks.slice(from._1, to._1).toSeq)
  def allTasks: Seq[TaskRec] = synchronized(tasks.toSeq)
  def allJobs: Seq[Stamp] = synchronized(jobs.toSeq)
  def stageStamp(id: Int): Option[Stamp] = synchronized(stages.get(id))
}
