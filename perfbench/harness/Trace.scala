package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed interval at a layer boundary. Times are epoch
  * microseconds; `parent` is the id of the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      module: String, startUs: Long, var endUs: Long)

/** Spans are kept in memory and written when the run ends. A disabled
  * tracer records nothing and sets no Spark properties, so an untraced
  * run executes exactly the program's own calls. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private var nextId = 1L
  val spans = ArrayBuffer.empty[Span]

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Open a span and, for span kinds that can launch Spark jobs, tag the
    * calling thread so the listener can tie each job to it. Threads the
    * program starts inside the span inherit the tag. */
  def begin(kind: String, name: String, module: String, parent: Long): Long =
    if (!enabled) 0L
    else synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, parent, kind, name, module, nowUs, -1L)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      if (kind == "op") sc.setJobGroup(s"perfbench-op-$id", name)
      id
    }

  def end(id: Long, restore: Long): Unit =
    if (enabled) synchronized {
      val s = spans.find(_.id == id)
      s.foreach(_.endUs = nowUs)
      sc.setLocalProperty(Tracer.SpanKey, if (restore == 0L) null else restore.toString)
      if (s.exists(_.kind == "op")) sc.clearJobGroup()
    }

  def span[T](kind: String, name: String, module: String, parent: Long)(body: Long => T): T = {
    val id = begin(kind, name, module, parent)
    try body(id) finally end(id, parent)
  }

  def spansJson: String = spans.map { s =>
    import Harness.js
    s"""{"id":${s.id},"parent":${s.parent},"kind":${js(s.kind)},"name":${js(s.name)},""" +
      s""""module":${js(s.module)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
  }.mkString("[", ",", "]")
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Raw per-job and per-stage execution records, keyed by the span that
  * launched them. Roll-ups are computed by the Python side. */
object ExecListener {
  final case class Job(id: Int, span: Long, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, span: Long, numTasks: Int,
                         submitMs: Long, completeMs: Long, cpuNs: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long, maxTaskMs: Long, medianTaskMs: Long)
}

final class ExecListener extends SparkListener {
  import ExecListener._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val stageSpan = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), ArrayBuffer[Long]]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, spanOf(e.properties), e.time, -1L, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), spanOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.successful) {
      val buf = taskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => ArrayBuffer.empty[Long])
      buf.synchronized { buf += e.taskInfo.duration }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val m = i.taskMetrics
    val durs = Option(taskMs.get(key)).map(b => b.synchronized(b.sorted.toVector)).getOrElse(Vector.empty)
    val (cpu, sr, sw, spill) =
      if (m == null) (0L, 0L, 0L, 0L)
      else (m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.put(key, Stage(i.stageId, i.attemptNumber(),
      Option(stageSpan.get(key)).map(_.longValue).getOrElse(0L), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), cpu, sr, sw, spill,
      if (durs.isEmpty) 0L else durs.last,
      if (durs.isEmpty) 0L else durs(durs.size / 2)))
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobsJson: String = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    s"""{"id":${j.id},"span":${j.span},"start_us":${j.startMs * 1000},"end_us":${j.endMs * 1000},"stages":${j.stages.mkString("[", ",", "]")}}"""
  }.mkString("[", ",", "]")

  def stagesJson: String = stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map { s =>
    s"""{"id":${s.id},"attempt":${s.attempt},"span":${s.span},"tasks":${s.numTasks},""" +
      s""""submit_us":${s.submitMs * 1000},"complete_us":${s.completeMs * 1000},"cpu_ns":${s.cpuNs},""" +
      s""""shuffle_read":${s.shuffleReadBytes},"shuffle_write":${s.shuffleWriteBytes},""" +
      s""""spill":${s.spillBytes},"max_task_ms":${s.maxTaskMs},"median_task_ms":${s.medianTaskMs}}"""
  }.mkString("[", ",", "]")
}
