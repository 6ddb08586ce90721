package graftperf

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A span recorded by the benchmark around one of its calls into the
  * library. Times are epoch milliseconds, the clock Spark stamps its
  * job events with. `parent` is -1 for a root span. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** Totals of one Spark job, filled from listener events. `span` is the
  * benchmark span that was open on the submitting thread (read from a
  * local property), or -1 when the job carried none. */
final class JobRec(val id: Int, val span: Long, val start: Long) {
  @volatile var end: Long = -1L
  var stages, tasks = 0
  var taskMs, cpuNs, gcMs, inBytes, shReadBytes, shWriteBytes, spillBytes = 0L
}

/** Per-operation layer totals, computed from the spans of one op. */
final case class OpLayers(buildS: Double, buildJobs: Int, planS: Double, writeS: Double,
    jobs: Int, stages: Int, tasks: Int, taskS: Double, cpuS: Double, gcS: Double,
    inputMb: Double, shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    nojobS: Double, leakedRdds: Int)

/** Records spans in memory and attributes Spark jobs to them.
  *
  * Attribution uses a local property that the benchmark sets on its own
  * thread before each call, never the job group (the library uses job
  * groups for cancellation). Threads a library pool created earlier
  * inherited the property of whatever span was open then, so a job is
  * attributed only when it was submitted while the span it carries was
  * open; every other job is counted as unattributed. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private val spanById = scala.collection.mutable.HashMap.empty[Long, Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private var nextId = 0L

  private def newId(): Long = { nextId += 1; nextId }

  /** Whether `j` was submitted while the span it carries was open. */
  private def attributed(j: JobRec): Boolean =
    spanById.get(j.span).exists(s => j.start >= s.start && j.start <= s.end)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val m = info.taskMetrics
      j.synchronized {
        j.stages += 1
        j.tasks += info.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.shReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Runs `body` inside a span named `name` under `parent`, with the
    * span's id set as the submitting thread's local property. */
  def span[A](parent: Long, name: String)(body: => A): (Long, A) = {
    val id = newId()
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.currentTimeMillis()
    try {
      val a = body
      (id, a)
    } finally {
      val sp = Span(id, parent, name, t0, System.currentTimeMillis())
      spans += sp
      spanById(id) = sp
      sc.setLocalProperty(SpanProperty, prev)
    }
  }

  def root(): Long = newId()
  def closeRoot(id: Long, name: String, start: Long, end: Long): Unit =
    spans += Span(id, -1L, name, start, end)

  /** Layer totals of the op whose root span is `root`, spanning
    * [start, end] ms. Waits for the listener bus first. */
  def layers(root: Long, start: Long, end: Long, leaked: Int): OpLayers = {
    org.apache.spark.graftperf.ListenerBusDrain(sc)
    val children = spans.filter(_.parent == root)
    def child(n: String) = children.filter(_.name == n)
    def dur(n: String) = child(n).map(s => (s.end - s.start) / 1e3).sum
    val ids = children.map(_.id).toSet
    val buildIds = child(Build).map(_.id).toSet
    val all = jobs.values.asScala.toSeq
    val mine = all.filter(j => ids(j.span) && attributed(j))
    // driver time: op wall not covered by ANY job interval, attributed or not
    val covered = union(all.filter(j => j.end >= start && j.start <= end)
      .map(j => (math.max(j.start, start), math.min(if (j.end < 0) end else j.end, end))))
    val mb = 1024.0 * 1024.0
    OpLayers(
      buildS = dur(Build), buildJobs = mine.count(j => buildIds(j.span)),
      planS = dur(Plan), writeS = dur(Write),
      jobs = mine.size, stages = mine.map(_.stages).sum, tasks = mine.map(_.tasks).sum,
      taskS = mine.map(_.taskMs).sum / 1e3, cpuS = mine.map(_.cpuNs).sum / 1e9,
      gcS = mine.map(_.gcMs).sum / 1e3, inputMb = mine.map(_.inBytes).sum / mb,
      shuffleReadMb = mine.map(_.shReadBytes).sum / mb,
      shuffleWriteMb = mine.map(_.shWriteBytes).sum / mb,
      spillMb = mine.map(_.spillBytes).sum / mb,
      nojobS = math.max(0L, (end - start) - covered) / 1e3,
      leakedRdds = leaked)
  }

  /** Jobs that carried no span of the operation that was running. */
  def unattributed: Int = {
    org.apache.spark.graftperf.ListenerBusDrain(sc)
    jobs.values.asScala.count(j => !attributed(j))
  }

  /** Spans and job spans as JSON values, job spans parented to the span
    * they carried, or to "unattributed". */
  def dump(): Seq[Map[String, Any]] = {
    org.apache.spark.graftperf.ListenerBusDrain(sc)
    spans.toSeq.sortBy(_.id).map(s => Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)) ++
      jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map[String, Any](
        "id" -> s"job-${j.id}",
        "parent" -> (if (attributed(j)) j.span else "unattributed"),
        "name" -> "job", "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs))
  }
}

object Tracer {
  val SpanProperty = "graftperf.span"
  val Build = "registry.build"
  val Plan = "plans.plan"
  val Write = "exec.write"

  /** Total length of the union of closed intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
