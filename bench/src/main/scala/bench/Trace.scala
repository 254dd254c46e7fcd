package bench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the traced run: a layer call inside an op. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: String, opId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until exit and only summarised
  * into metrics at the end, so recording costs two `nanoTime` calls. While
  * tracing is off, [[span]] runs the body and records nothing. */
final class Tracer {
  val spans = new ArrayBuffer[Span]()
  @volatile var on = false
  @volatile var opId: String = ""

  def span[A](name: String, parent: String = "")(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans.synchronized {
        spans += Span(name, t0, System.nanoTime(), parent, opId)
      }
    }

  def named(name: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name == name).toList)
}

/** One Spark job: when it ran and which stages it listed. */
final class JobRec(val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Task totals of one stage. */
final class StageTotals {
  var completed = false
  var tasks, cpuNs, runMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
}

/** Spark listener of the traced run. It keeps every job's interval and
  * every stage's task totals; [[Layers.spark]] attributes jobs to ops by
  * the op's time window, because a streaming query runs its batches under
  * a job group of its own. Jobs carrying a micro-batch id are also counted
  * for the streaming planes. */
final class SparkTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()
  @volatile var batchJobs = 0L

  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new StageTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties)
        .exists(_.getProperty("streaming.sql.batchId") != null))
      batchJobs += 1
    jobs.put(e.jobId, new JobRec(e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = stage(e.stageInfo.stageId)
    t.synchronized(t.completed = true)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val t = stage(e.stageId)
      t.synchronized {
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.output += m.outputMetrics.bytesWritten
      }
    }

  /** (job, stage totals the job ran first) of every job started inside one
    * of `windows` (epoch-ms intervals). */
  def jobsIn(windows: Seq[(Long, Long)]): Seq[(JobRec, Seq[StageTotals])] = {
    val all = jobs.asScala.toSeq.sortBy(_._1)
    val owner = mutable.Map[Int, Int]()
    all.foreach { case (id, j) => j.stageIds.foreach(s =>
      if (!owner.contains(s)) owner(s) = id) }
    all.collect { case (id, j)
        if windows.exists { case (s, e) => j.startMs >= s && j.startMs <= e } =>
      j -> j.stageIds.filter(owner(_) == id).flatMap(s => Option(stages.get(s)))
    }
  }
}

/** One micro-batch's progress as the streaming listener reports it. */
final case class BatchRec(triggerMs: Long, addBatchMs: Long,
    planningMs: Long, walCommitMs: Long, commitOffsetsMs: Long,
    inputRows: Long)

final class StreamTrace extends StreamingQueryListener {
  val batches = new ArrayBuffer[BatchRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    // progress events without a trigger are idle polls, not batches
    if (p.numInputRows > 0 || d.contains("addBatch"))
      batches.synchronized {
        batches += BatchRec(d.getOrElse("triggerExecution", 0L),
          d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
          d.getOrElse("walCommit", 0L), d.getOrElse("commitOffsets", 0L),
          p.numInputRows)
      }
  }
}
