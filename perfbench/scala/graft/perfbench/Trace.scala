package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span: a named interval inside a trace (the query, epoch or
  * stage-run it belongs to). Spans link to their parent by key, so a
  * parent reported after its children (a job ends after its stages)
  * still resolves. Times are epoch ms. */
final case class Span(
    key: String, parentKey: String, trace: String, name: String, startMs: Double, endMs: Double)

/** In-memory span store, written out once when the run ends. */
final class SpanLog {
  private val spans = mutable.ArrayBuffer.empty[Span]
  def add(key: String, parentKey: String, trace: String, name: String,
      startMs: Double, endMs: Double): Unit =
    synchronized { spans += Span(key, parentKey, trace, name, startMs, endMs) }
  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Total self time per span name, ms: each span's duration minus the
    * part of its interval its children cover (overlapping children are
    * merged first, so parallel tasks are not counted twice). */
  def selfTimesMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parentKey)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = kids.getOrElse(s.key, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
          .foldLeft((0.0, Double.MinValue)) { case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach)
            else (acc + b - math.max(a, reach), b)
          }._1
        math.max(0.0, (s.endMs - s.startMs) - covered)
      }.sum
    }
  }

  def write(path: Path): Unit = {
    val body = all.map { s =>
      s"""{"key": ${Common.jsonString(s.key)}, "parent": ${Common.jsonString(s.parentKey)}, """ +
        s""""trace": ${Common.jsonString(s.trace)}, "name": ${Common.jsonString(s.name)}, """ +
        s""""start_ms": ${Common.jsonNumber(s.startMs)}, "end_ms": ${Common.jsonNumber(s.endMs)}}"""
    }
    Files.write(path, body.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Per-job totals collected by [[JobRecorder]]. */
final case class JobStats(
    jobId: Int, group: String, startMs: Long, var endMs: Long = -1L,
    var stages: Int = 0, var tasks: Int = 0,
    var cpuNs: Long = 0L, var runMs: Long = 0L, var gcMs: Long = 0L,
    var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L, var spill: Long = 0L)

/** SparkListener that groups jobs by the streaming query and batch id,
  * or by the benchmark's own [[Trace.GroupKey]] local property, and
  * records job, stage and task spans. */
final class JobRecorder(spanLog: Option[SpanLog]) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty(Trace.GroupKey)))
      .orElse(p.flatMap { x =>
        for (q <- Option(x.getProperty("sql.streaming.queryId"));
             b <- Option(x.getProperty("streaming.sql.batchId"))) yield Trace.epochKey(q, b.toLong)
      })
      .getOrElse("other")
    jobs(e.jobId) = JobStats(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
      j.stages += 1
      j.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      spanLog.foreach(_.add(s"stage-${info.stageId}.${info.attemptNumber()}", s"job-${j.jobId}",
        j.group, "stage", info.submissionTime.getOrElse(j.startMs).toDouble,
        info.completionTime.getOrElse(j.startMs).toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = spanLog.foreach { log =>
    synchronized {
      val group = stageJob.get(e.stageId).flatMap(jobs.get).map(_.group).getOrElse("other")
      log.add(s"task-${e.taskInfo.taskId}", s"stage-${e.stageId}.${e.stageAttemptId}", group, "task",
        e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      // a job's parent is its group's span: the epoch's trigger or the board query
      spanLog.foreach(_.add(s"job-${j.jobId}", s"group-${j.group}", j.group, "job",
        j.startMs.toDouble, e.time.toDouble))
    }
  }

  def all: Seq[JobStats] = synchronized(jobs.values.toSeq)
}

/** Collects every StreamingQueryProgress of the session's queries. */
final class ProgressRecorder extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def forQuery(id: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(buf.filter(_.id == id).toSeq)
}

object Trace {

  /** Local property naming the group (prefix stage, board query) of the
    * jobs an action starts. */
  val GroupKey = "perfbench.group"

  /** Barrier: every job started so far has reached onJobEnd, and every
    * progress event has reached its listener. Called after the clock
    * stops. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBarrier.await(spark.sparkContext)

  /** Epoch ms of a progress report's trigger start. */
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Only reports of triggers that ran a batch (idle polls are skipped). */
  def batches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(p => p.durationMs.containsKey("addBatch"))

  val Phases: Seq[String] =
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Trigger spans with one child per engine phase, laid end to end in
    * the order the micro-batch engine runs them (the progress report
    * carries durations, not timestamps). */
  def addTriggerSpans(log: SpanLog, ps: Seq[StreamingQueryProgress]): Unit =
    batches(ps).foreach { p =>
      val t0 = startMs(p).toDouble
      val trace = epochKey(p.id.toString, p.batchId)
      log.add(s"group-$trace", "", trace, "trigger", t0, t0 + dur(p, "triggerExecution"))
      var t = t0
      Phases.foreach { ph =>
        val d = dur(p, ph)
        log.add(s"$trace.$ph", s"group-$trace", trace, s"trigger.$ph", t, t + d)
        t += d
      }
    }

  /** Trace id of one epoch of one streaming query. */
  def epochKey(queryId: String, batchId: Long): String = s"${queryId.take(8)}-epoch-$batchId"

  /** Sum of a per-shard offset JSON (`{"0":12,"1":40}`). */
  def offsetTotal(json: String): Long =
    if (json == null) 0L
    else "\"\\d+\":(\\d+)".r.findAllMatchIn(json).map(_.group(1).toLong).sum

}
