package loadbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.{LoadBenchHooks, SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced interval. Spans nest; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listener saw of one finished task, tagged with the span
  * whose call submitted the task's job. */
final case class TaskFact(span: Int, stageId: Int, shuffleMap: Boolean,
    failed: Boolean, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    fetchWaitMs: Long, shuffleWriteBytes: Long, diskSpillBytes: Long,
    recordsRead: Long)

final case class JobFact(jobId: Int, span: Int, startMs: Long,
    var endMs: Long, fromParallelize: Boolean)

/**
 * Spans kept in memory plus a SparkListener that attributes every job,
 * stage and task to the innermost open span. The span id travels as a
 * SparkContext local property, so a job inherits the span of the driver
 * call that submitted it. Read the facts only after [[drain]].
 */
final class Tracer(sc: SparkContext, runId: String) {
  private val Prop = "loadbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val jobs = mutable.LinkedHashMap.empty[Int, JobFact]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stagesDone = mutable.ArrayBuffer.empty[Int] // span per completed stage
  private val tasks = mutable.ArrayBuffer.empty[TaskFact]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      val parallelize = e.stageInfos.exists(_.rddInfos.exists(
        _.name.contains("ParallelCollectionRDD")))
      jobs(e.jobId) = JobFact(e.jobId, span, e.time, -1L, parallelize)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stagesDone += stageSpan.getOrElse(e.stageInfo.stageId, -1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        if (m == null) 0L else f(m)
      tasks += TaskFact(stageSpan.getOrElse(e.stageId, -1), e.stageId,
        e.taskType == "ShuffleMapTask",
        e.taskInfo.failed || e.reason != Success,
        e.taskInfo.duration, mv(_.executorRunTime), mv(_.executorCpuTime),
        mv(_.jvmGCTime), mv(_.shuffleReadMetrics.fetchWaitTime),
        mv(_.shuffleWriteMetrics.bytesWritten), mv(_.diskBytesSpilled),
        mv(_.inputMetrics.recordsRead))
    }
  }
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.fold(-1)(_.id), runId,
      System.nanoTime())
    spans += s
    open = s :: open
    val outer = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Prop, outer)
    }
  }

  /** Deliver every pending listener event. */
  def drain(): Unit = LoadBenchHooks.drainListenerBus(sc)

  def close(): Unit = { drain(); sc.removeSparkListener(listener) }

  /** The most recent span with this name. */
  def get(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  def seconds(name: String): Double = get(name).fold(0.0)(_.seconds)

  private def under(spanId: Int, root: Int): Boolean =
    spanId == root || (spanId >= 0 && under(spans(spanId).parent, root))

  /** Facts of every job/task submitted inside `name` or its children. */
  def tasksIn(name: String): Seq[TaskFact] = get(name).fold(Seq.empty[TaskFact]) { s =>
    synchronized(tasks.filter(t => under(t.span, s.id)).toSeq)
  }
  def jobsIn(name: String): Seq[JobFact] = get(name).fold(Seq.empty[JobFact]) { s =>
    synchronized(jobs.values.filter(j => under(j.span, s.id)).toSeq)
  }
  def stagesIn(name: String): Int = get(name).fold(0) { s =>
    synchronized(stagesDone.count(under(_, s.id)))
  }

  /** `name`'s duration minus the part its direct children cover. */
  def selfSeconds(name: String): Double = get(name).fold(0.0) { s =>
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
  }

  /** Spans with the jobs each one submitted, as JSON. */
  def writeSpans(file: File): Unit = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val body = spans.map { s =>
      val js = synchronized(jobs.values.filter(_.span == s.id).map(_.jobId).toSeq)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run":"${s.runId}","start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9},"jobs":[${js.mkString(",")}]}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.createDirectories(file.getParentFile.toPath)
    Files.write(file.toPath, body.getBytes(StandardCharsets.UTF_8))
  }
}
