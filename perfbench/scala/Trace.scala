package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call: a span with Spark jobs and micro-batches as children.
  * Counters are filled by [[Tracer]]'s listeners while the call runs.
  */
final class Span(val id: Int, val parent: Int, val name: String) {
  var startNs = 0L
  var endNs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var recordsRead = 0L
  var openJobs = 0
  var openQueries = 0
  var warnLines = 0
  var errorLines = 0
  /** (name, startMs, endMs) of every job and micro-batch it started. */
  val children = mutable.ArrayBuffer.empty[(String, Long, Long)]
  val phasesMs = mutable.LinkedHashMap.empty[String, Long]
  var batches = 0

  def seconds: Double = (endNs - startNs) / 1e9

  /** Wall-clock ms of this span's ends, on the clock Spark events use. */
  var startWallMs = 0L
  var endWallMs = 0L
}

/** Records spans around the benchmark's calls into the repo's public
  * functions. Spark jobs, stages and tasks are attributed through the job
  * group [[span]] sets; streaming micro-batches through the run id the
  * query reports at start (the stream thread sets its own job group).
  * The benchmark is a closed loop with one client, so anything that
  * carries neither tag belongs to the span in flight.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Span = null
  private var stack: List[Span] = Nil
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byRun = new ConcurrentHashMap[String, Span]()
  private val byJob = new ConcurrentHashMap[Int, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()

  def all: Seq[Span] = spans.toSeq

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val sp = group.flatMap(g => Option(byGroup.get(g)).orElse(Option(byRun.get(g))))
        .getOrElse(current)
      if (sp != null) sp.synchronized {
        sp.jobs += 1
        sp.openJobs += 1
        byJob.put(e.jobId, sp)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(s => byStage.put(s, sp))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val sp = byJob.remove(e.jobId)
      val t0 = Option(jobStartMs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      if (sp != null) sp.synchronized {
        sp.openJobs -= 1
        sp.children += ((s"job${e.jobId}", t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sp = byStage.get(e.stageInfo.stageId)
      if (sp != null) sp.synchronized { sp.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sp = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (sp != null && m != null) sp.synchronized {
        sp.tasks += 1
        sp.taskMs += m.executorRunTime
        sp.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        sp.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        sp.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        sp.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val sp = current
      if (sp != null) sp.synchronized {
        byRun.put(e.runId.toString, sp)
        sp.openQueries += 1
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val sp = byRun.get(p.runId.toString)
      if (sp != null) sp.synchronized {
        sp.batches += 1
        p.durationMs.asScala.foreach { case (k, v) =>
          sp.phasesMs(k) = sp.phasesMs.getOrElse(k, 0L) + v.longValue
        }
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        sp.children += ((s"batch${p.batchId}", end - p.durationMs.asScala
          .get("triggerExecution").map(_.longValue).getOrElse(0L), end))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val sp = byRun.get(e.runId.toString)
      if (sp != null) sp.synchronized { sp.openQueries -= 1 }
    }
  }

  /** Counts WARN and ERROR lines against the span in flight. */
  private val logCounter = new AbstractAppender("perfbench-log-counter", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val sp = current
      if (sp != null) sp.synchronized {
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) sp.errorLines += 1
        else if (e.getLevel.isMoreSpecificThan(Level.WARN)) sp.warnLines += 1
      }
    }
  }
  logCounter.start()

  private var attachedTo: SparkSession = null

  /** Registers the listeners and the log counter on `spark`. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(logCounter, Level.WARN, null)
    ctx.updateLoggers()
    attachedTo = spark
  }

  /** Removes everything [[attach]] registered (untraced passes run bare). */
  def detach(): Unit = if (attachedTo != null) {
    attachedTo.sparkContext.removeSparkListener(jobListener)
    attachedTo.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(logCounter.getName)
    ctx.updateLoggers()
    attachedTo = null
  }

  /** Runs `body` as a span named `name`, nested under the span in flight. */
  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    val parent = stack.headOption
    val sp = new Span(spans.length, parent.map(_.id).getOrElse(-1), name)
    spans += sp
    val group = s"perfbench-${sp.id}"
    byGroup.put(group, sp)
    val sc = spark.sparkContext
    val priorGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val priorDesc = Option(sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = sp :: stack
    current = sp
    sp.startWallMs = System.currentTimeMillis()
    sp.startNs = System.nanoTime()
    try body
    finally {
      sp.endNs = System.nanoTime()
      sp.endWallMs = System.currentTimeMillis()
      stack = stack.tail
      current = stack.headOption.orNull
      priorGroup match {
        case Some(g) => sc.setJobGroup(g, priorDesc.getOrElse(""), interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** [[span]] for a body run for its effect; returns the span. */
  def spanned(spark: SparkSession, name: String)(body: => Unit): Span = {
    val id = spans.length
    span(spark, name)(body)
    spans(id)
  }

  /** Waits (at most 5 s) until the asynchronous listener events of every
    * job and query the spans started have arrived, so counters are
    * complete. Called between passes, outside any timed region.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (spans.exists(sp => sp.synchronized(sp.openJobs > 0 || sp.openQueries > 0)) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    // a job's last task-end events can trail its job-end event
    Thread.sleep(50)
  }

  /** Descendant spans of `root`, itself included. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id)
    root +: kids.toSeq.flatMap(subtree)
  }

  /** Every span as JSON, with self time: the span minus the time its
    * child spans, jobs and micro-batches cover.
    */
  def spansJson(): java.util.List[java.util.Map[String, Any]] = {
    spans.map { sp =>
      val childSpans = spans.filter(_.parent == sp.id)
        .map(c => (c.startWallMs, c.endWallMs))
      val covered = Tracer.coveredS((childSpans ++ sp.children.map(c => (c._2, c._3)))
        .map { case (s, e) => (math.max(s, sp.startWallMs), math.min(e, sp.endWallMs)) }.toSeq)
      Map[String, Any](
        "id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
        "start_ms" -> sp.startWallMs, "end_ms" -> sp.endWallMs,
        "wall_s" -> sp.seconds,
        "self_s" -> math.max(0.0, sp.seconds - covered),
        "jobs" -> sp.jobs, "stages" -> sp.stages, "tasks" -> sp.tasks,
        "task_s" -> sp.taskMs / 1000.0, "batches" -> sp.batches,
        "warn_lines" -> sp.warnLines, "error_lines" -> sp.errorLines,
        "children" -> sp.children.map { case (n, s, e) =>
          Map[String, Any]("name" -> n, "start_ms" -> s, "end_ms" -> e).asJava
        }.asJava
      ).asJava
    }.asJava
  }
}

object Tracer {
  /** Milliseconds covered by the union of `intervals`, in seconds. */
  def coveredS(intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var cs = -1L
    var ce = -1L
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    covered / 1000.0
  }
}
