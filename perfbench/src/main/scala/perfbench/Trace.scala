package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` is the repo module the call goes into
  * (Tables, sources, forecast, ml, queries) or "pass" for one timed pass;
  * `probe` marks work the traced run adds outside the pass only to force a
  * layer's output at its boundary. A `derived` span is one step of a pass,
  * spanning the first to the last Spark job the step's call site names. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startMs: Long, startNs: Long, var endNs: Long = -1L, probe: Boolean = false,
    derived: Boolean = false) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** One Spark job: the span open on the submitting thread (later the derived
  * step span), its wall in epoch ms and its call site (long form). */
final case class JobRec(id: Int, var span: Int, startMs: Long, var endMs: Long, callSite: String)

/** Per-task numbers the counters keep (times in ms, sizes in bytes). */
final case class TaskRec(durationMs: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long, recordsRead: Long)

/** Spans kept in memory, plus the Spark-side counters attributed to them.
  *
  * Jobs are tied to the innermost open span through a local property set on
  * the calling thread (threads a span starts inherit it, so streaming
  * micro-batches land on their query's span). A pass that is one call into
  * the program (`runOnSales`) is split into steps afterwards, from each
  * job's call site ([[derive]]). Only a traced run creates a Tracer; timed
  * runs attach no listener.
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private val DepthKey = "spark.callstack.depth"
  private var depth0: Option[String] = None

  // Spark listener state — written on the listener-bus thread, read after
  // the bus has drained.
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  /** Each stage belongs to the first job that lists it (later jobs skip it). */
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stageTimes = mutable.HashMap.empty[Int, (Long, Long)]
  val tasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[TaskRec]]
  private val executionCallSite = mutable.HashMap.empty[Long, String]
  val planningMs = mutable.ArrayBuffer.empty[Long]
  var streamBatches = 0L

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(executionCallSite(s.executionId) = s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // A SQL action's call site is taken on the calling thread; jobs it
      // starts from helper threads (broadcasts) carry its execution id.
      val callSite = prop("callSite.long")
        .orElse(prop("spark.sql.execution.id").flatMap(id => executionCallSite.get(id.toLong)))
        .getOrElse(e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse(""))
      jobs(e.jobId) = JobRec(e.jobId, prop(Key).map(_.toInt).getOrElse(-1), e.time, -1L, callSite)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stageTimes(i.stageId) =
        (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(i.submissionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskRec(
        e.taskInfo.duration, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead)
    }
  }
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      streamBatches += 1
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attaches the listeners and lets call sites keep the whole stack (20
    * frames by default, too few to reach the repo's frames from an MLlib
    * optimizer loop). */
  def attach(): Unit = {
    depth0 = Option(System.getProperty(DepthKey))
    System.setProperty(DepthKey, "1000")
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    depth0 match {
      case Some(d) => System.setProperty(DepthKey, d)
      case None => System.clearProperty(DepthKey)
    }
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](layer: String, name: String, probe: Boolean = false)(body: => T): T = {
    val id = spans.size
    spans += Span(id, open.headOption.getOrElse(-1), layer, name,
      System.currentTimeMillis(), System.nanoTime(), probe = probe)
    open = id :: open
    sc.setLocalProperty(Key, id.toString)
    try body
    finally {
      spans(id).endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.toString).orNull)
    }
  }

  /** Splits each pass span into step spans: the pass's own jobs are grouped
    * by `step(callSite)` into one child span per (layer, step), from its
    * first job's start to its last job's end, and the jobs move to it. Jobs
    * `step` cannot name stay on the pass span. */
  def derive(step: String => Option[(String, String)]): Unit = synchronized {
    for (pass <- spans.filter(_.layer == "pass").toList) {
      val own = jobs.values.filter(j => j.span == pass.id && j.endMs >= 0).toSeq
      own.groupBy(j => step(j.callSite)).collect { case (Some(key), js) => key -> js }
        .toSeq.sortBy(_._2.map(_.startMs).min).foreach { case ((layer, name), js) =>
          val start = js.map(_.startMs).min
          val end = js.map(_.endMs).max
          val startNs = pass.startNs + (start - pass.startMs) * 1000000L
          val s = Span(spans.size, pass.id, layer, name, start, startNs,
            startNs + (end - start) * 1000000L, derived = true)
          spans += s
          js.foreach(_.span = s.id)
        }
    }
  }

  /** Span ids under `root`, the root included. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).map(_.id).flatMap(go).toSet + id
    go(root)
  }

  /** Self time: the span's duration minus what its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def stagesOf(ids: Set[Int]): Iterable[Int] =
    synchronized(stageJob.collect { case (stage, job) if ids(jobs(job).span) => stage }.toSeq)

  def tasksOf(ids: Set[Int]): Iterable[TaskRec] =
    synchronized(stagesOf(ids).flatMap(s => tasks.getOrElse(s, Nil)).toSeq)

  def jobsOf(ids: Set[Int]): Seq[JobRec] = synchronized(jobs.values.filter(j => ids(j.span)).toSeq)

  /** Max over median task time in the slowest (longest wall) of the stages. */
  def taskSkew(stages: Iterable[Int]): Double = synchronized {
    val withTasks = stages.filter(s => tasks.get(s).exists(_.nonEmpty))
    if (withTasks.isEmpty) 0.0
    else {
      val slowest = withTasks.maxBy { s => val (a, b) = stageTimes.getOrElse(s, (0L, 0L)); b - a }
      val d = tasks(slowest).map(_.durationMs.toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }
  }

  /** Wall of `span` not covered by any Spark job: planning and other work
    * between jobs. */
  def driverGapSeconds(span: Span): Double = {
    val intervals = jobsOf(subtree(span.id)).filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var cursor = span.startMs
    intervals.foreach { case (s, e) =>
      val from = math.max(s, cursor)
      val to = math.min(e, span.endMs)
      if (to > from) { covered += to - from; cursor = to }
    }
    math.max(0L, span.endMs - span.startMs - covered) / 1000.0
  }

  def toJson: String = Json.arr(spans.map(s => Json.Raw(Json.obj(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds, "probe" -> s.probe,
    "derived" -> s.derived))).toSeq)

  /** Jobs with their span and the innermost frame of the repo in their call
    * site, so a step's attribution can be checked by hand. */
  def jobsJson: String = synchronized(Json.arr(jobs.values.map(j => Json.Raw(Json.obj(
    "job" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
    "frame" -> CallSites.graftFrame(j.callSite).map(_.frame).getOrElse("")))).toSeq))
}

/** Reads the repo's frames out of a Spark call site (the long form: one
  * `StackTraceElement` per line, innermost first). */
object CallSites {

  /** A frame in the repo's `graft` package and the source line it points at. */
  final case class Frame(frame: String, className: String, statement: String)

  private val GraftFrame = """(?<![\w.$])(graft\.[\w.$]+)\.[\w$]+\(([\w]+\.scala):(\d+)\)""".r
  private val sources = mutable.HashMap.empty[String, IndexedSeq[String]]

  /** The innermost frame of the repo's code, with the text of its source
    * line, read from `src/main/scala` of the checkout. */
  def graftFrame(callSite: String): Option[Frame] =
    GraftFrame.findFirstMatchIn(callSite).map { m =>
      val pkg = m.group(1).split('.').init.toSeq
      val path = Paths.get("src/main/scala", (pkg :+ m.group(2)): _*)
      val lines = sources.synchronized(sources.getOrElseUpdate(path.toString,
        if (Files.exists(path)) Files.readAllLines(path).asScala.toIndexedSeq else IndexedSeq.empty))
      Frame(m.matched, m.group(1), lines.lift(m.group(3).toInt - 1).fold("")(_.trim))
    }
}
