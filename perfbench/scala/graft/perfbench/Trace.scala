package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall-clock seconds since the epoch at nanosecond resolution, so JVM
  * spans, Spark listener times and the pipe scripts' `$EPOCHREALTIME`
  * share one time base. */
object Clock {
  private val baseEpoch = java.time.Instant.now()
  private val baseNano = System.nanoTime()
  private val base = baseEpoch.getEpochSecond + baseEpoch.getNano / 1e9
  def now(): Double = base + (System.nanoTime() - baseNano) / 1e9
}

/** Minimal JSON rendering for the result file: maps, sequences,
  * strings, numbers, booleans and null. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Spans recorded by benchmark code around each public call. When
  * disabled, `span` only runs its body: the untraced runs carry no
  * labels, no listeners and no span records. Enabled, each span also
  * labels the Spark jobs its body starts (job group = op id, job
  * description = span id), which threads started inside the body
  * inherit, so the listener can attribute every job to a span. */
final class Tracer(val enabled: Boolean, sc: () => SparkContext) {
  import Tracer._
  final case class Span(id: Int, name: String, parent: Int, op: String,
      start: Double, end: Double)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[(Int, String)] {
    override def initialValue(): (Int, String) = (0, "")
  }

  /** Run `body` as a root span of op `op`, or as a child of `parent`. */
  def span[T](name: String, op: String = null, parent: (Int, String) = null)(body: => T): T = {
    if (!enabled) return body
    val outer = current.get()
    val (pid, pop) = Option(parent).getOrElse(outer)
    val theOp = Option(op).getOrElse(pop)
    val id = ids.incrementAndGet()
    // no context yet while a set-up span creates the session
    val ctx = Option(sc())
    val old = ctx.map(c => Labels.map(c.getLocalProperty))
    // the stream thread pins its call site to the query's start(); clear
    // it so jobs report the stack of the call that started them
    ctx.foreach(c => Labels.zip(Seq(theOp, s"span=$id $name", null, null))
      .foreach { case (k, v) => c.setLocalProperty(k, v) })
    current.set((id, theOp))
    val start = Clock.now()
    try body
    finally {
      spans.add(Span(id, name, pid, theOp, start, Clock.now()))
      current.set(outer)
      for (c <- ctx; vs <- old) Labels.zip(vs).foreach { case (k, v) => c.setLocalProperty(k, v) }
    }
  }

  def records: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start" -> s.start, "end" -> s.end))
}

object Tracer {
  /** Spark's job-group, job-description and call-site local properties. */
  val JobGroup = "spark.jobGroup.id"
  val JobDesc = "spark.job.description"
  val Labels = Seq(JobGroup, JobDesc, "callSite.short", "callSite.long")
}

/** Counts at the same boundaries as the spans: one record per Spark
  * job (with its labels and the repo module it came from) and per
  * completed stage, and one per streaming progress report. Kept in
  * memory and written once at the end. */
final class Recorder extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val sqlModules = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Innermost frame of this repository's code in a Spark call-site
    * string, as `<package>.<Class>` (e.g. `ops.Dedup`); benchmark frames
    * are skipped. */
  private val Frame = """graft\.((?:[a-z]\w*\.)*[A-Z][A-Za-z0-9_]*)""".r
  def moduleOf(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.split('\n'))
      .flatMap(l => Frame.findFirstMatchIn(l.trim).map(_.group(1)))
      .find(!_.startsWith("perfbench"))
      .getOrElse("")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      sqlModules.put(x.executionId, moduleOf(x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.map(_.getProperty(k)).orNull
    val exec = Option(prop("spark.sql.execution.id")).map(_.toLong)
    e.stageIds.foreach(id => stageJob.put(id, e.jobId))
    val lastStage = if (e.stageInfos.isEmpty) null else e.stageInfos.maxBy(_.stageId).details
    val module = exec.flatMap(x => Option(sqlModules.get(x))).filter(_.nonEmpty)
      .getOrElse(moduleOf(lastStage))
    jobs.put(e.jobId, Map("id" -> e.jobId, "start" -> e.time / 1000.0,
      "group" -> prop(Tracer.JobGroup),
      "desc" -> prop(Tracer.JobDesc),
      "module" -> module))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time / 1000.0)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Map("id" -> i.stageId, "job" -> stageJob.getOrDefault(i.stageId, -1),
      "tasks" -> i.numTasks,
      "start" -> i.submissionTime.map(_ / 1000.0).getOrElse(0.0),
      "end" -> i.completionTime.map(_ / 1000.0).getOrElse(0.0),
      "run_s" -> (if (m == null) 0.0 else m.executorRunTime / 1000.0),
      "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1000.0),
      "input_b" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "output_b" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
      "shuffle_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_b" -> (if (m == null) 0L else m.diskBytesSpilled)))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }.toMap
        progress.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_s" -> d.getOrElse("triggerExecution", 0.0),
          "add_batch_s" -> d.getOrElse("addBatch", 0.0)))
      }
    }
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.asScala.toSeq.sortBy(_._1).map {
    case (id, j) => j + ("end" -> jobEnds.getOrDefault(id, 0.0))
  }
  def stageRecords: Seq[Map[String, Any]] = stages.asScala.toSeq
  def progressRecords: Seq[Map[String, Any]] = progress.asScala.toSeq
}
