package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. `kind` is `construct` (building a DataFrame,
  * including its eager jobs), `execute` (running Spark work the caller
  * waits on) or `other`. Times are epoch seconds. */
final case class Span(id: Int, parent: Int, request: Int, op: Int, name: String,
                      kind: String, label: String, start: Double, var end: Double = Double.NaN,
                      var retainedBytes: Long = 0L)

/** Spans recorded in memory, plus a SparkListener and a
  * QueryExecutionListener that attribute jobs, stages, task metrics and
  * planning time to the span active (by local property) when a job
  * started. Disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile var enabled = false
  /** Index of the operation (pass or session) the next spans belong to. */
  var op = 0
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 1

  // listener state, written on the listener-bus thread
  private val jobSpan = mutable.HashMap[Int, Int]()
  private val jobExec = mutable.HashMap[Int, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val execPlanMs = mutable.HashMap[Long, Long]()
  private val execFallbackSpan = mutable.HashMap[Long, Int]()
  @volatile private var currentRequest = 0
  private var unattributedJobs = 0

  def span[T](name: String, kind: String = "other", label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, parent.map(_.id).getOrElse(0), parent.map(_.request).getOrElse(nextId),
        op, name, kind, label, Clock.now())
      nextId += 1
      spans += s
      stack = s :: stack
      if (parent.isEmpty) currentRequest = s.id
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = Clock.now()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Block-manager bytes still held now, charged to the innermost open span. */
  def noteRetained(bytes: Long): Unit = stack.headOption.foreach(_.retainedBytes += bytes)

  private var installed = false

  /** Register the listeners on `spark`'s context and query executions. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    installed = true
  }

  /** Deliver every queued listener event. Called after every operation
    * of a traced run, so no event is seen under the next one's flag. */
  def drain(): Unit = if (installed) org.apache.spark.BusDrain(sc)

  private val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
      span match {
        case Some(Calibration) => ()
        case Some(id) => jobSpan(e.jobId) = id.toInt
        case None => if (enabled) unattributedJobs += 1
      }
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).foreach(x => jobExec(e.jobId) = x)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val r = stages.getOrElseUpdate(i.stageId, new StageRec)
      r.tasks = i.numTasks
      r.start = i.submissionTime.getOrElse(0L) / 1e3
      r.end = i.completionTime.getOrElse(0L) / 1e3
      r.done = true
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val r = stages.getOrElseUpdate(e.stageId, new StageRec)
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val ms = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      execPlanMs(qe.id) = execPlanMs.getOrElse(qe.id, 0L) + ms
      if (enabled && currentRequest != 0) execFallbackSpan.getOrElseUpdate(qe.id, currentRequest)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Spans with the Spark work attributed to them, one JSON object per
    * line; the last line counts the jobs no span claimed. */
  def writeSpans(path: String): Unit = {
    // drained before taking the lock the listener callbacks need
    drain()
    synchronized(writeAttributed(path))
  }

  private def writeAttributed(path: String): Unit = {
    val bySpan = mutable.HashMap[Int, SparkAttr]()
    def attr(id: Int) = bySpan.getOrElseUpdate(id, new SparkAttr)
    jobSpan.foreach { case (job, id) => attr(id).jobs += 1 }
    stages.foreach { case (stageId, r) =>
      for (job <- stageJob.get(stageId); id <- jobSpan.get(job) if r.done) {
        val a = attr(id)
        a.stages += 1
        a.tasks += r.tasks
        if (r.tasks <= 1) a.singleTaskStages += 1
        a.cpuNs += r.cpuNs; a.gcMs += r.gcMs
        a.shuffleWrite += r.shuffleWrite; a.spill += r.spill; a.output += r.output
        a.intervals += ((r.start, r.end))
      }
    }
    val execSpan = jobExec.flatMap { case (job, x) => jobSpan.get(job).map(x -> _) }
    execPlanMs.foreach { case (x, ms) =>
      execSpan.get(x).orElse(execFallbackSpan.get(x)).foreach(id => attr(id).planMs += ms)
    }
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        val a = bySpan.getOrElse(s.id, new SparkAttr)
        out.println(Json.obj(
          "id" -> s.id, "parent" -> s.parent, "request" -> s.request, "op" -> s.op, "name" -> s.name,
          "kind" -> s.kind, "label" -> s.label, "start" -> s.start, "end" -> s.end,
          "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
          "single_task_stages" -> a.singleTaskStages, "cpu_s" -> a.cpuNs / 1e9,
          "gc_s" -> a.gcMs / 1e3, "shuffle_write_bytes" -> a.shuffleWrite,
          "spill_bytes" -> a.spill, "output_bytes" -> a.output, "plan_s" -> a.planMs / 1e3,
          "retained_bytes" -> s.retainedBytes,
          "stage_intervals" -> a.intervals.map { case (b, e) => Seq(b, e) }.toSeq))
      }
      out.println(Json.obj("unattributed_jobs" -> unattributedJobs))
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Local-property value for the calibration probe: neither a span nor unattributed. */
  val Calibration = "calibration"

  private final class StageRec {
    var tasks = 0; var start = 0.0; var end = 0.0; var done = false
    var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L; var output = 0L
  }
  private final class SparkAttr {
    var jobs = 0; var stages = 0; var tasks = 0; var singleTaskStages = 0
    var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L; var output = 0L
    var planMs = 0L
    val intervals = mutable.ArrayBuffer[(Double, Double)]()
  }
}
