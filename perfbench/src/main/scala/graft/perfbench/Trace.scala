package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine: an API call or a query run. */
final class Op(val id: Int, val pass: Int, val kind: String,
    val family: String, val cls: String) {
  var startMs = 0L
  var endMs = 0L
  var wallNs = 0L
  var buildNs = 0L
  var planNs = 0L
  var execNs = 0L
  var error: Option[String] = None
  def ms: Double = wallNs / 1e6
  def fail(why: String): Unit = if (error.isEmpty) error = Some(why)
}

/** A span at a layer boundary, recorded from the benchmark's side of
  * the call. Spans of one op share its id; `parent` is the span that
  * caused this one (-1 for a root).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startNs: Long, endNs: Long)

/** Spans kept in memory while tracing is on. When it is off, [[span]]
  * only runs its body.
  */
final class Spans {
  @volatile var on = false
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var next = 0

  def span[T](name: String, layer: String, op: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { next += 1; next }
      val parent = synchronized(stack.headOption.getOrElse(-1))
      synchronized(stack.push(id))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack.pop()
          buf += Span(id, parent, op, name, layer, t0, t1)
        }
      }
    }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Self time per layer: each span's duration minus the part of it
    * that its child spans cover, summed by layer, in seconds.
    */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))
        .sum / 1e9 }
  }
}

/** Task, stage and job counters of one Spark job. */
final class JobAgg(val jobId: Int, val group: String, val submitMs: Long) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var waitMs = 0L
}

/** Per-trigger progress of one streaming query. */
final class StreamAgg(val runId: String, val op: Int) {
  var triggers = 0
  var triggerMs = 0L
  var inputRows = 0L
  var stateRows = 0L
  var stateBytes = 0L
}

/** The engine's own instruments, read from outside: a SparkListener
  * for jobs, stages and tasks, a QueryExecutionListener for the
  * Catalyst phases of executed plans, and a StreamingQueryListener for
  * trigger progress. Registered only in traced runs, and not while
  * their untraced baseline passes run.
  */
final class Listeners(spark: SparkSession) {
  /** The op the client thread is running; read when a stream starts. */
  @volatile var currentOp = -1

  val jobs = mutable.LinkedHashMap.empty[Int, JobAgg]
  private val stageJob = mutable.HashMap.empty[Int, JobAgg]
  private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]
  val streams = mutable.LinkedHashMap.empty[String, StreamAgg]
  /** Catalyst phase milliseconds of plans executed by actions. */
  val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new JobAgg(e.jobId, group, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val si = e.stageInfo
        stageSubmitMs((si.stageId, si.attemptNumber())) =
          si.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val submit = stageSubmitMs.getOrElse((e.stageId, e.stageAttemptId),
          e.taskInfo.launchTime)
        j.waitMs += math.max(0L, e.taskInfo.launchTime - submit)
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = addPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPhases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    // delivered synchronously on the thread that starts the query, so
    // `currentOp` is the op whose query function started it
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Listeners.this.synchronized {
        streams(e.runId.toString) = new StreamAgg(e.runId.toString, currentOp)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized {
        val p = e.progress
        streams.get(p.runId.toString).foreach { s =>
          s.triggers += 1
          s.triggerMs += Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L)
          s.inputRows += p.numInputRows
          s.stateRows = p.stateOperators.map(_.numRowsTotal).sum
          s.stateBytes = math.max(s.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private var frozen: Option[Map[String, Long]] = None

  /** Stops counting Catalyst phases from actions, so work after the
    * timed region does not land in them.
    */
  def freezePhases(): Unit = synchronized { frozen = Some(phaseMs.toMap) }
  def phases: Map[String, Long] = synchronized(frozen.getOrElse(phaseMs.toMap))

  /** Adds a plan's Catalyst phase times, read from its own tracker. */
  def addPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
  }
}

object Listeners {
  /** The job group the benchmark sets before each phase of an op. */
  def group(op: Int, phase: String): String = s"perfbench:$op:$phase"

  /** (op, phase) of a job group set by [[group]]. */
  def parse(group: String): Option[(Int, String)] =
    group.split(':') match {
      case Array("perfbench", op, phase) => op.toIntOption.map(_ -> phase)
      case _ => None
    }
}
