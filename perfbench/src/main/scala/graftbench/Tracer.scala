package graftbench

import java.time.Instant
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSucceeded}
import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one traced operation (an entry execution or a micro-batch) cost in
  * each layer. Times are milliseconds unless the name says otherwise.
  */
final class OpCounters {
  var jobs, buildJobs, stages, skippedStages, tasks, tasksOk = 0L
  var runMs, cpuNs, gcMs, schedDelayMs, fetchWaitMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  /** Largest execution memory (sort, aggregation and join buffers) of one task. */
  var peakTaskMemBytes = 0L
  var inputBytes, inputRows, outputBytes, outputRows, filesWritten = 0L
  var queries, analysisMs, optimizerMs, planningMs = 0L
  /** Catalyst time of the queries the run phase (not the build) started. */
  var runPlanMs = 0L
  var batches, addBatchMs, queryPlanningMs, walCommitMs, commitOffsetsMs = 0L
  var latestOffsetMs, stateCommitMs, stateRows, stateMemBytes = 0L
  /** (startMs, endMs, phase, jobId) of every job the operation ran. */
  val jobSpans = mutable.ArrayBuffer[(Long, Long, String, Int)]()
  /** Streaming `durationMs` parts of each micro-batch, in trigger order. */
  val progress = mutable.ArrayBuffer[Seq[(String, Long)]]()
}

/** Attributes Spark's own accounting to the harness's operations.
  *
  * A batch entry's calls run under the job group `graftbench:<op>:<phase>`
  * (phase `build` or `run`), so its jobs, stages and tasks are attributed
  * by group. Streaming micro-batches run on the query's own thread under
  * the query's group; their jobs, query executions and progress reports
  * are attributed by time to the operation whose interval holds them
  * (the loop is closed, so at most one operation is open).
  *
  * The Spark and streaming listeners are attached only for traced passes:
  * they are the tracing overhead. The query-execution listener is
  * registered once, before any stream starts, because a stream runs its
  * micro-batches in a clone of the session that copies the listeners it
  * had at start; outside traced operations its events are ignored.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private val ops = mutable.HashMap[Int, OpCounters]()
  private val open = mutable.ArrayBuffer[(Int, Long, Long)]() // op, startMs, endMs
  private val stageOp = mutable.HashMap[Int, Int]()
  // jobId -> (op, phase, startMs, stageIds, stages submitted for this job)
  private val activeJobs = mutable.HashMap[Int, (Int, String, Long, Seq[Int], mutable.Set[Int])]()
  private val runPhaseStart = mutable.HashMap[Int, Long]()
  private val Group = """graftbench:(\d+):(\w+)""".r

  def counters(op: Int): OpCounters = synchronized(ops.getOrElseUpdate(op, new OpCounters))

  def opStarted(op: Int, atMs: Long): Unit = synchronized {
    ops.getOrElseUpdate(op, new OpCounters)
    open += ((op, atMs, Long.MaxValue))
  }

  def opEnded(op: Int, atMs: Long): Unit = synchronized {
    val i = open.lastIndexWhere(_._1 == op)
    if (i >= 0) open(i) = open(i).copy(_3 = atMs)
  }

  /** Marks the end of an entry's build: later queries are its run phase. */
  def runPhaseStarted(op: Int, atMs: Long): Unit = synchronized(runPhaseStart(op) = atMs)

  def install(): Unit = spark.listenerManager.register(this)

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
  }

  /** Waits for every event already posted, then stops listening. */
  def detach(): Unit = {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  private def byTime(ms: Long): Option[Int] =
    open.reverseIterator.collectFirst { case (op, s, e) if ms >= s && ms <= e => op }

  private def byGroup(props: Properties): Option[(Int, String)] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).collect {
      case Group(op, phase) => (op.toInt, phase)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    byGroup(e.properties).orElse(byTime(e.time).map(_ -> "run")).foreach { case (op, phase) =>
      val c = counters(op)
      c.jobs += 1
      if (phase == "build") c.buildJobs += 1
      activeJobs(e.jobId) = (op, phase, e.time, e.stageIds, mutable.Set[Int]())
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs.remove(e.jobId).foreach { case (op, phase, start, stageIds, ran) =>
      val c = counters(op)
      c.skippedStages += stageIds.count(s => !ran.contains(s))
      c.jobSpans += ((start, e.time, phase, e.jobId))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    activeJobs.values.foreach { case (_, _, _, stageIds, ran) => if (stageIds.contains(id)) ran += id }
    val at = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    byGroup(e.properties).map(_._1).orElse(byTime(at)).foreach { op =>
      stageOp(id) = op
      counters(op).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      c.tasks += 1
      if (e.reason == TaskSucceeded) c.tasksOk += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakTaskMemBytes = math.max(c.peakTaskMemBytes, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs)
    val files = numFiles(qe.executedPlan)
    synchronized {
      at.flatMap(byTime).foreach { op =>
        val c = counters(op)
        c.queries += 1
        c.analysisMs += ms("analysis")
        c.optimizerMs += ms("optimization")
        c.planningMs += ms("planning")
        c.filesWritten += files
        if (runPhaseStart.get(op).exists(at.get >= _))
          c.runPlanMs += ms("analysis") + ms("optimization") + ms("planning")
      }
    }
  }

  private def numFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => numFiles(a.executedPlan)
    case other =>
      other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        other.children.map(numFiles).sum
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized {
        byTime(at).foreach { op =>
          val c = counters(op)
          c.batches += 1
          c.addBatchMs += ms("addBatch")
          c.queryPlanningMs += ms("queryPlanning")
          c.walCommitMs += ms("walCommit")
          c.commitOffsetsMs += ms("commitOffsets")
          c.latestOffsetMs += ms("latestOffset")
          p.stateOperators.headOption.foreach { s =>
            c.stateCommitMs += s.commitTimeMs
            c.stateRows = s.numRowsTotal
            c.stateMemBytes = s.memoryUsedBytes
          }
          c.progress += Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
            "addBatch", "commitOffsets").map(k => k -> ms(k))
        }
      }
    }
  }
}
