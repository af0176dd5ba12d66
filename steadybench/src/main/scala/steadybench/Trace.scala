package steadybench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run learns about one op. Times are epoch ms. */
final class OpTrace(val op: Int) {
  var startMs = 0L
  var endMs = 0L
  /** (start, end, stage ids) of each job. */
  val jobStages = mutable.ArrayBuffer[(Long, Long, Seq[Int])]()
  def jobs: Seq[(Long, Long)] = jobStages.toSeq.map(j => (j._1, j._2))
  var nJobs, nStages, nTasks, failedTasks = 0L
  var taskCpuNs, taskRunMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output, recordsWritten = 0L
  val stageCpuNs = mutable.Map[Int, Long]()
  val stageRunMs = mutable.Map[Int, Long]().withDefaultValue(0L)
  val sketchStages = mutable.Set[Int]()
  /** (phase, start, end) of each Catalyst phase of each SQL execution. */
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  /** (action name, start of its first Catalyst phase) of each SQL execution. */
  val execs = mutable.ArrayBuffer[(String, Long)]()
  /** The benchmark's own spans around calls into the program. */
  val spans = mutable.Map[String, Double]().withDefaultValue(0.0)
  val calls = mutable.ArrayBuffer[(String, Long, Long)]()
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  // streaming
  val queryStarted = mutable.Map[UUID, Long]()
  val firstBatchStart = mutable.Map[UUID, Long]()
  val lastStateRows = mutable.Map[UUID, Long]()
  var lastBatchEnd = 0L
  var batches = 0L
  val streamMs = mutable.Map[String, Double]().withDefaultValue(0.0)
}

/** Listener-based tracing. Jobs, stages and tasks are attributed to ops
  * by the local property `bench.op`, which pool and stream threads
  * inherit from the thread that starts them. SQL executions are
  * attributed by a job tag, because their start event carries the job
  * tags but no other local property. Stream queries are attributed by
  * the property as seen by the thread that posts their start event.
  *
  * The stream listener is installed in untraced runs too: it collects
  * the scratch roots the program's stream checkpoints live under, so
  * that they can be removed after the JVM exits.
  */
final class Trace(spark: SparkSession, val enabled: Boolean,
    onScratchRoot: String => Unit) {
  import Trace._

  private val sc = spark.sparkContext
  private val ops = mutable.Map[Int, OpTrace]()
  private val jobOp = mutable.Map[Int, Int]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val jobStageIds = mutable.Map[Int, Seq[Int]]()
  private val stageOp = mutable.Map[Int, Int]()
  private val execOp = mutable.Map[Long, Int]()
  private val queryOp = mutable.Map[UUID, Int]()
  private val roots = mutable.Set[String]()
  /** SQL executions during an op that no tag named (nested executions
    * share their parent's id). They are counted to the op in progress,
    * which the drain at the end of each op makes exact.
    */
  var untaggedExecs = 0L
  @volatile private var current: OpTrace = new OpTrace(-1)

  private def opOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(OpProp))).map(_.toInt)
  private def rec(op: Int): OpTrace = ops.getOrElseUpdate(op, new OpTrace(op))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      opOf(e.properties).foreach { op =>
        jobOp(e.jobId) = op
        jobStartMs(e.jobId) = e.time
        jobStageIds(e.jobId) = e.stageIds
        e.stageInfos.foreach(s => stageOp(s.stageId) = op)
        rec(op).nJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobOp.get(e.jobId).foreach { op =>
        rec(op).jobStages += ((jobStartMs(e.jobId), e.time, jobStageIds(e.jobId)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val s = e.stageInfo
        stageOp.get(s.stageId).foreach { op =>
          val r = rec(op)
          r.nStages += 1
          // the stages that scan the input into the persisted frame of
          // MinHash sketches are the ones that compute the sketches
          if (s.rddInfos.exists(_.name == "FileScanRDD") && s.rddInfos.exists(ri =>
              ri.storageLevel.isValid && ri.name.contains("minhash32(")))
            r.sketchStages += s.stageId
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val r = rec(op)
        r.nTasks += 1
        if (e.reason != org.apache.spark.Success) r.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          r.taskCpuNs += m.executorCpuTime
          r.stageCpuNs(e.stageId) = r.stageCpuNs.getOrElse(e.stageId, 0L) + m.executorCpuTime
          r.taskRunMs += m.executorRunTime
          r.stageRunMs(e.stageId) += m.executorRunTime
          r.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (e.taskInfo.gettingResult) e.taskInfo.gettingResultTime else 0L))
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.spill += m.diskBytesSpilled
          r.input += m.inputMetrics.bytesRead
          r.output += m.outputMetrics.bytesWritten
          r.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        s.jobTags.collectFirst { case t if t.startsWith(TagPrefix) =>
          t.stripPrefix(TagPrefix).toInt }.foreach(op => execOp(s.executionId) = op)
      }
      case _ =>
    }
  }

  /** SQL executions seen by the execution listener, attributed once the
    * op ends: their start events travel on another listener queue, so the
    * tag that names their op may arrive after them.
    */
  private val pendingExecs =
    mutable.ArrayBuffer[(Long, Int, String, Seq[(String, Long, Long)], Long)]()

  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.collect {
        case (name, p) if CatalystPhases(name) => (name, p.startTimeMs, p.endTimeMs)
      }
      Trace.this.synchronized {
        pendingExecs += ((qe.id, current.op, funcName, phases, System.currentTimeMillis()))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)
  }

  private def attributeExecs(): Unit = synchronized {
    pendingExecs.foreach { case (id, fallback, funcName, phases, at) =>
      val op = execOp.getOrElse(id, { if (fallback >= 0) untaggedExecs += 1; fallback })
      val r = rec(op)
      r.phases ++= phases
      r.execs += ((funcName, phases.map(_._2).minOption.getOrElse(at)))
    }
    pendingExecs.clear()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      // posted synchronously on the stream's own thread, which inherited
      // the starting thread's local properties
      val op = Option(sc.getLocalProperty(OpProp)).map(_.toInt)
      val root = spark.streams.get(e.id) match {
        case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
          Option(new org.apache.hadoop.fs.Path(w.streamingQuery.resolvedCheckpointRoot)
            .getParent).map(_.toUri.getPath)
        case _ => None
      }
      Trace.this.synchronized {
        root.filter(roots.add).foreach(onScratchRoot)
        if (enabled) op.foreach { o =>
          queryOp(e.id) = o
          rec(o).queryStarted(e.id) = System.currentTimeMillis()
        }
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Trace.this.synchronized {
        val p = e.progress
        queryOp.get(p.id).foreach { op =>
          val r = rec(op)
          r.batches += 1
          val d = p.durationMs
          def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          StreamPhases.foreach(k => r.streamMs(k) += ms(k))
          r.streamMs("stateCommit") += p.stateOperators.map(_.commitTimeMs).sum
          r.lastStateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          r.firstBatchStart(p.id) = math.min(r.firstBatchStart.getOrElse(p.id, start), start)
          r.lastBatchEnd = math.max(r.lastBatchEnd, start + ms("triggerExecution"))
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def scratchRoots: Set[String] = synchronized(roots.toSet)

  /** Marks the calling thread (and threads it starts) as running op `i`. */
  def begin(i: Int): Unit = {
    sc.setLocalProperty(OpProp, i.toString)
    sc.addJobTag(TagPrefix + i)
    if (enabled) synchronized {
      current = rec(i)
      current.startMs = System.currentTimeMillis()
    }
  }

  /** Ends op `i`; in a traced run, waits until its events are counted. */
  def end(i: Int): Unit = {
    if (enabled) synchronized { rec(i).endMs = System.currentTimeMillis() }
    sc.removeJobTag(TagPrefix + i)
    sc.setLocalProperty(OpProp, null)
    if (enabled) {
      BenchBus.drain(sc)
      attributeExecs()
      // events from here until the next op (the output check) belong to no op
      synchronized { current = rec(-1) }
    }
  }

  /** Times `body` as part of the current op's layer `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = System.nanoTime
      val ms = System.currentTimeMillis()
      try body finally {
        val r = current
        synchronized {
          r.spans(name) += (System.nanoTime - s) / 1e9
          r.calls += ((name, ms, System.currentTimeMillis()))
        }
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) synchronized { current.counts(name) += v }

  def op(i: Int): OpTrace = synchronized(rec(i))
}

object Trace {
  val OpProp = "bench.op"
  val TagPrefix = "bench-op-"
  val CatalystPhases = Set("analysis", "optimization", "planning")
  val StreamPhases =
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
