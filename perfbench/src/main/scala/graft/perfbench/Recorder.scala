package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one measured operation cost, gathered from outside the
  * engine: the benchmark's own timers around each call into a layer,
  * and Spark's listener events tagged with the op's id.
  */
final class OpStats(val id: Int, val kind: String, val name: String,
                    val items: Long, val traced: Boolean) {
  var startNs = 0L
  var endNs = 0L
  var ok = false
  var error = ""
  var gcMs = 0L
  var heldMb = 0.0
  var residentMb = 0.0
  var rows = -1L
  val callNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val callJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var jobs = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One timed interval: a benchmark call into a layer, or a Spark job
  * or stage. Times are nanoseconds on the Spark driver JVM's `nanoTime` clock.
  */
final case class Span(name: String, startNs: Long, endNs: Long, op: Int)

/** Attaches a SparkListener and a QueryExecutionListener to `spark`
  * and attributes what they see to the op running at the time (a
  * local property travels with every job, including jobs a streaming
  * query runs on its own thread). With `tracing` on, every call,
  * job and stage of a traced op is also kept as a [[Span]].
  */
final class Recorder(spark: SparkSession, tracing: Boolean) {
  private val sc = spark.sparkContext
  private val OpKey = "perfbench.op"
  private val CallKey = "perfbench.call"
  // the listener's clock is epoch millis; spans use nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  val ops = mutable.ArrayBuffer.empty[OpStats]
  private val byId = mutable.Map.empty[Int, OpStats]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: OpStats = _

  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobMeta = mutable.Map.empty[Int, (Int, String, Long)]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def opOf(props: java.util.Properties): Option[OpStats] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))
      .flatMap(s => byId.synchronized(byId.get(s.toInt)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      opOf(e.properties).foreach { op =>
        val call = Option(e.properties.getProperty(CallKey)).getOrElse("")
        jobMeta.synchronized(jobMeta(e.jobId) = (op.id, call, e.time))
        stageOp.synchronized(e.stageIds.foreach(stageOp(_) = op.id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobMeta.synchronized(jobMeta.remove(e.jobId)).foreach { case (id, call, t0) =>
        val op = byId.synchronized(byId(id))
        op.synchronized {
          op.jobs += 1
          op.callJobs(call) += 1
          op.jobIntervals += ((t0, e.time))
        }
        if (tracing && op.traced)
          spans.synchronized(spans += Span("spark.job", msToNs(t0), msToNs(e.time), id))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      stageOp.synchronized(stageOp.get(info.stageId)).foreach { id =>
        val op = byId.synchronized(byId(id))
        for (s <- info.submissionTime; c <- info.completionTime)
          if (tracing && op.traced)
            spans.synchronized(spans += Span("spark.stage", msToNs(s), msToNs(c), id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      stageOp.synchronized(stageOp.get(e.stageId)).foreach { id =>
        val op = byId.synchronized(byId(id))
        op.synchronized {
          op.tasks += 1
          if (m != null) {
            op.executorCpuNs += m.executorCpuTime
            op.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            op.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            op.outputBytes += m.outputMetrics.bytesWritten
            op.inputBytes += m.inputMetrics.bytesRead
            op.inputRows += m.inputMetrics.recordsRead
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      try {
        val ps = qe.tracker.phases
        Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING).foreach { p =>
          ps.get(p).foreach(s =>
            phases.synchronized(phases += ((p, s.startTimeMs, s.endTimeMs))))
        }
      } catch { case NonFatal(_) => () }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def storageMb: Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  // inputs the benchmark itself caches during set-up
  private var stagedMb = 0.0

  /** Block storage resident beyond the staged inputs, in MB. */
  def residentMb: Double = storageMb - stagedMb

  /** Run one measured op. A throw marks it failed; it is never timed
    * and never dropped. `after` runs outside the timer, still
    * attributed to the op (seam release, bookkeeping); block storage
    * is read before it (what the op's seams hold) and after it (what
    * a release leaves behind). Garbage collection is not forced: a
    * collection the op's allocation causes lands in its time, as it
    * would in the daemon. In a traced
    * run only ops with `traced` keep spans, so that the untraced rest
    * measure what tracing costs; by default every other op is traced.
    */
  def op(kind: String, name: String, items: Long, traced: Boolean = ops.size % 2 == 0)
        (body: => Unit)(after: => Unit = ()): OpStats = {
    val s = new OpStats(ops.size, kind, name, items, traced && tracing)
    byId.synchronized(byId(s.id) = s)
    ops += s
    current = s
    sc.setLocalProperty(OpKey, s.id.toString)
    val gc0 = gcMs
    s.startNs = System.nanoTime()
    try { body; s.ok = true }
    catch { case NonFatal(e) =>
      s.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      System.err.println(s"[perfbench] op ${s.id} ($name) failed: ${s.error}")
    }
    s.endNs = System.nanoTime()
    s.gcMs = gcMs - gc0
    s.heldMb = residentMb
    try after
    catch { case NonFatal(e) =>
      s.ok = false
      s.error = s"after: ${e.getMessage}".take(500)
    }
    s.residentMb = residentMb
    sc.setLocalProperty(OpKey, null)
    current = null
    s
  }

  /** A benchmark call into one layer: timed, and every Spark job it
    * starts is tagged with the call's name.
    */
  def call[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(CallKey)
    sc.setLocalProperty(CallKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(CallKey, prev)
      val op = current
      if (op != null) {
        op.synchronized(op.callNs(name) += t1 - t0)
        if (op.traced) spans.synchronized(spans += Span(name, t0, t1, op.id))
      }
    }
  }

  /** Wait until every listener event of the run has been delivered,
    * then attribute the planning phases to the op they fell in.
    */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val windows = ops.map(o => (o, (o.startNs - clockOffsetNs) / 1000000L,
      (o.endNs - clockOffsetNs) / 1000000L + 1))
    phases.foreach { case (p, t0, t1) =>
      windows.find { case (_, a, b) => t0 >= a && t0 <= b }
        .foreach { case (o, _, _) => o.phaseMs(p) += t1 - t0 }
    }
  }

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Peak old-generation heap use, MB, since [[startWindow]]. */
  def oldGenPeakMb: Double = oldGen.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Start of the measured window: reset heap peaks, note staged storage. */
  def startWindow(): Unit = {
    stagedMb = storageMb
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}
