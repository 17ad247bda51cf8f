package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a pass. Spans of one pass share `pass`;
  * `parent` is the index of the enclosing span (−1 for the root).
  */
final case class Span(name: String, pass: Int, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store, written out when the run ends. */
final class Spans {
  val buf = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]

  def apply[A](name: String, pass: Int)(body: => A): A = {
    val parent = open.headOption.getOrElse(-1)
    val id = buf.size
    buf += Span(name, pass, parent, System.nanoTime(), 0L)
    open.push(id)
    try body finally {
      open.pop()
      buf(id) = buf(id).copy(endNs = System.nanoTime())
    }
  }

  /** A span known only by its interval; returns its index. */
  def add(name: String, pass: Int, parent: Int, startNs: Long, endNs: Long): Int = {
    buf += Span(name, pass, parent, startNs, endNs)
    buf.size - 1
  }

  /** Index of the innermost open span. */
  def current: Int = open.headOption.getOrElse(-1)

  /** Self time of every span: its duration minus its children's. */
  def selfNs: IndexedSeq[Long] = {
    val self = buf.map(_.durNs).toArray
    buf.foreach(s => if (s.parent >= 0) self(s.parent) -= s.durNs)
    self.toIndexedSeq
  }

  def toJsonLines: Iterator[String] = buf.iterator.zipWithIndex.map { case (s, i) =>
    s"""{"id":$i,"name":"${s.name}","pass":${s.pass},"parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** Engine counters for one pass, summed from task and stage events. */
final class EngineCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleBytes, spillBytes, resultBytes = 0L
  /** Task durations per stage, for the skew ratio. */
  val taskMs = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
  /** (start, end) epoch ms of every job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.LongMap.empty[Long]

  /** max ÷ median task time in the stage with the most task time. */
  def skew: Double = {
    if (taskMs.isEmpty) 0.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      if (ts.isEmpty || ts(ts.size / 2) == 0) 1.0 else ts.last.toDouble / ts(ts.size / 2)
    }
  }

  private[perfbench] def jobStarted(id: Long, t: Long): Unit = { jobs += 1; jobStart(id) = t }
  private[perfbench] def jobEnded(id: Long, t: Long): Unit =
    jobStart.remove(id).foreach(s => jobSpans += ((s, t)))
}

/** Public-listener probe: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for the executed plans, and a
  * StreamingQueryListener for micro-batch progress. Counters are read
  * only after `fence()`: it runs a marker job and waits until the
  * listener has seen that job end. Listener events are delivered in
  * order on one queue, so by then every earlier job has been counted.
  */
final class Probe(spark: SparkSession) {
  private val FenceKey = "perfbench.fence"
  @volatile private var counters = new EngineCounters
  private val fenceSeen = new AtomicLong(-1)
  private val fenceStages = mutable.Set.empty[Int]
  private val fenceJobs = mutable.Set.empty[Int]
  private val plans = new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val fid = Option(e.properties).flatMap(p => Option(p.getProperty(FenceKey)))
      if (fid.isDefined) { fenceJobs += e.jobId; e.stageIds.foreach(fenceStages += _) }
      else counters.jobStarted(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (fenceJobs.remove(e.jobId)) fenceSeen.incrementAndGet()
      else counters.jobEnded(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!fenceStages.contains(e.stageInfo.stageId)) counters.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!fenceStages.contains(e.stageId) && e.taskMetrics != null) {
        val c = counters
        val m = e.taskMetrics
        val info = e.taskInfo
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
        // the scheduler delay as the Spark UI derives it
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        c.taskMs.getOrElseUpdate(e.stageId.toLong, mutable.ArrayBuffer.empty) += info.duration
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.synchronized(plans.put(qe, true))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every job started before this call has been counted,
    * then hands over the counters and starts a fresh set.
    */
  def fence(): EngineCounters = {
    val want = fenceSeen.get() + 1
    val sc = spark.sparkContext
    sc.setLocalProperty(FenceKey, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (fenceSeen.get() < want) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("listener fence timed out")
      Thread.sleep(1)
    }
    val c = counters
    counters = new EngineCounters
    c
  }

  /** Whether the listener saw `qe` finish (read after `fence()`). */
  def sawPlan(qe: QueryExecution): Boolean = plans.synchronized(plans.remove(qe) != null)
}

/** SQLMetrics of an executed plan, through adaptive query stages. */
object PlanMetrics {
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other => Iterator(other) ++ other.children.iterator.flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
}
