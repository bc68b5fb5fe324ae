package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, MergingSessionsExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracing for the traced run: spans the benchmark opens around
  * each call into a layer, and the engine's own accounting, taken from a
  * `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener` that [[install]] registers once per session.
  *
  * With tracing off, [[span]] only runs its body: the untraced run carries
  * no listener and records nothing.
  */
object Trace {

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  /** Local property that tags Spark jobs with the span that ran them. */
  private val SpanProp = "perfbench.span"

  @volatile private var on = false
  private var session: SparkSession = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil

  def enabled: Boolean = on

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val sc = session.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProp, prevProp)
        stack = stack.tail
        synchronized(spans += Span(id, name, parent, t0, t1))
      }
    }

  def spanList: Seq[Span] = synchronized(spans.toList)

  // ------------------------------------------------------------ counters

  /** Engine counters over the traced window (listener-bus thread writes). */
  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead, spill = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    val stageWallMs = mutable.HashMap.empty[Int, Long]
    val jobsBySpan = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    val sessionOps = mutable.ArrayBuffer.empty[SessionAgg]
    val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  }

  /** Session-aggregate plan metrics of one executed query. */
  final case class SessionAgg(partialIn: Long, partialOut: Long, aggTimeMs: Long,
      peakMemory: Long, sessions: Long)

  @volatile private var c = new Counters

  def counters: Counters = c

  private val jobStart = mutable.HashMap.empty[Int, (Long, Int)]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
      c.jobs += 1
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).fold(0)(_.toInt)
      c.jobsBySpan(parent) += 1
      jobStart(e.jobId) = (System.nanoTime(), parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t1 = System.nanoTime()
      c.synchronized(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        val id = Trace.synchronized { nextId += 1; nextId }
        Trace.synchronized(spans += Span(id, "spark.job", parent, t0, t1))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
      c.stages += 1
      val i = e.stageInfo
      for (s <- i.submissionTime; f <- i.completionTime) c.stageWallMs(i.stageId) = f - s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
      c.tasks += 1
      val info = e.taskInfo
      c.taskIntervals += ((info.launchTime, info.finishTime))
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).fold(0L)(_.durationMs)
      val agg = sessionAgg(qe.executedPlan)
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        agg.foreach(c.sessionOps += _)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      c.synchronized(c.progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the three listeners on `spark` unless they already are
    * (check before registering, so a second call adds nothing), clear the
    * counters and start recording spans.
    */
  def install(spark: SparkSession): Unit = {
    if (session ne spark) {
      if (session != null) uninstall()
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
      session = spark
    }
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    c = new Counters
    synchronized { spans.clear(); stack = Nil }
    on = true
  }

  /** Stop recording; waits until every listener event has arrived. */
  def stop(): Unit = if (session != null) {
    org.apache.spark.perfbench.Bus.drain(session.sparkContext)
    on = false
  }

  /** Record spans of `body` after [[stop]], without touching the counters. */
  def resumed[T](body: => T): T = {
    on = session != null
    try body finally stop()
  }

  def uninstall(): Unit = if (session != null) {
    stop()
    session.sparkContext.removeSparkListener(sparkListener)
    session.listenerManager.unregister(queryListener)
    session.streams.removeListener(streamListener)
    session = null
  }

  // ---------------------------------------------------- plan inspection

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).fold(0L)(_.value)

  /** The session-window aggregate of a plan, if it has one: rows into and
    * out of the map-side partial aggregate, its time and memory, and the
    * number of merged sessions.
    */
  private def sessionAgg(plan: SparkPlan): Option[SessionAgg] = {
    val all = nodes(plan)
    val merging = all.collect { case m: MergingSessionsExec => m }
    if (merging.isEmpty) None
    else {
      val partial = all.collect {
        case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Partial) => h
      }
      val in = partial.map { h =>
        nodes(h.child).find(_.metrics.contains("numOutputRows")).fold(0L)(metric(_, "numOutputRows"))
      }.sum
      Some(SessionAgg(
        partialIn = in,
        partialOut = partial.map(metric(_, "numOutputRows")).sum,
        aggTimeMs = partial.map(metric(_, "aggTime")).sum,
        peakMemory = partial.map(metric(_, "peakMemory")).sum,
        sessions = merging.map(metric(_, "numOutputRows")).sum))
    }
  }

  // ------------------------------------------------------------ summaries

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Wall time in [w0, w1] (epoch ms) during which no task ran. */
  def driverOnlyMs(w0: Long, w1: Long): Long = c.synchronized {
    var covered = 0L
    var cur = w0
    for ((s, f) <- c.taskIntervals.sortBy(_._1)) {
      val a = math.max(s, cur)
      val b = math.min(f, w1)
      if (b > a) { covered += b - a; cur = b }
    }
    (w1 - w0) - covered
  }

  /** Max ÷ median task time in the stage that ran longest. */
  def taskSkew: Double = c.synchronized {
    if (c.stageWallMs.isEmpty) 0.0
    else {
      val longest = c.stageWallMs.maxBy(_._2)._1
      val ts = c.stageTaskMs.getOrElse(longest, mutable.ArrayBuffer.empty[Long]).map(_.toDouble).toSeq
      val m = median(ts)
      if (m > 0) ts.max / m else 0.0
    }
  }

  /** Durations (ms) of one progress phase over all triggers. */
  def phaseMs(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      phase: String): Seq[Double] =
    progress.flatMap(p => Option(p.durationMs.get(phase)).map(_.toDouble))
}
