package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval: a client operation (`parent` empty, `name` the
  * operation's key) or a call into a layer made by that operation (`parent`
  * "op"); `op` identifies the operation. Times are epoch milliseconds (the
  * clock the Spark listener events use) so job and stage intervals can be
  * laid over them. */
final case class Span(name: String, op: Int, parent: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Exact plan-structure counts from a walk of an executed plan tree. */
final case class PlanCounts(exchanges: Int = 0, reused: Int = 0, scans: Int = 0,
    inMemory: Int = 0, barriers: Int = 0, scanRows: Long = 0, scanBytes: Long = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges, reused + o.reused,
    scans + o.scans, inMemory + o.inMemory, barriers + o.barriers,
    scanRows + o.scanRows, scanBytes + o.scanBytes)
}

object PlanWalk {
  /** Walks the final (post-AQE) physical plan, subqueries included.
    * A `ReusedExchangeExec` counts as a reuse, never as an exchange, and
    * the subtree it points at is not walked again. */
  def counts(plan: SparkPlan): PlanCounts = plan match {
    case a: AdaptiveSparkPlanExec => counts(a.executedPlan)
    case s: QueryStageExec => counts(s.plan)
    case _: ReusedExchangeExec => PlanCounts(reused = 1)
    case e: Exchange => PlanCounts(exchanges = 1) + below(e)
    case f: FileSourceScanExec =>
      def metric(n: String) = f.metrics.get(n).map(_.value).getOrElse(0L)
      PlanCounts(scans = 1, scanRows = metric("numOutputRows"),
        scanBytes = metric("filesSize")) + below(f)
    case b: BatchScanExec => PlanCounts(scans = 1) + below(b)
    case i: InMemoryTableScanExec => PlanCounts(inMemory = 1) + below(i)
    case r: RDDScanExec => PlanCounts(barriers = 1) + below(r)
    case p => below(p)
  }

  private def below(p: SparkPlan): PlanCounts =
    (p.children ++ p.subqueries).map(counts).foldLeft(PlanCounts())(_ + _)
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long = -1L)
final case class StageRec(id: Int, submitMs: Long, endMs: Long, tasks: Int, runMs: Long,
    cpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class ProgressRec(query: String, batch: Long, rows: Long,
    durations: Map[String, Long], stateRows: Long, stateBytes: Long)

/** In-memory trace of one run: spans around every call into a layer,
  * the Spark jobs and stages (from a SparkListener), streaming progress
  * (from a StreamingQueryListener) and plan counts per executed action.
  * Listeners are attached only while tracing is on, so untraced passes
  * pay nothing but the span bookkeeping. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer[Span]()
  val plans = ArrayBuffer[(Int, PlanCounts)]()
  val phases = ArrayBuffer[(Int, Map[String, Long])]()
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val progress = ArrayBuffer[ProgressRec]()
  @volatile private var lastEventNs = System.nanoTime()
  private var on = false

  def enabled: Boolean = on

  private def now(): Double = System.nanoTime() / 1e6 + Tracer.clockOffsetMs

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += JobRec(e.jobId, e.time); lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time); lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) stages += StageRec(s.stageId, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), s.numTasks, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      lastEventNs = System.nanoTime()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        val ks = d.keySet.toArray(new Array[String](0))
        progress += ProgressRec(Option(p.name).getOrElse(""), p.batchId, p.numInputRows,
          ks.map(k => k -> d.get(k).longValue).toMap,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
        lastEventNs = System.nanoTime()
      }
  }

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Waits (bounded) until the asynchronous listener bus has delivered
    * the end of every job it reported started, and then stays quiet. */
  def drain(deadlineMs: Long = 10000L): Unit = {
    val t0 = System.nanoTime()
    def pending = synchronized(jobs.exists(_.endMs < 0))
    def quiet = System.nanoTime() - lastEventNs > 200L * 1000000L
    while ((pending || !quiet) && (System.nanoTime() - t0) / 1000000L < deadlineMs)
      Thread.sleep(20)
  }

  /** Times `body` as a span of operation `op`; recorded only while tracing. */
  def span[T](name: String, op: Int, parent: String = "op")(body: => T): T = {
    val t0 = now()
    try body
    finally if (on) synchronized(spans += Span(name, op, parent, t0, now()))
  }

  /** Records the planning phases and plan counts of an executed frame. */
  def plan(op: Int, df: DataFrame): Unit = plan(op, df.queryExecution)

  def plan(op: Int, qe: QueryExecution): Unit = if (on && qe != null) {
    val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val pc = PlanWalk.counts(qe.executedPlan)
    synchronized { phases += op -> ph; plans += op -> pc }
  }

  def jobsIn(startMs: Double, endMs: Double): Seq[JobRec] =
    synchronized(jobs.filter(j => j.startMs >= startMs - 1 && j.startMs <= endMs + 1).toSeq)

  def stagesIn(startMs: Double, endMs: Double): Seq[StageRec] =
    synchronized(stages.filter(s => s.submitMs >= startMs - 1 && s.submitMs <= endMs + 1).toSeq)

  def progressOf(query: String): Seq[ProgressRec] =
    synchronized(progress.filter(_.query == query).toSeq)

  /** Spans as JSON lines, written once at the end of the run. */
  def spansJson: Seq[String] = synchronized(spans.map { s =>
    f"""{"name":"${s.name}","op":${s.op},"parent":"${s.parent}",""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.toSeq)
}

object Tracer {
  /** Offset from the monotonic clock to epoch ms, fixed once per JVM. */
  val clockOffsetMs: Double = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Milliseconds of [startMs, endMs] not covered by any stage interval. */
  def uncovered(startMs: Double, endMs: Double, stages: Seq[StageRec]): Double = {
    val iv = stages.map(s => (math.max(startMs, s.submitMs.toDouble), math.min(endMs, s.endMs.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, endMs - startMs - covered)
  }
}
