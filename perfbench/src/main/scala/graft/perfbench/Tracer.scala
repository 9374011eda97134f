package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: `parent` is the span that was open when this one started
  * (0 for a root). Times are epoch microseconds on one clock. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Double] = Map.empty)

/** Records spans around the benchmark's calls into graft's layers and
  * listens on Spark's listener buses for the jobs, stages, tasks, query
  * executions and streaming progress those calls cause. Spans stay in
  * memory; [[spans]] hands them out when the run ends.
  *
  * Attribution: every span the benchmark opens is published as a Spark
  * local property, so a job carries the id of the span that was open on
  * the thread that submitted it (threads a call spawns inherit it). While
  * [[enabled]] is false the listeners drop every event, which is how the
  * traced run measures its own overhead on the same operations. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val epoch0Us = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000

  @volatile var enabled = false
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val Prop = "graft.perfbench.span"

  def spans: Seq[Span] = done.synchronized(done.toList)
  private def add(s: Span): Unit = done.synchronized(done += s)

  /** Run `f` inside a span named `name` (a no-op wrapper while disabled). */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(Prop)
      open.set(id :: stack)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = nowUs
      try f
      finally {
        add(Span(id, parent, name, t0, nowUs))
        open.set(stack)
        sc.setLocalProperty(Prop, prevProp)
      }
    }

  /** Same as [[span]], for a call made on a pool thread whose inherited
    * local properties are unknown: the parent is passed explicitly. */
  def spanUnder[T](parent: Long, name: String)(f: => T): T = {
    open.set(if (parent == 0L) Nil else List(parent))
    sc.setLocalProperty(Prop, if (parent == 0L) null else parent.toString)
    span(name)(f)
  }

  def currentSpan: Long = open.get().headOption.getOrElse(0L)

  /** Wait until every listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(sc)

  // ---------------------------------------------------------- Spark core
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)] // job -> (span id, parent)
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  /** Per-task record: (op, stage, [wait ms, run ms, cpu ms, gc ms, shuffle
    * write B, shuffle read B, spill B, result B]). Events are drained after
    * every traced operation, so the op current at delivery caused them. */
  val tasks = mutable.ArrayBuffer.empty[(Long, Int, Array[Double])]

  private val core = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = (nextId.incrementAndGet(), parent)
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
      for ((id, parent) <- jobSpan.remove(e.jobId); t0 <- jobStartMs.remove(e.jobId))
        add(Span(id, parent, "job", t0 * 1000, e.time * 1000))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
      val si = e.stageInfo
      val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(0L)
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        add(Span(nextId.incrementAndGet(), parent, "stage", t0 * 1000, t1 * 1000,
          Map("stage" -> si.stageId.toDouble, "tasks" -> si.numTasks.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      val wait = stageSubmitMs.get(e.stageId).map(t => math.max(0L, e.taskInfo.launchTime - t)).getOrElse(0L)
      tasks += ((currentOp, e.stageId, Array(
        wait.toDouble, m.executorRunTime.toDouble, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble, m.shuffleReadMetrics.totalBytesRead.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, m.resultSize.toDouble)))
    }
  }

  // ------------------------------------------- Catalyst + graft.plans
  /** (op, planning ms) per query execution, from QueryExecution.tracker. */
  val planMs = mutable.ArrayBuffer.empty[(Long, Double)]
  /** The operation being executed (its index, and its "op" span), set by
    * the client before the listeners can see any of its events. */
  @volatile var currentOp = 0L
  @volatile var currentOpSpan = 0L
  private val qel = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      planMs.synchronized(planMs += (currentOp -> ms))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  // ------------------------------------------------ graft.streaming
  /** (op, durationMs, numInputRows, state commit ms, state rows, state bytes) per trigger. */
  val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long], Long, Long, Long, Long)]
  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      val d = p.durationMs
      val dur = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue()).toMap
      val ops = p.stateOperators
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      add(Span(nextId.incrementAndGet(), currentOpSpan, "stream.batch", t0,
        t0 + dur.getOrElse("triggerExecution", 0L) * 1000, Map("rows" -> p.numInputRows.toDouble)))
      synchronized(progress += ((currentOp, dur, p.numInputRows,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(core)
  spark.listenerManager.register(qel)
  spark.streams.addListener(sql)

  def jobIntervals(fromUs: Long, toUs: Long): Seq[(Long, Long)] =
    spans.filter(s => s.name == "job" && s.endUs > fromUs && s.startUs < toUs)
      .map(s => (math.max(s.startUs, fromUs), math.min(s.endUs, toUs)))
}

object Tracer {
  /** Length of the union of `iv`. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}
