package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startMs: Long, startNs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans plus the Spark listeners that attribute engine counters to them.
  *
  * Spans live in memory and are written when the run ends. The span that
  * is open on a thread is also set as a Spark local property, so every
  * job records the span active when it started; stages and tasks follow
  * their job. Planning time (from `QueryExecutionListener`) and stream
  * progress (from `StreamingQueryListener`) carry no job id and are
  * attributed by wall-clock time to the span whose interval covers them.
  */
final class Tracer(spark: SparkSession, val run: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  // inheritable: op bodies run on worker threads started inside a span
  private val stack = new InheritableThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  /** Run `body` inside a span named `name`, child of the span open on
    * this thread.
    */
  def span[A](name: String)(body: => A): (A, Span) = {
    val sc = spark.sparkContext
    val parent = stack.get.headOption
    val s = Span(nextId.getAndIncrement(), name, parent.map(_.id).getOrElse(0), run,
      System.currentTimeMillis(), System.nanoTime())
    synchronized(spans += s)
    stack.set(s :: stack.get)
    val prevProp = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanProperty, prevProp)
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s.seconds - unionLength(kids, s.startNs, s.endNs) / 1e9
  }

  // ---- engine counters, keyed by span id --------------------------------

  final class Counters {
    var jobs = 0
    var checkpointJobs = 0
    var stages = 0
    var tasks = 0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakExecMem = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // ms
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // stage → durations
  }

  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)] // (planning start ms, seconds)
  private val progress = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (ms, input rows, state rows)

  private def c(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
      val cc = c(span)
      cc.jobs += 1
      // the result stage is created last, so it has the highest id; its
      // name is the job's short call site ("localCheckpoint at …")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      if (site.startsWith("localCheckpoint") || site.startsWith("checkpoint"))
        cc.checkpointJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (span, t0) => c(span).jobIntervals += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      c(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val cc = c(stageSpan.getOrElse(e.stageId, 0))
      cc.tasks += 1
      cc.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        cc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cc.peakExecMem = math.max(cc.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1e3))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Tracer.this.synchronized {
        progress += ((System.currentTimeMillis(), p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Engine counters of `root` and every span below it, keyed by their
    * per-layer metric names.
    */
  def engine(root: Span): Map[String, Double] = synchronized {
    val all = allSpans
    def under(s: Span): Boolean =
      s.id == root.id || all.find(_.id == s.parent).exists(under)
    val ids = all.filter(under).map(_.id).toSet
    val cs = ids.toSeq.flatMap(counters.get)
    val jobIntervals = cs.flatMap(_.jobIntervals).map { case (a, b) => (a * 1000000L, b * 1000000L) }
    val jobBusy = unionLength(jobIntervals, root.startMs * 1000000L, root.endMs * 1000000L) / 1e9
    val skew = cs.flatMap(_.taskMs.values).filter(_.nonEmpty).map { ds =>
      val sorted = ds.sorted
      val med = sorted(sorted.size / 2).toDouble
      sorted.last / math.max(med, 1.0)
    }
    def within(ms: Long) = ms >= root.startMs && ms <= root.endMs
    val planS = plans.collect { case (t, s) if within(t) => s }
    val prog = progress.filter(p => within(p._1))
    Map(
      "spark.jobs" -> cs.map(_.jobs).sum.toDouble,
      "spark.stages" -> cs.map(_.stages).sum.toDouble,
      "spark.tasks" -> cs.map(_.tasks).sum.toDouble,
      "spark.shuffle_write_bytes" -> cs.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> cs.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> cs.map(_.spill).sum.toDouble,
      "spark.peak_exec_mem_bytes" -> (0L +: cs.map(_.peakExecMem)).max.toDouble,
      "spark.task_skew" -> (1.0 +: skew).max,
      "spark.plan_s" -> planS.sum,
      "spark.plan_s_max" -> (0.0 +: planS).max,
      "spark.driver_only_s" -> math.max(0.0, root.seconds - jobBusy),
      "operators.checkpoint_jobs" -> cs.map(_.checkpointJobs).sum.toDouble,
      "streaming.batches" -> prog.size.toDouble,
      "streaming.input_rows" -> prog.map(_._2).sum.toDouble,
      "streaming.state_rows_max" -> (0L +: prog.map(_._3)).max.toDouble)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + math.max(0L, curB - curA)
  }
}
