package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional), the clock Spark's listener events use. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer of the program. Ops run one at a time (a single closed-loop
  * client), so a stack gives each span its parent. */
final class Tracer {
  private val baseNanos = System.nanoTime
  private val baseEpoch = System.currentTimeMillis.toDouble
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  @volatile var op: Int = -1

  def now: Double = baseEpoch + (System.nanoTime - baseNanos) / 1e6

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = now
    try f finally {
      stack.pop()
      spans += Span(id, name, op, parent, t0, now)
    }
  }

  def of(op: Int, name: String): Seq[Span] =
    spans.iterator.filter(s => s.op == op && s.name == name).toSeq
}

/** Task and job statistics of one op, from the benchmark's listener. */
final class OpStats {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var planMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Stage summary kept for the top-stages artifact. */
final case class StageRecord(op: Int, stageId: Int, name: String,
                             callSite: String, taskMs: Long, tasks: Int)

/** Listener the benchmark registers itself. Jobs are attributed to an op
  * by the job tag the benchmark sets around each op (pool threads created
  * inside the op inherit it); QueryExecutions by the start of their
  * planning phases, which fall inside exactly one op's interval. */
final class OpListener extends SparkListener with QueryExecutionListener {
  val Prefix = "perfbench-op-"
  private val stats = mutable.Map.empty[Int, OpStats]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageTask = mutable.Map.empty[Int, (Long, Int)]
  val stages = mutable.ArrayBuffer.empty[StageRecord]
  private val opWindows = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  private val pendingPlans = mutable.ArrayBuffer.empty[(Double, Long)]
  @volatile private var started = 0
  @volatile private var ended = 0

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def statsOf(op: Int): OpStats = synchronized(stats.getOrElseUpdate(op, new OpStats))

  def opWindow(op: Int, start: Double, end: Double): Unit = synchronized {
    opWindows += ((op, start, end))
  }

  private def opOfTags(tags: String): Option[Int] =
    Option(tags).toSeq.flatMap(_.split(",")).collectFirst {
      case t if t.startsWith(Prefix) => t.stripPrefix(Prefix).toInt
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val tags = Option(e.properties).map(_.getProperty("spark.job.tags")).orNull
    opOfTags(tags).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      statsOf(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobOp.remove(e.jobId).foreach { op =>
      statsOf(op).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val st = statsOf(op)
      st.tasks += 1
      if (e.reason != Success) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRows += m.inputMetrics.recordsRead
        val (ms, n) = stageTask.getOrElse(e.stageId, (0L, 0))
        stageTask(e.stageId) = (ms + m.executorRunTime, n + 1)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val (ms, n) = stageTask.remove(info.stageId).getOrElse((0L, 0))
      val site = info.details.linesIterator
        .find(l => l.contains(".scala:") && !l.contains("org.apache.spark"))
        .map(_.trim).getOrElse("")
      stages += StageRecord(op, info.stageId, info.name, site, ms, n)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min.toDouble
      pendingPlans += ((start, phases.values.map(_.durationMs).sum))
    }
  }

  /** Attribute the planning phases recorded so far to their ops. */
  def settlePlans(): Unit = synchronized {
    val (placed, left) = pendingPlans.partition { case (t, _) =>
      opWindows.exists { case (_, a, b) => t >= a - 1 && t <= b + 1 }
    }
    placed.foreach { case (t, ms) =>
      opWindows.find { case (_, a, b) => t >= a - 1 && t <= b + 1 }
        .foreach { case (op, _, _) => statsOf(op).planMs += ms }
    }
    pendingPlans.clear()
    pendingPlans ++= left
  }

  /** Wait until the listener bus has delivered every job end it started. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    var quietSince = System.currentTimeMillis
    var last = -1
    while (System.currentTimeMillis < deadline &&
      (started != ended || System.currentTimeMillis - quietSince < 150)) {
      if (ended != last) { last = ended; quietSince = System.currentTimeMillis }
      Thread.sleep(10)
    }
  }
}


/** Length of the union of a set of intervals. */
object Intervals {
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    xs.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total
  }
}
