package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: times are epoch milliseconds (the
  * clock Spark's listener events use), `parent` is 0 for a root span.
  */
final case class Span(id: Long, name: String, op: Long, parent: Long,
    startMs: Double, endMs: Double)

/** Spans recorded from outside the engine, around calls into its public
  * functions. Each span runs under its own Spark job group, so the
  * [[GroupListener]] can attribute jobs, task CPU and bytes to it.
  * When disabled every method is a pass-through and no listener is
  * registered, so the untraced run pays nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  // (span id, op id) of the spans open on this thread, innermost first
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6

  val listener: Option[GroupListener] =
    if (enabled) { val l = new GroupListener(this); sc.addSparkListener(l); Some(l) }
    else None

  /** Span (and its op) whose job group the engine's streaming thread
    * reports to, and under which task-side intervals are recorded.
    */
  @volatile var streamingSpan: Long = 0L
  @volatile var streamingOp: Long = 0L

  def newOp(): Long = ids.incrementAndGet()

  /** (span id, op id) of the innermost span open on this thread. */
  def current: (Long, Long) = open.get.headOption.getOrElse((0L, 0L))

  def span[T](name: String, op: Long = 0L)(body: => T): T = {
    if (!enabled) return body
    val stack = open.get
    val id = ids.incrementAndGet()
    val opId = if (op != 0L) op else stack.headOption.map(_._2).getOrElse(id)
    val prevGroup = sc.getLocalProperty(GroupListener.JobGroupKey)
    sc.setJobGroup(GroupListener.Prefix + id, name)
    open.set((id, opId) :: stack)
    val t0 = nowMs
    try body
    finally {
      spans.add(Span(id, name, opId, stack.headOption.map(_._1).getOrElse(0L), t0, nowMs))
      open.set(stack)
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
    }
  }

  /** Record an interval measured elsewhere (e.g. inside a task thread). */
  def record(name: String, op: Long, parent: Long, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, op, parent, startMs, endMs))

  def allSpans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq
  }
}

/** Per-job-group Spark counters for groups minted by a [[Tracer]]:
  * job intervals, executor CPU, scan bytes and rows, shuffle bytes.
  * Jobs of a streaming query run on the engine's own thread under its
  * own group; they are credited to [[Tracer.streamingSpan]].
  */
final class GroupListener(tracer: Tracer) extends SparkListener {
  final class Stats {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cpuNs = 0L
    var scanBytes = 0L
    var scanRows = 0L
    var shuffleBytes = 0L
  }
  private val stageGroup = scala.collection.mutable.HashMap.empty[Int, String]
  private val jobGroup = scala.collection.mutable.HashMap.empty[Int, (String, Long)]
  private val stats = scala.collection.mutable.HashMap.empty[String, Stats]
  private val pending = new AtomicLong

  private def groupOf(p: java.util.Properties): Option[String] = Option(p).flatMap { props =>
    val g = props.getProperty(GroupListener.JobGroupKey)
    if (g != null && g.startsWith(GroupListener.Prefix)) Some(g)
    else if (props.getProperty("sql.streaming.queryId") != null &&
        tracer.streamingSpan != 0L) Some(GroupListener.Prefix + tracer.streamingSpan)
    else None
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      pending.incrementAndGet()
      jobGroup(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(stageGroup(e.stageInfo.stageId) = _)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      stats.getOrElseUpdate(g, new Stats).jobs += ((t0, e.time))
      pending.decrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats.getOrElseUpdate(g, new Stats)
      s.cpuNs += m.executorCpuTime
      s.scanBytes += m.inputMetrics.bytesRead
      s.scanRows += m.inputMetrics.recordsRead
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Counters per span id, after every observed job has ended (bounded
    * wait: the listener bus delivers events asynchronously).
    */
  def snapshot(timeoutMs: Long = 10000): Map[Long, Stats] = {
    Thread.sleep(500) // let the bus deliver the last jobs' start events
    val deadline = System.currentTimeMillis() + timeoutMs
    while (pending.get > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    synchronized {
      stats.map { case (g, s) => g.stripPrefix(GroupListener.Prefix).toLong -> s }.toMap
    }
  }
}

object GroupListener {
  val Prefix = "perfbench:"
  val JobGroupKey = "spark.jobGroup.id"
}
