package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock microseconds since the epoch, monotonic within the process,
  * on the same scale as the epoch-millisecond stamps Spark's listener
  * events carry. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A timed interval at a layer boundary. Spans of one request (a query, an
  * ANN pass, a serving request) share `trace`, the id of their root span. */
final case class Span(id: Long, parent: Long, trace: Long, name: String, startUs: Long, endUs: Long) {
  def us: Long = endUs - startUs
}

/** Span recorder. Spans are kept in memory and written out at the end of the
  * run. While a span is open on a thread, every Spark job that thread submits
  * is tagged with the span id through `setLocalProperty`, so listener events
  * land on the span that caused them. When disabled, `span` is a plain call. */
final class Tracer(@volatile var enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val (parent, trace) = stack.headOption.getOrElse((0L, id))
      open.set((id, trace) :: stack)
      val prev = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = Clock.nowUs
      try body
      finally {
        done.add(Span(id, parent, trace, name, t0, Clock.nowUs))
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanProperty, prev)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  def clear(): Unit = done.clear()
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark execution counters keyed by the span id the job was tagged with
  * (0 = untagged), from the public `SparkListener` events. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, taskMs, taskGcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    val stageIntervals = ArrayBuffer.empty[(Long, Long)] // epoch us
    val stageTaskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  }
  private val bySpan = new ConcurrentHashMap[Long, Acc]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  val blocksDropped = new AtomicLong(0L)

  private def acc(span: Long): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    acc(span).jobs += 1
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = acc(stageSpan.getOrDefault(si.stageId, 0L))
    a.stages += 1
    for (s <- si.submissionTime; c <- si.completionTime) a.stageIntervals += ((s * 1000L, c * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageSpan.getOrDefault(e.stageId, 0L))
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.taskGcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      blocksDropped.incrementAndGet()
  }

  def snapshot: Map[Long, Acc] = synchronized(bySpan.asScala.toMap)
  def clear(): Unit = synchronized { bySpan.clear(); stageSpan.clear(); blocksDropped.set(0L) }
}

/** Catalyst phase intervals of every executed query, from the public
  * `QueryExecutionListener` (analysis, optimization, physical planning). */
final class PlanCounters extends QueryExecutionListener {
  final case class Phases(analysis: (Long, Long), optimization: (Long, Long), physical: (Long, Long))
  val events = new ConcurrentLinkedQueue[Phases]

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def iv(name: String): (Long, Long) =
      ph.get(name).map(p => (p.startTimeMs * 1000L, p.endTimeMs * 1000L)).getOrElse((0L, 0L))
    events.add(Phases(iv("analysis"), iv("optimization"), iv("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch progress from the public `StreamingQueryListener`. */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Batch(startUs: Long, triggerMs: Long, addBatchMs: Long)
  val batches = new ConcurrentLinkedQueue[Batch]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val dm = p.durationMs
    def ms(k: String): Long = Option(dm).flatMap(m => Option(m.get(k))).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp)
    batches.add(Batch(start.getEpochSecond * 1000000L + start.getNano / 1000L, ms("triggerExecution"), ms("addBatch")))
  }
}

/** Interval arithmetic over (start, end) pairs in microseconds. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[(Long, Long)]): Long = union(xs).map(x => x._2 - x._1).sum

  /** Parts of `a` not covered by `b`; both must be unions. */
  def minus(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    a.flatMap { case (s, e) =>
      val cuts = b.filter(x => x._2 > s && x._1 < e)
      var cur = s
      val out = ArrayBuffer.empty[(Long, Long)]
      cuts.foreach { case (cs, ce) =>
        if (cs > cur) out += ((cur, cs))
        cur = math.max(cur, ce)
      }
      if (cur < e) out += ((cur, e))
      out
    }

  def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long = length(a) - length(minus(union(a), union(b)))
}
