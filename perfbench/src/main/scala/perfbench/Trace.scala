package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed public call into a graft layer. `op` is `<layer>.<op>`;
  * `rows` is what the call carried (writes) or returned (reads). Start and
  * end are kept on two clocks: nanoTime for the wall time, and epoch / JVM
  * uptime milliseconds to line the call up with Spark job events and GC
  * notifications.
  */
final case class Span(id: Int, op: String, round: Int, wallNs: Long, rows: Long,
    startMs: Long, endMs: Long, upStartMs: Long, upEndMs: Long, gcMs: Long)

/** Times every public call of the timed sequence, in both modes. In the
  * traced mode each call also tags the Spark jobs it starts with its span
  * id (a thread-local job property), so the listener can attribute jobs,
  * tasks and bytes to the call exactly. While `recording` is off (the
  * warm-up round) calls run bare and leave no span.
  *
  * Each recorded call starts, untimed, from a full collection: every call
  * then begins on the same heap (the live set alone), so a collection
  * inside it pays for what that call allocated, not for garbage earlier
  * calls left, and its after-GC heap shows what the call keeps.
  */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  val spans = new ArrayBuffer[Span]
  var round = 0
  var recording = true
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val uptime = ManagementFactory.getRuntimeMXBean

  private def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def call[T](op: String, rows: T => Long)(body: => T): T =
    if (recording) timed(op, rows)(body) else body

  private def timed[T](op: String, rows: T => Long)(body: => T): T = {
    System.gc()
    val id = spans.size
    if (traced) sc.setLocalProperty(Recorder.SpanProperty, id.toString)
    val gc0 = gcMillis
    val up0 = uptime.getUptime
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally if (traced) sc.setLocalProperty(Recorder.SpanProperty, null)
    val t1 = System.nanoTime()
    spans += Span(id, op, round, t1 - t0, rows(out), ms0, System.currentTimeMillis(),
      up0, uptime.getUptime, gcMillis - gc0)
    out
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"
}

/** Per-job totals, attributed to the span that started the job. */
final class JobRecord(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
}

/** Collects job intervals and task metrics. Registered in the traced run
  * only, so the timed runs carry no listener of the benchmark's.
  */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobRecord(e.jobId, span, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val j = stageJob.get(e.stageId)
    if (m != null && j != null) j.synchronized {
      j.cpuNs += m.executorCpuTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs grouped by span; a job whose start carried no span property is
    * attributed by its start time.
    */
  def bySpan(spans: Seq[Span]): Map[Int, Seq[JobRecord]] = {
    val all = jobs.values.asScala.toSeq.sortBy(_.id)
    all.flatMap { j =>
      val sp = if (j.span >= 0) Some(j.span)
        else spans.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs).map(_.id)
      sp.map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

/** Heap in use after each garbage collection, with the JVM uptime at which
  * the collection ended. The benchmark's peak heap is the highest such
  * value inside a timed call: what the call kept reachable, not how full
  * the young generation happened to be when someone looked.
  */
final class HeapMonitor extends NotificationListener {
  private val events = new ConcurrentLinkedQueue[(Long, Long)]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = info.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      events.add((info.getEndTime, used))
    }

  /** After-GC heap (bytes) of each collection that ended inside a span. */
  def within(spans: Seq[Span]): Seq[Long] =
    events.asScala.toSeq.filter { case (t, _) => spans.exists(s => t >= s.upStartMs && t <= s.upEndMs) }
      .map(_._2)

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(this) catch { case _: Exception => })
}
