package pipebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Epoch nanoseconds with nanoTime resolution, so directly timed spans and
  * Spark's millisecond event times share one axis.
  */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** One traced interval. Spans of one operation share `op`; `parent` is the
  * span that caused it (0 for an operation's root).
  */
final case class Span(id: Long, op: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long)

/** In-memory trace of one run. Spans are recorded only at boundaries the
  * benchmark can see from outside the product: progress events, the
  * listeners registered here, and direct timing of public calls. Nothing
  * is written until [[writeSpans]] at the end of the run.
  *
  * `on` is flipped per operation so a traced run alternates traced and
  * untraced operations; the difference between the two is the tracing
  * overhead. The listeners are registered only in a traced run.
  */
final class Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def add(op: Long, parent: Long, layer: String, name: String, start: Long, end: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, op, parent, layer, name, start, math.max(start, end)))
    id
  }
  def spansOf(op: Long): Seq[Span] = spans.asScala.filter(_.op == op).toSeq

  // ------------------------------------------------------ Spark listeners

  import Trace.{JobRec, SparkAgg, StageRec}
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val rddBlocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val storage = new ConcurrentLinkedQueue[(Long, Long)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val events = new AtomicLong(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (on && group != Trace.Untraced) jobs.put(e.jobId, new JobRec(Clock.fromMs(e.time), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.end = Clock.fromMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val m = e.stageInfo.taskMetrics
      if (m != null) stages.add(StageRec(e.stageInfo.stageId, e.stageInfo.numTasks,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      events.incrementAndGet()
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        if (size == 0) rddBlocks.remove(b.blockId.name) else rddBlocks.put(b.blockId.name, size)
        storage.add((Clock.now(), rddBlocks.values.asScala.map(_.longValue).sum))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      if (on) qe.tracker.phases.values.foreach(p =>
        plans.add((Clock.fromMs(p.startTimeMs), Clock.fromMs(p.endTimeMs))))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Listener events arrive on Spark's asynchronous buses: wait until the
    * stream of events has been quiet for a moment before aggregating.
    */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 5000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = events.get()
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }

  // --------------------------------------------------------- aggregation

  /** Spark-side work whose job, plan or block update started inside
    * [s, e). Operations run one at a time in every workload, so a time
    * window attributes Spark work to the operation that caused it.
    */
  def sparkIn(s: Long, e: Long): SparkAgg = {
    val js = jobs.values.asScala.filter(j => j.start >= s && j.start < e).toSeq
    val ids = js.flatMap(_.stages).toSet
    val ps = plans.asScala.filter { case (a, _) => a >= s && a < e }.toSeq
    val before = storage.asScala.filter(_._1 < s).lastOption.map(_._2).getOrElse(0L)
    val peak = (before +: storage.asScala.filter(x => x._1 >= s && x._1 < e).map(_._2).toSeq).max
    SparkAgg(js.map(j => (j.start, if (j.end < 0) e else j.end)), ps,
      stages.asScala.filter(st => ids(st.stageId)).toSeq, peak)
  }

  /** Adds Spark plan and job spans of [s, e) under the innermost span of
    * `parents` that contains each one's start.
    */
  def attachSpark(op: Long, parents: Seq[Span], agg: SparkAgg): Unit = {
    def parentOf(t: Long): Long = parents.filter(p => p.start <= t && t <= p.end)
      .sortBy(p => (p.end - p.start)).headOption.map(_.id).getOrElse(0L)
    agg.plans.foreach { case (a, b) => add(op, parentOf(a), "spark", "spark.plan", a, b) }
    agg.jobs.foreach { case (a, b) => add(op, parentOf(a), "spark", "spark.job", a, b) }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(s => (s.op, s.start)).foreach { s =>
      w.write(Json.obj("id" -> s.id, "op" -> s.op, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  /** Job group of benchmark-side Spark work that no operation owns. */
  val Untraced = "pipebench-untraced"

  final class JobRec(val start: Long, val stages: Seq[Int]) { @volatile var end: Long = -1 }
  final case class StageRec(stageId: Int, tasks: Int, cpuNs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, inRows: Long, inBytes: Long)
  final case class SparkAgg(jobs: Seq[(Long, Long)], plans: Seq[(Long, Long)],
      stages: Seq[StageRec], persistedPeak: Long)

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per layer, in ms: each span's duration minus the part of it
    * its child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start - covered(c, s.start, s.end)) / 1e6
      }.sum
    }
  }

  val Layers = Seq("bench", "config", "run", "sources", "spark", "destinations", "streaming")
}
