package pipebench

import graft.run.{OutputType, ProgressEvent, ProgressTracker}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def node(v: Any): com.fasterxml.jackson.databind.JsonNode = {
    val f = mapper.getNodeFactory
    v match {
      case null | None => f.nullNode()
      case Some(x) => node(x)
      case s: String => f.textNode(s)
      case b: Boolean => f.booleanNode(b)
      case i: Int => f.numberNode(i)
      case l: Long => f.numberNode(l)
      case d: Double => if (d.isNaN || d.isInfinite) f.nullNode() else f.numberNode(d)
      case m: Map[_, _] =>
        val o = f.objectNode()
        m.foreach { case (k, x) => o.set[com.fasterxml.jackson.databind.JsonNode](k.toString, node(x)) }
        o
      case xs: Iterable[_] =>
        val a = f.arrayNode()
        xs.foreach(x => a.add(node(x)))
        a
      case other => f.textNode(other.toString)
    }
  }
  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(node(kv.toMap))
  def write(v: Any): String = mapper.writeValueAsString(node(v))
  def read(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Fs {
  /** (relative path -> size) of every regular file under `root`. */
  def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  def bytes(root: Path): Long = listing(root).values.sum
  def mb(b: Long): Double = b / 1048576.0
}

/** Process-wide counters read at operation boundaries. */
object Probe {
  final case class Snap(gcMs: Long, cpuNs: Long, compiles: Long, compileNs: Long)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def snap(): Snap = Snap(
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum,
    os.getProcessCpuTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

/** Progress events of one run as (time, kind, name), the same shape whether
  * they come from an in-process tracker or from the executor's
  * `progress_update` messages (whose `event` field is the event's
  * toString).
  */
final case class Ev(t: Long, kind: String, name: String)
object Ev {
  def parse(t: Long, s: String): Ev = {
    val i = s.indexOf('(')
    if (i < 0) Ev(t, s, "")
    else Ev(t, s.substring(0, i), s.substring(i + 1).takeWhile(c => c != ',' && c != ')'))
  }
}

final class EventLog extends ProgressTracker {
  private val q = new ConcurrentLinkedQueue[Ev]()
  override def onProgress(event: ProgressEvent): Unit = q.add(Ev.parse(Clock.now(), event.toString))
  override def onOutput(stageName: String, outputType: OutputType, body: String): Unit = ()
  def events: Seq[Ev] = q.asScala.toSeq
}

object NoTracker extends ProgressTracker {
  override def onProgress(event: ProgressEvent): Unit = ()
  override def onOutput(stageName: String, outputType: OutputType, body: String): Unit = ()
}

/** One finished operation. `kind` is "run" (the workload's main operation),
  * "read" (a read-after-write pipeline) or "live_read" (`stream_ingest`'s
  * reads while the stream runs, which are checked but not timed).
  */
final case class OpRec(kind: String, latMs: Double, ok: Boolean, err: String,
    traced: Boolean, out: String = "")

/** Operations and per-operation layer metrics of one run. */
final class Recorder(val trace: Option[Trace]) {
  private val opsBuf = ArrayBuffer.empty[OpRec]
  private val layerBuf = ArrayBuffer.empty[Map[String, Double]]
  @volatile var measuring = false

  /** In a traced run every other operation is traced. */
  def tracedOp(i: Long): Boolean = trace.isDefined && i % 2 == 0

  def add(op: OpRec): Unit = if (measuring) synchronized(opsBuf += op)
  def addLayers(m: Map[String, Double]): Unit = if (measuring) synchronized(layerBuf += m)
  def ops: Seq[OpRec] = synchronized(opsBuf.toSeq)
  def layers: Seq[Map[String, Double]] = synchronized(layerBuf.toSeq)
  def markFailed(pred: OpRec => Boolean, err: String): Unit = synchronized {
    for (i <- opsBuf.indices if pred(opsBuf(i)))
      opsBuf(i) = opsBuf(i).copy(ok = false, err = err)
  }
}

object Layers {
  /** Layer metrics of one pipeline run, from its progress events and the
    * Spark work inside its execution window.
    *
    * `exec` is the window the product spent on the run: the Runner.run
    * call in process, or Started → terminal message through the executor.
    * `queued` is the submit time for a run that went through the executor.
    */
  def pipeline(t: Trace, op: Long, opWin: (Long, Long), parse: (Long, Long),
      exec: (Long, Long), queued: Option[Long], evs: Seq[Ev],
      before: Probe.Snap, after: Probe.Snap): Map[String, Double] = {
    val root = t.add(op, 0, "bench", "op", opWin._1, opWin._2)
    t.add(op, root, "config", "config.parse", parse._1, parse._2)
    def at(kind: String) = evs.filter(_.kind == kind)
    val started = at("Started").headOption.map(_.t).getOrElse(exec._1)
    val run = t.add(op, root, "run", "run", exec._1, exec._2)
    val queueMs = queued.map { q =>
      t.add(op, root, "run", "run.queue_wait", q, started)
      (started - q) / 1e6
    }.getOrElse(0.0)
    val validateMs = if (queued.isEmpty) {
      t.add(op, run, "run", "run.validate", exec._1, started)
      (started - exec._1) / 1e6
    } else 0.0
    val lastSrc = (started +: at("SourceRegistered").map(_.t)).max
    t.add(op, run, "sources", "sources.register", started, lastSrc)
    val stageEnds = at("StageCompleted")
    val stageMs = at("StageStarted").map { s =>
      val e = stageEnds.find(_.name == s.name).map(_.t).getOrElse(s.t)
      t.add(op, run, "run", s"run.stage:${s.name}", s.t, e)
      (e - s.t) / 1e6
    }.sum
    val lastStage = (lastSrc +: stageEnds.map(_.t)).max
    val destDone = at("DestinationCompleted").headOption.map(_.t)
    destDone.foreach(d => t.add(op, run, "destinations", "destinations.write", lastStage, d))
    val agg = t.sparkIn(exec._1, exec._2)
    t.attachSpark(op, t.spansOf(op).filter(_.layer != "spark"), agg)
    val commitMs = destDone.map { d =>
      val lastJobEnd = (lastStage +: agg.jobs.map(_._2).filter(_ <= d)).max
      (d - lastJobEnd) / 1e6
    }.getOrElse(0.0)
    val jobCover = Trace.covered(agg.jobs, exec._1, exec._2)
    Map(
      "config.parse_ms" -> (parse._2 - parse._1) / 1e6,
      "run.queue_wait_ms" -> queueMs,
      "run.validate_ms" -> validateMs,
      "run.stage_ms" -> stageMs,
      "sources.register_ms" -> (lastSrc - started) / 1e6,
      "destinations.write_ms" -> destDone.map(d => (d - lastStage) / 1e6).getOrElse(0.0),
      "destinations.commit_ms" -> commitMs,
      "spark.driver_gap_ms" -> (exec._2 - exec._1 - jobCover) / 1e6,
    ) ++ spark(agg) ++ jvm(before, after) ++ selfTimes(t.spansOf(op))
  }

  def spark(agg: Trace.SparkAgg): Map[String, Double] = Map(
    "spark.plan_ms" -> agg.plans.map { case (a, b) => b - a }.sum / 1e6,
    "spark.jobs" -> agg.jobs.size.toDouble,
    "spark.tasks" -> agg.stages.map(_.tasks).sum.toDouble,
    "spark.job_ms" -> agg.jobs.map { case (a, b) => b - a }.sum / 1e6,
    "spark.task_cpu_s" -> agg.stages.map(_.cpuNs).sum / 1e9,
    "spark.shuffle_write_mb" -> Fs.mb(agg.stages.map(_.shuffleWrite).sum),
    "spark.shuffle_read_mb" -> Fs.mb(agg.stages.map(_.shuffleRead).sum),
    "spark.spill_mb" -> Fs.mb(agg.stages.map(_.spill).sum),
    "spark.persisted_mb" -> Fs.mb(agg.persistedPeak),
    "sources.input_rows" -> agg.stages.map(_.inRows).sum.toDouble,
    "sources.input_mb" -> Fs.mb(agg.stages.map(_.inBytes).sum),
  )

  def jvm(a: Probe.Snap, b: Probe.Snap): Map[String, Double] = Map(
    "jvm.gc_ms" -> (b.gcMs - a.gcMs).toDouble,
    "jvm.cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
    "spark.codegen_compiles" -> (b.compiles - a.compiles).toDouble,
    "spark.codegen_compile_ms" -> (b.compileNs - a.compileNs) / 1e6,
  )

  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val s = Trace.selfTimes(spans)
    Trace.Layers.map(l => s"$l.self_ms" -> s.getOrElse(l, 0.0)).toMap
  }

  /** Every per-layer metric name, in report order. */
  val Names: Seq[String] = Seq(
    "config.parse_ms", "run.queue_wait_ms", "run.validate_ms", "run.stage_ms",
    "sources.register_ms", "sources.delta_snapshot_ms", "sources.input_rows", "sources.input_mb",
    "spark.plan_ms", "spark.codegen_compiles", "spark.codegen_compile_ms", "spark.jobs",
    "spark.tasks", "spark.job_ms", "spark.task_cpu_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.persisted_mb", "spark.driver_gap_ms",
    "destinations.write_ms", "destinations.commit_ms", "destinations.files_written",
    "destinations.bytes_written_mb", "destinations.log_mb", "destinations.checkpoints",
    "destinations.rewrite_ratio", "streaming.trigger_ms", "streaming.planning_ms",
    "streaming.wal_commit_ms", "streaming.add_batch_ms", "streaming.latest_offset_ms",
    "streaming.state_rows", "streaming.state_mb", "jvm.gc_ms", "jvm.cpu_s",
    "bench.gen_late_ms", "bench.trace_overhead_pct") ++ Trace.Layers.map(l => s"$l.self_ms")

  /** Per-operation medians of the traced operations' layer metrics. */
  def summarize(rows: Seq[Map[String, Double]]): Map[String, Double] =
    Names.map(n => n -> Stats.median(rows.flatMap(_.get(n)))).toMap
}

/** Warm-up until latencies settle: at least `min` operations, then stop
  * once the last two are within 15% of each other, or after `max`.
  */
object Settle {
  def run(min: Int, max: Int)(op: () => Double): Int = {
    val lat = ArrayBuffer.empty[Double]
    def settled = lat.size >= min && {
      val a = lat(lat.size - 1)
      val b = lat(lat.size - 2)
      math.abs(a - b) <= 0.15 * math.min(a, b)
    }
    while (lat.size < max && !(lat.size >= 2 && settled)) lat += op()
    lat.size
  }
}

/** One in-process pipeline run: parse the rendered config, then
  * `Runner.run`, then `consume` (what the caller does with the result).
  */
final case class InRun(t0: Long, parsed: Long, end: Long, evs: Seq[Ev],
    before: Probe.Snap, after: Probe.Snap) {
  def latMs: Double = (end - t0) / 1e6
  def layers(t: Trace, op: Long): Map[String, Double] =
    Layers.pipeline(t, op, (t0, end), (t0, parsed), (parsed, end), None, evs, before, after)
}

object InProcess {
  def run(spark: org.apache.spark.sql.SparkSession, yaml: String, traced: Boolean)(
      consume: => Unit = ()): InRun = {
    val log = if (traced) Some(new EventLog) else None
    val before = if (traced) Probe.snap() else null
    val t0 = Clock.now()
    val aq = graft.config.ConfigParser.fromYaml(yaml)
    val t1 = Clock.now()
    graft.run.Runner.run(spark, aq, log.getOrElse(NoTracker))
    consume
    val t2 = Clock.now()
    InRun(t0, t1, t2, log.map(_.events).getOrElse(Nil), before,
      if (traced) Probe.snap() else null)
  }

  /** Rows of an in-memory destination, which is then released. */
  def take(spark: org.apache.spark.sql.SparkSession, view: String): Seq[org.apache.spark.sql.Row] =
    try spark.table(view).collect().toSeq
    finally {
      spark.catalog.uncacheTable(view)
      spark.catalog.dropTempView(view)
    }

  /** Layer metrics of operations made of several pipeline runs. */
  def merge(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map { k =>
      val vs = ms.flatMap(_.get(k))
      k -> (if (k == "spark.persisted_mb") vs.max else vs.sum)
    }.toMap
}
