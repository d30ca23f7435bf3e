package pipebench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `stream_ingest`: the workload where per-trigger costs dominate, and the
  * only one that exercises the product's streaming layer. Open loop: a
  * generator thread publishes one seeded `events` slice every fixed
  * interval, at a rate below capacity. The query is built directly from
  * `graft.streaming.Streams` — `fileSource`, the watermarked
  * `dedupedStream`, `deltaAppendSink` with a local checkpoint — exactly as
  * a user builds it. A reader runs a Delta-source pipeline over the sink
  * every half second while the stream runs, and ten more after the last
  * commit; those ten give the read latency.
  *
  * An operation is one slice: its latency runs from the slice's due time to
  * the commit of the micro-batch that holds it. The final sink is compared
  * with a batch run of the same Streams function over every slice.
  */
final class StreamIngest(input: Path) extends Workload {
  private val meta = Json.read(Files.readString(input.resolve("slices.json")))
  private val intervalMs = (meta.get("interval_s").asDouble * 1000).toLong
  private val warm = meta.get("warm_slices").asInt
  private val slices = meta.get("slices").elements().asScala.map(s =>
    (s.get("rows").asLong, s.get("first_id").asLong, s.get("last_id").asLong)).toIndexedSeq
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val ReadEveryMs = 500L
  /** Reads timed after the stream has committed everything. The reads made
    * while it runs check snapshot isolation, but each waits behind whatever
    * part of a micro-batch it meets and sees a longer log than the last, so
    * the median of a window's dozen moved by a quarter between runs.
    */
  private val SettledReads = 10
  private var cursor = 0
  private var dir: Path = _
  private var src: Path = _
  private var sink: Path = _
  private var query: StreamingQuery = _
  /** (slice, due ms, published ms) of every slice this query was given. */
  private val published = ArrayBuffer.empty[(Int, Long, Long)]
  /** Rows published so far; read by the reader thread. */
  @volatile private var publishedRows = 0L

  def setUp(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    src = Files.createDirectories(dir.resolve("events"))
    sink = dir.resolve("sink")
    published.clear()
    publishedRows = 0L
    graft.destinations.DeltaWrite.createIfAbsent(spark, sink.toString, schema)
    val events = graft.streaming.Streams.fileSource(spark, src.toString, schema)
    val deduped = graft.streaming.Streams.dedupedStream(events, "ts", Seq("event_id"))
    query = graft.streaming.Streams.deltaAppendSink(deduped, sink.toString,
      dir.resolve("checkpoint").toString)
    feed(warm, None)
    query.processAllAvailable()
  }

  override def tearDown(): Unit = if (query != null) { query.stop(); query = null }

  /** Publishes `n` slices on the open-loop schedule; returns the first
    * slice's due time.
    */
  private def feed(n: Int, rec: Option[Recorder]): Long = {
    val start = System.currentTimeMillis() + 20
    for (k <- 0 until n) {
      val due = start + k * intervalMs
      // tracing alternates in slots of eight slices
      rec.flatMap(_.trace).foreach(_.on = (k / 8) % 2 == 0)
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val s = cursor
      cursor += 1
      Files.move(input.resolve(f"slices/slice_$s%05d.parquet"), src.resolve(f"slice_$s%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      published += ((s, due, System.currentTimeMillis()))
      publishedRows += slices(s)._1
    }
    start
  }

  private var windowFrom = 0
  private var windowSinkStart = Map.empty[String, Long]
  private var lateMs = Seq.empty[Double]
  private var publishedBytes = 0L
  private val snapshotMs = ArrayBuffer.empty[Double]
  private var jvm0: Probe.Snap = _
  private var jvm1: Probe.Snap = _

  def measure(spark: SparkSession, rec: Recorder, seconds: Int): Double = {
    windowFrom = published.size
    windowSinkStart = outputs()
    val n = (seconds * 1000 / intervalMs).toInt
    require(cursor + n <= slices.size, "too few slices generated for this run length")
    publishedBytes = (cursor until cursor + n)
      .map(s => Files.size(input.resolve(f"slices/slice_$s%05d.parquet"))).sum
    @volatile var running = true
    var i = 0
    var lastCount = 0L
    def readOnce(kind: String): Unit = {
      val t0 = System.nanoTime()
      try lastCount = read(spark, rec, i, lastCount, kind)
      catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          rec.add(OpRec(kind, (System.nanoTime() - t0) / 1e6, ok = false, e.toString,
            traced = false))
      }
      i += 1
    }
    val reader = new Thread(() => {
      spark.sparkContext.setJobGroup(Trace.Untraced, "read-after-write")
      while (running) {
        Thread.sleep(ReadEveryMs)
        if (running) readOnce("live_read")
      }
    }, "pipebench-reader")
    reader.start()
    jvm0 = Probe.snap()
    feed(n, Some(rec))
    query.processAllAvailable()
    jvm1 = Probe.snap()
    running = false
    reader.join()
    rec.trace.foreach(_.on = false)
    lateMs = published.drop(windowFrom).map { case (_, due, pub) => (pub - due).toDouble }.toSeq
    val window = latencies(rec)
    (0 until SettledReads).foreach(_ => readOnce("read"))
    window
  }

  /** Read-after-write: a Delta-source pipeline counting the sink. The count
    * may only grow and never exceeds the rows published so far.
    */
  private def read(spark: SparkSession, rec: Recorder, i: Int, last: Long, kind: String): Long = {
    val view = s"sink_count_$i"
    var n = -1L
    val r = InProcess.run(spark,
      s"""version: v2
         |sources:
         |  - { type: delta, name: sink_t, location: '$sink' }
         |stages:
         |  - - name: counted
         |      query: SELECT count(*) AS n FROM sink_t
         |destination: { type: in_memory, name: $view }
         |""".stripMargin, traced = false) {
      n = InProcess.take(spark, view).head.getLong(0)
    }
    // taken after the read: every row its snapshot holds was published by now
    val bound = publishedRows
    val ok = n >= last && n <= bound
    rec.add(OpRec(kind, r.latMs, ok, if (ok) "" else s"sink count $n after $last, bound $bound",
      traced = false))
    rec.trace.foreach { _ =>
      val a = System.nanoTime()
      graft.sources.DeltaLog.read(spark, sink.toString)
      snapshotMs.synchronized(snapshotMs += (System.nanoTime() - a) / 1e6)
    }
    math.max(n, last)
  }

  /** Assigns published slices to micro-batches in publish order by row
    * count (the file source takes every new file in each batch), then
    * records each window slice's due-to-commit latency. Returns the
    * window's wall: first slice due → last slice committed.
    */
  private def latencies(rec: Recorder): Double = {
    val commits = ArrayBuffer.empty[Long]
    val batches = query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    def commitMs(p: StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
    var b = 0
    var rowsLeft = if (batches.nonEmpty) batches(0).numInputRows else 0L
    published.zipWithIndex.foreach { case ((s, due, _), idx) =>
      val rows = slices(s)._1
      while (b < batches.length && rowsLeft <= 0) {
        b += 1
        if (b < batches.length) rowsLeft = batches(b).numInputRows
      }
      val inWindow = idx >= windowFrom
      if (b >= batches.length || rowsLeft < rows) {
        if (inWindow) rec.add(OpRec("run", 0.0, ok = false,
          "micro-batch row counts do not match the published slices", traced = false, s.toString))
        rowsLeft = 0
      } else {
        rowsLeft -= rows
        val traced = rec.trace.isDefined && ((idx - windowFrom) / 8) % 2 == 0
        if (inWindow) {
          commits += commitMs(batches(b))
          rec.add(OpRec("run", (commitMs(batches(b)) - due).toDouble, ok = true, "", traced, s.toString))
        }
      }
    }
    rec.trace.foreach { t => t.drain(); batchLayers(t, rec) }
    // An open loop completes what it is offered while it keeps up, so the
    // throughput is the slope of slices committed against commit time over
    // the window's batches: it equals the offered rate until a backlog
    // grows. The median of pairwise slopes (Theil-Sen) keeps one slow
    // batch, such as a Delta checkpoint near the window's end, from
    // deciding it.
    val points = commits.groupBy(identity).toSeq.sortBy(_._1)
      .scanLeft((0L, 0)) { case ((_, n), (t, in)) => (t, n + in.size) }.drop(1)
    val slopes = for {
      i <- points.indices; j <- points.indices if j > i && points(j)._1 > points(i)._1
    } yield (points(j)._2 - points(i)._2) * 1000.0 / (points(j)._1 - points(i)._1)
    rate = Stats.median(slopes)
    val firstDue = published.lift(windowFrom).map(_._2).getOrElse(0L)
    math.max(1L, (if (commits.isEmpty) firstDue else commits.max) - firstDue) / 1000.0
  }

  /** Slices committed per second; 0 when too few batches to fit a slope. */
  private var rate = 0.0

  /** Per-trigger layer metrics from each traced batch's progress, with its
    * Spark work attributed by time.
    */
  private def batchLayers(t: Trace, rec: Recorder): Unit = {
    val ps = t.progress.asScala.toSeq.sortBy(_.batchId)
    val sinkWritten = outputs().filter { case (p, s) => !windowSinkStart.get(p).contains(s) }
    val n = math.max(1, ps.size)
    val jvm = Layers.jvm(jvm0, jvm1).map { case (k, v) => k -> v / n }
    // rows the window's commits added per fresh (non-duplicate) row published
    val rowsAdded = sinkWritten.keys.filter(p => p.startsWith("sink/_delta_log") && p.endsWith(".json"))
      .toSeq.flatMap(p => Files.readAllLines(dir.resolve(p)).asScala.map(Json.read))
      .filter(_.has("add")).map(a => Option(a.get("add").get("stats")).filterNot(_.isNull)
        .map(st => Json.read(st.asText()).path("numRecords").asLong(0L)).getOrElse(0L)).sum
    val fresh = published.drop(windowFrom).map(p => slices(p._1)._3 - slices(p._1)._2 + 1).sum
    val snapshot = snapshotMs.synchronized(Stats.median(snapshotMs.toSeq))
    ps.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue * 1000000L }
      val start = Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val end = start + d.getOrElse("triggerExecution", 0L)
      val op = 1000000L + p.batchId
      val root = t.add(op, 0, "streaming", "streaming.trigger", start, end)
      var at = start
      Seq("latestOffset", "walCommit", "queryPlanning", "addBatch").foreach { k =>
        val len = d.getOrElse(k, 0L)
        t.add(op, root, "streaming", s"streaming.$k", at, at + len)
        at += len
      }
      val agg = t.sparkIn(start, end)
      t.attachSpark(op, t.spansOf(op), agg)
      val state = p.stateOperators.headOption
      def ms(k: String) = d.getOrElse(k, 0L) / 1e6
      rec.addLayers(Layers.spark(agg) ++ jvm ++ Layers.selfTimes(t.spansOf(op)) ++ Map(
        "streaming.trigger_ms" -> ms("triggerExecution"),
        "streaming.planning_ms" -> ms("queryPlanning"),
        "streaming.wal_commit_ms" -> ms("walCommit"),
        "streaming.add_batch_ms" -> ms("addBatch"),
        "streaming.latest_offset_ms" -> ms("latestOffset"),
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_mb" -> state.map(s => Fs.mb(s.memoryUsedBytes)).getOrElse(0.0),
        "spark.driver_gap_ms" -> (end - start - Trace.covered(agg.jobs, start, end)) / 1e6,
        "destinations.files_written" ->
          sinkWritten.count(x => x._1.startsWith("sink") && x._1.endsWith(".parquet")).toDouble / n,
        "destinations.bytes_written_mb" -> Fs.mb(sinkWritten.values.sum) / n,
        "destinations.log_mb" ->
          Fs.mb(sinkWritten.filter(_._1.startsWith("sink/_delta_log")).values.sum) / n,
        "destinations.checkpoints" ->
          sinkWritten.keys.count(_.contains(".checkpoint")).toDouble / n,
        "destinations.rewrite_ratio" -> rowsAdded.toDouble / math.max(1L, fresh),
        "sources.delta_snapshot_ms" -> snapshot))
    }
  }

  /** Everything the query wrote: the Delta sink and its checkpoint. */
  private def outputs(): Map[String, Long] =
    Fs.listing(dir).filter { case (p, _) => p.startsWith("sink") || p.startsWith("checkpoint") }

  def finish(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    // the reference run: the same Streams functions over every slice at once
    val expected = graft.streaming.Streams.runToMemory(
      graft.streaming.Streams.dedupedStream(
        graft.streaming.Streams.fileSource(spark, src.toString, schema), "ts", Seq("event_id")),
      "stream_reference", org.apache.spark.sql.streaming.OutputMode.Append())
    val actual = graft.sources.DeltaLog.read(spark, sink.toString)
    def digest(df: org.apache.spark.sql.DataFrame) = df.agg(
      org.apache.spark.sql.functions.count("*"),
      org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*),
        org.apache.spark.sql.functions.lit(1000000007L)))).head()
    // the row-level difference is computed only when the digests disagree
    val bad = if (digest(expected) == digest(actual)) Array.empty[Long]
      else expected.exceptAll(actual).union(actual.exceptAll(expected))
        .select("event_id").collect().map(_.getLong(0))
    val badSlices = bad.flatMap(id => slices.indices.find(i => slices(i)._2 <= id && id <= slices(i)._3))
      .map(_.toString).toSet
    rec.markFailed(o => o.kind == "run" && badSlices(o.out), "sink differs from the batch run")
    if (bad.nonEmpty && badSlices.isEmpty)
      rec.markFailed(_.kind == "run", "sink differs from the batch run")
    val end = outputs()
    val written = end.filter { case (p, s) => !windowSinkStart.get(p).contains(s) }.values.sum
    val live = graft.sources.DeltaLog.snapshot(spark, sink.toString).files.map(_.size).sum
    Map(
      "write_amp" -> written.toDouble / math.max(1L, publishedBytes),
      "space_amp" -> Fs.bytes(sink).toDouble / math.max(1L, live),
      "gen_late_ms" -> Stats.median(lateMs),
      "ops_per_s" -> rate,
      "gen_late_max_ms" -> (if (lateMs.isEmpty) 0.0 else lateMs.max),
      "bench.gen_late_ms" -> Stats.median(lateMs))
  }
}
