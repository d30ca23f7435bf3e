package pipebench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: state it sets up on a fresh session, the
  * timed operations, and the checks that run after the timed window.
  */
trait Workload {
  /** Fresh state under `dir` on a new session, then warm-up until
    * latencies settle. Timed as set-up.
    */
  def setUp(spark: SparkSession, dir: Path): Unit
  /** Stops what `setUp` started (a server, a running query). */
  def tearDown(): Unit = ()
  /** Runs operations for `seconds`; returns the timed wall in seconds. */
  def measure(spark: SparkSession, rec: Recorder, seconds: Int): Double
  /** Checks deferred past the timed window (marking wrong results as
    * failed operations) and the workload's amplification figures.
    */
  def finish(spark: SparkSession, rec: Recorder): Map[String, Any]
}

/** JVM half of the benchmark. `run.py` generates the inputs, starts this
  * with `--workload --seed --seconds --trace --input --work --result`, and
  * turns the result file into the reported metrics.
  */
object Main {
  def session(nproc: Int, dir: Path): SparkSession = {
    val s = graft.Sessions.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      // keeps every micro-batch's progress for the latency computation
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val input = Paths.get(a("input")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    val seconds = a("seconds").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors
    val w: Workload = a("workload") match {
      case "etl_batch" => new EtlBatch(input)
      case "delta_upsert" => new DeltaUpsert(input, seed)
      case "service_small" => new ServiceSmall(input, seed)
      case "stream_ingest" => new StreamIngest(input)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // one set-up per run, in the run's fresh JVM: a repeated in-process
    // set-up would run warm and hide work moved into first use
    val t0 = System.nanoTime()
    val spark = session(nproc, work)
    w.setUp(spark, work)
    val setup = (System.nanoTime() - t0) / 1e9

    val trace = if (traced) Some(new Trace) else None
    trace.foreach(_.register(spark))
    val rec = new Recorder(trace)
    rec.measuring = true
    val window = w.measure(spark, rec, seconds)
    rec.measuring = false
    trace.foreach(_.drain())
    val fin = w.finish(spark, rec)
    w.tearDown()

    val ops = rec.ops
    val layers = trace.map { t =>
      t.writeSpans(work.resolve("spans.jsonl"))
      val runs = ops.filter(_.kind == "run")
      val on = Stats.median(runs.filter(_.traced).map(_.latMs))
      val off = Stats.median(runs.filterNot(_.traced).map(_.latMs))
      Layers.summarize(rec.layers) ++
        fin.collect { case (k, v: Double) if Layers.Names.contains(k) => k -> v } +
        ("bench.trace_overhead_pct" -> (if (off > 0) (on - off) / off * 100 else 0.0))
    }.getOrElse(Map.empty)
    val out = Map(
      "setup_s" -> setup,
      "window_s" -> window,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "lat_ms" -> o.latMs, "ok" -> o.ok,
        "err" -> o.err, "traced" -> o.traced, "out" -> o.out)),
      "layers" -> layers,
      "peak_rss_mb" -> Probe.peakRssMb(),
    ) ++ fin.filterNot { case (k, _) => Layers.Names.contains(k) }
    Files.writeString(Paths.get(a("result")), Json.write(out))
    spark.stop()
  }
}
