package pipebench

import graft.run.{Protocol, RemoteClient, Server}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** `service_small`: the workload where fixed costs and queueing dominate.
  * Closed loop, two NDJSON connections to an in-process `graft.run.Server`
  * through `RemoteClient.submit`. Each connection submits small templated
  * pipelines over sf0.01-sized inputs: the `examples/` shapes and the
  * p01/p06/p07/p08 gate shapes, both connections cycling through them.
  * Literals come from the seed, so runs share shapes but not constants. Destinations are
  * in-memory or single-file CSV; every CSV result is read back by a second
  * submission, as a downstream consumer would. The orders_summary shape
  * filters once into a stage with two consumers, which the Runner
  * persists, so persisted-stage costs show on this workload too.
  *
  * Set-up serves every configuration once and keeps its result's checksum
  * as the expected one; results are checked after the timed window.
  */
final class ServiceSmall(input: Path, seed: Long) extends Workload {
  import ServiceSmall._

  val Clients = 2

  private def src(name: String, table: String) =
    s"  - { type: file, name: $name, format: { type: parquet }, location: '$input/$table.parquet' }"

  private def memDest(name: String) = s"destination: { type: in_memory, name: $name }\n"
  private def csvDest(path: Path) =
    s"destination:\n  type: file\n  name: csv_out\n  format: { type: csv, options: { has_header: true } }\n" +
      s"  location: '$path'\n  single_file: true\n"

  private val rnd = new scala.util.Random(seed)
  val pool: IndexedSeq[Entry] = {
    val price = 50000 + rnd.nextInt(300000)
    val qty = 10 + rnd.nextInt(35)
    val quality = 0.3 + rnd.nextInt(40) / 100.0
    val value = 20 + rnd.nextInt(160)
    val wordLen = rnd.nextInt(4)
    Vector(
      Entry("orders_summary", csv = true,
        s"""version: v2
           |sources:
           |${src("orders", "orders")}
           |stages:
           |  - - name: priced
           |      query: SELECT * FROM orders WHERE o_totalprice > $price
           |  - - name: by_status
           |      query: >
           |        SELECT o_orderstatus, count(*) AS n,
           |               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |        FROM priced GROUP BY o_orderstatus
           |    - name: by_priority
           |      query: >
           |        SELECT o_orderpriority, count(*) AS n
           |        FROM priced GROUP BY o_orderpriority
           |  - - name: summary
           |      query: >
           |        SELECT 'status' AS dim, o_orderstatus AS value, n FROM by_status
           |        UNION ALL
           |        SELECT 'priority' AS dim, o_orderpriority AS value, n FROM by_priority
           |        ORDER BY dim, value
           |""".stripMargin),
      Entry("corpus_stats", csv = false,
        s"""version: v2
           |sources:
           |${src("documents", "documents")}
           |stages:
           |  - - name: words
           |      query: >
           |        SELECT lang, explode(filter(split(trim(nfc_normalize(text)), '\\\\s+'),
           |                 x -> length(x) > $wordLen)) AS word
           |        FROM documents
           |  - - name: top_terms
           |      query: >
           |        SELECT lang, word, n FROM (
           |          SELECT lang, word, count(*) AS n,
           |                 row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, word) AS rank
           |          FROM words GROUP BY lang, word)
           |        WHERE rank <= 10
           |""".stripMargin),
      Entry("text_curation", csv = false,
        s"""version: v2
           |sources:
           |${src("documents", "documents")}
           |stages:
           |  - - name: scored
           |      query: >
           |        SELECT doc_id, lang, quality_score(text) AS quality, lang_id(text) AS lang_pred,
           |               token_count(text) AS n_tokens, dup_word_ratio(text) AS repetition
           |        FROM documents
           |  - - name: curated
           |      query: >
           |        SELECT doc_id, lang, lang_pred, quality, n_tokens FROM scored
           |        WHERE quality >= $quality AND repetition <= 0.6
           |""".stripMargin),
      Entry("p01_agg", csv = false,
        s"""version: v2
           |sources:
           |${src("p1_orders", "orders")}
           |stages:
           |  - - name: p1_filtered
           |      query: >
           |        SELECT o_custkey, o_totalprice, o_orderstatus FROM p1_orders
           |        WHERE o_totalprice > $price
           |  - - name: p1_result
           |      query: >
           |        SELECT o_orderstatus, count(*) AS n,
           |               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |        FROM p1_filtered GROUP BY o_orderstatus
           |""".stripMargin),
      Entry("p06_template", csv = true,
        s"""version: v2
           |sources:
           |${src("tpl_lineitem", "lineitem")}
           |stages:
           |  - - name: p6_result
           |      query: >
           |        SELECT l_returnflag, count(*) AS n FROM tpl_lineitem
           |        WHERE l_quantity >= $qty GROUP BY l_returnflag ORDER BY l_returnflag
           |""".stripMargin),
      Entry("p07_json_ops", csv = false,
        s"""version: v2
           |sources:
           |${src("p7_events", "events")}
           |stages:
           |  - - name: p7_result
           |      query: >
           |        SELECT event_type, count(*) AS n,
           |               CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
           |               max(props->'k') AS k_json
           |        FROM p7_events WHERE value > $value GROUP BY event_type
           |""".stripMargin),
      Entry("p08_csv", csv = true,
        s"""version: v2
           |sources:
           |  - type: file
           |    name: p8_orders
           |    format:
           |      type: csv
           |      options:
           |        has_header: true
           |        schema:
           |          - { name: o_orderkey, data_type: int64 }
           |          - { name: o_custkey, data_type: int64 }
           |          - { name: o_orderstatus, data_type: string }
           |          - { name: o_totalprice, data_type: float64 }
           |    location: '$input/orders_csv/orders.csv'
           |stages:
           |  - - name: p8_result
           |      query: >
           |        SELECT o_orderstatus, count(*) AS n,
           |               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |        FROM p8_orders WHERE o_totalprice < $price
           |        GROUP BY o_orderstatus ORDER BY o_orderstatus
           |""".stripMargin))
  }

  private def readBack(csv: Path, out: Path) =
    s"""version: v2
       |sources:
       |  - { type: file, name: written, format: { type: csv, options: { has_header: true } }, location: '$csv' }
       |stages:
       |  - - name: counted
       |      query: SELECT count(*) AS n FROM written
       |""".stripMargin + csvDest(out)

  private var dir: Path = _
  private var server: Server = _
  private val next = new AtomicLong(0)
  /** Expected (checksum, row count) of each pool entry. */
  private var expected = IndexedSeq.empty[(String, Long)]

  def setUp(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    Files.createDirectories(dir.resolve("out"))
    server = new Server(spark, 0)
    expected = pool.indices.map(k => result(spark, pool(k), op(spark, None, k)._2))
    var k = 0
    Settle.run(2, 3) { () =>
      val (lat, dest) = op(spark, None, k)
      result(spark, pool(k), dest)
      k = (k + 1) % pool.size
      lat
    }
  }

  override def tearDown(): Unit = if (server != null) { server.close(); server = null }

  private def destFor(e: Entry, dest: String) =
    if (e.csv) csvDest(java.nio.file.Paths.get(dest)) else memDest(dest)

  /** (checksum, rows) of a finished run's output, which is then released. */
  private def result(spark: SparkSession, e: Entry, dest: String): (String, Long) = {
    val rows =
      if (e.csv) Files.readAllLines(java.nio.file.Paths.get(dest)).asScala.drop(1).toSeq
      else InProcess.take(spark, dest).map(_.toString)
    (checksum(rows), rows.size.toLong)
  }

  /** One submission through the executor, timed from rendering the
    * configuration to the terminal message. Returns the latency in ms.
    */
  private def submit(yaml: String, traced: Boolean, rec: Option[Recorder], opId: Long,
      kind: String, out: String, extra: => Map[String, Double]): Double = {
    val evs = new ConcurrentLinkedQueue[Ev]()
    val startSnap = new AtomicReference[Probe.Snap]()
    val t0 = Clock.now()
    // the CLI's remote mode validates the rendered document before it ships it
    graft.config.ConfigParser.fromYaml(yaml)
    val t1 = Clock.now()
    val h = RemoteClient.submit("127.0.0.1", server.boundPort, yaml, onMessage = {
      case Protocol.ProgressUpdate(_, _, event) =>
        val e = Ev.parse(Clock.now(), event)
        if (traced && e.kind == "Started") startSnap.set(Probe.snap())
        evs.add(e)
      case _ => ()
    })
    val res = try h.result(120) finally h.close()
    val t2 = Clock.now()
    val lat = (t2 - t0) / 1e6
    rec.foreach { r =>
      r.add(OpRec(kind, lat, res.isRight, res.left.getOrElse(""), traced, out))
      r.trace.filter(_ => traced && res.isRight).foreach { t =>
        val es = evs.asScala.toSeq
        val started = es.find(_.kind == "Started").map(_.t).getOrElse(t1)
        r.addLayers(Layers.pipeline(t, opId, (t0, t2), (t0, t1), (started, t2), Some(t1), es,
          Option(startSnap.get).getOrElse(Probe.snap()), Probe.snap()) ++ extra)
      }
    }
    lat
  }

  /** One submission of pool entry `k` (and the read-back of a CSV
    * result). Returns the latency and where the result went.
    */
  private def op(spark: SparkSession, rec: Option[Recorder], k: Int): (Double, String) = {
    val i = next.getAndIncrement()
    val traced = rec.exists(_.tracedOp(i))
    val e = pool(k)
    val dest = if (e.csv) dir.resolve(f"out/op_$i%06d.csv").toString else f"svc_$i%06d"
    val yaml = e.render(destFor(e, dest))
    // Runner.validate runs inside the executor before `Started`; a traced
    // operation times it directly, outside the operation's latency
    val validateMs = rec.flatMap(_.trace).filter(_ => traced).map { t =>
      val a = Clock.now()
      graft.run.Runner.validate(spark, graft.config.ConfigParser.fromYaml(yaml))
      val b = Clock.now()
      t.add(i * 2, 0, "run", "run.validate", a, b)
      (b - a) / 1e6
    }.getOrElse(0.0)
    val lat = submit(yaml, traced, rec, i * 2, "run", s"$k|$dest", {
      val files = if (e.csv) Fs.listing(dir.resolve("out")).filter(_._1.contains(f"op_$i%06d"))
        else Map.empty[String, Long]
      Map("destinations.files_written" -> files.count(_._1.endsWith(".csv")).toDouble,
        "destinations.bytes_written_mb" -> Fs.mb(files.values.sum),
        "run.validate_ms" -> validateMs)
    })
    if (e.csv) {
      val readOut = dir.resolve(f"out/read_$i%06d.csv")
      submit(readBack(java.nio.file.Paths.get(dest), readOut), traced, rec, i * 2 + 1, "read",
        s"$k|$readOut", Map.empty)
    }
    (lat, dest)
  }

  def measure(spark: SparkSession, rec: Recorder, seconds: Int): Double = {
    rec.trace.foreach(_.on = true)
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    // both connections walk the pool in the same order, so every run
    // submits the same shapes in the same proportions, and each submission
    // queues behind the other connection's copy of the same shape
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        var n = 0
        while (System.nanoTime() < deadline) {
          op(spark, Some(rec), n % pool.size)
          n += 1
        }
      }, s"pipebench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def finish(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    rec.trace.foreach(_.on = false)
    // (written, data) bytes of each CSV-destination run, by pool entry
    val files = scala.collection.mutable.Map.empty[Int, Vector[(Long, Long)]]
    rec.ops.foreach { o =>
      val Array(k, dest) = o.out.split("\\|", 2)
      val e = pool(k.toInt)
      if (o.ok) {
        val (sum, rows) =
          if (o.kind == "run") result(spark, e, dest)
          else (Files.readAllLines(java.nio.file.Paths.get(dest)).asScala.drop(1).mkString, 0L)
        val ok = if (o.kind == "run") (sum, rows) == expected(k.toInt)
          else sum == expected(k.toInt)._2.toString
        if (!ok) rec.markFailed(_ eq o, s"${e.shape}: result differs from the set-up run")
      }
      if (o.kind == "run" && e.csv) {
        val p = java.nio.file.Paths.get(dest)
        val crc = p.resolveSibling(s".${p.getFileName}.crc")
        val data = if (Files.exists(p)) Files.size(p) else 0L
        val written = Seq(p, crc).filter(Files.exists(_)).map(Files.size).sum
        files(k.toInt) = files.getOrElse(k.toInt, Vector.empty) :+ (written -> data)
      }
    }
    // amplification of one pass through the CSV shapes, each counted once
    // with its median run, so it does not move with how many runs of each
    // shape the window happened to hold
    val perShape = files.toSeq.map { case (k, ws) =>
      val input = Inputs.findAllIn(pool(k).body).map(p => Files.size(java.nio.file.Paths.get(p))).sum
      (Stats.median(ws.map(_._1.toDouble)), Stats.median(ws.map(_._2.toDouble)), input.toDouble)
    }
    Map(
      "write_amp" -> perShape.map(_._1).sum / math.max(1.0, perShape.map(_._3).sum),
      "space_amp" -> perShape.map(_._1).sum / math.max(1.0, perShape.map(_._2).sum))
  }
}

object ServiceSmall {
  /** A templated configuration: `render(destination)` gives the document. */
  final case class Entry(shape: String, csv: Boolean, body: String) {
    def render(dest: String): String = body + dest
  }

  private val Inputs = """(?<=location: ')[^']+""".r

  def checksum(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
