package pipebench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `delta_upsert`: the workload where writes and the transaction log
  * dominate, with reads beside the writes. Closed loop, one client. Set-up
  * creates a real Delta table (`_delta_log`) from the generated orders;
  * each operation is a `type: delta` upsert pipeline of one seeded batch
  * (updates biased toward recent keys, plus new keys), followed by a
  * Delta-source read pipeline. Every third read travels to an earlier
  * version. A run crosses the table's checkpoint interval several times.
  *
  * Reads are checked against a key -> row model of the table kept by the
  * benchmark from the generator's plain-CSV copy of every row it wrote.
  */
final class DeltaUpsert(input: Path, seed: Long) extends Workload {
  import DeltaUpsert._

  private def csv(name: String): Iterator[Array[String]] =
    Files.readAllLines(input.resolve(s"model/$name.csv")).asScala.iterator.drop(1)
      .map(_.split(",", -1).map(_.stripPrefix("\"").stripSuffix("\"")))
  private val initial: Seq[OrderRow] = csv("orders").map(OrderRow.parse).toSeq
  private val batches: IndexedSeq[Seq[OrderRow]] = csv("batches").toSeq
    .groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2.map(a => OrderRow.parse(a.tail))).toIndexedSeq

  private var dir: Path = _
  private var table: Path = _
  private val model = mutable.HashMap.empty[Long, OrderRow]
  private var agg = Agg.zero
  private val history = mutable.HashMap.empty[Long, Agg]
  private var version = 0L
  private var nextBatch = 0
  private var next = 0L
  private var upsertedBytes = 0L
  private val rnd = new scala.util.Random(seed)

  private val schema =
    """  schema:
      |    - { name: o_orderkey, data_type: int64 }
      |    - { name: o_custkey, data_type: int64 }
      |    - { name: o_orderstatus, data_type: string }
      |    - { name: o_totalprice, data_type: float64 }
      |    - { name: o_orderdate, data_type: date32 }
      |    - { name: o_orderpriority, data_type: string }""".stripMargin

  private def write(src: Path, mode: String): String =
    s"""version: v2
       |sources:
       |  - { type: file, name: changes, format: { type: parquet }, location: '$src' }
       |stages:
       |  - - name: rows
       |      query: >
       |        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       |               o_orderpriority FROM changes
       |destination:
       |  type: delta
       |  name: orders_table
       |  location: '$table'
       |  write_mode: $mode
       |  table_properties: { format: delta_log }
       |$schema
       |""".stripMargin

  private def read(view: String, v: Option[Long]): String =
    s"""version: v2
       |sources:
       |  - type: delta
       |    name: orders_t
       |    location: '$table'
       |${v.map(x => s"    version: $x").getOrElse("")}
       |stages:
       |  - - name: digest
       |      query: >
       |        $DigestSql
       |destination: { type: in_memory, name: $view }
       |""".stripMargin

  private def logDir = table.resolve("_delta_log")
  private def latestVersion(): Long =
    Files.list(logDir).iterator().asScala.map(_.getFileName.toString)
      .collect { case VersionFile(v) => v.toLong }.max

  def setUp(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    table = dir.resolve("orders_table")
    InProcess.run(spark, write(input.resolve("orders.parquet"), "{ operation: append }"), traced = false)()
    model.clear()
    initial.foreach(r => model(r.key) = r)
    agg = initial.foldLeft(Agg.zero)(_ + Agg.of(_))
    version = latestVersion()
    history.clear()
    history(version) = agg
    nextBatch = 0
    Settle.run(2, 4)(() => cycle(spark, None))
  }

  private def cycle(spark: SparkSession, rec: Option[Recorder]): Double = {
    val i = next
    next += 1
    val traced = rec.exists(_.tracedOp(i))
    val trace = rec.flatMap(_.trace).filter(_ => traced)
    rec.flatMap(_.trace).foreach(_.on = traced)
    val b = nextBatch % batches.size
    nextBatch += 1
    val src = input.resolve(f"batches/batch_$b%04d.parquet")
    val before = if (traced) Fs.listing(table) else Map.empty[String, Long]

    val up = InProcess.run(spark, write(src, "{ operation: upsert, params: [o_orderkey] }"), traced)()
    batches(b).foreach { r =>
      model.get(r.key).foreach(old => agg = agg - Agg.of(old))
      model(r.key) = r
      agg = agg + Agg.of(r)
    }
    val v0 = version
    version = latestVersion()
    history(version) = agg
    upsertedBytes += Files.size(src)
    val upOk = version == v0 + 1

    val travel = i % 3 == 2
    val earlier = history.keys.filter(_ < version).toSeq.sorted
    val at = if (travel && earlier.nonEmpty) Some(earlier(rnd.nextInt(earlier.size))) else None
    val view = s"digest_$i"
    var got: Option[Agg] = None
    val rd = InProcess.run(spark, read(view, at), traced) {
      got = InProcess.take(spark, view).headOption.map(Agg.fromRow)
    }
    val want = history.get(at.getOrElse(version))
    rec.foreach { r =>
      r.add(OpRec("run", up.latMs, upOk, if (upOk) "" else s"upsert made versions $v0 -> $version", traced))
      val readOk = want.isDefined && got == want
      r.add(OpRec("read", rd.latMs, readOk,
        if (readOk) "" else s"read at ${at.getOrElse(version)}: got $got, model $want", traced))
      trace.foreach { t =>
        val snap0 = Clock.now()
        graft.sources.DeltaLog.read(spark, table.toString)
        at.foreach(v => graft.sources.DeltaLog.read(spark, table.toString, Some(v)))
        val snap1 = Clock.now()
        t.add(i * 2 + 1, 0, "sources", "sources.delta_snapshot", snap0, snap1)
        r.addLayers(InProcess.merge(Seq(up.layers(t, i * 2), rd.layers(t, i * 2 + 1))) ++
          tableStats(before, Fs.listing(table), batches(b).size) +
          ("sources.delta_snapshot_ms" -> (snap1 - snap0) / 1e6 / (1 + at.size)))
      }
    }
    up.latMs
  }

  /** Files, bytes, log bytes and checkpoints one upsert added, and the
    * rows its commit wrote per row upserted (from the commit's add
    * actions).
    */
  private def tableStats(before: Map[String, Long], after: Map[String, Long],
      batchRows: Int): Map[String, Double] = {
    val added = after.filter { case (p, s) => !before.get(p).contains(s) }
    val data = added.filter { case (p, _) => !p.startsWith("_delta_log") && p.endsWith(".parquet") }
    val log = added.filter(_._1.startsWith("_delta_log"))
    val rowsWritten = log.keys.filter(_.endsWith(".json")).toSeq.flatMap { p =>
      Files.readAllLines(table.resolve(p)).asScala.map(Json.read).filter(_.has("add"))
        .map(a => Option(a.get("add").get("stats")).filterNot(_.isNull)
          .map(s => Json.read(s.asText()).path("numRecords").asLong(0L)).getOrElse(0L))
    }.sum
    Map(
      "destinations.files_written" -> data.size.toDouble,
      "destinations.bytes_written_mb" -> Fs.mb(added.values.sum),
      "destinations.log_mb" -> Fs.mb(log.values.sum),
      "destinations.checkpoints" -> log.keys.count(_.contains(".checkpoint")).toDouble,
      "destinations.rewrite_ratio" -> rowsWritten.toDouble / batchRows)
  }

  private var windowStart = Map.empty[String, Long]

  def measure(spark: SparkSession, rec: Recorder, seconds: Int): Double = {
    windowStart = Fs.listing(table)
    upsertedBytes = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    while (System.nanoTime() < deadline) cycle(spark, Some(rec))
    (System.nanoTime() - t0) / 1e9
  }

  def finish(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    val end = Fs.listing(table)
    val written = end.filter { case (p, s) => !windowStart.get(p).contains(s) }.values.sum
    val live = graft.sources.DeltaLog.snapshot(spark, table.toString).files.map(_.size).sum
    Map(
      "write_amp" -> written.toDouble / math.max(1L, upsertedBytes),
      "space_amp" -> end.values.sum.toDouble / math.max(1L, live),
      "table_version" -> version,
      "table_files" -> end.size)
  }
}

object DeltaUpsert {
  private val VersionFile = """(\d{20})\.json""".r

  /** Order-independent digest of the table: a wrong, missing or duplicated
    * row changes at least one of the sums.
    */
  val DigestSql: String =
    """SELECT count(*) AS n, sum(o_orderkey) AS s_key, sum(o_custkey) AS s_cust,
      |               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s_cents,
      |               sum((o_orderkey % 1009) * CAST(round(o_totalprice * 100) AS BIGINT)) AS s_mix,
      |               sum(CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT) * (o_orderkey % 101)) AS s_date,
      |               sum(length(o_orderpriority) * (o_orderkey % 13)
      |                   + ascii(o_orderstatus) * (o_orderkey % 7)) AS s_str
      |        FROM orders_t""".stripMargin.replace("\n", "\n      ")

  final case class OrderRow(key: Long, cust: Long, status: String, cents: Long, days: Long,
      priority: String)
  object OrderRow {
    def parse(a: Array[String]): OrderRow = OrderRow(a(0).toLong, a(1).toLong, a(2),
      new java.math.BigDecimal(a(3)).movePointRight(2).longValueExact(),
      java.time.LocalDate.parse(a(4)).toEpochDay, a(5))
  }

  final case class Agg(n: Long, key: Long, cust: Long, cents: Long, mix: Long, date: Long, str: Long) {
    def +(o: Agg) = Agg(n + o.n, key + o.key, cust + o.cust, cents + o.cents, mix + o.mix,
      date + o.date, str + o.str)
    def -(o: Agg) = Agg(n - o.n, key - o.key, cust - o.cust, cents - o.cents, mix - o.mix,
      date - o.date, str - o.str)
  }
  object Agg {
    val zero = Agg(0, 0, 0, 0, 0, 0, 0)
    def of(r: OrderRow) = Agg(1, r.key, r.cust, r.cents, (r.key % 1009) * r.cents,
      r.days * (r.key % 101), r.priority.length * (r.key % 13) + r.status.charAt(0) * (r.key % 7))
    def fromRow(r: org.apache.spark.sql.Row) = {
      def v(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      Agg(v(0), v(1), v(2), v(3), v(4), v(5), v(6))
    }
  }
}
