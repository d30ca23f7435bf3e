package pipebench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** `etl_batch`: the workload where execution dominates. Closed loop, one
  * client, `Runner.run` in process. The pipeline has the reference's
  * canonical shape: a parallel group (lineitem aggregate, orders
  * projection, scored documents), a join with two consumers (which the
  * Runner persists), two parallel aggregates, a union, and a
  * hive-partitioned parquet destination. Each run is followed by a
  * read-back pipeline over what it wrote.
  *
  * Outputs are checked after the run against DuckDB (run.py), so the only
  * work inside the timed window is the product's.
  */
final class EtlBatch(input: Path) extends Workload {
  private var dir: Path = _
  private var next = 0L
  private val inputs = Seq("lineitem", "orders", "customer", "documents")
  private val inputBytes = inputs.map(t => Files.size(input.resolve(s"$t.parquet"))).sum

  private def source(t: String) =
    s"  - { type: file, name: $t, format: { type: parquet }, location: '$input/$t.parquet' }"

  def pipeline(out: Path): String =
    s"""version: v2
       |sources:
       |${inputs.map(source).mkString("\n")}
       |stages:
       |  - - name: li_agg
       |      query: >
       |        SELECT l_orderkey,
       |               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
       |                        * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS revenue,
       |               CAST(sum(l_quantity) AS BIGINT) AS qty, count(*) AS n_lines
       |        FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' GROUP BY l_orderkey
       |    - name: ord
       |      query: >
       |        SELECT o_orderkey, o_custkey, o_orderpriority, year(o_orderdate) AS o_year
       |        FROM orders WHERE o_orderstatus <> 'P'
       |    - name: docs
       |      query: >
       |        SELECT lang, quality_score(text) AS quality, token_count(text) AS n_tok
       |        FROM documents
       |  - - name: joined
       |      query: >
       |        SELECT o.o_orderpriority, o.o_year, c.c_mktsegment, l.revenue, l.qty, l.n_lines
       |        FROM li_agg l JOIN ord o ON l.l_orderkey = o.o_orderkey
       |        JOIN customer c ON o.o_custkey = c.c_custkey
       |  - - name: by_segment
       |      query: >
       |        SELECT c_mktsegment AS dim, o_year, count(*) AS n, sum(revenue) AS revenue,
       |               sum(qty) AS qty
       |        FROM joined GROUP BY c_mktsegment, o_year
       |    - name: by_priority
       |      query: >
       |        SELECT o_orderpriority AS dim, o_year, count(*) AS n, sum(revenue) AS revenue,
       |               sum(qty) AS qty
       |        FROM joined GROUP BY o_orderpriority, o_year
       |  - - name: report
       |      query: >
       |        SELECT 'segment' AS kind, dim, o_year, n, revenue, qty FROM by_segment
       |        UNION ALL
       |        SELECT 'priority' AS kind, dim, o_year, n, revenue, qty FROM by_priority
       |        UNION ALL
       |        SELECT 'lang' AS kind, lang AS dim, 0 AS o_year, count(*) AS n,
       |               CAST(sum(CAST(quality AS DECIMAL(10,4))) AS DECIMAL(18,4)) AS revenue,
       |               CAST(sum(n_tok) AS BIGINT) AS qty
       |        FROM docs GROUP BY lang
       |destination:
       |  type: file
       |  name: report_out
       |  format: { type: parquet }
       |  location: '$out'
       |  single_file: false
       |  partition_columns: [kind]
       |""".stripMargin

  def readBack(out: Path, view: String): String =
    s"""version: v2
       |sources:
       |  - type: directory
       |    name: report
       |    format: { type: parquet }
       |    location: '$out'
       |    partition_columns: [[kind, string]]
       |stages:
       |  - - name: summary
       |      query: SELECT kind, count(*) AS n_rows, sum(n) AS n FROM report GROUP BY kind
       |destination: { type: in_memory, name: $view }
       |""".stripMargin

  def setUp(spark: SparkSession, dir: Path): Unit = {
    this.dir = dir
    Settle.run(2, 6)(() => cycle(spark, None))
  }

  /** One operation: the ETL run, then its read-back. Returns the ETL
    * run's latency.
    */
  private def cycle(spark: SparkSession, rec: Option[Recorder]): Double = {
    val i = next
    next += 1
    val traced = rec.exists(_.tracedOp(i))
    rec.flatMap(_.trace).foreach(_.on = traced)
    val out = dir.resolve(f"out/op_$i%05d")
    val run = InProcess.run(spark, pipeline(out), traced)()
    val view = s"readback_$i"
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val read = InProcess.run(spark, readBack(out, view), traced) {
      rows = InProcess.take(spark, view)
    }
    rec.foreach { r =>
      r.add(OpRec("run", run.latMs, ok = true, "", traced, out.toString))
      val summary = rows.map(x => s"${x.getString(0)}:${x.getLong(1)}:${x.getLong(2)}")
        .sorted.mkString(";")
      r.add(OpRec("read", read.latMs, ok = true, "", traced, summary))
      r.trace.filter(_ => traced).foreach { t =>
        val files = Fs.listing(out)
        val data = files.filter(_._1.endsWith(".parquet"))
        r.addLayers(InProcess.merge(Seq(run.layers(t, i * 2), read.layers(t, i * 2 + 1))) ++ Map(
          "destinations.files_written" -> data.size.toDouble,
          "destinations.bytes_written_mb" -> Fs.mb(files.values.sum)))
      }
    }
    run.latMs
  }

  def measure(spark: SparkSession, rec: Recorder, seconds: Int): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    while (System.nanoTime() < deadline) cycle(spark, Some(rec))
    (System.nanoTime() - t0) / 1e9
  }

  def finish(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    val outs = rec.ops.filter(_.kind == "run").map(o => Fs.listing(java.nio.file.Paths.get(o.out)))
    val written = outs.map(_.values.sum)
    val data = outs.map(_.filter(_._1.endsWith(".parquet")).values.sum)
    Map(
      "write_amp" -> Stats.median(written.map(_.toDouble / inputBytes)),
      "space_amp" -> written.sum.toDouble / math.max(1L, data.sum),
      "input_mb" -> Fs.mb(inputBytes))
  }
}
