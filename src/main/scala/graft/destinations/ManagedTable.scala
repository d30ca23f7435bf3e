package graft.destinations

import graft.config.{Location, ReplaceCondition, Types}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Versioned managed table over parquet snapshots — the engine's stand-in for
  * a Delta/Iceberg-style table (no table-format jar ships with the image).
  *
  * Semantics ported from the reference's delta layer — create-if-absent
  * (aqueducts/delta/src/lib.rs:141-163), cast-to-schema (:331-362), append
  * (:177-199), keyed upsert with null-safe + order-insensitive list-key
  * equality (:240-328), predicate replace (:203-231, :365-375), time travel
  * (:45-74) — but re-architected for Spark's execution model:
  *
  *   - '''Commit log, not snapshot copies.''' `_log/v%08d.json` lists the
  *     data files of each version; data files are immutable and shared
  *     between versions. Append adds files and touches no existing data.
  *   - '''File-pruned merge.''' Upsert/replace first finds the data files
  *     that actually contain affected rows (`_metadata.file_path` semi-join
  *     against the source keys / predicate), keeps every untouched file
  *     as-is in the new commit, and rewrites only touched files. At 100 TB
  *     an upsert that hits 0.1% of files rewrites 0.1% of the table — the
  *     same file-skipping shape real lakehouse formats use.
  *   - All merge logic is expressed as joins (anti/semi) on executors; the
  *     only driver-side data is the file list (the manifest).
  *
  * Single-writer: commits are created atomically via rename-without-overwrite;
  * a lost race throws rather than corrupting the log.
  */
object ManagedTable {

  final case class Commit(
      version: Long,
      timestampMs: Long,
      operation: String,
      schemaJson: String,
      partitionColumns: Seq[String],
      files: Seq[String], // relative to <root>/
      properties: Map[String, String])

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def logDir(root: Path) = new Path(root, "_log")
  def dataDir(root: Path) = new Path(root, "data")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, loc: Location): Boolean = {
    val root = new Path(loc.spark)
    fs(spark, root).exists(logDir(root))
  }

  // ------------------------------------------------------------------ log

  private def commitPath(root: Path, v: Long) = new Path(logDir(root), f"v$v%08d.json")

  def commits(spark: SparkSession, loc: Location): Seq[Commit] = {
    val root = new Path(loc.spark)
    val f = fs(spark, root)
    if (!f.exists(logDir(root))) return Nil
    f.listStatus(logDir(root)).toSeq
      .filter(s => s.getPath.getName.matches("v\\d{8}\\.json"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val in = f.open(s.getPath)
        try readCommit(new String(in.readAllBytes(), "UTF-8"))
        finally in.close()
      }
  }

  private def readCommit(json: String): Commit = {
    val n = mapper.readTree(json)
    Commit(
      version = n.get("version").asLong(),
      timestampMs = n.get("timestampMs").asLong(),
      operation = n.get("operation").asText(),
      schemaJson = n.get("schema").asText(),
      partitionColumns = n.get("partitionColumns").elements().asScala.map(_.asText()).toSeq,
      files = n.get("files").elements().asScala.map(_.asText()).toSeq,
      properties = Option(n.get("properties")).map(p =>
        p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
  }

  private def writeCommit(spark: SparkSession, root: Path, c: Commit): Unit = {
    val f = fs(spark, root)
    f.mkdirs(logDir(root))
    val nonce = java.util.UUID.randomUUID().toString
    val node = mapper.createObjectNode()
    node.put("version", c.version)
    node.put("timestampMs", c.timestampMs)
    node.put("operation", c.operation)
    node.put("schema", c.schemaJson)
    // identifies WHOSE bytes survived a commit race on filesystems without
    // atomic create-exclusive (readCommit ignores unknown fields)
    node.put("writerNonce", nonce)
    val pc = node.putArray("partitionColumns"); c.partitionColumns.foreach(pc.add)
    val fl = node.putArray("files"); c.files.foreach(fl.add)
    val pr = node.putObject("properties"); c.properties.foreach { case (k, v) => pr.put(k, v) }
    val tmp = new Path(logDir(root), s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
    val target = commitPath(root, c.version)
    // Atomic create-exclusive commit. On HDFS-like filesystems rename()
    // refuses an existing destination, so exists+rename is already
    // exclusive. On LOCAL filesystems Hadoop delegates to POSIX rename(),
    // which silently OVERWRITES — an exists() pre-check is a TOCTOU race
    // that loses commits under contention. There, hard-link creation gives
    // true O_EXCL semantics: exactly one contender gets the version, the
    // rest see FileAlreadyExists. Object stores (s3a/gs/abfss) implement
    // rename as copy with an equally racy destination check, so the rename
    // is followed by a read-back: exactly one contender's nonce survives,
    // and the loser(s) detect the lost race instead of silently dropping a
    // commit. (True S3 safety needs conditional PUT or a lock service —
    // out of scope for the generic FileSystem API; the read-back converts
    // silent loss into a detected, retryable failure.)
    val won =
      if (f.getUri.getScheme == "file") {
        val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
        val targetNio = java.nio.file.Paths.get(target.toUri.getPath)
        try { java.nio.file.Files.createLink(targetNio, tmpNio); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        val renamed = !f.exists(target) && f.rename(tmp, target)
        renamed && {
          val observed =
            try {
              val in = f.open(target)
              try Option(mapper.readTree(new String(in.readAllBytes(), "UTF-8"))
                .get("writerNonce")).map(_.asText)
              finally in.close()
            } catch { case _: Exception => None }
          observed.contains(nonce)
        }
      }
    f.delete(tmp, false) // tmp is spent either way (the link carries the data)
    if (!won)
      throw new IllegalStateException(
        s"Concurrent commit detected for version ${c.version} at $root")
  }

  // ----------------------------------------------------------------- read

  /** Open the table at latest / `version` / `timestamp` (time travel). */
  def read(
      spark: SparkSession,
      loc: Location,
      version: Option[Long] = None,
      timestamp: Option[java.time.Instant] = None): DataFrame = {
    val all = commits(spark, loc)
    require(all.nonEmpty, s"Managed table does not exist at ${loc.spark}")
    val chosen = (version, timestamp) match {
      case (Some(v), _) =>
        all.find(_.version == v).getOrElse(
          throw new IllegalArgumentException(s"Version $v not found at ${loc.spark} (latest ${all.last.version})"))
      case (None, Some(ts)) =>
        val upTo = all.filter(_.timestampMs <= ts.toEpochMilli)
        require(upTo.nonEmpty, s"No version at or before $ts at ${loc.spark}")
        upTo.last
      case _ => all.last
    }
    readCommitData(spark, loc, chosen)
  }

  private def readCommitData(spark: SparkSession, loc: Location, c: Commit): DataFrame = {
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    val root = new Path(loc.spark)
    if (c.files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      val paths = c.files.map(rel => new Path(root, rel).toString)
      // basePath recovers hive partition columns encoded in data/<k>=<v>/ dirs
      val df = spark.read
        .option("basePath", dataDir(root).toString)
        .schema(schema)
        .parquet(paths: _*)
      df.select(schema.fieldNames.toIndexedSeq.map(col): _*)
    }
  }

  // ---------------------------------------------------------------- create

  /** Create the table if absent (declared schema, partition cols, properties);
    * no-op when it already exists — reference SaveMode::Ignore semantics.
    */
  def createIfAbsent(
      spark: SparkSession,
      loc: Location,
      schema: Seq[Types.FieldSpec],
      partitionColumns: Seq[String],
      properties: Map[String, String]): Unit = {
    if (exists(spark, loc)) return
    require(schema.nonEmpty, s"Creating managed table at ${loc.spark} requires a declared schema")
    val root = new Path(loc.spark)
    writeCommit(spark, root, Commit(
      version = 0L,
      timestampMs = System.currentTimeMillis(),
      operation = "create",
      schemaJson = Types.toStruct(schema).json,
      partitionColumns = partitionColumns,
      files = Nil,
      properties = properties))
  }

  // ----------------------------------------------------------------- write

  /** Append with bounded retry-with-rebase: an append only ADDS files, so a
    * lost commit race (another writer took the version) is resolved by
    * re-reading the new latest commit, re-attaching this append's (already
    * written, uniquely named) data files, and retrying the manifest write.
    * Schema and partitioning are fixed at create time, so a rebase cannot
    * invalidate the written files. Upsert/replace stay single-writer: their
    * read-modify-write depends on the exact base snapshot.
    */
  def append(spark: SparkSession, loc: Location, df: DataFrame): Long = {
    val first = latest(spark, loc)
    val data = castToSchema(df, tableSchema(first))
    val newFiles = writeDataFiles(spark, loc, data, first.partitionColumns)
    val maxRetries = 5
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val cur = latest(spark, loc)
      try committed = commitNext(spark, loc, cur, "append", cur.files ++ newFiles)
      catch {
        case e: IllegalStateException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
          Thread.sleep(5L << attempt) // backoff so contending writers interleave
      }
    }
    committed
  }

  /** MERGE: rows whose key columns match (null-safe scalars, set-equal lists)
    * are replaced by the incoming row; everything else is kept; unmatched
    * incoming rows are inserted.
    */
  def upsert(spark: SparkSession, loc: Location, df: DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "upsert requires at least one key column")
    val last = latest(spark, loc)
    val schema = tableSchema(last)
    keys.foreach(k => require(schema.fieldNames.contains(k), s"upsert key '$k' not in table schema"))
    val source = castToSchema(df, schema).cache()
    try {

    val existingFiles = last.files
    val touched: Set[String] =
      if (existingFiles.isEmpty) Set.empty
      else {
        val existing = readCommitData(spark, loc, last)
          .withColumn("_graft_file", col("_metadata.file_path"))
        val srcKeys = broadcastIfSmall(source.select(keys.map(col): _*).distinct())
        val cond = keys.map(k => keyEquals(existing(k), srcKeys(k), schema(k).dataType)).reduce(_ && _)
        existing.join(srcKeys, cond, "left_semi")
          .select(col("_graft_file")).distinct()
          .collect().map(r => relativize(spark, loc, r.getString(0))).toSet
      }

    val untouched = existingFiles.filterNot(touched.contains)
    // survivors: rows in touched files whose key matches no source key
    val survivors =
      if (touched.isEmpty) None
      else {
        val touchedDf = readFiles(spark, loc, last, touched.toSeq)
        val srcKeys = broadcastIfSmall(source.select(keys.map(col): _*).distinct())
        val cond = keys.map(k => keyEquals(touchedDf(k), srcKeys(k), schema(k).dataType)).reduce(_ && _)
        Some(touchedDf.join(srcKeys, cond, "left_anti").select(schema.fieldNames.toIndexedSeq.map(col): _*))
      }
    val rewritten = survivors.map(_.unionByName(source)).getOrElse(source)
    val newFiles = writeDataFiles(spark, loc, rewritten, last.partitionColumns)
    commitNext(spark, loc, last, "upsert", untouched ++ newFiles)

    // finally, not inline: a failed write or lost commit race must release
    // the cached source too, or a retrying service leaks one cache per try
    } finally source.unpersist()
  }

  /** Delete rows matching ALL `conditions` (empty ⇒ full overwrite), then
    * write the new data. Only files containing matching rows are rewritten.
    */
  def replace(
      spark: SparkSession,
      loc: Location,
      df: DataFrame,
      conditions: Seq[ReplaceCondition]): Long = {
    val last = latest(spark, loc)
    val schema = tableSchema(last)
    val data = castToSchema(df, schema)

    if (conditions.isEmpty) { // full overwrite
      val newFiles = writeDataFiles(spark, loc, data, last.partitionColumns)
      return commitNext(spark, loc, last, "replace", newFiles)
    }

    val pred = conditions.map { c =>
      val f = schema.find(_.name == c.column)
        .getOrElse(throw new IllegalArgumentException(s"replace column '${c.column}' not in schema"))
      col(c.column) <=> lit(c.value).cast(f.dataType)
    }.reduce(_ && _)

    val touched: Set[String] =
      if (last.files.isEmpty) Set.empty
      else readCommitData(spark, loc, last)
        .withColumn("_graft_file", col("_metadata.file_path"))
        .filter(pred)
        .select(col("_graft_file")).distinct()
        .collect().map(r => relativize(spark, loc, r.getString(0))).toSet

    val untouched = last.files.filterNot(touched.contains)
    val survivors =
      if (touched.isEmpty) None
      else Some(readFiles(spark, loc, last, touched.toSeq).filter(!pred)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*))
    val rewritten = survivors.map(_.unionByName(data)).getOrElse(data)
    val newFiles = writeDataFiles(spark, loc, rewritten, last.partitionColumns)
    commitNext(spark, loc, last, "replace", untouched ++ newFiles)
  }

  // ------------------------------------------------------------ maintenance

  /** Commit history as a DataFrame (version, timestamp, operation, file and
    * row-free stats) — the DESCRIBE HISTORY equivalent.
    */
  def history(spark: SparkSession, loc: Location): DataFrame = {
    import spark.implicits._
    commits(spark, loc)
      .map(c => (c.version, new java.sql.Timestamp(c.timestampMs), c.operation, c.files.size))
      .toDF("version", "timestamp", "operation", "n_files")
  }

  /** Bin-pack small data files into ~`targetFileBytes` files (the OPTIMIZE /
    * compaction maintenance op). Only files under half the target are
    * rewritten; large files carry over by reference, so compaction cost
    * tracks the small-file debt, not the table size. Data is unchanged —
    * the new commit just swaps N small files for ceil(bytes/target) bigger
    * ones. Returns the new version (or the current one if nothing to do).
    */
  def compact(spark: SparkSession, loc: Location, targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val last = latest(spark, loc)
    val root = new Path(loc.spark)
    val f = fs(spark, root)
    val sizes = last.files.map(rel => rel -> f.getFileStatus(new Path(root, rel)).getLen)
    val small = sizes.filter(_._2 < targetFileBytes / 2).map(_._1)
    if (small.size < 2) return last.version
    val smallBytes = sizes.filter(s => small.contains(s._1)).map(_._2).sum
    val nOut = math.max(1, math.ceil(smallBytes.toDouble / targetFileBytes).toInt)
    val rewritten = readFiles(spark, loc, last, small)
      .select(tableSchema(last).fieldNames.toIndexedSeq.map(col): _*)
      .coalesce(nOut)
    val newFiles = writeDataFiles(spark, loc, rewritten, last.partitionColumns)
    val smallSet = small.toSet
    commitNext(spark, loc, last, "compact", last.files.filterNot(smallSet.contains) ++ newFiles)
  }

  /** Drop history: keep only the latest `keepVersions` commits, delete data
    * files referenced by no kept commit. Bounds storage growth from
    * upsert/replace rewrites; time travel beyond the horizon is gone.
    *
    * Also reclaims ORPHANS: data files referenced by no commit at all —
    * left behind by writers that crashed or lost a commit race after
    * writing their part files (writes land data before the commit, so a
    * failed commit strands them). Only orphans older than `orphanGraceMs`
    * are deleted, so a concurrent writer's just-written, not-yet-committed
    * files are never swept (the standard lakehouse-VACUUM retention rule).
    *
    * Returns the number of data files deleted.
    */
  def vacuum(spark: SparkSession, loc: Location, keepVersions: Int = 1,
      orphanGraceMs: Long = 7L * 24 * 3600 * 1000): Int = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val all = commits(spark, loc)
    require(all.nonEmpty, s"Managed table does not exist at ${loc.spark}")
    val (dropped, kept) = all.splitAt(math.max(0, all.size - keepVersions))
    val keptFiles = kept.flatMap(_.files).toSet
    val root = new Path(loc.spark)
    val f = fs(spark, root)
    var removed = 0
    dropped.flatMap(_.files).distinct.filterNot(keptFiles.contains).foreach { rel =>
      if (f.delete(new Path(root, rel), false)) removed += 1
    }
    dropped.foreach(c => f.delete(commitPath(root, c.version), false))
    // orphan sweep: anything under data/ no commit (kept or dropped) refers to
    val referenced = all.flatMap(_.files).toSet
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    val dd = dataDir(root)
    if (f.exists(dd)) {
      val it = f.listFiles(dd, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getModificationTime < cutoff &&
            !referenced.contains(relativize(spark, loc, f.makeQualified(s.getPath).toString))) {
          if (f.delete(s.getPath, false)) removed += 1
        }
      }
    }
    removed
  }

  // -------------------------------------------------------------- internals

  /** The newest commit, by reading ONE log file. Commits are self-contained
    * (each carries the full file list, schema, and properties), so only the
    * max-version name needs parsing — `commits()`'s read-everything walk is
    * for history/time-travel/vacuum, and would make every write O(table
    * history) in log reads on a long-lived streaming table.
    */
  private def latest(spark: SparkSession, loc: Location): Commit = {
    val root = new Path(loc.spark)
    val f = fs(spark, root)
    val names =
      if (!f.exists(logDir(root))) Seq.empty
      else f.listStatus(logDir(root)).toSeq.map(_.getPath)
        .filter(_.getName.matches("v\\d{8}\\.json"))
    require(names.nonEmpty, s"Managed table does not exist at ${loc.spark} — create it first")
    val in = f.open(names.maxBy(_.getName))
    try readCommit(new String(in.readAllBytes(), "UTF-8"))
    finally in.close()
  }

  private def tableSchema(c: Commit): StructType =
    DataType.fromJson(c.schemaJson).asInstanceOf[StructType]

  private def commitNext(
      spark: SparkSession, loc: Location, last: Commit, op: String, files: Seq[String]): Long = {
    val v = last.version + 1
    writeCommit(spark, new Path(loc.spark), last.copy(
      version = v,
      timestampMs = System.currentTimeMillis(),
      operation = op,
      files = files))
    v
  }

  /** Cast input to the table schema (reference delta/src/lib.rs:331-362):
    * matching columns cast to the declared type; absent nullable columns
    * become nulls; absent non-nullable columns are an error; extras dropped.
    */
  def castToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else if (f.nullable) lit(null).cast(f.dataType).as(f.name)
      else throw new IllegalArgumentException(
        s"Input is missing non-nullable column '${f.name}' required by table schema")
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Merge-key equality (reference delta/src/lib.rs:249-286): null-safe for
    * scalars; for list keys, order-insensitive set equality with explicit
    * empty/null handling (array_except both ways).
    */
  def keyEquals(a: Column, b: Column, dt: DataType): Column = dt match {
    case _: ArrayType =>
      (a.isNull && b.isNull) ||
        (a.isNotNull && b.isNotNull &&
          size(array_except(a, b)) === 0 && size(array_except(b, a)) === 0)
    case _ => a <=> b
  }

  /** Broadcast the key set when small enough for a map-side semi/anti join —
    * the common case (incremental upserts are small vs the table).
    *
    * r18: decided from the OPTIMIZER'S size estimate, not a counting job —
    * the old `limit(100001).count()` launched a Spark job (and recomputed
    * the incoming frame, which may itself be expensive) on every
    * upsert/delete just to pick a join strategy. A wrong estimate only
    * changes the plan, never the result — the estimate is a fast path,
    * not a correctness gate.
    *
    * r19 (r18 verdict/advice): the hint is added ONLY when the estimate
    * cannot be a fan-out underestimate. Size-only estimation passes
    * `Generate` (explode) through at the child's size and a join's output
    * can dwarf its inputs, so a plan containing either can report 32 MB
    * for a frame that is really unbounded — and an explicit `broadcast()`
    * bypasses `autoBroadcastJoinThreshold` AND AQE's runtime size checks
    * (driver OOM or the hard 8 GB broadcast cap at 100 TB). Filters,
    * projections, aggregates and limits only ever shrink the TRUE size
    * below their input's, and leaves without real statistics surface the
    * conf default (huge), failing the threshold on their own. When the
    * hint is withheld, AQE still promotes the runtime-small side to a
    * broadcast join from actual shuffle sizes — we lose only the
    * pre-runtime shortcut, never safety. ManagedTableSpec pins that a
    * Generate-bearing frame is never hinted.
    */
  private[destinations] def broadcastIfSmall(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
    def estimateReliable(p: LogicalPlan): Boolean = p match {
      case _: Generate | _: Join => false
      case other => other.children.forall(estimateReliable)
    }
    val plan = df.queryExecution.optimizedPlan
    if (plan.stats.sizeInBytes <= BigInt(32L << 20) && estimateReliable(plan))
      broadcast(df)
    else df
  }

  private def readFiles(spark: SparkSession, loc: Location, c: Commit, rel: Seq[String]): DataFrame = {
    val root = new Path(loc.spark)
    spark.read
      .option("basePath", dataDir(root).toString)
      .schema(tableSchema(c))
      .parquet(rel.map(r => new Path(root, r).toString): _*)
  }

  private def relativize(spark: SparkSession, loc: Location, filePath: String): String = {
    val root = fs(spark, new Path(loc.spark)).makeQualified(new Path(loc.spark)).toString
    val p = new Path(filePath).toString
    require(p.startsWith(root), s"file $p outside table root $root")
    p.substring(root.length).dropWhile(_ == '/')
  }

  /** Write `df` as immutable parquet files under `data/`, preserving hive
    * partition sub-paths, and return the new files' table-relative paths.
    * The frame is written to a temp dir then each part file is moved into
    * the shared `data/` tree (one rename per file, no data copy).
    */
  private def writeDataFiles(
      spark: SparkSession, loc: Location, df: DataFrame, partitionColumns: Seq[String]): Seq[String] = {
    val root = new Path(loc.spark)
    val f = fs(spark, root)
    val tmp = new Path(root, s"_tmp-${java.util.UUID.randomUUID()}")
    val writer = df.write.mode("overwrite")
    (if (partitionColumns.nonEmpty) writer.partitionBy(partitionColumns: _*) else writer)
      .parquet(tmp.toString)

    val moved = Seq.newBuilder[String]
    val it = f.listFiles(tmp, true)
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val relDir = relativeDir(tmp, s.getPath.getParent)
        val destDir = if (relDir.isEmpty) dataDir(root) else new Path(dataDir(root), relDir)
        f.mkdirs(destDir)
        val unique = s"part-${java.util.UUID.randomUUID()}.parquet"
        val dest = new Path(destDir, unique)
        if (!f.rename(s.getPath, dest))
          throw new IllegalStateException(s"Failed to move ${s.getPath} to $dest")
        moved += relativize(spark, loc, f.makeQualified(dest).toString)
      }
    }
    f.delete(tmp, true)
    moved.result()
  }

  private def relativeDir(base: Path, dir: Path): String = {
    val b = base.toString
    val d = dir.toString
    if (d == b) "" else d.substring(b.length).dropWhile(_ == '/')
  }
}
