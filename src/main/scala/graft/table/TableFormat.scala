package graft.table

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.SchemaShim
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style table layout we own (SURVEY.md §7.0 — no Iceberg
  * runtime ships in this sandbox): immutable Parquet data directories
  * plus a JSON snapshot manifest per table, committed atomically via
  * write-temp-then-rename. A table write is visible iff its manifest
  * exists; a crashed/killed write leaves only unreferenced entries,
  * which the next write of the same table reclaims.
  * Manifests carry row counts and per-file lineage (the north rule's
  * per-partition lineage + metrics), and a monotonically increasing
  * snapshot id (≙ the reference's segmentId counter,
  * hbasene HBaseIndexStore.java:269-272). The interface stays thin so
  * a real Iceberg catalog can replace it.
  *
  * This is the one module that commits, reads, lists and removes the
  * files graft writes: table snapshots and the small JSON sidecars
  * (stats.json, ingest_config.json, deletes_applied.json,
  * pruned_watermark.json) all go through `commitJson`/`readJson`.
  */
object TableFormat {

  final case class FileLineage(file: String, rows: Long)
  final case class Manifest(
      table: String,
      snapshotId: Long,
      dataPath: String,
      rowCount: Long,
      files: Seq[FileLineage])

  private val ManifestSuffix = ".manifest.json"

  private[graft] def manifestPath(root: String, table: String): Path =
    Paths.get(root, s"$table$ManifestSuffix")

  def isCommitted(root: String, table: String): Boolean =
    Files.exists(manifestPath(root, table))

  def readManifest(root: String, table: String): Manifest = {
    val txt = Files.readString(manifestPath(root, table))
    def field(k: String): String = jsonField(txt, k).get
    val files = ("\\{\"file\":\"([^\"]+)\",\"rows\":([0-9]+)\\}").r
      .findAllMatchIn(txt)
      .map(m => FileLineage(m.group(1), m.group(2).toLong)).toSeq
    Manifest(field("table"), field("snapshotId").toLong,
      field("dataPath"), field("rowCount").toLong, files)
  }

  /** Write df as a new snapshot of `table` under `root`; returns the
    * manifest. Idempotent-resume: if a committed manifest exists, the
    * write is SKIPPED and the existing manifest returned. */
  def write(spark: SparkSession, df: DataFrame, root: String, table: String,
      snapshotId: Long = 0L): Manifest = {
    if (isCommitted(root, table)) return readManifest(root, table)
    Files.createDirectories(Paths.get(root))
    // Crash window: an earlier write of this table died before its
    // manifest commit and left its temp dir, its moved data dir and/or
    // its manifest temp file. No manifest references them (visible iff
    // manifest exists), so reclaim them before allocating an id —
    // otherwise every crash leaks O(table size) for good
    drop(root, table)
    val snap = if (snapshotId > 0) snapshotId else nextSnapshotId(root)
    val tmp = Paths.get(root, s"_tmp_${table}_$snap")
    val dataDir = Paths.get(root, s"$table.snap-$snap")
    // snappy, not zstd (Spark 4 default): posting blocks are already
    // delta+varint packed — zstd burns ~2-8× write CPU for little gain.
    // no REBALANCE hint: its exchange costs 4-6% of build wall (OPTIMIZATION_r06.md §9)
    df.write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(tmp.toString)
    // lineage: per-file row counts straight from the parquet footers
    // (driver-side metadata reads — no Spark job)
    val fileRows = footers(spark, tmp).map(_.lineage)
    val total = fileRows.map(_.rows).sum
    Files.move(tmp, dataDir, StandardCopyOption.ATOMIC_MOVE)
    val m = Manifest(table, snap, dataDir.toString, total, fileRows)
    if (commitManifest(root, m)) m
    else { // another writer committed this table first: yield to it
      deleteRecursively(dataDir)
      readManifest(root, table)
    }
  }

  /** Does root entry `name` belong to `table`: a data dir
    * `<table>.snap-*`, a write temp dir `_tmp_<table>_*`, or a manifest
    * temp file (`_tmp_<table>.manifest.json.*`, or the
    * `_tmp_manifest_<table>_*` name of earlier versions). Exact
    * `<table>.` / `<table>_` prefixes: `docs-b1` never owns `docs-b10`. */
  private def owns(table: String, name: String): Boolean =
    name.startsWith(s"$table.snap-") ||
      Seq("_tmp_", "_tmp_manifest_").exists { p =>
        name.startsWith(s"$p${table}_") || name.startsWith(s"$p$table.")
      }

  /** Remove `table` from `root`: the manifest FIRST — that atomically
    * removes the table from every load path — then every entry the
    * table owns. A crash in between leaves only unreferenced entries,
    * which the next drop or write of the table reclaims. */
  private[graft] def drop(root: String, table: String): Unit = {
    Files.deleteIfExists(manifestPath(root, table))
    listChildren(Paths.get(root))
      .filter(p => owns(table, p.getFileName.toString))
      .foreach(deleteRecursively)
  }

  /** Names of the tables committed under `root` (one per manifest);
    * none when `root` does not exist yet. */
  private[graft] def committedTables(root: String): Seq[String] =
    if (!Files.isDirectory(Paths.get(root))) Nil
    else listChildren(Paths.get(root)).map(_.getFileName.toString)
      .collect { case n if n.endsWith(ManifestSuffix) => n.stripSuffix(ManifestSuffix) }

  /** Run two independent write chains as concurrent Spark jobs: `b` on
    * a second driver thread, `a` on this one. The scheduler interleaves
    * their tasks across idle cores, and each chain's driver tail (job
    * set-up, footer lineage, manifest commit) overlaps the other's work
    * instead of following it. Order within each chain is kept and every
    * table stays manifest-gated, so crash-resume is unchanged. Returns
    * both results once both chains finish. */
  private[graft] def concurrently[A, B](a: => A, b: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fb = pool.submit(new java.util.concurrent.Callable[B] { def call(): B = b })
      (a, fb.get())
    } finally pool.shutdown()
  }

  /** Directory children, with the Files.list stream CLOSED (each open
    * stream holds a directory fd; deep recursion / many rewrites in a
    * long-lived driver would otherwise exhaust fds). */
  private[graft] def listChildren(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listChildren(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Spark's row schema (JSON) in a parquet footer's key-value
    * metadata: every file Spark writes carries it. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** One data file's footer: its lineage (row count) and the Spark row
    * schema it carries, if any. */
  private[graft] final case class Footer(lineage: FileLineage, schema: Option[StructType])

  /** Data files of a parquet dir, by name: `.parquet` files that Spark's
    * listing would not skip as hidden (`_`/`.` prefix). A path that is
    * not a local directory has none. */
  private def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else listChildren(dir).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getFileName.toString)

  /** The one parquet footer reader. `conf` is the SparkContext's shared
    * Hadoop configuration (building a fresh one costs ~10 ms). The
    * schema is the one Spark's own inference takes from this footer,
    * nullable as the file source makes every read schema; None when the
    * footer lacks Spark's row metadata. */
  private def readFooter(conf: Configuration, file: Path): Footer = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file.toString), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val meta = Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey))
      val schema = meta.flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption).collect {
        case s: StructType => SchemaShim.asNullable(s)
      }
      Footer(FileLineage(file.getFileName.toString, reader.getRecordCount), schema)
    } finally reader.close()
  }

  /** `f` over `items` on up to 16 driver threads, results in order: a
    * serial loop of footer reads is O(#files) driver latency. */
  private def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(items.size, 16))
      try items.map { a =>
        pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })
      }.map(_.get())
      finally pool.shutdown()
    }

  /** Every data file's footer of parquet dir `dir`, sorted by file
    * name, read concurrently on the driver — no Spark job. */
  private[graft] def footers(spark: SparkSession, dir: Path): Seq[Footer] = {
    val conf = spark.sparkContext.hadoopConfiguration
    inParallel(dataFiles(dir))(readFooter(conf, _))
  }

  /** The schema Spark would infer for parquet dir `dir`, from
    * ONE data file's footer on the driver (Spark's own inference, with
    * schema merging off, also reads one file's row metadata — but in a
    * Spark job). None when the dir holds no parquet file or its footer
    * carries no Spark row metadata. */
  private def footerSchema(conf: Configuration, dir: String): Option[StructType] =
    dataFiles(Paths.get(dir)).headOption.flatMap(readFooter(conf, _).schema)

  /** Parquet data at `dirs`, read as ONE file scan with `schema`, or
    * with Spark's schema inference (a Spark job) when it is unknown. */
  private[graft] def readParquet(spark: SparkSession, schema: Option[StructType],
      dirs: Seq[String]): DataFrame = schema match {
    case Some(s) => spark.read.schema(s).parquet(dirs: _*)
    case None => spark.read.parquet(dirs: _*)
  }

  private def commitManifest(root: String, m: Manifest): Boolean = {
    val files = m.files
      .map(f => s"""{"file":"${f.file}","rows":${f.rows}}""")
      .mkString("[", ",", "]")
    commitJson(root, s"${m.table}$ManifestSuffix", Seq(
      "table" -> str(m.table), "snapshotId" -> m.snapshotId.toString,
      "dataPath" -> str(m.dataPath), "rowCount" -> m.rowCount.toString,
      "files" -> files), replace = false)
  }

  /** JSON string literal (our values never hold quotes or escapes). */
  private[graft] def str(s: String): String = "\"" + s + "\""

  /** Commit `{"k":v,…}` (values are JSON literals, in order) as
    * `dir/name` from a same-directory temp file — a reader sees the old
    * file or the whole new one, never a half-written one. `replace`:
    * ATOMIC_MOVE over any existing file. Otherwise a hard link, which
    * fails atomically if `dir/name` exists (a rename would overwrite
    * it): the commit then yields to the file already there. Returns
    * whether this call's content was committed. */
  private[graft] def commitJson(dir: String, name: String,
      fields: Seq[(String, String)], replace: Boolean): Boolean = {
    val json = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val tmp = Paths.get(dir, s"_tmp_$name.${System.nanoTime()}")
    Files.writeString(tmp, json)
    val dst = Paths.get(dir, name)
    try {
      if (replace) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      else Files.createLink(dst, tmp)
      true
    } catch { case _: FileAlreadyExistsException if !replace => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Text of the JSON file `dir/name`, if it exists. */
  private[graft] def readJson(dir: String, name: String): Option[String] = {
    val p = Paths.get(dir, name)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** Value of top-level `key` in a JSON object graft wrote: a string
    * (unquoted here) or a bare number. */
  private[graft] def jsonField(text: String, key: String): Option[String] =
    ("\"" + key + "\"\\s*:\\s*(\"[^\"]*\"|[^,}\\s]+)").r
      .findFirstMatchIn(text).map(_.group(1).stripPrefix("\"").stripSuffix("\""))

  /** Snapshot-id allocation: the driver is the table format's single
    * writer (manifest commits are driver-side atomic renames), but one
    * driver may write INDEPENDENT tables concurrently (`concurrently`
    * runs two write chains on two threads) — so ids are reserved
    * under a JVM lock, seeded from the on-disk maximum. */
  private val allocLock = new Object
  private val reservedIds = scala.collection.mutable.Map.empty[String, Long]

  private def nextSnapshotId(root: String): Long = allocLock.synchronized {
    val existing = listChildren(Paths.get(root))
      .map(_.getFileName.toString)
      .collect { case n if n.contains(".snap-") =>
        n.substring(n.indexOf(".snap-") + 6).toLong
      }
    val onDisk = if (existing.isEmpty) 0L else existing.max
    val next = math.max(onDisk, reservedIds.getOrElse(root, 0L)) + 1L
    reservedIds(root) = next
    next
  }

  /** Committed `table` of `root`. Its schema comes from one data
    * file's footer (Spark's row metadata), so the read launches no
    * Spark job; a table whose footer lacks that metadata, or that holds
    * no parquet file, falls back to Spark's schema inference — its job,
    * result and errors. */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    readTables(spark, root, Seq(table))

  /** Committed `tables` of ONE root as one DataFrame: the tables'
    * footers are read concurrently on the driver, tables with the same
    * exact schema are read as ONE file scan, and those groups (in the
    * order of their first table) are combined by `unionByName` — so
    * groups whose columns differ only in order still line up, and
    * groups with different column sets fail here as a union of
    * per-table reads would. A table with no footer schema is read on
    * its own, with inference. Past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) dirs
    * in one scan, Spark lists their files in one Spark job. */
  private[graft] def readTables(spark: SparkSession, root: String,
      tables: Seq[String]): DataFrame = {
    require(tables.nonEmpty, s"no tables to read under $root")
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = tables.map(readManifest(root, _).dataPath)
    val schemas = inParallel(dirs)(footerSchema(conf, _))
    val byDir = dirs.zip(schemas)
    schemas.distinct.flatMap {
      case None => byDir.collect { case (d, None) => readParquet(spark, None, Seq(d)) }
      case s => Seq(readParquet(spark, s, byDir.collect { case (d, `s`) => d }))
    }.reduce(_ unionByName _)
  }
}
