package graft.table

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    val fileRows = footerRowCounts(tmp)
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

  /** Row count per data file from parquet footer metadata, sorted by
    * file name — read CONCURRENTLY: a serial loop is O(#files) driver
    * latency appended to every snapshot commit. */
  private[graft] def footerRowCounts(dir: Path): Seq[FileLineage] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = listChildren(dir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(files.size, 16)))
    try {
      files.map { p =>
        pool.submit(new java.util.concurrent.Callable[FileLineage] {
          def call(): FileLineage = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try FileLineage(p.getFileName.toString, reader.getRecordCount)
            finally reader.close()
          }
        })
      }.map(_.get()).sortBy(_.file)
    } finally pool.shutdown()
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

  def read(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.parquet(readManifest(root, table).dataPath)
}
