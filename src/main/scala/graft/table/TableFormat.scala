package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-style table layout we own (SURVEY.md §7.0 — no Iceberg
  * runtime ships in this sandbox): immutable Parquet data directories
  * plus a JSON snapshot manifest per table, committed atomically via
  * write-temp-then-rename. A table write is visible iff its manifest
  * exists; a crashed/killed write leaves only an orphan temp dir.
  * Manifests carry row counts and per-file lineage (the north rule's
  * per-partition lineage + metrics), and a monotonically increasing
  * snapshot id (≙ the reference's segmentId counter,
  * hbasene HBaseIndexStore.java:269-272). The interface stays thin so
  * a real Iceberg catalog can replace it.
  */
object TableFormat {

  final case class FileLineage(file: String, rows: Long)
  final case class Manifest(
      table: String,
      snapshotId: Long,
      dataPath: String,
      rowCount: Long,
      files: Seq[FileLineage])

  private def manifestPath(root: String, table: String): Path =
    Paths.get(root, s"$table.manifest.json")

  def isCommitted(root: String, table: String): Boolean =
    Files.exists(manifestPath(root, table))

  def readManifest(root: String, table: String): Manifest = {
    val txt = Files.readString(manifestPath(root, table))
    // minimal JSON parse (format is ours)
    def field(k: String): String = {
      val m = ("\"" + k + "\"\\s*:\\s*(\"[^\"]*\"|[0-9]+)").r
        .findFirstMatchIn(txt).get.group(1)
      m.stripPrefix("\"").stripSuffix("\"")
    }
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
    val snap = if (snapshotId > 0) snapshotId else nextSnapshotId(root)
    val tmp = Paths.get(root, s"_tmp_${table}_$snap")
    val dataDir = Paths.get(root, s"$table.snap-$snap")
    // Crash window: died after the data-dir ATOMIC_MOVE but before the
    // manifest commit → manifest absent, dataDir present. The snapshot
    // is unreferenced (visible iff manifest exists), so delete the
    // stale dir and redo the write — keeps resume idempotent.
    if (Files.exists(dataDir)) deleteRecursively(dataDir)
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
    val m = Manifest(table, snap, dataDir.toString, total, fileRows.toSeq)
    commitManifest(root, m)
    m
  }

  /** Directory children, with the Files.list stream CLOSED (each open
    * stream holds a directory fd; deep recursion / many rewrites in a
    * long-lived driver would otherwise exhaust fds). */
  private def listChildren(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listChildren(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Row count per data file from parquet footer metadata — read
    * CONCURRENTLY: a serial loop is O(#files) driver latency appended
    * to every snapshot commit. */
  private def footerRowCounts(dir: Path): Seq[FileLineage] = {
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

  private def commitManifest(root: String, m: Manifest): Unit = {
    val files = m.files
      .map(f => s"""{"file":"${f.file}","rows":${f.rows}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"table":"${m.table}","snapshotId":${m.snapshotId},""" +
        s""""dataPath":"${m.dataPath}","rowCount":${m.rowCount},""" +
        s""""files":$files}"""
    val tmp = Paths.get(root, s"_tmp_manifest_${m.table}_${m.snapshotId}.json")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(root, m.table), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Snapshot-id allocation: the driver is the table format's single
    * writer (manifest commits are driver-side atomic renames), but one
    * driver may write INDEPENDENT tables concurrently (IndexTables
    * runs its two stage chains on two threads) — so ids are reserved
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
