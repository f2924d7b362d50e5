package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SparkSession}

import graft.build.{IndexConfig, InvertedIndex}
import graft.model.{CorpusStats, Phases}

/** Persisted index = two committed tables under one root, docs and
  * postings, plus stats.json. Each table is a manifest-gated stage → a
  * killed build resumes by skipping committed stages (north rule:
  * resumable DAG of checkpointed snapshots). The term dictionary is
  * never written: every index derives it from its postings
  * (`InvertedIndex.termStatsOf`). A `termStats` table left by earlier
  * versions is ignored.
  */
object IndexTables {

  private val Tables = Seq("docs", "postings")
  private val StatsFile = "stats.json"

  /** Write the index tables; stages already committed are skipped.
    * The two chains — docs → stats.json, and postings — run as
    * concurrent Spark jobs (`TableFormat.concurrently`), each described
    * by its phase (`DocsPhase`, `PostingsPhase`). Returns total rows written. */
  def write(spark: SparkSession, idx: InvertedIndex, root: String): Long = {
    val (mDocs, mPost) = TableFormat.concurrently(
      Phases.described(spark, DocsPhase)(writeDocsAndStats(spark, idx, root)),
      Phases.described(spark, PostingsPhase)(
        TableFormat.write(spark, idx.postings, root, "postings")))
    mDocs.rowCount + mPost.rowCount
  }

  /** Job descriptions of `write`'s two chains. A built index's postings
    * are lazy, so its tokenize (the merge shuffle's map side) and merge
    * jobs run inside the postings write. */
  private[graft] val DocsPhase = "graft write: docs + stats"
  private[graft] val PostingsPhase = "graft write: postings (tokenize + merge)"

  /** The docs table, then stats.json from the WRITTEN docs (no
    * recompute of the build pipeline). */
  private def writeDocsAndStats(spark: SparkSession, idx: InvertedIndex,
      root: String): TableFormat.Manifest = {
    val needStats = !Files.exists(Paths.get(root, StatsFile))
    // corpus stats ride the docs WRITE job as observed metrics —
    // no second scan of the docs table (at corpus scale that
    // second pass re-reads the whole table just for (N, avgdl)).
    // Resume path (docs already committed → no write job runs)
    // falls back to a dl-column-pruned scan of the stored table.
    val obs =
      if (needStats && !TableFormat.isCommitted(root, "docs"))
        Some(org.apache.spark.sql.Observation())
      else None
    val docsDf = obs match {
      case Some(o) => idx.docs.observe(o,
        InvertedIndex.corpusStatsCols.head, InvertedIndex.corpusStatsCols.tail: _*)
      case None => idx.docs
    }
    val m = TableFormat.write(spark, docsDf, root, "docs")
    if (needStats) {
      // observed metrics can overcount under speculative/retried
      // tasks (accumulator semantics); the manifest rowCount from
      // the committed parquet footers is EXACT — trust the
      // observation only when its count matches, else rescan
      val observed = obs.map { o =>
        val row = o.get
        CorpusStats(row("n").asInstanceOf[Long],
          Option(row("avgdl")).map(_.asInstanceOf[Double]).getOrElse(0.0))
      }.filter(_.numDocs == m.rowCount)
      val st = observed.getOrElse(
        InvertedIndex.corpusStatsOf(TableFormat.read(spark, root, "docs")))
      TableFormat.commitJson(root, StatsFile,
        Seq("numDocs" -> st.numDocs.toString, "avgDocLen" -> st.avgDocLen.toString) ++
          configFields(idx.config), replace = false)
    }
    m
  }

  /** Parse ONLY stats.json — (stats, config) without touching any
    * table data. Lets callers tokenize/validate a query against the
    * snapshot's analyzer before paying the table load. */
  def loadStatsAndConfig(root: String): (CorpusStats, IndexConfig) = {
    val txt = Files.readString(Paths.get(root, StatsFile))
    val (shard, analyzerName) = configOf(txt).get
    // the analyzer the index was BUILT with is part of the snapshot:
    // a reader tokenizing queries with a different analyzer gets
    // silently wrong/empty matches (pre-round-4 snapshots carry no
    // field → standard, the only analyzer that existed then)
    val analyzer = analyzerName.map(graft.analysis.TextAnalyzers.byName)
      .getOrElse(graft.analysis.Analyzer)
    (CorpusStats(TableFormat.jsonField(txt, "numDocs").get.toLong,
      TableFormat.jsonField(txt, "avgDocLen").get.toDouble),
      IndexConfig(shardSizeDocs = shard, analyzer = analyzer))
  }

  /** The (shardSizeDocs, analyzer) pair as JSON fields — the one
    * mapping stats.json and the streaming ingest_config.json share. */
  private[graft] def configFields(cfg: IndexConfig): Seq[(String, String)] =
    Seq("shardSizeDocs" -> cfg.shardSizeDocs.toString,
      "analyzer" -> TableFormat.str(cfg.analyzer.name))

  /** (shardSizeDocs, analyzer name) back from `configFields`' JSON;
    * the analyzer is None in files written before it was recorded
    * (standard was the only analyzer then). */
  private[graft] def configOf(text: String): Option[(Long, Option[String])] =
    TableFormat.jsonField(text, "shardSizeDocs")
      .map(s => (s.toLong, TableFormat.jsonField(text, "analyzer")))

  /** Cheap filesystem fingerprint of a committed snapshot: (mtime,
    * size) of the two table manifests plus stats.json (three stat
    * calls — no data I/O). An in-place rewrite commits new manifests;
    * size rides along because mtime alone has filesystem-dependent
    * granularity (1 s on some filesystems) and a rewrite landing
    * within one tick — or a copy preserving timestamps — would
    * otherwise serve a stale cached index for the JVM lifetime.
    * A rewrite changing neither mtime nor manifest byte size (same
    * snapshot id, same file set, same second) is indistinguishable
    * from no change — and content-identical for our writers, which
    * never reuse a snapshot id. */
  private[graft] def snapshotVersion(root: String): String =
    (Tables.map(TableFormat.manifestPath(root, _)) :+ Paths.get(root, StatsFile))
      .map { p =>
        if (Files.exists(p))
          Files.getLastModifiedTime(p).toMillis.toString + ":" + Files.size(p)
        else "-1"
      }.mkString(",")

  /** Every file of a complete snapshot is committed: the two table
    * manifests and stats.json. */
  private[graft] def isComplete(root: String): Boolean =
    Tables.forall(TableFormat.isCommitted(root, _)) && Files.exists(Paths.get(root, StatsFile))

  def load(spark: SparkSession, root: String): InvertedIndex = {
    val (stats, cfg) = loadStatsAndConfig(root)
    InvertedIndex(
      TableFormat.read(spark, root, "docs"),
      TableFormat.read(spark, root, "postings"),
      stats,
      cfg)
  }
}
