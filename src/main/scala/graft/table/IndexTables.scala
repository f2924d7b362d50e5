package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SparkSession}

import graft.build.{IndexConfig, InvertedIndex}
import graft.model.CorpusStats

/** Persisted index = four committed tables under one root:
  * docs, postings, termStats, plus stats.json. Each table is a
  * manifest-gated stage → a killed build resumes by skipping committed
  * stages (north rule: resumable DAG of checkpointed snapshots).
  */
object IndexTables {

  /** Write all index tables; stages already committed are skipped.
    * termStats/stats derive from the WRITTEN postings/docs (no
    * recompute of the build pipeline).
    *
    * The two stage CHAINS are independent — (docs → stats.json) and
    * (postings → termStats) — so they are submitted as concurrent
    * Spark jobs from two driver threads: the scheduler interleaves
    * their tasks across idle cores and the per-stage driver tails
    * (job setup, footer lineage, commit) overlap with the other
    * chain's real work instead of serializing after it. Dependency
    * order WITHIN each chain is preserved, so crash-resume semantics
    * are unchanged (each stage is still manifest-gated).
    * Returns total rows written. */
  def write(spark: SparkSession, idx: InvertedIndex, root: String): Long = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fDocs = pool.submit(new java.util.concurrent.Callable[TableFormat.Manifest] {
        def call(): TableFormat.Manifest = {
          val statsPath = Paths.get(root, "stats.json")
          val needStats = !Files.exists(statsPath)
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
            val tmp = Paths.get(root, "_tmp_stats.json")
            Files.writeString(tmp,
              s"""{"numDocs":${st.numDocs},"avgDocLen":${st.avgDocLen},""" +
                s""""shardSizeDocs":${idx.config.shardSizeDocs},""" +
                s""""analyzer":"${idx.config.analyzer.name}"}""")
            Files.move(tmp, statsPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          m
        }
      })
      val fPost = pool.submit(new java.util.concurrent.Callable[(TableFormat.Manifest, TableFormat.Manifest)] {
        def call(): (TableFormat.Manifest, TableFormat.Manifest) = {
          val mPost = TableFormat.write(spark, idx.postings, root, "postings")
          val mStats = if (TableFormat.isCommitted(root, "termStats")) {
            TableFormat.readManifest(root, "termStats")
          } else {
            TableFormat.write(spark,
              InvertedIndex.termStatsOf(TableFormat.read(spark, root, "postings")),
              root, "termStats")
          }
          (mPost, mStats)
        }
      })
      val mDocs = fDocs.get()
      val (mPost, mStats) = fPost.get()
      mDocs.rowCount + mPost.rowCount + mStats.rowCount
    } finally pool.shutdown()
  }

  /** Parse ONLY stats.json — (stats, config) without touching any
    * table data. Lets callers tokenize/validate a query against the
    * snapshot's analyzer before paying the table load. */
  def loadStatsAndConfig(root: String): (CorpusStats, IndexConfig) = {
    val txt = Files.readString(Paths.get(root, "stats.json"))
    val num = "\"numDocs\":([0-9]+)".r.findFirstMatchIn(txt).get.group(1).toLong
    val avg = "\"avgDocLen\":([0-9.Ee+-]+)".r.findFirstMatchIn(txt).get.group(1).toDouble
    val shard = "\"shardSizeDocs\":([0-9]+)".r.findFirstMatchIn(txt).get.group(1).toLong
    // the analyzer the index was BUILT with is part of the snapshot:
    // a reader tokenizing queries with a different analyzer gets
    // silently wrong/empty matches (pre-round-4 snapshots carry no
    // field → standard, the only analyzer that existed then)
    val analyzer = "\"analyzer\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
      .map(m => graft.analysis.TextAnalyzers.byName(m.group(1)))
      .getOrElse(graft.analysis.Analyzer)
    (CorpusStats(num, avg), IndexConfig(shardSizeDocs = shard, analyzer = analyzer))
  }

  def load(spark: SparkSession, root: String): InvertedIndex = {
    val (stats, cfg) = loadStatsAndConfig(root)
    InvertedIndex(
      TableFormat.read(spark, root, "docs"),
      TableFormat.read(spark, root, "postings"),
      TableFormat.read(spark, root, "termStats"),
      stats,
      cfg)
  }
}
