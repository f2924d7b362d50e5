package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.build.{IndexBuilder, IndexConfig, InvertedIndex}
import graft.model.Phases
import graft.table.{IndexTables, TableFormat}

/** Incremental index ingestion on Structured Streaming.
  *
  * The reference's synchronous commit-batch model (buffer
  * maxCommitDocs docs → flush a segment, hbasene
  * HBaseIndexStore.java:147-213) becomes: each micro-batch builds a
  * complete partial index (docs + encoded posting partials) and
  * commits it as one SEGMENT snapshot pair under the index root.
  * foreachBatch + manifest-gated writes give exactly-once on replay
  * (a re-delivered batchId finds its manifests committed and
  * skips — same idempotence the resume path uses).
  *
  * `loadMerged` reads the newest compaction plus every newer segment:
  * each table kind of the root (segment docs, segment postings,
  * delete tables) is ONE parquet scan with the schema taken from the
  * tables' footers (`TableFormat.readTables`), so the load launches no
  * Spark job. Postings merge by pure block
  * concatenation when batches carry NON-OVERLAPPING docId ranges
  * (true for monotone id assignment upstream, e.g. an append-only
  * table with increasing ids); interleaved ranges are detected at
  * merge (blob minDoc monotonicity check, IndexBuilder.mergeBlobs)
  * and handled by decode-sort-re-encode compaction.
  */
object StreamingIndexer {

  /** Job descriptions of the batch write entry points (`append`,
    * `delete`, `compact`); `compact`'s table writes run under
    * `IndexTables`' write phases. */
  private[graft] val AppendPhase = "graft streaming: append"
  private[graft] val DeletePhase = "graft streaming: delete"
  private[graft] val CompactPhase = "graft streaming: compact"

  /** Attach the indexer to a streaming DataFrame with columns
    * (idCol: long-castable, textCol: string, untokenized...: string).
    * Caller starts/stops the returned writer. */
  def writer(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      untokenized: Seq[String],
      root: String,
      cfg: IndexConfig = IndexConfig()): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        // batch ids at or below the prune watermark were DELETED as
        // compaction-covered; a restarted ingest with a fresh
        // checkpoint restarts batchId at 0 and would silently write
        // segments every load path ignores and the next prune removes
        // the watermark is the smallest batch id whose segments still
        // exist (prune deletes STRICTLY below the compaction id, so
        // the newest compacted batch keeps its manifests as the
        // idempotence marker): a replay of that batch skips cleanly on
        // its committed manifests, while any id below the watermark
        // can only be a fresh-checkpoint restart recycling deleted ids
        prunedBelow(root).foreach { w =>
          require(batchId >= w,
            s"batchId $batchId at index root $root is below the prune " +
              s"watermark $w — segments with these ids were already compacted " +
              "and deleted. Resume with the ORIGINAL checkpoint (ids continue " +
              "monotonically) or ingest into a fresh index root.")
        }
        writeIngestConfig(root, cfg)
        writeSegment(spark, root, batchId,
          IndexBuilder.fromText(spark, batch, idCol, textCol, untokenized, cfg))
      }
    }

  /** Commit `idx` as segment `batchId`: tables `docs-b<id>` and
    * `postings-b<id>`, written as two concurrent chains
    * (`TableFormat.concurrently`). A batch is visible only when BOTH
    * manifests exist (`completeBatches`), so a crash mid-pair leaves an
    * invisible half segment. */
  private def writeSegment(spark: SparkSession, root: String, batchId: Long,
      idx: InvertedIndex): Unit = {
    TableFormat.concurrently(
      TableFormat.write(spark, idx.docs, root, s"docs-b$batchId", snapshotId = batchId + 1),
      TableFormat.write(spark, idx.postings, root, s"postings-b$batchId",
        snapshotId = batchId + 1))
    ()
  }

  /** Persist the build config alongside the segments: the shard width
    * is baked into every stored posting row, so a reader MUST use the
    * same value — loadMerged restores it rather than trusting the
    * caller's (possibly defaulted) cfg. Restarting an ingest with a
    * DIFFERENT width fails fast here: new segments sharded with a new
    * width would mismatch the persisted one and mis-prune/mis-score
    * queries silently. */
  private def writeIngestConfig(root: String, cfg: IndexConfig): Unit =
    readIngestConfig(root) match {
      case Some((shard, analyzerName)) =>
        require(shard == cfg.shardSizeDocs,
          s"index at $root was ingested with shardSizeDocs=$shard but this " +
            s"run was configured with ${cfg.shardSizeDocs}; mixed shard widths " +
            "corrupt WAND/dl pruning — reuse the original width or a fresh root")
        // mixed analyzers across segments tokenize the SAME text
        // differently — queries could never match all segments at once.
        // A config without the analyzer field is a pre-upgrade root:
        // its segments were built with the standard analyzer (the only
        // one that existed), so enforce that and UPGRADE the config so
        // the guard is explicit from here on.
        val prior = analyzerName.getOrElse(graft.analysis.Analyzer.name)
        require(prior == cfg.analyzer.name,
          s"index at $root was ingested with analyzer '$prior' but this run " +
            s"was configured with '${cfg.analyzer.name}'; mixed analyzers " +
            "produce incompatible token streams — reuse the original " +
            "analyzer or a fresh root")
        if (analyzerName.isEmpty)
          TableFormat.commitJson(root, IngestConfigFile, IndexTables.configFields(cfg),
            replace = true)
      case None =>
        Files.createDirectories(Paths.get(root))
        // yielded to a concurrent first ingest: validate against its config
        if (!TableFormat.commitJson(root, IngestConfigFile,
            IndexTables.configFields(cfg), replace = false))
          writeIngestConfig(root, cfg)
    }

  private val IngestConfigFile = "ingest_config.json"

  /** (shardSizeDocs, analyzer name) from ingest_config.json; analyzer
    * is None for pre-round-4 roots (standard was the only analyzer). */
  private def readIngestConfig(root: String): Option[(Long, Option[String])] =
    TableFormat.readJson(root, IngestConfigFile).flatMap(IndexTables.configOf)

  /** `cfg` with the shard width + analyzer of the root's persisted
    * ingest config, when one exists: the stored rows were produced with
    * them, and a mismatched caller cfg would silently mis-prune /
    * mis-tokenize. */
  private def ingestConfigOr(root: String, cfg: IndexConfig): IndexConfig =
    readIngestConfig(root).map { case (shard, analyzerName) =>
      cfg.copy(shardSizeDocs = shard,
        analyzer = analyzerName.map(graft.analysis.TextAnalyzers.byName)
          .getOrElse(cfg.analyzer))
    }.getOrElse(cfg)

  def start(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      untokenized: Seq[String],
      root: String,
      checkpoint: String,
      cfg: IndexConfig = IndexConfig()): StreamingQuery =
    writer(stream, idCol, textCol, untokenized, root, cfg)
      .option("checkpointLocation", checkpoint)
      .start()

  private def segmentTables(root: String, prefix: String): Seq[String] =
    TableFormat.committedTables(root).filter(_.startsWith(prefix))
      .sortBy(_.stripPrefix(prefix).toLong)

  /** Batch ids with BOTH docs and postings manifests committed. A
    * crash between a batch's two table commits (`writeSegment`) leaves
    * a HALF segment: no load or compaction may
    * consume it — replaying the batch completes it first (streaming
    * processes batches in order, so a later batch cannot commit while
    * an earlier one is half-written). */
  def completeBatches(root: String): Seq[Long] = {
    val d = segmentTables(root, "docs-b").map(_.stripPrefix("docs-b").toLong).toSet
    val po = segmentTables(root, "postings-b")
      .map(_.stripPrefix("postings-b").toLong).toSet
    d.intersect(po).toSeq.sorted
  }

  /** Batch segment append (Lucene IndexWriter.addDocuments without a
    * stream): index `docs` as ONE new segment at the next free batch
    * id. Shard width + analyzer follow the root's persisted ingest
    * config when one exists (fail-fast on mismatch — the same guard
    * streaming ingestion runs); a fresh root adopts `cfg` and persists
    * it. docIds (idCol) must be new to the index: a duplicate docId
    * fails the next merge loudly (duplicate-docId invariant in
    * mergeSegmentRows) instead of silently shadowing. The id is
    * allocated past EVERY existing segment table (complete or half),
    * so a crashed append never gets its id recycled with different
    * data — the half segment stays invisible (completeBatches excludes
    * it) until the orphan sweep reclaims it. Single-writer discipline
    * per root, like delete/compaction sequence allocation. */
  def append(
      spark: SparkSession,
      root: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      untokenized: Seq[String] = Nil,
      cfg: IndexConfig = IndexConfig()): Long = Phases.described(spark, AppendPhase) {
    val effCfg = ingestConfigOr(root, cfg)
    val used = segmentTables(root, "docs-b").map(_.stripPrefix("docs-b").toLong) ++
      segmentTables(root, "postings-b").map(_.stripPrefix("postings-b").toLong)
    // floor: never recycle a pruned/compacted id (a fully-pruned root
    // has no segment tables but its compaction base still names the
    // highest batch it merged — loadMerged would ignore a reused id)
    val floor = math.max(prunedBelow(root).getOrElse(0L),
      latestCompactionInfo(root).map(_.batch + 1).getOrElse(0L))
    val batchId = math.max(used.maxOption.map(_ + 1L).getOrElse(0L), floor)
    writeIngestConfig(root, effCfg)
    writeSegment(spark, root, batchId,
      IndexBuilder.fromText(spark, docs, idCol, textCol, untokenized, effCfg))
    batchId
  }

  /** Lucene IndexWriter.updateDocument parity: replace documents in
    * one logical operation — the replacements land as a fresh segment
    * FIRST, then the old docIds tombstone. A crash between the two
    * steps leaves BOTH versions visible (a document is never lost);
    * re-issuing the delete of `oldIds` completes the update. Until the
    * next compact() the replacement is tombstone-visible (hits exclude
    * the old docs, stats stay stale — Lucene pre-merge semantics);
    * compaction applies it physically. Replacement docIds must be
    * FRESH (Lucene updateDocument also allocates new internal ids).
    * Returns (segment batch id, delete sequence). */
  def updateDocuments(
      spark: SparkSession,
      root: String,
      oldIds: DataFrame,
      replacements: DataFrame,
      idCol: String,
      textCol: String,
      untokenized: Seq[String] = Nil): (Long, Long) = {
    val b = append(spark, root, replacements, idCol, textCol, untokenized)
    val d = delete(spark, root, oldIds)
    (b, d)
  }

  // ---- document deletion (tombstone tables under the index root) ----

  /** Record a delete batch: one committed `deletes-d<seq>` table of
    * docIds. Tombstones take effect on the next loadMerged (read-time
    * anti-join) and are applied PHYSICALLY by the next compact();
    * pruneSegments reclaims delete tables once a compaction has
    * absorbed them. Returns the delete sequence number. Sequence
    * allocation assumes the root's single-writer discipline (same as
    * segment/compaction ids). */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Long =
    Phases.described(spark, DeletePhase) {
      val seq = deleteSeqs(root).lastOption.getOrElse(-1L) + 1L
      val norm = ids.select(col(ids.columns.head).cast("long").as("docId"))
      TableFormat.write(spark, norm, root, s"deletes-d$seq")
      seq
    }

  def deleteIds(spark: SparkSession, root: String, ids: Seq[Long]): Long = {
    import spark.implicits._
    delete(spark, root, ids.toDF("docId"))
  }

  /** Committed delete-table sequence numbers, ascending. */
  def deleteSeqs(root: String): Seq[Long] =
    segmentTables(root, "deletes-d").map(_.stripPrefix("deletes-d").toLong)

  /** Highest delete seq a compaction snapshot has PHYSICALLY applied
    * (−1 = none / pre-deletes snapshot). Missing marker is safe: the
    * load path then re-attaches already-applied delete tables as
    * tombstones, and anti-joining ids that are already gone is a
    * no-op. */
  private def appliedDeletesThrough(compactionDir: String): Long =
    TableFormat.readJson(compactionDir, "deletes_applied.json")
      .flatMap(TableFormat.jsonField(_, "appliedThrough")).map(_.toLong).getOrElse(-1L)

  private def writeAppliedDeletes(compactionDir: String, through: Long): Unit =
    TableFormat.commitJson(compactionDir, "deletes_applied.json",
      Seq("appliedThrough" -> through.toString), replace = true)

  private def prunedBelow(root: String): Option[Long] =
    TableFormat.readJson(root, "pruned_watermark.json")
      .flatMap(TableFormat.jsonField(_, "prunedBelow")).map(_.toLong)

  private def writePrunedBelow(root: String, n: Long): Unit =
    if (n > prunedBelow(root).getOrElse(-1L)) {
      // atomic rename like every other JSON commit — a copy could be
      // observed half-written, silently bypassing the recycled-id guard
      TableFormat.commitJson(root, "pruned_watermark.json",
        Seq("prunedBelow" -> n.toString), replace = true)
    }

  /** Compact all committed segment snapshots into ONE persisted
    * docs/postings/stats.json snapshot under
    * `root/compacted-<latestBatch>` (the reference's segment merge /
    * Lucene optimize, as a batch job): postings merge by blob
    * concatenation (re-encoding fragmented or interleaved runs), and
    * corpus stats derive from the written docs. The
    * result loads with `IndexTables.load` — query cost no longer grows
    * with the number of ingested micro-batches. Compaction is
    * INCREMENTAL: loadMerged bases on the previous compaction plus
    * only the newer segments. Superseded segments are reclaimed by
    * `pruneSegments` once the compacted manifests are committed. */
  def compact(spark: SparkSession, root: String,
      cfg: IndexConfig = IndexConfig()): InvertedIndex = Phases.described(spark, CompactPhase) {
    // ONE snapshot of the complete-batch set AND the delete-table set
    // drives the merge, the delete application and the compaction
    // name — a second listing could see a batch/delete that committed
    // after the merge plan formed, claim it in the name, and let the
    // next prune delete data the compaction never contained
    val base = latestCompactionInfo(root)
    val minBatch = base.map(_.batch + 1).getOrElse(0L)
    val batches = completeBatches(root).filter(_ >= minBatch)
    val baseApplied = base
      .map(c => appliedDeletesThrough(s"$root/${c.dir}")).getOrElse(-1L)
    val pendingDels = deleteSeqs(root).filter(_ > baseApplied)
    val merged = mergeSnapshot(spark, root, base.map(_.dir), batches, cfg)
    // deletes newer than the base compaction are applied PHYSICALLY:
    // deleted docs/postings rows are gone from the written snapshot
    // and its stats and dictionary reflect the post-delete corpus
    val applied =
      if (pendingDels.isEmpty) merged
      else graft.build.Deletes.appliedWith(spark, merged,
        TableFormat.readTables(spark, root, pendingDels.map(sq => s"deletes-d$sq")))
    // output versioned by (newest segment, newest delete) IN THIS
    // SNAPSHOT: re-running on the same sets is an idempotent no-op
    // (manifest-gated); new batches OR new deletes produce a FRESH
    // compaction that orders after this one
    val latestBatch = (base.map(_.batch).toSeq ++ batches).max
    val newApplied = (pendingDels :+ baseApplied).max
    val name =
      if (newApplied >= 0) s"compacted-$latestBatch-d$newApplied"
      else s"compacted-$latestBatch"
    val out = s"$root/$name"
    IndexTables.write(spark, applied, out)
    // marker AFTER the tables commit: if it is lost to a crash, loads
    // re-attach the covered delete tables as tombstones (idempotent
    // no-op anti-join) until the next compaction rewrites it
    if (newApplied >= 0) writeAppliedDeletes(out, newApplied)
    IndexTables.load(spark, out)
  }

  /** A committed compaction snapshot: directory name under the root,
    * the newest segment batch it merged, and the newest delete seq it
    * physically applied (−1 = none; also −1 for pre-delete-era
    * `compacted-<N>` names). */
  final case class Compaction(dir: String, batch: Long, delSeq: Long)

  private val CompactionName = "^compacted-([0-9]+)(?:-d([0-9]+))?$".r

  /** Newest compaction snapshot whose files are ALL committed
    * (docs + postings manifests and stats.json) — a
    * half-written compaction is invisible, exactly like a half-written
    * segment. Ordered by (batch, delSeq): a deletes-only compaction
    * of the same batch set supersedes its base. */
  def latestCompactionInfo(root: String): Option[Compaction] =
    compactions(root)
      .sortBy(c => (c.batch, c.delSeq))(Ordering.Tuple2[Long, Long].reverse)
      .find(c => IndexTables.isComplete(s"$root/${c.dir}"))

  /** Every compaction directory under the root, committed or not. */
  private def compactions(root: String): Seq[Compaction] =
    if (!Files.isDirectory(Paths.get(root))) Seq.empty
    else TableFormat.listChildren(Paths.get(root)).map(_.getFileName.toString).collect {
      case n @ CompactionName(b, d) =>
        Compaction(n, b.toLong, Option(d).map(_.toLong).getOrElse(-1L))
    }

  /** Newest compacted batch id (back-compat surface). */
  def latestCompaction(root: String): Option[Long] =
    latestCompactionInfo(root).map(_.batch)

  /** Segment GC: delete segment snapshots SUPERSEDED by the newest
    * committed compaction (batchId ≤ N for compacted-N). Per segment
    * the manifest goes FIRST — manifest removal atomically removes the
    * segment from every load path (a table is visible iff its manifest
    * exists) — then the data directory (`TableFormat.drop`); a crash
    * between the two leaves an invisible orphan dir that the next
    * prune sweeps. No-op when no compaction is committed. Returns the
    * pruned batch ids. */
  def pruneSegments(root: String): Seq[Long] =
    latestCompactionInfo(root) match {
      case None => Seq.empty
      case Some(comp) =>
        val n = comp.batch
        // delete tables the newest compaction PHYSICALLY applied are
        // superseded exactly like covered segments
        val delApplied = appliedDeletesThrough(s"$root/${comp.dir}")
        // watermark FIRST (atomic): from here on, writers reject
        // recycled batch ids < n even if this prune crashes mid-delete
        writePrunedBelow(root, n)
        // deletion is STRICTLY below the compaction id: batch n's
        // manifests survive as the replay idempotence marker (an
        // at-least-once redelivery of batch n skips on them instead of
        // re-writing doomed segments), and only COMPLETE batches are
        // deleted — a half segment (docs committed, postings crashed)
        // stays until its batch replays and completes
        val complete = completeBatches(root).filter(_ < n).toSet
        val pruned = for {
          prefix <- Seq("docs-b", "postings-b")
          tbl <- segmentTables(root, prefix)
          id = tbl.stripPrefix(prefix).toLong
          if complete.contains(id)
        } yield { TableFormat.drop(root, tbl); id }
        // applied delete tables: tombstones the newest compaction has
        // PHYSICALLY absorbed
        segmentTables(root, "deletes-d")
          .filter(_.stripPrefix("deletes-d").toLong <= delApplied)
          .foreach(TableFormat.drop(root, _))
        // orphan sweep: data dirs whose manifest vanished in an earlier
        // crashed prune (segment id ≤ N / delete seq ≤ applied,
        // invisible to all load paths)
        TableFormat.listChildren(Paths.get(root)).map(_.getFileName.toString)
          .collect { case SnapName(kind, id)
              if id.toLong <= (if (kind == "deletes-d") delApplied else n) => kind + id }
          .distinct.filterNot(TableFormat.isCommitted(root, _))
          .foreach(TableFormat.drop(root, _))
        // superseded compactions: every committed compaction ordering
        // strictly BEFORE (batch, delSeq) of the newest is a full index
        // copy the newest replaces — without this, each compact cycle
        // leaks O(index size) on disk. The newest complete compaction
        // is never touched, so a crash mid-delete cannot change what
        // latestCompactionInfo resolves to.
        compactions(root)
          .filter(c => Ordering.Tuple2[Long, Long].lt((c.batch, c.delSeq), (comp.batch, comp.delSeq)))
          .foreach(c => TableFormat.deleteRecursively(Paths.get(root, c.dir)))
        pruned.distinct.sorted
    }

  private val SnapName = "^(docs-b|postings-b|deletes-d)([0-9]+)\\.snap-.*".r

  /** Merge the newest committed compaction (if any) with every segment
    * ingested after it into one queryable index — the single load path
    * before AND after pruning: segments the GC removed are exactly the
    * ones the compaction already covers. The shard width is restored
    * from ingest_config.json when present — the stored posting rows'
    * shard column was computed with it, and a mismatched width would
    * silently mis-prune the query paths. */
  def loadMerged(spark: SparkSession, root: String,
      cfg: IndexConfig = IndexConfig()): InvertedIndex = {
    val base = latestCompactionInfo(root)
    val minBatch = base.map(_.batch + 1).getOrElse(0L)
    val newBatches = completeBatches(root).filter(_ >= minBatch)
    // Fast path: everything is inside the newest compaction — its
    // committed tables ARE the merged index (postings one row per key,
    // stats derived from the written docs at compact time), so
    // re-running the merge shuffle over them is a full-pass no-op;
    // load the snapshot directly.
    val idx =
      if (newBatches.isEmpty && base.nonEmpty)
        IndexTables.load(spark, s"$root/${base.get.dir}")
      else mergeSnapshot(spark, root, base.map(_.dir), newBatches, cfg)
    // delete tables newer than what the base compaction physically
    // applied ride along as TOMBSTONES: every query path anti-joins
    // them (Searcher live-dl side) until the next compact() absorbs
    // them. Unioning a table the base already applied (possible when
    // the applied-marker was lost to a crash) is an idempotent no-op.
    val baseApplied = base
      .map(c => appliedDeletesThrough(s"$root/${c.dir}")).getOrElse(-1L)
    val pending = deleteSeqs(root).filter(_ > baseApplied)
    if (pending.isEmpty) idx
    else idx.withDeletes(
      TableFormat.readTables(spark, root, pending.map(sq => s"deletes-d$sq")))
  }

  /** Merge a FIXED snapshot of (compaction base, complete batch ids) —
    * the single merge core compact() and loadMerged() share, so the
    * batch set a compaction is named after is exactly the set it
    * merged. Only COMPLETE batches may appear in `batches`: a
    * half-written segment (docs committed, postings crashed) must not
    * contribute its docs — they would double-count once the batch
    * replays, or be phantom rows with no postings otherwise.
    *
    * Each table kind is read as few scans as possible: the base's table
    * (one scan) and the segments' tables of that kind (one scan per
    * distinct schema, `TableFormat.readTables`), all with footer
    * schemas — no schema-inference job, whatever the segment count.
    * Past 32 segments Spark lists the segments' files in one job. */
  private def mergeSnapshot(
      spark: SparkSession,
      root: String,
      compactedDir: Option[String],
      batches: Seq[Long],
      cfg: IndexConfig): InvertedIndex = {
    val effCfg = ingestConfigOr(root, cfg)
    val base = compactedDir.map(n => s"$root/$n")
    require(batches.nonEmpty || base.nonEmpty,
      s"no committed segments under $root")
    // unionByName, not positional union: a base compaction's docs table
    // can have a different column ORDER than raw segment tables (e.g.
    // after a delete-applying rewrite), and a positional union would
    // silently misalign columns instead of failing
    def kind(table: String): DataFrame =
      (base.map(TableFormat.read(spark, _, table)).toSeq ++
        Option.when(batches.nonEmpty)(
          TableFormat.readTables(spark, root, batches.map(id => s"$table-b$id"))))
        .reduce(_ unionByName _)
    val partials = kind("postings")
    InvertedIndex.derived(kind("docs"), IndexBuilder.mergeSegmentRows(partials, effCfg), effCfg)
  }
}
