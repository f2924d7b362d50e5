package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.query.Searcher
import graft.streaming.StreamingIndexer

/** Structured-Streaming incremental ingestion: micro-batch = segment
  * snapshot; merged index must answer queries identically to a batch
  * build over the same rows. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def mkDoc(i: Long): (Long, String) =
    (i, s"alpha merge id$i spark beta gamma${i % 7}")

  test("two micro-batches → merged index ≡ batch index; replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("graft_stream").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val cfg = IndexConfig(shardSizeDocs = 32)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingIndexer.writer(stream, "doc_id", "text", Nil, root, cfg)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData((0L until 60L).map(mkDoc))
      q.processAllAvailable()
      input.addData((60L until 100L).map(mkDoc))
      q.processAllAvailable()
    } finally q.stop()

    val merged = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(merged.stats.numDocs === 100)

    val batch = IndexBuilder.fromText(spark,
      (0L until 100L).map(mkDoc).toDF("doc_id", "text"), "doc_id", "text",
      Nil, cfg)
    val sM = new Searcher(spark, merged)
    val sB = new Searcher(spark, batch)
    for (terms <- Seq(Seq("merge"), Seq("spark", "gamma3"), Seq("id42"))) {
      val a = sM.topK(terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = sB.topK(terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq === b.toSeq, s"terms=$terms")
      val w = graft.query.ExhaustiveOracle.topK(merged, terms, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(w.toSeq === a.toSeq, s"oracle terms=$terms")
    }

    // idempotent replay: re-running a committed batch is a no-op
    val before = Files.readString(
      java.nio.file.Paths.get(root, "postings-b0.manifest.json"))
    val replayBatch = (0L until 60L).map(mkDoc).toDF("doc_id", "text")
    val idx = IndexBuilder.fromText(spark, replayBatch, "doc_id", "text", Nil, cfg)
    graft.table.TableFormat.write(spark, idx.postings, root, "postings-b0", 1L)
    assert(Files.readString(
      java.nio.file.Paths.get(root, "postings-b0.manifest.json")) === before)

    // compaction: segments → ONE snapshot set, loadable and identical
    val compacted = StreamingIndexer.compact(spark, root, cfg)
    assert(compacted.stats.numDocs === 100)
    val sC = new Searcher(spark, compacted)
    for (terms <- Seq(Seq("merge"), Seq("spark", "gamma3"))) {
      val a = sM.topK(terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val c = sC.topK(terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(c.toSeq === a.toSeq, s"compacted terms=$terms")
    }
    // one postings row per (field, term, shard) after compaction —
    // same as the merged view (merge already coalesces partials)
    assert(compacted.postings.count() === merged.postings.count())
    // compaction is itself idempotent (manifest-gated)
    val again = StreamingIndexer.compact(spark, root, cfg)
    assert(again.postings.count() === compacted.postings.count())

    // shard width restored from ingest_config.json: loadMerged with a
    // DEFAULT cfg (wrong shardSizeDocs) must still answer correctly —
    // the stored posting rows were sharded with cfg.shardSizeDocs=32
    val defaultLoaded = StreamingIndexer.loadMerged(spark, root)
    assert(defaultLoaded.config.shardSizeDocs === 32L)
    val sD = new Searcher(spark, defaultLoaded)
    assert(sD.topK(Seq("merge"), 10).collect().map(_.getLong(0)).toSeq
      === sM.topK(Seq("merge"), 10).collect().map(_.getLong(0)).toSeq)

    // compaction FRESHNESS: a new segment after a compact must produce
    // a new compacted snapshot, not silently return the stale one
    val extra = (100L until 120L).map(mkDoc).toDF("doc_id", "text")
    val extraIdx = IndexBuilder.fromText(spark, extra, "doc_id", "text", Nil, cfg)
    graft.table.TableFormat.write(spark, extraIdx.docs, root, "docs-b2", 3L)
    graft.table.TableFormat.write(spark, extraIdx.postings, root, "postings-b2", 3L)
    val recompacted = StreamingIndexer.compact(spark, root, cfg)
    assert(recompacted.stats.numDocs === 120)
  }

  test("pruneSegments removes only compaction-covered segments; crash mid-prune still loads") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_prune").toString
    val cfg = IndexConfig(shardSizeDocs = 32)
    def writeSeg(id: Long, range: Range): Unit = {
      val idx = IndexBuilder.fromText(spark,
        range.map(i => mkDoc(i.toLong)).toDF("doc_id", "text"), "doc_id", "text", Nil, cfg)
      graft.table.TableFormat.write(spark, idx.docs, root, s"docs-b$id", id + 1)
      graft.table.TableFormat.write(spark, idx.postings, root, s"postings-b$id", id + 1)
    }
    writeSeg(0L, 0 until 40)
    writeSeg(1L, 40 until 80)
    // no compaction committed yet → prune is a no-op
    assert(StreamingIndexer.pruneSegments(root).isEmpty)
    assert(Files.exists(java.nio.file.Paths.get(root, "docs-b0.manifest.json")))

    StreamingIndexer.compact(spark, root, cfg)
    // new segment AFTER the compaction — must survive the prune
    writeSeg(2L, 80 until 100)
    val pruned = StreamingIndexer.pruneSegments(root)
    // deletion is STRICTLY below the compaction id (1): batch 1 keeps
    // its manifests as the at-least-once replay idempotence marker
    assert(pruned === Seq(0L))
    for (t <- Seq("docs-b0", "postings-b0"))
      assert(!Files.exists(java.nio.file.Paths.get(root, s"$t.manifest.json")), t)
    for (t <- Seq("docs-b1", "postings-b1", "docs-b2"))
      assert(Files.exists(java.nio.file.Paths.get(root, s"$t.manifest.json")), t)
    // post-prune load = compaction + newer segment, all 100 docs
    val loaded = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(loaded.stats.numDocs === 100)
    val batch = IndexBuilder.fromText(spark,
      (0L until 100L).map(mkDoc).toDF("doc_id", "text"), "doc_id", "text", Nil, cfg)
    val sL = new Searcher(spark, loaded)
    val sB = new Searcher(spark, batch)
    for (terms <- Seq(Seq("merge"), Seq("spark", "gamma3"), Seq("id42"))) {
      assert(sL.topK(terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === sB.topK(terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        s"terms=$terms")
    }

    // crash window: compact again over b2, then simulate dying after
    // the manifest delete but before the data-dir delete — the orphan
    // data dir is invisible (manifest-gated) and the next prune sweeps it
    StreamingIndexer.compact(spark, root, cfg)
    Files.deleteIfExists(java.nio.file.Paths.get(root, "docs-b2.manifest.json"))
    val afterCrash = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(afterCrash.stats.numDocs === 100) // compaction covers b2
    val orphanExisted = {
      val s = Files.list(java.nio.file.Paths.get(root))
      try s.iterator().asScala.exists(_.getFileName.toString.startsWith("docs-b2.snap-"))
      finally s.close()
    }
    assert(orphanExisted)
    StreamingIndexer.pruneSegments(root)
    val orphanGone = {
      val s = Files.list(java.nio.file.Paths.get(root))
      try !s.iterator().asScala.exists(_.getFileName.toString.startsWith("docs-b2.snap-"))
      finally s.close()
    }
    assert(orphanGone)
    assert(StreamingIndexer.loadMerged(spark, root, cfg).stats.numDocs === 100)
  }

  test("half-written segments are invisible; prune reclaims old compactions; watermark blocks recycled ids") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_half").toString
    val cfg = IndexConfig(shardSizeDocs = 32)
    def mkIdx(range: Range) = IndexBuilder.fromText(spark,
      range.map(i => mkDoc(i.toLong)).toDF("doc_id", "text"), "doc_id", "text", Nil, cfg)
    def writeSeg(id: Long, range: Range): Unit = {
      val idx = mkIdx(range)
      graft.table.TableFormat.write(spark, idx.docs, root, s"docs-b$id", id + 1)
      graft.table.TableFormat.write(spark, idx.postings, root, s"postings-b$id", id + 1)
    }
    writeSeg(0L, 0 until 40)
    // half batch: docs committed, postings write "crashed"
    val half = mkIdx(40 until 60)
    graft.table.TableFormat.write(spark, half.docs, root, "docs-b1", 2L)
    assert(StreamingIndexer.completeBatches(root) === Seq(0L))
    // loadMerged must NOT count the half batch's docs
    assert(StreamingIndexer.loadMerged(spark, root, cfg).stats.numDocs === 40)
    // compact bakes only complete batches and names itself by them
    StreamingIndexer.compact(spark, root, cfg)
    assert(StreamingIndexer.latestCompaction(root) === Some(0L))
    // complete the half batch (replay), compact again, prune
    graft.table.TableFormat.write(spark, half.postings, root, "postings-b1", 2L)
    assert(StreamingIndexer.loadMerged(spark, root, cfg).stats.numDocs === 60)
    StreamingIndexer.compact(spark, root, cfg)
    StreamingIndexer.pruneSegments(root)
    // superseded compacted-0 reclaimed, compacted-1 intact
    assert(!Files.exists(java.nio.file.Paths.get(root, "compacted-0")))
    assert(StreamingIndexer.latestCompaction(root) === Some(1L))
    assert(StreamingIndexer.loadMerged(spark, root, cfg).stats.numDocs === 60)

    // watermark: a fresh-checkpoint restart recycles batchId 0 — the
    // writer must reject it instead of writing a doomed segment
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_half_ckpt").toString
    val q = StreamingIndexer.writer(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", Nil, root, cfg)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(Seq((100L, "alpha beta")))
      val ex = intercept[Exception](q.processAllAvailable())
      assert(ex.getMessage.contains("prune watermark")
        || Option(ex.getCause).exists(_.getMessage.contains("prune watermark")))
    } finally q.stop()
  }

  test("ingest analyzer is persisted; a mismatched restart fails fast; compaction restores it") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_anlz_stream").toString
    val codeCfg = IndexConfig(shardSizeDocs = 32,
      analyzer = graft.analysis.CodeIdentifierAnalyzer)
    val idx = IndexBuilder.fromText(spark,
      Seq((0L, "def snake_case(): pass")).toDF("doc_id", "text"),
      "doc_id", "text", Nil, codeCfg)
    // simulate one committed ingest batch with the code analyzer
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamingIndexer.writer(in1.toDF().toDF("doc_id", "text"),
        "doc_id", "text", Nil, root, codeCfg)
      .option("checkpointLocation", Files.createTempDirectory("graft_ck1").toString)
      .start()
    try { in1.addData(Seq((0L, "def snake_case(): pass"))); q1.processAllAvailable() }
    finally q1.stop()
    // restart with the DEFAULT analyzer → must fail fast, not mix streams
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingIndexer.writer(in2.toDF().toDF("doc_id", "text"),
        "doc_id", "text", Nil, root, IndexConfig(shardSizeDocs = 32))
      .option("checkpointLocation", Files.createTempDirectory("graft_ck2").toString)
      .start()
    try {
      in2.addData(Seq((1L, "more text")))
      val ex = intercept[Exception](q2.processAllAvailable())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("analyzer")), msgs(ex).mkString(" | "))
    } finally q2.stop()
    // loadMerged + compaction carry the code analyzer through to the snapshot
    assert(StreamingIndexer.loadMerged(spark, root).config.analyzer
      eq graft.analysis.CodeIdentifierAnalyzer)
    StreamingIndexer.compact(spark, root, codeCfg)
    val n = StreamingIndexer.latestCompaction(root).get
    val loaded = graft.table.IndexTables.load(spark, s"$root/compacted-$n")
    assert(loaded.config.analyzer eq graft.analysis.CodeIdentifierAnalyzer)
    assert(idx.termStats.select("term").collect().map(_.getString(0)).toSet
      .subsetOf(loaded.termStats.select("term").collect().map(_.getString(0)).toSet
        ++ Set("snake", "case", "def", "pass")))
  }

  test("streaming first-seen dedup keeps one row per content hash across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = graft.streaming.StreamingDedup.firstSeen(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    try {
      // batch 1: two distinct contents, one in-batch duplicate
      input.addData(Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta")))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate + one new content
      input.addData(Seq((4L, "alpha beta"), (5L, "epsilon zeta")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, text FROM dedup_out")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      // first occurrence wins: 1 (alpha beta), 2 (gamma delta), 5 (epsilon)
      assert(rows.toSeq === Seq(
        (1L, "alpha beta"), (2L, "gamma delta"), (5L, "epsilon zeta")))
    } finally q.stop()
  }

  test("watermarked windowed token rate aggregates by event time") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val rate = graft.streaming.StreamingDedup.tokenRate(
      input.toDF().toDF("ts", "text"), "ts", "text",
      windowLen = "10 seconds", watermark = "5 seconds")
    val q = rate.writeStream.format("memory")
      .queryName("rate_out").outputMode("complete").start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
      input.addData(Seq(
        (ts(100), "alpha beta gamma"),      // window [100,110): 3 tokens
        (ts(105), "delta epsilon"),         // same window: +2
        (ts(112), "zeta eta theta iota")))  // window [110,120): 4
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, n_docs, n_tokens FROM rate_out ORDER BY window_start")
        .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1), r.getLong(2)))
      assert(rows.toSeq === Seq((100L, 2L, 5L), (110L, 1L, 4L)))
    } finally q.stop()
  }

  test("delete lifecycle: tombstones at load, physical apply at compact, prune reclaims applied deletes") {
    import spark.implicits._
    def P(parts: String*) = java.nio.file.Paths.get(parts.head, parts.tail: _*)
    val root = Files.createTempDirectory("graft_del_stream").toString
    val cfg = IndexConfig(shardSizeDocs = 32)
    def writeSeg(id: Long, range: Range): Unit = {
      val idx = IndexBuilder.fromText(spark,
        range.map(i => mkDoc(i.toLong)).toDF("doc_id", "text"), "doc_id", "text", Nil, cfg)
      graft.table.TableFormat.write(spark, idx.docs, root, s"docs-b$id", id + 1)
      graft.table.TableFormat.write(spark, idx.postings, root, s"postings-b$id", id + 1)
    }
    writeSeg(0L, 0 until 50)
    writeSeg(1L, 50 until 100)

    // 1) a delete batch becomes a committed tombstone table…
    assert(StreamingIndexer.deleteIds(spark, root, Seq(3L, 42L, 77L)) === 0L)
    // …and loadMerged anti-joins it on every query path
    val merged = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(merged.deletes.isDefined)
    val hits = new Searcher(spark, merged).topK(Seq("merge"), 200)
      .collect().map(_.getLong(0)).toSet
    assert(hits.size === 97 && !hits(3L) && !hits(42L) && !hits(77L))
    // stale-stats contract: N still counts tombstoned docs pre-compact
    assert(merged.stats.numDocs === 100)

    // 2) compact applies PHYSICALLY: docs/postings rewritten, stats live
    val compacted = StreamingIndexer.compact(spark, root, cfg)
    assert(compacted.stats.numDocs === 97)
    assert(compacted.docs.where($"docId".isin(3L, 42L, 77L)).count() === 0L)
    val info = StreamingIndexer.latestCompactionInfo(root).get
    assert(info.dir === "compacted-1-d0" && info.batch === 1L && info.delSeq === 0L)
    assert(Files.exists(P(root, "compacted-1-d0", "deletes_applied.json")))
    // equivalent to a fresh batch build over the surviving rows
    val fresh = IndexBuilder.fromText(spark,
      (0L until 100L).filterNot(Set(3L, 42L, 77L)).map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", Nil, cfg)
    val qc = new Searcher(spark, compacted).topK(Seq("spark", "gamma3"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val qf = new Searcher(spark, fresh).topK(Seq("spark", "gamma3"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(qc.toSeq === qf.toSeq)

    // kill-point: the applied-deletes marker lost after the compaction
    // tables committed → loads re-attach the applied delete table as
    // tombstones, an idempotent no-op on the answers
    val marker = P(root, "compacted-1-d0", "deletes_applied.json")
    val aside = P(root, "compacted-1-d0", "deletes_applied.json.aside")
    Files.move(marker, aside)
    val noMarker = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(noMarker.deletes.isDefined)
    def mergeTop(idx: graft.build.InvertedIndex) = new Searcher(spark, idx)
      .topK(Seq("merge"), 200).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mergeTop(noMarker) === mergeTop(compacted))
    Files.move(aside, marker)

    // 3) post-compact load attaches NO tombstones (applied marker read)
    val merged2 = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(merged2.deletes.isEmpty && merged2.stats.numDocs === 97)

    // 4) deletes arriving AFTER a compaction tombstone at load again
    assert(StreamingIndexer.deleteIds(spark, root, Seq(10L)) === 1L)
    val merged3 = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(merged3.deletes.isDefined)
    assert(!new Searcher(spark, merged3).topK(Seq("merge"), 200)
      .collect().map(_.getLong(0)).contains(10L))

    // 5) a deletes-only compaction (no new segments) gets a FRESH name
    //    that orders after its base
    val c2 = StreamingIndexer.compact(spark, root, cfg)
    assert(c2.stats.numDocs === 96)
    assert(StreamingIndexer.latestCompactionInfo(root).get.dir === "compacted-1-d1")

    // 6) prune reclaims covered segments, APPLIED delete tables and the
    //    superseded compaction — and the root still loads
    val pruned = StreamingIndexer.pruneSegments(root)
    assert(pruned === Seq(0L))
    assert(!Files.exists(P(root, "deletes-d0.manifest.json")))
    assert(!Files.exists(P(root, "deletes-d1.manifest.json")))
    assert(!Files.exists(P(root, "compacted-1-d0")))
    assert(Files.exists(P(root, "compacted-1-d1")))
    val after = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(after.stats.numDocs === 96 && after.deletes.isEmpty)

    // 7) a later segment + compact carries the applied watermark forward
    writeSeg(2L, 100 until 110)
    val c3 = StreamingIndexer.compact(spark, root, cfg)
    assert(c3.stats.numDocs === 106)
    assert(StreamingIndexer.latestCompactionInfo(root).get.dir === "compacted-2-d1")
    // the new compaction's doc set = survivors + the new segment
    val ids = c3.docs.select("docId").collect().map(_.getLong(0)).toSet
    assert(!ids(3L) && !ids(10L) && ids(105L))
  }

  test("batch append + updateDocuments: replace is tombstone-visible, compaction applies, crash window loses nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_upd").toString
    val cfg = IndexConfig(shardSizeDocs = 16)
    val docs = (0L until 40L).map(mkDoc).toDF("doc_id", "text")
    assert(StreamingIndexer.append(spark, root, docs, "doc_id", "text", cfg = cfg) === 0L)

    // update: docs 5 and 17 replaced by 1005/1017 with a marker token
    val old = Seq(5L, 17L).toDF("doc_id")
    val repl = Seq((1005L, "zzmarker merge updated five"),
      (1017L, "zzmarker spark updated seventeen")).toDF("doc_id", "text")
    val (b, d) = StreamingIndexer.updateDocuments(
      spark, root, old, repl, "doc_id", "text")
    assert(b === 1L && d === 0L)

    // tombstone-visible: old ids gone from hits, replacements found,
    // stats stale (numDocs counts every segment row pre-compaction)
    val merged = StreamingIndexer.loadMerged(spark, root)
    val s1 = new Searcher(spark, merged)
    val markerHits = s1.topK(Seq("zzmarker"), 10).collect().map(_.getLong(0)).toSet
    assert(markerHits === Set(1005L, 1017L))
    val sparkHits = s1.topK(Seq("spark"), 100).collect().map(_.getLong(0)).toSet
    assert(!sparkHits(5L) && !sparkHits(17L) && sparkHits(1017L))
    assert(merged.stats.numDocs === 42) // 40 + 2 replacements, deletes stale

    // compaction applies physically: 40 live docs, old ids rewritten out
    val c = StreamingIndexer.compact(spark, root, cfg)
    assert(c.stats.numDocs === 40)
    val cIds = c.docs.select("docId").collect().map(_.getLong(0)).toSet
    assert(!cIds(5L) && !cIds(17L) && cIds(1005L) && cIds(1017L))

    // crash window = segment committed, delete lost: both versions
    // visible (nothing lost); re-issuing the delete completes the update
    val root2 = Files.createTempDirectory("graft_upd2").toString
    StreamingIndexer.append(spark, root2, docs, "doc_id", "text", cfg = cfg)
    StreamingIndexer.append(spark, root2, repl, "doc_id", "text")
    val both = new Searcher(spark, StreamingIndexer.loadMerged(spark, root2))
      .topK(Seq("spark"), 100).collect().map(_.getLong(0)).toSet
    assert(both(17L) && both(1017L))
    StreamingIndexer.delete(spark, root2, old)
    val fixed = new Searcher(spark, StreamingIndexer.loadMerged(spark, root2))
      .topK(Seq("spark"), 100).collect().map(_.getLong(0)).toSet
    assert(!fixed(17L) && fixed(1017L))

    // append restores the persisted config (like loadMerged): a caller
    // cfg with the wrong width is overridden, not written — the new
    // segment shards with the ROOT's width and queries stay correct
    StreamingIndexer.append(spark, root2,
      Seq((2000L, "qqunique spark doc")).toDF("doc_id", "text"), "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 999))
    val afterCfg = new Searcher(spark, StreamingIndexer.loadMerged(spark, root2))
    assert(afterCfg.topK(Seq("qqunique"), 5).collect()
      .map(_.getLong(0)).toSet === Set(2000L))
  }

  test("append into a root that does not exist yet creates it and adopts cfg") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_fresh").resolve("fresh/root").toString
    assert(!Files.exists(java.nio.file.Paths.get(root)))
    assert(StreamingIndexer.completeBatches(root).isEmpty)
    assert(StreamingIndexer.deleteSeqs(root).isEmpty)
    val missing = intercept[IllegalArgumentException](StreamingIndexer.loadMerged(spark, root))
    assert(missing.getMessage.contains("no committed segments"), missing.getMessage)
    val cfg = IndexConfig(shardSizeDocs = 8)
    assert(StreamingIndexer.append(spark, root, (0L until 20L).map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", cfg = cfg) === 0L)
    assert(StreamingIndexer.completeBatches(root) === Seq(0L))
    val merged = StreamingIndexer.loadMerged(spark, root)
    assert(merged.config.shardSizeDocs === 8)
    assert(merged.stats.numDocs === 20)
    assert(new Searcher(spark, merged).search("id7 id12", 10).collect()
      .map(_.getLong(0)).toSet === Set(7L, 12L))
  }

  /** File scans of `df`'s physical plan (planned, not run). */
  private def fileScans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size

  test("loadMerged reads each table kind of the root as one scan, with footer schemas: no Spark job") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_scan").toString
    val cfg = IndexConfig(shardSizeDocs = 32)
    for (b <- 0 until 5)
      StreamingIndexer.append(spark, root,
        (b * 20L until b * 20L + 20L).map(mkDoc).toDF("doc_id", "text"), "doc_id", "text", cfg = cfg)
    for (ids <- Seq(Seq(3L), Seq(25L, 26L), Seq(99L))) StreamingIndexer.deleteIds(spark, root, ids)
    val (merged, jobs) = JobCounts(spark, "loadMerged")(StreamingIndexer.loadMerged(spark, root, cfg))
    assert(jobs.isEmpty, jobs)
    assert(fileScans(merged.postings) === 1)
    assert(fileScans(merged.docs) === 1)
    assert(fileScans(merged.deletes.get) === 1)
    val live = (0L until 100L).filterNot(Set(3L, 25L, 26L, 99L))
    val fresh = IndexBuilder.fromText(spark, live.map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", Nil, cfg)
    def top(idx: graft.build.InvertedIndex) = new Searcher(spark, idx)
      .search("merge gamma3 id25 id42", 200).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // stats stay stale until compaction (tombstones only hide hits), so
    // compare ids here and scores after the compaction applies them
    assert(top(merged).map(_._1).toSet === top(fresh).map(_._1).toSet)

    // with a compaction base: the base's tables are one more scan
    StreamingIndexer.compact(spark, root, cfg)
    StreamingIndexer.append(spark, root, (100L until 120L).map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", cfg = cfg)
    StreamingIndexer.append(spark, root, (120L until 140L).map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", cfg = cfg)
    val (based, baseJobs) = JobCounts(spark, "loadMerged base")(StreamingIndexer.loadMerged(spark, root, cfg))
    assert(baseJobs.isEmpty, baseJobs)
    assert(fileScans(based.postings) === 2)
    val compacted = StreamingIndexer.compact(spark, root, cfg)
    val fresh2 = IndexBuilder.fromText(spark, (live ++ (100L until 140L)).map(mkDoc)
      .toDF("doc_id", "text"), "doc_id", "text", Nil, cfg)
    assert(top(compacted) === top(fresh2))
    assert(top(based).map(_._1).toSet === top(fresh2).map(_._1).toSet)
  }

  test("a root of more segments than the listing threshold answers as a fresh build of its live docs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_many").toString
    val cfg = IndexConfig(shardSizeDocs = 16)
    val segments = 34
    assert(segments > spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    for (b <- 0 until segments) {
      val idx = IndexBuilder.fromText(spark,
        (b * 3L until b * 3L + 3L).map(mkDoc).toDF("doc_id", "text"), "doc_id", "text", Nil, cfg)
      graft.table.TableFormat.write(spark, idx.docs, root, s"docs-b$b", b + 1L)
      graft.table.TableFormat.write(spark, idx.postings, root, s"postings-b$b", b + 1L)
    }
    StreamingIndexer.deleteIds(spark, root, Seq(4L, 50L))
    StreamingIndexer.deleteIds(spark, root, Seq(77L))
    val merged = StreamingIndexer.loadMerged(spark, root, cfg)
    assert(StreamingIndexer.completeBatches(root).size === segments)
    assert(fileScans(merged.postings) === 1 && fileScans(merged.docs) === 1)
    // compaction applies the deletes physically, so its scores equal a
    // fresh build's; the merged view's hits are the same documents
    val live = (0L until segments * 3L).filterNot(Set(4L, 50L, 77L))
    val fresh = IndexBuilder.fromText(spark, live.map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", Nil, cfg)
    def top(idx: graft.build.InvertedIndex, q: String) = new Searcher(spark, idx)
      .search(q, 200).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val compacted = StreamingIndexer.compact(spark, root, cfg)
    for (q <- Seq("merge gamma3", "id50 id51 spark", "+alpha -gamma2")) {
      assert(top(merged, q).map(_._1).toSet === top(fresh, q).map(_._1).toSet, q)
      assert(top(compacted, q) === top(fresh, q), q)
    }
    // without tombstones the merged view's scores equal a fresh build's
    val undeleted = IndexBuilder.fromText(spark, (0L until segments * 3L).map(mkDoc)
      .toDF("doc_id", "text"), "doc_id", "text", Nil, cfg)
    assert(top(merged.undeleteAll(), "merge gamma3") === top(undeleted, "merge gamma3"))
  }

  test("a segment whose docs carry an extra column still fails at loadMerged") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cols").toString
    val cfg = IndexConfig(shardSizeDocs = 32)
    StreamingIndexer.append(spark, root, (0L until 10L).map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", cfg = cfg)
    StreamingIndexer.append(spark, root,
      (10L until 20L).map(i => (i, s"merge id$i", "scala")).toDF("doc_id", "text", "lang"),
      "doc_id", "text", Seq("lang"), cfg)
    // the segments' docs read as two scans (one per schema), and their
    // union fails as the union of one read per segment did
    val e = intercept[org.apache.spark.sql.catalyst.ExtendedAnalysisException](
      StreamingIndexer.loadMerged(spark, root, cfg))
    assert(e.getMessage.contains("NUM_COLUMNS_MISMATCH"), e.getMessage)
  }

  test("every job of an append + delete + compact cycle carries a graft description") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_desc").toString
    val cfg = IndexConfig(shardSizeDocs = 32)
    StreamingIndexer.append(spark, root, (0L until 30L).map(mkDoc).toDF("doc_id", "text"),
      "doc_id", "text", cfg = cfg)
    val (_, jobs) = JobCounts(spark, "cycle") {
      StreamingIndexer.append(spark, root, (30L until 60L).map(mkDoc).toDF("doc_id", "text"),
        "doc_id", "text", cfg = cfg)
      StreamingIndexer.deleteIds(spark, root, Seq(7L, 40L))
      StreamingIndexer.compact(spark, root, cfg)
    }
    val descs = jobs.map(_.description)
    assert(descs.toSet === Set(StreamingIndexer.AppendPhase, StreamingIndexer.DeletePhase,
      StreamingIndexer.CompactPhase, graft.table.IndexTables.DocsPhase,
      graft.table.IndexTables.PostingsPhase), descs)
  }

  test("streaming minhash near-dup edges: bucket owners, star edges, cross-batch state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 15) "CHANGED" else s"tok$i")
      .mkString(" ")
    val other = (1 to 30).map(i => s"other$i").mkString(" ")
    val other2 = (1 to 30).map(i => s"misc$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val edges = graft.streaming.StreamingDedup.nearDupEdges(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = edges.writeStream.format("memory")
      .queryName("neardup_out").outputMode("append").start()
    try {
      // batch 1: owner + in-batch exact copy + one unrelated + no-shingle
      input.addData(Seq((1L, base), (3L, base), (2L, other), (7L, "x y")))
      q.processAllAvailable()
      // batch 2: cross-batch exact copy, near-dup (1 of 30 tokens
      // changed), another unrelated
      input.addData(Seq((6L, base), (4L, nearDup), (5L, other2)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, dup_of, band FROM neardup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val pairs = rows.map(x => (x._1, x._2)).distinct.sortBy(_._1)
      // exact copies edge to the batch-1 owner on EVERY band (12/3 = 4)
      assert(rows.count(x => x._1 == 3L && x._2 == 1L) === 4)
      assert(rows.count(x => x._1 == 6L && x._2 == 1L) === 4)
      // near-dup shares ≥1 band bucket with the owner — and never
      // edges to another duplicate (star edges only)
      assert(pairs.contains((4L, 1L)))
      assert(pairs.toSeq === Seq((3L, 1L), (4L, 1L), (6L, 1L)))
      // unrelated and shingle-less docs emit nothing
      assert(!rows.exists(x => Set(2L, 5L, 7L)(x._1) || Set(2L, 5L, 7L)(x._2)))
    } finally q.stop()
  }
}
