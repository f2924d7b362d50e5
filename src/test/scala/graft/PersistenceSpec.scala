package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig, InvertedIndex}
import graft.model.CodeDoc
import graft.query.Searcher
import graft.table.{IndexTables, TableFormat}

/** Iceberg-style persistence: atomic manifest-gated snapshots,
  * resume-by-skip, lineage counts, load-equals-inmemory queries. */
class PersistenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def corpus(n: Int) = (0 until n).map { i =>
    CodeDoc("r" + (i % 3), s"src/F$i.scala", "c0", "scala",
      s"public class F$i import pkg${i % 5} merge sort id$i spark")
  }

  test("write → load → query round-trip identical") {
    val dir = Files.createTempDirectory("graft_idx").toString
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(200).toDS(),
      IndexConfig(shardSizeDocs = 64))
    IndexTables.write(spark, idx, dir)
    // the committed snapshot is the two tables plus stats.json
    assert(TableFormat.committedTables(dir).toSet === Set("docs", "postings"))
    assert(Files.exists(Paths.get(dir, "stats.json")))
    val loaded = IndexTables.load(spark, dir)
    assert(loaded.stats === idx.stats)
    assert(loaded.config.shardSizeDocs === 64)
    val s1 = new Searcher(spark, idx)
    val s2 = new Searcher(spark, loaded)
    val a = s1.topK(Seq("merge", "spark"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = s2.topK(Seq("merge", "spark"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq === b.toSeq)
    val w = graft.query.ExhaustiveOracle.topK(loaded, Seq("merge", "spark"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(w.toSeq === a.toSeq)
  }

  test("resume: committed stages skipped, interrupted stage redone") {
    val dir = Files.createTempDirectory("graft_resume").toString
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(100).toDS(),
      IndexConfig(shardSizeDocs = 64))
    // stage 1 only (simulated crash before postings commit)
    TableFormat.write(spark, idx.docs, dir, "docs")
    assert(TableFormat.isCommitted(dir, "docs"))
    assert(!TableFormat.isCommitted(dir, "postings"))
    val manifestBefore = Files.readString(Paths.get(dir, "docs.manifest.json"))
    // leave an orphan temp dir from the "crashed" postings write
    Files.createDirectories(Paths.get(dir, "_tmp_postings_99"))
    // …and what a postings write that died after its data-dir move
    // leaves: the moved data dir (here a copy of committed parquet) and
    // a manifest temp file — no manifest references either
    val docsM = TableFormat.readManifest(dir, "docs")
    val crashedSnap = docsM.snapshotId + 1
    val moved = Files.createDirectories(Paths.get(dir, s"postings.snap-$crashedSnap"))
    docsM.files.foreach(f => Files.copy(Paths.get(docsM.dataPath, f.file), moved.resolve(f.file)))
    Files.writeString(Paths.get(dir, s"_tmp_manifest_postings_$crashedSnap.json"), "{")
    def children(): Seq[String] = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    // full resume
    IndexTables.write(spark, idx, dir)
    assert(TableFormat.isCommitted(dir, "postings"))
    // the crashed write's leftovers are reclaimed, not leaked
    assert(children().count(_.startsWith("postings.snap-")) === 1, children())
    assert(!children().exists(_.startsWith("_tmp_")), children())
    // docs stage untouched (same manifest bytes → not rewritten)
    assert(Files.readString(Paths.get(dir, "docs.manifest.json")) === manifestBefore)
    // loaded index answers queries
    val loaded = IndexTables.load(spark, dir)
    assert(new Searcher(spark, loaded).totalHits(Seq("merge")) === 100)

    // kill-point: stats.json lost after a full write → the resume's
    // rescan fallback rewrites the clean corpus stats bit for bit
    val statsBefore = Files.readString(Paths.get(dir, "stats.json"))
    Files.delete(Paths.get(dir, "stats.json"))
    IndexTables.write(spark, idx, dir)
    assert(Files.readString(Paths.get(dir, "stats.json")) === statsBefore)
    val (rescanned, _) = IndexTables.loadStatsAndConfig(dir)
    assert(rescanned.numDocs === idx.stats.numDocs)
    assert(java.lang.Double.doubleToRawLongBits(rescanned.avgDocLen)
      === java.lang.Double.doubleToRawLongBits(idx.stats.avgDocLen))

    // a no-replace commit onto an existing file yields to it: the
    // committed bytes stay and no temp file is left behind
    val statsBytes = Files.readAllBytes(Paths.get(dir, "stats.json")).toSeq
    TableFormat.commitJson(dir, "stats.json",
      Seq("numDocs" -> "1", "avgDocLen" -> "2.0"), replace = false)
    assert(Files.readAllBytes(Paths.get(dir, "stats.json")).toSeq === statsBytes)
    assert(!children().exists(_.startsWith("_tmp_")), children())
  }

  test("build + write: the job count is pinned and no job is a lone schema read") {
    val source = Files.createTempDirectory("graft_pin_src").resolve("t").toString
    graft.tools.CodeCorpus.generate(spark, 1000L, 10, 7L, 4).write.parquet(source)
    val dir = Files.createTempDirectory("graft_pin").toString
    val (_, jobs) = JobCounts.withAqe(spark, "build", aqe = true) {
      IndexTables.write(spark, IndexBuilder.fromParquetTable(spark, source,
        IndexConfig(shardSizeDocs = 64, storeContent = false)), dir)
    }
    val stagesRun = jobs.map(_.stages)
    val report = jobs.map(j => s"[${j.description}] " +
      j.stages.map { case (n, t) => s"$n×$t" }.mkString(" + ")).mkString("; ")
    assert(TableFormat.readManifest(dir, "docs").rowCount === 1000)
    // measured 5; 6 while the source's schema was inferred in a job,
    // 9 while the write also committed a termStats table
    assert(stagesRun.size <= 5, report)
    // the source schema comes from the footers the build opens for its
    // docId offsets: no job whose stages all run one task (the schema
    // read was one, and the termStats table added two)
    assert(!stagesRun.exists(st => st.nonEmpty && st.forall(_._2 == 1)), report)
    // every job names its phase, AQE's stage jobs included (their call
    // site is AQE's own): the docs write with its stats, and the
    // postings write that runs tokenize and merge; the build itself
    // launches none
    assert(jobs.map(_.description).toSet ===
      Set(IndexTables.DocsPhase, IndexTables.PostingsPhase), report)
    info(report)
  }

  test("footer schemas equal Spark's inferred schemas for every table graft writes") {
    import graft.streaming.StreamingIndexer
    def dataDir(root: String, table: String) = TableFormat.readManifest(root, table).dataPath
    def footerSchema(dir: String) =
      TableFormat.footers(spark, Paths.get(dir)).headOption.flatMap(_.schema)
    def same(dir: String): Unit =
      assert(footerSchema(dir) === Some(spark.read.parquet(dir).schema), dir)
    // a Spark-written source table and the build's tables
    val source = Files.createTempDirectory("graft_schema_src").resolve("t").toString
    graft.tools.CodeCorpus.generate(spark, 200L, 10, 3L, 2).write.parquet(source)
    same(source)
    val built = Files.createTempDirectory("graft_schema_build").toString
    IndexTables.write(spark, IndexBuilder.fromParquetTable(spark, source,
      IndexConfig(shardSizeDocs = 64)), built)
    Seq("docs", "postings").foreach(t => same(dataDir(built, t)))
    // segments, delete tables, and compactions with and without a
    // delete-applying rewrite
    val root = Files.createTempDirectory("graft_schema_seg").toString
    val cfg = IndexConfig(shardSizeDocs = 32)
    def docs(r: Range) = r.map(i => (i.toLong, s"merge sort id$i")).toDF("doc_id", "text")
    StreamingIndexer.append(spark, root, docs(0 until 30), "doc_id", "text", cfg = cfg)
    StreamingIndexer.append(spark, root, docs(30 until 60), "doc_id", "text", cfg = cfg)
    Seq("docs-b0", "postings-b0", "docs-b1", "postings-b1").foreach(t => same(dataDir(root, t)))
    StreamingIndexer.compact(spark, root, cfg)
    val plain = s"$root/${StreamingIndexer.latestCompactionInfo(root).get.dir}"
    StreamingIndexer.deleteIds(spark, root, Seq(4L, 44L))
    same(dataDir(root, "deletes-d0"))
    StreamingIndexer.compact(spark, root, cfg)
    val rewritten = s"$root/${StreamingIndexer.latestCompactionInfo(root).get.dir}"
    assert(rewritten != plain)
    for (c <- Seq(plain, rewritten); t <- Seq("docs", "postings")) same(dataDir(c, t))

    // a parquet file without Spark's row metadata reads through the
    // inference fallback (its one job) with the inferred schema
    val other = Files.createTempDirectory("graft_schema_plain").toString
    TableFormat.write(spark, docs(0 until 3), other, "plain")
    val plainDir = dataDir(other, "plain")
    TableFormat.listChildren(Paths.get(plainDir)).foreach(Files.delete)
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 doc_id; optional binary text (STRING); }")
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$plainDir/part-0.parquet"), spark.sparkContext.hadoopConfiguration)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(out).withType(msg).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    try (0 until 3).foreach(i => w.write(groups.newGroup().append("doc_id", i.toLong).append("text", s"t$i")))
    finally w.close()
    assert(footerSchema(plainDir).isEmpty)
    val (read, jobs) = JobCounts(spark, "fallback")(TableFormat.read(spark, other, "plain"))
    assert(jobs.size === 1)
    assert(read.schema === spark.read.parquet(plainDir).schema)
    assert(read.schema.fieldNames.toSeq === Seq("doc_id", "text"))
    assert(read.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      (0 until 3).map(i => (i.toLong, s"t$i")))
    // a Spark-written table of the same columns reads with no job, and
    // the two read together as a union of both
    TableFormat.write(spark, docs(3 until 5), other, "spark")
    val (_, sparkJobs) = JobCounts(spark, "footer")(TableFormat.read(spark, other, "spark"))
    assert(sparkJobs.isEmpty)
    assert(TableFormat.readTables(spark, other, Seq("plain", "spark")).count() === 5)
  }

  test("lineage: manifest row counts match data") {
    val dir = Files.createTempDirectory("graft_lineage").toString
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(150).toDS(),
      IndexConfig(shardSizeDocs = 64))
    IndexTables.write(spark, idx, dir)
    val m = TableFormat.readManifest(dir, "docs")
    assert(m.rowCount === 150)
    assert(m.files.nonEmpty)
    assert(m.files.map(_.rows).sum === 150)
    val mp = TableFormat.readManifest(dir, "postings")
    assert(mp.rowCount === TableFormat.read(spark, dir, "postings").count())
  }

  test("snapshot ids increase across tables") {
    val dir = Files.createTempDirectory("graft_snap").toString
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(50).toDS(),
      IndexConfig(shardSizeDocs = 64))
    IndexTables.write(spark, idx, dir)
    val ids = Seq("docs", "postings")
      .map(t => TableFormat.readManifest(dir, t).snapshotId)
    assert(ids.distinct.length === 2)
  }

  test("a leftover termStats table is ignored; every dictionary is termStatsOf(postings)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(120).toDS(),
      IndexConfig(shardSizeDocs = 32))
    val clean = Files.createTempDirectory("graft_clean").toString
    val legacy = Files.createTempDirectory("graft_legacy").toString
    IndexTables.write(spark, idx, clean)
    IndexTables.write(spark, idx, legacy)
    // what earlier versions also committed: the dictionary as a table,
    // here with one planted row no postings row backs
    val planted = InvertedIndex.termStatsOf(idx.postings)
      .union(Seq(("content", "zzplanted", 7L, 7L, 7)).toDF("field", "term", "df", "cf", "maxTf"))
    TableFormat.write(spark, planted, legacy, "termStats")
    assert(TableFormat.isCommitted(legacy, "termStats"))
    val a = IndexTables.load(spark, clean)
    val b = IndexTables.load(spark, legacy)
    for (i <- Seq(a, b)) assert(rows(i.termStats) === rows(InvertedIndex.termStatsOf(i.postings)))
    val (sa, sb) = (new Searcher(spark, a), new Searcher(spark, b))
    assert(rows(sb.termEnum("", 1000)) === rows(sa.termEnum("", 1000)))
    assert(rows(sb.termEnum("z", 10)).isEmpty)
    assert(sb.docFreqs(Seq("merge", "pkg1", "zzplanted")) ===
      sa.docFreqs(Seq("merge", "pkg1", "zzplanted")))
    def hits(s: Searcher) = s.search("pkg*", 200).collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    assert(hits(sb).nonEmpty && hits(sb) === hits(sa))
    assert(sb.totalHits(Seq("merge")) === 120 && sa.totalHits(Seq("merge")) === 120)
    // built, cached and tombstoned indexes: the same identity
    val cached = b.cache()
    for (i <- Seq(idx, cached, cached.withDeletes(Seq(3L).toDF("id")), cached.undeleteAll()))
      assert(rows(i.termStats) === rows(InvertedIndex.termStatsOf(i.postings)))
    cached.unpersist()
  }
}
