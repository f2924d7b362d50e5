package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
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
    assert(TableFormat.isCommitted(dir, "termStats"))
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

    // kill-point: the termStats manifest lost → the resume rewrites the
    // same rows and reclaims the unreferenced old data dir
    def termStatsRows() =
      TableFormat.read(spark, dir, "termStats").collect().toSeq.sortBy(_.toString)
    val termStatsBefore = termStatsRows()
    Files.delete(Paths.get(dir, "termStats.manifest.json"))
    IndexTables.write(spark, idx, dir)
    assert(termStatsRows() === termStatsBefore)
    assert(children().count(_.startsWith("termStats.snap-")) === 1, children())

    // a no-replace commit onto an existing file yields to it: the
    // committed bytes stay and no temp file is left behind
    val statsBytes = Files.readAllBytes(Paths.get(dir, "stats.json")).toSeq
    TableFormat.commitJson(dir, "stats.json",
      Seq("numDocs" -> "1", "avgDocLen" -> "2.0"), replace = false)
    assert(Files.readAllBytes(Paths.get(dir, "stats.json")).toSeq === statsBytes)
    assert(!children().exists(_.startsWith("_tmp_")), children())
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
    val ids = Seq("docs", "postings", "termStats")
      .map(t => TableFormat.readManifest(dir, t).snapshotId)
    assert(ids.distinct.length === 3)
  }
}
