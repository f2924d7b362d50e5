package graft

import java.nio.file.{Files, Paths}

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
    // full resume
    IndexTables.write(spark, idx, dir)
    assert(TableFormat.isCommitted(dir, "postings"))
    assert(TableFormat.isCommitted(dir, "termStats"))
    // docs stage untouched (same manifest bytes → not rewritten)
    assert(Files.readString(Paths.get(dir, "docs.manifest.json")) === manifestBefore)
    // loaded index answers queries
    val loaded = IndexTables.load(spark, dir)
    assert(new Searcher(spark, loaded).totalHits(Seq("merge")) === 100)
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
