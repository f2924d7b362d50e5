package graft.tools

import org.apache.spark.sql.SparkSession

import graft.build.{IndexBuilder, IndexConfig}
import graft.query.{BM25, LegacyTfIdf, Searcher}

/** CLI front door: build an index over a documents parquet table and
  * run the core query set against it. Usage:
  *   runMain graft.tools.Demo [sfDir] [term ...]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val terms = if (args.length > 1) args.drop(1).toSeq else Seq("spark", "merge")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    val index = IndexBuilder.fromText(spark, docs, "doc_id", "text",
      untokenized = Seq("lang", "source"),
      IndexConfig(shardSizeDocs = 1024)).cache()
    index.postings.count() // materialize
    println(f"[build] N=${index.stats.numDocs} avgdl=${index.stats.avgDocLen}%.3f " +
      f"terms=${index.termStats.count()} in ${(System.nanoTime() - t0) / 1e9}%.2fs")

    val s = new Searcher(spark, index)
    println(s"[dict] ${s.termEnum(terms.head.take(1), 5).collect().mkString(", ")}")
    println(s"[df]   ${s.docFreqs(terms)}")
    // C2 bulk-read iteration (reference TermDocs.read contract)
    locally {
      val rows = s.postingRows(terms.take(1)).collect().sortBy(_.shard)
      if (rows.nonEmpty) {
        val view = new graft.codec.PostingsCodec.BlobView(
          graft.codec.PostingsCodec.concatBlobs(rows.map(_.blob).toSeq))
        val it = new graft.query.TermIterator(terms.head, rows.map(_.df).sum.toDouble,
          1.0, BM25(), index.stats, view)
        val (docs, tfs) = (new Array[Long](8), new Array[Int](8))
        val chunks = Iterator.continually(it.read(docs, tfs)).takeWhile(_ > 0).toSeq
        println(s"[read]  '${terms.head}' chunks=${chunks.mkString("+")} " +
          s"total=${chunks.sum}")
      }
    }
    def show(tag: String, df: org.apache.spark.sql.DataFrame): Unit =
      println(s"[$tag] " + df.collect().map(_.toSeq.mkString(":")).mkString(" | "))
    show("or      ", s.topK(terms, 5))
    show("and     ", s.topK(terms, 5, BM25(), requireAll = true))
    show("legacy  ", s.topK(terms, 5, LegacyTfIdf))
    show("phrase  ", s.phraseTopK(terms.take(2), 5))
    show("sorted  ", s.sortedTopK(terms.take(1), "lang", ascending = true, 5))
    show("fetch   ", s.fetch(s.topK(terms, 3), Seq("lang", "n_chars")))
    show("enumAll ", s.termEnumAll("lang", "", 5))
    show("boosted ", s.topK(terms, 3, graft.query.Boosted(BM25(), 2.0)))
    // Boolean MUST_NOT + term-expansion family
    show("not     ", s.topK(terms.take(1), 3, mustNot = terms.drop(1)))
    show("prefix  ", s.prefixTopK(terms.head.take(2), 3))
    show("wildcard", s.wildcardTopK(terms.head.take(1) + "*", 3))
    show("range   ", s.rangeTopK(Some(terms.head.take(1)), None, 3))
    show("fuzzy   ", s.fuzzyTopK(terms.head, 3, maxEdits = 1))
    show("snippet ", s.snippets(s.topK(terms, 2), terms, width = 8))
    // classic query-string parser: mixed MUST+SHOULD (ReqOpt) dispatch —
    // must match the explicit must= API call row for row
    show("qstring ", s.search(s"+${terms.head} ${terms.drop(1).mkString(" ")}", 5))
    show("reqopt  ", s.topK(terms, 5, BM25(), must = terms.take(1)))
    // phrase clause inside a boolean query (clause-level scorer)
    show("boolphr ", s.search(s"""+"${terms.take(2).mkString(" ")}" ${terms.head}""", 5))
    // sloppy phrase ("..."~N), minimumShouldMatch, multi-phrase
    show("slop    ", s.search(s""""${terms.take(2).mkString(" ")}"~2""", 5))
    show("minshld ", s.topK(terms :+ "window", 5, minShouldMatch = 2))
    show("mphrase ", s.multiPhraseTopK(
      Seq(Seq(terms.head), terms.drop(1) :+ "sort"), 5))
    show("pprefix ", s.phrasePrefixTopK(
      Seq(terms.head), terms(1).take(2), 5))
    show("dismax  ", s.dismaxTopK(terms :+ "window", 5, tieBreaker = 0.3))
    show("spanfst ", s.spanFirstTopK(terms.head, 5, 3))
    show("near    ", s.nearTopK(terms.head, terms(1), 4, 5))
    show("spannot ", s.spanNotTopK(terms.head, terms(1), 5, pre = 2, post = 2))
    show("spanor  ", s.spanOrTopK(terms.take(2), 5))
    show("mall    ", s.matchAllTopK(3))
    show("regex   ", s.regexpTopK(terms.head.take(2) + "[a-z_0-9]*", 5))
    show("facet   ", s.facetCounts(terms, "lang", 5))
    show("grouped ", s.groupedTopK(terms, "lang", 2))
    show("mlt     ", s.moreLikeThisTopK(0L, 5))
    show("mlttext ", s.moreLikeThisFromText(terms.mkString(" "), 5))
    show("constsc ", s.constantScoreTopK(
      org.apache.spark.sql.functions.col("term") === terms.head, 3))
    show("explain ", s.explainDoc(terms, 0L))
    show("qexpand ", s.search(s"+${terms.head.take(2)}* ${terms(1)}", 5))
    show("tboost  ", s.topK(terms, 5, boosts = Map(terms(1) -> 3.0)))
    show("filtered", s.topK(terms, 5,
      docFilter = Some(org.apache.spark.sql.functions.col("lang") === "en")))
    // SQL surface: native analyzer expressions
    graft.sql.GraftFunctions.register(spark)
    show("sql     ", spark.sql(
      "SELECT graft_doclen('Messi plays for Barcelona') AS dl, " +
        "graft_tokenize('Messi plays for Barcelona') AS toks"))
    // SQL TVF over a persisted snapshot: WAND + pruned phrase, by name
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft_demo_idx").toString
      graft.table.IndexTables.write(spark, index, root)
      graft.sql.MatchQuery.register(spark)
      graft.sql.MatchQuery.registerIndex("demo", root)
      show("sql/wand", spark.sql(
        s"SELECT * FROM match_query('demo', '${terms.mkString(" ")}', 3)"))
      show("sql/phr ", spark.sql(
        s"SELECT * FROM match_query('demo', '${terms.take(2).mkString(" ")}', 3, 'phrase')"))
      // classic syntax through SQL — must equal the [qstring] row set
      show("sql/qstr", spark.sql(
        s"SELECT * FROM match_query('demo', '+${terms.head} " +
          s"${terms.drop(1).mkString(" ")}', 5, 'query')"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    // hybrid retrieval: lexical candidates re-weighted by cosine to
    // the vec-0 embedding (embeddings table required beside documents)
    locally {
      val emb = graft.pipeline.TextPipeline.embeddings(spark, sfDir)
      show("hybrid  ", graft.pipeline.TextPipeline.hybridTopK(
        s.scoredDocs(terms).select("docId", "score"), emb,
        graft.pipeline.TextPipeline.queryVec(emb, 0L), alpha = 0.5, k = 3))
    }
    // deletion: tombstone the current top hit (read-time anti-join,
    // stale stats), then apply physically (rewritten postings, live
    // stats) — the old top doc must vanish from both
    locally {
      import org.apache.spark.sql.functions.col
      val topDoc = s.topK(terms, 1).collect().headOption.map(_.getLong(0))
      topDoc.foreach { d =>
        val tomb = index.withDeletes(
          spark.range(d, d + 1).toDF("docId"))
        show(s"del/tomb", new Searcher(spark, tomb).topK(terms, 3))
        val applied = graft.build.Deletes.applied(spark, tomb)
        show(s"del/phys", new Searcher(spark, applied).topK(terms, 3))
        println(s"[del/stats] N ${index.stats.numDocs} -> ${applied.stats.numDocs}" +
          s" (deleted doc $d; live docs exclude it: " +
          s"${applied.docs.where(col("docId") === d).count() == 0})")
      }
    }
    // updateDocument lifecycle on a persisted segment root: replace the
    // current top hit with new content under a fresh docId, compact,
    // and search the marker — the old doc is gone, the new one ranks
    locally {
      import org.apache.spark.sql.functions.{col, lit}
      import graft.streaming.StreamingIndexer
      val root = java.nio.file.Files.createTempDirectory("graft_demo_upd").toString
      StreamingIndexer.append(spark, root,
        docs.select(col("doc_id").cast("long").as("doc_id"), col("text")),
        "doc_id", "text", cfg = IndexConfig(shardSizeDocs = 1024))
      s.topK(terms, 1).collect().headOption.map(_.getLong(0)).foreach { d =>
        import spark.implicits._
        StreamingIndexer.updateDocuments(spark, root,
          Seq(d).toDF("doc_id"),
          Seq((d + 1000000L, s"zzupdated ${terms.mkString(" ")}")).toDF("doc_id", "text"),
          "doc_id", "text")
        val c = StreamingIndexer.compact(spark, root)
        show("upd/doc ", new Searcher(spark, c).topK(Seq("zzupdated"), 3))
        println(s"[upd/stats] N=${c.stats.numDocs} old doc $d gone: " +
          s"${c.docs.where(col("docId") === lit(d)).count() == 0}")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    spark.stop()
  }
}
