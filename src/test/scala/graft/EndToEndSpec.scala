package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, IndexConfig, ReferenceBuilder}
import graft.model.CodeDoc
import graft.query.{BM25, ExhaustiveOracle, LegacyTfIdf, Searcher}

/** The §7.2 minimum slice: F1 fixture corpus → build → search —
  * reproduces the reference behavioral suites
  * (TestHBaseIndexStore/TermPositions/TermEnum/IndexReader) over the
  * driver-mandated (repo, path, commit, lang, content) shape. */
class EndToEndSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** FIXTURES.md F1 — 4-doc football corpus, docIDs 0..3 by docKey
    * order (FactTimes < FourthTimes < ThirdTimes < UtopiaTimes…
    * NOTE: dense IDs are assigned by docKey sort order, not insertion
    * order; assertions below are key-order aware). */
  private val corpus = Seq(
    CodeDoc("ref", "FactTimes", "c0", "text", "Messi plays for Barcelona"),
    CodeDoc("ref", "UtopiaTimes", "c0", "text", "Lionel M plays for Manchester United"),
    CodeDoc("ref", "ThirdTimes", "c0", "text", "Rooney plays for Manchester United"),
    CodeDoc("ref", "FourthTimes", "c0", "text",
      "Messi plays for argentina as well. He plays as a mid-fielder and plays really well."))

  private lazy val index = IndexBuilder.fromCodeDocs(spark, corpus.toDS(),
    IndexConfig(shardSizeDocs = 2)).cache() // 2 docs/shard → exercises sharding
  private lazy val searcher = new Searcher(spark, index)

  private def docIdOf(path: String): Long =
    index.docs.where(col("path") === path).select("docId").head().getLong(0)

  test("dense deterministic docIDs 0..N-1") {
    val ids = index.docs.select("docId").as[Long].collect().sorted
    assert(ids.toSeq === Seq(0L, 1L, 2L, 3L))
    // deterministic across rebuilds
    val idx2 = IndexBuilder.fromCodeDocs(spark, corpus.toDS(), IndexConfig(shardSizeDocs = 2))
    val pairs1 = index.docs.select("path", "docId").as[(String, Long)].collect().toMap
    val pairs2 = idx2.docs.select("path", "docId").as[(String, Long)].collect().toMap
    assert(pairs1 === pairs2)
  }

  test("TestHBaseIndexStore semantics: postings exist for messi/lionel; all docs stored") {
    val m = searcher.matches(Seq("messi")).collect()
    assert(m.map(_.docId).toSet === Set(docIdOf("FactTimes"), docIdOf("FourthTimes")))
    val l = searcher.matches(Seq("lionel")).collect()
    assert(l.map(_.docId).toSet === Set(docIdOf("UtopiaTimes")))
    assert(index.docs.count() === 4)
    assert(index.docs.where(col("content").isNull).count() === 0)
  }

  test("TestHBaseTermPositions semantics: seek('plays') → exactly 4 docs, tf>0, positions") {
    val m = searcher.matchesWithPositions(Seq("plays")).collect().sortBy(_.docId)
    assert(m.length === 4)
    assert(m.forall(_.tf > 0) && m.forall(_.docId >= 0))
    val fourth = m.find(_.docId == docIdOf("FourthTimes")).get
    assert(fourth.tf === 3)
    assert(fourth.positions === Seq(2, 8, 14))
    m.foreach(r => assert(r.positions.length === r.tf))
  }

  test("TestHBaseTermPositions bulk read(): 4/4/3/3+1/3+1+0 buffer contract") {
    import graft.query.TermIterator
    import graft.model.CorpusStats
    def freshIter(): TermIterator = {
      val rows = searcher.postingRows(Seq("plays")).collect()
        .sortBy(_.shard)
      val view = new graft.codec.PostingsCodec.BlobView(
        graft.codec.PostingsCodec.concatBlobs(rows.map(_.blob).toSeq))
      new TermIterator("plays", 4.0, 1.0, graft.query.BM25(),
        CorpusStats(4, 5.75), view)
    }
    def readAll(bufSize: Int): Seq[Int] = {
      val it = freshIter()
      val docs = new Array[Long](bufSize); val tfs = new Array[Int](bufSize)
      Iterator.continually(it.read(docs, tfs)).takeWhile(_ > 0).toSeq :+ 0
    }
    assert(readAll(4) === Seq(4, 0))      // exact
    assert(readAll(32) === Seq(4, 0))     // overflow buffer
    assert(readAll(3) === Seq(3, 1, 0))   // split + last boundary
    val it = freshIter()
    val d = new Array[Long](4); val f = new Array[Int](4)
    assert(it.read(d, f) === 4)
    assert(d.toSeq === d.toSeq.sorted && f.forall(_ > 0)) // ordered, tf>0
  }

  test("TestHBaseTermEnum semantics: dictionary fields and docFreq > 0") {
    val ts = index.termStats.collect()
    val fields = ts.map(_.getString(0)).toSet
    assert(fields === Set("content", "path", "lang"))
    assert(ts.forall(_.getLong(2) > 0)) // df > 0
    // ordered enumeration with range seek
    val e = searcher.termEnum("m", 5).as[(String, Long, Long)].collect()
    assert(e.map(_._1).toSeq === e.map(_._1).sorted.toSeq)
    assert(e.head._1 >= "m")
  }

  test("TestHBaseIndexReader semantics: relevance search 'plays', top hit = tf=3 doc") {
    assert(searcher.totalHits(Seq("plays")) === 4) // totalHits > 3
    for (scorer <- Seq(BM25(), LegacyTfIdf)) {
      val top = searcher.topK(Seq("plays"), 3, scorer).collect()
      assert(top.length === 3)
      assert(top.forall(_.getDouble(1) > 0))
      assert(top.head.getLong(0) === docIdOf("FourthTimes"), s"scorer=${scorer.name}")
    }
    // hits fetchable (C7)
    val fetched = searcher.fetch(searcher.topK(Seq("plays"), 3), Seq("path", "content"))
    assert(fetched.count() === 3)
  }

  test("WAND path rank-identical to exhaustive path (both scorers)") {
    for {
      terms <- Seq(Seq("plays"), Seq("messi", "plays"), Seq("messi", "rooney"),
        Seq("manchester", "united"), Seq("nosuchterm", "messi"))
      k <- Seq(1, 2, 4)
      scorer <- Seq(BM25(), LegacyTfIdf)
    } {
      val exact = ExhaustiveOracle.topK(index, terms, k, scorer).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val wand = searcher.topK(terms, k, scorer).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(wand.map(_._1).toSeq === exact.map(_._1).toSeq,
        s"terms=$terms k=$k scorer=${scorer.name}")
      wand.zip(exact).foreach { case (w, e) =>
        assert(math.abs(w._2 - e._2) < 1e-12, s"terms=$terms k=$k scorer=${scorer.name}")
      }
    }
  }

  test("conjunctive AND requires all terms") {
    val hits = ExhaustiveOracle.topK(index, Seq("messi", "plays"), 10, BM25(), requireAll = true)
      .collect().map(_.getLong(0)).toSet
    assert(hits === Set(docIdOf("FactTimes"), docIdOf("FourthTimes")))
    val wand = searcher.topK(Seq("messi", "plays"), 10, BM25(), requireAll = true)
      .collect().map(_.getLong(0)).toSet
    assert(wand === hits)
  }

  test("phrase query: 'manchester united' matches 2 docs; 'plays for' tf respects gaps") {
    val hits = searcher.phraseTopK(Seq("manchester", "united"), 10).collect()
    assert(hits.map(_.getLong(0)).toSet ===
      Set(docIdOf("UtopiaTimes"), docIdOf("ThirdTimes")))
    // "messi plays" consecutive in FactTimes (1,2) and FourthTimes (1,2)
    val mp = searcher.phraseTopK(Seq("messi", "plays"), 10).collect()
    assert(mp.map(_.getLong(0)).toSet === Set(docIdOf("FactTimes"), docIdOf("FourthTimes")))
  }

  test("field-sorted top-k (C5): sort by path asc/desc") {
    val asc = searcher.sortedTopK(Seq("plays"), "path", ascending = true, 4)
      .collect().map(_.getString(1))
    assert(asc.toSeq === asc.sorted.toSeq && asc.length === 4)
    val desc = searcher.sortedTopK(Seq("plays"), "path", ascending = false, 4)
      .collect().map(_.getString(1))
    assert(desc.toSeq === desc.sorted.reverse.toSeq)
  }

  test("untokenized fields indexed with sentinel position 0") {
    val m = searcher.postingRows(Seq("text")).collect() // wrong field
    assert(m.isEmpty)
    val langSearcher = new Searcher(spark, index, field = "lang")
    val langRows = langSearcher.matchesWithPositions(Seq("text")).collect()
    assert(langRows.length === 4)
    assert(langRows.forall(_.positions === Seq(0)))
  }

  test("segment posting build ≡ test-scope Aggregator reference build") {
    // the reference (ReferenceBuilder: doc-local analysis + typed
    // Aggregator) rebuilds postings from the production docs table, so
    // both sides see the same docIds and share only analyzer + codec
    val untok = Seq("path", "lang")
    def canon(idx: graft.build.InvertedIndex) =
      idx.postings.select("field", "term", "shard", "df", "cf", "maxTf")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def decoded(idx: graft.build.InvertedIndex) =
      new Searcher(spark, idx).matchesWithPositions(Seq("plays", "messi"))
        .collect().map(m => (m.term, m.docId, m.tf, m.positions)).sortBy(_.toString).toSeq
    // every blob of every row, fully decoded
    def allPostings(idx: graft.build.InvertedIndex) =
      idx.postings.select("field", "term", "shard", "blob")
        .as[(String, String, Long, Array[Byte])].collect()
        .map { case (f, t, sh, b) =>
          (f, t, sh, new graft.codec.PostingsCodec.BlobView(b).allPostings.toSeq
            .map(p => (p.docId, p.tf, p.positions.toSeq)))
        }.sortBy(r => (r._1, r._2, r._3)).toSeq
    val small = IndexBuilder.fromCodeDocs(spark, corpus.toDS(), IndexConfig(shardSizeDocs = 2))
    val smallRef = ReferenceBuilder.index(small, Seq("content"), untok)
    assert(canon(small) === canon(smallRef))
    assert(decoded(small) === decoded(smallRef))
    assert(allPostings(small) === allPostings(smallRef))
    // multi-partial segments: 300 docs over 4 partitions, 64-doc shards
    // (several partials per shard, shard splits inside a partition)
    val code = IndexBuilder.fromCodeDocs(spark,
      graft.tools.CodeCorpus.generate(spark, 300L).repartition(4),
      IndexConfig(shardSizeDocs = 64))
    val codeRef = ReferenceBuilder.index(code, Seq("content"), untok)
    assert(canon(code) === canon(codeRef))
    assert(allPostings(code) === allPostings(codeRef))
    assert(code.postings.select("shard").distinct().count() === 5)
  }

  test("cross-field termEnum iterates the whole (field, term) keyspace") {
    // reference TestHBaseTermEnum.java:61-72 — enumeration surfaces
    // MULTIPLE fields, each entry with df > 0, ordered by (field, term)
    val all = searcher.termEnumAll("", "", 1000)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(all.map(_._1).toSet === Set("content", "lang", "path"))
    assert(all.forall(_._3 > 0)) // df > 0
    assert(all.map(e => (e._1, e._2)) === all.map(e => (e._1, e._2)).sorted)
    // seek: start mid-keyspace, at (lang, "") — content terms excluded
    val fromLang = searcher.termEnumAll("lang", "", 1000)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(fromLang.map(_._1).toSet === Set("lang", "path"))
    assert(fromLang.size < all.size)
  }

  test("docKey <-> docId point lookups (reference doc2int/int2doc)") {
    val key = "ref/FourthTimes@c0"
    val id = searcher.lookupDocId(key)
    assert(id === Some(docIdOf("FourthTimes")))
    assert(searcher.lookupDocKey(id.get) === Some(key))
    assert(searcher.lookupDocId("ref/NoSuchDoc@c0") === None)
    assert(searcher.lookupDocKey(999L) === None)
  }

  test("field boost scales scores and preserves exhaustive/WAND identity") {
    import graft.query.Boosted
    val terms = Seq("plays", "messi", "manchester")
    val base = ExhaustiveOracle.topK(index, terms, 4).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val boosted = ExhaustiveOracle.topK(index, terms, 4, Boosted(BM25(), 2.5))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(base.map(_._1).toSeq === boosted.map(_._1).toSeq) // same ranking
    base.zip(boosted).foreach { case ((_, s0), (_, s1)) =>
      assert(math.abs(s1 - s0 * 2.5) < 1e-12)
    }
    // WAND with a boosted scorer stays rank- and score-identical
    val wand = searcher.topK(terms, 4, Boosted(BM25(), 2.5))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(wand.toSeq === boosted.toSeq)
    // and for the legacy scorer too (non-trivial docFactor)
    val lb = ExhaustiveOracle.topK(index, terms, 4, Boosted(LegacyTfIdf, 0.3))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val lw = searcher.topK(terms, 4, Boosted(LegacyTfIdf, 0.3))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(lb === lw)
  }

  test("segment merge survives docIds interleaved across input partitions") {
    // fromText accepts any pre-existing id column; round-robin
    // repartitioning interleaves id ranges across partitions, so the
    // map-side partial blobs are NOT range-disjoint — the merge must
    // detect that (minDoc monotonicity check) and decode-sort-re-encode
    // instead of concatenating, or WAND's maxDoc block skip corrupts.
    val docs = (0L until 64L)
      .map(i => (i, s"alpha tok$i beta ${if (i % 3 == 0) "gamma" else "delta"}"))
      .toDF("doc_id", "text")
      .repartition(5) // hash/round-robin: interleaves id ranges
    val interleaved = IndexBuilder.fromText(spark, docs, "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 1L << 20))
    val sorted = ReferenceBuilder.index(
      IndexBuilder.fromText(spark, docs.orderBy("doc_id").coalesce(1),
        "doc_id", "text", cfg = IndexConfig(shardSizeDocs = 1L << 20)),
      Seq("content"), Nil)
    def rows(idx: graft.build.InvertedIndex) = {
      val s = new Searcher(spark, idx)
      s.matches(Seq("gamma", "alpha")).collect()
        .map(m => (m.term, m.docId, m.tf)).sortBy(_.toString).toSeq
    }
    assert(rows(interleaved) === rows(sorted))
    // WAND ≡ oracle on the interleaved build (block skip intact)
    val s = new Searcher(spark, interleaved)
    assert(s.topK(Seq("gamma", "alpha"), 10).collect().map(_.toSeq).toSeq
      === ExhaustiveOracle.topK(interleaved, Seq("gamma", "alpha"), 10)
        .collect().map(_.toSeq).toSeq)
    // and every stored blob ends up docId-ordered
    val blobs = interleaved.postings.select("blob").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(blobs.forall(b => new graft.codec.PostingsCodec.BlobView(b).isDocOrdered))
  }

  test("null text indexes as dl=0 (avgdl parity: empty docs count)") {
    val docs = Seq((0L, "alpha beta"), (1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "text")
    val idx = IndexBuilder.fromText(spark, docs, "doc_id", "text")
    val dls = idx.docs.select("docId", "dl").as[(Long, Long)].collect().toMap
    assert(dls === Map(0L -> 2L, 1L -> 0L, 2L -> 0L))
    assert(math.abs(idx.stats.avgDocLen - 2.0 / 3.0) < 1e-9) // N=3 incl. empties
  }

  test("sha256 row invariant (D4)") {
    val bad = index.docs
      .where(sha2(col("content"), 256) =!= col("content_sha256")).count()
    assert(bad === 0)
  }

  test("corpus stats") {
    assert(index.stats.numDocs === 4)
    // dls: 3, 5(lionel m plays manchester united), 5, 10
    val dls = index.docs.select("dl").as[Long].collect().sorted
    assert(dls.sum === dls.sum) // sanity
    assert(math.abs(index.stats.avgDocLen - dls.sum.toDouble / 4) < 1e-9)
  }
}
