package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.codec.PostingsCodec
import graft.model.{CodeDoc, CorpusStats, Posting}
import graft.query.{BM25, ExhaustiveOracle, Searcher, TermIterator, Wand}

/** Round-4 gates: pruned positional phrase path (rank identity vs the
  * exhaustive explode-join + lazy-positions skip observable) and the
  * one-metadata-collect-per-query job budget. */
class Round4Spec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mix(z0: Long): Long = graft.tools.CodeCorpus.mix(z0)

  /** Random corpus with enough term adjacency for phrase hits. */
  private def corpus(seed: Long, n: Int): Seq[CodeDoc] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "rare1", "rare2", "the", "for")
    (0 until n).map { i =>
      val len = 2 + (mix(seed ^ i) & 0x7FFFFFFF).toInt % 40
      val words = (0 until len).map { t =>
        vocab(((mix(seed ^ (i * 131L + t)) & 0x7FFFFFFF) %
          (if (t % 7 == 0) vocab.length else 10)).toInt)
      }
      CodeDoc("r" + (i % 4), s"f$i", "c0", "x", words.mkString(" "))
    }
  }

  test("pruned phrase path is rank- and score-identical to the exhaustive path") {
    for ((seed, n, shardSize) <- Seq((7L, 150, 16L), (99L, 220, 64L), (5L, 90, 1024L))) {
      val idx = IndexBuilder.fromCodeDocs(spark, corpus(seed, n).toDS(),
        IndexConfig(shardSizeDocs = shardSize)).cache()
      val s = new Searcher(spark, idx)
      val phrases = Seq(
        Seq("alpha", "beta"), Seq("beta", "alpha"),
        Seq("gamma", "delta", "eps"), Seq("alpha", "beta", "alpha"),
        Seq("alpha"), Seq("rare1", "alpha"),
        Seq("alpha", "zzz_missing"))
      for (p <- phrases; k <- Seq(1, 5, 20)) {
        val tag = s"seed=$seed shard=$shardSize phrase=$p k=$k"
        val ex = ExhaustiveOracle.multiPhraseTopK(idx, p.map(Seq(_)), k).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val pr = s.phraseTopK(p, k).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        assert(pr.map(_._1).toSeq === ex.map(_._1).toSeq, tag)
        pr.zip(ex).foreach { case (a, b) =>
          assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)), tag)
        }
      }
      idx.unpersist()
    }
  }

  test("skewed phrase: common term decodes only the blocks near the rare term's docs") {
    // common term in every doc (many blocks); rare term in 3 docs at
    // the tail — the docId leapfrog must skip the common term's early
    // blocks entirely and decode positions lazily only at alignments.
    val nDocs = 4000
    val common = (0 until nDocs).map(d => Posting(d.toLong, 1, Array(1)))
    val rareDocs = Seq(3800L, 3900L, 3999L)
    val rare = rareDocs.map(d => Posting(d, 1, Array(2))).toIndexedSeq
    val stats = CorpusStats(nDocs.toLong, 2.0)
    val sc = BM25()
    def iter(ps: IndexedSeq[Posting], term: String) = new TermIterator(
      term, ps.length.toDouble, 1.0, sc, stats,
      new PostingsCodec.BlobView(PostingsCodec.encodePostingsBlob(ps)))
    val ci = iter(common.toIndexedSeq, "common")
    val ri = iter(rare, "rare")
    val hits = Wand.multiPhraseMatches(Seq(Seq("common"), Seq("rare")),
      Map("common" -> ci, "rare" -> ri)).toSeq
    assert(hits.map(_._1) === rareDocs) // common@1, rare@2 consecutive
    val totalBlocks = (nDocs + PostingsCodec.BlockSize - 1) / PostingsCodec.BlockSize
    // docId-level: leapfrog must touch far fewer blocks than exist
    assert(ci.decodedBlocks < totalBlocks / 4,
      s"decoded ${ci.decodedBlocks} of $totalBlocks docId blocks")
    // positions-level: only the blocks containing alignments (≤ 3)
    assert(ci.decodedPosBlocks <= rareDocs.length,
      s"decoded ${ci.decodedPosBlocks} positional blocks")
    assert(ci.decodedPosBlocks < ci.decodedBlocks)
  }

  test("topK runs at most 2 jobs (one metadata collect + one main job)") {
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(11L, 200).toDS(),
      IndexConfig(shardSizeDocs = 64)).cache()
    idx.postings.count(); idx.docs.count(); idx.stats // warm + force lazy stats
    val s = new Searcher(spark, idx)
    val dels = Seq(3L, 70L, 140L).toDF("docId")
    // (shape, max jobs, run): each cap is the count measured before the
    // pruned query paths shared one shard cogroup; the small-set delete
    // apply is one action below that measurement (one bounded collect
    // replaced a count followed by a collect); the field-sorted and
    // boolean phrase-mix caps are the counts measured before topK and
    // the all-hits scorer each became one path; the positional caps
    // (phrase, multi-phrase, NEAR, spanNot, spanFirst), the phrase mix
    // and groupedTopK hold once the phrase df is observed on the match
    // set's checkpoint job and each query collects its metadata once
    // (measured before: 4, 4, 4, 4, 5, 6 and 6 jobs); field sort, the
    // phrase mix and groupedTopK drop one more job each once the
    // clause scorer reads every clause in one shard pass with no dl
    // broadcast (measured before: 4, 4 and 5 jobs)
    val pins: Seq[(String, Int, () => Unit)] = Seq(
      ("topK", 2, () => s.topK(Seq("alpha", "rare2"), 5).collect()),
      ("sortedTopK", 3, () => s.sortedTopK(Seq("alpha", "rare2"), "path", true, 5).collect()),
      ("search phrase mix", 3, () => s.search("+\"alpha beta\" gamma", 5).collect()),
      ("phraseTopK", 3, () => s.phraseTopK(Seq("alpha", "beta"), 5).collect()),
      ("multiPhraseTopK", 3, () =>
        s.multiPhraseTopK(Seq(Seq("alpha"), Seq("beta", "gamma")), 5).collect()),
      ("nearTopK", 3, () => s.nearTopK("alpha", "beta", 3, 5).collect()),
      ("spanNotTopK", 3, () => s.spanNotTopK("alpha", "beta", 5, 1, 1).collect()),
      ("spanFirstTopK", 3, () => s.spanFirstTopK("alpha", 3, 5).collect()),
      ("groupedTopK", 4, () => s.groupedTopK(Seq("alpha", "rare2"), "path", 2).collect()),
      ("dismaxTopK", 2, () => s.dismaxTopK(Seq("alpha", "beta"), 5, 0.3).collect()),
      ("Deletes.appliedWith small set", 1, () =>
        graft.build.Deletes.appliedWith(spark, idx, dels)))
    pins.foreach(_._3()) // warm codegen paths
    val sc = spark.sparkContext

    /** Jobs each pin launched, run under its own job group. */
    def jobCounts(aqe: Boolean): Map[String, Int] = {
      val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
          if (g != null) jobs.merge(g, 1, (a, b) => a + b)
          ()
        }
      }
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      sc.addSparkListener(listener)
      try {
        pins.foreach { case (name, _, run) =>
          sc.setJobGroup(name, name)
          run()
        }
        // the bus delivers in order: once the marker job's start arrived,
        // every earlier job start has too
        sc.setJobGroup("marker", "marker")
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 10_000_000_000L
        while (System.nanoTime() < deadline && !jobs.containsKey("marker")) Thread.sleep(20)
        assert(jobs.containsKey("marker"), "listener bus did not drain")
        pins.map { case (name, _, _) =>
          name -> Option(jobs.get(name)).map(_.intValue).getOrElse(0)
        }.toMap
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
        spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      }
    }

    /** Every pin over its cap, named in one failure. */
    def assertCaps(label: String, counts: Map[String, Int], caps: Seq[(String, Int)]): Unit = {
      val over = caps.flatMap { case (name, cap) =>
        if (counts(name) > cap) Some(s"$name launched ${counts(name)} jobs (cap $cap)")
        else None
      }
      assert(over.isEmpty, s"$label: " + over.mkString("; "))
    }

    // AQE submits each shuffle-stage materialization as its own job
    // inside the ONE main query — those are not extra driver actions.
    // With AQE off the job count equals the action count being asserted
    // (topK: 1 metadata collect + 1 main query).
    assertCaps("AQE off", jobCounts(aqe = false), pins.map(p => (p._1, p._2)))
    // With AQE on, the shard cogroup of a cached index has no shuffle
    // stage to materialize, so the scaffold's shapes hold the same caps
    // (measured before the cached index was shard-partitioned: 4 jobs
    // for topK and dismax, 5 for the positional shapes). The phrase mix
    // folds each doc in its shard: metadata, checkpoint and final job,
    // with no shuffle stage (measured before the fold left SQL: 4)
    assertCaps("AQE on", jobCounts(aqe = true), Seq("topK" -> 2, "dismaxTopK" -> 2,
      "phraseTopK" -> 3, "multiPhraseTopK" -> 3, "nearTopK" -> 3, "spanNotTopK" -> 3,
      "spanFirstTopK" -> 3, "search phrase mix" -> 3))
    idx.unpersist()
  }

  test("cached index ≡ uncached with more shards than partitions and with fewer") {
    import org.apache.spark.sql.functions.col
    val parts = spark.sparkContext.defaultParallelism
    val filter = Some(col("repo") =!= "r1")
    for (shardSize <- Seq(8L, 128L)) {
      val uncached = IndexBuilder.fromCodeDocs(spark, corpus(13L, 200).toDS(),
        IndexConfig(shardSizeDocs = shardSize))
      val cached = uncached.cache()
      val nShards = cached.postings.select("shard").distinct().count()
      assert(cached.postings.rdd.getNumPartitions === parts)
      assert(cached.docs.rdd.getNumPartitions === parts)
      assert(if (shardSize == 8L) nShards > parts else nShards < parts, s"$nShards shards")
      assert(cached.docs.columns.toSeq === uncached.docs.columns.toSeq)
      val queries: Seq[(String, Searcher => org.apache.spark.sql.DataFrame)] = Seq(
        "topK" -> (_.topK(Seq("alpha", "rare2"), 10)),
        "topK docFilter" -> (_.topK(Seq("alpha", "rare2"), 10, docFilter = filter)),
        "scoredDocs docFilter" -> (_.scoredDocs(Seq("beta", "rare1"), docFilter = filter)
          .select("docId", "score").orderBy("docId")),
        "phraseTopK" -> (_.phraseTopK(Seq("alpha", "beta"), 10)),
        "phrase mix" -> (_.search("+\"alpha beta\" gamma", 10)),
        "facetCounts" -> (_.facetCounts(Seq("rare1"), "repo", 4, docFilter = filter)))
      for ((u, c) <- Seq(uncached -> cached,
          uncached.withDeletes(Seq(5L, 90L).toDF("id")) ->
            cached.withDeletes(Seq(5L, 90L).toDF("id"))); (name, q) <- queries) {
        val tag = s"shard=$shardSize deletes=${c.deletes.nonEmpty} $name"
        val want = q(new Searcher(spark, u)).collect().toSeq
        val got = q(new Searcher(spark, c)).collect().toSeq
        assert(want.nonEmpty, tag)
        assert(got.map(_.get(0)) === want.map(_.get(0)), tag)
        got.zip(want).foreach { case (g, w) =>
          val (a, b) = (g.getAs[Number](1).doubleValue, w.getAs[Number](1).doubleValue)
          assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)), tag)
        }
      }
      cached.unpersist()
    }
  }

  test("metadata docIDs come from a broadcast join, not a closure map") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r4_tbl").toString
    corpus(21L, 300).toDF()
      .repartition(4).write.mode("overwrite").parquet(dir)
    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
      } finally s.close()
    }
    val spark2 = spark
    val counts = files.map { f =>
      f -> spark2.read.parquet(s"$dir/$f").count()
    }
    val withIds = graft.build.IndexBuilder.tableWithIds(spark, dir, counts)
    withIds.collect()
    val plan = withIds.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.toLowerCase.contains("udf"), plan.take(2000))
    // dense ids 0..N-1, contiguous per name-sorted file
    val ids = withIds.select("docId").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 300L))
    // determinism: ids follow (file name asc, row_index asc)
    val byKey = withIds.select("docId", "docKey").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(byKey.size === 300)
  }

  test("simhashEdges: 1k identical docs give O(n) edges with identical groups") {
    import graft.pipeline.TextPipeline
    val n = 1000
    val docs = ((0 until n).map(i => (i.toLong, "identical content words here common"))
      ++ Seq((5000L, "totally different text alpha beta"),
             (5001L, "totally different text alpha beta"),
             (6000L, "unique singleton document body")))
      .toDF("doc_id", "text")
    val edges = TextPipeline.simhashEdges(docs, 8)
    val nEdges = edges.count()
    // star edges: n−1 for the identical block + 1 for the 5000/5001
    // pair (+ possibly a few value-level edges) — must be linear, not n²/2
    assert(nEdges < 2L * (n + 2), s"simhashEdges emitted $nEdges edges")
    val pairGroups = TextPipeline
      .dedupGroupsFromPairs(docs, TextPipeline.simhashPairs(docs, 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val edgeGroups = TextPipeline.dedupGroups(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(edgeGroups === pairGroups)
  }

  test("simhashEdges components equal full-pair components on a varied corpus") {
    import graft.pipeline.TextPipeline
    val docs = (0L until 120L).map { i =>
      val base = Seq("alpha beta gamma delta common words here body text",
        "epsilon zeta eta theta more words in this one here",
        "totally different third cluster of words goes here now")(i.toInt % 3)
      val variant = if (i % 5 == 0) base + s" tok$i" else base
      (i, variant)
    }.toDF("doc_id", "text")
    val viaPairs = TextPipeline
      .dedupGroupsFromPairs(docs, TextPipeline.simhashPairs(docs, 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaEdges = TextPipeline.dedupGroups(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaEdges === viaPairs)
  }

  test("alternate analyzer round-trip: underscore split + no stop set") {
    import graft.analysis.CodeIdentifierAnalyzer
    val docs = Seq(
      (0L, "def snake_case(x): return the_value"),
      (1L, "for item in collection"),
      (2L, "totally unrelated words")).toDF("doc_id", "text")
    val cfg = IndexConfig(shardSizeDocs = 64, analyzer = CodeIdentifierAnalyzer)
    val idx = IndexBuilder.fromText(spark, docs, "doc_id", "text", Nil, cfg)
    val terms = idx.termStats.select("term").collect().map(_.getString(0)).toSet
    // snake_case split at the underscore; stopwords kept
    assert(terms.contains("snake") && terms.contains("case"))
    assert(!terms.contains("snake_case"))
    assert(terms.contains("the") && terms.contains("for") && terms.contains("in"))
    val s = new Searcher(spark, idx)
    assert(s.topK(Seq("case"), 5).collect().map(_.getLong(0)).toSeq === Seq(0L))
    assert(s.topK(Seq("for"), 5).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // dl matches the analyzer's own token count (UDF path, not the
    // default's native expression)
    val dls = idx.docs.select("docId", "dl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dls(1L) === 4L) // for, item, in, collection — stopwords kept
    // default analyzer on the same text keeps snake_case whole + drops stops
    val dIdx = IndexBuilder.fromText(spark, docs, "doc_id", "text", Nil,
      IndexConfig(shardSizeDocs = 64))
    val dTerms = dIdx.termStats.select("term").collect().map(_.getString(0)).toSet
    assert(dTerms.contains("snake_case") && !dTerms.contains("the"))
  }

  test("match_query resolves registered index names") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r4_named").toString
    val docs = Seq((0L, "alpha beta gamma"), (1L, "alpha delta"))
      .toDF("doc_id", "text")
    val idx = IndexBuilder.fromText(spark, docs, "doc_id", "text", Nil,
      IndexConfig(shardSizeDocs = 64))
    graft.table.IndexTables.write(spark, idx, dir)
    graft.sql.MatchQuery.register(spark)
    graft.sql.MatchQuery.registerIndex("r4idx", dir)
    val byName = spark.sql("SELECT * FROM match_query('r4idx', 'alpha', 5)")
      .collect().map(_.getLong(0)).toSet
    val byPath = spark.sql(s"SELECT * FROM match_query('$dir', 'alpha', 5)")
      .collect().map(_.getLong(0)).toSet
    assert(byName === Set(0L, 1L))
    assert(byName === byPath)
  }

  test("interned DocTermScratch + TermTable ≡ LinkedHashMap partition reference") {
    val rnd = new scala.util.Random(77)
    val collide = Seq("Aa", "BB", "AaAa", "BBAa", "AaBB", "BBBB")
    val vocab = (collide ++ (0 until 2000).map(i => s"id$i")).toArray
    val scratch = new IndexBuilder.DocTermScratch
    val table = new IndexBuilder.TermTable
    // partition-level reference: term → (docIds, tfs, flattened positions)
    val ref = scala.collection.mutable.LinkedHashMap
      .empty[String, (List[Long], List[Int], List[Int])]
    for (doc <- 1 to 60) {
      val docId = doc.toLong * 7
      val nTok = 1 + rnd.nextInt(2000)
      val toks = (0 until nTok).map(_ => vocab(rnd.nextInt(vocab.length)))
      val docRef = scala.collection.mutable.LinkedHashMap.empty[String, List[Int]]
      scratch.reset()
      toks.zipWithIndex.foreach { case (t, i) =>
        val pos = i + 1
        docRef.updateWith(t)(o => Some(o.getOrElse(Nil) :+ pos))
        val buf = t.toCharArray
        scratch.addBufInterned(buf, buf.length, pos, table)
      }
      // scratch content matches the doc-level reference
      val got = (0 until scratch.size).map(i =>
        scratch.term(i) -> scratch.buf(i).toArray.toList)
      assert(got == docRef.toSeq, s"doc $doc scratch diverged")
      // canonical identity: scratch terms ARE the table's entry strings
      (0 until scratch.size).foreach { i =>
        assert(scratch.term(i) eq table.term(scratch.tidx(i)))
      }
      // flush exactly as segmentPartials does
      (0 until scratch.size).foreach { i =>
        table.acc(scratch.tidx(i)).add(docId, scratch.buf(i))
      }
      docRef.foreach { case (t, ps) =>
        ref.updateWith(t) { o =>
          val (ds, ts, fl) = o.getOrElse((Nil, Nil, Nil))
          Some((ds :+ docId, ts :+ ps.length, fl ++ ps))
        }
      }
    }
    // partition-level: same terms, same first-occurrence order, same
    // columnar accumulation
    assert((0 until table.size).map(table.term).toSeq === ref.keys.toSeq)
    (0 until table.size).foreach { i =>
      val (ds, ts, fl) = ref(table.term(i))
      val acc = table.acc(i)
      assert(acc.docIds.raw.take(acc.docIds.length).toList === ds)
      assert(acc.tfs.raw.take(acc.tfs.length).toList === ts)
      assert(acc.posFlat.raw.take(acc.posFlat.length).toList === fl)
    }
  }

  test("persisted analyzer identity: match_query tokenizes with the index's analyzer") {
    import graft.analysis.CodeIdentifierAnalyzer
    val dir = java.nio.file.Files.createTempDirectory("graft_r4_anlz").toString
    val docs = Seq((0L, "def snake_case(x): pass"), (1L, "for item in collection"))
      .toDF("doc_id", "text")
    val idx = IndexBuilder.fromText(spark, docs, "doc_id", "text", Nil,
      IndexConfig(shardSizeDocs = 64, analyzer = CodeIdentifierAnalyzer))
    graft.table.IndexTables.write(spark, idx, dir)
    val loaded = graft.table.IndexTables.load(spark, dir)
    assert(loaded.config.analyzer eq CodeIdentifierAnalyzer)
    graft.sql.MatchQuery.register(spark)
    // 'snake_case' must split with the INDEX's analyzer → doc 0 found;
    // 'for' is a stopword only to the standard analyzer → doc 1 found
    assert(spark.sql(s"SELECT * FROM match_query('$dir', 'snake_case', 5)")
      .collect().map(_.getLong(0)).toSet === Set(0L))
    assert(spark.sql(s"SELECT * FROM match_query('$dir', 'for', 5)")
      .collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("stale docID manifest fails loudly instead of silently dropping rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r4_stale").toString
    corpus(31L, 100).toDF().repartition(4).write.mode("overwrite").parquet(dir)
    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
      } finally s.close()
    }
    val counts = files.map(f => f -> spark.read.parquet(s"$dir/$f").count())
    // full manifest: fine
    assert(graft.build.IndexBuilder.tableWithIds(spark, dir, counts)
      .select("docId").distinct().count() === 100L)
    // manifest missing one file: must raise when docIds are computed,
    // not shrink the index (count(*) alone prunes the docId projection
    // away — the build always computes docId, so the guard fires there)
    val ex = intercept[Exception] {
      graft.build.IndexBuilder.tableWithIds(spark, dir, counts.tail)
        .select("docId").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("missing from the docID manifest")),
      msgs(ex).mkString(" | "))
  }

  test("hybridTopK blends BM25 and cosine with hand-computed reference; degenerate vectors rank last") {
    import graft.pipeline.TextPipeline
    val scored = Seq((0L, 2.0), (1L, 1.5), (2L, 1.4), (3L, 3.0))
      .toDF("docId", "score")
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), // cos vs q(1,0) = 1.0
      (1L, Seq(0.0f, 1.0f)), // cos = 0.0
      (2L, Seq(1.0f, 1.0f)), // cos = 0.707
      (3L, Seq(0.0f, 0.0f)), // zero norm → cosine 0 (NOT NaN-on-top)
      (9L, Seq(9.0f, 9.0f))) // not a candidate — must not appear
      .toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0)
    val got = TextPipeline.hybridTopK(scored, emb, q, alpha = 0.5, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // expected blends: 0 → 2.0+0.5·1.0=2.5; 1 → 1.5; 2 → 1.4+0.5·0.707=1.7535;
    // 3 → 3.0+0 (zero-norm cosine coalesces to 0, keeps its lexical rank)
    assert(got.map(_._1).toSeq === Seq(3L, 0L, 2L, 1L))
    val byId = got.toMap
    assert(math.abs(byId(0L) - 2.5) < 1e-9)
    assert(math.abs(byId(2L) - (1.4 + 0.5 * 0.707)) < 1e-9)
    assert(math.abs(byId(3L) - 3.0) < 1e-9)
    // alpha matters: alpha=0 reduces to the lexical order
    val lex = TextPipeline.hybridTopK(scored, emb, q, alpha = 0.0, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(lex === Seq(3L, 0L, 1L, 2L))
    // candidate without any embedding row keeps its lexical score
    val got2 = TextPipeline.hybridTopK(
      scored.union(Seq((7L, 2.2)).toDF("docId", "score")), emb, q, 0.5, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(got2(7L) - 2.2) < 1e-9)
  }

  test("phrase with a term absent from the index returns empty") {
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(3L, 50).toDS(),
      IndexConfig(shardSizeDocs = 32))
    val s = new Searcher(spark, idx)
    assert(s.phraseTopK(Seq("alpha", "zzz_nope"), 10).collect().isEmpty)
  }
}
