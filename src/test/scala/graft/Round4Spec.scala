package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig, InvertedIndex}
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

  /** (shape, run) of every job-pinned query shape over `s`; each run
    * returns its answer. */
  private def pinShapes(s: Searcher, idx: InvertedIndex): Seq[(String, () => Any)] = {
    import org.apache.spark.sql.functions.col
    val dels = Seq(3L, 70L, 140L).toDF("docId")
    def rows(df: => org.apache.spark.sql.DataFrame): () => Any = () => df.collect().toSeq
    Seq(
      "topK" -> rows(s.topK(Seq("alpha", "rare2"), 5)),
      "sortedTopK" -> rows(s.sortedTopK(Seq("alpha", "rare2"), "path", true, 5)),
      "search phrase mix" -> rows(s.search("+\"alpha beta\" gamma", 5)),
      "phraseTopK" -> rows(s.phraseTopK(Seq("alpha", "beta"), 5)),
      "multiPhraseTopK" -> rows(s.multiPhraseTopK(Seq(Seq("alpha"), Seq("beta", "gamma")), 5)),
      "nearTopK" -> rows(s.nearTopK("alpha", "beta", 3, 5)),
      "spanNotTopK" -> rows(s.spanNotTopK("alpha", "beta", 5, 1, 1)),
      "spanFirstTopK" -> rows(s.spanFirstTopK("alpha", 3, 5)),
      "groupedTopK" -> rows(s.groupedTopK(Seq("alpha", "rare2"), "path", 2)),
      "dismaxTopK" -> rows(s.dismaxTopK(Seq("alpha", "beta"), 5, 0.3)),
      "Deletes.appliedWith small set" -> (() => {
        graft.build.Deletes.appliedWith(spark, idx, dels); Nil
      }),
      "prefixTopK" -> rows(s.prefixTopK("ga", 5)),
      "wildcardTopK" -> rows(s.wildcardTopK("*ta", 5)),
      "fuzzyTopK" -> rows(s.fuzzyTopK("alpah", 5)),
      "rangeTopK" -> rows(s.rangeTopK(Some("d"), Some("f"), 5)),
      "regexpTopK" -> rows(s.regexpTopK("(beta|eta)", 5)),
      "constantScoreTopK" -> rows(s.constantScoreTopK(col("term").startsWith("ra"), 5)),
      "termEnum" -> rows(s.termEnum("d", 5)),
      "docFreqs" -> (() => s.docFreqs(Seq("alpha", "rare2", "zzz_missing"))))
  }

  /** Jobs each pin shape launched, each run under its own job group. */
  private def jobCounts(shapes: Seq[(String, () => Any)], aqe: Boolean): Map[String, Int] =
    shapes.map { case (name, run) =>
      name -> JobCounts.withAqe(spark, name, aqe)(run())._2.size
    }.toMap

  /** Every pin over its cap, named in one failure. */
  private def assertCaps(label: String, counts: Map[String, Int],
      caps: Seq[(String, Int)]): Unit = {
    val over = caps.flatMap { case (name, cap) =>
      if (counts(name) > cap) Some(s"$name launched ${counts(name)} jobs (cap $cap)")
      else None
    }
    assert(over.isEmpty, s"$label: " + over.mkString("; "))
  }

  /** The pin corpus, uncached. */
  private def pinIndex: InvertedIndex =
    IndexBuilder.fromCodeDocs(spark, corpus(11L, 200).toDS(), IndexConfig(shardSizeDocs = 64))

  /** `idx.cache()` with the dictionary's driver budget (the session
    * broadcast threshold at `cache()`) set to `bytes`. */
  private def cachedWithBudget(idx: InvertedIndex, bytes: Long): InvertedIndex = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try idx.cache() finally spark.conf.set(key, was)
  }

  /** AQE-off caps of a cached index that collects its metadata per
    * query (no driver-side dictionary). Each cap of the original shapes
    * is the count measured before the pruned query paths shared one
    * shard cogroup; the small-set delete apply is one action below that
    * measurement (one bounded collect replaced a count followed by a
    * collect); the field-sorted and boolean phrase-mix caps are the
    * counts measured before topK and the all-hits scorer each became
    * one path; the positional caps (phrase, multi-phrase, NEAR,
    * spanNot, spanFirst), the phrase mix and groupedTopK hold once the
    * phrase df is observed on the match set's checkpoint job and each
    * query collects its metadata once (measured before: 4, 4, 4, 4, 5,
    * 6 and 6 jobs); field sort, the phrase mix and groupedTopK drop one
    * more job each once the clause scorer reads every clause in one
    * shard pass with no dl broadcast (measured before: 4, 4 and 5
    * jobs). An expansion adds its dictionary scan to the metadata
    * collect and the main job; constantScoreTopK's aggregated metadata
    * collect precedes the semi-join's broadcast job and the main job. */
  private val collectingCapsAqeOff = Seq("topK" -> 2, "sortedTopK" -> 3,
    "search phrase mix" -> 3, "phraseTopK" -> 3, "multiPhraseTopK" -> 3, "nearTopK" -> 3,
    "spanNotTopK" -> 3, "spanFirstTopK" -> 3, "groupedTopK" -> 4, "dismaxTopK" -> 2,
    "Deletes.appliedWith small set" -> 1, "prefixTopK" -> 3, "wildcardTopK" -> 3,
    "fuzzyTopK" -> 3, "rangeTopK" -> 3, "regexpTopK" -> 3, "constantScoreTopK" -> 3,
    "termEnum" -> 1, "docFreqs" -> 1)

  /** AQE-on caps of the same. AQE submits each shuffle-stage
    * materialization as its own job inside the ONE main query; the
    * shard cogroup of a cached index has none, so the scaffold's shapes
    * hold the AQE-off caps (measured before the cached index was
    * shard-partitioned: 4 jobs for topK and dismax, 5 for the
    * positional shapes). The phrase mix folds each doc in its shard:
    * metadata, checkpoint and final job, with no shuffle stage
    * (measured before the fold left SQL: 4). */
  private val collectingCapsAqeOn = Seq("topK" -> 2, "dismaxTopK" -> 2,
    "phraseTopK" -> 3, "multiPhraseTopK" -> 3, "nearTopK" -> 3, "spanNotTopK" -> 3,
    "spanFirstTopK" -> 3, "search phrase mix" -> 3)

  test("topK runs one job: a cached index reads its query metadata on the driver") {
    val idx = pinIndex.cache()
    idx.postings.count(); idx.docs.count(); idx.stats // warm + force lazy stats
    assert(idx.dictionary.nonEmpty)
    val shapes = pinShapes(new Searcher(spark, idx), idx)
    shapes.foreach(_._2()) // warm codegen paths
    // every metadata collect and dictionary scan of the collecting caps
    // reads the driver-side dictionary instead: topK, dismax and every
    // expansion run their main job alone, the positional shapes their
    // checkpoint and final job, and termEnum / docFreqs run none.
    // constantScoreTopK gathers its terms' live docs on the shard
    // scaffold: one job
    assertCaps("AQE off", jobCounts(shapes, aqe = false), Seq("topK" -> 1, "sortedTopK" -> 2,
      "search phrase mix" -> 2, "phraseTopK" -> 2, "multiPhraseTopK" -> 2, "nearTopK" -> 2,
      "spanNotTopK" -> 2, "spanFirstTopK" -> 2, "groupedTopK" -> 3, "dismaxTopK" -> 1,
      "Deletes.appliedWith small set" -> 1, "prefixTopK" -> 1, "wildcardTopK" -> 1,
      "fuzzyTopK" -> 1, "rangeTopK" -> 1, "regexpTopK" -> 1, "constantScoreTopK" -> 1,
      "termEnum" -> 0, "docFreqs" -> 0))
    assertCaps("AQE on", jobCounts(shapes, aqe = true), Seq("topK" -> 1, "dismaxTopK" -> 1,
      "phraseTopK" -> 2, "multiPhraseTopK" -> 2, "nearTopK" -> 2, "spanNotTopK" -> 2,
      "spanFirstTopK" -> 2, "search phrase mix" -> 2, "prefixTopK" -> 1, "wildcardTopK" -> 1,
      "fuzzyTopK" -> 1, "rangeTopK" -> 1, "regexpTopK" -> 1, "constantScoreTopK" -> 1,
      "termEnum" -> 0, "docFreqs" -> 0))
    idx.unpersist()
  }

  test("a cached index over its dictionary bound answers alike from per-query collects") {
    val uncached = pinIndex
    val inBound = uncached.cache()
    // 1 KiB of driver budget holds 8 dictionary rows; the index has more
    val over = cachedWithBudget(uncached, 1024L)
    try {
      assert(inBound.dictionary.nonEmpty && over.dictionary.isEmpty)
      val (si, so) = (new Searcher(spark, inBound), new Searcher(spark, over))
      val (want, got) = (pinShapes(si, inBound), pinShapes(so, over))
      got.foreach(_._2())
      for (((name, w), (_, g)) <- want.zip(got)) assert(g() == w(), name)
      assert(so.termEnum("", 1000).collect().toSeq === si.termEnum("", 1000).collect().toSeq)
      assert(so.termEnumAll("", "", 1000).collect().toSeq ===
        si.termEnumAll("", "", 1000).collect().toSeq)
      def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
      assert(sorted(over.termStats) === sorted(inBound.termStats))
      assertCaps("AQE off", jobCounts(got, aqe = false), collectingCapsAqeOff)
      assertCaps("AQE on", jobCounts(got, aqe = true), collectingCapsAqeOn)
    } finally { inBound.unpersist(); over.unpersist() }
  }

  test("constantScoreTopK decides a df or shard predicate per posting row, cached or not") {
    import org.apache.spark.sql.functions.{col, min}
    val uncached = pinIndex
    val cached = uncached.cache()
    try {
      assert(cached.dictionary.nonEmpty)
      // the least df of a shard row whose term's merged df is larger:
      // that row passes df <= t and its merged row does not, so
      // deciding the predicate on merged rows would lose its hits
      val t = uncached.postings.select(col("field"), col("term"), col("df").as("rowDf"))
        .join(uncached.termStats, Seq("field", "term")).where(col("df") > col("rowDf"))
        .agg(min("rowDf")).head.getLong(0)
      val (sc, su) = (new Searcher(spark, cached), new Searcher(spark, uncached))
      for (pred <- Seq(col("term").startsWith("ra"), col("df") <= t, col("shard") === 1L,
          col("term").startsWith("ra") && col("cf") > 2L)) {
        val want = su.constantScoreTopK(pred, 300).collect().toSeq
        assert(want.nonEmpty, pred)
        assert(sc.constantScoreTopK(pred, 300).collect().toSeq === want, pred)
      }
    } finally cached.unpersist()
  }

  test("the driver-side dictionary: tombstoned copies carry it, unpersist drops it") {
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val uncached = IndexBuilder.fromCodeDocs(spark, corpus(17L, 150).toDS(),
      IndexConfig(shardSizeDocs = 32))
    val cached = uncached.cache()
    val dict = cached.dictionary.get
    assert(dict.size === cached.postings.count())
    assert(sorted(cached.termStats) === sorted(InvertedIndex.termStatsOf(uncached.postings)))
    val dels = Seq(3L, 40L, 41L, 120L).toDF("docId")
    val tomb = cached.withDeletes(dels)
    assert(tomb.dictionary.get eq dict)
    assert(tomb.undeleteAll().dictionary.get eq dict)
    // the tombstoned copy answers from the carried dictionary: df stays
    // stale (corpus-wide) until a physical apply, like the uncached path
    val terms = Seq("alpha", "beta", "rare1", "zzz_missing")
    val st = new Searcher(spark, tomb)
    val (dfs, jobs) = JobCounts.withAqe(spark, "tombstoned docFreqs", aqe = true)(st.docFreqs(terms))
    assert(jobs.isEmpty)
    assert(dfs === new Searcher(spark, uncached.withDeletes(dels)).docFreqs(terms))
    for (q <- Seq(Seq("alpha", "rare1"), Seq("beta", "gamma"))) {
      val want = ExhaustiveOracle.topK(uncached.withDeletes(dels), q, 10).collect().toSeq
      val got = st.topK(q, 10).collect().toSeq
      assert(got.map(_.getLong(0)) === want.map(_.getLong(0)), q)
    }
    // a physical apply, cached, builds a fresh dictionary from its
    // rewritten postings: post-delete df
    val applied = graft.build.Deletes.applied(spark, tomb).cache()
    val ad = applied.dictionary.get
    assert(!(ad eq dict))
    val appliedStats = sorted(InvertedIndex.termStatsOf(
      graft.build.Deletes.applied(spark, uncached.withDeletes(dels)).postings))
    assert(sorted(applied.termStats) === appliedStats)
    assert(appliedStats !== sorted(cached.termStats))
    assert(new Searcher(spark, applied).docFreqs(terms) !== dfs)
    applied.unpersist()
    assert(applied.dictionary.isEmpty)
    // unpersist drops the dictionary of the index and of its copies;
    // queries still answer, from the postings
    cached.unpersist()
    assert(cached.dictionary.isEmpty && tomb.dictionary.isEmpty)
    assert(st.docFreqs(terms) === dfs)
    assert(sorted(cached.termStats) === sorted(InvertedIndex.termStatsOf(uncached.postings)))
    // caching again fetches it again
    val again = cached.cache()
    assert(again.dictionary.nonEmpty && !(again.dictionary.get eq dict))
    again.unpersist()
  }

  test("concurrent first queries on a cached index fetch its dictionary once") {
    val idx = pinIndex.cache()
    try {
      idx.postings.count()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val (dfs, jobs) = JobCounts(spark, "concurrent first queries") {
        try {
          val fs = (0 until 4).map(_ => pool.submit(new java.util.concurrent.Callable[Map[String, Long]] {
            def call(): Map[String, Long] = new Searcher(spark, idx).docFreqs(Seq("alpha", "rare2"))
          }))
          fs.map(_.get())
        } finally pool.shutdown()
      }
      assert(dfs.distinct.size === 1 && dfs.head.size === 2)
      // the one bounded collect of the dictionary; docFreqs itself runs none
      assert(jobs.size === 1, jobs)
    } finally idx.unpersist()
  }

  test("more than 1,024 shards: the semi-join shard pruning ≡ the exhaustive oracle") {
    import org.apache.spark.sql.functions.col
    // one doc per shard; "alpha beta" opens ~9 in 10 docs, so the phrase,
    // the boolean mix and the term queries all touch over 1,024 shards
    val n = 1200
    val docs = corpus(23L, n).zipWithIndex.map { case (d, i) =>
      d.copy(content = (if (i % 10 == 3) "beta alpha " else "alpha beta ") + d.content)
    }
    val uncached = IndexBuilder.fromCodeDocs(spark, docs.toDS(), IndexConfig(shardSizeDocs = 1))
    val cached = uncached.cache()
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    def assertSame(tag: String, got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit = {
      assert(want.nonEmpty, tag)
      assert(got.map(_._1) === want.map(_._1), tag)
      got.zip(want).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)), tag)
      }
    }
    try {
      val phraseShards = new Searcher(spark, uncached).postingRows(Seq("alpha", "beta"))
        .groupBy("shard").count().where(col("count") === 2).count()
      assert(phraseShards > 1024, s"$phraseShards shards hold both phrase terms")
      val expansion = uncached.termStats.where(col("field") === "content" &&
        col("term").startsWith("e")).select("term").collect().map(_.getString(0)).toSeq
      assert(expansion.toSet === Set("eps", "eta"))
      val phraseAll = ranked(ExhaustiveOracle.multiPhraseTopK(uncached,
        Seq(Seq("alpha"), Seq("beta")), n)).toMap
      val gammaAll = ranked(ExhaustiveOracle.topK(uncached, Seq("gamma"), n)).toMap
      val mix = phraseAll.toSeq.map { case (d, sc) => (d, sc + gammaAll.getOrElse(d, 0.0)) }
        .sortBy { case (d, sc) => (-sc, d) }
      val constant = ranked(ExhaustiveOracle.topK(uncached, expansion, n))
        .map(_._1).sorted.take(10).map(d => (d, 1.0))
      for ((name, idx) <- Seq("uncached" -> uncached, "cached" -> cached)) {
        val s = new Searcher(spark, idx)
        val topK = s.topK(Seq("alpha", "gamma"), 10)
        assertSame(s"$name topK", ranked(topK),
          ranked(ExhaustiveOracle.topK(uncached, Seq("alpha", "gamma"), 10)))
        assert(topK.queryExecution.executedPlan.toString.contains("LeftSemi"), name)
        assertSame(s"$name phraseTopK", ranked(s.phraseTopK(Seq("alpha", "beta"), 10)),
          ranked(ExhaustiveOracle.multiPhraseTopK(uncached, Seq(Seq("alpha"), Seq("beta")), 10)))
        val got = ranked(s.search("+\"alpha beta\" gamma", n))
        assertSame(s"$name search mix", got.sortBy { case (d, sc) => (-sc, d) }, mix)
        assertSame(s"$name prefixTopK", ranked(s.prefixTopK("e", 10)),
          ranked(ExhaustiveOracle.topK(uncached, expansion, 10)))
        assertSame(s"$name constantScoreTopK",
          ranked(s.constantScoreTopK(col("term").startsWith("e"), 10)), constant)
      }
    } finally cached.unpersist()
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
