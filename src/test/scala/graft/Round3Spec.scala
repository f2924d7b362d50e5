package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, IndexConfig}
import graft.codec.PostingsCodec
import graft.model.{CorpusStats, Posting}
import graft.pipeline.TextPipeline
import graft.query.{BM25, ExhaustiveOracle, Searcher, TermIterator, Wand}
import graft.table.TableFormat

/** Round-3 regression gates: PPJoin prefix-filtered Jaccard (exact
  * output, bounded hot-shingle fan-out), dedupGroups over persisted
  * pairs, CacheManager unpinning, conjunctive WAND leapfrog skipping,
  * manifest-driven table source, streaming shard-width fail-fast. */
class Round3Spec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Corpus where EVERY doc opens with the same boilerplate trigram
    * (the license-header hot-shingle hazard) and near-dup pairs
    * (i, i+1000) differ only in their final token. 30 tokens/doc →
    * J(near-dup) = 25/31 ≈ 0.8065 ≥ 0.8; unrelated docs share ONLY
    * the boilerplate shingle (J ≈ 0.02). */
  private def boilerplateDocs(n: Int): DataFrame = {
    val rows = (0 until n).flatMap { i =>
      val base = Seq("license", "header", "boilerplate") ++
        (0 until 26).map(j => s"u${i}_$j")
      Seq(
        (i.toLong, (base :+ s"tail$i").mkString(" ")),
        (i + 1000L, (base :+ s"othertail$i").mkString(" ")))
    }
    rows.toDF("doc_id", "text")
  }

  /** The pre-PPJoin reference implementation: block on EVERY shared
    * shingle, then exact Jaccard — correct but hot-shingle quadratic. */
  private def bruteJaccard(docs: DataFrame, tau: Double): DataFrame = {
    val sh = TextPipeline.shingles(docs)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sz.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        col("i").cast("double") / (col("sza") + col("szb") - col("i")).cast("double"))
      .where(col("jaccard") >= tau)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("prefix-filtered Jaccard ≡ shared-shingle blocking (zero false negatives)") {
    val docs = boilerplateDocs(25)
    for (tau <- Seq(0.5, 0.8, 0.9)) {
      val fast = pairSet(TextPipeline.ngramJaccardPairs(docs, tau))
      val ref = pairSet(bruteJaccard(docs, tau))
      assert(fast === ref, s"tau=$tau")
      if (tau <= 0.8) assert(fast.size === 25, s"tau=$tau expects the near-dup pairs")
    }
  }

  test("prefix filter bounds hot-shingle fan-out: candidates ≪ blocking pairs") {
    val docs = boilerplateDocs(25) // 50 docs, ALL sharing one trigram
    val blockingPairs = {
      val sh = TextPipeline.shingles(docs)
      sh.as("x").join(sh.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
        .select("x.doc_id", "y.doc_id").distinct().count()
    }
    val cand = TextPipeline
      .prefixCandidates(TextPipeline.shingleArrays(docs), 0.8).count()
    // blocking emits every co-boilerplate pair: C(50,2) = 1225
    assert(blockingPairs === 1225L)
    // the hot shingle has max df → sorts LAST → never in a prefix:
    // candidates are exactly the near-dup pairs
    assert(cand < blockingPairs / 10, s"cand=$cand blocking=$blockingPairs")
    assert(cand >= 25L) // no false negatives among the real near-dups
  }

  test("dedupGroups over persisted pairs ≡ inline recompute") {
    val docs = TextPipeline.documents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft_pairs").toString
    TextPipeline.simhashPairs(docs, 8).write.mode("overwrite").parquet(dir)
    val fromPersisted = TextPipeline
      .dedupGroupsFromPairs(docs, spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val inline = TextPipeline.dedupGroups(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(fromPersisted.toSeq === inline.toSeq)
  }

  test("dedup broadcast gates: shuffle fallback ≡ broadcast shape on every gated operator") {
    // the size-gated broadcast hints in dedupGroupsFromPairs /
    // simhashPairs / simhashEdges / embedCosinePairs select a physical
    // shape only — with the threshold disabled every operator must
    // fall back to the pre-gate shuffle plans and produce the
    // identical rows
    val docs = TextPipeline.documents(spark, "/root/testdata/sf0.001")
    val emb = TextPipeline.embeddings(spark, "/root/testdata/sf0.001")
    // 768-dim vectors: 3500 rows fit the 10 MiB threshold at a flat
    // 512 B/row but not at their real 24 + 4·768 B/row, so the gate must
    // keep the pair join off broadcast in the plan that actually runs
    // (Catalyst's own estimate of the checkpointed frame would pick
    // one); rows i and i + 1750 share a base vector (planted
    // near-duplicates)
    val wide = spark.range(3500).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 767), j -> cast((pmod(hash(id % 1750, j), 2001) - 1000 + " +
        "pmod(hash(id, j), 21) - 10) / 1000.0 as float))").as("embedding"))
    // the plan that ran: with AQE on, the final adaptive plan
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.treeString
        case p => p.treeString
      }
    def results(threshold: String): (Seq[Seq[(Long, Long)]], String) = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try {
        val widePairs = TextPipeline.embedCosinePairs(wide, 0.9, nPlanes = 16)
        (Seq(
          TextPipeline.dedupGroups(docs, 8)
            .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
          TextPipeline.simhashPairs(docs, 8)
            .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
          TextPipeline.embedCosinePairs(emb, 0.4)
            .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
          widePairs.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq),
          finalPlan(widePairs))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val (viaShuffle, _) = results("-1")
    val (viaBroadcast, widePlan) = results("10485760")
    assert(viaShuffle === viaBroadcast)
    assert(viaBroadcast.last.nonEmpty, "no planted 768-dim near-duplicate found")
    assert(!widePlan.contains("BroadcastHashJoin") &&
      !widePlan.contains("BroadcastNestedLoopJoin"), widePlan.take(3000))
  }

  test("pipeline ops leave the session CacheManager empty (no pinned plans)") {
    spark.catalog.clearCache()
    val docs = boilerplateDocs(10)
    TextPipeline.fingerprint(docs).collect()
    TextPipeline.minhashCandidates(docs).collect()
    TextPipeline.ngramJaccardPairs(docs, 0.8).collect()
    assert(org.apache.spark.sql.graftshim.CacheProbe.isEmpty(spark),
      "a pipeline operator pinned a plan in the CacheManager")
  }

  // ---- conjunctive WAND leapfrog ----

  private val wandStats = CorpusStats(4096L, 10.0)

  private def mkIter(term: String, docs: Seq[Long], scorer: BM25): TermIterator = {
    val ps = docs.map(d => Posting(d, 1, Array(1))).toIndexedSeq
    val blob = PostingsCodec.encodePostingsBlob(ps)
    new TermIterator(term, ps.length.toDouble,
      scorer.upperBound(1.0, ps.length.toDouble, wandStats), scorer, wandStats,
      new PostingsCodec.BlobView(blob))
  }

  test("AND leapfrog decodes fewer blocks than OR pivoting on rare∧common") {
    val scorer = BM25()
    val common = (0L until 2048L) // 16 full blocks
    val rare = Seq(500L, 1500L)
    def run(requireAll: Boolean): (Seq[(Long, Double)], Int) = {
      val itC = mkIter("common", common, scorer)
      val itR = mkIter("rare", rare, scorer)
      val hits = Wand.topK(Seq(itC, itR), _ => 10.0, scorer, wandStats,
        k = 5, requiredTerms = if (requireAll) Set("common", "rare") else null)
      (hits.map(h => (h.docId, h.score)), itC.decodedBlocks + itR.decodedBlocks)
    }
    val (andHits, andDecoded) = run(requireAll = true)
    val (orHits, orDecoded) = run(requireAll = false)
    assert(andHits.map(_._1).toSet === Set(500L, 1500L))
    assert(orHits.size === 5)
    // leapfrog block-skips the common term across the rare term's gaps
    assert(andDecoded < orDecoded / 2, s"and=$andDecoded or=$orDecoded")
  }

  test("AND leapfrog ≡ exhaustive on an index (results already fuzzed; spot-check)") {
    val idx = IndexBuilder.fromText(spark, boilerplateDocs(20), "doc_id", "text",
      Nil, IndexConfig(shardSizeDocs = 16))
    val s = new Searcher(spark, idx)
    val a = ExhaustiveOracle.topK(idx, Seq("license", "u3_7"), 10, BM25(), requireAll = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val w = s.topK(Seq("license", "u3_7"), 10, BM25(), requireAll = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(w.toSeq === a.toSeq)
    assert(a.map(_._1).toSet === Set(3L, 1003L))
  }

  test("sort-based segment merge ≡ hash-agg segment merge (byte-identical)") {
    val docs = boilerplateDocs(40).repartition(5) // several partials per term
    val cfg = IndexConfig(shardSizeDocs = 16)
    val slim = docs.select(col("doc_id").cast("long").as("docId"),
      col("text").as("content"))
    val partials = IndexBuilder.segmentPartials(
      spark, slim, Seq("content"), Nil, cfg.shardSizeDocs)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5),
        r.getAs[Array[Byte]](6).toSeq)).sortBy(t => (t._1, t._2, t._3))
    val viaAgg = canon(graft.build.ReferenceBuilder.mergeSegmentRowsAgg(partials, cfg))
    val viaSort = canon(IndexBuilder.mergeSegmentRows(partials, cfg))
    assert(viaSort === viaAgg)
  }

  // ---- manifest-driven table source ----

  test("fromTableSnapshot (manifest offsets) ≡ fromParquetTable (footer offsets)") {
    val corpus = graft.tools.CodeCorpus.generate(spark, 300L)
    val root = Files.createTempDirectory("graft_manifest").toString
    TableFormat.write(spark, corpus.toDF().repartition(4), root, "corpus")
    val m = TableFormat.readManifest(root, "corpus")
    val cfg = IndexConfig(shardSizeDocs = 64)
    val a = IndexBuilder.fromTableSnapshot(spark, root, "corpus", cfg)
    val b = IndexBuilder.fromParquetTable(spark, m.dataPath, cfg)
    val keyA = a.docs.select("docId", "docKey").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val keyB = b.docs.select("docId", "docKey").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(keyA.toSeq === keyB.toSeq)
    val postA = a.postings.select("field", "term", "shard", "df", "cf")
      .collect().map(_.toSeq).sortBy(_.toString)
    val postB = b.postings.select("field", "term", "shard", "df", "cf")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(postA.toSeq === postB.toSeq)
  }

  // ---- streaming shard-width fail-fast ----

  test("restarting an ingest with a different shard width fails fast") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("graft_widthchk").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "ingest_config.json"),
      """{"shardSizeDocs":999}""")
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingIndexer.writer(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", Nil, root,
        IndexConfig(shardSizeDocs = 32))
      .option("checkpointLocation",
        Files.createTempDirectory("graft_widthckpt").toString)
      .start()
    try {
      input.addData((0L until 5L).map(i => (i, s"alpha beta id$i")))
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("shardSizeDocs")), msgs(ex).mkString(" | "))
    } finally q.stop()
  }

  test("DocTermScratch ≡ LinkedHashMap reference under collisions, growth and reuse") {
    val rnd = new scala.util.Random(1234)
    // vocabulary engineered to collide: identical String.hashCode pairs
    // ("Aa"/"BB" building blocks) plus random idN terms; enough distinct
    // terms per doc (up to ~1500) to force both table and pool growth
    val collide = Seq("Aa", "BB", "AaAa", "BBAa", "AaBB", "BBBB")
    val vocab = (collide ++ (0 until 3000).map(i => s"id$i")).toArray
    val scratch = new IndexBuilder.DocTermScratch
    val table = new IndexBuilder.TermTable
    for (doc <- 1 to 40) {
      val nTok = 1 + rnd.nextInt(3000)
      val toks = (0 until nTok).map(_ => vocab(rnd.nextInt(vocab.length)))
      val ref = scala.collection.mutable.LinkedHashMap.empty[String, List[Int]]
      scratch.reset()
      toks.zipWithIndex.foreach { case (t, i) =>
        val pos = i + 1
        ref.updateWith(t)(o => Some(o.getOrElse(Nil) :+ pos))
        // exercise the buffer-keyed path exactly as segmentPartials does
        val buf = t.toCharArray
        scratch.addBufInterned(buf, buf.length, pos, table)
      }
      val got = (0 until scratch.size).map(i =>
        scratch.term(i) -> scratch.buf(i).toArray.toList)
      assert(got == ref.toSeq,
        s"doc $doc: scratch diverged from reference (order or content)")
    }
  }
}
