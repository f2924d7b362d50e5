package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.codec.PostingsCodec
import graft.pipeline.TextPipeline
import graft.query.{BM25, Searcher}

/** Round-5 gates: WAND as the hybrid candidate generator (identity
  * with the exhaustive generator at M ≥ matched-doc count), multi-key
  * field sort, and the doc term-vector SPI cross-checked against the
  * index's own postings. */
class Round5Spec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mix(z: Long): Long = graft.tools.CodeCorpus.mix(z)

  private def docsDf(n: Int, seed: Long) = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      val len = 3 + (mix(seed ^ i) & 0x7FFFFFFF).toInt % 30
      val words = (0 until len).map { t =>
        vocab(((mix(seed ^ (i * 131L + t)) & 0x7FFFFFFF) % vocab.length).toInt)
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("WAND top-M with M ≥ matched-doc count returns EVERY match with its exact score") {
    for (shardSize <- Seq(16L, 1024L)) {
      val idx = IndexBuilder.fromText(spark, docsDf(130, 3L), "doc_id", "text",
        cfg = IndexConfig(shardSizeDocs = shardSize)).cache()
      val s = new Searcher(spark, idx)
      for (terms <- Seq(Seq("alpha"), Seq("alpha", "beta", "kappa"))) {
        val ex = s.scoredDocs(terms).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val wand = s.topK(terms, idx.stats.numDocs.toInt).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(wand.keySet === ex.keySet, s"terms=$terms shard=$shardSize")
        wand.foreach { case (d, sc) =>
          assert(math.abs(sc - ex(d)) <= 1e-12 * math.max(1.0, math.abs(ex(d))),
            s"terms=$terms doc=$d")
        }
      }
      idx.unpersist()
    }
  }

  test("hybrid retrieval: WAND candidate generator ≡ exhaustive generator (M = corpus)") {
    val docs = docsDf(120, 5L)
    val idx = IndexBuilder.fromText(spark, docs, "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 32)).cache()
    val s = new Searcher(spark, idx)
    // deterministic synthetic embeddings over a subset of the docIds
    val emb = (0 until 90).map { i =>
      val v = Array.tabulate(8)(j =>
        (((mix(i.toLong * 31 + j) & 0xFFFF) / 65535.0f) - 0.5f))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val q = emb.where($"vec_id" === 0L).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val terms = Seq("alpha", "beta")
    val viaExhaustive = TextPipeline.hybridTopK(
      s.scoredDocs(terms).select("docId", "score"), emb, q, 0.5, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaWand = TextPipeline.hybridTopK(
      s.topK(terms, idx.stats.numDocs.toInt), emb, q, 0.5, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaWand.map(_._1) === viaExhaustive.map(_._1))
    viaWand.zip(viaExhaustive).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
    }
    // candidates missing an embedding (docIds ≥ 90) blend with cos 0 —
    // they must still be rankable, not dropped
    assert(TextPipeline.hybridTopK(
      s.scoredDocs(terms).select("docId", "score"), emb, q, 0.5, 200)
      .collect().map(_.getLong(0)).exists(_ >= 90L))
    idx.unpersist()
  }

  test("multi-key field sort: two keys, mixed direction, deterministic ties, hits < k") {
    // lang cycles 3 values; n_chars varies — forces real secondary sort
    val rows = (0 until 60).map { i =>
      (i.toLong, s"alpha beta g${i % 4}", s"l${i % 3}", 10 + (i * 7) % 23)
    }.toDF("doc_id", "text", "lang", "n_chars")
    val idx = IndexBuilder.fromText(spark, rows, "doc_id", "text",
      untokenized = Seq("lang"), cfg = IndexConfig(shardSizeDocs = 16))
    val s = new Searcher(spark, idx)
    val got = s.sortedTopKMulti(Seq("alpha"), Seq(("lang", true), ("n_chars", false)), 20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    // oracle: plain Spark over the exhaustive scores
    val scores = s.scoredDocs(Seq("alpha")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val all = rows.collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3)))
      .filter(t => scores.contains(t._1))
      .map(t => (t._1, t._2, t._3, scores(t._1)))
    val want = all.sortBy { case (d, l, nc, sc) => (l, -nc, -sc, d) }.take(20).toSeq
    assert(got.toSeq === want)
    // single-key API still delegates correctly
    val one = s.sortedTopK(Seq("alpha"), "lang", ascending = false, 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val wantOne = all.map(t => (t._1, t._2, t._4))
      .sortBy { case (d, l, sc) => (l, -sc, d) }(
        Ordering.Tuple3(Ordering.String.reverse, Ordering.Double.TotalOrdering,
          Ordering.Long)).take(5).toSeq
    assert(one.toSeq === wantOne)
    // hits < k: a rare-term query returns what exists, no error
    val few = s.sortedTopKMulti(Seq("g1"), Seq(("lang", true), ("n_chars", true)), 50)
    assert(few.count() === 15L) // 60/4 docs carry g1
  }

  test("docTermVector ≡ the index's own postings for that doc (tf AND positions)") {
    val docs = docsDf(40, 9L)
    val idx = IndexBuilder.fromText(spark, docs, "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 16))
    val s = new Searcher(spark, idx)
    for (d <- Seq(0L, 17L, 39L)) {
      val vec = s.docTermVector(d).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2).toSeq)).toSet
      // decode the doc's postings straight from the stored blobs
      val fromIndex = idx.postings.where($"field" === "content").collect().flatMap { r =>
        new PostingsCodec.BlobView(r.getAs[Array[Byte]]("blob")).allPostings
          .filter(_.docId == d)
          .map(p => (r.getString(1), p.tf.toLong, p.positions.toSeq))
      }.toSet
      assert(vec === fromIndex, s"doc=$d")
      assert(vec.nonEmpty, s"doc=$d")
    }
    // unknown doc fails loudly
    assertThrows[IllegalArgumentException](s.docTermVector(99999L))
  }
}
