package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{Deletes, IndexBuilder, IndexConfig}
import graft.codec.PostingsCodec
import graft.query.{BM25, ExhaustiveOracle, LegacyTfIdf, Searcher}

/** Document deletion (round-5 gate; reference intent:
  * HBaseIndexReader.java:115-132 deleteDocument/undeleteAll stubs).
  *
  * Two contracts, both pinned here:
  *   - TOMBSTONE (read-time): deleted docs vanish from every query
  *     path; survivors keep their pre-delete scores (stale stats —
  *     Lucene deletes before a merge); exhaustive, WAND and phrase
  *     paths stay mutually rank/score-identical under deletes.
  *   - PHYSICAL (Deletes.applied / compaction): tables rewritten; the
  *     result is indistinguishable from an index freshly built over
  *     the surviving corpus (same docIds — deletion leaves holes).
  */
class DeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mix(z: Long): Long = graft.tools.CodeCorpus.mix(z)

  /** Deterministic corpus with skew ("omega" everywhere) and phrase
    * adjacency. ids dense 0..n-1. */
  private def docsDf(n: Int, seed: Long) = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      val len = 3 + (mix(seed ^ i) & 0x7FFFFFFF).toInt % 30
      val words = (0 until len).map { t =>
        if (t % 5 == 4) "omega"
        else vocab(((mix(seed ^ (i * 131L + t)) & 0x7FFFFFFF) % vocab.length).toInt)
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def delIds(n: Int): Seq[Long] = (0 until n).map(_.toLong).filter(_ % 3 == 1)

  test("tombstones: hits exclude deleted docs, survivors keep stale-stats scores, all paths agree") {
    for (shardSize <- Seq(16L, 1024L)) {
      val base = IndexBuilder.fromText(spark, docsDf(120, 7L), "doc_id", "text",
        cfg = IndexConfig(shardSizeDocs = shardSize)).cache()
      val dels = delIds(120)
      val idx = base.withDeletes(dels.toDF("docId"))
      val s0 = new Searcher(spark, base)
      val s1 = new Searcher(spark, idx)
      val tag = s"shard=$shardSize"

      for ((terms, requireAll) <- Seq(
          (Seq("alpha"), false), (Seq("alpha", "omega"), false),
          (Seq("alpha", "beta", "kappa"), false), (Seq("alpha", "beta"), true))) {
        // pre-delete score of every live doc must be preserved exactly
        val pre = s0.scoredDocs(terms, BM25(), requireAll).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val post = s1.topK(terms, 200, BM25(), requireAll).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        assert(post.nonEmpty, tag)
        assert(post.forall { case (d, _) => d % 3 != 1 }, tag)
        post.foreach { case (d, sc) => assert(sc === pre(d), s"$tag doc=$d") }
        // every live pre-delete match is still returned
        assert(post.map(_._1).toSet === pre.keySet.filter(_ % 3 != 1), tag)
        // WAND path identical under deletes
        val w = s1.topK(terms, 10, BM25(), requireAll).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val ex = ExhaustiveOracle.topK(idx, terms, 10, BM25(), requireAll).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        assert(w.map(_._1).toSeq === ex.map(_._1).toSeq, tag)
        w.zip(ex).foreach { case (a, b) =>
          assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)), tag)
        }
      }
      // legacy scorer too (docFactor path)
      val wl = s1.topK(Seq("alpha", "beta"), 10, LegacyTfIdf).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val el = ExhaustiveOracle.topK(idx, Seq("alpha", "beta"), 10, LegacyTfIdf).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(wl.map(_._1).toSeq === el.map(_._1).toSeq, tag)

      // totalHits counts live matches only
      assert(s1.totalHits(Seq("omega")) ===
        s0.matches(Seq("omega")).select("docId").distinct()
          .collect().map(_.getLong(0)).count(_ % 3 != 1).toLong, tag)

      // phrase: pruned ≡ exhaustive under deletes; no deleted doc hits;
      // phrase df counts live matches in both paths (score equality
      // would break if either counted tombstoned matches)
      for (p <- Seq(Seq("alpha", "beta"), Seq("omega", "alpha"))) {
        val ex = ExhaustiveOracle.multiPhraseTopK(idx, p.map(Seq(_)), 50).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val pr = s1.phraseTopK(p, 50).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        assert(pr.map(_._1).toSeq === ex.map(_._1).toSeq, s"$tag phrase=$p")
        pr.zip(ex).foreach { case (a, b) =>
          assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)), tag)
        }
        assert(pr.forall(_._1 % 3 != 1), tag)
      }
      base.unpersist()
    }
  }

  test("physical apply ≡ fresh build over the surviving corpus") {
    val all = docsDf(150, 11L)
    val cfg = IndexConfig(shardSizeDocs = 32)
    val base = IndexBuilder.fromText(spark, all, "doc_id", "text", cfg = cfg)
    val dels = delIds(150)
    val applied = Deletes.applied(spark, base.withDeletes(dels.toDF("docId")))
    val fresh = IndexBuilder.fromText(
      spark, all.where(!$"doc_id".isin(dels: _*)), "doc_id", "text", cfg = cfg)

    // stats reflect the post-delete corpus
    assert(applied.stats.numDocs === fresh.stats.numDocs)
    assert(math.abs(applied.stats.avgDocLen - fresh.stats.avgDocLen) < 1e-12)

    // docs: same id set, deleted ids gone (holes preserved, no re-densify)
    val aIds = applied.docs.select("docId").collect().map(_.getLong(0)).toSet
    val fIds = fresh.docs.select("docId").collect().map(_.getLong(0)).toSet
    assert(aIds === fIds)
    assert(dels.forall(d => !aIds.contains(d)))

    // termStats identical
    def ts(i: graft.build.InvertedIndex) =
      i.termStats.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(ts(applied) === ts(fresh))

    // decoded postings identical: (field, term, docId, tf, positions)
    def decoded(i: graft.build.InvertedIndex) =
      i.postings.collect().flatMap { r =>
        val v = new PostingsCodec.BlobView(r.getAs[Array[Byte]]("blob"))
        v.allPostings.map(p => (r.getString(0), r.getString(1), p.docId,
          p.tf, p.positions.toSeq))
      }.toSet
    assert(decoded(applied) === decoded(fresh))

    // per-row invariants on the rewritten rows
    applied.postings.collect().foreach { r =>
      val v = new PostingsCodec.BlobView(r.getAs[Array[Byte]]("blob"))
      val ps = v.allPostings.toArray
      assert(ps.length.toLong === r.getLong(3)) // df
      assert(ps.iterator.map(_.tf.toLong).sum === r.getLong(4)) // cf
      assert(ps.iterator.map(_.tf).max === r.getInt(5)) // maxTf
      assert(ps.forall(_.docId % 3 != 1))
    }

    // query equivalence end-to-end
    val qa = new Searcher(spark, applied).topK(Seq("alpha", "omega"), 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qf = new Searcher(spark, fresh).topK(Seq("alpha", "omega"), 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(qa === qf)
  }

  test("physical apply: untouched shards pass blobs through byte-identical; emptied term rows drop") {
    val n = 96
    val cfg = IndexConfig(shardSizeDocs = 32) // shards 0,1,2
    // doc 90 carries a unique term; deleting all its docs must drop the row
    val rows = (0 until n).map { i =>
      val t = if (i == 90) "uniqterm uniqterm alpha" else s"alpha beta g${i % 5}"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val base = IndexBuilder.fromText(spark, rows, "doc_id", "text", cfg = cfg)
    // deletes confined to shard 2 (docIds 64..95)
    val dels = Seq(70L, 80L, 90L)
    val applied = Deletes.applied(spark, base.withDeletes(dels.toDF("docId")))

    def blobs(i: graft.build.InvertedIndex, shards: Set[Long]) =
      i.postings.where($"shard".isin(shards.toSeq: _*))
        .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
          r.getAs[Array[Byte]]("blob"))).toMap
    val before = blobs(base, Set(0L, 1L))
    val after = blobs(applied, Set(0L, 1L))
    assert(before.keySet === after.keySet)
    before.foreach { case (k, b) =>
      assert(java.util.Arrays.equals(b, after(k)), s"blob changed in untouched shard: $k")
    }
    // uniqterm had df=1 in shard 2 only → physically gone everywhere
    assert(applied.postings.where($"term" === "uniqterm").count() === 0L)
    assert(applied.termStats.where($"term" === "uniqterm").count() === 0L)
  }

  test("physical apply: broadcast-set path ≡ shard-cogroup path, blob bytes included") {
    // the two physical shapes of Deletes.appliedWith (small-delete-set
    // broadcast stream vs shard cogroup) are selected by
    // autoBroadcastJoinThreshold; their outputs must be the identical
    // row set — same keys, same stats columns, same encoded blobs
    val base = IndexBuilder.fromText(spark, docsDf(120, 11L), "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 32))
    val dels = delIds(120)
    def postingsOf(threshold: String) = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try Deletes.applied(spark, base.withDeletes(dels.toDF("docId")))
        .postings.collect()
        .map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
          (r.getLong(3), r.getLong(4), r.getInt(5),
            r.getAs[Array[Byte]]("blob").toSeq))).toMap
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    val viaCogroup = postingsOf("-1")
    val viaBroadcast = postingsOf("10485760")
    assert(viaBroadcast.keySet === viaCogroup.keySet)
    viaCogroup.foreach { case (k, v) =>
      assert(viaBroadcast(k) === v, s"row diverged between apply paths: $k")
    }
  }

  test("deleting every doc of a query's terms yields empty results, not errors") {
    val rows = (0 until 40).map(i => (i.toLong, if (i < 5) "needle haystack" else "haystack"))
      .toDF("doc_id", "text")
    val base = IndexBuilder.fromText(spark, rows, "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 16))
    val idx = base.withDeletes((0L until 5L).toDF("docId"))
    val s = new Searcher(spark, idx)
    assert(ExhaustiveOracle.topK(idx, Seq("needle"), 10).count() === 0L)
    assert(s.topK(Seq("needle"), 10).count() === 0L)
    assert(s.phraseTopK(Seq("needle", "haystack"), 10).count() === 0L)
    assert(s.totalHits(Seq("needle")) === 0L)
    // stacking withDeletes unions
    val idx2 = idx.withDeletes(Seq(7L).toDF("x"))
    assert(new Searcher(spark, idx2).topK(Seq("haystack"), 100).collect()
      .forall(r => r.getLong(0) >= 5 && r.getLong(0) != 7L))
    // undeleteAll (reference HBaseIndexReader.java:125-128): dropping
    // the tombstones restores the original results exactly
    val undeleted = new Searcher(spark, idx2.undeleteAll()).topK(Seq("needle"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val original = new Searcher(spark, base).topK(Seq("needle"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(undeleted === original && undeleted.nonEmpty)
  }
}
