package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.query.{ExhaustiveOracle, Searcher}

/** Unordered proximity NEAR/w (Lucene SpanNearQuery inOrder=false over
  * two terms): hand-computed micro-cases pin direction-free window
  * semantics and the tf contract (a-positions with some b in window);
  * the pruned leapfrog path is cross-checked rank/score-identical to
  * the exhaustive positional join. */
class NearSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mix(z: Long): Long = graft.tools.CodeCorpus.mix(z)

  private def index(rows: Seq[(Long, String)], shardSize: Long = 16L) =
    IndexBuilder.fromText(spark, rows.toDF("doc_id", "text"), "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = shardSize))

  private def randomDocs(n: Int, seed: Long): Seq[(Long, String)] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until n).map { i =>
      val len = 5 + (mix(seed ^ i) & 0x7FFFFFFF).toInt % 40
      val words = (0 until len).map { t =>
        vocab(((mix(seed ^ (i * 131L + t)) & 0x7FFFFFFF) % vocab.length).toInt)
      }
      (i.toLong, words.mkString(" "))
    }
  }

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("NEAR semantics: either order, window boundary inclusive, tf = a-side") {
    val idx = index(Seq(
      (0L, "alpha beta"), // Δ1 — matches any window
      (1L, "beta alpha"), // reversed Δ1 — matches (direction-free)
      (2L, "alpha x1 x2 x3 beta"), // Δ4 — window 4 yes, window 3 no
      (3L, "alpha x1 x2 x3 x4 beta"), // Δ5 — window 4 no
      (4L, "alpha beta alpha"), // two a's, one b in both windows: tf 2
      (5L, "alpha alpha beta beta"), // tf 2 (each alpha has a beta ≤ w)
      (6L, "alpha gamma"), // no b at all
      (7L, "beta beta"))) // no a at all
    val s = new Searcher(spark, idx)
    def docs(w: Int): Set[Long] =
      hits(s.nearTopK("alpha", "beta", w, 50)).map(_._1).toSet
    assert(docs(4) === Set(0L, 1L, 2L, 4L, 5L))
    assert(docs(3) === Set(0L, 1L, 4L, 5L))
    assert(docs(1) === Set(0L, 1L, 4L, 5L))
    // tf contract via the exhaustive path's identical scoring: doc 4
    // (tf 2) outranks doc 0 (tf 1) at comparable dl — check ordering
    // within window 1 where both match
    val h = hits(s.nearTopK("alpha", "beta", 1, 50)).toMap
    assert(h(4L) > h(0L), "tf 2 must outscore tf 1 (longer doc, same df)")
  }

  test("pruned NEAR ≡ exhaustive positional join (rank AND score)") {
    val corpus = randomDocs(140, 31L)
    for (shardSize <- Seq(16L, 1024L); w <- Seq(1, 3, 8);
        Seq(a, b) <- Seq(Seq("alpha", "kappa"), Seq("beta", "gamma"))) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      val pr = hits(s.nearTopK(a, b, w, 200))
      val ex = hits(ExhaustiveOracle.nearAllTopK(idx, a, Seq(b), w, 200))
      assert(pr.nonEmpty, s"window=$w produced no matches — test is vacuous")
      assert(pr.map(_._1) === ex.map(_._1), s"shard=$shardSize w=$w $a/$b")
      pr.zip(ex).foreach { case (x, y) =>
        assert(math.abs(x._2 - y._2) <= 1e-12 * math.max(1.0, math.abs(y._2)))
      }
    }
  }

  test("NEAR edge cases: absent term → empty; same term / bad window throw") {
    val idx = index(Seq((0L, "alpha beta")))
    val s = new Searcher(spark, idx)
    assert(s.nearTopK("alpha", "nosuchterm", 4, 10).count() === 0L)
    intercept[IllegalArgumentException](s.nearTopK("alpha", "alpha", 4, 10))
    intercept[IllegalArgumentException](s.nearTopK("alpha", "beta", 0, 10))
  }

  test("spanNot semantics: asymmetric pre/post window, absent-exclude raw tf") {
    val idx = index(Seq(
      (0L, "alpha beta"), // beta at +1: post≥1 kills it, pre-only keeps
      (1L, "beta alpha"), // beta at −1: pre≥1 kills it, post-only keeps
      (2L, "alpha x1 x2 beta"), // Δ+3: survives post 2, dies post 3
      (3L, "alpha gamma alpha"), // no beta: raw tf 2
      (4L, "alpha beta alpha"))) // post 1: first alpha dies, second survives
    val s = new Searcher(spark, idx)
    def docs(pre: Int, post: Int): Set[Long] =
      hits(s.spanNotTopK("alpha", "beta", 50, pre, post)).map(_._1).toSet
    assert(docs(0, 1) === Set(1L, 2L, 3L, 4L))
    assert(docs(1, 0) === Set(0L, 2L, 3L, 4L))
    assert(docs(0, 3) === Set(1L, 3L, 4L))
    assert(docs(2, 2) === Set(2L, 3L)) // doc 4: beta@2 covers both alphas
    // exclude term absent from the whole corpus → every alpha doc, raw tf
    assert(hits(s.spanNotTopK("alpha", "nosuchterm", 50)).map(_._1).toSet ===
      Set(0L, 1L, 2L, 3L, 4L))
    // include term absent → empty
    assert(s.spanNotTopK("nosuchterm", "beta", 50).count() === 0L)
  }

  test("pruned spanNot ≡ exhaustive anti-join (rank AND score)") {
    val corpus = randomDocs(140, 43L)
    for (shardSize <- Seq(16L, 1024L); (pre, post) <- Seq((0, 0), (1, 2), (4, 4))) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      val pr = hits(s.spanNotTopK("alpha", "kappa", 200, pre, post))
      val ex = hits(ExhaustiveOracle.spanNotTopK(idx, "alpha", "kappa", 200, pre, post))
      assert(pr.nonEmpty, s"pre=$pre post=$post no matches — vacuous")
      assert(pr.map(_._1) === ex.map(_._1), s"shard=$shardSize pre=$pre post=$post")
      pr.zip(ex).foreach { case (x, y) =>
        assert(math.abs(x._2 - y._2) <= 1e-12 * math.max(1.0, math.abs(y._2)))
      }
    }
  }

  test("anchored n-ary NEAR: every partner must sit in the anchor's window") {
    val idx = index(Seq(
      (0L, "beta alpha gamma"), // both within 1
      (1L, "beta alpha x1 x2 gamma"), // gamma at +3: w2 no, w3 yes
      (2L, "alpha beta"), // gamma missing entirely
      (3L, "beta x1 alpha x1 gamma alpha"), // alpha@3 ok at w2; alpha@6 gamma@5 ok, beta@1 no → tf 1
      (4L, "gamma beta alpha alpha beta gamma"))) // both alphas ok at w2
    val s = new Searcher(spark, idx)
    def docs(w: Int): Set[Long] =
      hits(s.nearAllTopK("alpha", Seq("beta", "gamma"), w, 50)).map(_._1).toSet
    assert(docs(1) === Set(0L)) // doc 4: no gamma within 1 of any alpha
    assert(docs(2) === Set(0L, 3L, 4L))
    assert(docs(3) === Set(0L, 1L, 3L, 4L))
    // 2-term nearAll ≡ binary near (same kernel, asserted at the API)
    val bin = hits(s.nearTopK("alpha", "beta", 2, 50))
    val nary = hits(s.nearAllTopK("alpha", Seq("beta"), 2, 50))
    assert(bin === nary)
  }

  test("pruned n-ary NEAR ≡ exhaustive semi-join fold (rank AND score)") {
    val corpus = randomDocs(140, 67L)
    for (shardSize <- Seq(16L, 1024L); w <- Seq(2, 5)) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      val pr = hits(s.nearAllTopK("alpha", Seq("beta", "gamma"), w, 200))
      val ex = hits(ExhaustiveOracle.nearAllTopK(idx, "alpha", Seq("beta", "gamma"), w, 200))
      assert(pr.nonEmpty, s"w=$w no matches — vacuous")
      assert(pr.map(_._1) === ex.map(_._1), s"shard=$shardSize w=$w")
      pr.zip(ex).foreach { case (x, y) =>
        assert(math.abs(x._2 - y._2) <= 1e-12 * math.max(1.0, math.abs(y._2)))
      }
    }
  }

  test("spanOr: synonym-group pseudo-term; singleton ≡ single-term query") {
    val corpus = randomDocs(120, 71L)
    val idx = index(corpus, shardSize = 32L)
    val s = new Searcher(spark, idx)
    // group df/tf: every doc containing alpha OR beta, scored once
    val grp = hits(s.spanOrTopK(Seq("alpha", "beta"), 300)).toMap
    val union = hits(s.topK(Seq("alpha"), 300)).map(_._1).toSet ++
      hits(s.topK(Seq("beta"), 300)).map(_._1).toSet
    assert(grp.keySet === union)
    // singleton group scores exactly like the plain term query (same
    // df, same tf, same pseudo-term formula = the BM25 contribution)
    val single = hits(s.topK(Seq("alpha"), 300)).toMap
    val singleGrp = hits(s.spanOrTopK(Seq("alpha"), 300)).toMap
    assert(single.keySet === singleGrp.keySet)
    single.foreach { case (d, sc) =>
      assert(math.abs(sc - singleGrp(d)) <= 1e-12 * math.max(1.0, math.abs(sc)))
    }
  }

  test("matchAll: every live doc at score 1.0, filter + tombstone aware") {
    val corpus = randomDocs(50, 83L)
    val idx = index(corpus, shardSize = 16L)
    val s = new Searcher(spark, idx)
    val all = s.matchAllTopK(100).collect()
    assert(all.length === 50)
    assert(all.map(_.getLong(0)).toSeq === (0L until 50L))
    assert(all.forall(_.getDouble(1) == 1.0))
    // k truncates in docId order
    assert(s.matchAllTopK(7).collect().map(_.getLong(0)).toSeq === (0L until 7L))
    // tombstones vanish
    val s2 = new Searcher(spark, idx.withDeletes(Seq(3L, 4L).toDF("docId")))
    assert(s2.matchAllTopK(100).collect().map(_.getLong(0)).toSet ===
      ((0L until 50L).toSet -- Set(3L, 4L)))
  }

  test("NEAR window grows monotonically and respects tombstones") {
    val corpus = randomDocs(120, 57L)
    val idx = index(corpus, shardSize = 32L)
    val s = new Searcher(spark, idx)
    var prev = Set.empty[Long]
    for (w <- Seq(1, 2, 5, 10)) {
      val cur = hits(s.nearTopK("alpha", "beta", w, 300)).map(_._1).toSet
      assert(prev.subsetOf(cur), s"window=$w lost matches")
      prev = cur
    }
    assert(prev.nonEmpty)
    // delete one matching doc; it must vanish and df (hence scores) move
    val victim = prev.head
    val s2 = new Searcher(spark, idx.withDeletes(Seq(victim).toDF("docId")))
    val after = hits(s2.nearTopK("alpha", "beta", 10, 300)).map(_._1).toSet
    assert(after === prev - victim)
  }
}
