package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.model.CodeDoc
import graft.query.{BM25, Boosted, ExhaustiveOracle, LegacyTfIdf, Searcher, Scorer}

/** Randomized rank-identity fuzz: on seeded random corpora, the
  * block-max WAND path must return exactly the explode-join oracle's
  * (docId, score) sequence for every query shape × scorer × k —
  * θ-pruning, block-max filtering, shard merging, tie-breaks and the
  * legacy docFactor scaling all have to be sound at once. */
class WandFuzzSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mix(z0: Long): Long = graft.tools.CodeCorpus.mix(z0)

  /** Random corpus: vocabulary small enough to force heavy overlap,
    * doc lengths 1..40, some docs duplicated terms (high tf). */
  private def corpus(seed: Long, n: Int): Seq[CodeDoc] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "rare1", "rare2", "the", "for")
    (0 until n).map { i =>
      val len = 1 + (mix(seed ^ i) & 0x7FFFFFFF).toInt % 40
      val words = (0 until len).map { t =>
        vocab(((mix(seed ^ (i * 131L + t)) & 0x7FFFFFFF) %
          (if (t % 7 == 0) vocab.length else 10)).toInt)
      }
      CodeDoc("r" + (i % 4), s"f$i", "c0", "x", words.mkString(" "))
    }
  }

  private def run(seed: Long, nDocs: Int, shardSize: Long): Unit = {
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(seed, nDocs).toDS(),
      IndexConfig(shardSizeDocs = shardSize)).cache()
    val s = new Searcher(spark, idx)
    val queryPool = Seq(
      Seq("alpha"), Seq("rare1"), Seq("alpha", "beta"),
      Seq("alpha", "rare2"), Seq("gamma", "delta", "eps"),
      Seq("alpha", "beta", "gamma", "theta"), Seq("zzz_missing", "kappa"))
    // the scorers whose docFactor is not 1 (coord · queryNorm)
    val legacy = Seq[Scorer](LegacyTfIdf, Boosted(LegacyTfIdf, 0.21))
    for {
      terms <- queryPool
      k <- Seq(1, 3, 10)
      scorer <- Seq[Scorer](BM25(), legacy(0), Boosted(BM25(), 3.7), legacy(1))
      requireAll <- Seq(false, true)
    } {
      val tag = s"seed=$seed shard=$shardSize terms=$terms k=$k " +
        s"scorer=${scorer.name} and=$requireAll"
      val exact = ExhaustiveOracle.topK(idx, terms, k, scorer, requireAll).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      def assertExact(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
        val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
        assert(got.map(_._1).toSeq === exact.map(_._1).toSeq, s"$path $tag")
        got.zip(exact).foreach { case (g, e) =>
          assert(math.abs(g._2 - e._2) <= 1e-12 * math.max(1.0, math.abs(e._2)), s"$path $tag")
        }
      }
      assertExact(s.topK(terms, k, scorer, requireAll), "wand")
      // the clause scorer's doc fold, docFactor ≠ 1 branch
      if (k == 10 && legacy.contains(scorer))
        assertExact(s.scoredDocs(terms, scorer, requireAll)
          .orderBy($"score".desc, $"docId").limit(k).select("docId", "score"), "scoredDocs")
    }
    idx.unpersist()
  }

  test("fuzz: 3 seeded corpora × shard sizes × 168 query combos each") {
    run(seed = 7L, nDocs = 120, shardSize = 16)
    run(seed = 99L, nDocs = 200, shardSize = 64)
    run(seed = 1234L, nDocs = 80, shardSize = 1024) // single shard
  }

  /** Mixed MUST + SHOULD (ReqOptSumScorer): the WAND leapfrog-over-
    * required path must be rank/score-identical to the oracle's
    * must-filter for every must-subset shape, including a
    * missing MUST term (→ empty) and must == all terms (≡ AND). */
  private def runReqOpt(seed: Long, nDocs: Int, shardSize: Long): Unit = {
    val idx = IndexBuilder.fromCodeDocs(spark, corpus(seed, nDocs).toDS(),
      IndexConfig(shardSizeDocs = shardSize)).cache()
    val s = new Searcher(spark, idx)
    val cases = Seq(
      (Seq("alpha", "beta"), Seq("alpha")),
      (Seq("alpha", "rare2", "gamma"), Seq("rare2")),
      (Seq("gamma", "delta", "eps"), Seq("gamma", "delta")),
      (Seq("alpha", "beta", "gamma", "theta"), Seq("theta", "beta")),
      (Seq("zzz_missing", "kappa"), Seq("zzz_missing")), // missing MUST → empty
      (Seq("alpha", "beta"), Seq("alpha", "beta"))) // must == all ≡ AND
    for {
      (terms, must) <- cases
      k <- Seq(1, 3, 10)
      scorer <- Seq[Scorer](BM25(), LegacyTfIdf, Boosted(BM25(), 3.7))
    } {
      val tag = s"reqopt seed=$seed shard=$shardSize terms=$terms must=$must " +
        s"k=$k scorer=${scorer.name}"
      val exact = ExhaustiveOracle.topK(idx, terms, k, scorer, must = must).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val wand = s.topK(terms, k, scorer, must = must).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(wand.map(_._1).toSeq === exact.map(_._1).toSeq, tag)
      wand.zip(exact).foreach { case (w, e) =>
        assert(math.abs(w._2 - e._2) <= 1e-12 * math.max(1.0, math.abs(e._2)), tag)
      }
      if (must == terms) { // degenerate mixed mode ≡ the AND leapfrog
        val and = s.topK(terms, k, scorer, requireAll = true).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(wand.toSeq === and, tag)
      }
    }
    idx.unpersist()
  }

  test("reqopt fuzz: must-subset × scorers × k, exhaustive ≡ WAND") {
    runReqOpt(seed = 7L, nDocs = 120, shardSize = 16)
    runReqOpt(seed = 99L, nDocs = 200, shardSize = 64)
    runReqOpt(seed = 1234L, nDocs = 80, shardSize = 1024)
  }
}
