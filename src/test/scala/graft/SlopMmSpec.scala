package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.query.{ExhaustiveOracle, PhraseClause, QueryParser, Searcher}

/** Sloppy phrase (`"a b"~N`) and BooleanQuery minimumShouldMatch:
  * hand-computed micro-cases pin the semantics; the pruned positional
  * path is cross-checked rank/score-identical to the exhaustive
  * relational fold at several slops; WAND mm is cross-checked against
  * the explode-join oracle at every feasible mm, and so is the
  * all-hits clause scorer (`scoredDocs`).
  */
class SlopMmSpec extends AnyFunSuite {
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

  /** All-hits `scoredDocs` output in top-k order. */
  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    hits(df.orderBy($"score".desc, $"docId").select("docId", "score"))

  // ---- sloppy phrase: hand-pinned semantics ----

  test("slop semantics: in-order window, greedy chain, tf = matching starts") {
    val idx = index(Seq(
      (0L, "alpha beta gamma"), // a..g span 2: slop 0 no, slop 1 yes
      (1L, "alpha gamma"), // exact
      (2L, "x7 alpha alpha beta"), // starts: slop 0 → 1 (2nd alpha), slop 1 → 2
      (3L, "gamma alpha"), // reversed: NEVER matches (in-order contract)
      (4L, "alpha x7 x7 x7 gamma"))) // span 4: needs slop ≥ 3
    val s = new Searcher(spark, idx)
    def docs(terms: Seq[String], slop: Int): Map[Long, Int] = {
      // phrase tf recovered from the score-free match rows via the
      // exhaustive path at k = corpus (scores positive, tf not exposed;
      // use matchesWithPositions-level truth instead: count starts)
      ExhaustiveOracle.multiPhraseTopK(idx, terms.map(Seq(_)), 10, slop = slop)
        .collect().map(_.getLong(0)).map(_ -> 1).toMap
    }
    assert(docs(Seq("alpha", "gamma"), 0).keySet === Set(1L))
    assert(docs(Seq("alpha", "gamma"), 1).keySet === Set(0L, 1L))
    assert(docs(Seq("alpha", "gamma"), 3).keySet === Set(0L, 1L, 4L))
    // reversed order never matches, any slop
    assert(!docs(Seq("alpha", "gamma"), 10).contains(3L))
    // duplicate-start counting: pruned path tf via score ordering —
    // doc 2 at slop 1 has tf 2 ("alpha alpha beta": both alphas chain
    // to beta within the window), so it must outrank a tf-1 doc of
    // comparable length; assert via the pruned path's row presence
    assert(hits(s.phraseTopK(Seq("alpha", "beta"), 10, slop = 1))
      .map(_._1).toSet === Set(0L, 2L))
  }

  test("slop 0 ≡ exact phrase; match set grows monotonically with slop") {
    val corpus = randomDocs(150, 11L)
    val idx = index(corpus, shardSize = 32L)
    val s = new Searcher(spark, idx)
    val terms = Seq("alpha", "kappa")
    val exact = hits(s.phraseTopK(terms, 200)).map(_._1).toSet
    var prev = exact
    for (slop <- Seq(1, 2, 4)) {
      val cur = hits(s.phraseTopK(terms, 200, slop = slop)).map(_._1).toSet
      assert(prev.subsetOf(cur), s"slop=$slop lost matches")
      prev = cur
    }
    // at least one genuinely sloppy match exists in a 150-doc random
    // corpus (else the test proves nothing)
    assert(prev.size > exact.size, "corpus produced no sloppy-only matches")
  }

  test("pruned sloppy path ≡ exhaustive relational fold (rank AND score)") {
    val corpus = randomDocs(140, 23L)
    for (shardSize <- Seq(16L, 1024L); slop <- Seq(1, 2);
        terms <- Seq(Seq("alpha", "kappa"), Seq("beta", "gamma", "eps"))) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      val pr = hits(s.phraseTopK(terms, 200, slop = slop))
      val ex = hits(ExhaustiveOracle.multiPhraseTopK(idx, terms.map(Seq(_)), 200, slop = slop))
      assert(pr.map(_._1) === ex.map(_._1),
        s"shard=$shardSize slop=$slop terms=$terms")
      pr.zip(ex).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
      }
    }
  }

  test("parser: \"...\"~N suffix lands slop on the phrase clause") {
    val az = graft.analysis.Analyzer
    assert(QueryParser.parse("\"hash join\"~2", az).shouldPhrases ===
      Seq(PhraseClause(Seq("hash", "join"), 2)))
    assert(QueryParser.parse("+\"hash join\"~1 gamma", az).mustPhrases ===
      Seq(PhraseClause(Seq("hash", "join"), 1)))
    assert(QueryParser.parse("-\"hash join\"~3", az).notPhrases ===
      Seq(PhraseClause(Seq("hash", "join"), 3)))
    // lenient: bare '~' (no digits) → slop 0
    assert(QueryParser.parse("\"hash join\"~", az).shouldPhrases ===
      Seq(PhraseClause(Seq("hash", "join"), 0)))
    // '~N' binds to the quote, not a following bare term
    val pq = QueryParser.parse("\"hash join\"~2 merge", az)
    assert(pq.shouldPhrases === Seq(PhraseClause(Seq("hash", "join"), 2)))
    assert(pq.should === Seq("merge"))
  }

  test("search(): sloppy phrase via query string ≡ phraseTopK(slop)") {
    val idx = index(randomDocs(120, 31L), shardSize = 32L)
    val s = new Searcher(spark, idx)
    assert(hits(s.search("\"alpha kappa\"~2", 15)) ===
      hits(s.phraseTopK(Seq("alpha", "kappa"), 15, slop = 2)))
    // sloppy MUST phrase inside a boolean query: the phrase gate must
    // widen with slop (more docs pass the MUST filter)
    val tight = hits(s.search("+\"alpha kappa\" beta", 200)).map(_._1).toSet
    val loose = hits(s.search("+\"alpha kappa\"~3 beta", 200)).map(_._1).toSet
    assert(tight.subsetOf(loose) && loose.size > tight.size)
  }

  // ---- multi-phrase (Lucene MultiPhraseQuery) ----

  test("multi-phrase: per-slot alternatives, hand-pinned; singleton ≡ phraseTopK") {
    val idx = index(Seq(
      (0L, "alpha beta x7"),
      (1L, "alpha gamma x7"),
      (2L, "alpha delta x7"), // delta not an alternative → no match
      (3L, "beta alpha"), // wrong order
      (4L, "alpha beta alpha gamma"))) // two starts (one per variant)
    val s = new Searcher(spark, idx)
    val mp = hits(s.multiPhraseTopK(Seq(Seq("alpha"), Seq("beta", "gamma")), 10))
    assert(mp.map(_._1).toSet === Set(0L, 1L, 4L))
    // doc 4 has tf 2 (both variants start once) — it must outrank the
    // tf-1 docs despite being longer? dl penalty may flip that; pin
    // instead via the exhaustive oracle
    val ex = hits(ExhaustiveOracle.multiPhraseTopK(idx, Seq(Seq("alpha"), Seq("beta", "gamma")), 10))
    assert(mp === ex)
    // slop widens across alternatives too: doc 2 "alpha delta x7" with
    // alternative set {beta, gamma, x7} at slop 1 matches via x7
    val sloppy = hits(s.multiPhraseTopK(Seq(Seq("alpha"), Seq("beta", "gamma", "x7")), 10, slop = 1))
    assert(sloppy.map(_._1).toSet === Set(0L, 1L, 2L, 4L))
  }

  test("multi-phrase pruned ≡ exhaustive; singleton slots ≡ phraseTopK (rank+score)") {
    val corpus = randomDocs(140, 61L)
    for (shardSize <- Seq(16L, 1024L)) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      // singleton slots degenerate to the plain phrase path exactly
      assert(hits(s.multiPhraseTopK(Seq(Seq("alpha"), Seq("kappa")), 200)) ===
        hits(s.phraseTopK(Seq("alpha", "kappa"), 200)))
      for (slop <- Seq(0, 1)) {
        val slots = Seq(Seq("alpha"), Seq("beta", "kappa"), Seq("gamma", "eps"))
        val pr = hits(s.multiPhraseTopK(slots, 200, slop = slop))
        val ex = hits(ExhaustiveOracle.multiPhraseTopK(idx, slots, 200, slop = slop))
        assert(pr.map(_._1) === ex.map(_._1), s"shard=$shardSize slop=$slop")
        pr.zip(ex).foreach { case (a, b) =>
          assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
        }
        assert(pr.nonEmpty, "corpus produced no multi-phrase matches")
      }
    }
  }

  test("phrase-prefix: final slot expands the dictionary prefix") {
    val idx = index(randomDocs(140, 61L), shardSize = 32L)
    val s = new Searcher(spark, idx)
    // 'ka' expands to exactly {kappa} in this vocabulary → identical
    // to the plain phrase
    assert(hits(s.phrasePrefixTopK(Seq("alpha"), "ka", 200)) ===
      hits(s.phraseTopK(Seq("alpha", "kappa"), 200)))
    // 'e' expands to {eps, eta} → identical to the explicit multi-phrase
    assert(hits(s.phrasePrefixTopK(Seq("alpha"), "e", 200)) ===
      hits(s.multiPhraseTopK(Seq(Seq("alpha"), Seq("eps", "eta")), 200)))
    // no dictionary term with the prefix → no hits
    assert(s.phrasePrefixTopK(Seq("alpha"), "zz", 10).count() === 0L)
    // TooManyClauses contract
    intercept[IllegalArgumentException] {
      s.phrasePrefixTopK(Seq("alpha"), "e", 10, maxExpansions = 1).collect()
    }
  }

  // ---- doc filter (the reference's Lucene Filter parameter) ----

  test("docFilter: candidates narrow like tombstones, scores untouched, paths agree") {
    import org.apache.spark.sql.functions.{col, lit}
    val idx = index(randomDocs(150, 113L), shardSize = 32L)
    val s = new Searcher(spark, idx)
    val n = idx.stats.numDocs.toInt
    val terms = Seq("alpha", "kappa")
    val even = Some(col("docId") % 2 === 0)
    for (mode <- Seq("or", "and")) {
      val wand = hits(s.topK(terms, n, requireAll = mode == "and", docFilter = even))
      val ex = hits(ExhaustiveOracle.topK(idx, terms, n, requireAll = mode == "and",
        docFilter = even))
      assert(wand === ex, s"mode=$mode")
      assert(ranked(s.scoredDocs(terms, requireAll = mode == "and", docFilter = even)) === ex,
        s"mode=$mode")
      assert(wand.nonEmpty && wand.forall(_._1 % 2 == 0), s"mode=$mode")
      // Lucene filter semantics: the filter narrows candidates but does
      // NOT re-weight — surviving docs keep their unfiltered scores
      val unfiltered = hits(
        if (mode == "and") s.topK(terms, n, requireAll = true)
        else s.topK(terms, n)).toMap
      wand.foreach { case (d, sc) =>
        assert(math.abs(sc - unfiltered(d)) <= 1e-12 * math.max(1.0, math.abs(sc)))
      }
      assert(wand.size < unfiltered.size, "filter removed nothing — degenerate")
    }
    // all-false filter → no hits on either path
    assert(s.topK(terms, n, docFilter = Some(lit(false))).count() === 0L)
    assert(ExhaustiveOracle.topK(idx, terms, n, docFilter = Some(lit(false))).count() === 0L)
  }

  // ---- per-term query boosts ----

  test("per-term boosts: WAND ≡ exhaustive; boost 1 is a no-op; boosts re-rank") {
    val corpus = randomDocs(150, 83L)
    val terms = Seq("alpha", "beta", "kappa")
    val boosts = Map("beta" -> 3.0, "kappa" -> 0.5)
    for (shardSize <- Seq(16L, 1024L); mode <- Seq("or", "and", "reqopt")) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      val n = idx.stats.numDocs.toInt
      def call(b: Map[String, Double]) = mode match {
        case "or" => (s.topK(terms, n, boosts = b),
          ExhaustiveOracle.topK(idx, terms, n, boosts = b))
        case "and" => (s.topK(terms, n, requireAll = true, boosts = b),
          ExhaustiveOracle.topK(idx, terms, n, requireAll = true, boosts = b))
        case _ => (s.topK(terms, n, must = Seq("alpha"), boosts = b),
          ExhaustiveOracle.topK(idx, terms, n, must = Seq("alpha"), boosts = b))
      }
      val (wandDf, exDf) = call(boosts)
      val (wand, ex) = (hits(wandDf), hits(exDf))
      assert(wand.map(_._1) === ex.map(_._1), s"shard=$shardSize mode=$mode")
      wand.zip(ex).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
      }
      val all = ranked(mode match {
        case "or" => s.scoredDocs(terms, boosts = boosts)
        case "and" => s.scoredDocs(terms, requireAll = true, boosts = boosts)
        case _ => s.scoredDocs(terms, must = Seq("alpha"), boosts = boosts)
      })
      assert(all === ex, s"scoredDocs shard=$shardSize mode=$mode")
      // boost ≡ 1 everywhere is exactly the unboosted query
      val (w1, _) = call(Map("alpha" -> 1.0, "beta" -> 1.0))
      assert(hits(w1) === hits(call(Map.empty)._1), s"mode=$mode")
    }
    // the 3× boost actually re-ranks: the top beta-heavy doc must beat
    // its unboosted position
    val idx = index(corpus, 32L)
    val s = new Searcher(spark, idx)
    val n = idx.stats.numDocs.toInt
    val plain = hits(s.topK(terms, n)).map(_._1)
    val boosted = hits(s.topK(terms, n, boosts = boosts)).map(_._1)
    assert(plain !== boosted, "boosts changed nothing — test corpus degenerate")
  }

  // ---- SpanFirstQuery ----

  test("span-first: only occurrences within the window count; end=∞ ≡ single-term") {
    val idx = index(Seq(
      (0L, "alpha beta gamma"), // alpha at 1 — inside any window
      (1L, "beta gamma delta eps alpha"), // alpha at 5 — outside end=3
      (2L, "beta alpha gamma alpha"), // positions 2 and 4: end=3 counts ONE
      (3L, "beta gamma delta")))
    val s = new Searcher(spark, idx)
    assert(hits(s.spanFirstTopK("alpha", 3, 10)).map(_._1).toSet === Set(0L, 2L))
    assert(hits(s.spanFirstTopK("alpha", 5, 10)).map(_._1).toSet === Set(0L, 1L, 2L))
    // qualifying-tf semantics: at end=3 doc 2 has tf 1, same as doc 0 —
    // the shorter doc 0 must rank first (BM25 length norm)
    val atThree = hits(s.spanFirstTopK("alpha", 3, 10))
    assert(atThree.head._1 === 0L)
    // window beyond every doc length ≡ the plain single-term query
    val big = hits(s.spanFirstTopK("alpha", 1000, 10))
    val single = hits(s.topK(Seq("alpha"), 10))
    assert(big.map(_._1) === single.map(_._1))
    big.zip(single).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
    }
    // unknown term → empty
    assert(s.spanFirstTopK("zzz_nope", 5, 10).count() === 0L)
  }

  // ---- DisjunctionMaxQuery ----

  test("dismax: WAND ≡ exhaustive; tb=1 ≡ OR sum; tb=0 ≡ best single term") {
    val corpus = randomDocs(150, 71L)
    val terms = Seq("alpha", "beta", "kappa")
    for (shardSize <- Seq(16L, 1024L)) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      val n = idx.stats.numDocs.toInt
      for (tb <- Seq(0.0, 0.3, 1.0)) {
        val wand = hits(s.dismaxTopK(terms, n, tb))
        val ex = hits(ExhaustiveOracle.dismaxTopK(idx, terms, n, tb))
        assert(wand.map(_._1) === ex.map(_._1), s"shard=$shardSize tb=$tb")
        wand.zip(ex).foreach { case (a, b) =>
          assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
        }
      }
      // tb = 1: dismax degenerates to the plain OR sum (BM25 docFactor ≡ 1)
      val or = hits(s.topK(terms, n)).toMap
      hits(s.dismaxTopK(terms, n, 1.0)).foreach { case (d, sc) =>
        assert(math.abs(sc - or(d)) <= 1e-12 * math.max(1.0, math.abs(or(d))))
      }
      // tb = 0: per-doc score = the best of the three single-term scores
      val singles = terms.map(t =>
        hits(s.topK(Seq(t), n)).toMap.withDefaultValue(0.0))
      hits(s.dismaxTopK(terms, n, 0.0)).foreach { case (d, sc) =>
        val best = singles.map(_(d)).max
        assert(math.abs(sc - best) <= 1e-12 * math.max(1.0, best), s"doc=$d")
      }
    }
  }

  // ---- minimumShouldMatch ----

  test("minShouldMatch: WAND ≡ exhaustive at every feasible mm; mm=n ≡ AND") {
    val corpus = randomDocs(160, 41L)
    val terms = Seq("alpha", "beta", "kappa")
    for (shardSize <- Seq(16L, 1024L)) {
      val idx = index(corpus, shardSize)
      val s = new Searcher(spark, idx)
      val n = idx.stats.numDocs.toInt
      val orHits = hits(s.topK(terms, n))
      for (mm <- 0 to terms.length) {
        val wand = hits(s.topK(terms, n, minShouldMatch = mm))
        val ex = hits(ExhaustiveOracle.topK(idx, terms, n, minShouldMatch = mm))
        assert(wand === ex, s"shard=$shardSize mm=$mm")
        assert(ranked(s.scoredDocs(terms, minShouldMatch = mm)) === ex,
          s"scoredDocs shard=$shardSize mm=$mm")
        // mm only FILTERS: every surviving (doc, score) appears in the
        // unfiltered OR result with the identical score
        val orMap = orHits.toMap
        wand.foreach { case (d, sc) =>
          assert(math.abs(orMap(d) - sc) <= 1e-12 * math.max(1.0, math.abs(sc)))
        }
      }
      // mm = #terms ≡ conjunctive AND
      assert(hits(s.topK(terms, n, minShouldMatch = terms.length)) ===
        hits(s.topK(terms, n, requireAll = true)))
      // mm above the SHOULD-clause count matches nothing (Lucene contract)
      assert(s.topK(terms, n, minShouldMatch = terms.length + 1).count() === 0L)
      assert(ExhaustiveOracle.topK(idx, terms, n, minShouldMatch = terms.length + 1)
        .count() === 0L)
      assert(s.scoredDocs(terms, minShouldMatch = terms.length + 1).count() === 0L)
      // a result set strictly shrinks somewhere between mm=0 and mm=n
      assert(hits(s.topK(terms, n, minShouldMatch = 2)).size < orHits.size,
        "corpus produced no partial-match docs — mm untested")
    }
  }

  test("minShouldMatch with MUST (ReqOpt): counts optional matches only") {
    val idx = index(randomDocs(150, 53L), shardSize = 32L)
    val s = new Searcher(spark, idx)
    val n = idx.stats.numDocs.toInt
    val must = Seq("alpha")
    val should = Seq("beta", "kappa")
    for (mm <- 0 to should.length) {
      val wand = hits(s.topK(should ++ must, n, must = must, minShouldMatch = mm))
      val ex = hits(ExhaustiveOracle.topK(idx, should ++ must, n, must = must,
        minShouldMatch = mm))
      assert(wand === ex, s"mm=$mm")
      assert(ranked(s.scoredDocs(should ++ must, must = must, minShouldMatch = mm)) === ex,
        s"scoredDocs mm=$mm")
    }
    // mm beyond the optionals → empty even though MUST alone matches
    assert(s.topK(should ++ must, n, must = must,
      minShouldMatch = should.length + 1).count() === 0L)
    // requireAll has zero SHOULD clauses: any mm > 0 matches nothing
    assert(s.topK(must, n, requireAll = true, minShouldMatch = 1).count() === 0L)
    assert(ExhaustiveOracle.topK(idx, must, n, requireAll = true, minShouldMatch = 1)
      .count() === 0L)
    assert(s.scoredDocs(must, requireAll = true, minShouldMatch = 1).count() === 0L)
  }
}
