package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.query.{ExhaustiveOracle, Searcher}

/** Boolean MUST_NOT (Lucene prohibited clauses) and the term-expansion
  * query family (prefix / wildcard / range — Lucene MultiTermQuery via
  * the reference's TermEnum SPI): oracle ≡ WAND, exclusion drops
  * exactly the matching docs without changing survivors' scores, and
  * expansions match their explicit-term-list equivalents. */
class BooleanQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mix(z: Long): Long = graft.tools.CodeCorpus.mix(z)

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")

  private def docsDf(n: Int, seed: Long) =
    (0 until n).map { i =>
      val len = 3 + (mix(seed ^ i) & 0x7FFFFFFF).toInt % 30
      val words = (0 until len).map { t =>
        vocab(((mix(seed ^ (i * 131L + t)) & 0x7FFFFFFF) % vocab.length).toInt)
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

  private def topMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** 160 docs over a skewed vocabulary: the NOT term and NOT-phrase
    * words are rarer than the scoring ones, so every exclusion leaves
    * survivors. */
  private def skewedDocs = {
    val skewed = Vector("alpha", "alpha", "alpha", "alpha", "beta", "beta",
      "beta", "beta", "gamma", "gamma", "gamma", "delta", "delta", "eps",
      "eps", "zeta", "kappa", "iota")
    (0 until 160).map { i =>
      val len = 3 + (mix(41L ^ i) & 0x7FFFFFFF).toInt % 10
      val words = (0 until len).map { t =>
        skewed(((mix(41L ^ (i * 131L + t)) & 0x7FFFFFFF) % skewed.length).toInt)
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("MUST_NOT: exhaustive ≡ WAND; drops exactly the excluded docs; survivors' scores unchanged") {
    for (shardSize <- Seq(16L, 1024L)) {
      val idx = IndexBuilder.fromText(spark, docsDf(150, 11L), "doc_id", "text",
        cfg = IndexConfig(shardSizeDocs = shardSize)).cache()
      val s = new Searcher(spark, idx)
      val terms = Seq("alpha", "kappa")
      val not = Seq("zeta")
      val k = idx.stats.numDocs.toInt // full ranking: set equality checkable

      val plain = topMap(ExhaustiveOracle.topK(idx, terms, k))
      val ex = topMap(ExhaustiveOracle.topK(idx, terms, k, mustNot = not))
      val wand = topMap(s.topK(terms, k, mustNot = not))
      val excluded = s.matches(not).toDF().select("docId")
        .collect().map(_.getLong(0)).toSet

      assert(ex.keySet === wand.keySet, s"shard=$shardSize")
      assert(ex.keySet === plain.keySet -- excluded, s"shard=$shardSize")
      assert(ex.keySet.forall(d => !excluded(d)))
      // exclusion must not perturb surviving scores (both paths)
      ex.foreach { case (d, sc) =>
        assert(math.abs(sc - plain(d)) <= 1e-12 * math.max(1.0, math.abs(plain(d))))
        assert(math.abs(sc - wand(d)) <= 1e-12 * math.max(1.0, math.abs(plain(d))))
      }
      idx.unpersist()
    }
  }

  test("MUST_NOT in AND mode: both paths; term both required and prohibited → empty") {
    val idx = IndexBuilder.fromText(spark, docsDf(120, 13L), "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 32)).cache()
    val s = new Searcher(spark, idx)
    val k = idx.stats.numDocs.toInt
    val ex = topMap(ExhaustiveOracle.topK(idx, Seq("alpha", "beta"), k, requireAll = true,
      mustNot = Seq("gamma")))
    val wand = topMap(s.topK(Seq("alpha", "beta"), k, requireAll = true,
      mustNot = Seq("gamma")))
    assert(ex === wand)
    assert(ex.nonEmpty) // corpus is dense enough that some doc has α∧β∧¬γ
    // contradiction: MUST ∧ MUST_NOT on the same term
    assert(ExhaustiveOracle.topK(idx, Seq("alpha"), k, requireAll = true,
      mustNot = Seq("alpha")).collect().isEmpty)
    assert(s.topK(Seq("alpha"), k, requireAll = true, mustNot = Seq("alpha"))
      .collect().isEmpty)
    idx.unpersist()
  }

  test("prefix/wildcard/range expansion ≡ explicit term list; bounds honored; TooManyClauses") {
    val idx = IndexBuilder.fromText(spark, docsDf(140, 17L), "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 64)).cache()
    val s = new Searcher(spark, idx)
    val k = 25

    // prefix "e" → {eps, eta}
    assert(topMap(s.prefixTopK("e", k)) === topMap(s.topK(Seq("eps", "eta"), k)))
    // wildcard "?eta" → {beta, zeta} (one leading char, literal tail)
    assert(topMap(s.wildcardTopK("?eta", k)) === topMap(s.topK(Seq("beta", "zeta"), k)))
    // wildcard with literal prefix + star: "ka*" → {kappa}
    assert(topMap(s.wildcardTopK("ka*", k)) === topMap(s.topK(Seq("kappa"), k)))
    // range [beta, eta) → {beta, delta, eps}; [beta, eta] adds eta
    assert(topMap(s.rangeTopK(Some("beta"), Some("eta"), k)) ===
      topMap(s.topK(Seq("beta", "delta", "eps"), k)))
    assert(topMap(s.rangeTopK(Some("beta"), Some("eta"), k, includeHi = true)) ===
      topMap(s.topK(Seq("beta", "delta", "eps", "eta"), k)))
    // fuzzy "zeta"~1: vocab within 1 edit = {zeta (0), beta (1 sub),
    // eta (1 del)} — the exact term rides its own expansion
    assert(topMap(s.fuzzyTopK("zeta", k, maxEdits = 1)) ===
      topMap(s.topK(Seq("beta", "eta", "zeta"), k)))
    // prefix-locked fuzzy: prefixLength=1 keeps only "z*" candidates
    assert(topMap(s.fuzzyTopK("zeta", k, maxEdits = 1, prefixLength = 1)) ===
      topMap(s.topK(Seq("zeta"), k)))
    // empty expansion → empty hits, not an error
    assert(s.prefixTopK("zzz", k).collect().isEmpty)
    assert(s.fuzzyTopK("qqqqqqq", k, maxEdits = 1).collect().isEmpty)
    // Lucene TooManyClauses contract: prefix "e" expands to 2 > 1
    val e = intercept[IllegalArgumentException](s.prefixTopK("e", k, maxExpansions = 1))
    assert(e.getMessage.contains("TooManyClauses"))
    idx.unpersist()
  }

  test("mixed MUST+SHOULD: hit set = MUST-conjunction; scores add SHOULD contributions") {
    for (shardSize <- Seq(16L, 1024L)) {
      val idx = IndexBuilder.fromText(spark, docsDf(150, 23L), "doc_id", "text",
        cfg = IndexConfig(shardSizeDocs = shardSize)).cache()
      val s = new Searcher(spark, idx)
      val k = idx.stats.numDocs.toInt // full ranking: set equality checkable

      val mixed = topMap(s.topK(Seq("alpha", "kappa"), k, must = Seq("alpha")))
      val mustOnly = topMap(s.topK(Seq("alpha"), k, requireAll = true))
      val both = topMap(s.topK(Seq("alpha", "kappa"), k, requireAll = true))
      // hit set: exactly the docs containing the MUST term
      assert(mixed.keySet === mustOnly.keySet, s"shard=$shardSize")
      // docs also containing the SHOULD term score strictly higher than
      // their MUST-only score; docs without it score identically
      mixed.foreach { case (d, sc) =>
        if (both.contains(d)) assert(sc > mustOnly(d), s"doc=$d shard=$shardSize")
        else assert(math.abs(sc - mustOnly(d)) < 1e-12, s"doc=$d shard=$shardSize")
      }
      // MUST ∧ MUST_NOT on the same term matches nothing
      assert(s.topK(Seq("alpha", "kappa"), k, must = Seq("alpha"),
        mustNot = Seq("alpha")).collect().isEmpty)
      idx.unpersist()
    }
  }

  test("search(query string): parser dispatch ≡ the explicit API calls") {
    val idx = IndexBuilder.fromText(spark, docsDf(150, 31L), "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 32)).cache()
    val s = new Searcher(spark, idx)
    val k = idx.stats.numDocs.toInt

    // pure OR
    assert(topMap(s.search("alpha kappa", k)) ===
      topMap(s.topK(Seq("alpha", "kappa"), k)))
    // all-MUST → conjunctive leapfrog
    assert(topMap(s.search("+alpha +kappa", k)) ===
      topMap(s.topK(Seq("alpha", "kappa"), k, requireAll = true)))
    assert(topMap(s.search("alpha AND kappa", k)) ===
      topMap(s.topK(Seq("alpha", "kappa"), k, requireAll = true)))
    // mixed → ReqOpt
    assert(topMap(s.search("+alpha kappa", k)) ===
      topMap(s.topK(Seq("alpha", "kappa"), k, must = Seq("alpha"))))
    // MUST_NOT rides along
    assert(topMap(s.search("+alpha kappa -zeta", k)) ===
      topMap(s.topK(Seq("alpha", "kappa"), k, must = Seq("alpha"),
        mustNot = Seq("zeta"))))
    // quoted phrase dispatches to the positional plan
    assert(topMap(s.search("\"alpha kappa\"", k)) ===
      topMap(s.phraseTopK(Seq("alpha", "kappa"), k)))
    // only-prohibited and empty queries match nothing (Lucene contract)
    assert(s.search("-alpha", k).collect().isEmpty)
    assert(s.search("  ", k).collect().isEmpty)
    idx.unpersist()
  }

  test("phrase clauses inside boolean queries: MUST bounds, additive scores, NOT drops") {
    import graft.query.{ParsedQuery, PhraseClause}
    val docs = Seq(
      (0L, "alpha kappa zeta"), // phrase + zeta
      (1L, "alpha kappa"), // phrase only
      (2L, "kappa alpha zeta"), // terms, no phrase
      (3L, "zeta zeta"), // zeta only
      (4L, "alpha kappa alpha kappa") // phrase tf 2
    ).toDF("doc_id", "text")
    for (shardSize <- Seq(2L, 1024L)) {
      val idx = IndexBuilder.fromText(spark, docs, "doc_id", "text",
        cfg = IndexConfig(shardSizeDocs = shardSize)).cache()
      val s = new Searcher(spark, idx)
      val k = 10
      val phraseOnly = topMap(s.phraseTopK(Seq("alpha", "kappa"), k))
      val zetaOnly = topMap(s.topK(Seq("zeta"), k))
      assert(phraseOnly.keySet === Set(0L, 1L, 4L), s"shard=$shardSize")

      // MUST phrase + SHOULD term: hit set = phrase matches; score =
      // phrase contribution + zeta contribution where present
      val mixed = topMap(s.scoredDocsBoolean(
        ParsedQuery(Nil, Seq("zeta"), Nil, Seq(PhraseClause(Seq("alpha", "kappa")))))
        .select("docId", "score"))
      assert(mixed.keySet === phraseOnly.keySet, s"shard=$shardSize")
      mixed.foreach { case (d, sc) =>
        val expect = phraseOnly(d) + zetaOnly.getOrElse(d, 0.0)
        assert(math.abs(sc - expect) < 1e-9, s"doc=$d shard=$shardSize")
      }
      // same query through the parser end-to-end
      assert(topMap(s.search("+\"alpha kappa\" zeta", k)) === mixed,
        s"shard=$shardSize")

      // SHOULD phrase + SHOULD term: union of hit sets
      val orMixed = topMap(s.search("\"alpha kappa\" zeta", k))
      assert(orMixed.keySet === phraseOnly.keySet ++ zetaOnly.keySet)

      // NOT phrase: drops exactly the phrase matches from a term query
      val notPhrase = topMap(s.search("zeta -\"alpha kappa\"", k))
      assert(notPhrase.keySet === zetaOnly.keySet -- phraseOnly.keySet)
      notPhrase.foreach { case (d, sc) =>
        assert(math.abs(sc - zetaOnly(d)) < 1e-12, s"doc=$d")
      }

      // two phrase clauses, one MUST one SHOULD
      val twoPhrases = topMap(s.search("+\"alpha kappa\" \"kappa zeta\"", k))
      assert(twoPhrases.keySet === phraseOnly.keySet)
      assert(twoPhrases(0L) > phraseOnly(0L)) // doc0 has "kappa zeta" too
      idx.unpersist()
    }
  }

  test("clause scorer under tombstones + docFilter ≡ per-clause references") {
    import org.apache.spark.sql.functions.col
    import graft.query.{ParsedQuery, PhraseClause}
    val docs = skewedDocs
    val deleted = (0L until 160L).filter(_ % 7 == 3).toSet
    val passes = (d: Long) => d % 5 != 1
    val docFilter = col("docId") % 5 =!= 1
    val pq = ParsedQuery(must = Nil, should = Seq("gamma"), mustNot = Seq("zeta"),
      mustPhrases = Seq(PhraseClause(Seq("alpha", "beta"))),
      notPhrases = Seq(PhraseClause(Seq("kappa", "iota"))))
    val group = Seq("delta", "eps")
    for (shardSize <- Seq(2L, 16L, 1024L)) {
      val tag = s"shard=$shardSize"
      val base = IndexBuilder.fromText(spark, docs, "doc_id", "text",
        cfg = IndexConfig(shardSizeDocs = shardSize)).cache()
      val idx = base.withDeletes(deleted.toSeq.toDF("docId"))
      val s = new Searcher(spark, idx)
      val k = 160
      // phrase reference on the UNFILTERED tombstoned index: its df counts
      // live docs, before the filter narrows the candidates
      val phrase = topMap(s.phraseTopK(Seq("alpha", "beta"), k))
      val termScore = (Seq("gamma") ++ group).map(t => t -> topMap(s.topK(Seq(t), k))).toMap
      val notDocs = topMap(s.topK(Seq("zeta"), k)).keySet ++
        topMap(s.phraseTopK(Seq("kappa", "iota"), k)).keySet
      val candidates = phrase.keySet.filter(d => group.exists(termScore(_).contains(d)))
      val expected = candidates.filter(d => passes(d) && !notDocs(d)).map { d =>
        d -> (phrase(d) + (Seq("gamma") ++ group).flatMap(termScore(_).get(d)).sum)
      }.toMap
      // every narrowing mechanism removes at least one candidate
      assert(expected.nonEmpty, tag)
      assert(candidates.exists(d => !passes(d)), tag)
      assert(candidates.exists(d => passes(d) && notDocs(d)), tag)
      assert(topMap(new Searcher(spark, base).phraseTopK(Seq("alpha", "beta"), k))
        .keySet.exists(deleted), tag)

      val got = topMap(s.scoredDocsBoolean(pq, mustGroups = Seq(group),
        docFilter = Some(docFilter)).select("docId", "score"))
      assert(got.keySet === expected.keySet, tag)
      got.foreach { case (d, sc) =>
        assert(math.abs(sc - expected(d)) <= 1e-12 * math.abs(expected(d)), s"$tag doc=$d")
      }
      base.unpersist()
    }
  }

  test("clause scorer reads only shards that hold every MUST clause") {
    import graft.query.{BM25, ParsedQuery, PhraseClause}
    val idx = IndexBuilder.fromText(spark, skewedDocs, "doc_id", "text",
      cfg = IndexConfig(shardSizeDocs = 2)).cache()
    val s = new Searcher(spark, idx)
    def shardsOf(terms: String*): Set[Long] =
      s.postingRows(terms).select("term", "shard").collect()
        .groupBy(_.getLong(1)).collect {
          case (sh, rs) if terms.forall(t => rs.exists(_.getString(0) == t)) => sh
        }.toSet
    val phraseShards = shardsOf("alpha", "beta")
    val union = phraseShards ++ s.postingRows(Seq("gamma")).select("shard")
      .collect().map(_.getLong(0))
    // +"alpha beta" gamma: 5 shards hold gamma but not both phrase terms
    assert((union.size, phraseShards.size) === ((78, 73)))
    val (hits, shards, _) = s.booleanHits(ParsedQuery(must = Nil, should = Seq("gamma"),
      mustNot = Nil, mustPhrases = Seq(PhraseClause(Seq("alpha", "beta")))), BM25(), Nil, 0, None)
    assert(shards.toSet === phraseShards)
    // hits ≡ per-clause references: the phrase's hits, scored phrase + gamma
    val phrase = topMap(s.phraseTopK(Seq("alpha", "beta"), 160))
    val gamma = topMap(s.topK(Seq("gamma"), 160))
    val got = topMap(hits.select("docId", "score"))
    assert(got.keySet === phrase.keySet)
    got.foreach { case (d, sc) =>
      val want = phrase(d) + gamma.getOrElse(d, 0.0)
      assert(math.abs(sc - want) <= 1e-12 * want, s"doc=$d")
    }
    idx.unpersist()
  }
}
