package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.build.{IndexBuilder, IndexConfig}
import graft.query.{ExpansionClause, ExpansionKind, QueryParser, Searcher}

/** Classic-syntax multi-term clauses (`sp*`, `te?t`, `roam~N`) through
  * the parser and `Searcher.search`: classification, dictionary
  * rewrite, SHOULD-flattening ≡ the explicit API calls, MUST-group
  * semantics, NOT-expansion exclusion, and empty-rewrite contracts.
  */
class QueryExpansionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def mix(z: Long): Long = graft.tools.CodeCorpus.mix(z)

  private def index(rows: Seq[(Long, String)], shardSize: Long = 32L) =
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

  test("parser classifies prefix / wildcard / fuzzy clauses per occur") {
    def p(q: String) = QueryParser.parse(q, Analyzer)
    assert(p("sp*").shouldExpansions ===
      Seq(ExpansionClause(ExpansionKind.Prefix, "sp")))
    assert(p("te?t").shouldExpansions ===
      Seq(ExpansionClause(ExpansionKind.Wildcard, "te?t")))
    assert(p("s*k").shouldExpansions ===
      Seq(ExpansionClause(ExpansionKind.Wildcard, "s*k")))
    assert(p("roam~").shouldExpansions ===
      Seq(ExpansionClause(ExpansionKind.Fuzzy, "roam", 2)))
    assert(p("roam~1").shouldExpansions ===
      Seq(ExpansionClause(ExpansionKind.Fuzzy, "roam", 1)))
    assert(p("+sp* merge").mustExpansions ===
      Seq(ExpansionClause(ExpansionKind.Prefix, "sp")))
    assert(p("-sp*").notExpansions ===
      Seq(ExpansionClause(ExpansionKind.Prefix, "sp")))
    assert(p("NOT sp*").notExpansions ===
      Seq(ExpansionClause(ExpansionKind.Prefix, "sp")))
    // lowercased, not analyzed
    assert(p("SP*").shouldExpansions ===
      Seq(ExpansionClause(ExpansionKind.Prefix, "sp")))
    // a bare '*' has no literal: falls through to the analyzer (which
    // drops it) — no clause at all
    assert(p("*").isEmpty)
    // plain terms unaffected
    assert(p("spark merge").shouldExpansions.isEmpty)
  }

  test("SHOULD expansions ≡ the explicit API calls (rank AND score)") {
    val idx = index(randomDocs(130, 91L))
    val s = new Searcher(spark, idx)
    assert(hits(s.search("ka*", 50)) === hits(s.prefixTopK("ka", 50)))
    assert(hits(s.search("ka?pa", 50)) === hits(s.wildcardTopK("ka?pa", 50)))
    assert(hits(s.search("kappo~1", 50)) ===
      hits(s.fuzzyTopK("kappo", 50, maxEdits = 1)))
    // SHOULD expansion beside a plain term = OR over expansion + term
    assert(hits(s.search("e* kappa", 200)) ===
      hits(s.topK(Seq("eps", "eta", "kappa"), 200)))
  }

  test("MUST expansion: single-term group degrades; multi group gates on ≥1 member") {
    val idx = index(randomDocs(140, 97L))
    val s = new Searcher(spark, idx)
    val n = idx.stats.numDocs.toInt
    // 'ka*' expands to exactly {kappa} → plain MUST (ReqOpt dispatch)
    assert(hits(s.search("+ka* beta", n)) ===
      hits(s.topK(Seq("beta", "kappa"), n, must = Seq("kappa"))))
    // 'e*' expands to {eps, eta}: doc must contain ≥1; scores sum the
    // matched among {eps, eta, kappa}
    val got = hits(s.search("+e* kappa", n))
    val expected = {
      val scored = s.scoredDocs(Seq("eps", "eta", "kappa")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      val gateDocs = s.matches(Seq("eps", "eta")).toDF()
        .select("docId").distinct().collect().map(_.getLong(0)).toSet
      scored.filter { case (d, _) => gateDocs(d) }.toSeq
        .sortBy { case (d, sc) => (-sc, d) }.take(n)
    }
    assert(got.map(_._1) === expected.map(_._1))
    got.zip(expected).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
    }
    // the gate bites: some doc scored by kappa alone is excluded
    assert(got.size < hits(s.topK(Seq("eps", "eta", "kappa"), n)).size)
    // a MUST group alone = disjunction over its expansion
    assert(hits(s.search("+e*", n)) === hits(s.topK(Seq("eps", "eta"), n)))
    // empty MUST rewrite matches nothing, even beside a live term
    assert(s.search("+zz* kappa", 10).count() === 0L)
  }

  test("clause boosts: ^N on terms, phrases and expansions") {
    import graft.query.PhraseClause
    def p(q: String) = QueryParser.parse(q, Analyzer)
    assert(p("spark^2 merge").boosts === Map("spark" -> 2.0))
    assert(p("spark^2.5").boosts === Map("spark" -> 2.5))
    assert(p("\"hash join\"^3").shouldPhrases ===
      Seq(PhraseClause(Seq("hash", "join"), 0, 3.0)))
    assert(p("\"hash join\"~2^3").shouldPhrases ===
      Seq(PhraseClause(Seq("hash", "join"), 2, 3.0)))
    assert(p("sp*^2").shouldExpansions ===
      Seq(ExpansionClause(ExpansionKind.Prefix, "sp", 2, 2.0)))

    val idx = index(randomDocs(140, 103L))
    val s = new Searcher(spark, idx)
    val n = idx.stats.numDocs.toInt
    // term boost through the parser ≡ the explicit boosts map
    assert(hits(s.search("alpha^2 kappa", n)) ===
      hits(s.topK(Seq("alpha", "kappa"), n, boosts = Map("alpha" -> 2.0))))
    // boosted expansion: every expanded term carries the boost
    assert(hits(s.search("e*^3 kappa", n)) ===
      hits(s.topK(Seq("eps", "eta", "kappa"), n,
        boosts = Map("eps" -> 3.0, "eta" -> 3.0))))
    // single boosted phrase = Boosted scorer over the phrase (2× scores)
    val plainP = hits(s.phraseTopK(Seq("alpha", "kappa"), n)).toMap
    hits(s.search("\"alpha kappa\"^2", n)).foreach { case (d, sc) =>
      assert(math.abs(sc - 2.0 * plainP(d)) <= 1e-12 * math.max(1.0, sc))
    }
    // phrase boost inside a boolean query: the boosted run's scores
    // exceed the unboosted run's by exactly the phrase's own score
    val plainB = hits(s.search("+\"alpha kappa\" beta", n)).toMap
    val boostedB = hits(s.search("+\"alpha kappa\"^2 beta", n))
    assert(boostedB.map(_._1).toSet === plainB.keySet)
    boostedB.foreach { case (d, sc) =>
      val expected = plainB(d) + plainP(d)
      assert(math.abs(sc - expected) <= 1e-9 * math.max(1.0, expected), s"doc=$d")
    }
  }

  test("NOT expansion flattens into the exclusion set") {
    val idx = index(randomDocs(130, 101L))
    val s = new Searcher(spark, idx)
    assert(hits(s.search("alpha -e*", 200)) ===
      hits(s.topK(Seq("alpha"), 200, mustNot = Seq("eps", "eta"))))
    // empty NOT rewrite excludes nothing
    assert(hits(s.search("alpha -zz*", 200)) ===
      hits(s.topK(Seq("alpha"), 200)))
  }
}
