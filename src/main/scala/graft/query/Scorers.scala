package graft.query

import graft.model.CorpusStats

/** Pluggable scorers (≙ the reference's pluggable Lucene `Similarity`,
  * hbasene create/mapred/IndexOutputFormat.java:103-116).
  *
  * Two implementations (SURVEY.md §2.D D1):
  *   - BM25 — the north-rule scorer.
  *   - Legacy TF-IDF — Lucene 3.0 DefaultSimilarity with norms ≡ 1
  *     (HBaseIndexReader.java:72,236-240), needed for rank parity with
  *     the reference tests (TestHBaseIndexReader.java:66-68: the tf=3
  *     doc ranks first).
  *
  * Each formula has this one definition: WAND, the clause scorer, the
  * phrase family and explainDoc all call it. The test-scope
  * `ExhaustiveOracle` keeps its own Column form of each to check them.
  */
sealed trait Scorer extends Serializable {
  def name: String
  /** Per-(term, doc) contribution, before doc-level factors. */
  def contribution(tf: Double, df: Double, dl: Double, stats: CorpusStats): Double
  /** Upper bound of contribution over all dl for a given max tf —
    * drives WAND pruning. */
  def upperBound(maxTf: Double, df: Double, stats: CorpusStats): Double
  /** Doc-level final factor given matched-term count (coord etc.). */
  def docFactor(nMatched: Int, queryDfs: Seq[Double], stats: CorpusStats): Double
}

/** Field-boost wrapper (reference: per-field boost config,
  * hbasene create/IndexConfiguration.java:142-148): scales every
  * per-(term, doc) contribution AND the WAND upper bounds by the same
  * positive factor, so θ-pruning stays sound and WAND stays
  * rank-identical to the all-hits scorer for any boost > 0. */
final case class Boosted(inner: Scorer, boost: Double) extends Scorer {
  require(boost > 0.0, s"boost must be positive, got $boost")
  override def name: String = s"${inner.name}^$boost"
  override def contribution(tf: Double, df: Double, dl: Double, stats: CorpusStats): Double =
    inner.contribution(tf, df, dl, stats) * boost
  override def upperBound(maxTf: Double, df: Double, stats: CorpusStats): Double =
    inner.upperBound(maxTf, df, stats) * boost
  override def docFactor(nMatched: Int, queryDfs: Seq[Double], stats: CorpusStats): Double =
    inner.docFactor(nMatched, queryDfs, stats)
}

final case class BM25(k1: Double = 1.2, b: Double = 0.75) extends Scorer {
  override def name: String = "bm25"

  private def idf(df: Double, n: Double): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  override def contribution(tf: Double, df: Double, dl: Double, stats: CorpusStats): Double = {
    val n = stats.numDocs.toDouble
    idf(df, n) * tf / (tf + k1 * (1.0 - b + b * dl / stats.avgDocLen))
  }

  /** dl → 0 maximizes the tf normalization. */
  override def upperBound(maxTf: Double, df: Double, stats: CorpusStats): Double =
    idf(df, stats.numDocs.toDouble) * maxTf / (maxTf + k1 * (1.0 - b))

  override def docFactor(nMatched: Int, queryDfs: Seq[Double], stats: CorpusStats): Double = 1.0
}

/** Lucene 3.0 DefaultSimilarity with norms ≡ 1:
  * score(q,d) = coord(q,d) · queryNorm(q) · Σ_t √tf · idf(t)²,
  * idf = 1 + ln(N/(df+1)), queryNorm = 1/√(Σ_t idf(t)²),
  * coord = |matched| / |q|. */
case object LegacyTfIdf extends Scorer {
  override def name: String = "legacy_tfidf"

  def idf(df: Double, n: Double): Double = 1.0 + math.log(n / (df + 1.0))

  override def contribution(tf: Double, df: Double, dl: Double, stats: CorpusStats): Double = {
    val i = idf(df, stats.numDocs.toDouble)
    math.sqrt(tf) * i * i
  }

  override def upperBound(maxTf: Double, df: Double, stats: CorpusStats): Double =
    contribution(maxTf, df, 0.0, stats) // coord ≤ 1 folded into docFactor

  override def docFactor(nMatched: Int, queryDfs: Seq[Double], stats: CorpusStats): Double = {
    val n = stats.numDocs.toDouble
    val sumSq = queryDfs.map { df => val i = idf(df, n); i * i }.sum
    val queryNorm = if (sumSq > 0) 1.0 / math.sqrt(sumSq) else 1.0
    val coord = nMatched.toDouble / queryDfs.length.toDouble
    coord * queryNorm
  }
}
