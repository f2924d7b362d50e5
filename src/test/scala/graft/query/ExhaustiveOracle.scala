package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.build.InvertedIndex
import graft.model.CorpusStats

/** Test-scope cross-validation oracles for the pruned query paths:
  * corpus-wide decode, positional explode and relational joins — no
  * shard cogroup, no Wand kernel. Built only on the public surface
  * (`Searcher.matches` / `matchesWithPositions` / `docFreqs`, the
  * index's docs, deletes and stats); live dl is computed here as docs
  * anti-joined with the tombstones, independent of the production dl
  * side it checks. Each scorer formula is written here a second time,
  * as Catalyst Columns (`contributionCol`, `docFactorCol`), independent
  * of the engine's one Scala definition in `Scorer`. Do not use at
  * scale. */
object ExhaustiveOracle {

  /** `Scorer.contribution` as a Column. */
  private def contributionCol(scorer: Scorer, tf: Column, df: Column, dl: Column,
      stats: CorpusStats): Column = scorer match {
    case Boosted(inner, boost) => contributionCol(inner, tf, df, dl, stats) * lit(boost)
    case BM25(k1, b) =>
      val n = lit(stats.numDocs.toDouble)
      val idfC = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
      idfC * tf / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(stats.avgDocLen)))
    case LegacyTfIdf =>
      val n = lit(stats.numDocs.toDouble)
      val idfC = lit(1.0) + log(n / (df + lit(1.0)))
      sqrt(tf) * idfC * idfC
  }

  /** `Scorer.docFactor` as a Column over the matched-term count:
    * queryNorm is a driver-side constant, coord = nMatched/|q| divides
    * first, then multiplies by queryNorm. */
  private def docFactorCol(scorer: Scorer, nMatched: Column, queryDfs: Seq[Double],
      stats: CorpusStats): Column = scorer match {
    case Boosted(inner, _) => docFactorCol(inner, nMatched, queryDfs, stats)
    case _: BM25 => lit(1.0)
    case LegacyTfIdf =>
      val n = stats.numDocs.toDouble
      val sumSq = queryDfs.map { df => val i = LegacyTfIdf.idf(df, n); i * i }.sum
      val queryNorm = if (sumSq > 0) 1.0 / math.sqrt(sumSq) else 1.0
      (nMatched.cast("double") / lit(queryDfs.length.toDouble)) * lit(queryNorm)
  }

  private def searcher(index: InvertedIndex) =
    new Searcher(index.docs.sparkSession, index)

  /** Live (docId, dl): every stored doc (passing `docFilter`) minus
    * the tombstones. */
  private def liveDl(index: InvertedIndex, docFilter: Option[Column] = None): DataFrame = {
    val dl = docFilter.fold(index.docs)(index.docs.where)
      .select(col("docId"), col("dl").cast("double").as("dl"))
    index.deletes.fold(dl)(del => dl.join(del.select("docId"), Seq("docId"), "left_anti"))
  }

  /** (docId, cs): per live doc, its (term, tscore) contributions sorted
    * by term — the explode-join every term-scoring oracle folds. */
  private def termScores(index: InvertedIndex, dfs: Map[String, Long], scorer: Scorer,
      boosts: Map[String, Double] = Map.empty, docFilter: Option[Column] = None): DataFrame =
    searcher(index).matches(dfs.keys.toSeq).toDF()
      .join(liveDl(index, docFilter), Seq("docId"))
      .withColumn("tscore",
        coalesce(element_at(typedlit(boosts), col("term")), lit(1.0)) *
          contributionCol(scorer, col("tf").cast("double"),
            element_at(typedlit(dfs.map { case (t, d) => t -> d.toDouble }), col("term")),
            col("dl"), index.stats))
      .groupBy("docId")
      .agg(sort_array(collect_list(struct(col("term"), col("tscore")))).as("cs"))

  private def sumOf(cs: Column): Column =
    aggregate(cs, lit(0.0), (acc, x) => acc + x.getField("tscore"))

  /** Term-query top-k: the term-ordered sum per doc, the occur filters
    * as plain counts (every required term, ≥ `minShouldMatch` optional
    * ones), the doc factor, and an anti-join on docs holding any
    * prohibited term. `Searcher.topK`'s empty-result rules (MUST ∧
    * MUST_NOT, mm above the SHOULD count) fall out of the counts. */
  def topK(index: InvertedIndex, terms: Seq[String], k: Int,
      scorer: Scorer = BM25(), requireAll: Boolean = false,
      mustNot: Seq[String] = Nil, must: Seq[String] = Nil,
      minShouldMatch: Int = 0, boosts: Map[String, Double] = Map.empty,
      docFilter: Option[Column] = None): DataFrame = {
    val s = searcher(index)
    val qTerms = (terms ++ must).distinct.sorted
    val required = if (requireAll) qTerms else must.distinct
    val dfs = s.docFreqs(qTerms)
    val scored = termScores(index, dfs, scorer, boosts, docFilter)
      .select(col("docId"), col("cs"), size(col("cs")).as("nMatched"),
        size(filter(col("cs"),
          x => array_contains(typedlit(required), x.getField("term")))).as("nMust"))
      .where(col("nMust") === required.length &&
        col("nMatched") - col("nMust") >= minShouldMatch)
      .select(col("docId"), (sumOf(col("cs")) * docFactorCol(scorer, col("nMatched"),
        qTerms.map(t => dfs.getOrElse(t, 0L).toDouble), index.stats)).as("score"))
    (if (mustNot.isEmpty) scored
     else scored.join(s.matches(mustNot.distinct).toDF().select("docId"), Seq("docId"), "left_anti"))
      .orderBy(desc("score"), asc("docId")).limit(k)
  }

  /** (docId, p) — every position of the given terms, exploded. */
  private def positions(index: InvertedIndex, terms: Seq[String]): DataFrame =
    searcher(index).matchesWithPositions(terms.distinct).toDF()
      .select(col("docId"), explode(col("positions")).as("p"))

  /** Score (docId, tf) matches as ONE pseudo-term whose df = number of
    * matching LIVE docs — the phrase family's contract. */
  private def scorePseudoTerm(index: InvertedIndex, matched: DataFrame,
      k: Int, scorer: Scorer): DataFrame = {
    val live = matched.join(liveDl(index), Seq("docId")).localCheckpoint()
    val df = live.count().toDouble
    live
      .withColumn("score", contributionCol(scorer,
        col("tf").cast("double"), lit(df), col("dl"), index.stats))
      .orderBy(desc("score"), asc("docId")).limit(k)
      .select("docId", "score")
  }

  /** Multi-phrase (and, with singleton slots, plain phrase) top-k: per
    * slot, the union of its alternatives' positions (distinct — a start
    * must count once however many alternatives could continue it),
    * then an equi-join on (docId, start = p − slot) when exact, or a
    * relational greedy fold when sloppy: each step joins slot j's
    * positions strictly above prev and keeps min(p) per (docId, start),
    * so the fold carries the minimal chain end and the final window
    * filter is exact ("some chain fits" ⇔ "greedy fits"). */
  def multiPhraseTopK(index: InvertedIndex, slotAlts: Seq[Seq[String]], k: Int,
      scorer: Scorer = BM25(), slop: Int = 0): DataFrame = {
    require(slotAlts.nonEmpty && slotAlts.forall(_.nonEmpty) && slop >= 0)
    val groups = slotAlts.map(_.distinct)
    def slotPos(g: Seq[String]): DataFrame = positions(index, g).distinct()
    val starts =
      if (slop == 0)
        groups.zipWithIndex.map { case (g, i) =>
          slotPos(g).select(col("docId"), (col("p") - lit(i)).as("start"))
        }.reduce((a, b) => a.join(b, Seq("docId", "start")))
      else {
        val init = slotPos(groups.head)
          .select(col("docId"), col("p").as("start"), col("p").as("prev"))
        groups.drop(1).foldLeft(init) { (acc, g) =>
          acc.join(slotPos(g), Seq("docId"))
            .where(col("p") > col("prev"))
            .groupBy("docId", "start").agg(min(col("p")).as("prev"))
        }
          .where(col("prev") - col("start") <= lit(groups.length - 1 + slop))
          .select("docId", "start")
      }
    scorePseudoTerm(index,
      starts.groupBy("docId").agg(count(lit(1)).as("tf")), k, scorer)
  }

  /** Anchored n-ary NEAR top-k: one |Δpos| ≤ window semi-join per
    * non-anchor term (each anchor occurrence counts once however many
    * partner occurrences sit in its window). */
  def nearAllTopK(index: InvertedIndex, anchor: String, others: Seq[String],
      window: Int, k: Int, scorer: Scorer = BM25()): DataFrame = {
    val rest = others.distinct
    require(rest.nonEmpty && !rest.contains(anchor) && window >= 1)
    val survivors = rest.foldLeft(positions(index, Seq(anchor))) { (acc, t) =>
      acc.as("pa").join(positions(index, Seq(t)).as("pb"),
        col("pa.docId") === col("pb.docId") &&
          abs(col("pb.p") - col("pa.p")) <= lit(window), "left_semi")
    }
    scorePseudoTerm(index,
      survivors.groupBy("docId").agg(count(lit(1)).cast("int").as("tf")), k, scorer)
  }

  /** SpanNot top-k: occurrences of `a` anti-joined against `b`
    * positions in the window [p − pre, p + post]. */
  def spanNotTopK(index: InvertedIndex, a: String, b: String, k: Int,
      pre: Int = 0, post: Int = 0, scorer: Scorer = BM25()): DataFrame = {
    require(a != b && pre >= 0 && post >= 0)
    val matched = positions(index, Seq(a)).as("pa")
      .join(positions(index, Seq(b)).as("pb"), col("pa.docId") === col("pb.docId") &&
        col("pb.p") >= col("pa.p") - lit(pre) &&
        col("pb.p") <= col("pa.p") + lit(post), "left_anti")
      .groupBy("docId").agg(count(lit(1)).cast("int").as("tf"))
    scorePseudoTerm(index, matched, k, scorer)
  }

  /** Dismax top-k: per-(term, doc) contributions in a fixed term-order
    * fold, then max + tieBreaker · (sum − max) per doc. */
  def dismaxTopK(index: InvertedIndex, terms: Seq[String], k: Int,
      tieBreaker: Double = 0.0, scorer: Scorer = BM25()): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0)
    termScores(index, searcher(index).docFreqs(terms.distinct), scorer)
      .withColumn("sm", sumOf(col("cs")))
      .withColumn("mx",
        aggregate(col("cs"), lit(Double.MinValue),
          (acc, x) => greatest(acc, x.getField("tscore"))))
      .withColumn("score", col("mx") + lit(tieBreaker) * (col("sm") - col("mx")))
      .orderBy(desc("score"), asc("docId")).limit(k)
      .select("docId", "score")
  }
}
