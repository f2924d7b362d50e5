package graft.query

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.{ArrayBuffer, LongMap}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.InvertedIndex
import graft.model.{CorpusStats, ScoredDoc}
import graft.model.Checkpoints.{bcastIfFits, checkpointWithCount}
import graft.codec.PostingsCodec

/** One postings row as stored (field, term, shard, df, cf, maxTf, blob).
  * `blob` is the self-describing encoded block run (PostingsCodec
  * shard-blob layout); wrap in a BlobView to iterate. */
final case class PostingRow(
    field: String,
    term: String,
    shard: Long,
    df: Long,
    cf: Long,
    maxTf: Int,
    blob: Array[Byte])

/** One live doc of the clause scorer's shard pass: its dl, whether it
  * holds a NOT clause, and its (key, tf) clause rows (`Searcher.booleanHits`). */
private[query] final case class ClauseDocRow(
    docId: Long,
    dl: Double,
    excluded: Boolean,
    keys: Seq[String],
    tfs: Seq[Int])

/** Decoded match row. */
final case class MatchRow(term: String, docId: Long, tf: Int)
final case class MatchPosRow(term: String, docId: Long, tf: Int, positions: Seq[Int])

/** Query-side engine over a built InvertedIndex (SURVEY.md §2.C/§3.2).
  *
  * One production path per operator, and every query reads its
  * postings once, on one per-shard scaffold (`perShard`: a cogroup of
  * postings and live doc lengths on the doc-range shard key):
  *   - top-k term queries: `topK` is block-max WAND with a per-shard
  *     bounded heap and a k-merge; the phrase, NEAR, spanNot, spanFirst
  *     and dismax families share the same scaffold.
  *   - all-hits queries (field sort, grouping, hybrid, boolean phrase
  *     mixes, hit counts, facets) run on one clause scorer,
  *     `scoredDocsBoolean`: one scaffold pass gathers each live doc's
  *     clause rows in its shard, and a narrow map scores the doc with a
  *     fixed clause-order sum — no per-doc shuffle.
  * Every path scores with the one Scala formula of its `Scorer`. Rank
  * identity against corpus-wide explode-join references is asserted in
  * tests (§7.4 #1); the references live in test scope.
  */
final class Searcher(
    spark: SparkSession,
    index: InvertedIndex,
    field: String = "content") {
  import spark.implicits._

  private def stats = index.stats

  /** Per-query posting METADATA — read ONCE per query (term dfs + the
    * touched doc-range shard set together): the query terms'
    * (term, shard, df) rows. A cached index within its dictionary bound
    * looks them up in its driver-side dictionary (`InvertedIndex.cache`)
    * with no Spark job; any other index collects them from the postings
    * — (term, shard, df) only, so parquet column pruning keeps the blob
    * pages untouched — and the collect's size is the query's
    * (term, shard) row count (≤ Σ_term ceil(N/shardSize)), a few MB even
    * for a corpus-wide term at 10^12 docs with 2^20-doc shards. */
  private final class QueryMeta(rows: Array[(String, Long, Long)]) {
    /** Global df per term (Σ over shards == termStats df). */
    val dfs: Map[String, Long] =
      rows.groupBy(_._1).map { case (t, rs) => t -> rs.iterator.map(_._3).sum }
    /** Shards holding postings for ANY query term, sorted. */
    val shards: Array[Long] = rows.map(_._2).distinct.sorted
    /** Shards holding postings for ANY of the GIVEN terms (MUST_NOT
      * queries prune on the required terms only — a shard holding just
      * excluded terms can't produce a hit). */
    def shardsWith(terms: Seq[String]): Array[Long] = {
      val want = terms.toSet
      rows.iterator.collect { case (t, s, _) if want(t) => s }
        .toArray.distinct.sorted
    }
    /** Shards holding postings for EVERY given term (conjunctive
      * pruning: a shard missing one term can't produce a hit). */
    def shardsWithAll(terms: Seq[String]): Array[Long] =
      shardsWithGroups(terms.map(Seq(_)))
    /** Shards holding ≥1 alternative of EVERY slot group (multi-phrase
      * pruning: a shard missing a whole slot can't produce a hit). */
    def shardsWithGroups(groups: Seq[Seq[String]]): Array[Long] =
      rows.groupBy(_._2).collect {
        case (s, rs) if {
          val present = rs.iterator.map(_._1).toSet
          groups.forall(_.exists(present))
        } => s
      }.toArray.sorted
  }

  private def collectMeta(terms: Seq[String]): QueryMeta =
    new QueryMeta(index.dictionary match {
      case Some(d) => d.shardRows(field, terms)
      case None => index.postings
        .where(col("field") === field && col("term").isin(terms: _*))
        .select("term", "shard", "df")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    })

  /** Restrict a DataFrame with a `shard` column to the given shard set
    * WITHOUT launching a job: a literal In-filter for small sets (stays
    * inside codegen), a broadcast semi-join against a local relation
    * above that (a 10^5-entry In-list would blow up the generated
    * code — the semi-join build side ships once per executor). */
  private def pruneShards(df: DataFrame, shards: Array[Long]): DataFrame =
    if (shards.length <= 1024)
      df.where(col("shard").isin(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(shards.map(Long.box)): _*))
    else {
      val local = spark.createDataset(shards.toSeq)(org.apache.spark.sql.Encoders.scalaLong)
        .toDF("shard")
      df.join(broadcast(local), Seq("shard"), "left_semi")
    }

  /** Live (docId, dl, shard) — the single place tombstones apply: a
    * deleted doc is ABSENT from the dl side, so every `perShard` kernel
    * (the clause scorer behind totalHits and facetCounts included)
    * skips it when the shard-local dl map has no entry (Wand treats a
    * NaN dl as "not live"), and matchAllTopK / constantScoreTopK read
    * this side directly. `shard` is the index's own doc shard column
    * (`InvertedIndex.docsWithShard`): on a cached index the attribute
    * its docs are hash-partitioned on, so this side keeps that
    * partitioning. The anti-join keys on (docId, shard) — shard
    * derives from docId on both sides — so the query's shard pruning
    * filter propagates through the join's equality constraint to the
    * deletes side too, and a small tombstone set plans as a broadcast
    * anti-join, which keeps the partitioning as well. Stats/df stay
    * stale until physical apply (Lucene delete semantics;
    * Deletes.applied / compaction refreshes them).
    *
    * `docFilter` — the Lucene Filter parameter of the reference's own
    * search entry (HBaseIndexSearcher.java:61 `search(weight, filter,
    * nDocs, ...)`): an arbitrary predicate over the stored docs table
    * (e.g. `col("lang") === "en"`). Applied to the LIVE dl side, so a
    * filtered-out doc disappears from every scoring path exactly like
    * a tombstone — WAND θ-pruning stays sound (removal only). Corpus
    * stats and df stay corpus-wide, Lucene filter semantics (a filter
    * narrows the candidate set, never re-weights idf). */
  private def dlWithShard(docFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val base = docsWithShard(docFilter)
      .select(col("docId"), col("dl").cast("double").as("dl"),
        col(InvertedIndex.ShardCol).as("shard"))
    index.deletes match {
      case None => base
      case Some(del) =>
        val d = del.select(col("docId").cast("long").as("docId"))
          .withColumn("shard", InvertedIndex.shardOf(col("docId"), index.config.shardSizeDocs))
        base.join(d, Seq("docId", "shard"), "left_anti")
    }
  }

  /** The stored docs with their shard column, narrowed by `docFilter`. */
  private def docsWithShard(docFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val src = index.docsWithShard
    docFilter.map(src.where).getOrElse(src)
  }

  /** The one per-shard scaffold of every pruned query: the posting rows
    * of `terms` and the live (docId, dl) side, both pruned to `shards`
    * and cogrouped on the doc-range shard key — a hot term's blocks
    * never congregate on one task, and the dl lookup is shard-local.
    * Both sides group on their `shard` COLUMN (a grouping lambda would
    * hide the key from the planner), so on a cached index, whose
    * postings and docs are hash-partitioned on it alike, the cogroup
    * plans no exchange; an uncached index shuffles both sides to their
    * shard. `f` sees one shard's posting rows (never empty) and its
    * live dl map; it must capture only locals (Searcher is not
    * serializable). */
  private def perShard[T: Encoder](terms: Seq[String], shards: Array[Long],
      docFilter: Option[org.apache.spark.sql.Column] = None)(
      f: (Array[PostingRow], LongMap[Double]) => Iterator[T]): Dataset[T] = {
    val prows = pruneShards(postingRows(terms).toDF(), shards)
      .withColumn("shard", InvertedIndex.nonNullShard(col("shard")))
      .groupBy("shard").as[Long, PostingRow]
    val dls = pruneShards(dlWithShard(docFilter), shards)
      .select(col("docId"), col("dl"), col("shard"))
      .groupBy("shard").as[Long, (Long, Double, Long)]
    prows.cogroup(dls) {
      (_: Long, ps: Iterator[PostingRow], ds: Iterator[(Long, Double, Long)]) =>
        val rows = ps.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val dlMap = new LongMap[Double]()
          ds.foreach { case (d, dl, _) => dlMap.update(d, dl) }
          f(rows, dlMap)
        }
    }
  }

  /** Positional tail of the phrase/NEAR/spanNot/spanFirst family on the
    * shard scaffold: `matcher` gets one iterator per term the shard
    * holds (`Searcher.positionalIterators`; each term the caller pruned
    * `shards` on has one) and emits (docId, tf), and only LIVE docs
    * survive — before the pseudo-term df count, so phrase idf reflects
    * live matches only. Returns the match rows (docId, tf, dl),
    * eagerly materialized (localCheckpoint, not pinned in the
    * CacheManager), with their count — the pseudo-term df — observed
    * on the checkpoint's own job: the cogroup runs ONCE and no second
    * action counts it. */
  private def positionalMatchRows(terms: Seq[String], shards: Array[Long], scorer: Scorer)(
      matcher: Map[String, TermIterator] => Iterator[(Long, Int)]): (DataFrame, Long) = {
    if (shards.isEmpty)
      return (Seq.empty[(Long, Int, Double)].toDF("docId", "tf", "dl"), 0L)
    val st = stats
    val (matched, Row(n: Long)) = checkpointWithCount(perShard(terms, shards) { (rows, dlMap) =>
      matcher(Searcher.positionalIterators(rows, scorer, st))
        .collect { case (d, tf) if dlMap.contains(d) => (d, tf, dlMap(d)) }
    }.toDF("docId", "tf", "dl"))
    (matched, n)
  }

  /** Posting rows for the query terms — bucket/point-pruned scan
    * (reference A7: one Get per term row). */
  def postingRows(terms: Seq[String]): Dataset[PostingRow] =
    index.postings
      .where(col("field") === field && col("term").isin(terms: _*))
      .as[PostingRow]

  /** Decoded (term, docId, tf) matches (reference C2 semantics). */
  def matches(terms: Seq[String]): Dataset[MatchRow] =
    postingRows(terms).flatMap { r =>
      new PostingsCodec.BlobView(r.blob).allDocTfs.map { case (d, tf) =>
        MatchRow(r.term, d, tf)
      }
    }

  /** Decoded matches including positions (phrase queries). */
  def matchesWithPositions(terms: Seq[String]): Dataset[MatchPosRow] =
    postingRows(terms).flatMap { r =>
      new PostingsCodec.BlobView(r.blob).allPostings.map { p =>
        MatchPosRow(r.term, p.docId, p.tf, p.positions.toSeq)
      }
    }

  /** df per query term from the global dictionary (reference A10);
    * terms absent from it have no entry. */
  def docFreqs(terms: Seq[String]): Map[String, Long] = collectMeta(terms).dfs

  /** Every hit of a term query as (docId, score, nMatched): the
    * all-hits form of `topK` (same arguments, same scores) on the one
    * clause scorer, `scoredDocsBoolean`.
    *
    * DUPLICATE-CLAUSE FOLD (here and in topK): a term passed in BOTH
    * `terms` and `must` is ONE MUST clause — it scores once and does
    * not count toward minShouldMatch, which counts OPTIONAL clauses.
    * Lucene would keep two clauses; same deliberate fold as for
    * duplicate boosts. */
  def scoredDocs(
      terms: Seq[String],
      scorer: Scorer = BM25(),
      requireAll: Boolean = false,
      mustNot: Seq[String] = Nil,
      must: Seq[String] = Nil,
      minShouldMatch: Int = 0,
      boosts: Map[String, Double] = Map.empty,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val qTerms = (terms ++ must).distinct
    val mustTerms = if (requireAll) qTerms else must.distinct
    scoredDocsBoolean(
      ParsedQuery(must = mustTerms, should = qTerms.filterNot(mustTerms.contains),
        mustNot = mustNot.distinct, boosts = boosts),
      scorer, minShouldMatch = minShouldMatch, docFilter = docFilter)
  }

  /** Term-query top-k (docId, score): block-max WAND sharded by docId
    * range — postings and doc lengths cogrouped on the shard key,
    * per-shard exact top-k with a bounded heap, then a k-merge. A hot
    * term's blocks never congregate on one task; dl lookup is
    * shard-local. `mustNot`: docs holding ANY excluded term drop out;
    * `docFilter`: see `dlWithShard`. */
  def topK(
      terms: Seq[String],
      k: Int,
      scorer: Scorer = BM25(),
      requireAll: Boolean = false,
      mustNot: Seq[String] = Nil,
      must: Seq[String] = Nil,
      minShouldMatch: Int = 0,
      boosts: Map[String, Double] = Map.empty,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // `must` — mixed MUST + SHOULD (Lucene ReqOptSumScorer): the Wand
    // kernel leapfrogs the must iterators and treats the rest as
    // score-only optionals; requireAll makes every term a MUST (the
    // conjunctive leapfrog).
    val qTerms = (terms ++ must).distinct.sorted
    val mustTerms = if (requireAll) qTerms else must.distinct.sorted
    // MUST_NOT terms ride the same cogroup as exclusion-only iterators
    // (Lucene ReqExclScorer): their postings are fetched per shard but
    // never scored and never contribute to shard pruning
    val exTerms = mustNot.distinct.sorted
    // MUST ∧ MUST_NOT matches nothing; so does mm above the SHOULD-clause
    // count (Lucene setMinimumNumberShouldMatch counts OPTIONAL clauses)
    if (mustTerms.exists(exTerms.contains) || minShouldMatch > qTerms.size - mustTerms.size)
      return emptyHits
    wandTopK(qTerms, k, scorer, mustTerms, exTerms, math.max(minShouldMatch, 0),
      boosts, docFilter)
  }

  /** Disjunction-max top-k (Lucene DisjunctionMaxQuery over term
    * sub-queries): score = best matching term's contribution +
    * tieBreaker · (sum of the other matching terms') — the "pick the
    * best field/term, don't reward repetition" scorer dismax exists
    * for. tieBreaker ∈ [0,1]; 1 degenerates to the plain OR sum (BM25
    * docFactor ≡ 1), 0 scores only the best term. No coord/docFactor
    * (Lucene dismax has none) — use docFactor-free scorers (BM25 /
    * Boosted). Runs on the WAND cogroup: the sum-of-ubs pivot bound
    * stays admissible because dismax ≤ sum for tb ≤ 1. */
  def dismaxTopK(
      terms: Seq[String],
      k: Int,
      tieBreaker: Double = 0.0,
      scorer: Scorer = BM25()): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, "tieBreaker must be in [0,1]")
    wandTopK(terms.distinct.sorted, k, scorer, tieBreaker = tieBreaker)
  }

  /** The one WAND plan behind topK and dismaxTopK over sorted `qTerms`:
    * one metadata collect, then the shard cogroup with a per-shard
    * Wand.topK (MUST terms `mustTerms`, exclusion-only `exTerms`,
    * minShouldMatch `mm`, dismax when `tieBreaker` is not NaN) and a
    * k-merge. */
  private def wandTopK(qTerms: Seq[String], k: Int, scorer: Scorer,
      mustTerms: Seq[String] = Nil, exTerms: Seq[String] = Nil, mm: Int = 0,
      boosts: Map[String, Double] = Map.empty, docFilter: Option[Column] = None,
      tieBreaker: Double = Double.NaN): DataFrame = {
    val meta = collectMeta(qTerms ++ exTerms)
    val dfs = meta.dfs
    val queryDfs = qTerms.map(t => dfs.getOrElse(t, 0L).toDouble)
    val nQueryTerms = qTerms.size
    val st = stats // closure-local: Searcher itself is not serializable
    val exSet = exTerms.toSet
    val mustSet = mustTerms.toSet

    // Only shards that actually hold postings for the query's terms can
    // produce hits — and with MUST terms only shards holding EVERY one
    // of them (one missing term posting row forecloses the whole
    // shard). The shard set comes from the single metadata collect: no
    // discovery job, and the postings scan itself is pruned too.
    val touched =
      if (mustTerms.nonEmpty) meta.shardsWithAll(mustTerms)
      else meta.shardsWith(qTerms)
    perShard[ScoredDoc](qTerms ++ exTerms, touched, docFilter) { (all, dlMap) =>
      val (exRows, rows) = all.partition(r => exSet(r.term))
      if (rows.isEmpty) Iterator.empty
      else {
        def mkIter(r: PostingRow): TermIterator = {
          val df = dfs.getOrElse(r.term, 0L).toDouble
          val b = boosts.getOrElse(r.term, 1.0)
          new TermIterator(r.term, df,
            b * scorer.upperBound(r.maxTf.toDouble, df, st), scorer, st,
            new PostingsCodec.BlobView(r.blob), boost = b)
        }
        // NaN = "not live" (deleted or unknown): Wand skips the doc
        Wand.topK(rows.map(mkIter).toSeq, d => dlMap.getOrElse(d, Double.NaN),
          scorer, st, k, nQueryTerms, queryDfs,
          excludeIters = exRows.map(mkIter).toSeq,
          requiredTerms = mustSet, minShouldMatch = mm,
          dismaxTieBreaker = tieBreaker).iterator
      }
    }.toDF()
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
  }

  /** Total hit count (reference totalHits, TestHBaseIndexReader.java:50):
    * LIVE docs holding ANY (`requireAll`: EVERY) query term, counted
    * over the clause scorer's hits. */
  def totalHits(terms: Seq[String], requireAll: Boolean = false): Long =
    booleanHits(termQuery(terms.distinct, requireAll), BM25(), Nil, 0, None)._1.count()

  /** OR (`requireAll`: AND) of plain term clauses. */
  private def termQuery(qTerms: Seq[String], requireAll: Boolean): ParsedQuery =
    ParsedQuery(must = if (requireAll) qTerms else Nil,
      should = if (requireAll) Nil else qTerms, mustNot = Nil)

  /** Phrase top-k (consecutive positions): doc matches where the term
    * of slot i occurs at start+i for every i. Phrase tf = number of
    * start positions; scored like a single pseudo-term (df = number of
    * docs containing the phrase — ranking is df-independent because
    * idf multiplies every doc's score equally, so the per-shard
    * matching can run BEFORE df is known).
    *
    * PRUNED path (replaces the corpus-wide positional explode-join):
    * per doc-range shard, docId leapfrog intersection of the distinct
    * terms with block skipping on header metadata, positions decoded
    * LAZILY only for docs where all terms aligned
    * (Wand.multiPhraseMatches with singleton slots /
    * TermIterator.curPositions) — a phrase containing one common term
    * shuffles only the matched docs, not O(cf) position rows. Shards
    * missing any query term are pruned from BOTH cogroup sides via the
    * single metadata collect. Rank/score-identical to the test-scope
    * explode-join oracle (asserted in tests).
    *
    * `slop` — Lucene PhraseQuery.setSlop via the `"..."~N` parser
    * suffix, with IN-ORDER window semantics: a start position p₀
    * matches when slots appear at strictly increasing positions whose
    * span exceeds the exact span by ≤ slop (Wand.multiPhraseMatches
    * greedy chain). slop 0 ≡ exact consecutive. Divergence, documented:
    * Lucene's SloppyPhraseScorer also permits REORDERED terms when the
    * slop affords the moves, and weights tf by 1/(distance+1); this
    * engine keeps matches ordered and counts them whole — the same
    * simplification as the ordered SpanNearQuery form. */
  def phraseTopK(terms: Seq[String], k: Int, scorer: Scorer = BM25(),
      slop: Int = 0): DataFrame =
    multiPhraseTopK(terms.map(Seq(_)), k, scorer, slop)

  /** Score counted phrase match rows (`positionalMatchRows`) as ONE
    * pseudo-term whose df = number of matching live docs. */
  private def scorePhraseMatched(
      matched: (DataFrame, Long), scorer: Scorer, k: Int): DataFrame = {
    val (df, st) = (matched._2.toDouble, stats)
    matched._1.as[(Long, Int, Double)]
      .map { case (d, tf, dl) => (d, scorer.contribution(tf.toDouble, df, dl, st)) }
      .toDF("docId", "score")
      .orderBy(desc("score"), asc("docId")).limit(k)
  }

  /** Multi-phrase top-k (Lucene MultiPhraseQuery): slot j matches where
    * ANY of `slotAlts(j)` occurs — "hash (join|probe)" finds both
    * "hash join" and "hash probe", tf summing the variants' starts.
    * Lucene builds these from analyzers emitting stacked tokens and
    * from prefix-in-phrase expansion; here the alternatives are given
    * explicitly (pair with `expandTerms`-style dictionary scans for a
    * prefix slot). Same pruned per-shard leapfrog as `phraseTopK`
    * (slot cursor = min over alternatives), same one-pseudo-term
    * scoring, same `slop` window semantics; shards lacking every
    * alternative of some slot are pruned via the single metadata
    * collect. Singleton slots ≡ phraseTopK (asserted in tests). */
  def multiPhraseTopK(slotAlts: Seq[Seq[String]], k: Int,
      scorer: Scorer = BM25(), slop: Int = 0): DataFrame = {
    requirePhrase(slotAlts, slop)
    val groups = slotAlts.map(_.distinct)
    val terms = groups.flatten.distinct
    val meta = collectMeta(terms)
    scorePhraseMatched(positionalMatchRows(terms, meta.shardsWithGroups(groups), scorer)(
      iterOf => Wand.multiPhraseMatches(groups, iterOf, slop)), scorer, k)
  }

  /** Slot list and slop of every phrase kernel call (multi-phrase top-k
    * and the clause scorer's phrase clauses). */
  private def requirePhrase(slotAlts: Seq[Seq[String]], slop: Int): Unit = {
    require(slotAlts.nonEmpty && slotAlts.forall(_.nonEmpty),
      "every slot needs at least one alternative term")
    require(slop >= 0, "negative slop")
  }

  /** Span-first query (Lucene SpanFirstQuery over a SpanTermQuery):
    * rank docs where `term` occurs within the first `end` token
    * positions (1-based analyzer positions, stopword slots counted —
    * the engine's convention throughout); tf counts only the
    * qualifying occurrences and the match set is scored as one
    * pseudo-term with df = qualifying docs, like the phrase family.
    * Same shard scaffold as the phrase family (Wand.spanFirstMatches
    * per shard). */
  def spanFirstTopK(term: String, end: Int, k: Int,
      scorer: Scorer = BM25()): DataFrame = {
    require(end > 0, "end must be positive")
    val meta = collectMeta(Seq(term))
    scorePhraseMatched(positionalMatchRows(Seq(term), meta.shards, scorer) {
      iterOf => Wand.spanFirstMatches(iterOf(term), end)
    }, scorer, k)
  }

  /** Unordered proximity NEAR (Lucene SpanNearQuery(a, b,
    * slop=window, inOrder=false), classic fulltext `a NEAR/w b`):
    * rank docs where `a` and `b` co-occur within `window` token
    * positions in EITHER order. tf = number of positions of `a` with
    * some position of `b` at distance ≤ window; the match set scores
    * as one pseudo-term with df = matching live docs, like the phrase
    * family. Same pruned plan as `phraseTopK`: shards lacking either
    * term are dropped from BOTH cogroup sides, docId leapfrog with
    * block skipping, positions decoded lazily only on intersection
    * docs, two-pointer window count (Wand.nearAllMatches). */
  def nearTopK(a: String, b: String, window: Int, k: Int,
      scorer: Scorer = BM25()): DataFrame =
    nearAllTopK(a, Seq(b), window, k, scorer)

  /** N-ary anchored proximity: docs where `anchor` and EVERY term in
    * `others` co-occur, tf = anchor occurrences with each other term
    * within `window` positions (either direction). For one other term
    * this IS the unordered two-clause SpanNearQuery; for more it is
    * the anchored per-occurrence form (divergence from Lucene's
    * minimal-cover n-clause semantics documented at
    * Wand.nearAllMatches). Same pruned plan as the phrase family. */
  def nearAllTopK(anchor: String, others: Seq[String], window: Int,
      k: Int, scorer: Scorer = BM25()): DataFrame = {
    val rest = others.distinct
    require(rest.nonEmpty && !rest.contains(anchor),
      "NEAR needs distinct terms with at least one non-anchor")
    require(window >= 1, "window must be >= 1")
    val qTerms = (anchor +: rest).sorted
    val meta = collectMeta(qTerms)
    val shards = meta.shardsWithAll(qTerms)
    val matched = positionalMatchRows(qTerms, shards, scorer) { iterOf =>
      Wand.nearAllMatches(iterOf(anchor), rest.map(iterOf).toArray, window)
    }
    scorePhraseMatched(matched, scorer, k)
  }

  /** Span exclusion (Lucene SpanNotQuery(include, exclude, pre, post)
    * over term spans): rank docs on the occurrences of `a` that have
    * NO `b` within [p − pre, p + post]; a doc whose every `a` sits
    * near a `b` drops out entirely. tf = surviving occurrences,
    * scored as one pseudo-term with df = matching live docs, like the
    * phrase family. Plan: shards are pruned to those containing `a`
    * (the exclude term does not gate the scan); where `b` is absent
    * from a shard, every `a` doc passes at raw tf with zero positions
    * decodes (Wand.spanNotMatches). */
  def spanNotTopK(a: String, b: String, k: Int,
      pre: Int = 0, post: Int = 0, scorer: Scorer = BM25()): DataFrame = {
    require(a != b, "spanNot needs distinct include/exclude terms")
    require(pre >= 0 && post >= 0, "negative exclusion window")
    val meta = collectMeta(Seq(a, b))
    val shards = meta.shardsWith(Seq(a))
    val matched = positionalMatchRows(Seq(a, b), shards, scorer) { iterOf =>
      Wand.spanNotMatches(iterOf(a), iterOf.getOrElse(b, null), pre, post)
    }
    scorePhraseMatched(matched, scorer, k)
  }

  /** Synonym-group scoring (Lucene SpanOrQuery over term spans ≡ the
    * modern SynonymQuery): the group matches where ANY member occurs,
    * tf = total member occurrences, scored as ONE pseudo-term with
    * df = docs matching any member — distinct from the OR query,
    * which scores each term against its own idf. Implemented as a
    * single-slot multi-phrase (the slot's position merge IS the span
    * union; this analyzer never stacks two members on one position,
    * so the merged count equals the tf sum). */
  def spanOrTopK(terms: Seq[String], k: Int,
      scorer: Scorer = BM25()): DataFrame = {
    require(terms.nonEmpty, "empty synonym group")
    multiPhraseTopK(Seq(terms), k, scorer)
  }

  /** MatchAllDocsQuery: every LIVE doc (tombstones and docFilter out)
    * at constant score 1.0 (Lucene norms ≡ 1 here), docId order. The
    * browse/count primitive — pairs with `sortedTopKMulti` for
    * query-less field-sorted listings. One pruned scan, no postings
    * touched. */
  def matchAllTopK(k: Int,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    dlWithShard(docFilter)
      .select(col("docId"), lit(1.0).as("score"))
      .orderBy(asc("docId")).limit(k)

  /** Phrase-prefix query (Lucene MultiPhrasePrefixQuery — the engine
    * behind Elasticsearch's match_phrase_prefix): exact leading slots,
    * final slot = every dictionary term starting with `prefix`
    * (TooManyClauses-bounded A6 range scan, like `prefixTopK`), run as
    * one multi-phrase. An empty expansion matches nothing. */
  def phrasePrefixTopK(terms: Seq[String], prefix: String, k: Int,
      scorer: Scorer = BM25(), slop: Int = 0,
      maxExpansions: Int = 128): DataFrame = {
    require(prefix.nonEmpty, "empty phrase-prefix")
    val ts = expandTerms((prefixTerms(prefix)._1, s"phrase-prefix '$prefix'"),
      maxExpansions)
    if (ts.isEmpty) emptyHits
    else multiPhraseTopK(terms.map(Seq(_)) :+ ts, k, scorer, slop)
  }

  /** Field-sorted top-k (reference C5, HBaseTopFieldCollector): match
    * docs, join stored fields, sort by field value then score. */
  def sortedTopK(
      terms: Seq[String],
      sortCol: String,
      ascending: Boolean,
      k: Int,
      scorer: Scorer = BM25(),
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    sortedTopKMulti(terms, Seq((sortCol, ascending)), k, scorer, docFilter)

  /** Multi-key field sort — EXCEEDS the reference, which throws on
    * more than one sort field (HBaseIndexSearcher.java:95-97): each
    * (column, ascending) key in order, then score desc, then docId asc
    * (deterministic final tiebreak). Spark plans the whole thing as
    * one TakeOrderedAndProject over the scoring join. */
  def sortedTopKMulti(
      terms: Seq[String],
      sortCols: Seq[(String, Boolean)],
      k: Int,
      scorer: Scorer = BM25(),
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // filter + sort together = the reference's full C5 entry signature
    // (HBaseIndexSearcher.search(weight, filter, nDocs, sort))
    require(sortCols.nonEmpty, "at least one sort key required")
    val scored = scoredDocs(terms, scorer, docFilter = docFilter)
    val joined = scored.join(
      index.docs.select((Seq("docId") ++ sortCols.map(_._1)).distinct.map(col): _*),
      Seq("docId"))
    val ords = sortCols.map { case (c, asc_) => if (asc_) asc(c) else desc(c) } ++
      Seq(desc("score"), asc("docId"))
    joined.orderBy(ords: _*).limit(k)
      .select((Seq(col("docId")) ++ sortCols.map(c => col(c._1)).distinct
        :+ col("score")): _*)
  }

  /** Facet counts over a stored field for the query's match set (the
    * Lucene facet module / ES terms-aggregation surface, layered on
    * the reference's reader SPI like its collectors): LIVE matching
    * docs per distinct `facetField` value, top `topN` values by count
    * (ties → value asc). OR semantics by default; `requireAll` = AND.
    * A facet inherently touches every match, so the plan is the
    * exhaustive match set — but counts partial-aggregate map-side
    * after a shard-pruned live semi-join, and only `topN` value rows
    * reach the driver. */
  def facetCounts(
      terms: Seq[String],
      facetField: String,
      topN: Int,
      requireAll: Boolean = false,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val qTerms = terms.distinct
    require(qTerms.nonEmpty && topN > 0)
    // the live match set, its shards and the term dfs all come from
    // the clause scorer's one metadata collect
    val (hits, shards, dfs) = booleanHits(termQuery(qTerms, requireAll), BM25(), Nil, 0, None)
    val matched = hits.select("docId")
    // docFilter applies to the label scan directly (it is a predicate
    // over stored docs — same live semantics as the dl-side filter).
    // The label join is the scale decision: |matched| ≤ Σ df is KNOWN
    // from the already-collected metadata, so a selective facet
    // broadcasts its match set and the 10^N-row stored-docs side never
    // shuffles (map-side semi-join + partial count; only |values| rows
    // move). Above the gate: sort-merge join, the honest plan for a
    // corpus-wide facet.
    facetSide(facetField, shards, docFilter)
      .join(bcastIfFits(matched, qTerms.map(t => dfs.getOrElse(t, 0L)).sum, 16L),
        Seq("docId"), "left_semi")
      .groupBy("value").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("value")).limit(topN)
  }

  /** (docId, value) side of a facet/group join, pruned to the query's
    * touched doc-range shards (a term whose matches cluster in few
    * shards must not pay a corpus-wide stored-docs scan to label
    * them) with the optional doc predicate pushed into the scan. */
  private def facetSide(field0: String, shards: Array[Long],
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    pruneShards(docsWithShard(docFilter).select(col("docId"), col(field0).as("value"),
      col(InvertedIndex.ShardCol).as("shard")), shards).drop("shard")
  }

  /** Grouped top-k (the Lucene grouping module's
    * TermFirstPassGroupingCollector surface): the best `kPerGroup`
    * docs per distinct `groupField` value, ranked by query score
    * (ties → docId asc). One window over the scoring join, partitioned
    * by the group value — the shuffle key is the group, and each
    * partition keeps a running top-k, never the corpus. Returns
    * (value, docId, score, rank) ordered by (value, rank). */
  def groupedTopK(
      terms: Seq[String],
      groupField: String,
      kPerGroup: Int,
      scorer: Scorer = BM25(),
      requireAll: Boolean = false,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(kPerGroup > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("value")).orderBy(desc("score"), asc("docId"))
    // the scoring plan's own touched shards prune the group side: one
    // metadata collect for both
    val (hits, shards, _) =
      booleanHits(termQuery(terms.distinct, requireAll), scorer, Nil, 0, docFilter)
    // row_number + rank<=k is the WindowGroupLimit shape — Spark
    // inserts per-partition group limits BEFORE the window shuffle,
    // so each map task forwards at most k rows per group
    hits.join(facetSide(groupField, shards), Seq("docId"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= kPerGroup)
      .orderBy(asc("value"), asc("rank"))
      .select("value", "docId", "score", "rank")
  }

  /** MoreLikeThis (Lucene contrib MoreLikeThis, which drives itself
    * entirely through the reader SPI the reference exposes): select
    * the seed doc's most characteristic terms and rank the corpus
    * with the scoring-OR of that selection. Selection order is
    * tf desc, then df asc (rarer ⇒ more characteristic), then term
    * asc — integer-only comparisons, so engine and SQL oracle can
    * never diverge on a float tie (Lucene's tf·idf ordering reduces
    * to this whenever idf is monotone in df, i.e. always). Term
    * selection is driver-side over ONE stored doc (docTermVector) +
    * one pruned dictionary lookup; the query itself is the standard
    * WAND plan. The seed doc is excluded from the hits unless
    * `includeSeed` (Lucene MLT convention). */
  def moreLikeThisTopK(
      docId: Long,
      k: Int,
      maxQueryTerms: Int = 5,
      minTermFreq: Int = 1,
      scorer: Scorer = BM25(),
      includeSeed: Boolean = false): DataFrame = {
    val tv = docTermVector(docId).select("term", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    moreLikeThis(tv, k, maxQueryTerms, minTermFreq, scorer,
      excludeDocId = if (includeSeed) None else Some(docId))
  }

  /** MoreLikeThis from EXTERNAL text (Lucene MoreLikeThis.like(Reader)
    * — the seed never has to be in the index, and no stored content is
    * required): analyze with the index's own analyzer, then the same
    * selection + WAND plan as the docId form. */
  def moreLikeThisFromText(
      text: String,
      k: Int,
      maxQueryTerms: Int = 5,
      minTermFreq: Int = 1,
      scorer: Scorer = BM25()): DataFrame = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    if (text != null)
      index.config.analyzer.foreachEmitted(text) { (t, _) =>
        m.update(t, m.getOrElse(t, 0L) + 1L)
      }
    moreLikeThis(m.toArray, k, maxQueryTerms, minTermFreq, scorer, None)
  }

  private def moreLikeThis(
      termTfs: Array[(String, Long)],
      k: Int,
      maxQueryTerms: Int,
      minTermFreq: Int,
      scorer: Scorer,
      excludeDocId: Option[Long]): DataFrame = {
    require(maxQueryTerms > 0 && minTermFreq >= 1)
    val tv = termTfs.filter(_._2 >= minTermFreq)
    if (tv.isEmpty) return emptyHits
    val dfs = docFreqs(tv.map(_._1).toSeq)
    val sel = tv.sortBy { case (t, tf) => (-tf, dfs.getOrElse(t, 0L), t) }
      .take(maxQueryTerms).map(_._1).toSeq.sorted
    topK(sel, k, scorer,
      docFilter = excludeDocId.map(id => col("docId") =!= id))
  }

  /** Constant-score query (Lucene ConstantScoreQuery /
    * ConstantScoreRangeQuery — the 3.0-era CONSTANT_SCORE rewrite of
    * every MultiTermQuery): docs matching ANY dictionary term under
    * `pred` (a predicate over the postings' columns, evaluated per
    * posting row: a term matches in the shards whose row passes it) at
    * score = `boost`, docId order — matching as a FILTER,
    * deliberately skipping the per-term idf arithmetic and its
    * TooManyClauses cap (the whole reason the rewrite exists). The
    * match set decodes only the predicate terms' postings; tombstones
    * and `docFilter` apply through the live dl side. */
  def constantScoreTopK(
      pred: org.apache.spark.sql.Column,
      k: Int,
      boost: Double = 1.0,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val prows = index.postings.where(col("field") === field && pred)
    val matched = index.dictionary.filter(_ => Searcher.filtersTermsOnly(prows)) match {
      // a cached index within its dictionary bound, under a predicate
      // that every posting row of a term passes or fails alike: the
      // predicate runs over the driver-side dictionary (a local
      // relation, no job) and its terms' live docs are gathered on the
      // shard scaffold — one job, no exchange on the cached index
      case Some(d) =>
        val terms = d.termStats.where(col("field") === field && pred)
          .select("term").collect().map(_.getString(0)).toSeq
        val shards = collectMeta(terms).shards
        if (shards.isEmpty) return emptyHits
        perShard[Long](terms, shards, docFilter) { (rows, dlMap) =>
          rows.iterator.flatMap(r => new PostingsCodec.BlobView(r.blob).allDocTfs.map(_._1))
            .filter(dlMap.contains).distinct
        }.toDF("docId")
      // otherwise the predicate pushes straight into the POSTINGS scan
      // — no expansion list on the driver: a constant-score query has
      // no per-term state, so an arbitrarily wide predicate streams
      // through one decode + distinct. ONE metadata collect,
      // AGGREGATED in Spark: the driver receives a single
      // (shard set, Σ df) row — never per-(term, shard) rows. The
      // open-ended predicate is the whole point of the constant-score
      // rewrite, so its expansion can be vocabulary-sized: a broad
      // predicate over a 100-TB corpus has millions of matching terms
      // × their shards, but the DISTINCT shard set is bounded by
      // ceil(N/shardSize) (~10^6 longs at 10^12 docs) regardless of
      // how many terms match. Columns only — blob pages stay untouched.
      case None =>
        val metaRow = prows
          .agg(collect_set("shard").as("shards"), sum("df").as("totDf"))
          .collect().head
        if (metaRow.isNullAt(1)) return emptyHits
        val shards = metaRow.getSeq[Long](0).toArray.sorted
        val docIds = prows.as[PostingRow].flatMap { r =>
          new PostingsCodec.BlobView(r.blob).allDocTfs.map(_._1)
        }.toDF("docId").distinct()
        // bounded match set (Σ df known) broadcasts into a semi-join
        // against the live side — the second corpus-sized shuffle the
        // first cut paid (matched ⋈ live both exchanged) disappears;
        // same gate as facetCounts
        pruneShards(dlWithShard(docFilter), shards).select("docId")
          .join(bcastIfFits(docIds, metaRow.getLong(1), 16L), Seq("docId"), "left_semi")
    }
    matched.withColumn("score", lit(boost))
      .orderBy(asc("docId")).limit(k)
      .select("docId", "score")
  }

  /** Constant-score term-range form (Lucene ConstantScoreRangeQuery). */
  def constantScoreRangeTopK(
      lo: Option[String],
      hi: Option[String],
      k: Int,
      includeLo: Boolean = true,
      includeHi: Boolean = false,
      boost: Double = 1.0): DataFrame =
    constantScoreTopK(rangeTerms(lo, hi, includeLo, includeHi)._1, k, boost)

  /** Score explanation for one (query, doc) — Lucene
    * IndexSearcher.explain(): per matching query term, the tf/df/dl
    * inputs and the scorer's contribution. Rows sum to the doc's
    * topK score for docFactor-free scorers (BM25). Runs on the shard
    * scaffold pruned to the SINGLE doc-range shard the doc lives in,
    * with the doc itself as the filter: one pass returns its dl and
    * each query term's tf (block-skipping to the doc) — a point debug
    * call, cost ∝ one shard, not the corpus. A deleted or absent doc
    * explains to nothing. */
  def explainDoc(
      terms: Seq[String],
      docId: Long,
      scorer: Scorer = BM25()): DataFrame = {
    val qTerms = terms.distinct.sorted
    require(qTerms.nonEmpty)
    val dfs = collectMeta(qTerms).dfs
    val st = stats
    val target = docId
    perShard(qTerms, Array(docId / index.config.shardSizeDocs),
        Some(col("docId") === docId)) { (rows, dlMap) =>
      dlMap.get(target).iterator.flatMap { dl =>
        rows.iterator.flatMap { r =>
          val it = new TermIterator(r.term, 0.0, 0.0, scorer, st,
            new PostingsCodec.BlobView(r.blob))
          it.advanceTo(target)
          if (it.curDoc != target) Iterator.empty
          else {
            val df = dfs.getOrElse(r.term, 0L)
            Iterator((r.term, it.curTf.toLong, df,
              scorer.contribution(it.curTf.toDouble, df.toDouble, dl, st)))
          }
        }
      }
    }.toDF("term", "tf", "df", "contribution")
      .orderBy(asc("term"))
  }

  /** Term/tf/positions vector of ONE stored doc by re-analysis of its
    * stored content with the index's own analyzer — the reader-SPI
    * surface the reference declares but stubs entirely
    * (HBaseTermFreqVector.java:39-74). Requires the content column to
    * be stored (IndexConfig.storeContent); equality with the index's
    * postings for the doc is asserted in tests (same analyzer ⇒ same
    * token stream by construction). A driver-side point lookup — this
    * is a single-doc debugging/SPI call, not a scan operator. */
  def docTermVector(docId: Long): DataFrame = {
    val rows = index.docs.where(col("docId") === docId)
      .select(field).limit(1).collect()
    require(rows.nonEmpty,
      s"docId $docId not found (or content not stored) — docTermVector " +
        "re-analyzes the stored content column")
    val text = rows.head.getString(0)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    if (text != null)
      index.config.analyzer.foreachEmitted(text) { (t, p) =>
        m.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty[Int]) += p
      }
    m.iterator.map { case (t, ps) => (t, ps.length.toLong, ps.toSeq) }.toSeq
      .toDF("term", "tf", "positions")
  }

  /** Ordered term-dictionary scan from a given term (reference C1/A6,
    * HBaseTermEnum.skipTo). */
  def termEnum(fromTerm: String, limit: Int): DataFrame =
    inDictionaryOrder(col("field") === field && col("term") >= fromTerm, asc("term"))
      .limit(limit)
      .select("term", "df", "cf")

  /** Ordered dictionary scan across ALL fields from a (field, term)
    * key — the reference's HBaseTermEnum iterates the whole field/term
    * keyspace, not one field (HBaseTermEnum.java:86-100;
    * TestHBaseTermEnum.java:61-72 asserts multiple fields appear). */
  def termEnumAll(fromField: String, fromTerm: String, limit: Int): DataFrame =
    inDictionaryOrder(col("field") > fromField
        || (col("field") === fromField && col("term") >= fromTerm),
      asc("field"), asc("term"))
      .limit(limit)
      .select("field", "term", "df", "cf")

  /** The merged dictionary rows under `pred` in (field, term) order
    * (`order` spells it): a driver-side dictionary holds its rows in
    * that order already, so a limit over them plans as a local relation
    * (no job); any other dictionary is ordered in Spark. */
  private def inDictionaryOrder(pred: Column, order: Column*): DataFrame =
    index.dictionary match {
      case Some(d) => d.termStats.where(pred)
      case None => index.termStats.where(pred).orderBy(order: _*)
    }

  /** Expand dictionary terms matching a predicate, term-ascending,
    * bounded: the scale contract of every Lucene MultiTermQuery the
    * reference inherits through its TermEnum SPI (BooleanQuery
    * rewrite throws TooManyClauses past the clause cap). `q` is the
    * (predicate, label) pair of one of the per-kind functions below.
    * The collect is ≤ maxExpansions+1 strings — driver-bounded by
    * construction — and, over a driver-side dictionary, runs no job. */
  private def expandTerms(q: (Column, String), maxExpansions: Int): Seq[String] = {
    val (pred, label) = q
    val ts = inDictionaryOrder(col("field") === field && pred, asc("term"))
      .limit(maxExpansions + 1)
      .select("term").collect().map(_.getString(0)).toSeq
    require(ts.length <= maxExpansions,
      s"$label expands to more than maxExpansions=$maxExpansions terms " +
        "(Lucene BooleanQuery.TooManyClauses contract) — narrow the " +
        "pattern or raise maxExpansions")
    ts
  }

  /** The one multi-term rewrite behind prefix, wildcard, fuzzy, range
    * and regexp top-k: expand the dictionary, then rank the expansion
    * as a disjunctive WAND query (Lucene SCORING_BOOLEAN_QUERY_REWRITE
    * semantics: per-term idf, not constant-score). An empty expansion
    * matches nothing. */
  private def expansionTopK(q: (Column, String), maxExpansions: Int,
      k: Int, scorer: Scorer): DataFrame = {
    val ts = expandTerms(q, maxExpansions)
    if (ts.isEmpty) emptyHits else topK(ts, k, scorer)
  }

  private def emptyHits: DataFrame =
    Seq.empty[(Long, Double)].toDF("docId", "score")

  // Dictionary predicate + TooManyClauses label of each multi-term
  // kind, shared by the explicit *TopK calls and the parser's clauses.

  private def prefixTerms(prefix: String): (Column, String) =
    (col("term").startsWith(prefix), s"prefix '$prefix'")

  /** Leading literal run pushes down as a prefix scan, the full pattern
    * applies as an anchored regex. */
  private def wildcardTerms(pattern: String): (Column, String) = {
    val litPrefix = pattern.takeWhile(c => c != '*' && c != '?')
    val rx = "^" + pattern.map {
      case '*' => ".*"
      case '?' => "."
      case c => java.util.regex.Pattern.quote(c.toString)
    }.mkString + "$"
    (if (litPrefix.isEmpty) col("term").rlike(rx)
    else col("term").startsWith(litPrefix) && col("term").rlike(rx),
      s"wildcard '$pattern'")
  }

  private def fuzzyTerms(term: String, maxEdits: Int,
      prefixLength: Int): (Column, String) = {
    val base = levenshtein(col("term"), lit(term)) <= maxEdits
    (if (prefixLength > 0) col("term").startsWith(term.take(prefixLength)) && base
    else base, s"fuzzy '$term'~$maxEdits")
  }

  private def rangeTerms(lo: Option[String], hi: Option[String],
      includeLo: Boolean, includeHi: Boolean): (Column, String) = {
    require(lo.nonEmpty || hi.nonEmpty, "unbounded on both ends")
    val preds = Seq(
      lo.map(v => if (includeLo) col("term") >= v else col("term") > v),
      hi.map(v => if (includeHi) col("term") <= v else col("term") < v)).flatten
    (preds.reduce(_ && _), s"range [${lo.getOrElse("")}, ${hi.getOrElse("")}]")
  }

  private def regexpTerms(pattern: String): (Column, String) =
    (col("term").rlike("^(?:" + pattern + ")$"), s"regex '$pattern'")

  /** Resolve a parsed multi-term clause against the dictionary
    * (TooManyClauses-bounded, like the explicit API calls). */
  private def expandClause(e: ExpansionClause,
      maxExpansions: Int = 1024): Seq[String] = expandTerms(e.kind match {
    case ExpansionKind.Prefix => prefixTerms(e.pattern)
    case ExpansionKind.Wildcard => wildcardTerms(e.pattern)
    case ExpansionKind.Fuzzy => fuzzyTerms(e.pattern, e.maxEdits, 0)
  }, maxExpansions)

  /** Parse a classic Lucene query string (the reference's entire search
    * surface goes through `new QueryParser(field, analyzer).parse(q)`,
    * TestHBaseneSearch.java) and dispatch to the matching pruned plan:
    * single bare phrase → positional leapfrog; all-MUST terms →
    * conjunctive WAND; mixed MUST/SHOULD terms → ReqOpt WAND; pure
    * SHOULD → OR WAND; any query mixing phrase clauses with other
    * clauses (or with a NOT, or several phrases) → the clause-level
    * boolean scorer. A query with only prohibited clauses (or none)
    * matches nothing — the Lucene BooleanQuery contract. */
  def search(query: String, k: Int, scorer: Scorer = BM25()): DataFrame = {
    val raw = QueryParser.parse(query, index.config.analyzer)
    // Resolve multi-term clauses against the dictionary (Lucene's
    // rewrite step): SHOULD expansions flatten into SHOULD terms
    // (scoring-boolean rewrite — each expanded term scores with its
    // own idf), NOT expansions flatten into the exclusion set, and a
    // MUST expansion becomes a GROUP — the doc must match ≥1 of its
    // terms. An empty MUST expansion matches nothing (a required
    // clause rewrote to the empty query); single-term groups degrade
    // to plain MUST terms.
    val shouldExpanded = raw.shouldExpansions.map(e => (expandClause(e), e.boost))
    val shouldAll = (raw.should ++ shouldExpanded.flatMap(_._1)).distinct
    val notAll =
      (raw.mustNot ++ raw.notExpansions.flatMap(expandClause(_))).distinct
    val groupsExpanded = raw.mustExpansions.map(e => (expandClause(e).distinct, e.boost))
    if (groupsExpanded.exists(_._1.isEmpty)) return emptyHits
    val (singleGroups, multiGroupsB) = groupsExpanded.partition(_._1.size == 1)
    val multiGroups = multiGroupsB.map(_._1)
    // clause boosts (`term^N`, `sp*^N`): per-term map fed to both
    // scoring paths; an expansion clause's boost lands on every term
    // it expands to (the Lucene rewrite distributes the boost)
    val allBoosts = raw.boosts ++
      (shouldExpanded ++ groupsExpanded).flatMap { case (ts, b) =>
        if (b == 1.0) Nil else ts.map(_ -> b)
      }.toMap
    val pq = raw.copy(
      must = (raw.must ++ singleGroups.flatMap(_._1)).distinct,
      should = shouldAll, mustNot = notAll,
      mustExpansions = Nil, shouldExpansions = Nil, notExpansions = Nil,
      boosts = allBoosts)
    val phrases = pq.scoringPhrases
    val noTerms = pq.must.isEmpty && pq.should.isEmpty
    if (!pq.hasScoring && multiGroups.isEmpty) emptyHits
    // one multi-term MUST group and nothing else scoring ⇒ a plain
    // disjunction over the expansion (the group's own rewrite)
    else if (multiGroups.length == 1 && noTerms && phrases.isEmpty && pq.notPhrases.isEmpty)
      topK(multiGroups.head, k, scorer, mustNot = pq.mustNot, boosts = pq.boosts)
    // exactly one scoring phrase and nothing else
    else if (phrases.length == 1 && multiGroups.isEmpty && noTerms &&
        pq.mustNot.isEmpty && pq.notPhrases.isEmpty) {
      val pc = phrases.head._1
      phraseTopK(pc.slots, k,
        if (pc.boost == 1.0) scorer else Boosted(scorer, pc.boost), pc.slop)
    } else if (multiGroups.nonEmpty || phrases.nonEmpty || pq.notPhrases.nonEmpty)
      scoredDocsBoolean(pq, scorer, multiGroups)
        .orderBy(desc("score"), asc("docId")).limit(k)
        .select("docId", "score")
    // terms only: must == all terms is the conjunctive leapfrog
    else topK(pq.must ++ pq.should, k, scorer,
      mustNot = pq.mustNot, must = pq.must, boosts = pq.boosts)
  }

  /** The one clause scorer: every hit of a boolean query over term,
    * phrase and MUST-group clauses (Lucene BooleanQuery with TermQuery /
    * PhraseQuery sub-clauses) as (docId, score, nMatched). One
    * `perShard` pass yields every clause's rows per live doc: term
    * clauses from their postings, each phrase clause from the PRUNED
    * positional kernel (positions never explode corpus-wide) scored
    * against the phrase's own live df like `phraseTopK`; each doc's
    * contributions are summed in a fixed clause order ("t:<term>"
    * labels sort like the terms). MUST counts matched MUST clauses;
    * `minShouldMatch` counts matched OPTIONAL clauses (above the
    * SHOULD-clause count nothing matches); NOT drops docs holding any
    * prohibited term or phrase in the same pass, and a term both
    * required and prohibited matches nothing. `docFilter` narrows
    * candidates like a tombstone (see `dlWithShard`); dfs stay
    * corpus-wide.
    *
    * `mustGroups` — MUST multi-term clauses: a group matches when ANY
    * member does and shares one clause label "g:<i>"; a term in several
    * clauses contributes once per clause (Lucene's per-clause scoring of
    * a rewritten multi-term query). */
  def scoredDocsBoolean(pq: ParsedQuery, scorer: Scorer = BM25(),
      mustGroups: Seq[Seq[String]] = Nil, minShouldMatch: Int = 0,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    booleanHits(pq, scorer, mustGroups, minShouldMatch, docFilter)._1

  /** `scoredDocsBoolean`'s hits plus the shards they were scored on
    * (sorted) and the collected term dfs, for callers that prune or
    * size a second side on them.
    *
    * ONE metadata collect (term, group and scoring-phrase terms), then
    * ONE `perShard` pass over the union of the term clauses' shards
    * that hold every MUST clause and each scoring phrase's shards. A
    * doc's rows all sit in its shard, so the kernel folds per doc: it
    * gathers each LIVE doc's (key, tf) rows in a LongMap and emits one
    * `ClauseDocRow` (docId, dl, excluded, keys, tfs). key = the term for
    * term and MUST-group rows (every posting row decoded, duplicates
    * separately, like `matches`), "p:<i>" for scoring phrase i
    * (Wand.multiPhraseMatches on fresh iterators; analyzer terms never
    * contain ':'); `excluded` marks docs holding a NOT term or a NOT
    * phrase in the shard. A narrow typed map then scores each doc row:
    * `Scorer.contribution` × boost per (key, clause) entry, summed in
    * (clause label, tscore) order, times `Scorer.docFactor`. Without a
    * scoring phrase that map runs in the cogroup's own stage and
    * `docFilter` narrows the dl side. With one, the doc rows are
    * checkpointed and each phrase df — doc rows whose keys hold
    * "p:<i>", excluded or not — is observed on the checkpoint's own
    * job; `docFilter` then applies as one semi-join before the map. */
  private[graft] def booleanHits(pq: ParsedQuery, scorer: Scorer,
      mustGroups: Seq[Seq[String]], minShouldMatch: Int,
      docFilter: Option[Column]): (DataFrame, Array[Long], Map[String, Long]) = {
    val phrases = pq.scoringPhrases
    val plainTerms = (pq.must ++ pq.should).distinct.sorted
    val mustTermSet = pq.must.distinct.toSet
    val shouldCount = plainTerms.count(t => !mustTermSet(t)) + pq.shouldPhrases.size
    if ((!pq.hasScoring && mustGroups.isEmpty) || minShouldMatch > shouldCount ||
        pq.mustNot.exists(mustTermSet))
      return (Seq.empty[(Long, Double, Int)].toDF("docId", "score", "nMatched"),
        Array.empty[Long], Map.empty)
    val phraseClauses = phrases.map(_._1)
    val notPhrases = pq.notPhrases
    (phraseClauses ++ notPhrases).foreach(p => requirePhrase(p.slots.map(Seq(_)), p.slop))
    val qTerms = (plainTerms ++ mustGroups.flatten).distinct.sorted
    val meta = collectMeta((qTerms ++ phraseClauses.flatMap(_.slots)).distinct)
    // term rows can only hit in a shard holding every MUST clause (each
    // MUST term, each slot of each MUST phrase, a member of each MUST
    // group); every shard of a scoring phrase is read regardless, since
    // its df counts all of its live matches
    val required = pq.must.distinct.map(Seq(_)) ++
      pq.mustPhrases.flatMap(_.slots.map(Seq(_))) ++ mustGroups
    val termShards =
      if (required.isEmpty) meta.shardsWith(qTerms)
      else meta.shardsWith(qTerms).intersect(meta.shardsWithGroups(required))
    val shards = (termShards ++ phraseClauses.flatMap(p =>
      meta.shardsWithGroups(p.slots.map(Seq(_))))).distinct.sorted
    val phraseKeys = phrases.indices.map(i => s"p:$i")

    // closure-locals: Searcher itself is not serializable
    val termSet = qTerms.toSet
    val notTerms = pq.mustNot.toSet
    val st = stats
    val docs = perShard[ClauseDocRow](
        (qTerms ++ pq.mustNot ++ (phraseClauses ++ notPhrases).flatMap(_.slots)).distinct,
        shards, if (phrases.isEmpty) docFilter else None) { (rs, dlMap) =>
      // (docId, tf) of one phrase, on fresh iterators over its own rows
      def phraseMatches(p: PhraseClause): Iterator[(Long, Int)] =
        Wand.multiPhraseMatches(p.slots.map(Seq(_)), Searcher.positionalIterators(
          rs.filter(r => p.slots.contains(r.term)), scorer, st), p.slop)
      val excluded = new LongMap[Unit]()
      rs.iterator.filter(r => notTerms(r.term)).foreach(r =>
        new PostingsCodec.BlobView(r.blob).allDocTfs.foreach(m => excluded.update(m._1, ())))
      notPhrases.foreach(phraseMatches(_).foreach(m => excluded.update(m._1, ())))
      val keyed = rs.iterator.filter(r => termSet(r.term)).flatMap(r =>
        new PostingsCodec.BlobView(r.blob).allDocTfs.map(r.term -> _)) ++
        phraseKeys.iterator.zip(phraseClauses).flatMap { case (k, p) =>
          phraseMatches(p).map(k -> _)
        }
      val perDoc = new LongMap[(ArrayBuffer[String], ArrayBuffer[Int])]()
      keyed.foreach { case (key, (d, tf)) =>
        if (dlMap.contains(d)) {
          val (ks, tfs) = perDoc.getOrElseUpdate(d, (ArrayBuffer.empty, ArrayBuffer.empty))
          ks += key
          tfs += tf
        }
      }
      perDoc.iterator.map { case (d, (ks, tfs)) =>
        ClauseDocRow(d, dlMap(d), excluded.contains(d), ks.toSeq, tfs.toSeq)
      }
    }
    // df = live docs containing the phrase (same contract as
    // phraseTopK), counted before NOT and the doc filter narrow the rows
    val (live, phraseDfs) =
      if (phrases.isEmpty) (docs, Nil)
      else {
        val (ck, Row(counts @ _*)) = checkpointWithCount(docs.toDF(),
          phraseKeys.map(k => count_if(array_contains(col("keys"), k))): _*)
        val kept = docFilter.fold(ck)(f =>
          ck.join(index.docs.where(f).select("docId"), Seq("docId"), "left_semi"))
        (kept.as[ClauseDocRow], counts.tail.map(_.asInstanceOf[Long].toDouble))
      }

    // each key's clauses as (ordinal, isMust): a term is its own clause
    // and one per MUST group holding it, a phrase key its own clause.
    // The ordinal ranks the clause label in UTF-8 byte order (Spark's
    // string order; for plain terms, the term order the test-scope
    // oracle sums in), so every doc sums in one fixed (label, tscore)
    // order and its score is bit-reproducible
    val labelled = plainTerms.map(t => (t, "t:" + t, mustTermSet(t))) ++
      mustGroups.zipWithIndex.flatMap { case (g, i) => g.distinct.map(t => (t, s"g:$i", true)) } ++
      phraseKeys.zip(phrases).map { case (k, (_, isMust)) => (k, k, isMust) }
    val ordinal = labelled.map(_._2).distinct
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(
        a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)
      .zipWithIndex.toMap
    val clausesOf = labelled.groupMap(_._1)(l => (ordinal(l._2), l._3))
      .map { case (k, cs) => k -> cs.toArray }
    // per-key df and boost (`term^N` / boosted expansions / boosted phrases)
    val dfOf = qTerms.flatMap(t => meta.dfs.get(t).map(t -> _.toDouble)).toMap ++
      phraseKeys.zip(phraseDfs)
    val boostOf = pq.boosts ++ phraseKeys.zip(phraseClauses.map(_.boost))
    val nMustClauses = mustTermSet.size + pq.mustPhrases.size + mustGroups.size
    // the doc factor depends on the matched clause count alone
    val queryDfs = qTerms.map(t => meta.dfs.getOrElse(t, 0L).toDouble) ++ phraseDfs
    val docFactors = Array.tabulate(ordinal.size + 1)(scorer.docFactor(_, queryDfs, st))

    // clause-match counts are over DISTINCT clauses: a group matching
    // through two member terms is still ONE matched clause (its rows
    // still each add score — Lucene sums the rewritten disjunction's
    // sub-scorers); every MUST clause matched, and matched SHOULD
    // clauses = matched clauses minus matched MUST ones
    val scored = live.flatMap { r =>
      if (r.excluded) None
      else {
        val cs = r.keys.iterator.zip(r.tfs.iterator).flatMap { case (key, tf) =>
          val tscore = boostOf.getOrElse(key, 1.0) *
            scorer.contribution(tf.toDouble, dfOf(key), r.dl, st)
          clausesOf(key).iterator.map { case (o, isMust) => (o, tscore, isMust) }
        }.toArray.sortWith((a, b) =>
          a._1 < b._1 || (a._1 == b._1 && java.lang.Double.compare(a._2, b._2) < 0))
        var sum = 0.0; var nMatched = 0; var nMust = 0; var prev = -1
        cs.foreach { case (o, tscore, isMust) =>
          sum += tscore
          if (o != prev) {
            nMatched += 1
            if (isMust) nMust += 1
            prev = o
          }
        }
        if (nMust != nMustClauses || nMatched - nMust < minShouldMatch) None
        else Some((r.docId, sum * docFactors(nMatched), nMatched))
      }
    }.toDF("docId", "score", "nMatched")
    (scored, shards, meta.dfs)
  }

  /** Prefix query (Lucene PrefixQuery via the reference's TermEnum
    * seek, HBaseTermEnum.skipTo): expand the dictionary — a pushed
    * StringStartsWith + range scan, the same A6 surface as termEnum —
    * then rank the expansion as a disjunctive WAND query (Lucene
    * SCORING_BOOLEAN_QUERY_REWRITE semantics: per-term idf, not
    * constant-score). */
  def prefixTopK(
      prefix: String,
      k: Int,
      scorer: Scorer = BM25(),
      maxExpansions: Int = 1024): DataFrame = {
    require(prefix.nonEmpty, "empty prefix would expand the whole dictionary")
    expansionTopK(prefixTerms(prefix), maxExpansions, k, scorer)
  }

  /** Wildcard query (Lucene WildcardQuery): `*` = any run, `?` = any
    * one char, everything else literal. The leading literal run pushes
    * down as a prefix range scan; the residual pattern applies as an
    * anchored regex on the dictionary. A leading wildcard forces a
    * full dictionary scan — same caveat as Lucene, and still only a
    * scan of the TERM DICTIONARY (∝ vocabulary, not corpus). */
  def wildcardTopK(
      pattern: String,
      k: Int,
      scorer: Scorer = BM25(),
      maxExpansions: Int = 1024): DataFrame = {
    require(pattern.exists(c => c != '*' && c != '?'),
      s"wildcard pattern '$pattern' has no literal characters")
    expansionTopK(wildcardTerms(pattern), maxExpansions, k, scorer)
  }

  /** Fuzzy query (Lucene FuzzyQuery): rank docs containing any
    * dictionary term within `maxEdits` Levenshtein edits of `term`.
    * Lucene 3.0's FuzzyTermEnum is exactly this — a full TermEnum
    * scan with a per-term edit-distance filter (∝ vocabulary, not
    * corpus); `prefixLength` > 0 pushes a literal prefix into the
    * dictionary scan like Lucene's prefix-locked fuzzy. The expansion
    * ranks as a plain scoring OR (per-term idf), like the rest of the
    * MultiTermQuery family here — Lucene 3.0's extra
    * (1 − d/min(len)) closeness boost is not applied. */
  def fuzzyTopK(
      term: String,
      k: Int,
      maxEdits: Int = 2,
      prefixLength: Int = 0,
      scorer: Scorer = BM25(),
      maxExpansions: Int = 1024): DataFrame = {
    require(term.nonEmpty && maxEdits >= 0 && prefixLength >= 0)
    expansionTopK(fuzzyTerms(term, maxEdits, prefixLength), maxExpansions, k, scorer)
  }

  /** Term-range query (Lucene TermRangeQuery; reference A6 range scan):
    * rank docs containing any dictionary term in [lo, hi] / (lo, hi)
    * per the inclusive flags; a None bound is open. */
  def rangeTopK(
      lo: Option[String],
      hi: Option[String],
      k: Int,
      includeLo: Boolean = true,
      includeHi: Boolean = false,
      scorer: Scorer = BM25(),
      maxExpansions: Int = 1024): DataFrame =
    expansionTopK(rangeTerms(lo, hi, includeLo, includeHi), maxExpansions, k, scorer)

  /** Regex query (Lucene 3.0 contrib RegexQuery — the same TermEnum
    * full-scan MultiTermQuery the reference inherits; modern
    * RegexpQuery): rank docs containing any dictionary term matching
    * the FULLY ANCHORED pattern. The scan touches the term dictionary
    * only (∝ vocabulary, not corpus) and the bounded expansion ranks
    * as a scoring OR with per-term idf, like the rest of the family. */
  def regexpTopK(
      pattern: String,
      k: Int,
      scorer: Scorer = BM25(),
      maxExpansions: Int = 1024): DataFrame = {
    require(pattern.nonEmpty, "empty regex pattern")
    expansionTopK(regexpTerms(pattern), maxExpansions, k, scorer)
  }

  /** docKey → docId point lookup (the reference's doc2int reverse map,
    * HBaseIndexStore.java:154-159) — for re-indexing or joining
    * external labels by natural key. The docKey column exists on
    * code-corpus/table builds; a predicate-pushdown point scan here,
    * a broadcast-joinable `docs.select(docKey, docId)` for bulk use. */
  def lookupDocId(docKey: String): Option[Long] =
    index.docs.where(col("docKey") === docKey).select("docId")
      .limit(1).collect().headOption.map(_.getLong(0))

  /** docId → docKey (the forward int2doc map). */
  def lookupDocKey(docId: Long): Option[String] =
    index.docs.where(col("docId") === docId).select("docKey")
      .limit(1).collect().headOption.map(_.getString(0))

  /** Fetch stored docs for hits (reference C7 — semi-join after rank). */
  def fetch(hits: DataFrame, cols: Seq[String]): DataFrame =
    hits.join(index.docs.select((Seq("docId") ++ cols).map(col): _*), Seq("docId"))

  /** Best-window snippets for hits (the Lucene-contrib Highlighter
    * surface, absent from the reference): for each hit, re-analyze the
    * stored content with the index's own analyzer and slice the raw
    * text around the `width`-emitted-token window containing the MOST
    * query-term matches (ties → leftmost; no match → the leading
    * window), wrapping each matched token in pre/post markers.
    * Deterministic by construction. Runs as a broadcast join of the
    * tiny hit set against the docs table plus a per-row map — nothing
    * corpus-sized moves. Requires stored content
    * (IndexConfig.storeContent). Returns (docId, score, nMatches,
    * snippet). */
  def snippets(
      hits: DataFrame,
      terms: Seq[String],
      width: Int = 12,
      pre: String = "«",
      post: String = "»"): DataFrame = {
    require(width > 0)
    val qset = terms.toSet
    val az = index.config.analyzer
    val (p1, p2) = (pre, post)
    val w = width
    fetch(hits, Seq(field)).select(col("docId"), col("score"), col(field))
      .as[(Long, Double, String)]
      .map { case (docId, score, raw) =>
        val text = az.analyzedText(raw)
        val ts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
        if (text != null) az.foreachEmittedOffsets(text) { (t, _, s, e) =>
          ts += ((s, e, qset(t)))
        }
        if (ts.isEmpty) (docId, score, 0, "")
        else {
          // sliding window over emitted-token indices: O(n)
          var best = 0; var bestCnt = -1; var cnt = 0
          var i = 0
          while (i < ts.length) {
            cnt += (if (ts(i)._3) 1 else 0)
            if (i >= w) cnt -= (if (ts(i - w)._3) 1 else 0)
            val startIdx = math.max(0, i - w + 1)
            if (i >= w - 1 || i == ts.length - 1) {
              if (cnt > bestCnt) { bestCnt = cnt; best = startIdx }
            }
            i += 1
          }
          val end = math.min(ts.length, best + w)
          val sb = new java.lang.StringBuilder
          var c = ts(best)._1
          var j = best
          while (j < end) {
            val (s, e, m) = ts(j)
            sb.append(text, c, s)
            if (m) sb.append(p1)
            sb.append(text, s, e)
            if (m) sb.append(p2)
            c = e
            j += 1
          }
          (docId, score, bestCnt, sb.toString)
        }
      }
      .toDF("docId", "score", "nMatches", "snippet")
  }
}

object Searcher {

  /** Whether the filter on top of `rows` reads only the `field` and
    * `term` columns: then all posting rows of one term pass it or fail
    * it alike, and the merged dictionary rows decide it as the postings
    * would. A filter on df, cf, maxTf or shard is decided per posting
    * row, which the merged rows cannot do. */
  private def filtersTermsOnly(rows: DataFrame): Boolean =
    rows.queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.forall(a => a.name == "field" || a.name == "term")
      case _ => false
    }

  /** One fresh TermIterator per (term, shard) posting row for a
    * positional kernel — no df and no score bound: positional kernels
    * never score or prune through the iterator. One row per (term,
    * shard) is a merge-path invariant, and the map would SILENTLY keep
    * one of the duplicates (undercounting tf on e.g. an un-merged union
    * of segment partials) — fail loudly instead, like topK which keeps
    * duplicates as separate iterators. */
  private[query] def positionalIterators(rows: Array[PostingRow], scorer: Scorer,
      st: CorpusStats): Map[String, TermIterator] = {
    require(rows.iterator.map(_.term).toSet.size == rows.length,
      "duplicate posting rows for one (term, shard) — positional " +
        "search requires merged postings (one row per term per shard)")
    rows.map(r => r.term -> new TermIterator(r.term, 0.0, 0.0, scorer, st,
      new PostingsCodec.BlobView(r.blob))).toMap
  }
}
