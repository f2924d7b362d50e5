package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{EngineQueries => E, OracleSql}
import graft.pipeline.{TextPipeline => T}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries split into two families:
  *   - index-backed (dict/postings/BM25/WAND/phrase/sort/fetch) — run
  *     through the inverted-index engine (build → encode → decode →
  *     score), memoized per scale dir;
  *   - pipeline (dedup/similarity/text-analysis/multimodal) — direct
  *     Dataset transforms over documents/embeddings.
  * Each has an independent DuckDB recomputation in `oracleSql`.
  */
object SparkEntry {

  /** Flagship query on sf0.001: disjunctive BM25 top-k through the
    * full index path. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    E.bm25Or(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- inverted-index engine ----
    "dict_terms" -> ((s, d) => E.dictTerms(s, d)),
    "term_enum" -> ((s, d) => E.termEnum(s, d)),
    "postings_term" -> ((s, d) => E.postingsTerm(s, d, "spark")),
    "positions_term" -> ((s, d) => E.positionsTerm(s, d, "dup")),
    "corpus_stats" -> ((s, d) => E.corpusStats(s, d)),
    "doc_freqs" -> ((s, d) => E.docFreqs(s, d, Seq("spark", "merge", "window", "dup"))),
    "bm25_single" -> ((s, d) => E.bm25Single(s, d)),
    "bm25_or" -> ((s, d) => E.bm25Or(s, d)),
    "bm25_and" -> ((s, d) => E.bm25And(s, d)),
    "bm25_wand" -> ((s, d) => E.bm25Or(s, d)), // frozen name; the same topK plan
    "bm25_not" -> ((s, d) => E.bm25Not(s, d)),
    "bm25_reqopt" -> ((s, d) => E.bm25ReqOpt(s, d)),
    "prefix_topk" -> ((s, d) => E.prefixTopK(s, d)),
    "wildcard_topk" -> ((s, d) => E.wildcardTopK(s, d)),
    "range_topk" -> ((s, d) => E.rangeTopK(s, d)),
    "fuzzy_topk" -> ((s, d) => E.fuzzyTopK(s, d)),
    "tfidf_legacy" -> ((s, d) => E.tfidfLegacy(s, d)),
    "phrase_bm25" -> ((s, d) => E.phraseBm25(s, d)),
    "phrase_slop" -> ((s, d) => E.phraseSlop(s, d)),
    "multi_phrase" -> ((s, d) => E.multiPhrase(s, d)),
    "phrase_prefix" -> ((s, d) => E.phrasePrefix(s, d)),
    "bm25_minshould" -> ((s, d) => E.bm25MinShould(s, d)),
    "dismax_topk" -> ((s, d) => E.dismax(s, d)),
    "span_first" -> ((s, d) => E.spanFirst(s, d)),
    "near_bm25" -> ((s, d) => E.nearBm25(s, d)),
    "span_not" -> ((s, d) => E.spanNot(s, d)),
    "near_all" -> ((s, d) => E.nearAll(s, d)),
    "span_or" -> ((s, d) => E.spanOr(s, d)),
    "match_all" -> ((s, d) => E.matchAll(s, d)),
    "regex_topk" -> ((s, d) => E.regexTopk(s, d)),
    "facet_lang" -> ((s, d) => E.facetLang(s, d)),
    "grouped_topk" -> ((s, d) => E.groupedTopk(s, d)),
    "mlt_topk" -> ((s, d) => E.mltTopk(s, d)),
    "mlt_text" -> ((s, d) => E.mltText(s, d)),
    "const_range" -> ((s, d) => E.constRange(s, d)),
    "sample_det" -> ((s, d) => E.sampleDet(s, d)),
    "sample_strat" -> ((s, d) => E.sampleStrat(s, d)),
    "pack_bins" -> ((s, d) => E.packBins(s, d)),
    "explain_doc" -> ((s, d) => E.explainDoc(s, d)),
    "qstring_expansion" -> ((s, d) => E.qstringExpansion(s, d)),
    "bm25_boosted" -> ((s, d) => E.bm25Boosted(s, d)),
    "bm25_filtered" -> ((s, d) => E.bm25Filtered(s, d)),
    "qstring_boost" -> ((s, d) => E.qstringBoost(s, d)),
    "sort_topk" -> ((s, d) => E.sortTopK(s, d)),
    "sort_topk2" -> ((s, d) => E.sortTopK2(s, d)),
    "term_vector" -> ((s, d) => E.termVector(s, d, 3L)),
    "fetch_docs" -> ((s, d) => E.fetchDocs(s, d)),
    "sha256_rows" -> ((s, d) => E.shaRows(s, d)),
    "match_sql" -> ((s, d) => E.matchSql(s, d)),
    "phrase_sql" -> ((s, d) => E.phraseSql(s, d)),
    "query_sql" -> ((s, d) => E.querySql(s, d)),
    "boolean_phrase" -> ((s, d) => E.booleanPhrase(s, d)),
    // rows-only driver check (snippet text pinned by SnippetSpec —
    // the analyzer offset walk has no portable SQL recomputation)
    "snippet_topk" -> ((s, d) => E.snippetTopK(s, d)),
    "bm25_tombstone" -> ((s, d) => E.bm25Tombstone(s, d)),
    "bm25_wand_tombstone" -> ((s, d) => E.bm25WandTombstone(s, d)),
    "bm25_after_delete" -> ((s, d) => E.bm25AfterDelete(s, d)),
    "bm25_after_update" -> ((s, d) => E.bm25AfterUpdate(s, d)),
    // ---- training-data pipeline ----
    "dedup_exact" -> ((s, d) => T.dedupExact(T.documents(s, d))),
    "dedup_jaccard" -> ((s, d) => T.ngramJaccardPairs(T.documents(s, d), 0.8)),
    "dedup_minhash" -> ((s, d) => T.minhashCandidates(T.documents(s, d))),
    "dedup_simhash" -> ((s, d) => T.simhash(T.documents(s, d))),
    "dedup_simhash_pairs" -> ((s, d) => T.simhashPairs(T.documents(s, d), 8)),
    "dedup_groups" -> ((s, d) => T.dedupGroups(T.documents(s, d), 8)),
    "dedup_groups_jaccard" -> ((s, d) => {
      val docs = T.documents(s, d)
      T.dedupGroupsFromPairs(docs, T.ngramJaccardPairs(docs, 0.8))
    }),
    "embed_knn" -> ((s, d) => T.cosineTopK(T.embeddings(s, d), 0L, 10)),
    "hybrid_topk" -> ((s, d) => E.hybridTopK(s, d)),
    "embed_lsh_buckets" -> ((s, d) => T.lshBuckets(T.embeddings(s, d))),
    "embed_dup_pairs" -> ((s, d) => T.embedCosinePairs(T.embeddings(s, d), 0.4)),
    "embed_ivf_knn" -> ((s, d) => T.ivfTopK(T.embeddings(s, d), 0L, 5)),
    "text_langid" -> ((s, d) => T.langId(T.documents(s, d))),
    "text_quality" -> ((s, d) => T.quality(T.documents(s, d))),
    "text_tokcount" -> ((s, d) => T.tokenCounts(T.documents(s, d))),
    "text_fingerprint" -> ((s, d) => T.fingerprint(T.documents(s, d))),
    "media_meta" -> ((s, d) => E.mediaMeta(s, d)),
    "media_frames" -> ((s, d) => E.mediaFrames(s, d)))

  def oracleSql: Map[String, String] = OracleSql.all
}
