package graft.api

import graft.analysis.Analyzer

/** DuckDB oracle SQL — each statement recomputes a SparkEntry query
  * independently over the same parquet tables (`documents`,
  * `embeddings`). Tokenization, hashing and scoring mirror the engine
  * EXACTLY (same regex split, same stop set, same integer hash
  * arithmetic over dense-rank ids, same double expression shapes);
  * floats are rounded at the output edge only.
  */
object OracleSql {

  private val STOP = Analyzer.stopWordsSqlList

  /** Shared tokenization CTEs over a source relation `src`: raw split
    * → tok (1-based pos over non-empty tokens, stopwords included) →
    * emitted (stop-filtered) → dl (per-doc emitted count, 0 kept) →
    * corpus (N, avgdl). Parameterized so the delete oracles can score
    * over the LIVE corpus only. */
  private def tokCtes(src: String): String = s"""
raw AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9_]+')) AS term,
         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), 1) AS ord
  FROM $src),
tok AS (
  SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS pos
  FROM raw WHERE term <> ''),
emitted AS (SELECT * FROM tok WHERE term NOT IN $STOP),
dl AS (
  SELECT d.doc_id, coalesce(e.c, 0)::DOUBLE AS dl
  FROM $src d LEFT JOIN
    (SELECT doc_id, count(*)::BIGINT AS c FROM emitted GROUP BY 1) e USING (doc_id)),
corpus AS (
  SELECT (SELECT count(*) FROM $src)::DOUBLE AS n,
         (SELECT avg(dl) FROM dl) AS avgdl)"""

  private val TOK = "\nWITH " + tokCtes("documents")

  /** Tokenization CTEs over the corpus MINUS the canonical tombstone
    * set (doc_id ≡ 3 mod 7 — mirrors EngineQueries.deleteSet): the
    * physical-delete oracle, where df/N/avgdl reflect survivors only. */
  private val TOK_LIVE =
    "\nWITH live AS (SELECT * FROM documents WHERE doc_id % 7 <> 3),\n" +
      tokCtes("live")

  /** Tokenization CTEs over the post-UPDATE corpus (mirrors
    * EngineQueries.updatedIndex: docs ≡ 7 mod 10 replaced by fresh
    * docIds old+100000 with the marker token appended, then physically
    * compacted — stats/df reflect exactly this corpus). */
  private val TOK_UPDATED =
    "\nWITH updated AS (\n" +
      "  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7\n" +
      "  UNION ALL\n" +
      "  SELECT doc_id + 100000 AS doc_id, text || ' graftupdated' AS text\n" +
      "  FROM documents WHERE doc_id % 10 = 7),\n" +
      tokCtes("updated")

  private def inList(terms: Seq[String]): String =
    terms.map(t => s"'$t'").mkString("(", ", ", ")")

  /** BM25 scored CTE over a term PREDICATE (k1=1.2, b=0.75 — mirrors
    * Scorers.BM25.contributionCol shape exactly). The predicate form
    * also recomputes the term-expansion queries (prefix / wildcard /
    * range): the engine expands the dictionary then WAND-ORs the
    * expansion with per-term idf, which is exactly Σ over all terms
    * matching the predicate. */
  private def bm25ScoredPred(pred: String): String = s"""
, tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM emitted
  WHERE $pred GROUP BY 1, 2),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM
    (SELECT DISTINCT doc_id, term FROM emitted WHERE $pred)
  GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         sum(ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
             * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))) AS s,
         count(*) AS m
  FROM tf t JOIN dfq f USING (term) JOIN dl d USING (doc_id) CROSS JOIN corpus c
  GROUP BY t.doc_id)"""

  private def bm25Scored(terms: Seq[String]): String =
    bm25ScoredPred(s"term IN ${inList(terms)}")

  private def bm25TopK(terms: Seq[String], k: Int, requireAll: Boolean,
      mustNot: Seq[String] = Nil, must: Seq[String] = Nil): String =
    TOK + bm25Scored(terms) + s"""
SELECT doc_id, round(s, 4) AS score FROM scored
WHERE TRUE
${if (requireAll) s"AND m = ${terms.length}" else ""}
${if (must.nonEmpty)
      s"""AND doc_id IN (SELECT doc_id FROM
  (SELECT DISTINCT doc_id, term FROM emitted WHERE term IN ${inList(must)})
  GROUP BY doc_id HAVING count(*) = ${must.length})"""
    else ""}
${if (mustNot.nonEmpty)
      s"AND doc_id NOT IN (SELECT DISTINCT doc_id FROM emitted WHERE term IN ${inList(mustNot)})"
    else ""}
ORDER BY s DESC, doc_id LIMIT $k"""

  /** Term-expansion top-k (prefix / wildcard / range): BM25 over every
    * dictionary term matching the predicate. */
  private def expansionTopK(pred: String, k: Int): String =
    TOK + bm25ScoredPred(pred) + s"""
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY s DESC, doc_id LIMIT $k"""

  /** Shared phrase-scoring tail: a `starts` CTE (doc_id, pos of each
    * matching start) → tf per doc → df = matching docs → BM25 as one
    * pseudo-term, top 10. */
  private val phraseScoreTail: String = """,
ptf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM starts GROUP BY 1),
pdf AS (SELECT count(*)::DOUBLE AS df FROM ptf)
SELECT p.doc_id,
       round(ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
             * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)), 4) AS score
FROM ptf p CROSS JOIN pdf f JOIN dl d USING (doc_id) CROSS JOIN corpus c
ORDER BY ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
         * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)) DESC, p.doc_id
LIMIT 10"""

  /** BM25-scored phrase "hash join" (consecutive emitted positions) —
    * shared by the Dataset phrase path and the SQL TVF phrase mode. */
  private val phraseHashJoin: String = TOK + """
, starts AS (
  SELECT a.doc_id, a.pos FROM emitted a
  JOIN emitted b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'hash' AND b.term = 'join')""" + phraseScoreTail

  /** Sloppy phrase "hash join"~2 — in-order window: a start position
    * matches when SOME 'join' sits strictly after it within span
    * (k−1)+slop = 3; counting starts with DISTINCT is equivalent to
    * the engine's greedy minimal chain (a chain exists ⇔ the greedy
    * one fits the window). */
  private val phraseSlopJoin: String = TOK + """
, starts AS (
  SELECT DISTINCT a.doc_id, a.pos FROM emitted a
  JOIN emitted b ON a.doc_id = b.doc_id
    AND b.pos > a.pos AND b.pos <= a.pos + 3
  WHERE a.term = 'hash' AND b.term = 'join')""" + phraseScoreTail

  val all: Map[String, String] = Map(
    "dict_terms" -> (TOK + """
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM emitted GROUP BY term"""),

    "term_enum" -> (TOK + """
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM emitted WHERE term >= 'm' GROUP BY term ORDER BY term LIMIT 10"""),

    "postings_term" -> (TOK + """
SELECT doc_id, count(*)::BIGINT AS tf FROM emitted WHERE term = 'spark' GROUP BY 1"""),

    "positions_term" -> (TOK + """
SELECT doc_id, pos::BIGINT AS pos FROM emitted WHERE term = 'dup'"""),

    "corpus_stats" -> (TOK + """
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       round((SELECT avg(dl) FROM dl), 6) AS avgdl"""),

    "doc_freqs" -> (TOK + """
SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM emitted
WHERE term IN ('spark', 'merge', 'window', 'dup') GROUP BY 1"""),

    "bm25_single" -> bm25TopK(Seq("spark"), 10, requireAll = false),
    "bm25_or" -> bm25TopK(Seq("spark", "merge", "window"), 10, requireAll = false),
    "bm25_and" -> bm25TopK(Seq("spark", "merge"), 10, requireAll = true),
    // bm25_or and bm25_wand run the same topK plan → same oracle
    "bm25_wand" -> bm25TopK(Seq("spark", "merge", "window"), 10, requireAll = false),
    "bm25_not" -> bm25TopK(Seq("spark", "merge"), 10, requireAll = false,
      mustNot = Seq("window")),
    // mixed MUST + SHOULD (ReqOptSumScorer): every hit contains the
    // MUST term; score sums over all matched query terms
    "bm25_reqopt" -> bm25TopK(Seq("merge", "spark", "window"), 10,
      requireAll = false, must = Seq("spark")),
    // classic parser through the SQL TVF: '+spark merge -window' →
    // MUST spark, SHOULD merge, MUST_NOT window
    "query_sql" -> bm25TopK(Seq("merge", "spark"), 10, requireAll = false,
      mustNot = Seq("window"), must = Seq("spark")),
    // boolean query with a phrase clause: '+"hash join" spark -dup'.
    // The phrase clause scores like phrase_bm25 (tf = consecutive-pair
    // count, df = docs containing the phrase); the SHOULD term adds its
    // BM25 contribution; hits must contain the phrase and not 'dup'.
    "boolean_phrase" -> (TOK + """
, starts AS (
  SELECT a.doc_id, a.pos FROM emitted a
  JOIN emitted b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'hash' AND b.term = 'join'),
ptf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM starts GROUP BY 1),
pdf AS (SELECT count(*)::DOUBLE AS df FROM ptf),
ttf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM emitted
        WHERE term = 'spark' GROUP BY 1),
tdf AS (SELECT count(*)::DOUBLE AS df FROM
        (SELECT DISTINCT doc_id FROM emitted WHERE term = 'spark')),
contrib AS (
  SELECT p.doc_id,
         ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
           * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)) AS s
  FROM ptf p CROSS JOIN pdf f JOIN dl d USING (doc_id) CROSS JOIN corpus c
  UNION ALL
  SELECT t.doc_id,
         ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
           * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
  FROM ttf t CROSS JOIN tdf f JOIN dl d USING (doc_id) CROSS JOIN corpus c),
scored2 AS (SELECT doc_id, sum(s) AS s FROM contrib GROUP BY 1)
SELECT doc_id, round(s, 4) AS score FROM scored2
WHERE doc_id IN (SELECT doc_id FROM ptf)
  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM emitted WHERE term = 'dup')
ORDER BY s DESC, doc_id LIMIT 10"""),
    "prefix_topk" -> expansionTopK("term LIKE 's%'", 10),
    "wildcard_topk" -> expansionTopK("regexp_matches(term, '^s.a.*$')", 10),
    "range_topk" -> expansionTopK("term >= 'h' AND term < 'k'", 10),
    "fuzzy_topk" -> expansionTopK("levenshtein(term, 'bag') <= 2", 10),
    // the SQL TVF surface substitutes the SAME analyzed WAND plan →
    // rank-identical to bm25_or by construction
    "match_sql" -> bm25TopK(Seq("spark", "merge", "window"), 10, requireAll = false),
    // the TVF's phrase mode substitutes the pruned positional plan →
    // same oracle as phrase_bm25 (identical phrase, via SQL)
    "phrase_sql" -> phraseHashJoin,

    // TOMBSTONE deletes (Lucene semantics pre-merge): hits filtered,
    // scores computed with the STALE full-corpus stats — the oracle
    // scores over all docs and applies the not-deleted filter at top-k
    "bm25_tombstone" -> (TOK + bm25Scored(Seq("spark")) + """
SELECT doc_id, round(s, 4) AS score FROM scored
WHERE doc_id % 7 <> 3
ORDER BY s DESC, doc_id LIMIT 10"""),

    // same tombstone contract over the OR query set
    "bm25_wand_tombstone" -> (TOK + bm25Scored(Seq("spark", "merge", "window")) + """
SELECT doc_id, round(s, 4) AS score FROM scored
WHERE doc_id % 7 <> 3
ORDER BY s DESC, doc_id LIMIT 10"""),

    // PHYSICAL delete application (the compaction path): postings and
    // stats rewritten, so df/N/avgdl — and the scores — are those of
    // the live corpus only
    "bm25_after_delete" -> (TOK_LIVE + bm25Scored(Seq("spark")) + """
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY s DESC, doc_id LIMIT 10"""),

    // updateDocument parity (replace + compact): scores over the
    // post-update corpus — the marker term hits exactly the 50
    // replacement docs, 'spark' ranks across old and new
    "bm25_after_update" -> (TOK_UPDATED +
      bm25Scored(Seq("graftupdated", "spark")) + """
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY s DESC, doc_id LIMIT 10"""),

    // hybrid retrieval: BM25 candidates + 0.5 × cosine(vec 0), cosine
    // rounded to 3 before blending (embed-oracle float contract)
    "hybrid_topk" -> (TOK + bm25Scored(Seq("spark", "merge")) + """
, q AS (
  SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id = 0),
e AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings),
dots AS (
  SELECT e.vec_id,
         sum(e.v::DOUBLE * q.qv::DOUBLE) AS dot,
         sum(e.v::DOUBLE * e.v::DOUBLE) AS na
  FROM e JOIN q USING (i) GROUP BY 1),
qn AS (SELECT sqrt(sum(qv::DOUBLE * qv::DOUBLE)) AS nq FROM q),
cosv AS (
  SELECT vec_id AS doc_id, round(dot / (sqrt(na) * nq), 3) AS cos
  FROM dots CROSS JOIN qn)
SELECT s.doc_id, round(s.s + 0.5 * coalesce(c.cos, 0.0), 4) AS score
FROM scored s LEFT JOIN cosv c USING (doc_id)
ORDER BY s.s + 0.5 * coalesce(c.cos, 0.0) DESC, s.doc_id
LIMIT 10"""),

    "tfidf_legacy" -> (TOK + """
, tf AS (SELECT doc_id, count(*)::DOUBLE AS tf FROM emitted WHERE term = 'dup' GROUP BY 1),
dfq AS (SELECT count(*)::DOUBLE AS df FROM (SELECT DISTINCT doc_id FROM emitted WHERE term = 'dup')),
idf AS (SELECT 1.0 + ln(c.n / (f.df + 1.0)) AS i FROM dfq f CROSS JOIN corpus c)
SELECT t.doc_id,
       round((sqrt(t.tf) * i.i * i.i) * (1.0 / sqrt(i.i * i.i)), 4) AS score
FROM tf t CROSS JOIN idf i
ORDER BY (sqrt(t.tf) * i.i * i.i) * (1.0 / sqrt(i.i * i.i)) DESC, t.doc_id LIMIT 10"""),

    "phrase_bm25" -> phraseHashJoin,

    "phrase_slop" -> phraseSlopJoin,

    // multi-phrase "hash (join|scan)": slot 2 matches either term; a
    // start counts once (two alternatives can't share one position)
    "multi_phrase" -> (TOK + """
, starts AS (
  SELECT a.doc_id, a.pos FROM emitted a
  JOIN emitted b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'hash' AND b.term IN ('join', 'scan'))""" + phraseScoreTail),

    // phrase-prefix "hash s*": the final slot is the whole s-prefixed
    // dictionary range (ES match_phrase_prefix semantics)
    "phrase_prefix" -> (TOK + """
, starts AS (
  SELECT DISTINCT a.doc_id, a.pos FROM emitted a
  JOIN emitted b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'hash' AND b.term LIKE 's%')""" + phraseScoreTail),

    // minimumShouldMatch = 2 over a 3-term OR: docs matching ≥ 2 terms,
    // scored over their matched terms only (the mm filter never alters
    // a surviving doc's score)
    "bm25_minshould" -> (TOK + bm25Scored(Seq("spark", "merge", "window")) + """
SELECT doc_id, round(s, 4) AS score FROM scored
WHERE m >= 2
ORDER BY s DESC, doc_id LIMIT 10"""),

    // classic-syntax expansion clause "+s* dup": required s-prefix
    // group (>= 1 member present; all matched members score) + SHOULD dup
    "qstring_expansion" -> (TOK + bm25ScoredPred("(term LIKE 's%' OR term = 'dup')") + """
SELECT doc_id, round(s, 4) AS score FROM scored
WHERE doc_id IN (SELECT DISTINCT doc_id FROM emitted WHERE term LIKE 's%')
ORDER BY s DESC, doc_id LIMIT 10"""),

    // parser clause boost "spark^2 merge"
    "qstring_boost" -> (TOK + """
, tfq AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM emitted
  WHERE term IN ('spark', 'merge') GROUP BY 1, 2),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM
    (SELECT DISTINCT doc_id, term FROM emitted
     WHERE term IN ('spark', 'merge'))
  GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         sum((CASE WHEN t.term = 'spark' THEN 2.0 ELSE 1.0 END)
             * ln(1.0 + (co.n - f.df + 0.5) / (f.df + 0.5))
             * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / co.avgdl))) AS s
  FROM tfq t JOIN dfq f USING (term) JOIN dl d USING (doc_id)
  CROSS JOIN corpus co
  GROUP BY 1)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY s DESC, doc_id LIMIT 10"""),

    // doc filter: corpus-wide scoring, lang='en' candidate narrowing
    "bm25_filtered" -> (TOK + bm25Scored(Seq("spark")) + """
SELECT s.doc_id, round(s.s, 4) AS score FROM scored s
JOIN documents d USING (doc_id) WHERE d.lang = 'en'
ORDER BY s.s DESC, s.doc_id LIMIT 10"""),

    // per-term boost: 'merge' x3 inside a two-term OR
    "bm25_boosted" -> (TOK + """
, tfq AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM emitted
  WHERE term IN ('spark', 'merge') GROUP BY 1, 2),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM
    (SELECT DISTINCT doc_id, term FROM emitted
     WHERE term IN ('spark', 'merge'))
  GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         sum((CASE WHEN t.term = 'merge' THEN 3.0 ELSE 1.0 END)
             * ln(1.0 + (co.n - f.df + 0.5) / (f.df + 0.5))
             * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / co.avgdl))) AS s
  FROM tfq t JOIN dfq f USING (term) JOIN dl d USING (doc_id)
  CROSS JOIN corpus co
  GROUP BY 1)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY s DESC, doc_id LIMIT 10"""),

    // NEAR/4 unordered proximity: tf counts 'hash' positions with some
    // 'scan' within |Δ| ≤ 4 (DISTINCT a-side ≡ the engine's two-pointer
    // count); pseudo-term scoring like the phrase family
    "near_bm25" -> (TOK + """
, starts AS (
  SELECT DISTINCT a.doc_id, a.pos FROM emitted a
  JOIN emitted b ON a.doc_id = b.doc_id AND abs(b.pos - a.pos) <= 4
  WHERE a.term = 'hash' AND b.term = 'scan')""" + phraseScoreTail),

    // N-ary anchored NEAR: spark occurrences with BOTH merge and scan
    // within |Δ| ≤ 6
    "near_all" -> (TOK + """
, starts AS (
  SELECT a.doc_id, a.pos FROM emitted a
  WHERE a.term = 'spark'
    AND EXISTS (SELECT 1 FROM emitted b WHERE b.doc_id = a.doc_id
      AND b.term = 'merge' AND abs(b.pos - a.pos) <= 6)
    AND EXISTS (SELECT 1 FROM emitted c WHERE c.doc_id = a.doc_id
      AND c.term = 'scan' AND abs(c.pos - a.pos) <= 6))""" + phraseScoreTail),

    // SpanOrQuery/SynonymQuery (merge|scan): one pseudo-term, tf sums
    // the members' occurrences, df = docs containing any member
    "span_or" -> (TOK + """
, starts AS (
  SELECT doc_id, pos FROM emitted WHERE term IN ('merge', 'scan'))""" +
      phraseScoreTail),

    // MatchAllDocsQuery: every doc at constant score, docId order
    "match_all" -> """
SELECT doc_id::BIGINT AS doc_id, 1.0::DOUBLE AS score FROM documents
ORDER BY doc_id LIMIT 20""",

    // Regex expansion (sc|st|sp)[a-z]+ — scoring OR over every
    // dictionary term fully matching the anchored pattern
    "regex_topk" -> expansionTopK(
      "regexp_full_match(term, '(sc|st|sp)[a-z]+')", 10),

    // Facet counts: docs matching spark OR merge, counted per lang
    "facet_lang" -> (TOK + """
, m AS (SELECT DISTINCT doc_id FROM emitted
        WHERE term IN ('spark', 'merge'))
SELECT d.lang AS lang, count(*)::BIGINT AS cnt
FROM m JOIN documents d USING (doc_id)
GROUP BY 1 ORDER BY cnt DESC, lang LIMIT 10"""),

    // Grouped top-k: best 3 spark hits per lang, rank within group
    "grouped_topk" -> (TOK + bm25Scored(Seq("spark")) + """
, ranked AS (
  SELECT d.lang AS lang, s.doc_id, round(s.s, 4) AS score,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s.s DESC, s.doc_id) AS rank
  FROM scored s JOIN documents d USING (doc_id))
SELECT lang, doc_id, score, rank::INT AS rank FROM ranked
WHERE rank <= 3 ORDER BY lang, rank"""),

    // MoreLikeThis from doc 42: top-5 terms by (tf desc, df asc,
    // term asc), scoring-OR over the corpus minus the seed
    "mlt_topk" -> (TOK + """
, seed AS (
  SELECT term, count(*)::BIGINT AS tf FROM emitted
  WHERE doc_id = 42 GROUP BY 1),
seeddf AS (
  SELECT s.term, s.tf,
         (SELECT count(DISTINCT e.doc_id) FROM emitted e
          WHERE e.term = s.term)::BIGINT AS df
  FROM seed s),
mlt AS (SELECT term FROM seeddf
        ORDER BY tf DESC, df ASC, term ASC LIMIT 5)""" +
      bm25ScoredPred("term IN (SELECT term FROM mlt)") + """
SELECT doc_id, round(s, 4) AS score FROM scored
WHERE doc_id <> 42
ORDER BY s DESC, doc_id LIMIT 10"""),

    // MoreLikeThis from external text: tokenize the literal seed with
    // the same rules, top-3 terms by (tf desc, df asc, term asc),
    // scoring-OR over the whole corpus (no seed doc to exclude)
    "mlt_text" -> (TOK + s"""
, seedraw AS (
  SELECT unnest(regexp_split_to_array(
    lower('spark merge spark window scan'), '[^a-z0-9_]+')) AS term),
seed AS (
  SELECT term, count(*)::BIGINT AS tf FROM seedraw
  WHERE term <> '' AND term NOT IN ${Analyzer.stopWordsSqlList} GROUP BY 1),
seeddf AS (
  SELECT s.term, s.tf,
         (SELECT count(DISTINCT e.doc_id) FROM emitted e
          WHERE e.term = s.term)::BIGINT AS df
  FROM seed s),
mlt AS (SELECT term FROM seeddf
        ORDER BY tf DESC, df ASC, term ASC LIMIT 3)""" +
      bm25ScoredPred("term IN (SELECT term FROM mlt)") + """
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY s DESC, doc_id LIMIT 10"""),

    // ConstantScoreRangeQuery [sl, sp): match-as-filter, docId order
    "const_range" -> (TOK + """
SELECT doc_id::BIGINT AS doc_id, 1.0::DOUBLE AS score FROM
  (SELECT DISTINCT doc_id FROM emitted
   WHERE term >= 'sl' AND term < 'sp')
ORDER BY doc_id LIMIT 20"""),

    // Deterministic modular sampling: residue bijection mod 1000
    // (2654435761 mod 1000 = 761, coprime to 1000), keep < 250
    "sample_det" -> """
SELECT doc_id, lang, n_chars FROM documents
WHERE ((doc_id % 1000) * 761 + 17) % 1000 < 250""",

    // Stratified: same residue, per-lang numerators over den 1000
    "sample_strat" -> """
SELECT doc_id, lang FROM documents
WHERE ((doc_id % 1000) * 761) % 1000 <
  CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 100 ELSE 0 END""",

    // Token-budget packing: bin = floor(tokens-before / 2000) over
    // ascending doc_id (contiguous-fill contract)
    "pack_bins" -> (TOK + """
, o AS (
  SELECT doc_id, dl::BIGINT AS n_tokens,
         sum(dl::BIGINT) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dl)
SELECT doc_id, n_tokens, ((cum - n_tokens) // 2000)::BIGINT AS bin
FROM o"""),

    // Lucene explain() of doc 42 vs {merge, scan, spark}: per-term
    // tf/df and the BM25 contribution, term order
    "explain_doc" -> (TOK + """
, dtf AS (
  SELECT term, count(*)::BIGINT AS tf FROM emitted
  WHERE doc_id = 42 AND term IN ('merge', 'scan', 'spark') GROUP BY 1),
qdf AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM emitted
  WHERE term IN ('merge', 'scan', 'spark') GROUP BY 1),
ddl AS (SELECT dl FROM dl WHERE doc_id = 42)
SELECT t.term, t.tf, f.df,
       round(ln(1.0 + (c.n - f.df + 0.5) / (f.df + 0.5))
             * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)), 4)
         AS contribution
FROM dtf t JOIN qdf f USING (term) CROSS JOIN ddl d CROSS JOIN corpus c
ORDER BY t.term"""),

    // SpanNotQuery(include='spark', exclude='merge', pre=post=2):
    // tf = spark positions with NO merge inside [p-2, p+2]
    "span_not" -> (TOK + """
, starts AS (
  SELECT a.doc_id, a.pos FROM emitted a
  WHERE a.term = 'spark' AND NOT EXISTS (
    SELECT 1 FROM emitted b WHERE b.doc_id = a.doc_id AND b.term = 'merge'
      AND b.pos BETWEEN a.pos - 2 AND a.pos + 2))""" + phraseScoreTail),

    // SpanFirstQuery: 'spark' within the first 5 positions; pseudo-term
    // scoring over qualifying occurrences only
    "span_first" -> (TOK + """
, starts AS (
  SELECT doc_id, pos FROM emitted WHERE term = 'spark' AND pos <= 5)""" + phraseScoreTail),

    // DisjunctionMaxQuery, tieBreaker 0.3: best contribution + 0.3·rest
    "dismax_topk" -> (TOK + """
, tfq AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM emitted
  WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM
    (SELECT DISTINCT doc_id, term FROM emitted
     WHERE term IN ('spark', 'merge', 'window'))
  GROUP BY 1),
contrib AS (
  SELECT t.doc_id,
         ln(1.0 + (co.n - f.df + 0.5) / (f.df + 0.5))
           * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / co.avgdl)) AS c
  FROM tfq t JOIN dfq f USING (term) JOIN dl d USING (doc_id)
  CROSS JOIN corpus co),
per AS (SELECT doc_id, max(c) AS mx, sum(c) AS sm FROM contrib GROUP BY 1)
SELECT doc_id, round(mx + 0.3 * (sm - mx), 4) AS score FROM per
ORDER BY mx + 0.3 * (sm - mx) DESC, doc_id LIMIT 10"""),

    "sort_topk" -> (TOK + bm25Scored(Seq("spark")) + """
SELECT s.doc_id, d.lang, round(s.s, 4) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY d.lang ASC, s.s DESC, s.doc_id LIMIT 15"""),

    // multi-key field sort: lang asc, then n_chars desc, then score
    "sort_topk2" -> (TOK + bm25Scored(Seq("spark")) + """
SELECT s.doc_id, d.lang, d.n_chars, round(s.s, 4) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY d.lang ASC, d.n_chars DESC, s.s DESC, s.doc_id LIMIT 15"""),

    // term vector of one doc = its emitted (term, tf) rows
    "term_vector" -> (TOK + """
SELECT term, count(*)::BIGINT AS tf FROM emitted WHERE doc_id = 3 GROUP BY term"""),

    "fetch_docs" -> (TOK + bm25Scored(Seq("merge")) + """
, top AS (SELECT doc_id, s FROM scored ORDER BY s DESC, doc_id LIMIT 5)
SELECT t.doc_id, round(t.s, 4) AS score, d.lang, d.n_chars
FROM top t JOIN documents d USING (doc_id)"""),

    "sha256_rows" -> """
SELECT doc_id, sha256(text) AS sha FROM documents""",

    "dedup_exact" -> """
SELECT min(doc_id)::BIGINT AS doc_id, count(*)::BIGINT AS n
FROM documents GROUP BY sha256(text)""",

    "dedup_jaccard" -> (TOK + """
, sh AS (
  SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS sh
  FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS i
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2)
SELECT a, b,
       round(i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE, 4) AS jaccard
FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= 0.8"""),

    "dedup_minhash" -> (TOK + """
, sh AS (
  SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS sh
  FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
sid AS (
  SELECT sh, row_number() OVER (ORDER BY sh) AS sid
  FROM (SELECT DISTINCT sh FROM sh)),
wid AS (SELECT s.doc_id, i.sid FROM sh s JOIN sid i USING (sh)),
mh AS (
  SELECT w.doc_id, g.i,
         min(((2 * g.i + 1) * w.sid + (g.i * 7919 + 1)) % 2147483647) AS mh
  FROM wid w CROSS JOIN range(12) g(i) GROUP BY 1, 2),
bk AS (
  SELECT doc_id, (i // 3)::INT AS band,
         (max(CASE WHEN i % 3 = 0 THEN mh END) % 1000003) * 1000003 * 1000003
       + (max(CASE WHEN i % 3 = 1 THEN mh END) % 1000003) * 1000003
       + (max(CASE WHEN i % 3 = 2 THEN mh END) % 1000003) AS bkey
  FROM mh GROUP BY 1, 2)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bk x JOIN bk y
  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id"""),

    "dedup_simhash" -> (TOK + """
, tfq AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM emitted GROUP BY 1, 2),
tid AS (
  SELECT term, row_number() OVER (ORDER BY term) AS tid
  FROM (SELECT DISTINCT term FROM emitted)),
hh AS (
  SELECT f.doc_id, f.tf,
         (t.tid * 2654435761 + 911) % 2147483647
           + (((t.tid * 2246822519 + 1337) % 2147483647) << 31) AS h
  FROM tfq f JOIN tid t USING (term)),
bits AS (
  SELECT doc_id, b.b, sum(tf * (((h >> b.b) & 1) * 2 - 1)) AS sb
  FROM hh CROSS JOIN range(62) b(b) GROUP BY 1, 2)
SELECT doc_id,
       sum(CASE WHEN sb > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY 1"""),

    "dedup_simhash_pairs" -> (TOK + """
, tfq AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM emitted GROUP BY 1, 2),
tid AS (
  SELECT term, row_number() OVER (ORDER BY term) AS tid
  FROM (SELECT DISTINCT term FROM emitted)),
hh AS (
  SELECT f.doc_id, f.tf,
         (t.tid * 2654435761 + 911) % 2147483647
           + (((t.tid * 2246822519 + 1337) % 2147483647) << 31) AS h
  FROM tfq f JOIN tid t USING (term)),
bits AS (
  SELECT doc_id, b.b, sum(tf * (((h >> b.b) & 1) * 2 - 1)) AS sb
  FROM hh CROSS JOIN range(62) b(b) GROUP BY 1, 2),
sv AS (
  SELECT doc_id,
         sum(CASE WHEN sb > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY 1)
SELECT x.doc_id AS a, y.doc_id AS b,
       bit_count(xor(x.simhash, y.simhash))::BIGINT AS ham
FROM sv x JOIN sv y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 8"""),

    // connected components need a recursive CTE — the shared TOK
    // prefix gains the RECURSIVE keyword (legal for the whole WITH
    // list; the non-recursive CTEs are unaffected)
    "dedup_groups" -> (TOK.replaceFirst("\\bWITH\\b", "WITH RECURSIVE") + """
, tfq AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM emitted GROUP BY 1, 2),
tid AS (
  SELECT term, row_number() OVER (ORDER BY term) AS tid
  FROM (SELECT DISTINCT term FROM emitted)),
hh AS (
  SELECT f.doc_id, f.tf,
         (t.tid * 2654435761 + 911) % 2147483647
           + (((t.tid * 2246822519 + 1337) % 2147483647) << 31) AS h
  FROM tfq f JOIN tid t USING (term)),
bits AS (
  SELECT doc_id, b.b, sum(tf * (((h >> b.b) & 1) * 2 - 1)) AS sb
  FROM hh CROSS JOIN range(62) b(b) GROUP BY 1, 2),
sv AS (
  SELECT doc_id,
         sum(CASE WHEN sb > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY 1),
prs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sv x JOIN sv y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.simhash, y.simhash)) <= 8),
edges AS (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
SELECT src AS doc_id, min(dst)::BIGINT AS comp FROM reach GROUP BY 1"""),

    // components over the MATERIALIZED jaccard pair table (the
    // dedupGroupsFromPairs production shape: pair source ≠ CC loop)
    "dedup_groups_jaccard" -> (TOK.replaceFirst("\\bWITH\\b", "WITH RECURSIVE") + """
, sh AS (
  SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS sh
  FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS i
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
prs AS (
  SELECT a, b FROM inter
  JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
  WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= 0.8),
edges AS (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
SELECT src AS doc_id, min(dst)::BIGINT AS comp FROM reach GROUP BY 1"""),

    "embed_knn" -> """
WITH q AS (
  SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id = 0),
e AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings),
dots AS (
  SELECT e.vec_id,
         sum(e.v::DOUBLE * q.qv::DOUBLE) AS dot,
         sum(e.v::DOUBLE * e.v::DOUBLE) AS na
  FROM e JOIN q USING (i) GROUP BY 1),
qn AS (SELECT sqrt(sum(qv::DOUBLE * qv::DOUBLE)) AS nq FROM q)
SELECT vec_id, round(dot / (sqrt(na) * nq), 3) AS sim
FROM dots CROSS JOIN qn WHERE vec_id <> 0
ORDER BY dot / (sqrt(na) * nq) DESC, vec_id LIMIT 10""",

    "embed_lsh_buckets" -> """
WITH e AS (
  SELECT vec_id, round(unnest(embedding)::DOUBLE * 1000.0)::BIGINT AS qv,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings),
pl AS (
  SELECT vec_id, i, qv, b.b, ((b.b * 7919 + i * 104729) % 97) - 48 AS w
  FROM e CROSS JOIN range(8) b(b)),
bits AS (SELECT vec_id, b, sum(qv * w) AS s FROM pl GROUP BY 1, 2),
bkt AS (
  SELECT vec_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS bucket
  FROM bits GROUP BY 1)
SELECT bucket, count(*)::BIGINT AS n FROM bkt GROUP BY 1""",

    "embed_dup_pairs" -> """
WITH e AS (
  SELECT vec_id, round(unnest(embedding)::DOUBLE * 1000.0)::BIGINT AS qv,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings),
pl AS (
  SELECT vec_id, i, qv, b.b, ((b.b * 7919 + i * 104729) % 97) - 48 AS w
  FROM e CROSS JOIN range(8) b(b)),
bits AS (SELECT vec_id, b, sum(qv * w) AS s FROM pl GROUP BY 1, 2),
bkt AS (
  SELECT vec_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS bucket
  FROM bits GROUP BY 1),
cand AS (
  SELECT x.vec_id AS a, y.vec_id AS b FROM bkt x
  JOIN bkt y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
ev AS (
  SELECT vec_id, unnest(embedding)::DOUBLE AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings),
nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ev GROUP BY 1),
dots AS (
  SELECT c.a, c.b, sum(ea.v * eb.v) AS dot
  FROM cand c
  JOIN ev ea ON ea.vec_id = c.a
  JOIN ev eb ON eb.vec_id = c.b AND eb.i = ea.i
  GROUP BY 1, 2)
SELECT d.a, d.b, round(d.dot / (na.n * nb.n), 3) AS sim
FROM dots d JOIN nrm na ON d.a = na.vec_id JOIN nrm nb ON d.b = nb.vec_id
WHERE round(d.dot / (na.n * nb.n), 3) >= 0.4""",

    "embed_ivf_knn" -> """
WITH sub AS (
  SELECT * FROM embeddings
  WHERE label = (SELECT label FROM embeddings WHERE vec_id = 0)),
q AS (
  SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id = 0),
e AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM sub),
dots AS (
  SELECT e.vec_id,
         sum(e.v::DOUBLE * q.qv::DOUBLE) AS dot,
         sum(e.v::DOUBLE * e.v::DOUBLE) AS na
  FROM e JOIN q USING (i) GROUP BY 1),
qn AS (SELECT sqrt(sum(qv::DOUBLE * qv::DOUBLE)) AS nq FROM q)
SELECT vec_id, round(dot / (sqrt(na) * nq), 3) AS sim
FROM dots CROSS JOIN qn WHERE vec_id <> 0
ORDER BY dot / (sqrt(na) * nq) DESC, vec_id LIMIT 5""",

    "text_langid" -> (TOK + """
, cnt AS (
  SELECT doc_id,
    sum(CASE WHEN term IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS en_m,
    sum(CASE WHEN term IN ('el','la','de','que','es') THEN 1 ELSE 0 END) AS es_m,
    sum(CASE WHEN term IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS de_m
  FROM tok GROUP BY 1)
SELECT d.doc_id,
  CASE WHEN en_m >= es_m AND en_m >= de_m AND en_m > 0 THEN 'en'
       WHEN es_m >= de_m AND es_m > 0 THEN 'es'
       WHEN de_m > 0 THEN 'de'
       ELSE 'unk' END AS pred_lang
FROM documents d LEFT JOIN cnt USING (doc_id)"""),

    "text_quality" -> (TOK + s"""
, qq AS (
  SELECT doc_id, count(*)::BIGINT AS n_tok,
         sum(CASE WHEN term IN $STOP THEN 1 ELSE 0 END)::BIGINT AS n_stop,
         sum(length(term))::BIGINT AS sum_len
  FROM tok GROUP BY 1)
SELECT doc_id, n_tok, n_stop,
  round(n_stop::DOUBLE / n_tok::DOUBLE, 4) AS stop_ratio,
  round(sum_len::DOUBLE / n_tok::DOUBLE, 4) AS avg_len,
  round(least(n_tok::DOUBLE / 97.0, 1.0) * 0.47
        + (1.0 - n_stop::DOUBLE / n_tok::DOUBLE) * 0.31
        + least((sum_len::DOUBLE / n_tok::DOUBLE) / 7.3, 1.0) * 0.22, 4) AS qscore
FROM qq"""),

    "text_tokcount" -> (TOK + """
, a AS (
  SELECT doc_id, count(*)::BIGINT AS n_tok, count(DISTINCT term)::BIGINT AS n_uniq
  FROM tok GROUP BY 1)
SELECT d.doc_id, len(string_split(d.text, ' '))::BIGINT AS n_ws,
       coalesce(a.n_tok, 0)::BIGINT AS n_tok,
       coalesce(a.n_uniq, 0)::BIGINT AS n_uniq
FROM documents d LEFT JOIN a USING (doc_id)"""),

    "text_fingerprint" -> (TOK + """
, tid AS (
  SELECT term, row_number() OVER (ORDER BY term) AS tid
  FROM (SELECT DISTINCT term FROM emitted))
SELECT e.doc_id,
       (sum(t.tid * ((e.pos * 2654435761) % 1048576)) % 2147483647)::BIGINT AS fp
FROM emitted e JOIN tid t USING (term) GROUP BY e.doc_id"""),

    "media_meta" -> """
SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
       ((octet_length(encode(text)) + 63) // 64)::BIGINT AS n_frames,
       ascii(text)::BIGINT AS head
FROM documents""",

    // char-side recompute of the engine's byte-level frame features —
    // valid iff the corpus is pure ASCII (1 char = 1 byte), which the
    // octet_length(encode(x)) = length(x) predicate enforces: a
    // non-ASCII doc would change the engine/oracle row counts and fail
    // the compare loudly rather than silently diverge
    "media_frames" -> """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents
  WHERE octet_length(encode(text)) > 0 AND octet_length(encode(text)) = length(text)),
f AS (SELECT doc_id, text, len, unnest(range((len + 63) // 64)) AS fi FROM b),
c AS (SELECT doc_id, text, fi, unnest(range(least(64, len - fi * 64))) AS ci FROM f),
a AS (SELECT doc_id, fi, ascii(substring(text, (fi * 64 + ci + 1)::INT, 1)) AS v FROM c)
SELECT doc_id, fi::BIGINT AS frame_idx, count(*)::BIGINT AS frame_bytes,
       sum(v)::BIGINT AS byte_sum, min(v)::BIGINT AS byte_min, max(v)::BIGINT AS byte_max
FROM a GROUP BY 1, 2""")
}
