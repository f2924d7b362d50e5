package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.build.InvertedIndex
import graft.query.{BM25, Searcher}
import graft.table.IndexTables

/** `match_query('<root or registered name>', '<free text>', k
  * [, 'or'|'and'|'phrase'])` — the SQL surface of the search engine
  * (SURVEY.md §7.3 phase 3): a table-valued function that tokenizes
  * the query text with the analyzer the index was BUILT with
  * (restored from its snapshot), runs block-max WAND top-k — or the
  * pruned positional phrase plan — over the persisted index, and
  * exposes the hits as a relation (docId BIGINT, score DOUBLE).
  *
  * The TVF builder substitutes the ANALYZED WAND plan directly into
  * the query tree — Catalyst then optimizes and plans it like any
  * other subtree. No custom SparkStrategy is needed because the
  * operator is fully declarable (the repo's stated preference order:
  * compose existing plans before writing physical operators); the
  * per-shard WAND cogroup inside that subtree is the same plan
  * `Searcher.topK` produces for the Dataset API, so SQL and
  * Dataset callers are rank-identical by construction.
  */
object MatchQuery {

  type TableDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  /** Loaded indexes are build-once/query-many artifacts — memoized and
    * cached per root like EngineQueries' per-dir cache
    * (`InvertedIndex.cache`: the first query pays one shuffle of the
    * postings and docs onto their shard, and every later query's shard
    * cogroup reads them in place). The cache key carries a SNAPSHOT
    * VERSION (`IndexTables.snapshotVersion`: manifest + stats.json
    * mtimes and sizes): a root rewritten in place (e.g. by a later
    * compaction at the same path) changes its manifests' timestamps,
    * so the stale entry simply stops being hit instead of serving old
    * data for the JVM lifetime. Stale entries are evicted and
    * unpersisted on replacement (same root, new version), which also
    * drops their driver-side dictionary. */
  private val indexCache = TrieMap.empty[String, (String, InvertedIndex)]

  private def loadCached(spark: SparkSession, root: String): InvertedIndex = {
    val ver = IndexTables.snapshotVersion(root)
    indexCache.get(root) match {
      case Some((v, idx)) if v == ver => idx
      case stale =>
        stale.foreach(_._2.unpersist())
        val idx = IndexTables.load(spark, root).cache()
        indexCache.put(root, (ver, idx))
        idx
    }
  }

  /** Named-index catalog: `registerIndex("code", root)` lets SQL read
    * `match_query('code', …)` instead of a filesystem path. Names
    * resolve before paths; unregistered strings are treated as roots.
    * (The TVF still requires LITERAL arguments — the builder runs at
    * analysis time, so the root/name, query text and k cannot come
    * from columns. Documented limitation.) */
  private val catalog = TrieMap.empty[String, String]

  def registerIndex(name: String, root: String): Unit = {
    catalog.put(name, root); ()
  }

  private def strArg(args: Seq[Expression], i: Int, name: String): String = {
    require(args(i).foldable, s"match_query: $name must be a literal")
    args(i).eval() match {
      case s: UTF8String => s.toString
      case other => sys.error(s"match_query: $name must be a string, got $other")
    }
  }

  private def intArg(args: Seq[Expression], i: Int, name: String): Int = {
    require(args(i).foldable, s"match_query: $name must be a literal")
    args(i).eval() match {
      case n: java.lang.Integer => n.intValue()
      case n: java.lang.Long => n.intValue()
      case other => sys.error(s"match_query: $name must be an integer, got $other")
    }
  }

  private def build(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 4,
      "usage: match_query(root, query, k[, 'or'|'and'|'phrase'|'query'])")
    val spark = SparkSession.active
    val rootArg = strArg(args, 0, "root")
    val root = catalog.getOrElse(rootArg, rootArg)
    val query = strArg(args, 1, "query")
    val k = intArg(args, 2, "k")
    val mode =
      if (args.length > 3) strArg(args, 3, "mode").toLowerCase(java.util.Locale.ROOT)
      else "or"
    require(mode == "or" || mode == "and" || mode == "phrase" || mode == "query",
      s"match_query: mode must be 'or'|'and'|'phrase'|'query', got $mode")
    // The query text is tokenized with the analyzer the index was
    // BUILT with (restored from the snapshot's stats.json — a
    // stats-only read, so a query that tokenizes to zero terms
    // returns the empty relation WITHOUT loading or caching the
    // tables) — a mismatched analyzer silently mis-tokenizes queries
    // (e.g. the standard analyzer keeps `snake_case` whole while a
    // code-identifier index only holds `snake`/`case`). phrase keeps
    // the emitted slot sequence (order + duplicates); or/and
    // deduplicate. Stop words collapse out of the phrase (the
    // analyzer removes them before slots form) — same quirk as a
    // Lucene PhraseQuery built on a stop-filtered token stream.
    // `query` mode runs the full classic parser (+must -not "phrase"
    // AND/OR) — parse errors surface at analysis time, like any other
    // TVF argument error; the parse also decides emptiness up front
    val (_, lightCfg) = IndexTables.loadStatsAndConfig(root)
    val parsed =
      if (mode == "query") graft.query.QueryParser.parse(query, lightCfg.analyzer)
      else null
    val slots = {
      val b = Seq.newBuilder[String]
      lightCfg.analyzer.foreachEmitted(query)((t, _) => b += t)
      b.result()
    }
    val empty =
      if (mode == "query") !parsed.hasScoring
      else slots.isEmpty
    val df =
      if (empty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("docId", LongType), StructField("score", DoubleType))))
      else {
        val searcher = new Searcher(spark, loadCached(spark, root))
        if (mode == "query") searcher.search(query, k)
        else if (mode == "phrase") searcher.phraseTopK(slots, k)
        else searcher.topK(slots.distinct, k, BM25(), requireAll = mode == "and")
      }
    df.queryExecution.analyzed
  }

  val description: TableDescription = (
    FunctionIdentifier("match_query"),
    new ExpressionInfo("graft.sql.MatchQuery", null, "match_query",
      "match_query(root, query, k[, mode]) - BM25 block-max-WAND top-k " +
        "over the persisted index at root; mode 'or' (default), 'and', " +
        "'phrase' or 'query' (classic +must -not \"phrase\" AND/OR syntax)", ""),
    (args: Seq[Expression]) => build(args))

  /** Imperative registration on an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry
      .registerFunction(description._1, description._2, description._3)
}
