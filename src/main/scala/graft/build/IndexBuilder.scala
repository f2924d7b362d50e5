package graft.build

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.codec.PostingsCodec
import graft.model.{CodeDoc, CorpusStats, Phases, Posting}

/** Build configuration.
  *
  * @param shardSizeDocs docId-range width of one posting shard. A term's
  *   posting list is stored as one row per (term, shard) — the explicit
  *   skew strategy mandated by the north rule: a term appearing in
  *   every document ("public", "import") is built by
  *   ceil(N/shardSizeDocs) independent reducers instead of one, and
  *   query-side merge is pure concatenation of range-disjoint block
  *   lists (replaces the reference's single-row-per-term layout,
  *   hbasene HBaseIndexStore.java:215-240, which cannot scale past one
  *   region server per hot term).
  */
final case class IndexConfig(
    shardSizeDocs: Long = 1L << 20,
    /** Store the raw content column in the docs table. The reference
      * does NOT store analyzed fields (content was indexed, not
      * stored — AbstractHBaseneTest.java:99-113); at corpus scale the
      * index should carry metadata (docKey, dl, sha256, stored
      * fields) and leave the text in the source table. Kept on by
      * default for API convenience on small tables. */
    storeContent: Boolean = true,
    /** Pluggable analyzer (≙ the reference's by-class-name analyzer
      * selection, create/IndexConfiguration.java:167-174). Default is
      * the oracle-parity standard analyzer; queries against an index
      * must tokenize with the SAME analyzer it was built with. */
    analyzer: graft.analysis.TextAnalyzer = Analyzer)

/** The built index: two stored tables (SURVEY.md §1.6), the views
  * derived from them, and an optional tombstone set.
  *
  *   docs      — (docId, dl, content_sha256, + source columns)
  *   postings  — (field, term, shard, df, cf, maxTf, blob)
  *   termStats — (field, term, df, cf, maxTf): the term dictionary,
  *               `termStatsOf(postings)` (shards merged); on a cached
  *               index, the driver-side dictionary's rows (`cache()`)
  *   stats     — broadcastable corpus stats (N, avgdl)
  *   deletes   — (docId) tombstones: docs excluded from every query
  *               path at read time (Lucene delete semantics — the
  *               reference DECLARES this API but stubs it,
  *               HBaseIndexReader.java:115-132). Like Lucene, df/idf
  *               and corpus stats stay stale until the deletes are
  *               applied PHYSICALLY (Deletes.applied / compaction),
  *               which rewrites postings/docs and refreshes stats.
  */
final class InvertedIndex private (
    val docs: DataFrame,
    val postings: DataFrame,
    statsThunk: () => CorpusStats,
    val config: IndexConfig,
    val deletes: Option[DataFrame],
    /** Corpus stats derive from docs (`InvertedIndex.derived`) —
      * `cache()` re-derives them from the cached frame. */
    derived: Boolean,
    /** Set by `cache()`: docs plus its shard column, hash-partitioned
      * on it and cached; `docs` is this frame without the column. */
    cachedShardDocs: Option[DataFrame],
    /** Set by `cache()`: the driver-side dictionary of the cached
      * postings, shared by tombstoned copies. */
    dictSlot: Option[TermDictionary.Slot]) {

  def this(docs: DataFrame, postings: DataFrame,
      statsThunk: () => CorpusStats, config: IndexConfig,
      deletes: Option[DataFrame] = None) =
    this(docs, postings, statsThunk, config, deletes, false, None, None)

  private lazy val mergedTermStats = InvertedIndex.termStatsOf(postings)

  /** The merged term dictionary (field, term, df, cf, maxTf). On a
    * cached index the first use fetches the driver-side dictionary
    * (`cache()`). */
  def termStats: DataFrame = dictSlot.fold(mergedTermStats)(_.termStats)

  /** The driver-side dictionary of a cached index within its bound
    * (`cache()`), fetched on first use; None on any other index, which
    * reads its dictionary from the postings per query. */
  private[graft] def dictionary: Option[TermDictionary] = dictSlot.flatMap(_.dictionary)

  /** Corpus stats are LAZY: computed on first query, not at build
    * time — the build/write path derives them from the written docs
    * table instead of forcing an extra full pass over the corpus. */
  lazy val stats: CorpusStats = statsThunk()

  /** Tombstone `docIds` (read-time deletion). Cumulative: stacking
    * calls unions the sets. The column is normalized to a single
    * `docId` long so callers can pass any one-column id frame. */
  def withDeletes(del: DataFrame): InvertedIndex = {
    val norm = del.select(col(del.columns.head).cast("long").as("docId"))
    withDeleteSet(Some(deletes.map(_.union(norm)).getOrElse(norm)))
  }

  /** Drop every tombstone (the reference's `undeleteAll`,
    * HBaseIndexReader.java:125-128): tombstones are read-time state on
    * this handle, so un-deleting is just forgetting them — possible
    * only BEFORE a physical apply/compaction rewrites the tables
    * (after that the docs are gone, same as Lucene post-merge). */
  def undeleteAll(): InvertedIndex =
    if (deletes.isEmpty) this else withDeleteSet(None)

  /** The same index with another tombstone set: tables, stats and the
    * dictionary carry over (df stays stale until a physical apply). */
  private def withDeleteSet(del: Option[DataFrame]): InvertedIndex =
    new InvertedIndex(docs, postings, statsThunk, config, del, derived,
      cachedShardDocs, dictSlot)

  /** `docs` with its doc-range shard in column `InvertedIndex.ShardCol`:
    * on a cached index the cached frame, hash-partitioned on it like
    * `postings` is on `shard`; otherwise derived from docId. */
  private[graft] def docsWithShard: DataFrame = cachedShardDocs.getOrElse(
    docs.withColumn(InvertedIndex.ShardCol,
      InvertedIndex.shardOf(col("docId"), config.shardSizeDocs)))

  /** The cached form of this index; query the index it RETURNS (this
    * handle stays uncached). Its postings, and its docs with their
    * doc-range shard, are hash-partitioned on the shard into the
    * session's default parallelism and cached, so the shard cogroup of
    * every query on it reads both sides where they sit — no exchange.
    * A derived index re-derives corpus stats from the cached docs
    * (never from the build lineage); tombstones carry over. `docs`
    * keeps its columns, so applying deletes or writing the cached index
    * writes the same tables.
    *
    * The cached index also keeps its term dictionary on the driver
    * (`TermDictionary`): each posting row's (field, term, shard, df,
    * cf, maxTf), no blob, sorted by (field, term, shard). Its first use
    * — `termStats`, or the first query — fetches it by ONE bounded
    * collect on the cached postings, which also materializes their
    * cache. Query metadata (term dfs and shard sets), `docFreqs`,
    * `termEnum` and every multi-term expansion then read it with no
    * Spark job. BOUND: the driver budget is the session's
    * `spark.sql.autoBroadcastJoinThreshold` at `cache()` time, charged
    * `TermDictionary.RowBytes` (128) bytes per posting row — 81,920
    * rows at the 10 MiB default — and the collect takes at most one
    * row more. FALLBACK: a dictionary over the bound (or a disabled
    * threshold) is not held; the cached index then aggregates
    * `termStats` over its cached postings and caches it, and each query
    * collects its metadata from the postings, as an uncached index
    * does. `unpersist()` drops the dictionary.
    *
    * On a cached index, re-marks its frames for caching and returns it;
    * a dictionary dropped by `unpersist()` is fetched again on next use. */
  def cache(): InvertedIndex = cachedShardDocs match {
    case Some(sd) =>
      sd.cache(); postings.cache(); dictSlot.foreach(_.rearm()); this
    case None =>
      val spark = postings.sparkSession
      val n = spark.sparkContext.defaultParallelism
      val p = postings.withColumn("shard", InvertedIndex.nonNullShard(col("shard")))
        .repartition(n, col("shard")).cache()
      val sd = docsWithShard.repartition(n, col(InvertedIndex.ShardCol)).cache()
      val d = sd.drop(InvertedIndex.ShardCol)
      val st = if (derived) () => InvertedIndex.corpusStatsOf(d) else statsThunk
      val maxRows = math.min(spark.sessionState.conf.autoBroadcastJoinThreshold /
        TermDictionary.RowBytes, Int.MaxValue - 1L).toInt
      new InvertedIndex(d, p, st, config, deletes, derived, Some(sd),
        Some(new TermDictionary.Slot(p, maxRows)))
  }

  /** Unpersist the cached frames and drop the driver-side dictionary. */
  def unpersist(): Unit = {
    (Seq(docs, postings) ++ cachedShardDocs).foreach(_.unpersist())
    dictSlot match {
      case Some(slot) => slot.release()
      case None => mergedTermStats.unpersist(); ()
    }
  }
}

object InvertedIndex {
  /** An index over stored tables with known corpus stats. */
  def apply(docs: DataFrame, postings: DataFrame, stats: CorpusStats,
      config: IndexConfig): InvertedIndex =
    new InvertedIndex(docs, postings, () => stats, config)

  /** An index whose corpus stats derive from its own docs table,
    * lazily on first query from the dl column (`corpusStatsOf`) — no
    * extra pass over the corpus at build time. */
  def derived(docs: DataFrame, postings: DataFrame, config: IndexConfig): InvertedIndex =
    new InvertedIndex(docs, postings, () => corpusStatsOf(docs), config, None, true, None, None)

  /** Shard column of `docsWithShard` — a name no source table uses, so
    * a source column called `shard` keeps its values. */
  private[graft] val ShardCol = "_graft_shard"

  /** A shard key as a never-null long: both sides of the shard cogroup
    * key on it, and a cogroup requires equal key schemas, nullability
    * included. */
  private[graft] def nonNullShard(shard: Column): Column = coalesce(shard, lit(0L))

  /** Doc-range shard of a docId column: docId / shardSizeDocs. */
  private[graft] def shardOf(docId: Column, shardSizeDocs: Long): Column =
    nonNullShard((docId / lit(shardSizeDocs)).cast("long"))

  /** Global dictionary stats — per-shard posting rows merged by a light
    * aggregation (no payload movement; ≙ reference docFreq,
    * HBaseIndexReader.java:135-155). */
  def termStatsOf(postings: DataFrame): DataFrame =
    postings.groupBy("field", "term").agg(
      sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"))

  /** The corpus stats aggregates over a docs table, `n` and `avgdl`
    * (reference counter rows, HBaseIndexReader.java:231-266) — from the
    * dl column only, so a scan or a write job can compute them. */
  def corpusStatsCols: Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("n"), avg(col("dl").cast("double")).as("avgdl"))

  /** (N, avgdl) of a docs table; an empty table has avgdl 0. */
  def corpusStatsOf(docs: DataFrame): CorpusStats = {
    val r = docs.agg(corpusStatsCols.head, corpusStatsCols.tail: _*).collect()(0)
    CorpusStats(r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }
}

/** Index build DAG (SURVEY.md §3.1 "Spark shape"):
  *
  *   Dataset[doc] → dense docIDs → mapPartitions(tokenize, doc-local
  *   tf/pos aggregation, encode partial posting segments) →
  *   mergeSegmentRows by (field, term, docRangeShard) →
  *   postings/docs (termStats and stats derive from them).
  *
  * Everything is DataFrame/Dataset; the only wide shuffles are the
  * docID range partitioning (code path) and the segment merge.
  */
object IndexBuilder {

  val TokenizedField = "content"

  /** Job description of the jobs a build entry point launches itself:
    * `fromCodeDocs`' docId assignment, and the source's schema inference
    * where no footer gave the schema (`fromParquetTable` reads it from
    * the footers it opens for the docId offsets). The build's
    * tokenize and merge are lazy; they run in the job that first reads
    * the postings (`IndexTables.PostingsPhase` for a write). */
  private[graft] val BuildPhase = "graft build: source + docIds"

  /** Growable unboxed int buffer for per-(doc, term) positions —
    * ArrayBuffer[Int] would box every position. */
  private[graft] final class IntBuf {
    private var arr = new Array[Int](4)
    private var len = 0
    def add(v: Int): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, len * 2)
      arr(len) = v
      len += 1
    }
    def length: Int = len
    /** Backing array — valid up to `length`. */
    def raw: Array[Int] = arr
    def toArray: Array[Int] = java.util.Arrays.copyOf(arr, len)
    /** Logical reset — capacity retained for reuse. */
    def clear(): Unit = len = 0
  }

  /** Reusable per-task scratch for one document's (term → positions)
    * aggregation: open-addressing table + pooled IntBufs, reset per
    * doc with capacity retained. The naive shape (a fresh
    * LinkedHashMap + a fresh IntBuf per distinct term per doc) costs
    * ~40-plus short-lived objects per document — tens of millions per
    * million docs — and that young-gen churn is what collapses
    * tokenize scaling as concurrent task count grows (32 allocating
    * threads share one young gen; measured map-phase/core throughput
    * fell 2.4× beyond the host's own 8→32 ceiling before this).
    * Iteration order (first occurrence in doc) matches the old
    * LinkedHashMap exactly, so partial emission order — and therefore
    * blob byte-identity — is unchanged. */
  private[graft] final class DocTermScratch {
    private var cap = 512 // power of two, ≥ 2× typical distinct terms
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var idxs = new Array[Int](cap)
    private var terms = new Array[String](128)
    private var pool = new Array[IntBuf](128)
    /** Occupied table slot per entry (parallel to terms) — reset
      * clears ONLY these, so one term-rich doc that grew the table
      * doesn't inflate every later doc's reset to O(cap): reset cost
      * stays proportional to THIS doc's distinct terms. Rebuilt on
      * growTable alongside the rehash. */
    private var slots = new Array[Int](128)
    /** Partition-level TermTable entry index per doc-local entry —
      * lets the per-doc flush reach the term's partition accumulator
      * by array index, zero hash probes. */
    private var tidxs = new Array[Int](128)
    private var n = 0

    def reset(): Unit = {
      var i = 0
      while (i < n) { keys(slots(i)) = null; i += 1 }
      n = 0
    }

    private def insertNew(term: String, tidx: Int, slot: Int, pos: Int): Unit = {
      if (n == terms.length) {
        terms = java.util.Arrays.copyOf(terms, n * 2)
        pool = java.util.Arrays.copyOf(pool, n * 2)
        slots = java.util.Arrays.copyOf(slots, n * 2)
        tidxs = java.util.Arrays.copyOf(tidxs, n * 2)
      }
      if (pool(n) == null) pool(n) = new IntBuf
      pool(n).clear()
      pool(n).add(pos)
      terms(n) = term
      tidxs(n) = tidx
      keys(slot) = term
      idxs(slot) = n
      slots(n) = slot
      n += 1
      if (n * 4 > cap * 3) growTable()
    }

    /** Interned buffer-keyed add — the segment-partials hot path: on a
      * term's first occurrence in the DOC, the canonical String and
      * partition accumulator index come from the partition-level
      * TermTable (which allocates the String only on the term's first
      * occurrence in the PARTITION — per-(doc, term) String churn
      * becomes per-(partition, term)); the per-doc flush then reaches
      * the accumulator via tidx(i), zero hash probes. One char-hash
      * computation serves both tables (String.hashCode-compatible). */
    def addBufInterned(buf: Array[Char], len: Int, pos: Int, table: TermTable): Unit = {
      var h = 0
      var i = 0
      while (i < len) { h = h * 31 + buf(i); i += 1 }
      var s = h & mask
      while (true) {
        val k = keys(s)
        if (k == null) {
          val ti = table.internIdx(buf, len, h)
          insertNew(table.term(ti), ti, s, pos)
          return
        } else if (k.length == len && regionEq(k, buf, len)) {
          pool(idxs(s)).add(pos)
          return
        } else s = (s + 1) & mask
      }
    }

    def tidx(i: Int): Int = tidxs(i)

    private def regionEq(k: String, buf: Array[Char], len: Int): Boolean = {
      var i = 0
      while (i < len) {
        if (k.charAt(i) != buf(i)) return false
        i += 1
      }
      true
    }

    private def growTable(): Unit = {
      cap *= 2; mask = cap - 1
      keys = new Array[String](cap)
      idxs = new Array[Int](cap)
      var i = 0
      while (i < n) {
        var s = terms(i).hashCode & mask
        while (keys(s) != null) s = (s + 1) & mask
        keys(s) = terms(i); idxs(s) = i; slots(i) = s
        i += 1
      }
    }

    /** Distinct terms in this doc, first-seen order via term(i)/buf(i). */
    def size: Int = n
    def term(i: Int): String = terms(i)
    def buf(i: Int): IntBuf = pool(i)
  }

  private[graft] final class LongBuf {
    private var arr = new Array[Long](8)
    private var len = 0
    def add(v: Long): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, len * 2)
      arr(len) = v
      len += 1
    }
    def length: Int = len
    def raw: Array[Long] = arr
  }

  /** Columnar partial posting accumulator for one (field, term) in one
    * input partition: parallel docId/tf arrays + flattened positions —
    * no Posting objects, no per-posting position arrays. */
  private[graft] final class PartialAcc {
    val docIds = new LongBuf
    val tfs = new IntBuf
    val posFlat = new IntBuf
    def add(docId: Long, ps: IntBuf): Unit = {
      docIds.add(docId)
      tfs.add(ps.length)
      val raw = ps.raw
      var i = 0
      while (i < ps.length) { posFlat.add(raw(i)); i += 1 }
    }
    /** Untokenized field value: tf 1, sentinel position 0. */
    def addSentinel(docId: Long): Unit = {
      docIds.add(docId); tfs.add(1); posFlat.add(0)
    }
  }

  /** Partition-level term interner + accumulator registry for one
    * (input partition, field): open-addressing by char content (hash
    * String.hashCode-compatible), entry = (canonical term String,
    * PartialAcc). A term String is allocated once per PARTITION, not
    * once per (doc, term) — on an 800k-file corpus that removes tens
    * of millions of short-lived Strings from the 32-thread shared
    * young gen (the measured residual of the 8→32 map-phase scaling
    * gap) — and the doc flush addresses accumulators by entry index,
    * replacing a LinkedHashMap probe per (doc, distinct term).
    * Iteration order (entry index) = first occurrence in partition,
    * identical to the previous LinkedHashMap emission order, so the
    * partial rows — and blob bytes — are unchanged. */
  private[graft] final class TermTable {
    private var cap = 8192
    private var mask = cap - 1
    private var keys = new Array[String](cap)
    private var idxs = new Array[Int](cap)
    private var terms = new Array[String](4096)
    private var accs = new Array[PartialAcc](4096)
    private var n = 0

    def size: Int = n
    def term(i: Int): String = terms(i)
    def acc(i: Int): PartialAcc = accs(i)

    /** Entry index for the term in `buf[0,len)` (h = its
      * String.hashCode); inserts a new entry with a fresh PartialAcc
      * on first sight. */
    def internIdx(buf: Array[Char], len: Int, h: Int): Int = {
      var s = h & mask
      while (true) {
        val k = keys(s)
        if (k == null) {
          if (n == terms.length) {
            terms = java.util.Arrays.copyOf(terms, n * 2)
            accs = java.util.Arrays.copyOf(accs, n * 2)
          }
          terms(n) = new String(buf, 0, len)
          accs(n) = new PartialAcc
          keys(s) = terms(n)
          idxs(s) = n
          n += 1
          if (n * 4 > cap * 3) grow()
          return n - 1
        } else if (k.length == len && eq(k, buf, len)) return idxs(s)
        else s = (s + 1) & mask
      }
      -1 // unreachable
    }

    private def eq(k: String, buf: Array[Char], len: Int): Boolean = {
      var i = 0
      while (i < len) {
        if (k.charAt(i) != buf(i)) return false
        i += 1
      }
      true
    }

    private def grow(): Unit = {
      cap *= 2; mask = cap - 1
      keys = new Array[String](cap)
      idxs = new Array[Int](cap)
      var i = 0
      while (i < n) {
        var s = terms(i).hashCode & mask
        while (keys(s) != null) s = (s + 1) & mask
        keys(s) = terms(i); idxs(s) = i
        i += 1
      }
    }
  }

  /** Map-side partial posting segments: each input partition
    * tokenizes its docs and encodes COMPLETE partial posting lists
    * locally, emitting one compact row per (field, term, shard) with
    * the already-encoded blocks. Only these bytes shuffle (~10× less
    * than raw occurrence rows). Requires rows docId-ordered within
    * the partition (true for both docID modes). */
  private[graft] def segmentPartials(
      spark: SparkSession,
      slim: DataFrame,
      tokenized: Seq[String],
      untokenized: Seq[String],
      shardSize: Long,
      analyzer: graft.analysis.TextAnalyzer = Analyzer): DataFrame = {
    import spark.implicits._
    slim.mapPartitions { rows =>
      // per tokenized field: a TermTable (char-keyed interner + columnar
      // accumulators — one String per (partition, term), doc flush by
      // entry index); untokenized fields keep a small LinkedHashMap
      // (values are few and arrive as Strings already)
      val tokTables = Array.fill(tokenized.length)(new TermTable)
      val untokMaps = Array.fill(untokenized.length)(
        scala.collection.mutable.LinkedHashMap.empty[String, PartialAcc])
      // reusable doc-local scratch (see DocTermScratch) + field
      // ordinals resolved ONCE (getAs(name) does a schema lookup per
      // call — per-row × per-field that is millions of needless
      // string-hash probes)
      val scratch = new DocTermScratch
      // one hoisted emit-callback per tokenized field (closure capture
      // of its TermTable) — no lambda allocation per (row, field)
      val scratchAdds: Array[(Array[Char], Int, Int) => Unit] =
        Array.tabulate(tokenized.length) { fi =>
          val t = tokTables(fi)
          (buf, len, pos) => scratch.addBufInterned(buf, len, pos, t)
        }
      var docIdOrd = -1
      var tokOrds: Array[Int] = null
      var untokOrds: Array[Int] = null
      rows.foreach { row =>
        if (tokOrds == null) {
          docIdOrd = row.fieldIndex("docId")
          tokOrds = tokenized.map(row.fieldIndex).toArray
          untokOrds = untokenized.map(row.fieldIndex).toArray
        }
        val docId = row.getLong(docIdOrd)
        var fi = 0
        while (fi < tokOrds.length) {
          val table = tokTables(fi)
          // doc-local (term → positions) aggregation, then one append
          // per distinct term into the partition-level columnar run
          scratch.reset()
          analyzer.foreachEmittedBuf(row.getString(tokOrds(fi)))(scratchAdds(fi))
          var i = 0
          val nTerms = scratch.size
          while (i < nTerms) {
            table.acc(scratch.tidx(i)).add(docId, scratch.buf(i))
            i += 1
          }
          fi += 1
        }
        fi = 0
        while (fi < untokOrds.length) {
          val v = row.getString(untokOrds(fi))
          if (v != null && v.nonEmpty)
            untokMaps(fi).getOrElseUpdate(
              v.toLowerCase(java.util.Locale.ROOT), new PartialAcc)
              .addSentinel(docId)
          fi += 1
        }
      }
      // emission order = field declaration order, entries in first-
      // occurrence-in-partition order — identical to the previous
      // per-field LinkedHashMap iteration
      tokenized.iterator.zip(tokTables.iterator).flatMap { case (f, tbl) =>
        (0 until tbl.size).iterator
          .flatMap(i => emitShardRuns(f, tbl.term(i), tbl.acc(i), shardSize))
      } ++ untokenized.iterator.zip(untokMaps.iterator).flatMap { case (f, m) =>
        m.iterator.flatMap { case (t, acc) => emitShardRuns(f, t, acc, shardSize) }
      }
    }.toDF("field", "term", "shard", "df", "cf", "maxTf", "blob")
  }

  /** Split one (field, term) columnar run by shard boundary and encode
    * each run straight from the columnar arrays. Rows are usually
    * docId-ordered within a partition, but file bin-packing can
    * interleave ranges — verified; the rare unsorted case materializes
    * and sorts Posting objects. */
  private def emitShardRuns(
      f: String,
      t: String,
      acc: PartialAcc,
      shardSize: Long): Iterator[(String, String, Long, Long, Long, Int, Array[Byte])] = {
    val n = acc.docIds.length
    var dIds = acc.docIds.raw
    var tfsR = acc.tfs.raw
    var posR = acc.posFlat.raw
    var sorted = true
    var c = 1
    while (sorted && c < n) {
      if (dIds(c - 1) > dIds(c)) sorted = false
      c += 1
    }
    if (!sorted) {
      // materialize, sort, rebuild the columnar run
      val ps = new Array[Posting](n)
      var i = 0
      var off = 0
      while (i < n) {
        ps(i) = Posting(dIds(i), tfsR(i),
          java.util.Arrays.copyOfRange(posR, off, off + tfsR(i)))
        off += tfsR(i)
        i += 1
      }
      java.util.Arrays.sort(ps, Ordering.by((p: Posting) => p.docId))
      val re = new PartialAcc
      ps.foreach { p =>
        val b = new IntBuf
        p.positions.foreach(b.add)
        re.add(p.docId, b)
      }
      dIds = re.docIds.raw; tfsR = re.tfs.raw; posR = re.posFlat.raw
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long, Long, Int, Array[Byte])]
    var i = 0
    var posOff = 0
    while (i < n) {
      val shard = dIds(i) / shardSize
      var j = i
      var cf = 0L
      var maxTf = 0
      while (j < n && dIds(j) / shardSize == shard) {
        cf += tfsR(j); if (tfsR(j) > maxTf) maxTf = tfsR(j)
        j += 1
      }
      val blob = PostingsCodec.encodeColumnarBlob(dIds, tfsR, posR, i, j, posOff)
      out += ((f, t, shard, (j - i).toLong, cf, maxTf, blob))
      var k = i
      while (k < j) { posOff += tfsR(k); k += 1 }
      i = j
    }
    out.iterator
  }

  /** Segment merge: combines partial posting rows per (field, term,
    * shard) — the build's map-side partials and the streaming
    * ingester's per-micro-batch partials. Partials are docId-range
    * disjoint (docIds are contiguous per input partition), so the
    * merge is block-list concatenation in minDoc order with zero
    * re-encode (see mergeBlobs for the verified fallback and the
    * under-filled-block compaction).
    *
    * The partials are shuffled and RADIX-SORTED by (field, term,
    * shard, firstDoc) and merged in one streaming pass: each blob is
    * touched once on the reduce side and only ONE group's blobs are in
    * flight at a time. A hash aggregation (collect_list + concat)
    * buffers every group's blobs in aggregation state; this shape
    * measured 2× better thread-scaling on the merge increment and has
    * no agg-spill risk for very-high-df terms (a df=10^9 term has
    * #input-partition partial rows). */
  def mergeSegmentRows(
      partials: DataFrame,
      cfg: IndexConfig): DataFrame = {
    val spark = partials.sparkSession
    import spark.implicits._
    val nPart = spark.sessionState.conf.numShufflePartitions
    val firstDocUdf = udf((b: Array[Byte]) => PostingsCodec.blobFirstMinDoc(b))
    val sorted = partials.withColumn("firstDoc", firstDocUdf(col("blob")))
      .repartition(nPart, col("field"), col("term"), col("shard"))
      .sortWithinPartitions("field", "term", "shard", "firstDoc")
      .select("field", "term", "shard", "df", "cf", "maxTf", "blob")
      .as[(String, String, Long, Long, Long, Int, Array[Byte])]
    sorted.mapPartitions { it =>
      new Iterator[(String, String, Long, Long, Long, Int, Array[Byte])] {
        private var cur: (String, String, Long) = null
        private var df = 0L
        private var cf = 0L
        private var maxTf = 0
        private val blobs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        private var pending: (String, String, Long, Long, Long, Int, Array[Byte]) = null

        private def emit() = {
          val out = (cur._1, cur._2, cur._3, df, cf, maxTf,
            mergeBlobs(blobs.toSeq, df))
          blobs.clear(); df = 0L; cf = 0L; maxTf = 0
          out
        }

        def hasNext: Boolean = pending != null || it.hasNext || blobs.nonEmpty

        def next(): (String, String, Long, Long, Long, Int, Array[Byte]) = {
          while (true) {
            val row = if (pending != null) { val r = pending; pending = null; r }
              else if (it.hasNext) it.next()
              else return emit()
            val key = (row._1, row._2, row._3)
            if (cur == null) cur = key
            if (key == cur) {
              df += row._4; cf += row._5
              if (row._6 > maxTf) maxTf = row._6
              blobs += row._7
            } else {
              pending = row
              val out = emit()
              cur = key
              return out
            }
          }
          throw new IllegalStateException("unreachable")
        }
      }
    }.toDF("field", "term", "shard", "df", "cf", "maxTf", "blob")
  }

  /** Merge docId-ordered partial blobs into one shard blob.
    *
    * Fast path: pure header rewrite + payload byte copy (zero decode).
    * It requires the concatenated block sequence to be STRICTLY
    * docId-increasing — this is verified here (per-blob order plus
    * cross-blob range disjointness), not assumed: fromText accepts any
    * pre-existing id column, and interleaved ids across input
    * partitions would otherwise corrupt block-skip (maxDoc-based
    * advanceTo) silently. On violation — or when concatenation would
    * leave badly under-filled blocks — fall back to
    * decode-sort-re-encode. */
  private[build] def mergeBlobs(parts: Seq[Array[Byte]], df: Long): Array[Byte] = {
    if (parts.length == 1) return parts.head
    val views = parts.map(b => new PostingsCodec.BlobView(b))
    var ordered = true
    var prevMax = Long.MinValue
    views.foreach { v =>
      if (v.nBlocks > 0) {
        if (v.firstMinDoc <= prevMax || !v.isDocOrdered) ordered = false
        prevMax = math.max(prevMax, v.lastMaxDoc)
      }
    }
    val totalBlocks = views.iterator.map(_.nBlocks).sum
    val fragmented = df < totalBlocks.toLong * (PostingsCodec.BlockSize / 2)
    if (ordered && !fragmented) PostingsCodec.concatBlobs(parts)
    else {
      val all = views.iterator.flatMap(_.allPostings).toArray
      java.util.Arrays.sort(all, Ordering.by((p: Posting) => p.docId))
      // a docId present in TWO partials (e.g. a re-ingested id in a
      // later streaming batch) would double-count df/cf and per-doc
      // scores — id collisions must fail loudly, not corrupt silently
      var i = 1
      while (i < all.length) {
        require(all(i - 1).docId != all(i).docId,
          s"duplicate docId ${all(i).docId} across partial posting blobs — " +
            "the same document was indexed twice under one id")
        i += 1
      }
      PostingsCodec.encodePostingsBlob(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(all))
    }
  }

  /** Build straight from a parquet table of CodeDocs with docIDs
    * derived from FILE METADATA: per-file base offsets come from the
    * parquet footers (driver-side metadata reads, no Spark job) and
    * the in-file ordinal from the `_metadata.row_index` column — so
    * dense, deterministic docIDs cost ZERO extra passes and zero
    * shuffle. Files are ordered by name (parquet part files sort
    * correctly). This is the intended 10^12-file entry point: the
    * catalog's file manifest plays the role of the offset table. */
  def fromParquetTable(
      spark: SparkSession,
      path: String,
      cfg: IndexConfig = IndexConfig()): InvertedIndex = {
    // local-FS fallback path: no catalog manifest, so per-file row
    // counts come from the parquet footers; with a real catalog use
    // fromTableSnapshot / fromParquetManifest instead, which skip
    // footer I/O entirely. The same footers give the source schema, so
    // the source read runs no schema-inference job
    val footers = graft.table.TableFormat.footers(spark, java.nio.file.Paths.get(path))
    fromFiles(spark, path, footers.map(f => (f.lineage.file, f.lineage.rows)),
      footers.headOption.flatMap(_.schema), cfg)
  }

  /** Build from a TableFormat-committed snapshot: the manifest already
    * carries per-file row counts (lineage), so docID base offsets cost
    * ZERO footer I/O — the catalog metadata IS the offset table, which
    * is the only form that works at 10^12 files. */
  def fromTableSnapshot(
      spark: SparkSession,
      root: String,
      table: String,
      cfg: IndexConfig = IndexConfig()): InvertedIndex = {
    val m = graft.table.TableFormat.readManifest(root, table)
    fromParquetManifest(spark, m.dataPath,
      m.files.map(f => (f.file, f.rows)), cfg)
  }

  /** Core metadata-docID build: `fileRows` = (fileName, rowCount) in
    * any order; files are ranked by name (parquet part files sort
    * correctly) and each row's docId = file base offset +
    * `_metadata.row_index` — dense, deterministic, zero extra passes
    * and zero shuffle. */
  def fromParquetManifest(
      spark: SparkSession,
      path: String,
      fileRows: Seq[(String, Long)],
      cfg: IndexConfig = IndexConfig()): InvertedIndex =
    fromFiles(spark, path, fileRows, None, cfg)

  /** `fromParquetManifest` with the source schema when the caller
    * already knows it (None: Spark infers it in a job). */
  private def fromFiles(
      spark: SparkSession,
      path: String,
      fileRows: Seq[(String, Long)],
      schema: Option[org.apache.spark.sql.types.StructType],
      cfg: IndexConfig): InvertedIndex =
    Phases.described(spark, BuildPhase) {
      build(spark, tableWithIds(spark, path, fileRows, schema, cfg.analyzer),
        Seq(TokenizedField), Seq("path", "lang"), cfg)
    }

  /** The annotated code-corpus docs DataFrame (docId from file-offset
    * metadata, docKey, sha256, dl) — the input of the parquet-table
    * build entry points.
    *
    * The (file_name → base offset) table is BROADCAST-JOINED on
    * `_metadata.file_name`, not shipped as a UDF closure map: a
    * closure copies the whole map into every task (at 10^8 manifest
    * entries, GBs × tasks), while a broadcast relation is
    * Catalyst-managed — built once, torrent-shipped once per executor,
    * and visible to the optimizer. Beyond broadcast size (≳10^8
    * files), the manifest itself should live as a distributed catalog
    * table and the prefix sum run as the two-level distributed pattern
    * (assignDocIds); the Seq-manifest entry points here are for
    * catalogs that fit on the driver. `schema`: the source's schema
    * when the caller knows it; None lets Spark infer it (a job). */
  private[graft] def tableWithIds(
      spark: SparkSession,
      path: String,
      fileRows: Seq[(String, Long)],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      analyzer: graft.analysis.TextAnalyzer = Analyzer): DataFrame = {
    import spark.implicits._
    var off = 0L
    val offsets = fileRows.sortBy(_._1).map { case (name, n) =>
      val o = (name, off); off += n; o
    }
    val offsetsDf = offsets.toDF("_graft_file", "_graft_base")
    graft.table.TableFormat.readParquet(spark, schema, Seq(path))
      .withColumn("_graft_file", col("_metadata.file_name"))
      .withColumn("_graft_ridx", col("_metadata.row_index"))
      // LEFT join + raise_error, not inner: an inner join would
      // silently DROP every row of a file absent from the manifest (a
      // stale listing builds a smaller index with no signal); the
      // closure-map UDF this replaced failed loudly, and so does this
      .join(broadcast(offsetsDf), Seq("_graft_file"), "left_outer")
      .withColumn("_graft_base",
        when(col("_graft_base").isNull, raise_error(concat(
          lit("parquet file missing from the docID manifest: "),
          col("_graft_file")))).otherwise(col("_graft_base")))
      .withColumn("docKey",
        concat_ws("", col("repo"), lit("/"), col("path"), lit("@"), col("commit")))
      .withColumn("docId", col("_graft_base") + col("_graft_ridx"))
      .drop("_graft_file", "_graft_base", "_graft_ridx")
      .withColumn("content_sha256", sha2(col("content"), 256))
      .withColumn("dl", docLenCol(col("content"), analyzer))
  }

  /** Dense, deterministic docID assignment without a single-point sort
    * (SURVEY.md §7.4 #2): range-partition by the natural key, sort
    * within partitions, take the intra-partition ordinal from
    * monotonically_increasing_id (== pid·2^33 + in-partition row
    * number), then add broadcast per-partition offsets. Two passes over
    * the shuffled data, no global bottleneck; stable under re-runs for
    * fixed input. */
  def assignDocIds(df: DataFrame, keyCols: Seq[String], nPartitions: Int): DataFrame = {
    val withCols = df
      .repartitionByRange(math.max(nPartitions, 1), keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .withColumn("_local", col("_mid").bitwiseAND(lit((1L << 33) - 1)))
    // localCheckpoint, NOT cache(): both passes (offset count +
    // downstream read) see one materialized copy, but the blocks free
    // when the plan is unreferenced instead of pinning in the session
    // CacheManager — repeated pipeline queries (termIds/shingleIds
    // call this per query) must not accumulate storage in a
    // long-lived session
    val sorted = withCols.localCheckpoint()
    val counts = sorted.groupBy("_pid").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var off = 0L
    val offsets = counts.map { case (pid, n) =>
      val o = (pid, off); off += n; o
    }.toMap
    // codegen'd literal-map lookup, not a Scala UDF: this projection
    // runs over every row being id-assigned (vocabulary-sized for
    // denseIds callers), and a row-at-a-time UDF there breaks
    // WholeStageCodegen for one broadcast-sized map probe
    sorted
      .withColumn("docId",
        element_at(typedlit(offsets), col("_pid")) + col("_local"))
      .drop("_mid", "_pid", "_local")
  }

  /** Build from the driver-mandated code-corpus shape
    * (repo, path, commit, lang, content). `content` is analyzed;
    * `path` and `lang` are indexed untokenized (reference's
    * untokenized-indexed fields, sentinel position 0). */
  def fromCodeDocs(
      spark: SparkSession,
      ds: Dataset[CodeDoc],
      cfg: IndexConfig = IndexConfig()): InvertedIndex = Phases.described(spark, BuildPhase) {
    val nPart = spark.sessionState.conf.numShufflePartitions
    val keyed = ds.toDF()
      .withColumn("docKey",
        concat_ws("", col("repo"), lit("/"), col("path"), lit("@"), col("commit")))
    val docs = assignDocIds(keyed, Seq("docKey"), nPart)
      .withColumn("content_sha256", sha2(col("content"), 256))
      .withColumn("dl", docLenCol(col("content"), cfg.analyzer))
    build(spark, docs,
      tokenized = Seq(TokenizedField),
      untokenized = Seq("path", "lang"),
      cfg)
  }

  /** Build over a generic documents table with an existing dense id
    * column (e.g. /root/testdata documents.parquet: doc_id, text). */
  def fromText(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      untokenized: Seq[String] = Nil,
      cfg: IndexConfig = IndexConfig()): InvertedIndex = {
    val docs = df
      .withColumn("docId", col(idCol).cast("long"))
      .withColumn("content_sha256", sha2(col(textCol), 256))
      .withColumn("dl", docLenCol(col(textCol), cfg.analyzer))
      .withColumnRenamed(textCol, TokenizedField)
    build(spark, docs, Seq(TokenizedField), untokenized, cfg)
  }

  /** dl via the analyzer's column expression (the default analyzer's
    * is a NATIVE codegen'd expression — stays inside WholeStageCodegen,
    * no UDF row conversion). Null text → dl 0, not NULL: avgdl must
    * include empty docs (oracle-parity contract), and a NULL dl would
    * nullify scoring-join contributions. */
  private def docLenCol(
      c: org.apache.spark.sql.Column,
      analyzer: graft.analysis.TextAnalyzer = Analyzer): org.apache.spark.sql.Column =
    coalesce(analyzer.docLenCol(c).cast("long"), lit(0L))

  /** Core DAG shared by both entry points. `docs` must carry docId,
    * dl, content_sha256 and the field columns. */
  private def build(
      spark: SparkSession,
      docs: DataFrame,
      tokenized: Seq[String],
      untokenized: Seq[String],
      cfg: IndexConfig): InvertedIndex = {
    val shardSize = cfg.shardSizeDocs
    val fieldCols = (tokenized ++ untokenized).distinct
    val slim = docs.select((Seq("docId") ++ fieldCols).map(col): _*)
    // drop the analyzed text from the STORED docs table when asked —
    // the index carries metadata; the corpus stays in the source table
    val storedDocs =
      if (cfg.storeContent) docs
      else docs.drop(TokenizedField)

    // map-side partial posting segments, merged per (field, term, shard)
    val postings = mergeSegmentRows(
      segmentPartials(spark, slim, tokenized, untokenized, shardSize,
        cfg.analyzer), cfg)

    InvertedIndex.derived(storedDocs, postings, cfg)
  }
}
