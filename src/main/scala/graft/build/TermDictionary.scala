package graft.build

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** The term dictionary of a cached index, held on the driver: every
  * posting row's (field, term, shard, df) without its blob, sorted by
  * (field, term, shard), plus each term's merged (df, cf, maxTf) as a
  * local relation (`termStats`). Strings order as Spark orders them, by
  * UTF-8 bytes (code points), so a filter + limit over `termStats`
  * returns the rows an `orderBy` over the postings' dictionary would.
  *
  * Lookups are binary searches over the terms (≙ the reference's
  * in-memory docFreq / TermEnum.skipTo, HBaseIndexReader.java:135-155);
  * a filter + limit over `termStats` plans as a driver-local relation
  * (Spark folds Filter, Limit and Project over a LocalRelation), so no
  * lookup and no expansion launches a job. */
private[graft] final class TermDictionary private (
    /** Per term, in (field, term) order. */
    termFields: Array[String],
    termTexts: Array[String],
    /** Rows of term i are rowStart(i) until rowStart(i + 1). */
    rowStart: Array[Int],
    /** Per row, in (field, term, shard) order. */
    shards: Array[Long],
    dfs: Array[Long],
    /** (field, term, df, cf, maxTf) per term, in (field, term) order —
      * the `InvertedIndex.termStatsOf` schema. */
    val termStats: DataFrame) {

  /** Rows held (one per posting row). */
  def size: Int = shards.length

  /** Index of (field, term), or -1. */
  private def find(field: String, term: String): Int = {
    var lo = 0
    var hi = termTexts.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = TermDictionary.compareKeys(termFields(mid), termTexts(mid), field, term)
      if (c < 0) lo = mid + 1 else if (c > 0) hi = mid - 1 else return mid
    }
    -1
  }

  /** (term, shard, df) of every posting row of `terms` in `field` —
    * the rows the per-query metadata collect reads from the postings. */
  def shardRows(field: String, terms: Seq[String]): Array[(String, Long, Long)] =
    terms.distinct.iterator.flatMap { t =>
      val i = find(field, t)
      if (i < 0) Iterator.empty
      else (rowStart(i) until rowStart(i + 1)).iterator.map(r => (t, shards(r), dfs(r)))
    }.toArray
}

private[graft] object TermDictionary {

  /** Driver bytes charged per dictionary row against the budget: two
    * longs per row, each term's strings and merged local-relation row
    * shared by its shards, and the collect's transient Row objects. */
  val RowBytes = 128L

  /** The columns fetched from the postings, in row order. */
  val Cols: Seq[String] = Seq("field", "term", "shard", "df", "cf", "maxTf")

  private[build] val TermStatsSchema = StructType(Seq(
    StructField("field", StringType), StructField("term", StringType),
    StructField("df", LongType), StructField("cf", LongType),
    StructField("maxTf", IntegerType)))

  /** Code-point (≡ UTF-8 byte, Spark's string) order of two strings:
    * UTF-16 order differs only where a surrogate meets a char at or
    * above U+E000, which the shift below puts back in code-point order. */
  private[build] def compareStrings(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      var c1 = a.charAt(i).toInt
      var c2 = b.charAt(i).toInt
      if (c1 != c2) {
        if (c1 >= 0xD800 && c2 >= 0xD800) {
          c1 = if (c1 >= 0xE000) c1 - 0x800 else c1 + 0x2000
          c2 = if (c2 >= 0xE000) c2 - 0x800 else c2 + 0x2000
        }
        return c1 - c2
      }
      i += 1
    }
    a.length - b.length
  }

  private def compareKeys(f1: String, t1: String, f2: String, t2: String): Int = {
    val c = compareStrings(f1, f2)
    if (c != 0) c else compareStrings(t1, t2)
  }

  /** The dictionary over collected `Cols` rows (any order). Each term's
    * df and cf sum, and its maxTf is the max, over its rows — the
    * aggregates of `InvertedIndex.termStatsOf`. */
  def apply(spark: SparkSession, rows: Array[Row]): TermDictionary = {
    val sorted = rows.sortWith { (a, b) =>
      val c = compareKeys(a.getString(0), a.getString(1), b.getString(0), b.getString(1))
      c < 0 || (c == 0 && a.getLong(2) < b.getLong(2))
    }
    val fields = Array.newBuilder[String]
    val texts = Array.newBuilder[String]
    val starts = Array.newBuilder[Int]
    val stats = new java.util.ArrayList[Row]()
    var i = 0
    while (i < sorted.length) {
      val (f, t) = (sorted(i).getString(0), sorted(i).getString(1))
      var j = i
      var (df, cf, maxTf) = (0L, 0L, 0)
      while (j < sorted.length && sorted(j).getString(0) == f && sorted(j).getString(1) == t) {
        df += sorted(j).getLong(3)
        cf += sorted(j).getLong(4)
        maxTf = math.max(maxTf, sorted(j).getInt(5))
        j += 1
      }
      fields += f; texts += t; starts += i
      stats.add(Row(f, t, df, cf, maxTf))
      i = j
    }
    starts += sorted.length
    new TermDictionary(fields.result(), texts.result(), starts.result(),
      sorted.map(_.getLong(2)), sorted.map(_.getLong(3)),
      spark.createDataFrame(stats, TermStatsSchema))
  }

  private sealed trait SlotState
  private case object Unfetched extends SlotState
  private final case class Held(dict: TermDictionary) extends SlotState
  private final case class OverBound(merged: DataFrame) extends SlotState
  private case object Released extends SlotState

  /** What `InvertedIndex.cache()` attaches to the cached index: its
    * dictionary, fetched once on first use by ONE bounded collect of
    * `Cols` on the cached postings (`limit(maxRows + 1)`, so at most
    * maxRows + 1 rows ever reach the driver), or — when the postings
    * hold more rows than `maxRows` — no dictionary, and the merged
    * dictionary aggregated over the cached postings and cached, as an
    * uncached index derives it. `withDeletes` / `undeleteAll` copies
    * share the slot; `release` (on `unpersist`) drops whatever it holds,
    * and `rearm` (on a repeated `cache()`) lets the next use fetch
    * again. Synchronized: concurrent first uses fetch once. */
  private[build] final class Slot(postings: DataFrame, maxRows: Int) {
    private var state: SlotState = Unfetched

    private def fetched(): SlotState = {
      if (state == Unfetched) {
        val rows =
          if (maxRows > 0)
            postings.select(Cols.map(org.apache.spark.sql.functions.col): _*)
              .limit(maxRows + 1).collect()
          else Array.empty[Row]
        state =
          if (maxRows > 0 && rows.length <= maxRows)
            Held(TermDictionary(postings.sparkSession, rows))
          else OverBound(InvertedIndex.termStatsOf(postings).cache())
      }
      state
    }

    def dictionary: Option[TermDictionary] = synchronized {
      fetched() match {
        case Held(d) => Some(d)
        case _ => None
      }
    }

    def termStats: DataFrame = synchronized {
      fetched() match {
        case Held(d) => d.termStats
        case OverBound(merged) => merged
        case _ => InvertedIndex.termStatsOf(postings)
      }
    }

    def release(): Unit = synchronized {
      state match {
        case OverBound(merged) => merged.unpersist()
        case _ => ()
      }
      state = Released
    }

    def rearm(): Unit = synchronized {
      state match {
        case Released => state = Unfetched
        case OverBound(merged) => merged.cache(); ()
        case _ => ()
      }
    }
  }
}
