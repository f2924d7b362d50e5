package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming training-data operators on Structured Streaming:
  *
  *   - `firstSeen` — exact dedup over an unbounded stream: keep the
  *     FIRST document per content hash, drop every later duplicate.
  *     Custom state via flatMapGroupsWithState (state = one boolean
  *     marker per sha256 group, so state size is one entry per
  *     DISTINCT document — the streaming analogue of dedupExact's
  *     min(doc_id) keep-list).
  *   - `tokenRate` — watermarked event-time windowed aggregation of
  *     emitted-token counts (the corpus-throughput signal a pipeline
  *     dashboard reads); late rows beyond the watermark are dropped
  *     and state for closed windows is purged.
  *
  * Both operators are plan fragments (readStream → transform →
  * caller's writeStream), so they compose with any sink.
  */
object StreamingDedup {

  /** One kept row per first-seen content hash. Output columns:
    * (doc_id, text, sha). Append-mode compatible.
    *
    * @param stateTtl optional processing-time TTL (e.g. "1 hour"): a
    *   hash unseen for that long has its marker PURGED, bounding state
    *   at one entry per distinct hash within the TTL window — the
    *   exactness/state trade for genuinely unbounded streams (a dup
    *   arriving after the TTL is re-emitted). None (default) keeps
    *   exact forever-dedup with state growing by distinct-hash count. */
  def firstSeen(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      stateTtl: Option[String] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .withColumn("sha", sha2(col("text"), 256))
      .as[(Long, String, String)]
      .groupByKey(_._3)
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed
      .flatMapGroupsWithState[Boolean, (Long, String, String)](
        OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[(Long, String, String)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { // TTL expired: purge the marker
            state.remove()
            Iterator.empty
          } else if (state.exists) { // hash already emitted once
            stateTtl.foreach(state.setTimeoutDuration) // dup seen: extend
            Iterator.empty
          } else {
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            // first row of the group in this batch wins (batch-local
            // order); emit exactly one
            var best: (Long, String, String) = null
            rows.foreach { r => if (best == null || r._1 < best._1) best = r }
            Iterator.single(best)
          }
      }
      .toDF("doc_id", "text", "sha")
  }

  /** Event-time windowed emitted-token counts with a watermark:
    * (window_start, window_end, n_docs, n_tokens). */
  def tokenRate(
      stream: DataFrame,
      tsCol: String,
      textCol: String,
      windowLen: String,
      watermark: String): DataFrame = {
    val spark = stream.sparkSession
    graft.sql.GraftFunctions.register(spark)
    stream
      .withColumn("_toks", expr(s"graft_doclen($textCol)").cast("long"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"), sum(col("_toks")).as("n_tokens"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("n_tokens"))
  }

  /** Streaming MinHash-LSH near-dup candidate edges — the streaming
    * analogue of `TextPipeline.minhashCandidates`: every arriving doc
    * computes its banded minhash signature ROW-LOCALLY (shingles are
    * hashed directly — no global dictionary, so the map side is
    * stateless; the batch path's dense shingle ids are a compression
    * for corpus-wide joins, pointless here), and each band bucket
    * keeps ONE owner docId as state. A later doc landing in an owned
    * bucket emits the candidate edge (doc_id, dup_of, band); the
    * owner emits nothing. Star edges per bucket keep the output
    * linear in arrivals (the `simhashEdges` rule — no O(n²) pair
    * explosion when n near-identical docs stream in), and any
    * matching band suffices for candidacy, so downstream keep-list /
    * connected-components logic consumes `distinct(doc_id, dup_of)`.
    *
    * Same LSH family as the batch operator: h_i(s) = ((2i+1)·s +
    * 7919·i + 1) mod (2³¹−1) over distinct 3-token shingles, band key
    * = base-1000003 fold of `rowsPerBand` minhashes. State size =
    * one long per DISTINCT (band, bucket) — `stateTtl` bounds it for
    * unbounded streams at the usual exactness trade (an owner purged
    * by TTL re-registers instead of edging). Docs with no shingle
    * (< 3 raw tokens) emit nothing and own nothing.
    *
    * CANDIDATE edges, not verified pairs: besides the inherent LSH
    * false positives (distinct signatures agreeing on one band), the
    * base-1000003 fold maps each band's minhash vector into one long,
    * so distinct band VECTORS can collide into one bucket. Consumers
    * acting on an edge (dropping a doc, merging groups) must
    * similarity-verify it first — exactly like the batch pipeline,
    * where `simhashPairs`/`ngramJaccardPairs` Hamming/Jaccard-verify
    * their banded candidates before emitting. The batch CC operator
    * (`dedupGroupsFromPairs`) consumes verified pairs only.
    *
    * Output (append-mode compatible): (doc_id, dup_of, band). */
  def nearDupEdges(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      nHash: Int = 12,
      rowsPerBand: Int = 3,
      stateTtl: Option[String] = None): DataFrame = {
    require(rowsPerBand >= 1 && rowsPerBand <= 3,
      s"rowsPerBand must be 1..3 (base-1000003 fold overflows beyond), got $rowsPerBand")
    require(nHash % rowsPerBand == 0,
      s"nHash ($nHash) must be a multiple of rowsPerBand ($rowsPerBand)")
    val P = 2147483647L // 2^31 − 1, the batch operator's modulus
    val nBands = nHash / rowsPerBand
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val seen = graft.analysis.Analyzer.shingles(text)
        if (seen.isEmpty) Iterator.empty
        else {
          // minhash signature over direct shingle hashes
          val mh = Array.fill(nHash)(Long.MaxValue)
          seen.foreach { sh =>
            var h = 1125899906842597L
            var j = 0
            while (j < sh.length) { h = 31 * h + sh.charAt(j); j += 1 }
            val s = java.lang.Long.remainderUnsigned(
              graft.tools.CodeCorpus.mix(h), P)
            var k = 0
            while (k < nHash) {
              val hk = ((2L * k + 1L) * s + (k * 7919L + 1L)) % P
              if (hk < mh(k)) mh(k) = hk
              k += 1
            }
          }
          (0 until nBands).iterator.map { b =>
            var bkey = 0L
            var r = 0
            while (r < rowsPerBand) {
              bkey = bkey * 1000003L + mh(b * rowsPerBand + r) % 1000003L
              r += 1
            }
            (s"$b:$bkey", id, b)
          }
        }
      }
      .groupByKey(_._1)
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed
      .flatMapGroupsWithState[Long, (Long, Long, Int)](
        OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[(String, Long, Int)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val arrivals = rows.toArray.sortBy(_._2) // batch-local det. order
            if (arrivals.isEmpty) Iterator.empty
            else {
              val owner =
                if (state.exists) state.get
                else { state.update(arrivals.head._2); arrivals.head._2 }
              stateTtl.foreach(state.setTimeoutDuration)
              arrivals.iterator
                .filter(_._2 != owner)
                .map(a => (a._2, owner, a._3))
            }
          }
      }
      .toDF("doc_id", "dup_of", "band")
  }
}
