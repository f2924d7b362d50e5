package graft.build

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.PostingsCodec

/** Physical delete application — turns an index's TOMBSTONES
  * (InvertedIndex.deletes, read-time anti-join) into a rewritten
  * index with the deleted docs gone from every table and the corpus
  * stats refreshed (post-delete N/avgdl/df/cf). This is the "segment
  * merge applies deletes" step of every log-structured index
  * (Lucene's expungeDeletes; the reference stubs the delete API at
  * HBaseIndexReader.java:115-132 and never got here).
  *
  * Scale shape: the rewrite is a COGROUP of postings rows with the
  * per-shard delete-id sets on the doc-range shard key — each task
  * sees one shard's posting rows plus ONLY that shard's deleted ids
  * (never a corpus-wide delete set), and shards without deletes
  * stream their rows through byte-identical with zero decode. The
  * docs table is a plain distributed anti-join. Nothing touches the
  * driver.
  */
object Deletes {

  /** The one per-row delete rewrite both physical shapes share:
    * decode, drop the docIds found in the SORTED `dels`, re-encode —
    * the unchanged-row (kept == df) pass-through keeps untouched lists
    * byte-identical. */
  private def rewriteRow(
      row: (String, String, Long, Long, Long, Int, Array[Byte]),
      dels: Array[Long])
      : Iterator[(String, String, Long, Long, Long, Int, Array[Byte])] = {
    val (f, t, sh, df, _, _, blob) = row
    val view = new PostingsCodec.BlobView(blob)
    val kept = view.allPostings
      .filterNot(pp => java.util.Arrays.binarySearch(dels, pp.docId) >= 0).toArray
    if (kept.length.toLong == df) {
      // no deleted doc in this list — row passes through unchanged
      Iterator.single(row)
    } else if (kept.isEmpty) Iterator.empty
    else {
      var cf = 0L; var maxTf = 0
      kept.foreach { pp => cf += pp.tf; if (pp.tf > maxTf) maxTf = pp.tf }
      Iterator.single((f, t, sh, kept.length.toLong, cf, maxTf,
        PostingsCodec.encodePostingsBlob(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(kept))))
    }
  }

  /** Apply `idx.deletes` physically; identity when there are none.
    * The result carries NO tombstones (they are merged in) and lazily
    * recomputed stats over the surviving docs. docIds are PRESERVED
    * (deletion leaves holes): the docId is the document's stable
    * identity across the index's lifetime — re-densifying would
    * invalidate every externally-held reference and the docKey map. */
  def applied(spark: SparkSession, idx: InvertedIndex): InvertedIndex =
    idx.deletes match {
      case None => idx
      case Some(del) => appliedWith(spark, idx, del)
    }

  private[graft] def appliedWith(
      spark: SparkSession,
      idx: InvertedIndex,
      deletesIn: DataFrame): InvertedIndex = {
    import spark.implicits._
    val shardSize = idx.config.shardSizeDocs
    val del = deletesIn
      .select(col(deletesIn.columns.head).cast("long").as("docId"))
      .distinct()
      .withColumn("shard", (col("docId") / lit(shardSize)).cast("long"))

    // restore the original column ORDER after the join (a using-join
    // moves the key column to the front; downstream positional unions
    // of this table with un-applied segment docs tables would silently
    // misalign otherwise)
    val liveDocs = idx.docs.join(del.select("docId"), Seq("docId"), "left_anti")
      .select(idx.docs.columns.map(col).toSeq: _*)

    // postings rewrite: decode → filter → re-encode ONLY rows in
    // shards that actually have deletes; terms whose whole list was
    // deleted drop out entirely. Two equivalent physical shapes around
    // the one shared per-row rewrite:
    //
    //  - small delete set (16 B/id fits autoBroadcastJoinThreshold):
    //    broadcast the sorted ids and stream the postings table IN
    //    PLACE — no shuffle of the (blob-heavy) postings volume at all.
    //    A shard-membership pre-check keeps the cogroup shape's
    //    zero-decode pass-through for untouched shards: a posting row
    //    only holds docIds of its own shard, so ids from other shards
    //    can never match and the global set is membership-identical to
    //    the per-shard one (guide §3: broadcast the side that fits —
    //    the common Lucene-style case of deletes ≪ corpus). ONE bounded
    //    action decides and fetches: at most maxIds + 1 ids reach the
    //    driver, and hitting that limit selects the cogroup instead.
    //  - otherwise: the original shard-cogroup — each task sees one
    //    shard's rows plus only that shard's deleted ids; nothing
    //    corpus-wide anywhere.
    val maxIds = math.min(spark.sessionState.conf.autoBroadcastJoinThreshold / 16,
      Int.MaxValue - 1L).toInt
    val ids =
      if (maxIds > 0) del.select("docId").limit(maxIds + 1).as[Long].collect()
      else Array.empty[Long]
    val newPostings = if (maxIds > 0 && ids.length <= maxIds) {
      java.util.Arrays.sort(ids)
      val bcDel = spark.sparkContext.broadcast(ids)
      idx.postings
        .select("field", "term", "shard", "df", "cf", "maxTf", "blob")
        .as[(String, String, Long, Long, Long, Int, Array[Byte])]
        .mapPartitions { rows =>
          val ds = bcDel.value
          rows.flatMap { row =>
            // pass through unless some deleted id falls in this row's
            // docId range [shard·size, (shard+1)·size)
            val i = java.util.Arrays.binarySearch(ds, row._3 * shardSize)
            val at = if (i >= 0) i else -i - 1
            if (at == ds.length || ds(at) >= (row._3 + 1) * shardSize) Iterator.single(row)
            else rewriteRow(row, ds)
          }
        }
        .toDF("field", "term", "shard", "df", "cf", "maxTf", "blob")
    } else {
      val p = idx.postings
        .select("field", "term", "shard", "df", "cf", "maxTf", "blob")
        .as[(String, String, Long, Long, Long, Int, Array[Byte])]
        .groupByKey(_._3)
      val d = del.as[(Long, Long)].groupByKey(_._2)
      p.cogroup(d) { (_, rows, dels) =>
        val shardIds = dels.map(_._1).toArray
        java.util.Arrays.sort(shardIds)
        if (shardIds.isEmpty) rows
        else rows.flatMap(rewriteRow(_, shardIds))
      }.toDF("field", "term", "shard", "df", "cf", "maxTf", "blob")
    }

    InvertedIndex.derived(liveDocs, newPostings, idx.config)
  }
}
