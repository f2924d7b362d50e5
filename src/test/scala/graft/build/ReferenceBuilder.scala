package graft.build

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.analysis.TextAnalyzer
import graft.codec.PostingsCodec
import graft.model.Posting

/** One (term, doc) occurrence row fed into the posting aggregator. */
final case class TermDocOcc(
    docId: Long,
    tf: Int,
    positions: Seq[Int])

/** Encoded posting-list payload for one (field, term, shard) group. */
final case class PostingsPayload(
    df: Long,
    cf: Long,
    maxTf: Int,
    blob: Array[Byte])

/** Typed Aggregator that buffers a group's occurrences, sorts them by
  * docId and encodes one posting blob (used inside
  * `groupBy(field, term, shard)`). */
class PostingAggregator
    extends Aggregator[TermDocOcc, ArrayBuffer[TermDocOcc], PostingsPayload] {

  override def zero: ArrayBuffer[TermDocOcc] = ArrayBuffer.empty

  override def reduce(
      buf: ArrayBuffer[TermDocOcc], occ: TermDocOcc): ArrayBuffer[TermDocOcc] = {
    buf += occ
    buf
  }

  override def merge(
      a: ArrayBuffer[TermDocOcc], b: ArrayBuffer[TermDocOcc]): ArrayBuffer[TermDocOcc] = {
    if (a.length >= b.length) { a ++= b; a } else { b ++= a; b }
  }

  override def finish(buf: ArrayBuffer[TermDocOcc]): PostingsPayload = {
    val sorted = buf.sortInPlace()(Ordering.by((o: TermDocOcc) => o.docId))
    val postings: IndexedSeq[Posting] =
      sorted.map(o => Posting(o.docId, o.tf, o.positions.toArray)).toIndexedSeq
    val blob = PostingsCodec.encodePostingsBlob(postings)
    var cf = 0L
    var maxTf = 0
    postings.foreach { p => cf += p.tf; if (p.tf > maxTf) maxTf = p.tf }
    PostingsPayload(postings.length.toLong, cf, maxTf, blob)
  }

  override def bufferEncoder: Encoder[ArrayBuffer[TermDocOcc]] =
    Encoders.kryo[ArrayBuffer[TermDocOcc]]

  override def outputEncoder: Encoder[PostingsPayload] =
    Encoders.product[PostingsPayload]
}

/** Independent reference posting build and segment merge — the test
  * oracle for the production segment path (IndexBuilder.segmentPartials
  * + mergeSegmentRows). It shares only the analyzer and the codec with
  * production:
  *
  *   docs → doc-local analysis (one row per (field, term, doc)) →
  *   groupBy(field, term, shard) → PostingAggregator.
  *
  * The merge is the hash-aggregation shape (collect_list ordered by
  * firstDoc, then concatenate or re-encode) next to production's
  * sort-based streaming merge. */
object ReferenceBuilder {

  /** Doc-local analysis: one document → one (field, term, docId, tf,
    * positions) row per distinct (field, term). Untokenized values
    * are lowercased and get the sentinel position 0. */
  def analyzeDoc(
      docId: Long,
      tokenized: Seq[(String, String)],
      untokenized: Seq[(String, String)],
      analyzer: TextAnalyzer): Iterator[(String, String, Long, Int, Seq[Int])] = {
    val out = ArrayBuffer.empty[(String, String, Long, Int, Seq[Int])]
    tokenized.foreach { case (field, text) =>
      val m = LinkedHashMap.empty[String, ArrayBuffer[Int]]
      analyzer.foreachEmitted(text) { (term, pos) =>
        m.getOrElseUpdate(term, ArrayBuffer.empty[Int]) += pos
      }
      m.foreach { case (t, ps) => out += ((field, t, docId, ps.length, ps.toSeq)) }
    }
    untokenized.foreach { case (field, value) =>
      if (value != null && value.nonEmpty)
        out += ((field, value.toLowerCase(java.util.Locale.ROOT), docId, 1, Seq(0)))
    }
    out.iterator
  }

  /** Postings table (field, term, shard, df, cf, maxTf, blob) over a
    * docs table carrying `docId` and the field columns. */
  def postings(
      docs: DataFrame,
      tokenized: Seq[String],
      untokenized: Seq[String],
      cfg: IndexConfig): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val analyzer = cfg.analyzer
    val occs = docs.select((Seq("docId") ++ tokenized ++ untokenized).map(col): _*)
      .flatMap { row =>
        val docId = row.getAs[Long]("docId")
        analyzeDoc(docId,
          tokenized.map(f => (f, row.getAs[String](f))),
          untokenized.map(f => (f, row.getAs[String](f))),
          analyzer)
      }
      .toDF("field", "term", "docId", "tf", "positions")
      .withColumn("shard", (col("docId") / lit(cfg.shardSizeDocs)).cast("long"))
    val agg = udaf(new PostingAggregator())
    occs.groupBy(col("field"), col("term"), col("shard"))
      .agg(agg(col("docId"), col("tf"), col("positions")).as("p"))
      .select(
        col("field"), col("term"), col("shard"),
        col("p.df").as("df"), col("p.cf").as("cf"),
        col("p.maxTf").as("maxTf"), col("p.blob").as("blob"))
  }

  /** `prod` with its postings rebuilt by the reference from its own
    * docs table (same docIds, same corpus stats). */
  def index(
      prod: InvertedIndex,
      tokenized: Seq[String],
      untokenized: Seq[String]): InvertedIndex =
    new InvertedIndex(prod.docs, postings(prod.docs, tokenized, untokenized, prod.config),
      () => prod.stats, prod.config)

  /** Hash-aggregation segment merge: collect each (field, term, shard)
    * group's partial blobs ordered by first docId, then merge them. */
  def mergeSegmentRowsAgg(
      partials: DataFrame,
      cfg: IndexConfig): DataFrame = {
    val spark = partials.sparkSession
    import spark.implicits._
    val firstDocUdf = udf((b: Array[Byte]) => PostingsCodec.blobFirstMinDoc(b))
    partials.withColumn("firstDoc", firstDocUdf(col("blob")))
      .groupBy("field", "term", "shard")
      .agg(
        sum("df").as("df"), sum("cf").as("cf"), max("maxTf").as("maxTf"),
        transform(
          sort_array(collect_list(struct(col("firstDoc"), col("blob")))),
          x => x.getField("blob")).as("parts"))
      .as[(String, String, Long, Long, Long, Int, Seq[Array[Byte]])]
      .map { case (f, t, sh, df, cf, maxTf, parts) =>
        (f, t, sh, df, cf, maxTf, mergeBlobs(parts, df))
      }
      .toDF("field", "term", "shard", "df", "cf", "maxTf", "blob")
  }

  /** Block-list concatenation when the partials are docId-ordered and
    * disjoint and the result keeps blocks at least half full on
    * average; otherwise decode, sort and re-encode. */
  private def mergeBlobs(parts: Seq[Array[Byte]], df: Long): Array[Byte] =
    if (parts.length == 1) parts.head
    else {
      val views = parts.map(b => new PostingsCodec.BlobView(b)).filter(_.nBlocks > 0)
      val ordered = views.forall(_.isDocOrdered) &&
        views.indices.drop(1).forall { i =>
          views(i).firstMinDoc > views.take(i).map(_.lastMaxDoc).max
        }
      val blocks = views.map(_.nBlocks.toLong).sum
      if (ordered && df >= blocks * (PostingsCodec.BlockSize / 2))
        PostingsCodec.concatBlobs(parts)
      else {
        val all = views.flatMap(_.allPostings).sortBy(_.docId)
        require(all.map(_.docId).distinct.length == all.length,
          "duplicate docId across partial posting blobs")
        PostingsCodec.encodePostingsBlob(all.toIndexedSeq)
      }
    }
}
