package graft.model

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, count, lit}

/** Core data model for the graft inverted-index engine.
  *
  * Shapes derive from the reference's intended data model (see
  * /root/repo/SURVEY.md §1): documents with a string natural key and a
  * dense long docID, a per-field term dictionary, posting lists with
  * per-(term,doc) positions, and corpus-level statistics feeding the
  * scorer (reference: hbasene HBaseIndexStore.java:136-152,
  * HBaseIndexReader.java:135-155).
  */

/** One source-code file row — the driver-mandated input table shape
  * (BASELINE.json `input_hint`). */
final case class CodeDoc(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** A single token occurrence produced by the analyzer.
  * `pos` is the 1-based token ordinal counting stopword gaps
  * (reference position arithmetic: HBaseIndexWriter.java:124-139). */
final case class TermOcc(field: String, term: String, pos: Int)

/** One posting: a document containing a term, with positions.
  * tf == positions.length (AlphaTermPositionsEncoder.java:51-54). */
final case class Posting(docId: Long, tf: Int, positions: Array[Int])

/** An encoded posting block: metadata + delta/varint payload.
  * The metadata fields drive block skipping / block-max WAND
  * (SURVEY.md §2 D2); on disk, a shard row's blocks are packed into
  * one self-describing blob (PostingsCodec.encodeBlob). */
final case class PostingBlock(
    minDoc: Long,
    maxDoc: Long,
    n: Int,
    maxTf: Int,
    data: Array[Byte])

/** Corpus statistics broadcast to the scorer (reference keeps these as
  * HBase counter rows, HBaseIndexReader.java:231-266). */
final case class CorpusStats(numDocs: Long, avgDocLen: Double)

/** A scored search hit. */
final case class ScoredDoc(docId: Long, score: Double)

/** Per-document length row (dl = token count incl. stopword gaps is NOT
  * used; dl counts emitted tokens, i.e. sum of tf over terms). */
final case class DocLen(docId: Long, dl: Long)

object Checkpoints {

  /** Eager localCheckpoint of `df` with Row(row count, `extra`
    * aggregates…) observed on the checkpoint's own job — no second
    * action. The observation sits directly under the checkpoint (no
    * exchange after it), so each row is counted exactly once; if it
    * never arrives, the aggregates are recomputed over the checkpoint. */
  private[graft] def checkpointWithCount(df: DataFrame, extra: Column*): (DataFrame, Row) = {
    val aggs = count(lit(1)).as("n") +: extra
    val obs = Observation()
    val ck = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint()
    val row =
      try scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(30, "s"))
      catch {
        case _: java.util.concurrent.TimeoutException => ck.agg(aggs.head, aggs.tail: _*).head()
      }
    (ck, row)
  }

  /** Join-strategy gate for a frame of ~`bytesPerRow`-sized rows and
    * at most `n` rows (measured, or bounded like a query's Σ df)
    * against the session's own
    * autoBroadcastJoinThreshold (guide §3.1: decide the strategy from
    * runtime size, not a local-mode constant). Catalyst's own size
    * estimate of a checkpointed frame is no guide either way, so the
    * gate decides BOTH ways: frames that fit get a `broadcast` hint,
    * big ones an explicit `merge` (shuffle sort-merge) hint — without
    * it Catalyst (AQE included) may still broadcast a frame the gate
    * rejected. Hints never change results. */
  private[graft] def bcastIfFits(df: DataFrame, n: Long, bytesPerRow: Long): DataFrame = {
    val t = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (t > 0 && n * bytesPerRow <= t) broadcast(df) else df.hint("merge")
  }
}

private[graft] object Phases {

  /** Run `body` with the Spark jobs it launches described as `phase`
    * (the `spark.job.description` local property: the stage jobs AQE
    * submits for a query carry it too, where their call site is only
    * AQE's own), restoring the caller's description after. Local
    * properties are per thread: a thread started inside `body` inherits
    * the description. */
  private[graft] def described[T](spark: SparkSession, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val was = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(phase)
    try body finally sc.setJobDescription(was)
  }
}
