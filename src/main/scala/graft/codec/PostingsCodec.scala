package graft.codec

import java.io.ByteArrayOutputStream
import scala.collection.mutable.ArrayBuffer

import graft.model.{Posting, PostingBlock}

/** Delta + unsigned-LEB128 varint codec for positions and posting
  * blocks.
  *
  * Replaces the reference's fixed-4-byte positions codec
  * (hbasene AlphaTermPositionsEncoder.java:42-49) and its adaptive
  * int-list/bitset posting representation
  * (HBaseIndexStore.java:179-202) with a single compressed layout:
  * sorted docIDs delta-encoded, tf varint, positions delta-encoded —
  * plus per-block (minDoc, maxDoc, n, maxTf) metadata enabling block
  * skipping and block-max WAND (SURVEY.md §2 B5/D2). Storage-level
  * compression (reference: GZ per column family,
  * HBaseIndexStore.java:376-387) is delegated to Parquet page
  * compression on top of this.
  *
  * Block payload layout (after the struct-level metadata columns):
  *   for each posting i in docId order:
  *     varint(docId_i − prevDocId)   // prev = minDoc-anchored: first
  *                                   // delta is docId_0 − minDoc == 0
  *     varint(tf_i)
  *     tf_i × varint(pos_j − prevPos) // prevPos starts at 0; positions
  *                                    // strictly increasing, 1-based
  */
object PostingsCodec {

  /** Max postings per block; 128 keeps blocks cache-friendly and gives
    * fine-grained skip granularity (Lucene uses the same block size). */
  val BlockSize: Int = 128

  // ---- varint primitives -------------------------------------------------

  def writeVarLong(out: ByteArrayOutputStream, v0: Long): Unit = {
    require(v0 >= 0, s"varint requires non-negative, got $v0")
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  final class Reader(val buf: Array[Byte], start: Int = 0, endExclusive: Int = -1) {
    var pos: Int = start
    private val end: Int = if (endExclusive >= 0) endExclusive else buf.length
    def hasNext: Boolean = pos < end
    def readVarLong(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = buf(pos) & 0xFF
        pos += 1
        result |= (b & 0x7FL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    def readVarInt(): Int = readVarLong().toInt
  }

  // ---- positions codec (reference E1 / B5) -------------------------------

  /** Encode a sorted positions array (delta varint, count-prefixed).
    * Round-trip contract = AbstractTermPositionsEncoderTest.java:48-57. */
  def encodePositions(positions: Array[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream(positions.length + 4)
    writeVarLong(out, positions.length.toLong)
    var prev = 0
    var i = 0
    while (i < positions.length) {
      val p = positions(i)
      writeVarLong(out, (p - prev).toLong)
      prev = p
      i += 1
    }
    out.toByteArray
  }

  def decodePositions(bytes: Array[Byte]): Array[Int] = {
    val r = new Reader(bytes)
    val n = r.readVarInt()
    val arr = new Array[Int](n)
    var prev = 0
    var i = 0
    while (i < n) {
      prev += r.readVarInt()
      arr(i) = prev
      i += 1
    }
    arr
  }

  /** tf without full decode (AlphaTermPositionsEncoder.java:51-54). */
  def termFrequency(bytes: Array[Byte]): Int =
    new Reader(bytes).readVarInt()

  // ---- posting blocks ----------------------------------------------------

  /** Encode postings (MUST be sorted by docId, distinct) into blocks of
    * ≤ BlockSize with per-block metadata. */
  def encodeBlocks(sorted: IndexedSeq[Posting]): Array[PostingBlock] = {
    val blocks = ArrayBuffer.empty[PostingBlock]
    var start = 0
    while (start < sorted.length) {
      val end = math.min(start + BlockSize, sorted.length)
      val minDoc = sorted(start).docId
      val maxDoc = sorted(end - 1).docId
      var maxTf = 0
      val out = new ByteArrayOutputStream(256)
      var prevDoc = minDoc
      var i = start
      while (i < end) {
        val p = sorted(i)
        writeVarLong(out, p.docId - prevDoc)
        prevDoc = p.docId
        writeVarLong(out, p.tf.toLong)
        var prevPos = 0
        var j = 0
        while (j < p.positions.length) {
          writeVarLong(out, (p.positions(j) - prevPos).toLong)
          prevPos = p.positions(j)
          j += 1
        }
        if (p.tf > maxTf) maxTf = p.tf
        i += 1
      }
      blocks += PostingBlock(minDoc, maxDoc, end - start, maxTf, out.toByteArray)
      start = end
    }
    blocks.toArray
  }

  def decodeBlock(b: PostingBlock): Array[Posting] =
    decodePostingsAt(new Reader(b.data), b.minDoc, b.n)

  /** Decode only (docId, tf) pairs — the scoring hot path skips
    * positions without materializing them. */
  def decodeDocTf(b: PostingBlock): Array[(Long, Int)] =
    decodeDocTfAt(new Reader(b.data), b.minDoc, b.n)

  private def decodePostingsAt(r: Reader, minDoc: Long, n: Int): Array[Posting] = {
    val arr = new Array[Posting](n)
    var doc = minDoc
    var i = 0
    while (i < n) {
      doc += r.readVarLong()
      val tf = r.readVarInt()
      val positions = new Array[Int](tf)
      var prevPos = 0
      var j = 0
      while (j < tf) {
        prevPos += r.readVarInt()
        positions(j) = prevPos
        j += 1
      }
      arr(i) = Posting(doc, tf, positions)
      i += 1
    }
    arr
  }

  private def decodeDocTfAt(r: Reader, minDoc: Long, n: Int): Array[(Long, Int)] = {
    val arr = new Array[(Long, Int)](n)
    var doc = minDoc
    var i = 0
    while (i < n) {
      doc += r.readVarLong()
      val tf = r.readVarInt()
      var j = 0
      while (j < tf) { r.readVarLong(); j += 1 } // skip positions
      arr(i) = (doc, tf)
      i += 1
    }
    arr
  }

  // ---- shard blobs ---------------------------------------------------------

  /** One self-describing BinaryType blob holds ALL of a (field, term,
    * shard) row's posting blocks:
    *
    *   varint nBlocks
    *   nBlocks × ( varint minDoc, varint maxDoc−minDoc, varint n,
    *               varint maxTf, varint payloadLen )
    *   concatenated block payloads (byte-identical to PostingBlock.data)
    *
    * This replaces the previous array<struct<…,binary>> column:
    * Tungsten's nested array/struct serialization was the measured
    * dominant cost of the postings build job, while a single binary
    * column shuffles, aggregates and stores as one contiguous byte run.
    * The up-front metadata section preserves block skipping / block-max
    * WAND without touching payload bytes. */
  def encodeBlob(blocks: IndexedSeq[PostingBlock]): Array[Byte] = {
    var payload = 0
    blocks.foreach(b => payload += b.data.length)
    val out = new ByteArrayOutputStream(16 + 12 * blocks.length + payload)
    writeVarLong(out, blocks.length.toLong)
    blocks.foreach { b =>
      writeVarLong(out, b.minDoc)
      writeVarLong(out, b.maxDoc - b.minDoc)
      writeVarLong(out, b.n.toLong)
      writeVarLong(out, b.maxTf.toLong)
      writeVarLong(out, b.data.length.toLong)
    }
    blocks.foreach(b => out.write(b.data, 0, b.data.length))
    out.toByteArray
  }

  /** Encode sorted postings straight to a shard blob. */
  def encodePostingsBlob(sorted: IndexedSeq[Posting]): Array[Byte] = {
    val blocks = encodeBlocks(sorted)
    encodeBlob(scala.collection.immutable.ArraySeq.unsafeWrapArray(blocks))
  }

  /** Encode a COLUMNAR run of postings [from, to) straight to a shard
    * blob — the segment build's zero-object path: docIds/tfs are
    * parallel arrays (docIds ascending), positions live flattened in
    * `posFlat` with posting `from`'s positions starting at `posStart`.
    * Produces bytes identical to encodePostingsBlob over the
    * equivalent Posting objects (cross-validated in CodecSpec). */
  def encodeColumnarBlob(
      docIds: Array[Long],
      tfs: Array[Int],
      posFlat: Array[Int],
      from: Int,
      to: Int,
      posStart: Int): Array[Byte] = {
    val blocks = ArrayBuffer.empty[PostingBlock]
    var i = from
    var posOff = posStart
    while (i < to) {
      val blockStart = i
      val end = math.min(i + BlockSize, to)
      val minDoc = docIds(i)
      val maxDoc = docIds(end - 1)
      var maxTf = 0
      val out = new ByteArrayOutputStream(256)
      var prevDoc = minDoc
      while (i < end) {
        writeVarLong(out, docIds(i) - prevDoc)
        prevDoc = docIds(i)
        val tf = tfs(i)
        writeVarLong(out, tf.toLong)
        var prevPos = 0
        var j = 0
        while (j < tf) {
          val p = posFlat(posOff)
          writeVarLong(out, (p - prevPos).toLong)
          prevPos = p
          posOff += 1
          j += 1
        }
        if (tf > maxTf) maxTf = tf
        i += 1
      }
      blocks += PostingBlock(minDoc, maxDoc, end - blockStart, maxTf, out.toByteArray)
    }
    encodeBlob(blocks.toIndexedSeq)
  }

  /** First block's minDoc without building a BlobView — two varints.
    * (The merge path calls this once per partial row.) */
  def blobFirstMinDoc(blob: Array[Byte]): Long = {
    val r = new Reader(blob)
    val n = r.readVarLong()
    if (n == 0) 0L else r.readVarLong()
  }

  /** Concatenate shard blobs in the given order into one blob —
    * header-only rewrite plus raw payload copy, ZERO payload decode.
    * Callers must ensure the concatenated block sequence is docId-
    * ordered (check with BlobView.isDocOrdered / lastMaxDoc). */
  def concatBlobs(blobs: Seq[Array[Byte]]): Array[Byte] = {
    val views = blobs.map(new BlobView(_))
    val out = new ByteArrayOutputStream(blobs.iterator.map(_.length).sum + 8)
    writeVarLong(out, views.iterator.map(_.nBlocks.toLong).sum)
    views.foreach { v =>
      var i = 0
      while (i < v.nBlocks) {
        writeVarLong(out, v.minDoc(i))
        writeVarLong(out, v.maxDoc(i) - v.minDoc(i))
        writeVarLong(out, v.blockN(i).toLong)
        writeVarLong(out, v.blockMaxTf(i).toLong)
        writeVarLong(out, v.payloadLen(i).toLong)
        i += 1
      }
    }
    views.foreach(v => out.write(v.blob, v.payloadStart, v.payloadTotal))
    out.toByteArray
  }

  /** Random-access view over an encoded shard blob: the metadata
    * section is parsed once into flat arrays; payload blocks decode on
    * demand directly out of the blob (no per-block slice copy). */
  final class BlobView(val blob: Array[Byte]) {
    private val hdr = new Reader(blob)
    val nBlocks: Int = hdr.readVarInt()
    private val minDocs = new Array[Long](nBlocks)
    private val maxDocs = new Array[Long](nBlocks)
    private val ns = new Array[Int](nBlocks)
    private val maxTfs = new Array[Int](nBlocks)
    private val lens = new Array[Int](nBlocks)
    locally {
      var i = 0
      while (i < nBlocks) {
        minDocs(i) = hdr.readVarLong()
        maxDocs(i) = minDocs(i) + hdr.readVarLong()
        ns(i) = hdr.readVarInt()
        maxTfs(i) = hdr.readVarInt()
        lens(i) = hdr.readVarInt()
        i += 1
      }
    }
    /** First payload byte (header ends here). */
    val payloadStart: Int = hdr.pos
    private val offs: Array[Int] = {
      val o = new Array[Int](nBlocks)
      var acc = payloadStart
      var i = 0
      while (i < nBlocks) { o(i) = acc; acc += lens(i); i += 1 }
      o
    }
    def payloadTotal: Int = {
      var s = 0; var i = 0
      while (i < nBlocks) { s += lens(i); i += 1 }
      s
    }
    def minDoc(i: Int): Long = minDocs(i)
    def maxDoc(i: Int): Long = maxDocs(i)
    def blockN(i: Int): Int = ns(i)
    def blockMaxTf(i: Int): Int = maxTfs(i)
    def payloadLen(i: Int): Int = lens(i)
    def lastMaxDoc: Long = maxDocs(nBlocks - 1)
    def firstMinDoc: Long = minDocs(0)
    /** Blocks strictly docId-ordered and range-disjoint? */
    def isDocOrdered: Boolean = {
      var i = 1
      while (i < nBlocks) {
        if (maxDocs(i - 1) >= minDocs(i)) return false
        i += 1
      }
      true
    }
    def decodeDocTf(i: Int): Array[(Long, Int)] =
      decodeDocTfAt(new Reader(blob, offs(i), offs(i) + lens(i)), minDocs(i), ns(i))
    def decodePostings(i: Int): Array[Posting] =
      decodePostingsAt(new Reader(blob, offs(i), offs(i) + lens(i)), minDocs(i), ns(i))
    def allPostings: Iterator[Posting] =
      (0 until nBlocks).iterator.flatMap(decodePostings)
    /** Every (docId, tf), block by block — no positions decoded. */
    def allDocTfs: Iterator[(Long, Int)] =
      (0 until nBlocks).iterator.flatMap(i => decodeDocTf(i))
  }
}
