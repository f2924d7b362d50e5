package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.codec.PostingsCodec
import graft.model.Posting

/** Positions / posting-block codec — FIXTURES.md F4 round-trip plus
  * property tests (reference contract:
  * AbstractTermPositionsEncoderTest.java:48-57,
  * AlphaTermPositionsEncoder.java:51-54).
  * (No scalatestplus bridge offline — generators sampled manually,
  * fixed seed for determinism.) */
class CodecSpec extends AnyFunSuite {

  /** Deterministic mini-forAll over a ScalaCheck Gen. */
  private def forAll[A](gen: Gen[A], n: Int = 200)(body: A => Unit): Unit = {
    var seed = Seed(42L)
    (0 until n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
    }
  }

  test("F4: round-trip [1,3,4,9,10]") {
    val p = Array(1, 3, 4, 9, 10)
    assert(PostingsCodec.decodePositions(PostingsCodec.encodePositions(p)).toSeq === p.toSeq)
    assert(PostingsCodec.termFrequency(PostingsCodec.encodePositions(p)) === 5)
  }

  test("round-trip empty") {
    assert(PostingsCodec.decodePositions(PostingsCodec.encodePositions(Array.empty)).isEmpty)
  }

  private val sortedPositions: Gen[Array[Int]] =
    Gen.listOf(Gen.chooseNum(0, 1 << 28)).map(_.distinct.sorted.toArray)

  test("property: positions round-trip identity + tf") {
    forAll(sortedPositions) { p =>
      val enc = PostingsCodec.encodePositions(p)
      assert(PostingsCodec.decodePositions(enc).toSeq == p.toSeq)
      assert(PostingsCodec.termFrequency(enc) == p.length)
    }
  }

  private val postingsGen: Gen[IndexedSeq[Posting]] = for {
    docIds <- Gen.listOf(Gen.chooseNum(0L, 1L << 40)).map(_.distinct.sorted)
    tfs <- Gen.listOfN(docIds.length, Gen.chooseNum(1, 200))
  } yield docIds.zip(tfs).map { case (d, tf) =>
    Posting(d, tf, (1 to tf).map(_ * 3).toArray)
  }.toIndexedSeq

  test("property: block encode/decode identity, metadata correct") {
    forAll(postingsGen) { ps =>
      val blocks = PostingsCodec.encodeBlocks(ps)
      val decoded = blocks.flatMap(PostingsCodec.decodeBlock)
      assert(decoded.length == ps.length)
      decoded.zip(ps).foreach { case (a, b) =>
        assert(a.docId == b.docId && a.tf == b.tf)
        assert(a.positions.toSeq == b.positions.toSeq)
      }
      blocks.foreach { b =>
        assert(b.n <= PostingsCodec.BlockSize && b.minDoc <= b.maxDoc)
      }
      val docTf = blocks.flatMap(PostingsCodec.decodeDocTf)
      assert(docTf.toSeq == ps.map(p => (p.docId, p.tf)).toSeq)
      if (ps.nonEmpty) {
        assert(blocks.map(_.n).sum == ps.length)
        assert(blocks.map(_.maxTf).max == ps.map(_.tf).max)
      }
    }
  }

  test("property: shard-blob round-trip ≡ blocks; view metadata matches") {
    forAll(postingsGen) { ps =>
      val blocks = PostingsCodec.encodeBlocks(ps)
      val blob = PostingsCodec.encodePostingsBlob(ps)
      val v = new PostingsCodec.BlobView(blob)
      assert(v.nBlocks == blocks.length)
      blocks.zipWithIndex.foreach { case (b, i) =>
        assert(v.minDoc(i) == b.minDoc && v.maxDoc(i) == b.maxDoc)
        assert(v.blockN(i) == b.n && v.blockMaxTf(i) == b.maxTf)
        assert(v.decodeDocTf(i).toSeq == PostingsCodec.decodeDocTf(b).toSeq)
        assert(v.decodePostings(i).map(p => (p.docId, p.tf, p.positions.toSeq)).toSeq
          == PostingsCodec.decodeBlock(b).map(p => (p.docId, p.tf, p.positions.toSeq)).toSeq)
      }
      assert(v.isDocOrdered)
      assert((0 until v.nBlocks).map(v.blockN(_).toLong).sum == ps.length.toLong)
      // the blob is exactly the standalone blocks, encoded
      assert(blob.toSeq == PostingsCodec.encodeBlob(blocks.toIndexedSeq).toSeq)
    }
  }

  test("property: columnar encode ≡ object encode, byte-identical") {
    forAll(postingsGen) { ps =>
      val docIds = ps.map(_.docId).toArray
      val tfs = ps.map(_.tf).toArray
      val posFlat = ps.flatMap(_.positions).toArray
      val viaColumnar = PostingsCodec.encodeColumnarBlob(
        docIds, tfs, posFlat, 0, ps.length, 0)
      val viaObjects = PostingsCodec.encodePostingsBlob(ps)
      assert(viaColumnar.toSeq == viaObjects.toSeq)
      // sub-range encode matches the sliced object encode too
      if (ps.length >= 3) {
        val from = 1; val to = ps.length - 1
        val posStart = tfs.take(from).sum
        val subCol = PostingsCodec.encodeColumnarBlob(
          docIds, tfs, posFlat, from, to, posStart)
        val subObj = PostingsCodec.encodePostingsBlob(
          ps.slice(from, to).toIndexedSeq)
        assert(subCol.toSeq == subObj.toSeq)
      }
    }
  }

  test("concatBlobs ≡ encoding the concatenated postings' blocks verbatim") {
    val a = (0L until 300L).map(d => Posting(d, 1, Array(1))).toIndexedSeq
    val b = (300L until 450L).map(d => Posting(d, 2, Array(1, 4))).toIndexedSeq
    val merged = PostingsCodec.concatBlobs(
      Seq(PostingsCodec.encodePostingsBlob(a), PostingsCodec.encodePostingsBlob(b)))
    val v = new PostingsCodec.BlobView(merged)
    assert(v.isDocOrdered)
    assert(v.allPostings.map(p => (p.docId, p.tf)).toSeq
      == (a ++ b).map(p => (p.docId, p.tf)))
    // block boundaries preserved from the inputs (concat does not re-pack)
    assert(v.nBlocks == PostingsCodec.encodeBlocks(a).length
      + PostingsCodec.encodeBlocks(b).length)
  }

  test("BlobView.isDocOrdered detects interleaved ranges") {
    val a = PostingsCodec.encodePostingsBlob(
      IndexedSeq(Posting(0, 1, Array(1)), Posting(10, 1, Array(1))))
    val b = PostingsCodec.encodePostingsBlob(
      IndexedSeq(Posting(5, 1, Array(1))))
    val v = new PostingsCodec.BlobView(PostingsCodec.concatBlobs(Seq(a, b)))
    assert(!v.isDocOrdered)
  }
}
