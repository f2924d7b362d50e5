package graft.query

import scala.collection.mutable

import graft.codec.PostingsCodec
import graft.model.{CorpusStats, ScoredDoc}

/** Posting-list iterator over an encoded shard blob with block
  * skipping — the fixed version of the reference's
  * TermDocs/TermPositions iteration whose `skipTo` degraded to a
  * linear scan (hbasene HBaseTermPositions.java:177-186, TODO at
  * :178). Blocks are skipped on BlobView header metadata (maxDoc)
  * without touching payload bytes; within a block a linear scan over
  * ≤128 decoded entries.
  */
final class TermIterator(
    val term: String,
    val df: Double,
    val ub: Double, // term-level score upper bound (boost INCLUDED)
    scorer: Scorer,
    stats: CorpusStats,
    view: PostingsCodec.BlobView,
    /** Per-term query boost (Lucene TermQuery.setBoost inside a
      * BooleanQuery): scales this term's contributions AND its block
      * bounds; callers must fold it into `ub` too. */
    val boost: Double = 1.0) {

  private var bi = 0
  private var di = 0
  /** Blocks whose payload was actually decoded — the skip-efficiency
    * observable (tests assert leapfrog decodes fewer than OR-pivot). */
  var decodedBlocks: Int = if (view.nBlocks > 0) 1 else 0
  /** Blocks whose POSITIONS were decoded (lazy — only on curPositions).
    * The pruned-phrase observable: docs pruned by docId leapfrog never
    * cost a positions decode. */
  var decodedPosBlocks: Int = 0
  private var decoded: Array[(Long, Int)] =
    if (view.nBlocks > 0) view.decodeDocTf(0) else Array.empty
  private var posBlockIdx = -1
  private var posDecoded: Array[graft.model.Posting] = null

  def exhausted: Boolean = bi >= view.nBlocks
  def curDoc: Long = if (exhausted) Long.MaxValue else decoded(di)._1
  def curTf: Int = decoded(di)._2

  /** Positions of the current doc — LAZY: the positions payload of the
    * current block is decoded only when a caller asks (the phrase path
    * asks only for docs that survived the docId leapfrog intersection)
    * and cached per block, so verifying m candidate docs in one block
    * costs ONE positions decode, and skipped blocks cost zero
    * (reference positional iteration: HBaseTermPositions.java:126-136,
    * which instead paid one RPC per (term, doc)). */
  def curPositions: Array[Int] = {
    if (posBlockIdx != bi) {
      posDecoded = view.decodePostings(bi)
      posBlockIdx = bi
      decodedPosBlocks += 1
    }
    posDecoded(di).positions
  }

  /** Upper bound within the current block (block-max). */
  def blockUb: Double =
    if (exhausted) 0.0
    else boost * scorer.upperBound(view.blockMaxTf(bi).toDouble, df, stats)

  def next(): Unit = {
    if (exhausted) return
    di += 1
    if (di >= decoded.length) { bi += 1; di = 0; decodeCur() }
  }

  /** Advance to the first doc ≥ target; block-skip on metadata. */
  def advanceTo(target: Long): Unit = {
    if (exhausted || curDoc >= target) return
    if (view.maxDoc(bi) < target) {
      while (bi < view.nBlocks && view.maxDoc(bi) < target) bi += 1
      di = 0
      decodeCur()
      if (exhausted) return
    }
    while (di < decoded.length && decoded(di)._1 < target) di += 1
    if (di >= decoded.length) { bi += 1; di = 0; decodeCur(); advanceTo(target) }
  }

  /** Bulk read (reference TermDocs.read(docs[], freqs[]) contract,
    * hbasene HBaseTermPositions.java:139-152 /
    * TestHBaseTermPositions.java:67-129): fill both arrays up to
    * their length, return the count; 0 once exhausted. */
  def read(docs: Array[Long], freqs: Array[Int]): Int = {
    var n = 0
    while (n < docs.length && !exhausted) {
      docs(n) = curDoc
      freqs(n) = curTf
      next()
      n += 1
    }
    n
  }

  private def decodeCur(): Unit =
    if (bi < view.nBlocks) { decoded = view.decodeDocTf(bi); decodedBlocks += 1 }
}

/** Block-max WAND top-k over a set of term iterators — exact top-k for
  * disjunctive (OR) queries, with θ-pruning on term upper bounds and a
  * block-max scoring filter (SURVEY.md §2.D D2). Deterministic:
  * contributions summed in ascending-term order; ties broken by docId
  * ascending (§7.4 #1).
  */
object Wand {

  private final case class Hit(docId: Long, score: Double)
  /** Heap keeps the WORST hit on top: lower score first, then larger
    * docId (so the element evicted first is the one a better or
    * equal-score-lower-docId candidate should displace). */
  private val worstFirst: Ordering[Hit] = new Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = {
      val c = java.lang.Double.compare(b.score, a.score)
      if (c != 0) c else java.lang.Long.compare(a.docId, b.docId)
    }
  }

  /** @param dlOf docId → document length (co-partitioned by doc-range
    *   shard at scale; a plain map here since one shard ≤ shardSize
    *   docs). Double.NaN marks a NON-LIVE doc (tombstoned / absent
    *   from the live dl side): such docs are skipped as candidates —
    *   θ-pruning stays sound because skipping only removes hits.
    * @param requiredTerms MUST terms (Lucene ReqOptSumScorer): when
    *   non-null and non-empty, a candidate must contain EVERY required
    *   term (leapfrog over the required iterators) and the remaining
    *   SHOULD iterators add score when they also contain it. null/empty
    *   → pure OR; all terms → conjunctive (AND).
    * @param excludeIters MUST_NOT postings (Lucene ReqExclScorer
    *   semantics, BooleanQuery prohibited clauses the reference
    *   inherits through its reader SPI): a candidate present in ANY of
    *   these is dropped before scoring. Sound under θ-pruning for the
    *   same reason tombstones are — exclusion only removes hits.
    *   Iterators advance forward-only; correctness relies on WAND
    *   evaluating candidates in non-decreasing docId order (the
    *   candidate is always the current global-min docId and iterators
    *   never move backwards).
    * @param minShouldMatch Lucene BooleanQuery
    *   setMinimumNumberShouldMatch: a candidate must match at least
    *   this many OPTIONAL (SHOULD) terms — all terms in pure-OR mode,
    *   the non-required terms in mixed mode. A pure filter at scoring
    *   time: θ-pruning stays sound because the filter only removes
    *   hits (θ is never raised by an unqualified doc). Callers map
    *   mm > #should to an empty result per the Lucene contract.
    * @param dismaxTieBreaker when not NaN, score candidates with
    *   Lucene DisjunctionMaxQuery semantics instead of the sum:
    *   max contribution + tieBreaker · (sum of the others). Requires
    *   0 ≤ tieBreaker ≤ 1 so the sum-of-ubs pivot bound stays an
    *   upper bound (dismax ≤ sum for tb ≤ 1 — pruning is sound,
    *   merely looser). docFactor is NOT applied (Lucene's dismax has
    *   no coord); callers pass scorers with docFactor ≡ 1 (BM25). */
  def topK(
      itersIn: Seq[TermIterator],
      dlOf: Long => Double,
      scorer: Scorer,
      stats: CorpusStats,
      k: Int,
      queryTermCount: Int = -1,
      queryDfsIn: Seq[Double] = null,
      excludeIters: Seq[TermIterator] = Nil,
      requiredTerms: Set[String] = null,
      minShouldMatch: Int = 0,
      dismaxTieBreaker: Double = Double.NaN): Seq[ScoredDoc] = {
    require(dismaxTieBreaker.isNaN ||
      (dismaxTieBreaker >= 0.0 && dismaxTieBreaker <= 1.0 &&
        (requiredTerms == null || requiredTerms.isEmpty)),
      "dismax: tieBreaker must be in [0,1] and mode must be pure OR")

    val excl = excludeIters.toArray
    def isExcluded(d: Long): Boolean = {
      var i = 0
      while (i < excl.length) {
        val it = excl(i)
        if (!it.exhausted) {
          if (it.curDoc < d) it.advanceTo(d)
          if (!it.exhausted && it.curDoc == d) return true
        }
        i += 1
      }
      false
    }

    // fixed summation order: ascending term
    val byTerm = itersIn.sortBy(_.term).toArray
    // docFactor (coord/queryNorm) must see the FULL query's dfs, not
    // just the terms present in this shard
    val queryDfs =
      if (queryDfsIn != null) queryDfsIn else byTerm.map(_.df).toSeq
    val nTerms = if (queryTermCount > 0) queryTermCount else byTerm.length
    // docFactor is monotone in nMatched (coord); its max (full match)
    // scales the upper bounds so θ-pruning stays sound for scorers with
    // docFactor ≠ 1 (LegacyTfIdf queryNorm·coord).
    val ubScale = scorer.docFactor(nTerms, queryDfs, stats)
    val iters = byTerm.clone() // sorted by curDoc as the algorithm runs
    val heap = mutable.PriorityQueue.empty[Hit](worstFirst)

    def theta: Double =
      if (heap.size >= k) heap.head.score else Double.NegativeInfinity

    def offer(docId: Long, score: Double): Unit = {
      if (heap.size < k) heap.enqueue(Hit(docId, score))
      else {
        val w = heap.head
        if (score > w.score || (score == w.score && docId < w.docId)) {
          heap.dequeue(); heap.enqueue(Hit(docId, score))
        }
      }
    }

    def drain(): Seq[ScoredDoc] = {
      val drained: Seq[Hit] = heap.dequeueAll
      drained.reverse.map(h => ScoredDoc(h.docId, h.score))
    }

    // MUST + SHOULD (Lucene ReqOptSumScorer; all terms required = AND):
    // leapfrog intersection of the REQUIRED iterators, not OR-pivoting —
    // advance every lagging one straight to max(curDoc), so block
    // skipping jumps whole block runs of the common terms past the rare
    // term's gaps. Candidates are docs containing every required term;
    // the optional iterators advance to each candidate and add their
    // contributions when aligned. θ-termination uses the ub sum over ALL
    // terms (sound: it bounds any candidate's score from above).
    val nReq = if (requiredTerms == null) 0 else requiredTerms.size
    if (nReq > 0) {
      val isReq = byTerm.map(it => requiredTerms(it.term)) // aligned with byTerm
      val req = byTerm.filter(it => requiredTerms(it.term))
      if (req.length < nReq) return drain() // shard missing a required term
      var ubSum = 0.0
      var optUbSum = 0.0 // optional terms' FULL ub (their blocks lag the candidate)
      var s = 0
      while (s < byTerm.length) {
        val u = byTerm(s).ub * ubScale
        ubSum += u
        if (!isReq(s)) optUbSum += u
        s += 1
      }
      var doneR = false
      while (!doneR) {
        var maxDoc = Long.MinValue
        var minDoc = Long.MaxValue
        var i = 0
        while (i < req.length) {
          val d = req(i).curDoc
          if (d > maxDoc) maxDoc = d
          if (d < minDoc) minDoc = d
          i += 1
        }
        if (maxDoc == Long.MaxValue) doneR = true
        else if (heap.size >= k && ubSum <= theta) doneR = true
        else if (minDoc == maxDoc) {
          // block-max filter (required terms' aligned blocks + the
          // optionals' full ub — sound: optionals haven't advanced yet)
          var blockSum = optUbSum
          i = 0
          while (i < req.length) { blockSum += req(i).blockUb * ubScale; i += 1 }
          if (blockSum > theta || heap.size < k) {
            val dl = dlOf(maxDoc)
            if (!dl.isNaN && !isExcluded(maxDoc)) {
              var m = 0
              var score = 0.0
              var t = 0
              while (t < byTerm.length) { // term-ascending: fixed order
                val it = byTerm(t)
                if (!isReq(t) && !it.exhausted && it.curDoc < maxDoc)
                  it.advanceTo(maxDoc) // optionals advance lazily, forward-only
                if (!it.exhausted && it.curDoc == maxDoc) {
                  score += it.boost * scorer.contribution(it.curTf.toDouble, it.df, dl, stats)
                  m += 1
                }
                t += 1
              }
              // matched optionals = matched terms minus the (always
              // fully matched) required set
              if (m - nReq >= minShouldMatch) {
                score *= scorer.docFactor(m, queryDfs, stats)
                offer(maxDoc, score)
              }
            }
          }
          i = 0
          while (i < req.length) { req(i).next(); i += 1 }
        } else {
          i = 0
          while (i < req.length) {
            if (req(i).curDoc < maxDoc) req(i).advanceTo(maxDoc)
            i += 1
          }
        }
      }
      return drain()
    }

    var done = false
    while (!done) {
      java.util.Arrays.sort(iters, Ordering.by((t: TermIterator) => t.curDoc))
      // find pivot: smallest prefix whose ub sum can beat θ
      var acc = 0.0
      var pivot = -1
      var i = 0
      val th = theta
      while (i < iters.length && pivot < 0) {
        if (!iters(i).exhausted) {
          acc += iters(i).ub * ubScale
          if (acc > th || (heap.size < k && acc > Double.NegativeInfinity)) pivot = i
        }
        i += 1
      }
      if (pivot < 0 || iters(pivot).exhausted) done = true
      else {
        val pivotDoc = iters(pivot).curDoc
        if (iters(0).curDoc == pivotDoc) {
          // all iterators at pivotDoc — candidate; block-max filter first
          var blockSum = 0.0
          var j = 0
          while (j < iters.length && iters(j).curDoc == pivotDoc) {
            blockSum += iters(j).blockUb * ubScale; j += 1
          }
          val dlPivot = dlOf(pivotDoc)
          // NaN dl = not live (tombstoned); MUST_NOT match → never a
          // candidate (isExcluded last: advances exclusion iterators
          // only for candidates that pass the cheaper gates)
          if ((blockSum > theta || heap.size < k) && !dlPivot.isNaN
              && !isExcluded(pivotDoc)) {
            // deterministic order: byTerm is term-ascending
            var sum = 0.0
            var maxC = 0.0
            var m = 0
            var t = 0
            val dl = dlPivot
            while (t < byTerm.length) {
              val it = byTerm(t)
              if (!it.exhausted && it.curDoc == pivotDoc) {
                val c = it.boost * scorer.contribution(it.curTf.toDouble, it.df, dl, stats)
                sum += c
                if (c > maxC) maxC = c
                m += 1
              }
              t += 1
            }
            if (m >= minShouldMatch) { // pure-OR: every term is a SHOULD
              val score =
                if (dismaxTieBreaker.isNaN)
                  sum * scorer.docFactor(m, queryDfs, stats)
                else maxC + dismaxTieBreaker * (sum - maxC)
              offer(pivotDoc, score)
            }
          }
          j = 0
          while (j < iters.length && iters(j).curDoc == pivotDoc) {
            iters(j).next(); j += 1
          }
        } else {
          // advance the leading iterator with the largest ub to pivotDoc
          var best = 0
          var j = 1
          while (j < pivot && iters(j).curDoc < pivotDoc) {
            if (iters(j).ub > iters(best).ub) best = j
            j += 1
          }
          iters(best).advanceTo(pivotDoc)
        }
      }
    }
    drain()
  }

  /** Pruned phrase matching over one shard — the one phrase kernel
    * (Lucene MultiPhraseQuery: each slot holds one or more alternative
    * terms and matches where ANY of them occurs; a plain PhraseQuery is
    * the singleton-slot case). Doc-level: a LEAPFROG where slot j's
    * virtual cursor is min over its alternatives' curDoc — the
    * candidate is the smallest doc every slot can reach (OR within a
    * slot, AND across slots), block-skipping on maxDoc metadata like
    * the conjunctive WAND mode. Positional verification runs ONLY for
    * candidates: positions decode lazily per block
    * (TermIterator.curPositions), so a common term co-occurring with a
    * rare one pays docId-level block headers, not a corpus-wide
    * positional explode. Positions of a slot at the candidate =
    * ascending merge of its matching alternatives' position lists.
    *
    * @param slotAlts per-slot alternative terms, in phrase order
    *   (repeated slots allowed: "a b a"); alternatives absent from this
    *   shard's iterator map are dropped (a slot with NO present
    *   alternative matches nothing here — callers prune such shards).
    * @param iterOf distinct term → its iterator.
    * @param slop Lucene `"..."~N`: a start position p₀ of slot 0
    *   matches when an IN-ORDER chain p₀ < p₁ < … < p_{k−1} exists
    *   (slot j matching at p_j) with span p_{k−1} − p₀ ≤ (k−1) + slop.
    *   slop 0 forces every gap to exactly 1 — identical to exact mode
    *   (start = ∩_j (positions of slot j − j); asserted in tests).
    *   Verified per start by a GREEDY minimal chain (each slot takes
    *   its smallest position > prev, by binary search): the greedy
    *   chain minimizes the final position, so "some chain fits the
    *   window" ⇔ "the greedy chain does".
    * @return (docId, phrase tf = number of matching start positions),
    *   docId ascending. Identical contract to the test-scope
    *   explode-join oracle (positions strictly increasing per doc, so start
    *   counts match).
    */
  def multiPhraseMatches(
      slotAlts: Seq[Seq[String]],
      iterOf: Map[String, TermIterator],
      slop: Int = 0): Iterator[(Long, Int)] = {
    val slotIts: Array[Array[TermIterator]] =
      slotAlts.map(_.distinct.flatMap(iterOf.get).toArray).toArray
    if (slotIts.exists(_.isEmpty)) return Iterator.empty
    val k = slotIts.length
    val bound = k - 1 + slop
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    // scratch reused across candidates (hot loop when slots are common)
    val posPerSlot = new Array[Array[Int]](k)
    val matchScratch = new Array[TermIterator](slotIts.map(_.length).max)
    var candidate = 0L
    var done = false
    while (!done) {
      // find the smallest doc ≥ candidate present in EVERY slot
      var j = 0
      var moved = false
      while (j < k && !moved) {
        val alts = slotIts(j)
        var slotMin = Long.MaxValue
        var a = 0
        while (a < alts.length) {
          if (alts(a).curDoc < candidate) alts(a).advanceTo(candidate)
          if (alts(a).curDoc < slotMin) slotMin = alts(a).curDoc
          a += 1
        }
        if (slotMin > candidate) { candidate = slotMin; moved = true }
        else j += 1
      }
      if (candidate == Long.MaxValue) done = true
      else if (!moved) {
        // every slot has ≥1 alternative at `candidate` — merge each
        // slot's matching alternatives' positions (ascending). Hot
        // loop at corpus scale when every slot holds a common term
        // (every doc is a candidate): no iterator/closure allocation,
        // single-alternative slots reuse the decoded array, two-way
        // merges take the dedicated two-pointer path. Scratch arrays
        // are reused across candidates.
        var s = 0
        while (s < k) {
          val alts = slotIts(s)
          var nm = 0
          var a = 0
          while (a < alts.length) {
            val it = alts(a)
            if (!it.exhausted && it.curDoc == candidate) {
              matchScratch(nm) = it; nm += 1
            }
            a += 1
          }
          posPerSlot(s) =
            if (nm == 1) matchScratch(0).curPositions
            else if (nm == 2)
              merge2(matchScratch(0).curPositions, matchScratch(1).curPositions)
            else mergeN(matchScratch, nm)
          s += 1
        }
        val tf = countStarts(posPerSlot, bound, slop)
        if (tf > 0) out += ((candidate, tf))
        candidate += 1
      }
    }
    out.iterator
  }

  /** Ascending two-pointer merge (the common ≥2-alternatives case). */
  private def merge2(x: Array[Int], y: Array[Int]): Array[Int] = {
    val r = new Array[Int](x.length + y.length)
    var a = 0; var b = 0; var w = 0
    while (a < x.length && b < y.length) {
      if (x(a) <= y(b)) { r(w) = x(a); a += 1 } else { r(w) = y(b); b += 1 }
      w += 1
    }
    while (a < x.length) { r(w) = x(a); a += 1; w += 1 }
    while (b < y.length) { r(w) = y(b); b += 1; w += 1 }
    r
  }

  /** k-way ascending merge over the first `nm` scratch iterators'
    * current positions (rare: ≥3 alternatives matching one doc). */
  private def mergeN(its: Array[TermIterator], nm: Int): Array[Int] = {
    val lists = new Array[Array[Int]](nm)
    var total = 0
    var l = 0
    while (l < nm) { lists(l) = its(l).curPositions; total += lists(l).length; l += 1 }
    val r = new Array[Int](total)
    val idx = new Array[Int](nm)
    var w = 0
    while (w < total) {
      var best = -1; var bv = Int.MaxValue
      l = 0
      while (l < nm) {
        if (idx(l) < lists(l).length && lists(l)(idx(l)) < bv) {
          bv = lists(l)(idx(l)); best = l
        }
        l += 1
      }
      r(w) = bv; idx(best) += 1; w += 1
    }
    r
  }

  /** N-ary anchored proximity: per doc where the anchor AND every
    * other term occur, tf = anchor positions p such that EACH other
    * term has SOME position within |Δ| ≤ window of p. (Divergence
    * from Lucene's n-clause unordered SpanNearQuery, documented: that
    * matches minimal covering windows of total span ≤ slop + n; the
    * anchor form is the SQL-recomputable per-occurrence contract and
    * coincides for two terms.) Conjunctive docId leapfrog with block
    * skipping; positions decode lazily only on fully-aligned docs;
    * one reused pointer array per shard — zero per-doc allocation. */
  def nearAllMatches(
      anchor: TermIterator,
      others: Array[TermIterator],
      window: Int): Iterator[(Long, Int)] = {
    require(others.nonEmpty, "anchored NEAR needs at least one other term")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val pbIdx = new Array[Int](others.length)
    var done = false
    while (!done) {
      val target = anchor.curDoc
      if (target == Long.MaxValue) done = true
      else {
        // conjunctive leapfrog: align every other iterator on target,
        // or push the anchor to the max blocking doc and retry
        var aligned = true
        var i = 0
        while (aligned && i < others.length) {
          val it = others(i)
          if (it.curDoc < target) it.advanceTo(target)
          if (it.curDoc == Long.MaxValue) { aligned = false; done = true }
          else if (it.curDoc > target) {
            anchor.advanceTo(it.curDoc)
            aligned = false
            if (anchor.curDoc == Long.MaxValue) done = true
          } else i += 1
        }
        if (aligned) {
          val pa = anchor.curPositions
          java.util.Arrays.fill(pbIdx, 0)
          var tf = 0
          var ia = 0
          while (ia < pa.length) {
            val p = pa(ia)
            var ok = true
            var j = 0
            while (ok && j < others.length) {
              val po = others(j).curPositions
              var ib = pbIdx(j)
              // pointers only move forward: pa ascends, so p − window
              // ascends too
              while (ib < po.length && po(ib) < p - window) ib += 1
              pbIdx(j) = ib
              ok = ib < po.length && po(ib) <= p + window
              j += 1
            }
            if (ok) tf += 1
            ia += 1
          }
          if (tf > 0) out += ((target, tf))
          anchor.next()
        }
      }
    }
    out.iterator
  }

  /** Span exclusion (Lucene SpanNotQuery(include, exclude, pre, post)
    * over term spans): tf = positions of `a` with NO position of `b`
    * inside [p − pre, p + post]. `itB` null ⇔ the exclude term is
    * absent from this shard — every `a` doc passes at its RAW tf with
    * ZERO positions decodes (the lazy-decode dividend: exclusion only
    * costs position work on docs where both terms meet). Two-pointer
    * over ascending positions otherwise, O(|A| + |B|) per doc. */
  def spanNotMatches(
      itA: TermIterator,
      itB: TermIterator,
      pre: Int,
      post: Int): Iterator[(Long, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    while (itA.curDoc != Long.MaxValue) {
      val da = itA.curDoc
      if (itB != null && itB.curDoc < da) itB.advanceTo(da)
      if (itB != null && itB.curDoc == da) {
        val pa = itA.curPositions
        val pb = itB.curPositions
        var tf = 0
        var ia = 0
        var ib = 0
        while (ia < pa.length) {
          val p = pa(ia)
          // advance ib to the first b-position ≥ p − pre
          while (ib < pb.length && pb(ib) < p - pre) ib += 1
          if (!(ib < pb.length && pb(ib) <= p + post)) tf += 1
          ia += 1
        }
        if (tf > 0) out += ((da, tf))
      } else out += ((da, itA.curTf)) // exclude term absent: raw tf
      itA.next()
    }
    out.iterator
  }

  /** Span-first (Lucene SpanFirstQuery over a term span): per doc, tf =
    * positions ≤ `end`; docs with none drop out. */
  def spanFirstMatches(it: TermIterator, end: Int): Iterator[(Long, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    while (it.curDoc != Long.MaxValue) {
      val ps = it.curPositions
      var tf = 0
      var i = 0
      while (i < ps.length) { if (ps(i) <= end) tf += 1; i += 1 }
      if (tf > 0) out += ((it.curDoc, tf))
      it.next()
    }
    out.iterator
  }

  /** Start-position count shared by the exact and sloppy verifiers:
    * posPerSlot(j) = ascending positions where slot j matches. */
  private def countStarts(
      posPerSlot: Array[Array[Int]], bound: Int, slop: Int): Int =
    if (slop == 0) {
      // starts = ∩_j (posPerSlot(j) − j), pairwise sorted intersection
      var starts: Array[Int] = null
      var nStarts = -1
      var j = 0
      while (j < posPerSlot.length && nStarts != 0) {
        val pj = posPerSlot(j)
        if (starts == null) {
          starts = new Array[Int](pj.length)
          var p = 0
          while (p < pj.length) { starts(p) = pj(p) - j; p += 1 }
          nStarts = pj.length
        } else {
          var a = 0; var b = 0; var w = 0
          while (a < nStarts && b < pj.length) {
            val sv = starts(a)
            val pv = pj(b) - j
            if (sv == pv) { starts(w) = sv; w += 1; a += 1; b += 1 }
            else if (sv < pv) a += 1
            else b += 1
          }
          nStarts = w
        }
        j += 1
      }
      math.max(nStarts, 0)
    } else {
      // greedy minimal chain per start (see multiPhraseMatches scaladoc)
      val p0s = posPerSlot(0)
      var tf = 0
      var a = 0
      var exhaustedChain = false
      while (a < p0s.length && !exhaustedChain) {
        var prev = p0s(a)
        var j = 1
        while (j < posPerSlot.length && !exhaustedChain) {
          val pj = posPerSlot(j)
          var lo = 0; var hi = pj.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (pj(mid) <= prev) lo = mid + 1 else hi = mid
          }
          if (lo == pj.length) exhaustedChain = true
          else prev = pj(lo)
          j += 1
        }
        if (!exhaustedChain && prev - p0s(a) <= bound) tf += 1
        a += 1
      }
      tf
    }
}
