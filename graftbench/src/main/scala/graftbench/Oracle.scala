package graftbench

import scala.collection.mutable

/** Exhaustive BM25 scoring of generated queries, for checking the
  * engine's top-k answers. Every document is tokenized and every query
  * is scored against every document that holds one of its terms; no
  * engine code is involved beyond the shared BM25 definition
  * (k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + 0.5) / (df + 0.5))). */
final class Oracle(docs: Seq[(Long, String)]) {
  private val k1 = 1.2
  private val b = 0.75

  private val dl = mutable.LongMap.empty[Double]
  /** term → docId → ascending positions */
  private val postings = mutable.HashMap.empty[String, mutable.LongMap[Array[Int]]]
  locally {
    docs.foreach { case (id, text) =>
      val em = Tokens.emitted(text)
      dl(id) = em.length.toDouble
      em.groupBy(_._1).foreach { case (t, ps) =>
        postings.getOrElseUpdate(t, mutable.LongMap.empty)(id) = ps.map(_._2).sorted
      }
    }
  }
  val numDocs: Double = docs.size.toDouble
  val avgDocLen: Double = if (docs.isEmpty) 0.0 else dl.values.sum / numDocs

  private def bm25(tf: Double, df: Double, docLen: Double): Double = {
    val idf = math.log(1.0 + (numDocs - df + 0.5) / (df + 0.5))
    idf * tf / (tf + k1 * ((1.0 - b) + b * docLen / avgDocLen))
  }

  private def levenshtein(a: String, c: String): Int = {
    var prev = Array.tabulate(c.length + 1)(identity)
    a.indices.foreach { i =>
      val cur = new Array[Int](c.length + 1)
      cur(0) = i + 1
      c.indices.foreach { j =>
        cur(j + 1) = math.min(math.min(cur(j), prev(j + 1)) + 1,
          prev(j) + (if (a(i) == c(j)) 0 else 1))
      }
      prev = cur
    }
    prev(c.length)
  }

  /** Dictionary terms a multi-term clause expands to. */
  private def expand(c: Clause): Seq[String] = c match {
    case PrefixClause(_, p) => postings.keys.filter(_.startsWith(p)).toSeq.sorted
    case FuzzyClause(_, t, e) => postings.keys.filter(levenshtein(_, t) <= e).toSeq.sorted
    case TermClause(_, t) => Seq(t)
    case _: PhraseClause => Nil
  }

  /** docId → phrase frequency: in-order matches whose span is at most
    * (terms − 1) + slop positions, counted once per start position. */
  private def phraseTf(terms: Seq[String], slop: Int): Map[Long, Int] = {
    val lists = terms.map(t => postings.getOrElse(t, mutable.LongMap.empty[Array[Int]]))
    val out = Map.newBuilder[Long, Int]
    lists.head.keys.foreach { d =>
      if (lists.forall(_.contains(d))) {
        val pos = lists.map(_(d))
        val tf = pos.head.count { start =>
          if (slop == 0) pos.indices.forall(i => pos(i).contains(start + i))
          else {
            // greedy chain: each next term at the nearest position after
            // the previous one; a chain fits iff the greedy one fits
            var last = start
            var ok = true
            pos.indices.drop(1).foreach { i =>
              if (ok) pos(i).find(_ > last) match {
                case Some(p) => last = p
                case None => ok = false
              }
            }
            ok && last - start <= terms.length - 1 + slop
          }
        }
        if (tf > 0) out += (d -> tf)
      }
    }
    out.result()
  }

  /** Full ranking of the query: (docId, score) by score desc, docId asc. */
  def rank(q: BenchQuery): Seq[(Long, Double)] = {
    val scores = mutable.LongMap.empty[Double]
    val mustHits = mutable.LongMap.empty[Int]
    val excluded = mutable.Set.empty[Long]
    var nMust = 0
    // plain and expanded terms score once each, whatever clause names them
    val termOccur = mutable.LinkedHashMap.empty[String, Occur]
    q.clauses.foreach {
      case p: PhraseClause =>
        val tfs = phraseTf(p.terms, p.slop)
        p.occur match {
          case Occur.Not => excluded ++= tfs.keys
          case o =>
            if (o == Occur.Must) nMust += 1
            val df = tfs.size.toDouble
            tfs.foreach { case (d, tf) =>
              scores(d) = scores.getOrElse(d, 0.0) + bm25(tf, df, dl(d))
              if (o == Occur.Must) mustHits(d) = mustHits.getOrElse(d, 0) + 1
            }
        }
      case c => expand(c).foreach { t =>
        if (c.occur == Occur.Not)
          excluded ++= postings.get(t).map(_.keys).getOrElse(Nil)
        else if (!termOccur.contains(t) || c.occur == Occur.Must) termOccur(t) = c.occur
      }
    }
    termOccur.foreach { case (t, o) =>
      val ps = postings.getOrElse(t, mutable.LongMap.empty[Array[Int]])
      if (o == Occur.Must) nMust += 1
      val df = ps.size.toDouble
      ps.foreach { case (d, pos) =>
        scores(d) = scores.getOrElse(d, 0.0) + bm25(pos.length, df, dl(d))
        if (o == Occur.Must) mustHits(d) = mustHits.getOrElse(d, 0) + 1
      }
    }
    scores.iterator
      .filter { case (d, _) => !excluded.contains(d) && mustHits.getOrElse(d, 0) == nMust }
      .toSeq.sortBy { case (d, s) => (-s, d) }
  }
}

object Oracle {

  /** Relative tolerance for comparing scores summed in different orders. */
  val Tolerance = 1e-9

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tolerance * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Whether `got` is a correct top-k for a query whose full ranking is
    * `ranking`: the right length, the expected score at every rank, and
    * every returned doc holding the score it was returned with (so ties
    * at the cut may be broken either way). */
  def matchesTopK(got: Seq[(Long, Double)], ranking: Seq[(Long, Double)], k: Int): Boolean = {
    val want = ranking.take(k)
    val byDoc = ranking.toMap
    got.length == want.length &&
      got.map(_._1).distinct.length == got.length &&
      got.zip(want).forall { case ((_, s), (_, w)) => close(s, w) } &&
      got.forall { case (d, s) => byDoc.get(d).exists(close(_, s)) }
  }
}
