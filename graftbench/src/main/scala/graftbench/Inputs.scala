package graftbench

import java.util.SplittableRandom

import graft.model.CodeDoc
import graft.tools.CodeCorpus

/** The benchmark's own tokenizer: lowercase, split on anything outside
  * [a-z0-9_], 1-based positions that count stop words, stop words not
  * emitted. It mirrors the engine's standard analyzer so the checks can
  * compute expected answers without calling the engine. */
object Tokens {
  val StopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in", "into",
    "is", "it", "no", "not", "of", "on", "or", "such", "that", "the", "their", "then",
    "there", "these", "they", "this", "to", "was", "will", "with")

  /** Every token, stop words included, in order. */
  def raw(text: String): Array[String] = {
    val out = Array.newBuilder[String]
    val b = new StringBuilder
    var i = 0
    while (i <= text.length) {
      val c = if (i < text.length) text.charAt(i) else ' '
      val l = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((l >= 'a' && l <= 'z') || (l >= '0' && l <= '9') || l == '_') b += l
      else if (b.nonEmpty) { out += b.result(); b.clear() }
      i += 1
    }
    out.result()
  }

  /** (term, position) of every emitted token. */
  def emitted(text: String): Array[(String, Int)] =
    raw(text).iterator.zipWithIndex.collect {
      case (t, i) if !StopWords.contains(t) => (t, i + 1)
    }.toArray

  def sha256Hex(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}

sealed trait Occur
object Occur {
  case object Must extends Occur
  case object Should extends Occur
  case object Not extends Occur
}

/** One clause of a generated classic query string. */
sealed trait Clause { def occur: Occur }
final case class TermClause(occur: Occur, term: String) extends Clause
final case class PhraseClause(occur: Occur, terms: Seq[String], slop: Int) extends Clause
final case class PrefixClause(occur: Occur, prefix: String) extends Clause
final case class FuzzyClause(occur: Occur, term: String, edits: Int) extends Clause

/** A generated query: its shape, the classic query string the engine
  * receives, and the clauses the checks score it from. */
final case class BenchQuery(shape: String, clauses: Seq[Clause]) {
  def text: String = clauses.map { c =>
    val sign = c.occur match {
      case Occur.Must => "+"
      case Occur.Not => "-"
      case Occur.Should => ""
    }
    sign + (c match {
      case TermClause(_, t) => t
      case PhraseClause(_, ts, slop) =>
        "\"" + ts.mkString(" ") + "\"" + (if (slop > 0) s"~$slop" else "")
      case PrefixClause(_, p) => p + "*"
      case FuzzyClause(_, t, e) => s"$t~$e"
    })
  }.mkString(" ")
}

/** Seeded input generation. Every input is a pure function of the seed
  * (and of the step index for the ingest plan), so one seed always
  * gives the same corpus, queries, batches and duplicate families. */
object Inputs {

  val Repos = 50
  private val Keywords = Array("public", "import", "class", "return", "static", "void")

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(CodeCorpus.mix(seed ^ CodeCorpus.mix(stream)))

  /** Source file `i` of the seeded corpus (the engine generator's rows). */
  def doc(seed: Long, i: Long): CodeDoc = CodeCorpus.doc(seed, i, Repos)

  def docKey(d: CodeDoc): String = s"${d.repo}/${d.path}@${d.commit}"

  /** Query shapes, in the fixed order one query cycle runs them. */
  val Shapes: Seq[String] = Seq("rare", "skew", "or", "and", "must_not", "phrase_sel",
    "phrase_skew", "phrase_slop", "prefix", "fuzzy", "term_phrase")

  /** `perShape` seeded queries of every shape over the first `n` docs:
    * identifiers are drawn from real documents, so their frequencies
    * follow the corpus' Zipf-like distribution. */
  def queries(seed: Long, n: Int, perShape: Int): Map[String, IndexedSeq[BenchQuery]] = {
    val r = rng(seed, 11)
    val toks = Array.tabulate(math.min(n, 2000))(i => Tokens.raw(doc(seed, i).content))
    def idFrom(minRank: Int): String = {
      var t: String = null
      while (t == null) {
        val d = toks(r.nextInt(toks.length))
        val c = d(r.nextInt(d.length))
        if (c.startsWith("id") && c.drop(2).forall(_.isDigit) && c.drop(2).toInt >= minRank) t = c
      }
      t
    }
    def x(): String = "x" + r.nextInt(13)
    def typo(w: String): String = {
      val i = r.nextInt(w.length)
      val c = ('a' + r.nextInt(26)).toChar
      if (c == w(i)) w.updated(i, if (c == 'z') 'y' else (c + 1).toChar) else w.updated(i, c)
    }
    import Occur._
    def one(shape: String): BenchQuery = BenchQuery(shape, shape match {
      case "rare" =>
        if (r.nextBoolean()) Seq(TermClause(Should, "f" + r.nextInt(n)))
        else Seq(TermClause(Should, idFrom(2000)))
      case "skew" => Seq(TermClause(Should, if (r.nextBoolean()) "public" else "import"))
      case "or" => Seq.fill(3)(idFrom(0)).distinct.map(TermClause(Should, _))
      case "and" =>
        // two identifiers of one document: the conjunction matches
        val d = toks(r.nextInt(toks.length)).filter(_.startsWith("id")).distinct
        val a = d(r.nextInt(d.length))
        val b = d.filter(_ != a).lift(r.nextInt(math.max(1, d.length - 1))).getOrElse("public")
        Seq(TermClause(Must, a), TermClause(Must, b))
      case "must_not" =>
        Seq(TermClause(Must, idFrom(0)), TermClause(Should, "public"), TermClause(Not, x()))
      case "phrase_sel" => Seq(PhraseClause(Should, Seq("return", x()), 0))
      case "phrase_skew" => Seq(PhraseClause(Should, Seq("public", "class"), 0))
      case "phrase_slop" =>
        if (r.nextBoolean()) Seq(PhraseClause(Should, Seq("class", "import"), 2))
        else Seq(PhraseClause(Should, Seq("return", x()), 1))
      case "prefix" => Seq(PrefixClause(Should, s"id${1 + r.nextInt(9)}${r.nextInt(10)}"))
      case "fuzzy" => Seq(FuzzyClause(Should, typo(Keywords(r.nextInt(Keywords.length))), 1))
      case "term_phrase" =>
        Seq(PhraseClause(Must, Seq("return", x()), 0), TermClause(Should, idFrom(0)))
    })
    Shapes.map(s => s -> IndexedSeq.fill(perShape)(one(s))).toMap
  }

  // ---- ingest ------------------------------------------------------------

  /** One write of the ingest loop. `docs` are new (id, text) rows for an
    * append or the replacements of an update; `ids` are the docIds a
    * delete removes or an update replaces; `batch` names the marker
    * token whose live docs the follow-up query must return. */
  final case class IngestStep(kind: String, batch: Int, docs: Seq[(Long, String)],
      ids: Seq[Long])

  def batchMarker(b: Int): String = s"ingestb$b"

  /** Seeded ingest plan: appends of `batchSize` fresh docs (each tagged
    * with its batch marker), deletes of a few live docs of an earlier
    * batch, and updates that replace live docs with fresh ids carrying
    * edited text, in a fixed append/delete/update rotation. The plan
    * tracks which docs are live, which is also what the checks expect. */
  final class IngestPlan(seed: Long, baseDocs: Int, batchSize: Int) {
    private val r = rng(seed, 23)
    private var nextAppendId = baseDocs.toLong
    private var nextUpdateId = 1000000000L
    private var nextBatch = 1
    private var step = 0
    /** batch → live (id, text) rows. */
    val live = scala.collection.mutable.LinkedHashMap.empty[Int, Map[Long, String]]
    val base: Seq[(Long, String)] = (0 until baseDocs).map(i => (i.toLong, doc(seed, i).content))
    val gone = scala.collection.mutable.Set.empty[Long]

    def liveRows: Seq[(Long, String)] = base ++ live.values.flatMap(_.toSeq)

    def nextKind: String = if (live.isEmpty) "append" else Seq("append", "delete", "update")(step % 3)

    def next(): IngestStep = {
      val kind = nextKind
      step += 1
      kind match {
        case "append" =>
          val b = nextBatch; nextBatch += 1
          val rows = (0 until batchSize).map { j =>
            val id = nextAppendId + j
            (id, doc(seed, id).content + " " + batchMarker(b))
          }
          nextAppendId += batchSize
          live(b) = rows.toMap
          IngestStep(kind, b, rows, Nil)
        case _ =>
          val candidates = live.filter(_._2.size > 1).keys.toIndexedSeq
          val b = if (candidates.isEmpty) live.keys.head else candidates(r.nextInt(candidates.size))
          val ids = live(b).keys.toIndexedSeq.sorted
          val pick = r.ints(math.min(3, ids.size - 1).max(1).toLong, 0, ids.size)
            .toArray.distinct.map(ids(_)).toSeq
          gone ++= pick
          if (kind == "delete") {
            live(b) = live(b) -- pick
            IngestStep(kind, b, Nil, pick)
          } else {
            val repl = pick.map { old =>
              val id = nextUpdateId; nextUpdateId += 1
              (id, live(b)(old) + s" upd$id")
            }
            live(b) = live(b) -- pick ++ repl
            IngestStep(kind, b, repl, pick)
          }
      }
    }
  }

  // ---- duplicate families ------------------------------------------------

  /** A corpus with planted near-duplicate families: `n` seeded source
    * files, then for `families` of them an exact copy and copies with
    * one to three tokens replaced. Returns the (doc_id, text) rows and
    * the planted (original, copy) pairs. */
  def dedupCorpus(seed: Long, n: Int, families: Int): (Seq[(Long, String)], Seq[(Long, Long)]) = {
    val r = rng(seed, 37)
    val originals = (0 until n).map(i => (i.toLong, doc(seed, i).content))
    val picks = r.ints(families.toLong * 4, 0, n).toArray.distinct.take(families)
    var next = n.toLong
    val planted = Seq.newBuilder[(Long, Long)]
    val copies = picks.toSeq.flatMap { src =>
      val text = originals(src)._2
      val words = text.split(" ")
      val edits = Seq(0, 1, 2, 3)
      edits.map { e =>
        val w = words.clone()
        (0 until e).foreach { _ =>
          val i = r.nextInt(w.length)
          w(i) = "dup" + r.nextInt(1000000)
        }
        val id = next; next += 1
        planted += ((src.toLong, id))
        (id, w.mkString(" "))
      }
    }
    (originals ++ copies, planted.result())
  }

  /** Distinct raw-token 3-gram shingles (stop words kept). */
  def shingles(text: String): Set[String] =
    Tokens.raw(text).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val i = x.intersect(y).size
    i.toDouble / (x.size + y.size - i).toDouble
  }
}
