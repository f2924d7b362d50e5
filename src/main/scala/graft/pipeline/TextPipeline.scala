package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.model.Checkpoints.{bcastIfFits, checkpointWithCount}

/** Training-data pipeline operators over the `documents` /
  * `embeddings` tables: dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard), similarity search (brute-force cosine, LSH
  * buckets, IVF-style partition), text analysis (lang-ID, quality,
  * token counts, fingerprints).
  *
  * Every hash here is plain integer arithmetic over DENSE RANK ids
  * (not engine-native hash functions) so the identical computation is
  * expressible in ANSI SQL for the DuckDB oracle — and exact (no
  * float divergence) across engines. Dense ranking is two-level
  * (range-partition + rank + broadcast offsets, `denseIds`), never a
  * single-partition global Window, so id assignment scales even when
  * the key space (distinct shingles) grows with the corpus.
  */
object TextPipeline {

  private val P = 2147483647L // 2^31 − 1

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Raw tokens with 1-based position (stopwords INCLUDED) —
    * mirror of the oracle's `tok` CTE. Runs on the NATIVE codegen'd
    * tokenizer expression + posexplode (stays inside WholeStageCodegen
    * — no Dataset tuple encode/decode per token; this is the shared
    * first stage of minhash/simhash/lang-ID/quality/token-count/
    * fingerprint). */
  def rawTok(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.sql.GraftFunctions.tokenizeRawCol(col("text")))
        .as(Seq("p0", "term")))
      .select(col("doc_id"), col("term"), (col("p0") + 1).as("pos"))

  /** Non-stopword tokens (the index's emitted stream). */
  def emittedTok(docs: DataFrame): DataFrame = {
    val stops = Analyzer.EnglishStopWords.toSeq
    rawTok(docs).where(!col("term").isin(stops: _*))
  }

  // ---- deduplication -----------------------------------------------------

  /** Exact dedup keep-list: group by content hash (sha256 — hash the
    * bytes, not the string, so the shuffle key is 32 bytes not the
    * document), keep min doc_id per group. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n"))
      .select("doc_id", "n")

  /** Token 3-gram shingles, distinct per doc. Doc-local sliding window
    * in one narrow pass — no join, no shuffle; the per-doc dedup is a
    * local Set, so even the `distinct` costs nothing corpus-wide.
    * Deliberately a typed flatMap, NOT transform/element_at over the
    * native tokenizer expression: higher-order-function lambdas
    * re-evaluate the (non-cheap) tokenize expression per element_at,
    * measured 3.6× slower end-to-end on the Jaccard path. */
  def shingles(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) => Analyzer.shingles(text).iterator.map(sh => (id, sh)) }
      .toDF("doc_id", "sh")
  }

  /** Dense 1-based ids over the distinct values of `keyCol`, equal to
    * `row_number() OVER (ORDER BY key)` — but computed with two-level
    * ranking (range-partition distinct keys, sort + rank within
    * partitions, broadcast per-partition offsets; the assignDocIds
    * pattern, IndexBuilder.scala:372) instead of a single-partition
    * global Window, so the ranking itself scales with the vocabulary. */
  private def denseIds(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    graft.build.IndexBuilder
      .assignDocIds(df.select(keyCol).distinct(), Seq(keyCol), nPart)
      .withColumn(idCol, col("docId") + 1L)
      .select(keyCol, idCol)
  }

  /** Exact n-gram Jaccard near-dup pairs at threshold τ, candidates
    * generated by PPJoin-style PREFIX FILTERING instead of blocking on
    * every shared shingle: under a fixed global shingle order, if
    * J(a,b) ≥ τ then |a∩b| ≥ ⌈τ·max(|a|,|b|)⌉, so the pair's FIRST
    * common shingle must fall within the first |d| − ⌈τ·|d|⌉ + 1
    * shingles of BOTH docs — joining only those prefixes finds every
    * qualifying pair (zero false negatives), and candidates are then
    * verified with the exact intersection. The canonical order is
    * ascending document frequency (rarest shingle first, dense id
    * tiebreak): a boilerplate trigram shared by k docs sorts LAST and
    * drops out of the prefixes entirely, so the blocking join's
    * fan-out is bounded by rare-shingle df — never the k² a hot
    * shingle would emit under shared-shingle blocking. */
  def ngramJaccardPairs(docs: DataFrame, tau: Double): DataFrame = {
    val arrs = shingleArrays(docs)
    val cand = prefixCandidates(arrs, tau)
    // exact verify: candidate pairs only — intersection of the two
    // per-doc shingle-id arrays (order-insensitive); jaccard is a
    // ratio of exact integers, so the unrounded threshold compare is
    // engine-exact (matches the oracle's WHERE on the raw ratio)
    cand
      .join(arrs.select(col("doc_id").as("a"),
        col("sids").as("sa"), col("sz").as("sza")), "a")
      .join(arrs.select(col("doc_id").as("b"),
        col("sids").as("sb"), col("sz").as("szb")), "b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("sza") + col("szb") - col("i")).cast("double"))
      .where(col("jaccard") >= tau)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Per-doc shingle arrays in the canonical PPJoin order (ascending
    * shingle df, then the shingle itself) + the doc's shingle count.
    * Any FIXED global total order is exact for prefix filtering, so
    * the shingle string is its own id — no dense-rank pass; the only
    * wide ops are the df aggregation and the per-doc collect. */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame = {
    val sh = shingles(docs)
    val sdf = sh.groupBy("sh").agg(count(lit(1)).as("sdf"))
    sh.join(sdf, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("sdf"), col("sh")))).as("os"))
      .select(col("doc_id"),
        transform(col("os"), x => x.getField("sh")).as("sids"),
        size(col("os")).cast("long").as("sz"))
  }

  /** Candidate (a, b) pairs from the prefix join — every pair with
    * Jaccard ≥ τ is present; supersets are verified by the caller. */
  private[graft] def prefixCandidates(arrs: DataFrame, tau: Double): DataFrame = {
    // prefix length |d| − ⌈τ·|d|⌉ + 1: the largest prefix a doc can
    // skip entirely while still guaranteeing ⌈τ·|d|⌉ common shingles
    val prefLen = (col("sz") - ceil(col("sz") * tau) + 1).cast("int")
    val pref = arrs.select(col("doc_id"),
      explode(slice(col("sids"), lit(1), prefLen)).as("sid"))
    pref.as("x").join(pref.as("y"),
        col("x.sid") === col("y.sid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Dense shingle ids. Distinct 3-grams grow ~corpus-sized at 100 TB,
    * so this MUST NOT be a global Window — two-level ranking only. */
  private def shingleIds(sh: DataFrame): DataFrame =
    denseIds(sh, "sh", "sid")

  /** MinHash + banded LSH candidate pairs.
    * nHash=12 permutations h_i(x) = ((2i+1)·x + (7919i+1)) mod (2³¹−1),
    * 4 bands × 3 rows; band key folded with modular base 1000003
    * (all exact 64-bit integer arithmetic — oracle-identical). */
  def minhashCandidates(docs: DataFrame, nHash: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    // band-key fold is positional base-1000003 arithmetic: 1000003³
    // still fits a long, 1000003⁴ does not — and nHash must tile into
    // whole bands or the trailing band would carry null minhashes
    require(rowsPerBand >= 1 && rowsPerBand <= 3,
      s"rowsPerBand must be 1..3 (base-1000003 fold overflows beyond), got $rowsPerBand")
    require(nHash % rowsPerBand == 0,
      s"nHash ($nHash) must be a multiple of rowsPerBand ($rowsPerBand)")
    val sh = shingles(docs)
    val withIds = sh.join(shingleIds(sh), "sh").select("doc_id", "sid")
    // ONE partial-aggregating pass instead of explode(nHash)× the row
    // volume + two shuffled aggregations (guide §2.3: aggregate before
    // you shuffle / shuffle fewer bytes): each permutation's minhash is
    // its own min() column — h_i is evaluated per (row, i) exactly as
    // the exploded form did, the min per doc is grouping-order
    // invariant, so the signatures (and the emitted pairs) are
    // byte-identical. The doc_id shuffle now carries nHash longs per
    // doc instead of nHash rows per (doc, shingle).
    val minCols = (0 until nHash).map { i =>
      min((lit(2L * i + 1) * col("sid") + lit(7919L * i + 1)) % P).as(s"mh$i")
    }
    val sig = withIds.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    // band keys fold directly over the min columns — same positional
    // base-1000003 arithmetic, no second aggregation
    val bandCols = (0 until nHash / rowsPerBand).map { b =>
      (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}") % 1000003L)
        .reduceLeft((acc, x) => acc * 1000003L + x)
    }
    val bandKey = sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bkey")))
    bandKey.as("x").join(bandKey.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Dense term ids over the emitted vocabulary (two-level ranking —
    * no single-partition Window even at vocabulary size). */
  private def termIds(emitted: DataFrame): DataFrame =
    denseIds(emitted, "term", "tid")

  /** 31-bit SimHash per doc, tf-weighted:
    * h(tid) = (tid·2654435761 + 911) mod (2³¹−1); bit b set iff
    * Σ_terms tf·(2·bit_b(h)−1) > 0. */
  /** 62-bit SimHash. Width matters at scale twice over: (1) band
    * blocking splits the hash into maxHam+1 disjoint bands — at 31
    * bits and maxHam=8 a band is 3-4 bits (8-16 values), so every
    * band bucket held ~1/12 of all distinct hashes and the candidate
    * join degenerated toward all-pairs (measured: the sf0.1 edge job
    * was 4.8 s of a 10 s dedup_groups); 62 bits gives 6-7-bit bands,
    * ~16× fewer spurious candidates per band; (2) equal-hash collapse
    * (star edges) treats hash equality as duplicate identity — 31-bit
    * birthday collisions start near 10^5 docs, 62-bit near 10^9.
    * The hash is two 31-bit halves (independent affine mixes mod
    * 2^31−1) so the DuckDB oracle can mirror the arithmetic exactly
    * without 64-bit overflow (DuckDB BIGINT errors on overflow rather
    * than wrapping like a JVM Long). */
  def simhash(docs: DataFrame): DataFrame = {
    val emitted = emittedTok(docs)
    val withIds = emitted.join(termIds(emitted), "term")
      .withColumn("h", (col("tid") * 2654435761L + 911L) % P
        + shiftleft((col("tid") * 2246822519L + 1337L) % P, 31))
    // ONE aggregation with 62 per-bit sum columns, summed PER
    // OCCURRENCE (guide §2.3): tf·(2·bit_b(h)−1) is linear in tf, so
    // Σ_terms tf·sign ≡ Σ_occurrences sign — the same exact integers,
    // order-invariant — and the (doc, term) tf pre-aggregation (a full
    // shuffle of the token stream) disappears; partial aggregation
    // reduces each task to 62 longs per doc before the one doc_id
    // exchange. (0.95-1.14 s → 0.73-1.00 warm, parity exact:
    // OPTIMIZATION_r06.md §17.)
    val bitSums = (0 until 62).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1L) * 2 - 1).as(s"sb$b")
    }
    withIds.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 62).map(b => when(col(s"sb$b") > 0, lit(1L << b)).otherwise(0L))
          .reduceLeft(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHam — banded
    * LSH join, NOT an all-pairs cross join: the 62 simhash bits are
    * split into maxHam+1 disjoint bit bands; by pigeonhole, two hashes
    * within maxHam differing bits agree EXACTLY on at least one band,
    * so an equi-join on (band, bandValue) finds every qualifying pair
    * (no false negatives), and candidates are Hamming-verified. The
    * shuffle key is the band value — pair volume is per-bucket, never
    * O(n²) corpus-wide. */
  /** Band layout over the 62-bit simhash: maxHam+1 disjoint bit bands
    * — by pigeonhole, two hashes within maxHam differing bits agree
    * exactly on at least one band. Returns (widths, lows). */
  private def simhashBandLayout(maxHam: Int): (Array[Int], Array[Int]) = {
    val nBits = 62
    val nBands = maxHam + 1
    require(nBands <= nBits, s"maxHam $maxHam needs ${nBands} bands > $nBits bits")
    val base = nBits / nBands
    val rem = nBits % nBands
    val widths = Array.tabulate(nBands)(b => base + (if (b < rem) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _))
  }

  private def simhashBandCols(maxHam: Int): Seq[org.apache.spark.sql.Column] = {
    val (widths, lows) = simhashBandLayout(maxHam)
    widths.indices.map { b =>
      shiftright(col("simhash"), lows(b)).bitwiseAND(lit((1L << widths(b)) - 1))
    }
  }

  /** Index of the FIRST band on which x and y agree, −1 if none — a
    * pure bit expression over the two hashes. Used to emit each
    * colliding pair from exactly ONE band (`band === firstMatch`), so
    * the banded self-join needs no post-join `distinct()` shuffle: a
    * pair agreeing on several bands is produced once per agreeing
    * band, and all but the first are dropped by a colocated filter. */
  private def simhashFirstMatchBand(
      x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column,
      maxHam: Int): org.apache.spark.sql.Column = {
    val (widths, lows) = simhashBandLayout(maxHam)
    val xor = x.bitwiseXOR(y)
    widths.indices.foldRight(lit(-1)) { (b, els) =>
      when(shiftright(xor, lows(b))
        .bitwiseAND(lit((1L << widths(b)) - 1)) === 0L, lit(b)).otherwise(els)
    }
  }

  def simhashPairs(docs: DataFrame, maxHam: Int): DataFrame = {
    // localCheckpoint: both self-join sides read the one materialized
    // simhash result; unlike cache() it is not pinned in the session
    // CacheManager, so repeated calls don't accumulate storage
    val (s, Row(nDocs: Long)) = checkpointWithCount(simhash(docs))
    bandedHammingPairs(s, "doc_id", nDocs, maxHam)
  }

  /** Verified (a, b, ham) pairs, a < b, among the rows of `s` (id column
    * `idCol`, `simhash`; at most `n` rows) whose simhashes lie within
    * `maxHam` bits: a self-join on the pigeonhole bands, Hamming-checked,
    * each pair kept on its first matching band only. */
  private def bandedHammingPairs(s: DataFrame, idCol: String, n: Long,
      maxHam: Int): DataFrame = {
    val banded = s.select(col(idCol), col("simhash"),
      posexplode(array(simhashBandCols(maxHam): _*)).as(Seq("band", "bval")))
    // small corpora broadcast the probe side (~(maxHam+1) rows × ~40 B
    // per doc): the build recomputes one cheap explosion above the
    // checkpoint while the stream side skips its exchange entirely
    // (2.19-6.47 s SMJ vs 1.84-2.46 bcast, 3/3 reps: OPTIMIZATION_r06.md
    // §13 gate, dedup_simhash_pairs row of the operator checklist)
    banded.as("x").join(
        bcastIfFits(banded.as("y"), n, 40L * (maxHam + 1)),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval")
          && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        col("x.simhash").as("sx"), col("y.simhash").as("sy"), col("x.band").as("band"))
      .withColumn("ham", bit_count(col("sx").bitwiseXOR(col("sy"))))
      // multi-band collisions dedupe by the first-match filter — a
      // colocated expression, NOT a distinct() (which shuffled the
      // full candidate volume before the cheap Hamming check)
      .where(col("ham") <= maxHam
        && col("band") === simhashFirstMatchBand(col("sx"), col("sy"), maxHam))
      .select(col("a"), col("b"), col("ham"))
  }

  /** Connectivity-preserving near-dup EDGE set — the degenerate-bucket
    * guard for component assignment. `simhashPairs` output is
    * inherently quadratic on n identical docs (n²/2 pairs share one
    * (band, bval) bucket), but connected components only need a
    * spanning subgraph, so:
    *
    *   1. docs with IDENTICAL simhash collapse to a per-value
    *      representative (min doc_id) via STAR edges — n−1 edges for n
    *      identical docs, and every star edge is a true pair (Hamming
    *      0 ≤ maxHam);
    *   2. the banded pigeonhole join then runs over DISTINCT simhash
    *      VALUES only, Hamming-verified, emitting representative-to-
    *      representative edges.
    *
    * Components are IDENTICAL to the full verified pair graph's: every
    * emitted edge is a verified pair, and any verified pair (a,b) is
    * connected here — equal hashes via their shared rep's star, unequal
    * ones via rep(a)−rep(b) (some band must agree by pigeonhole) plus
    * the stars. Edge volume is linear in docs per duplicate value
    * instead of quadratic. */
  def simhashEdges(docs: DataFrame, maxHam: Int): DataFrame = {
    val (s, Row(nDocs: Long)) = checkpointWithCount(simhash(docs))
    // reps is NOT checkpointed: its three consumers each recompute one
    // small groupBy over the checkpointed simhash result, which costs
    // less than an extra eager materialization job (round-6 A/B; the
    // same trade as the jaccard shingles in OPTIMIZATION_r06.md
    // "Probed and deliberately left alone")
    val reps = s.groupBy("simhash").agg(min("doc_id").as("rep"))
    // |reps| ≤ nDocs, so the same measured-size gate as simhashPairs
    // covers the star join's build side and the banded probe side
    val stars = s.join(bcastIfFits(reps, nDocs, 16L), "simhash")
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("a"), col("doc_id").as("b"))
    stars.union(bandedHammingPairs(reps, "rep", nDocs, maxHam).select("a", "b"))
  }

  /** Dedup GROUP assignment: connected components over the simhash
    * near-dup pair graph — every doc labelled with the MIN doc_id
    * reachable in its component (the canonical representative;
    * singletons label themselves). Iterative min-label propagation:
    * each round is one join + groupBy (shuffle on doc_id), rounds =
    * component diameter (near-dup components are tiny, so 2–4 rounds);
    * per-round localCheckpoint truncates the lineage so the plan stays
    * flat over iterations. This is the step that turns pair-emitting
    * dedup into an actionable keep/drop decision.
    *
    * Runs CC over `simhashEdges` (linear spanning subgraph), NOT the
    * full `simhashPairs` output — identical components without the
    * quadratic blow-up when many docs share one simhash value. */
  def dedupGroups(docs: DataFrame, maxHam: Int = 8): DataFrame =
    dedupGroupsFromPairs(docs, simhashEdges(docs, maxHam))

  /** Component assignment over a MATERIALIZED pair table — the
    * production shape: the pair-emitting dedup stage (simhash /
    * minhash / jaccard / embedding, all emitting (a, b) columns) runs
    * once and persists; the CC loop then prices only its own joins
    * instead of re-deriving the pairs inline per call.
    *
    * Round cost (round-4 verdict #3): ONE Spark action per round —
    * the convergence count rides the checkpoint job as an observed
    * metric instead of a second count() action — and the loop iterates
    * only over EDGE-INCIDENT nodes (isolated docs are singletons by
    * definition; they join back as their own label once at the end),
    * so per-round frames scale with the near-dup graph, not the
    * corpus. */
  def dedupGroupsFromPairs(docs: DataFrame, pairsIn: DataFrame): DataFrame = {
    // symmetric doubling via explode(array(fwd, rev)), NOT
    // union(flip): a union's two branches each evaluate the whole
    // pair-generation DAG above its last exchange (exchange reuse only
    // dedupes below it) — the narrow explode doubles rows in ONE
    // evaluation; same row multiset, A/B'd faster on both pair sources
    // (union 2.8/3.8 s medians vs explode 2.1/2.5: OPTIMIZATION_r06.md §14)
    val (edges, Row(nEdges: Long)) = checkpointWithCount(
      pairsIn.select(explode(array(
          struct(col("a").as("a"), col("b").as("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b")))

    // Without the measured-size gate every per-round join planned as a
    // full-shuffle SortMergeJoin (checkpointed frames carry EiB default
    // stats) — 7 Exchanges per round at sf0.1
    // (plans/r06/dedup_groups_*). The loop's frames (comp, nbrMin, s1)
    // each hold at most one row per edge-incident NODE ≤ nEdges rows;
    // big graphs at real scale fail the gate and keep the exact
    // shuffle shape.
    def maybeB(df: DataFrame): DataFrame = bcastIfFits(df, nEdges, 32L)

    // one min-label-propagation + pointer-jump round, as a PLAN (no
    // materialization): (1) min label among each node's neighbors;
    // (2) comp ← comp(comp) — labels only shrink, so long chains
    // collapse in O(log diameter) rounds; the fixpoint (component
    // min) is unchanged. s1 is read twice by the jump self-join; both
    // sides recompute the small join rather than paying an action.
    // The round CARRIES the previous label through as `old`, so the
    // change count is a colocated expression on the round's own output
    // — the separate comp ⋈ stepped re-join (one more shuffle per
    // round) the first cut paid is gone.
    def propagate(comp: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(maybeB(comp.select(col("doc_id").as("b"), col("comp").as("bc"))), Seq("b"))
        .groupBy(col("a").as("doc_id"))
        .agg(min("bc").as("nbc"))
      val s1 = comp
        .join(maybeB(nbrMin), Seq("doc_id"), "left")
        .select(col("doc_id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbc"), col("comp"))).as("c1"))
      val c2 = least(col("c1"), coalesce(col("cc"), col("c1")))
      s1.join(maybeB(s1.select(col("doc_id").as("cid"), col("c1").as("cc"))),
          col("c1") === col("cid"), "left")
        .select(col("doc_id"), col("old"), c2.as("comp"))
    }

    // comp₀ seeds with ONE free propagation step computed straight off
    // the checkpointed edges: least(self, min neighbor) per node — the
    // exact c1 a first round over identity labels would produce, at the
    // cost of one groupBy instead of (distinct + join + groupBy). The
    // min-label fixpoint is invariant to the starting labeling as long
    // as every label is a reachable node id, which least(a, min b) is.
    // comp₀ stays a PLAN: round 1's materialization covers it.
    var comp = edges.groupBy("a").agg(min("b").as("nb"))
      .select(col("a").as("doc_id"), least(col("a"), col("nb")).as("comp"))
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < 32) {
      // ONE propagation round per materialization. Unrolling two
      // rounds per action was A/B-measured SLOWER (9.0-11.5 s vs
      // 7.2-8.0 s at sf0.1, probe-gated): the un-materialized first
      // round is recomputed ~4× by the second round's join references
      // (s1 self-join + nbrMin + comp side), which outweighs the one
      // saved ~1 s action on this graph class (3-4 rounds total).
      // the eager localCheckpoint IS the action the observation rides
      // (verified: metrics fire on it — OPTIMIZATION_r06.md §13)
      val (next, Row(_, nchg)) = checkpointWithCount(propagate(comp)
        .select(col("doc_id"), col("comp"), (col("old") =!= col("comp")).as("chg")),
        sum(when(col("chg"), 1L).otherwise(0L)).as("nchg"))
      changed = if (nchg == null) 0L else nchg.asInstanceOf[Long]
      comp = next.select("doc_id", "comp")
      iters += 1
    }
    // isolated docs (no near-dup edge) label themselves; comp is
    // node-bounded, so the same gate saves shuffling the corpus id set
    docs.select("doc_id").join(maybeB(comp), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
  }

  // ---- text analysis -----------------------------------------------------

  /** Marker-stopword language heuristic (synthetic corpus carries no
    * real language signal; the operator shape — per-lang marker
    * counts, argmax with deterministic tiebreak — is the real thing). */
  def langId(docs: DataFrame): DataFrame = {
    val t = rawTok(docs)
    val counts = t.groupBy("doc_id").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("term").isin("the", "a", "of", "and", "is"), 1L).otherwise(0L)).as("en_m"),
      sum(when(col("term").isin("el", "la", "de", "que", "es"), 1L).otherwise(0L)).as("es_m"),
      sum(when(col("term").isin("der", "die", "das", "und", "ist"), 1L).otherwise(0L)).as("de_m"))
    docs.select("doc_id").join(counts, Seq("doc_id"), "left")
      .withColumn("pred_lang",
        when(col("en_m") >= col("es_m") && col("en_m") >= col("de_m") && col("en_m") > 0, "en")
          .when(col("es_m") >= col("de_m") && col("es_m") > 0, "es")
          .when(col("de_m") > 0, "de")
          .otherwise("unk"))
      .select("doc_id", "pred_lang")
  }

  /** Quality scoring: token counts, stopword ratio, avg token length,
    * composite score. All integer-derived doubles → oracle-exact. */
  def quality(docs: DataFrame): DataFrame = {
    val t = rawTok(docs)
    val agg = t.groupBy("doc_id").agg(
      count(lit(1)).as("n_tok"),
      sum(when(col("term").isin(Analyzer.EnglishStopWords.toSeq: _*), 1L)
        .otherwise(0L)).as("n_stop"),
      sum(length(col("term"))).as("sum_len"))
    agg
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok").cast("double"))
      .withColumn("avg_len", col("sum_len").cast("double") / col("n_tok").cast("double"))
      .withColumn("qscore",
        // non-dyadic weights keep round(…,4) off exact .5e-4 decimal
        // boundaries where Spark (BigDecimal HALF_UP on the decimal
        // expansion) and DuckDB (float-multiply rounding) disagree
        least(col("n_tok").cast("double") / 97.0, lit(1.0)) * 0.47
          + (lit(1.0) - col("stop_ratio")) * 0.31
          + least(col("avg_len") / 7.3, lit(1.0)) * 0.22)
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
        round(col("stop_ratio"), 4).as("stop_ratio"),
        round(col("avg_len"), 4).as("avg_len"),
        round(col("qscore"), 4).as("qscore"))
  }

  /** Deterministic exact-rate sampling by modular arithmetic over the
    * id column: keep iff ((id mod den)·(K mod den) + salt) mod den <
    * num, with K = 2654435761 (Knuth). Whenever gcd(K mod den, den)=1
    * the residue map is a bijection mod den, so a contiguous-id corpus
    * samples at EXACTLY num/den (±1 per den-block) — no float RNG, no
    * hash implementation to match across engines, and a doc's fate
    * depends only on its id: stable under reruns, backfills, and
    * repartitioning (the property training-data pipelines need for
    * reproducible subsets). den ≤ 10⁹ keeps den² inside Long. */
  def sampleDeterministic(
      docs: DataFrame,
      idCol: String,
      num: Long,
      den: Long,
      salt: Long = 0L): DataFrame = {
    require(den > 0 && den <= 1000000000L && num >= 0 && num <= den,
      s"need 0 <= num <= den <= 1e9, got num=$num den=$den")
    val K = 2654435761L
    docs.where(
      pmod((col(idCol).cast("long") % den) * lit(K % den) + lit(((salt % den) + den) % den),
        lit(den)) < num)
  }

  /** Stratified deterministic sampling: per-stratum keep-numerators
    * over a COMMON denominator (absent strata keep nothing). Same
    * residue as sampleDeterministic, compared against the stratum's
    * numerator — one codegen'd predicate, no per-stratum scans. */
  def sampleStratified(
      docs: DataFrame,
      idCol: String,
      stratumCol: String,
      numByStratum: Map[String, Long],
      den: Long,
      salt: Long = 0L): DataFrame = {
    require(den > 0 && den <= 1000000000L, s"den must be in [1, 1e9], got $den")
    require(numByStratum.values.forall(n => n >= 0 && n <= den),
      "every stratum numerator must be in [0, den]")
    val K = 2654435761L
    val resid = pmod(
      (col(idCol).cast("long") % den) * lit(K % den) + lit(((salt % den) + den) % den),
      lit(den))
    val numCol = coalesce(
      element_at(typedlit(numByStratum), col(stratumCol)), lit(0L))
    docs.where(resid < numCol)
  }

  /** Token-budget sequence packing (training-batch packing): assign
    * each doc, in ascending id order, to bin = ⌊tokens-before /
    * budget⌋ — the contiguous-fill contract (docs straddle bin edges
    * rather than re-sorting; bins hold ≈ budget tokens each). The
    * global prefix sum is TWO-LEVEL: range-partition by id, one
    * per-partition total pass (numPartitions rows to the driver),
    * broadcast base offsets, then a partition-local running sum — no
    * single-partition Window at any size, and the OUTPUT is
    * partition-layout-independent (offsets make the prefix sum exact
    * wherever the range boundaries land). Returns (doc_id, n_tokens,
    * bin); n_tokens = the analyzer's emitted count (= index dl). */
  def packSequences(
      docs: DataFrame,
      budget: Long,
      parts: Int = 0): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val nPart = if (parts > 0) parts
      else math.max(1, spark.sessionState.conf.numShufflePartitions)
    val d = docs.select(col("doc_id").cast("long").as("doc_id"),
      coalesce(Analyzer.docLenCol(col("text")).cast("long"), lit(0L))
        .as("n_tokens"))
    // both passes must see ONE materialization of the same layout
    val sorted = d.repartitionByRange(nPart, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .localCheckpoint()
    val totByPid = sorted
      .groupBy(spark_partition_id().as("pid")).agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // range partitions are ordered: pid ascending == id ranges
    // ascending, so base offsets accumulate in pid order (empty
    // partitions contribute 0)
    val offsets = new Array[Long](nPart)
    var off = 0L
    var p = 0
    while (p < nPart) {
      offsets(p) = off
      off += totByPid.getOrElse(p, 0L)
      p += 1
    }
    val (bud, offB) = (budget, offsets)
    // mapPartitionsWithIndex, NOT TaskContext.getPartitionId: a
    // downstream narrow coalesce (e.g. caller's coalesce(1) before a
    // write) computes ALL parent partitions inside one task, where
    // TaskContext reports the coalesced id 0 for every chunk — each
    // chunk would restart at offsets(0) and the global prefix sum
    // silently collapses. The split's own index survives any task
    // remapping.
    sorted.as[(Long, Long)].rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = offB(pid)
      it.map { case (id, n) =>
        val before = cum
        cum += n
        (id, n, before / bud)
      }
    }.toDF("doc_id", "n_tokens", "bin")
  }

  /** Token counting: whitespace chunks, regex tokens, distinct terms. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val t = rawTok(docs)
    val agg = t.groupBy("doc_id").agg(
      count(lit(1)).as("n_tok"), countDistinct("term").as("n_uniq"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_ws"))
      .join(agg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tok", "n_uniq"))
      .select("doc_id", "n_ws", "n_tok", "n_uniq")
  }

  /** Position-sensitive document fingerprint (rolling-hash style):
    * fp = Σ_pos tid·((pos·2654435761) mod 2²⁰) mod (2³¹−1). */
  def fingerprint(docs: DataFrame): DataFrame = {
    val emitted = emittedTok(docs)
    emitted.join(termIds(emitted), "term")
      .withColumn("w", (col("pos").cast("long") * 2654435761L) % 1048576L)
      .groupBy("doc_id")
      .agg((sum(col("tid") * col("w")) % P).as("fp"))
  }

  // ---- similarity search over embeddings ----------------------------------

  /** Embedding of vector `id` as a double array — driver-side point
    * lookup shared by every query-vector entry point. */
  def queryVec(emb: DataFrame, id: Long): Array[Double] =
    emb.where(col("vec_id") === id).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

  /** cosine(embedding, q) — THE shared arithmetic of the ANN and
    * hybrid paths (one definition keeps the cross-engine float
    * contract in one place). Degenerate inputs evaluate to NULL, not
    * NaN: a zero-norm embedding or query makes the denominator 0
    * (nullif → NULL; NaN would sort ABOVE every real score in a desc
    * order), and a dimension-mismatched embedding null-pads through
    * zip_with into a NULL dot product.
    *
    * PARITY CONTRACT: the DuckDB oracles join unnested elements by
    * subscript, so on a dimension-MISMATCHED row they would compute a
    * partial dot product over the shared dimensions where this column
    * yields NULL — the cross-engine contract therefore assumes a
    * uniform embedding dimensionality per corpus (true of any real
    * embedding table and of the testdata; the engine side alone is
    * well-defined either way: mismatched rows score as cosine 0). */
  private def cosineRawCol(q: Array[Double]): org.apache.spark.sql.Column = {
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val qCol = typedlit(q.toSeq)
    val dot = aggregate(
      zip_with(col("embedding"), qCol, (a, b) => a.cast("double") * b),
      lit(0.0), (acc, x) => acc + x)
    val na = aggregate(
      transform(col("embedding"), a => a.cast("double") * a.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    dot / nullif(sqrt(na) * lit(qNorm), lit(0.0))
  }

  /** Brute-force cosine top-k vs a query vector (the exactness
    * baseline; scale path = lshBuckets / ivfTopK below). Dot products
    * via zip_with + fixed-order fold (codegen'd, deterministic). */
  def cosineTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame =
    cosineTopKVec(emb, queryVec(emb, queryVecId), k,
      excludeId = Some(queryVecId))

  /** Cosine top-k against an explicit query vector. */
  def cosineTopKVec(
      emb: DataFrame,
      q: Array[Double],
      k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    excludeId.map(id => emb.where(col("vec_id") =!= id)).getOrElse(emb)
      .withColumn("cos", cosineRawCol(q))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 3).as("sim"))
  }

  /** Hybrid lexical + semantic retrieval: blend a BM25 score table
    * with embedding-cosine similarity to a query vector — the fusion
    * shape modern retrieval/training-data pipelines run (lexical
    * recall, semantic re-weighting). Candidates are the LEXICAL
    * matches: the embedding join and the cosine arithmetic run only
    * over `scored`'s rows (broadcast-joinable candidate set), never
    * the full embedding table — semantic-only recall is the ANN
    * operators' job (`cosineTopK`/`ivfTopK`). Cosine is rounded to 3
    * decimals before blending (same float-stability contract as the
    * embed oracles); candidates without an embedding contribute
    * cosine 0. Deterministic: (blended desc, docId asc). */
  def hybridTopK(
      scored: DataFrame, // (docId, score) lexical candidates
      emb: DataFrame, // (vec_id, embedding)
      q: Array[Double],
      alpha: Double,
      k: Int): DataFrame = {
    // candidate-bounded: the big embedding table is the PROBE side of
    // an inner join whose build side is the broadcast candidate-id
    // set — cosine evaluates only for candidate rows; the second join
    // is candidate-sized on both sides. (A plain left join could only
    // broadcast the FULL embedding side.) Candidates without an
    // embedding — or with a degenerate one (zero norm / dimension
    // mismatch → NULL, see cosineRawCol) — blend with cosine 0.
    // scored feeds BOTH the broadcast candidate-id set and the outer
    // join — localCheckpoint materializes the lexical scoring DAG once
    // (the repo's standard two-consumer shape; cache() would pin)
    val cand = scored.localCheckpoint()
    val cosVals = emb
      .join(broadcast(cand.select(col("docId"))),
        emb("vec_id") === col("docId"))
      .select(col("docId"),
        coalesce(round(cosineRawCol(q), 3), lit(0.0)).as("cos"))
    cand
      .join(cosVals, Seq("docId"), "left")
      .withColumn("score", col("score") + lit(alpha) * coalesce(col("cos"), lit(0.0)))
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .select(col("docId"), col("score"))
  }

  /** Random-hyperplane LSH bucket histogram. Embeddings quantized to
    * round(x·1000) BIGINT first so the per-plane sign is EXACT integer
    * arithmetic (no float-sum sign flips across engines); 8 planes,
    * weights w(b,i) = ((7919b + 104729i) mod 97) − 48. */
  def lshBuckets(emb: DataFrame, nPlanes: Int = 8): DataFrame =
    vectorBuckets(emb, nPlanes).groupBy("bucket").agg(count(lit(1)).as("n"))

  /** (vec_id, bucket) hyperplane-LSH assignment — shared by the bucket
    * histogram and the near-dup pair blocking. */
  def vectorBuckets(emb: DataFrame, nPlanes: Int = 8): DataFrame = {
    val q = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("qv", round(col("v").cast("double") * 1000.0).cast("long"))
    // ONE aggregation with nPlanes dot-product columns instead of
    // explode(nPlanes)× the (vec, dim) volume + two shuffled
    // aggregations (guide §2.3) — same exact integer sums, identical
    // buckets.
    val planeSums = (0 until nPlanes).map { b =>
      sum(col("qv") * ((lit(b * 7919L) + col("i") * 104729L) % 97L - 48L)).as(s"s$b")
    }
    q.groupBy("vec_id").agg(planeSums.head, planeSums.tail: _*)
      .select(col("vec_id"),
        (0 until nPlanes).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduceLeft(_ + _).as("bucket"))
  }

  /** Embedding-cosine near-dup pairs: hyperplane-LSH bucket blocking
    * (same integer-exact bucket ⇒ candidate) + exact cosine verify
    * ≥ tau. Same-bucket semantics IS the operator — the shuffle key is
    * the bucket value, so pair volume is per-bucket, never O(n²); at
    * scale recall is tuned by nPlanes (fewer planes → bigger buckets →
    * higher recall, more verify work). */
  def embedCosinePairs(emb: DataFrame, tau: Double, nPlanes: Int = 8): DataFrame = {
    // checkpoint once (both self-join sides read the one materialized
    // bucket assignment) and broadcast the probe side when the vectors
    // fit the threshold — the same measured-size gate as the simhash
    // banded joins; big embedding tables keep the bucket-shuffle join
    // (warm 1.37-1.55 s -> 1.16-1.48, parity exact: OPTIMIZATION_r06.md §16).
    // A (vec_id, bucket, embedding) row is 24 + 4·dim bytes (two longs,
    // the array header, dim floats); count and widest dim are observed
    // on the checkpoint's own job
    val (withB, Row(nVec: Long, dim: Int)) = checkpointWithCount(
      emb.join(vectorBuckets(emb, nPlanes), "vec_id")
        .select("vec_id", "bucket", "embedding"),
      coalesce(max(size(col("embedding"))), lit(0)).as("dim"))
    val pairs = withB.as("x").join(bcastIfFits(withB.as("y"), nVec, 24L + 4L * dim),
      col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
    val dot = aggregate(
      zip_with(col("x.embedding"), col("y.embedding"),
        (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def norm(c: org.apache.spark.sql.Column) = sqrt(aggregate(
      transform(c, a => a.cast("double") * a.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    // threshold on the ROUNDED cosine: the raw double differs between
    // engines by summation order at ~1e-16, and a membership decision
    // on the unrounded value could flip a boundary pair; rounding first
    // aligns the filter with the emitted `sim` value (the repo's
    // round-at-the-output-edge parity rule)
    pairs
      .withColumn("sim", round(
        dot / (norm(col("x.embedding")) * norm(col("y.embedding"))), 3))
      .where(col("sim") >= tau)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"), col("sim"))
  }

  /** IVF-style ANN over a PRE-SUPPLIED coarse partition (the `label`
    * column): search only the query's partition. This is the
    * oracle-checked surface (SQL-expressible); `ivfWrite` + `ivfQuery`
    * below are the same search shape with a real, engine-built
    * quantizer. */
  def ivfTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val qLabel = emb.where(col("vec_id") === queryVecId)
      .select("label").head().getInt(0)
    cosineTopK(emb.where(col("label") === qLabel), queryVecId, k)
  }

  // ---- IVF with a real coarse quantizer (seeded k-means) -------------------

  /** Deterministic seeded Lloyd k-means over the embedding column.
    * Seeds = the k lowest vec_ids; each iteration broadcasts the k×d
    * centroid matrix in the assignment closure and recomputes centroids
    * from a (k·d)-row aggregate — per iteration: one narrow pass over
    * the vectors plus a k·d-row shuffle; nothing corpus-sized reaches
    * the driver. Empty clusters keep their previous centroid. */
  def kmeansCentroids(emb: DataFrame, k: Int, nIter: Int): Array[Array[Double]] = {
    require(k >= 1 && nIter >= 0)
    var cents: Array[Array[Double]] = emb.orderBy("vec_id").limit(k)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = cents.headOption.map(_.length).getOrElse(0)
    var it = 0
    while (it < nIter) {
      val assignU = nearestUdf(cents)
      // d element-wise sums + a count, grouped by the assignment — the
      // UDF is a GROUPING key, so it evaluates ONCE per row. (The
      // first version exploded the vector next to the UDF column and
      // Generate's consume path re-evaluated the assignment per
      // element: d× the distance work, 8M×64 UDF calls per iteration
      // — 50 minutes of k-means at 8M×64d where this shape takes ~2.)
      val aggCols = (0 until d).map(i =>
        sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i")) :+
        count(lit(1)).as("n")
      val sums = emb
        .groupBy(assignU(col("embedding")).as("c"))
        .agg(aggCols.head, aggCols.tail: _*)
        .collect()
      val next = cents.map(_.clone()) // empty cluster → keep centroid
      sums.foreach { r =>
        val c = r.getInt(0)
        val n = r.getLong(d + 1).toDouble
        var i = 0
        while (i < d) { next(c)(i) = r.getDouble(i + 1) / n; i += 1 }
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Argmin-squared-distance assignment against a broadcast-in-closure
    * centroid matrix. */
  private def nearestUdf(cents: Array[Array[Double]]) =
    udf { (v: Seq[Float]) =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val ctr = cents(c)
        var d = 0.0; var i = 0
        while (i < ctr.length) {
          val x = v(i).toDouble - ctr(i); d += x * x; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** Rank cluster ids by squared distance of their centroid to q. */
  private def clustersByDistance(cents: Array[Array[Double]], q: Array[Double]): Array[Int] =
    cents.zipWithIndex.map { case (ctr, c) =>
      var d = 0.0; var i = 0
      while (i < ctr.length) { val x = q(i) - ctr(i); d += x * x; i += 1 }
      (d, c)
    }.sortBy(t => (t._1, t._2)).map(_._2)

  /** Persist an IVF layout: vectors written PARTITIONED BY cluster id
    * (each coarse cell is its own parquet directory) plus a k-row
    * centroid table. At query time only the probed clusters' files are
    * read — directory-level partition pruning, the on-disk form of the
    * IVF inverted lists. */
  def ivfWrite(emb: DataFrame, root: String, nClusters: Int = 8, nIter: Int = 3): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(emb, nClusters, nIter)
    val assignU = nearestUdf(cents)
    emb.withColumn("cluster", assignU(col("embedding")))
      .write.mode("overwrite").partitionBy("cluster")
      .option("compression", "snappy").parquet(s"$root/vectors")
    cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
  }

  /** Query a persisted IVF layout: rank centroids by distance to the
    * query vector (k-row driver read), then cosine top-k over ONLY the
    * nProbe nearest clusters — the scan must show a cluster partition
    * filter (asserted in AnnSpec). nProbe = nClusters is exact brute
    * force (recall 1.0). */
  def ivfQuery(
      spark: SparkSession,
      root: String,
      q: Array[Double],
      k: Int,
      nProbe: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val cents = spark.read.parquet(s"$root/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    val probe = clustersByDistance(cents, q).take(math.min(nProbe, cents.length)).toSeq
    val vecs = spark.read.parquet(s"$root/vectors")
      .where(col("cluster").isin(probe: _*))
    cosineTopKVec(vecs, q, k, excludeId)
  }
}
