package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.Analyzer
import graft.build.{IndexBuilder, IndexConfig, InvertedIndex}
import graft.codec.PostingsCodec
import graft.pipeline.TextPipeline
import graft.query.Searcher
import graft.sql.MatchQuery
import graft.streaming.StreamingIndexer
import graft.table.{IndexTables, TableFormat}
import graft.tools.CodeCorpus

/** What a workload measured besides the operation latencies the loop
  * records: its set-up times, the workload-specific figures printed for
  * people, and the per-layer metrics it computes itself. */
final case class Outcome(
    setupS: Seq[Double],
    detail: Seq[(String, Double, String)],
    layer: Map[String, Double])

trait Workload {
  def name: String
  def run(ctx: Ctx, seconds: Double): Outcome
}

object Workloads {
  val all: Seq[Workload] = Seq(BuildCode, QueryCode, IngestCode)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Shared pieces of the four workloads. */
object Run {

  /** Closed loop with one client: runs whole cycles of operations until
    * `seconds` have passed (at least `minCycles`), recording each
    * operation's latency under `key` and its check as one attempted
    * operation. A traced run does at least four cycles and traces them
    * in the order on, off, off, on, so the tracing overhead is measured
    * within the run; a linear warming trend cancels out, and a cycle
    * still warming up makes the estimate err high, not low. */
  def loop(ctx: Ctx, seconds: Double, key: String, minCycles: Int = 1, ab: Boolean = true)(
      cycle: Int => Seq[(String, () => Boolean)]): Unit = {
    val t0 = System.nanoTime()
    var c = 0
    val abRun = ab && ctx.traced
    def more = c < minCycles || (System.nanoTime() - t0) / 1e9 < seconds || (abRun && c < 4)
    while (more) {
      if (abRun) ctx.tracing = c % 4 == 0 || c % 4 == 3
      cycle(c).foreach { case (name, op) =>
        ctx.request += 1
        val (ok, ms) = ctx.timedMs(ctx.span("bench", name) {
          try op()
          catch { case e: Exception =>
            System.err.println(s"[graftbench] $name failed: $e"); false
          }
        })
        ctx.check(s"${ctx.phase}:$name#${ctx.request}", ok, op = true)
        ctx.sample(key, ms)
        ctx.sample(s"$key:$name", ms)
        if (abRun) ctx.sample(if (ctx.tracing) "traced" else "untraced", ms)
      }
      c += 1
    }
    ctx.tracing = ctx.traced
  }

  /** `cycles` untimed cycles before the measured loop: a run starts in
    * a fresh JVM, and Spark's and the engine's code paths speed up for
    * the first several operations while they are compiled. A fixed count
    * (not a time) puts every run's measured window at the same point of
    * that curve. The operations are still checked. */
  def warmUp(ctx: Ctx, cycles: Int)(cycle: Int => Seq[(String, () => Boolean)]): Unit = {
    ctx.phase = "warmup"
    loop(ctx, 0, "warm", minCycles = cycles, ab = false)(cycle)
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 4

  /** Set-up repeated `reps` times; returns the seconds each took. */
  def setups(ctx: Ctx, reps: Int = SetupReps)(body: Int => Unit): Seq[Double] = {
    ctx.phase = "setup"
    (0 until reps).map(i => ctx.timedMs(body(i))._2 / 1000.0)
  }

  /** Bytes of the files under `dir`, Hadoop checksum files excluded. */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum
    finally s.close()
  }

  def dataFiles(dir: String): Int = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  def deleteTree(dir: String): Unit =
    if (Files.exists(Paths.get(dir))) {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  def hits(df: DataFrame): Seq[(Long, Double)] =
    df.select("docId", "score").collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  def rowsDf(spark: SparkSession, rows: Seq[(Long, String)], id: String, text: String): DataFrame =
    spark.createDataFrame(rows).toDF(id, text)

  /** Analyzer throughput over a fixed sample of documents. */
  def analysisMetrics(ctx: Ctx, texts: Seq[String]): Map[String, Double] = {
    var tokens = 0L
    val times = (0 until 5).map { _ =>
      tokens = 0L
      ctx.timedMs(ctx.span("analysis", "Analyzer.foreachEmitted") {
        texts.foreach(t => Analyzer.foreachEmitted(t)((_, _) => tokens += 1))
      })._2
    }
    Map("analysis.tokens" -> tokens.toDouble,
      "analysis.tokens_per_s" -> tokens / (Stats.median(times) / 1000.0))
  }

  /** Codec costs over the posting blobs of a committed index: stored
    * bytes per posting, and decode / re-encode rates of every block. */
  def codecMetrics(ctx: Ctx, root: String): Map[String, Double] = {
    val blobs = TableFormat.read(ctx.spark, root, "postings").where("field = 'content'")
      .select("blob").collect().map(_.getAs[Array[Byte]](0))
    def decodeAll(): Long = blobs.iterator.map { b =>
      val v = new PostingsCodec.BlobView(b)
      (0 until v.nBlocks).iterator.map(v.decodePostings(_).length.toLong).sum
    }.sum
    val decoded = blobs.map(b => new PostingsCodec.BlobView(b).allPostings.toIndexedSeq)
    val postings = decodeAll().toDouble
    val decodeMs = (0 until 5).map(_ => ctx.timedMs(ctx.span("codec", "BlobView.decode")(decodeAll()))._2)
    val encodeMs = (0 until 5).map(_ => ctx.timedMs(ctx.span("codec", "encodePostingsBlob")(
      decoded.foreach(PostingsCodec.encodePostingsBlob)))._2)
    Map("codec.bytes_per_posting" -> blobs.map(_.length.toLong).sum / postings,
      "codec.decode_mpostings_per_s" -> postings / 1e6 / (Stats.median(decodeMs) / 1000.0),
      "codec.encode_mpostings_per_s" -> postings / 1e6 / (Stats.median(encodeMs) / 1000.0))
  }
}

/** Table → committed index snapshots at all cores (and, in a traced
  * run, at a quarter of them for the scaling figure). Build, analysis,
  * codec encode and table writes do the work. A traced run also makes
  * the dedup pipeline's pass (`Dedup`). */
object BuildCode extends Workload {
  val name = "build_code"
  val Docs = 3000
  val ShardSize = 512L
  val Files = 4
  /** Untimed builds after the first one, and the fewest measured. */
  val WarmBuilds = 4
  val MeasuredBuilds = 8

  def run(ctx: Ctx, seconds: Double): Outcome = {
    var spark = ctx.startSpark(ctx.cores)
    val docs = (0 until Docs).map(i => Inputs.doc(ctx.seed, i))
    val cfg = IndexConfig(shardSizeDocs = ShardSize, storeContent = false)
    var source = ""
    val setup = Run.setups(ctx) { i =>
      source = ctx.dir(s"source-$i")
      ctx.layer("table", "write source table")(CodeCorpus.generate(spark, Docs, Inputs.Repos, ctx.seed, Files)
        .write.mode("overwrite").parquet(source))
    }
    val sourceBytes = Run.dirBytes(source).toDouble

    def build(out: String): Unit = ctx.layer("build", "build") {
      val (idx, planMs) = ctx.timedMs(ctx.span("build", "IndexBuilder.fromParquetTable")(
        IndexBuilder.fromParquetTable(spark, source, cfg)))
      val (_, writeMs) = ctx.timedMs(ctx.span("table", "IndexTables.write")(
        IndexTables.write(spark, idx, out)))
      if (ctx.phase == "measure") {
        ctx.sample("build.plan_ms", planMs)
        ctx.sample("table.write_s", writeMs / 1000.0)
      }
    }

    // the first build's output fixes the expected posting-row count,
    // computed from the generator's text and the docIds it gave
    ctx.phase = "warmup"
    val warm = ctx.dir("index-warm")
    build(warm)
    val docIds = TableFormat.read(spark, warm, "docs").select("docKey", "docId").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedPostings = docs.flatMap { d =>
      val shard = docIds.getOrElse(Inputs.docKey(d), -1L) / ShardSize
      Tokens.emitted(d.content).map(t => ("content", t._1, shard)).distinct ++
        Seq(("path", d.path.toLowerCase, shard), ("lang", d.lang, shard))
    }.distinct.size.toLong
    ctx.check("build: docIds are dense 0..n-1",
      docIds.values.toSeq.sorted == (0L until Docs.toLong))

    def counted(out: String): Boolean =
      TableFormat.readManifest(out, "docs").rowCount == Docs &&
        TableFormat.readManifest(out, "postings").rowCount == expectedPostings

    // untraced runs spend the whole window at all cores; a traced run
    // gives a third of it to the quarter-core build for the scaling figure
    var last = warm
    var n = 0
    def cycle(c: Int): Seq[(String, () => Boolean)] =
      Seq("build" -> (() => {
        last = ctx.dir(s"index-$n"); n += 1
        build(last)
        counted(last)
      }))
    Run.warmUp(ctx, WarmBuilds)(cycle)
    ctx.phase = "measure"
    Run.loop(ctx, if (ctx.traced) seconds * 0.65 else seconds, "op", minCycles = MeasuredBuilds)(cycle)
    val indexBytes = Run.dirBytes(last).toDouble
    val filesWritten = Run.dataFiles(last).toDouble

    // every row's content hash against the generator's text
    ctx.phase = "verify"
    val want = docs.map(d => Inputs.docKey(d) -> Tokens.sha256Hex(d.content)).toMap
    val stored = TableFormat.read(spark, last, "docs").select("docKey", "content_sha256")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    ctx.check("build: content_sha256 of every row", stored == want)
    val high = Stats.median(ctx.samplesOf("op"))
    val docsPerS = Docs / (high / 1000.0)
    val extra =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val measured = Run.codecMetrics(ctx, last) ++
          Run.analysisMetrics(ctx, docs.take(500).map(_.content)) ++ Dedup.measure(ctx)
        // the same build at a quarter of the task threads
        val low = math.max(1, ctx.cores / 4)
        ctx.phase = "scaling"
        spark = ctx.startSpark(low)
        var m = 0
        Run.loop(ctx, seconds * 0.35, "low", ab = false) { _ =>
          Seq("build_low" -> (() => {
            val out = ctx.dir(s"index-low-$m"); m += 1
            build(out)
            counted(out)
          }))
        }
        val lowMs = Stats.median(ctx.samplesOf("low"))
        measured + ("build.scaling_eff" -> (lowMs / high) / (ctx.cores.toDouble / low))
      }
    Outcome(setup,
      Seq(("build_docs_per_s", docsPerS, "1/s"),
        ("index_bytes_per_source_byte", indexBytes / sourceBytes, "ratio")) ++
        extra.get("build.scaling_eff").map(("build_scaling_eff", _, "ratio")) ++
        extra.get("pipeline.docs_per_s").map(("dedup_docs_per_s", _, "1/s")),
      extra ++ Map(
        "build.docs_per_s" -> docsPerS,
        "build.plan_ms" -> Stats.median(ctx.samplesOf("build.plan_ms")),
        "table.write_s" -> Stats.median(ctx.samplesOf("table.write_s")),
        "table.bytes_written_mb" -> indexBytes / 1e6,
        "table.files_written" -> filesWritten,
        "table.index_bytes_per_source_byte" -> indexBytes / sourceBytes))
  }
}

/** One client sending seeded query strings to a built, committed,
  * loaded and cached index, with a share through SQL `match_query`.
  * Query and codec decode do the work. */
object QueryCode extends Workload {
  val name = "query_code"
  val Docs = 5000
  val ShardSize = 2048L
  val PerShape = 6
  val K = 10
  /** Checked, untimed cycles after the first unchecked one, and the
    * fewest measured: query latency falls fastest over the first three
    * cycles in a JVM, and keeps falling slowly for many more. */
  val WarmCycles = 2
  val MeasuredCycles = 3
  /** Shapes whose strings also go through SQL, one per cycle in turn. */
  val SqlShapes = Seq("or", "must_not", "rare")

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val spark = ctx.startSpark(ctx.cores)
    val cfg = IndexConfig(shardSizeDocs = ShardSize, storeContent = false)
    // the committed index is the build workload's product; the set-up of
    // a serving process is loading it and caching it (repeated, each
    // time from a fresh load)
    ctx.phase = "prepare"
    val root = ctx.dir("index")
    ctx.layer("build", "build") {
      val built = ctx.span("build", "IndexBuilder.fromCodeDocs")(IndexBuilder.fromCodeDocs(spark,
        CodeCorpus.generate(spark, Docs, Inputs.Repos, ctx.seed, 4), cfg))
      ctx.span("table", "IndexTables.write")(IndexTables.write(spark, built, root))
    }
    var idx: InvertedIndex = null
    val loadMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setup = Run.setups(ctx) { _ =>
      if (idx != null) idx.unpersist()
      val (loaded, ms) = ctx.timedMs(ctx.layer("table", "IndexTables.load")(IndexTables.load(spark, root)))
      loadMs += ms
      idx = ctx.layer("query", "cache index") {
        val c = loaded.cache(); c.postings.count(); c.docs.count(); c.termStats.count(); c
      }
    }
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val (_, registerMs) = ctx.timedMs(ctx.layer("sql", "register") {
      MatchQuery.register(spark); MatchQuery.registerIndex("bench", root)
    })
    val searcher = new Searcher(spark, idx)

    // expected answers: exhaustive scoring of every generated query, in
    // a background thread while one untimed, unchecked cycle warms the
    // query paths
    val pool = Inputs.queries(ctx.seed, Docs, PerShape)
    val docKeys = idx.docs.select("docId", "docKey").collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    val oracleRun = scala.concurrent.Future {
      val byKey = (0 until Docs).map(i => Inputs.doc(ctx.seed, i)).map(d => Inputs.docKey(d) -> d.content).toMap
      val oracle = new Oracle(docKeys.map { case (id, key) => (id, byKey(key)) })
      pool.values.flatten.map(q => q -> oracle.rank(q)).toMap
    }(scala.concurrent.ExecutionContext.global)
    lazy val ranking = scala.concurrent.Await.result(oracleRun, scala.concurrent.duration.Duration.Inf)

    def cycle(c: Int): Seq[(String, () => Boolean)] = {
      val v = c % PerShape
      Inputs.Shapes.map { s =>
        val q = pool(s)(v)
        s -> (() => Oracle.matchesTopK(
          ctx.layer("query", s)(Run.hits(searcher.search(q.text, K))), ranking(q), K))
      } :+ ("sql" -> (() => {
        val q = pool(SqlShapes(c % SqlShapes.length))(v)
        Oracle.matchesTopK(ctx.layer("sql", "match_query")(Run.hits(spark.sql(
          s"SELECT docId, score FROM match_query('bench', '${q.text}', $K, 'query')"))),
          ranking(q), K)
      }))
    }
    ctx.phase = "warmup"
    val v = PerShape / 2
    Inputs.Shapes.foreach(s => ctx.layer("query", s)(searcher.search(pool(s)(v).text, K).collect()))
    spark.sql(s"SELECT * FROM match_query('bench', '${pool("or")(v).text}', $K, 'query')").collect()
    ranking
    // warm-up cycles draw the other half of each shape's strings
    Run.warmUp(ctx, WarmCycles)(c => cycle(c + PerShape / 2))
    ctx.phase = "measure"
    Run.loop(ctx, seconds, "op", minCycles = MeasuredCycles)(cycle)

    val lat = Inputs.Shapes.flatMap(s => ctx.samplesOf(s"op:$s"))
    val tail = Stats.tail(lat)
    val extra: Map[String, Double] =
      if (ctx.traced) { ctx.phase = "verify"; Run.codecMetrics(ctx, root) } else Map.empty
    Outcome(setup,
      Seq(("query_p50_ms", Stats.median(lat), "ms"), ("query_tail_ms", tail.map(_._2).getOrElse(0.0), "ms"),
        ("query_tail_pct", tail.map(_._1).getOrElse(0.0), "%"),
        ("query_samples", lat.size.toDouble, "count"), ("index_cache_mb", cacheMb, "MB")),
      extra ++ Inputs.Shapes.map(s => s"query.$s.p50_ms" -> Stats.median(ctx.samplesOf(s"op:$s"))).toMap ++
        Map("query.p50_ms" -> Stats.median(lat), "query.tail_ms" -> tail.map(_._2).getOrElse(0.0),
          "query.tail_pct" -> tail.map(_._1).getOrElse(0.0), "query.samples" -> lat.size.toDouble,
          "query.index_cache_mb" -> cacheMb, "table.load_ms" -> Stats.median(loadMs.toSeq),
          "sql.register_ms" -> registerMs,
          "sql.match.p50_ms" -> Stats.median(ctx.samplesOf("op:sql"))))
  }
}

/** Writes beside reads: seeded appends of small batches, deletes and
  * updates, each followed by a query over `loadMerged` that must see
  * it, then one compaction. Many small segments and read-time
  * tombstone anti-joins; the merged index is never cached. */
object IngestCode extends Workload {
  val name = "ingest_code"
  val BaseDocs = 1500
  val BatchSize = 40
  val ShardSize = 1024L
  /** Untimed append/delete/update rotations, on a root of their own so
    * the measured root starts from the base segment alone, and the
    * fewest measured rotations. */
  val WarmRotations = 1
  val MeasuredRotations = 2

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val spark = ctx.startSpark(ctx.cores)
    val cfg = IndexConfig(shardSizeDocs = ShardSize)
    val prepared = scala.collection.mutable.ArrayBuffer.empty[(String, Inputs.IngestPlan)]
    val setup = Run.setups(ctx) { i =>
      val root = ctx.dir(s"ingest-$i")
      val plan = new Inputs.IngestPlan(ctx.seed, BaseDocs, BatchSize)
      ctx.layer("streaming", "append base") {
        StreamingIndexer.append(spark, root, Run.rowsDf(spark, plan.base, "id", "text"), "id", "text", Nil, cfg)
      }
      prepared += ((root, plan))
    }
    // the first set-up's root takes the warm-up writes, the last one's
    // the measured writes
    val (warmRoot, warmPlan) = prepared.head
    val (root, plan) = prepared.last

    var segmentsMax = 0
    var tombstonesMax = 0
    def op(root: String, plan: Inputs.IngestPlan, step: Inputs.IngestStep): Boolean = {
      val (_, writeMs) = ctx.timedMs(ctx.layer("streaming", step.kind)(step.kind match {
        case "append" =>
          StreamingIndexer.append(spark, root, Run.rowsDf(spark, step.docs, "id", "text"), "id", "text", Nil, cfg)
        case "delete" => StreamingIndexer.deleteIds(spark, root, step.ids)
        case "update" =>
          import spark.implicits._
          StreamingIndexer.updateDocuments(spark, root, step.ids.toDF("docId"),
            Run.rowsDf(spark, step.docs, "id", "text"), "id", "text")
      }))
      val (merged, loadMs) = ctx.timedMs(ctx.layer("streaming", "loadMerged")(
        StreamingIndexer.loadMerged(spark, root, cfg)))
      val (got, queryMs) = ctx.timedMs(ctx.layer("query", "marker")(
        Run.hits(new Searcher(spark, merged).search(Inputs.batchMarker(step.batch), 4 * BatchSize))))
      if (ctx.phase == "measure") {
        ctx.sample(s"streaming.${step.kind}_ms", writeMs)
        ctx.sample("streaming.load_merged_ms", loadMs)
        ctx.sample("query", queryMs)
        if (step.kind == "append") ctx.sample("append", writeMs + loadMs + queryMs)
        if (ctx.traced) {
          segmentsMax = math.max(segmentsMax, StreamingIndexer.completeBatches(root).size)
          tombstonesMax = math.max(tombstonesMax, plan.gone.size)
        }
      }
      val ids = got.map(_._1)
      val ok = ids.toSet == plan.live(step.batch).keySet && ids.size == ids.distinct.size &&
        !ids.exists(plan.gone.contains)
      if (!ok) System.err.println(s"[graftbench] ${step.kind} b${step.batch}: got ${ids.size} " +
        s"missing ${(plan.live(step.batch).keySet -- ids).take(5)} extra ${(ids.toSet -- plan.live(step.batch).keySet).take(5)}")
      ok
    }

    // steps are drawn when they run: each one depends on what is live
    def rotation(root: String, plan: Inputs.IngestPlan)(c: Int): Seq[(String, () => Boolean)] =
      Seq("append", "delete", "update").map(k => k -> (() => {
        require(plan.nextKind == k, s"ingest plan out of step: ${plan.nextKind} vs $k")
        op(root, plan, plan.next())
      }))
    Run.warmUp(ctx, WarmRotations)(rotation(warmRoot, warmPlan))
    ctx.phase = "measure"
    Run.loop(ctx, seconds, "op", minCycles = MeasuredRotations)(rotation(root, plan))

    // compaction, then the live set and probe answers of a fresh build
    ctx.phase = "verify"
    val segmentBytes = Run.dirBytes(root).toDouble
    val (compacted, compactMs) = ctx.timedMs(ctx.layer("streaming", "compact")(
      StreamingIndexer.compact(spark, root, cfg)))
    val liveRows = plan.liveRows
    val liveIds = compacted.docs.select("docId").collect().map(_.getLong(0)).toSet
    ctx.check("ingest: compacted live set", liveIds == liveRows.map(_._1).toSet && liveIds.size == liveRows.size)
    val fresh = ctx.layer("build", "fresh build")(
      IndexBuilder.fromText(spark, Run.rowsDf(spark, liveRows, "id", "text"), "id", "text", Nil, cfg))
    val q = Inputs.queries(ctx.seed, BaseDocs, 1)("or").head.text
    val a = Run.hits(new Searcher(spark, compacted).search(q, 10))
    val b = Run.hits(new Searcher(spark, fresh).search(q, 10))
    ctx.check("ingest: compacted probe equals a fresh build", a.nonEmpty &&
      a.map(_._1) == b.map(_._1) && a.zip(b).forall { case (x, y) => Oracle.close(x._2, y._2) })
    val compactDir = StreamingIndexer.latestCompactionInfo(root).map(c => s"$root/${c.dir}")
    val ratio = compactDir.map(d => Run.dirBytes(d).toDouble / segmentBytes).getOrElse(0.0)

    val extra: Map[String, Double] =
      if (ctx.traced) Run.analysisMetrics(ctx, plan.base.take(500).map(_._2)) else Map.empty
    def med(k: String) = ctx.samplesOf(k) match { case Nil => 0.0; case xs => Stats.median(xs) }
    Outcome(setup,
      Seq(("append_p50_ms", med("append"), "ms"), ("query_p50_ms", med("query"), "ms"),
        ("compact_s", compactMs / 1000.0, "s")),
      extra ++ Map(
        "streaming.append_ms" -> med("streaming.append_ms"),
        "streaming.delete_ms" -> med("streaming.delete_ms"),
        "streaming.update_ms" -> med("streaming.update_ms"),
        "streaming.load_merged_ms" -> med("streaming.load_merged_ms"),
        "streaming.append_p50_ms" -> med("append"),
        "streaming.compact_s" -> compactMs / 1000.0,
        "streaming.segments_max" -> segmentsMax.toDouble,
        "streaming.tombstones_max" -> tombstonesMax.toDouble,
        "streaming.compact_rewrite_ratio" -> ratio,
        "query.p50_ms" -> med("query"),
        "query.samples" -> ctx.samplesOf("query").size.toDouble))
  }
}

/** The dedup pipeline over a seeded corpus with planted near-duplicate
  * families: one pass of exact, MinHash, SimHash, n-gram Jaccard and
  * group assignment, checked against the planted pairs. A traced
  * `build_code` run makes it, after its builds: it is the pipeline
  * layer's measurement, the first pass in the JVM, as a batch job runs.
  * It is not a workload of its own because its steady pass time takes
  * two untimed passes of about 25 s to reach, too long for the number
  * of runs the benchmark is given. */
object Dedup {
  val Docs = 800
  val Families = 40
  val Tau = 0.8
  val MaxHam = 8
  val Ops = Seq("exact", "minhash", "simhash", "jaccard", "groups")

  /** Writes the corpus, makes one checked pass and returns the
    * pipeline's per-layer metrics. */
  def measure(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val (rows, planted) = Inputs.dedupCorpus(ctx.seed, Docs, Families)
    val text = rows.toMap
    val path = ctx.dir("dedup")
    ctx.layer("table", "write corpus")(
      Run.rowsDf(spark, rows, "doc_id", "text").write.mode("overwrite").parquet(path))
    val docs = spark.read.parquet(path)
    val above = planted.filter { case (a, b) => Inputs.jaccard(text(a), text(b)) >= Tau }
    val exact = planted.filter { case (a, b) => text(a) == text(b) }

    var precision = 0.0
    var recall = 0.0
    def pass(): Boolean = {
      def call[A](op: String)(body: => A): A = {
        val (r, ms) = ctx.timedMs(ctx.layer(s"pipeline.$op", op)(body))
        ctx.sample(s"pipeline.${op}_s", ms / 1000.0)
        r
      }
      val keep = call("exact")(TextPipeline.dedupExact(docs).collect())
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
      val cand = call("minhash")(TextPipeline.minhashCandidates(docs).collect())
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
      call("simhash")(TextPipeline.simhashPairs(docs, MaxHam).collect())
      val jac = call("jaccard")(TextPipeline.ngramJaccardPairs(docs, Tau).collect())
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
      val comp = call("groups")(TextPipeline.dedupGroups(docs, MaxHam).collect())
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("comp")).toMap
      precision = if (cand.isEmpty) 0.0 else cand.count(jac.contains).toDouble / cand.size
      recall = above.count { case (a, b) => comp.get(a).exists(comp.get(b).contains) }.toDouble /
        math.max(1, above.size)
      above.forall(jac.contains) &&
        exact.forall { case (a, b) => keep.get(a).exists(_ >= 2) && !keep.contains(b) }
    }

    // the pass runs in the measure phase so its Spark work is attributed
    ctx.phase = "measure"
    Run.loop(ctx, 0, "dedup", ab = false)(_ => Seq("dedup_pass" -> (() => pass())))
    val passS = Stats.median(ctx.samplesOf("dedup")) / 1000.0
    Ops.map(o => s"pipeline.${o}_s" -> Stats.median(ctx.samplesOf(s"pipeline.${o}_s"))).toMap ++
      Map("pipeline.minhash_precision" -> precision, "pipeline.planted_recall" -> recall,
        "pipeline.docs_per_s" -> rows.size / passS)
  }
}
