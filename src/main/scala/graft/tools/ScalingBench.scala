package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, IndexConfig}
import graft.query.Searcher
import graft.table.{IndexTables, TableFormat}

/** Two-parallelism scaling run (north rule: throughput scaling
  * efficiency ≥ 0.8 from N to 4N executors; sandbox proxy = local[8]
  * vs local[32] on the SAME deterministic corpus — no real cluster
  * here, see BASELINE.md protocol).
  *
  * Reports docs/sec at both levels, efficiency = speedup / 4,
  * per-query p50/p95 latency at the larger level, and writes
  * BENCH/scaling_run.md (one-JVM convenience mode; the curated
  * BENCH/BASELINE.md is produced from interleaved fresh-JVM "one"
  * runs via tools/mk_bench_baseline.py). Per-row sha256 invariant
  * re-checked inside every run (BASELINE.json input_hint).
  *
  * Usage: runMain graft.tools.ScalingBench [numFiles] [outPath]
  */
object ScalingBench {

  /** Master for `cpus` total cores. Default local[cpus]; with
    * GRAFT_EXECUTORS=k set, local-cluster[k, cpus/k, mem] — REAL
    * separate executor JVMs (own heap, own GC), the faithful sandbox
    * instantiation of the north rule's "N vs 4N executors": adding
    * executors adds heaps, exactly like adding cluster nodes, instead
    * of multiplying allocating threads inside one shared heap. */
  private def master(cpus: Int): String =
    sys.env.get("GRAFT_EXECUTORS") match {
      case Some(k) =>
        val execs = k.toInt
        // integer division would silently run fewer total cores than
        // `cpus` while the run stays labeled graft-scaling-<cpus>,
        // skewing per-core efficiency — fail fast instead
        require(execs > 0 && cpus % execs == 0,
          s"GRAFT_EXECUTORS=$execs must divide cpus=$cpus evenly " +
            s"(would run ${execs * (cpus / math.max(execs, 1))} cores labeled $cpus)")
        val memMb = sys.env.getOrElse("GRAFT_EXEC_MEM_MB", "6144").toInt
        s"local-cluster[$execs,${cpus / execs},$memMb]"
      case None => s"local[$cpus]"
    }

  /** Classes dir shipped to local-cluster executor JVMs — derived from
    * the RUNNING JVM's classpath (sbt runMain puts target/classes on
    * it), overridable via GRAFT_EXEC_CLASSPATH; a stale hardcoded path
    * would fail with executor-side ClassNotFound silently swallowed
    * into task retries. */
  private def execClassPath: String =
    sys.env.get("GRAFT_EXEC_CLASSPATH")
      .orElse(System.getProperty("java.class.path")
        .split(java.io.File.pathSeparator)
        // the segment must BE "classes" — endsWith("classes") alone
        // also matches target/scala-2.13/test-classes
        .find(p => p.endsWith(java.io.File.separator + "classes")
          && p.contains("target")))
      .getOrElse(new java.io.File("target/scala-2.13/classes").getAbsolutePath)

  /** The bench session: shuffle partitions 4×cores (AQE coalesces),
    * shuffle/spill on tmpfs, fine input splits (cores-rich/data-small
    * local regime — the 128m default stands on a real cluster). With
    * GRAFT_EXECUTORS set, ships classes + memory + optional
    * GRAFT_EXEC_JAVA_OPTS (e.g. a ParallelGC/AlwaysPreTouch A/B — by
    * default executor JVMs run Spark's stock flags, i.e. G1, unlike
    * the campaign driver's ParallelGC). */
  private def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(master(cpus))
      .appName(s"graft-scaling-$cpus")
    if (sys.env.contains("GRAFT_EXECUTORS")) {
      b.config("spark.executor.extraClassPath", execClassPath)
        .config("spark.executor.memory",
          sys.env.getOrElse("GRAFT_EXEC_MEM_MB", "6144") + "m")
      sys.env.get("GRAFT_EXEC_JAVA_OPTS").foreach(
        b.config("spark.executor.extraJavaOptions", _))
    }
    val s = b
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUF_PARTS", (cpus * 4).toString))
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("GRAFT_MAXPART", "8m"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One full index build at the given parallelism; returns
    * (wallSec, docs, shaMismatches). */
  def buildOnce(cpus: Int, numFiles: Long): (Seq[Double], Long, Long) = {
    val spark = session(cpus)
    val jobLog = new scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(j.jobId, j.time)
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobLog.synchronized {
          jobLog += ((j.jobId, Option(starts.get(j.jobId)).getOrElse(0L), j.time))
        }
    })
    try {
      import spark.implicits._
      val cfg = IndexConfig(shardSizeDocs = 1L << 16, storeContent = false)
      // the north-rule input is a TABLE of source files — materialize
      // the deterministic corpus as parquet once (shared across levels
      // and reps), so the timed section measures table → index only
      val corpusPath = s"/tmp/graft_corpus_$numFiles"
      if (!Files.exists(Paths.get(corpusPath, "_SUCCESS")))
        CodeCorpus.generate(spark, numFiles).write.mode("overwrite")
          .option("compression", "snappy").parquet(corpusPath)
      // Untimed warmup build (JIT + codegen). GRAFT_WARMUP_DOCS tunes
      // the size: 30k suffices for a single shared JVM, but in
      // local-cluster mode EACH executor JIT sees only ~1/k of the
      // warmup tasks — the round-5 phase decomposition measured a
      // 30k-warmed 4-executor first rep at 3× its warm-state task
      // time (2,327 vs 742 core·s on the 8M map phase), so sep-JVM
      // campaigns warm with ~10× more
      val warmDocs = sys.env.getOrElse("GRAFT_WARMUP_DOCS", "30000").toInt
      IndexBuilder.fromCodeDocs(spark,
        spark.read.parquet(corpusPath).limit(warmDocs).as[graft.model.CodeDoc], cfg)
        .postings.write.mode("overwrite")
        .parquet(Files.createTempDirectory("graft_warm").toString)
      // GRAFT_BUILD_REPS > 1 repeats the timed full build inside this
      // JVM (fresh output dir per rep). Long-lived cluster executors
      // amortize JIT across jobs — the warm rep is the representative
      // number; reporting every rep keeps the cold one visible.
      val buildReps = sys.env.getOrElse("GRAFT_BUILD_REPS", "1").toInt
      var nDocs = 0L
      var bad = 0L
      val secs = (1 to buildReps).map { _ =>
        // GRAFT_BUILD_OUT places the committed index on a chosen fs —
        // e.g. tmpfs, to separate engine scaling from this VM's single
        // shared virtio disk (a real cluster's executors write to
        // node-local disks that arrive WITH the added nodes, like
        // their memory channels; one ~460 MB/s disk shared by all 32
        // threads is a colocation artifact, not an engine property)
        val out = sys.env.get("GRAFT_BUILD_OUT") match {
          case Some(base) =>
            Files.createDirectories(Paths.get(base))
            Files.createTempDirectory(Paths.get(base), "graft_build").toString
          case None => Files.createTempDirectory("graft_build").toString
        }
        val t0 = System.nanoTime()
        val idx = IndexBuilder.fromParquetTable(spark, corpusPath, cfg)
        // the real build: commit the index (docs and postings tables,
        // stats.json) as snapshots
        IndexTables.write(spark, idx, out)
        val sec = (System.nanoTime() - t0) / 1e9
        nDocs = TableFormat.readManifest(out, "docs").rowCount
        val nPost = TableFormat.readManifest(out, "postings").rowCount
        // per-row invariant: stored sha256 equals sha256 of the SOURCE
        // row content, joined back on the natural key (content itself
        // is not copied into the index at scale)
        val src = spark.read.parquet(corpusPath)
          .withColumn("docKey",
            concat_ws("", col("repo"), lit("/"), col("path"), lit("@"), col("commit")))
          .select(col("docKey"), sha2(col("content"), 256).as("srcSha"))
        bad += TableFormat.read(spark, out, "docs")
          .join(src, "docKey")
          .where(col("srcSha") =!= col("content_sha256")).count()
        System.err.println(
          f"[scaling] ${spark.sparkContext.master}: $nDocs docs, $nPost posting rows, $sec%.2f s")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        sec
      }
      if (sys.env.contains("GRAFT_JOB_LOG")) jobLog.synchronized {
        val t0j = jobLog.map(_._2).min
        jobLog.foreach { case (id, s0, e) =>
          System.err.println(f"[job] $id%3d start=${(s0 - t0j) / 1e3}%7.2f dur=${(e - s0) / 1e3}%6.2f s")
        }
      }
      (secs, nDocs, bad)
    } finally spark.stop()
  }

  /** Query latencies (ms) over the reference-style query set at the
    * given parallelism, index prebuilt. */
  def queryLatencies(cpus: Int, numFiles: Long, reps: Int): Seq[(String, Seq[Double])] = {
    val spark = session(cpus)
    try {
      val corpusPath = s"/tmp/graft_corpus_$numFiles"
      if (!Files.exists(Paths.get(corpusPath, "_SUCCESS")))
        CodeCorpus.generate(spark, numFiles).write.mode("overwrite")
          .option("compression", "snappy").parquet(corpusPath)
      val idx = IndexBuilder.fromParquetTable(spark, corpusPath,
        IndexConfig(shardSizeDocs = 1L << 16, storeContent = false)).cache()
      idx.postings.count(); idx.docs.count()
      val s = new Searcher(spark, idx)
      // deterministic synthetic embeddings as a COMPUTED range (one
      // 8-dim vector per docId, no materialization): the hybrid probe
      // measures the WAND-candidate fusion path at corpus scale — the
      // candidate set (top-M lexical) broadcasts and the embedding
      // side is the probe of the inner join
      val emb = spark.range(numFiles).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 7), j -> " +
          "cast(pmod(id * 31 + j * 7919, 97) as float) / 97.0 - 0.5)")
          .as("embedding"))
      val qvec = Array.tabulate(8)(j => ((31 + j * 7919) % 97) / 97.0 - 0.5)
      val queries: Seq[(String, () => Unit)] = Seq(
        "hybrid_wand" -> (() => graft.pipeline.TextPipeline.hybridTopK(
          s.topK(Seq("id17", "return", "id999"), 100), emb, qvec,
          alpha = 0.5, k = 10).collect()),
        "single_rare" -> (() => s.topK(Seq("id9423"), 10).collect()),
        // MultiTermQuery family at corpus scale: expansion cost is the
        // dictionary scan (∝ vocabulary) + WAND over the expansion
        "prefix_id94" -> (() => s.prefixTopK("id94", 10).collect()),
        "fuzzy_returm" -> (() => s.fuzzyTopK("returm", 10, maxEdits = 1).collect()),
        "not_import" -> (() => s.topK(Seq("import"), 10,
          mustNot = Seq("x7")).collect()),
        "single_skew" -> (() => s.topK(Seq("public"), 10).collect()),
        "and_skew" -> (() => s.topK(Seq("import", "class"), 10, requireAll = true).collect()),
        "wand_or" -> (() => s.topK(Seq("id17", "return", "id999"), 10).collect()),
        "wand_skew" -> (() => s.topK(Seq("public", "import"), 10).collect()),
        // mixed MUST+SHOULD: a rare MUST term leapfrogs two corpus-wide
        // optionals (the pruning case ReqOpt exists for), and the same
        // shape with a common MUST (worst case: optionals rarely skip)
        "reqopt_rare" -> (() => s.topK(Seq("public", "import"), 10,
          must = Seq("id999")).collect()),
        "reqopt_skew" -> (() => s.topK(Seq("id17", "id999"), 10,
          must = Seq("public")).collect()),
        // full parser dispatch (classic syntax → ReqOpt + exclusion)
        "qstring_mixed" -> (() => s.search("+id999 public import -x7", 10).collect()),
        // phrase: pruned positional path — "public class" opens every
        // java/scala doc (common-common), "return x5" pairs a
        // corpus-wide term with a 1-in-13 tail marker (common+rare, the
        // pruning case)
        "phrase_sel" -> (() => s.phraseTopK(Seq("return", "x5"), 10).collect()),
        "phrase_skew" -> (() => s.phraseTopK(Seq("public", "class"), 10).collect()),
        // round-5 family: sloppy window on both phrase shapes, slot
        // alternatives over the two commonest keywords, a common-term
        // phrase whose FINAL slot is a 111-term dictionary prefix
        // expansion, and mm=2 over the mixed-df OR triple
        "slop_sel" -> (() => s.phraseTopK(Seq("return", "x5"), 10, slop = 2).collect()),
        "slop_skew" -> (() => s.phraseTopK(Seq("public", "class"), 10, slop = 2).collect()),
        "mphrase_skew" -> (() => s.multiPhraseTopK(
          Seq(Seq("public"), Seq("class", "static")), 10).collect()),
        "pprefix_id94" -> (() => s.phrasePrefixTopK(Seq("public"), "id94", 10,
          maxExpansions = 1024).collect()),
        "minshould_mixed" -> (() => s.topK(Seq("id17", "return", "id999"), 10,
          minShouldMatch = 2).collect()),
        // unordered proximity + span exclusion on the same two shapes:
        // common+rare (leapfrog prunes to the rare side) and
        // common+common (positional verification dominates); the
        // rare-exclude spanNot shape measures the raw-tf fast path
        // (exclude absent from most shards → zero positions decodes)
        "near_sel" -> (() => s.nearTopK("return", "x5", 3, 10).collect()),
        "near_skew" -> (() => s.nearTopK("public", "class", 3, 10).collect()),
        "spannot_skew" -> (() => s.spanNotTopK("public", "class", 10,
          pre = 2, post = 2).collect()),
        "spannot_rare" -> (() => s.spanNotTopK("import", "id999", 10,
          pre = 2, post = 2).collect()),
        // analytics family: facets decode the FULL match set by
        // definition (common vs rare term prices the two regimes),
        // grouped top-k rides the scoring join + a group-keyed window,
        // regex pairs with prefix_id94 (same 111-term dictionary
        // range; measures the residual regex filter cost)
        "facet_skew" -> (() => s.facetCounts(Seq("public"), "lang", 10).collect()),
        "facet_rare" -> (() => s.facetCounts(Seq("id999"), "lang", 10).collect()),
        "grouped_mixed" -> (() => s.groupedTopK(Seq("id17", "return"), "lang", 3).collect()),
        "regex_id94" -> (() => s.regexpTopK("id94[0-9]*", 10).collect()),
        // external-text MLT (no stored content needed at 8M) and the
        // constant-score filter over the same 111-term id94 range as
        // the prefix/regex anchors
        "mlt_ext" -> (() => s.moreLikeThisFromText(
          "public class return import x5 id17 id17", 10, maxQueryTerms = 4).collect()),
        "constscore_id94" -> (() => s.constantScoreRangeTopK(
          Some("id94"), Some("id95"), 10).collect()))
      // GRAFT_QUERY_FILTER (regex over names) runs a subset — keeps a
      // targeted campaign leg to minutes instead of re-timing all 30
      val qrun = sys.env.get("GRAFT_QUERY_FILTER") match {
        case Some(p) => val re = p.r
          queries.filter(q => re.findFirstIn(q._1).isDefined)
        case None => queries
      }
      qrun.map { case (name, fn) =>
        fn() // warm
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e6
        }
        name -> times
      }
    } finally spark.stop()
  }

  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
  }

  def main(args: Array[String]): Unit = {
    // single-measurement mode: fresh JVM per level (avoids same-JVM
    // order effects: GC debt, code-cache, thermal)
    if (args.headOption.contains("one")) {
      val cpus = args(1).toInt
      val numFiles = args(2).toLong
      val (secs, docs, bad) = buildOnce(cpus, numFiles)
      val secsJson = secs.map(s => f"$s%.2f").mkString("[", ",", "]")
      println(f"""{"mode":"one","cpus":$cpus,"sec":${secs.min}%.2f,"secs":$secsJson,"docs":$docs,"sha_bad":$bad}""")
      return
    }
    if (args.headOption.contains("queries")) {
      val cpus = args(1).toInt
      val numFiles = args(2).toLong
      queryLatencies(cpus, numFiles, 7).foreach { case (name, times) =>
        println(f"""{"query":"$name","p50":${pct(times, 0.5)}%.1f,"p95":${pct(times, 0.95)}%.1f}""")
      }
      return
    }
    val numFiles = args.headOption.map(_.toLong).getOrElse(200000L)
    val outPath = if (args.length > 1) args(1) else "BENCH/scaling_run.md"
    val reps = 5

    val (t8s, n8, bad8) = buildOnce(8, numFiles)
    val (t32s, n32, bad32) = buildOnce(32, numFiles)
    val (t8, t32) = (t8s.min, t32s.min)
    require(n8 == n32, s"corpus determinism violated: $n8 vs $n32")
    require(bad8 == 0 && bad32 == 0, "sha256 row invariant violated")
    val speedup = t8 / t32
    val eff = speedup / 4.0
    val lat = queryLatencies(32, numFiles, reps)

    val sb = new StringBuilder
    sb.append("# BENCH/BASELINE — measured engine numbers\n\n")
    sb.append(s"Corpus: deterministic synthetic source-code corpus (CodeCorpus, seed 42), ")
    sb.append(s"$numFiles files. Reference publishes no numbers (see /root/repo/BASELINE.md); ")
    sb.append("these are the engine's own measurements per the driver protocol.\n\n")
    sb.append("## Index-build throughput at two parallelism levels\n\n")
    sb.append("(sandbox proxy for N vs 4N executors: local[8] vs local[32], same JVM heap, same input)\n\n")
    sb.append("| config | wall (s) | docs/sec |\n|---|---|---|\n")
    sb.append(f"| local[8]  | $t8%.2f | ${n8 / t8}%.0f |\n")
    sb.append(f"| local[32] | $t32%.2f | ${n32 / t32}%.0f |\n\n")
    sb.append(f"Speedup = ${speedup}%.2f×; **scaling efficiency = ${eff}%.3f** ")
    sb.append(s"(target ≥ 0.8 → ${if (eff >= 0.8) "MET" else "NOT MET"}).\n\n")
    sb.append("Per-row sha256 invariant: 0 mismatches at both levels.\n\n")
    sb.append(s"## Query latency (local[32], $numFiles files, $reps reps)\n\n")
    sb.append("| query | p50 (ms) | p95 (ms) |\n|---|---|---|\n")
    lat.foreach { case (name, times) =>
      sb.append(f"| $name | ${pct(times, 0.5)}%.1f | ${pct(times, 0.95)}%.1f |\n")
    }
    sb.append("\nJVM: Java 17; Spark 4.1.2 local mode; shuffle partitions = core count; AQE on.\n")

    Files.createDirectories(Paths.get(outPath).getParent)
    Files.writeString(Paths.get(outPath), sb.toString)
    println(sb.toString)
    println(f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","t8":$t8%.2f,"t32":$t32%.2f,"files":$numFiles}""")
  }
}
