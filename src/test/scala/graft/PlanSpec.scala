package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.build.{IndexBuilder, IndexConfig}
import graft.model.CodeDoc
import graft.query.Searcher
import graft.table.IndexTables

/** Physical-plan quality gates: the layouts/pushdowns we rely on at
  * scale must actually appear in the plan (a correct-but-full-scan
  * query would silently pass result tests). */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val diskDir = {
    val dir = Files.createTempDirectory("graft_plan").toString
    val docs = (0 until 300).map(i =>
      CodeDoc("r", s"f$i", "c", "scala", s"alpha beta id$i gamma merge"))
    val idx = IndexBuilder.fromCodeDocs(spark, docs.toDS(),
      IndexConfig(shardSizeDocs = 128))
    IndexTables.write(spark, idx, dir)
    dir
  }
  private lazy val diskIndex = IndexTables.load(spark, diskDir)

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("term lookup pushes field+term predicates into the parquet scan") {
    val s = new Searcher(spark, diskIndex)
    val plan = planOf(s.postingRows(Seq("merge")).toDF())
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("EqualTo(field,content)")
      || plan.contains("IsNotNull(term)"), plan.take(1500))
    // column pruning: the scan must NOT read the blob payload for
    // a dictionary-only projection
    val dictPlan = planOf(diskIndex.postings.select("field", "term", "df")
      .where(org.apache.spark.sql.functions.col("term") === "merge"))
    assert(!dictPlan.contains("blob"), dictPlan.take(1500))
  }

  test("top-k compiles to TakeOrderedAndProject (no full sort)") {
    val s = new Searcher(spark, diskIndex)
    val plan = planOf(s.topK(Seq("merge", "alpha"), 5))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("docs fetch after rank is a broadcast join of the tiny hit set") {
    val s = new Searcher(spark, diskIndex)
    val fetched = s.fetch(s.topK(Seq("merge"), 3), Seq("path"))
    fetched.collect() // run with AQE so the final plan materializes
    val plan = fetched.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
  }

  // ---- pipeline scale gates ----

  private lazy val pipelineDocs = {
    val rows = (0L until 60L).map { i =>
      (i, s"alpha beta gamma delta tok$i epsilon zeta eta theta common words here")
    }
    rows.toDF("doc_id", "text")
  }

  test("simhash pairs plan has no cartesian / nested-loop join") {
    val df = graft.pipeline.TextPipeline.simhashPairs(pipelineDocs, 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("pipeline id-assignment plans have no single-partition Window") {
    for (df <- Seq(
        graft.pipeline.TextPipeline.fingerprint(pipelineDocs),
        graft.pipeline.TextPipeline.minhashCandidates(pipelineDocs),
        graft.pipeline.TextPipeline.simhash(pipelineDocs))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // a global Window shows up as Window over SinglePartition exchange
      assert(!plan.contains("Window"), plan.take(2000))
    }
  }

  test("WAND doc-length side is pruned to touched shards") {
    val s = new Searcher(spark, diskIndex)
    val df = s.topK(Seq("merge"), 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // small touched sets prune via a codegen In-filter on the computed
    // shard column (no job, no join); large sets fall back to a
    // broadcast LeftSemi against a local relation
    assert(plan.contains(" IN ") || plan.contains("INSET")
      || plan.contains("LeftSemi"), plan.take(3000))
  }

  /** Shuffle exchanges of a query's final plan (run first): AQE's final
    * plan, or the plan itself when AQE found nothing to adapt in it (no
    * operator that needs a distribution, as over a checkpoint). */
  private def shuffleExchanges(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (new AdaptiveSparkPlanHelper {}).collect(plan) { case e: ShuffleExchangeExec => e }
  }

  test("cached index: the shard cogroup plans no shuffle, tombstones broadcast") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val cached = diskIndex.cache()
    try {
      for ((name, idx) <- Seq("cached" -> cached,
          "cached + deletes" -> cached.withDeletes(Seq(1L, 130L, 260L).toDF("docId")))) {
        val df = new Searcher(spark, idx).topK(Seq("merge", "id7"), 5)
        val ex = shuffleExchanges(df)
        assert(ex.isEmpty, s"$name: ${ex.mkString("\n")}")
        if (idx.deletes.nonEmpty) {
          val plan = df.queryExecution.executedPlan.toString
          assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
        }
      }
      // the SQL table function caches its loaded index the same way
      graft.sql.MatchQuery.register(spark)
      val sqlEx = shuffleExchanges(
        spark.sql(s"SELECT * FROM match_query('$diskDir', 'merge id7', 5)"))
      assert(sqlEx.isEmpty, sqlEx.mkString("\n"))
      // the parquet-loaded index shuffles both cogroup sides to their shard
      val ex = shuffleExchanges(new Searcher(spark, diskIndex).topK(Seq("merge", "id7"), 5))
      assert(ex.size >= 2, ex.mkString("\n"))
    } finally cached.unpersist()
  }

  test("tombstoned index keeps pushdown and plans deletes as an anti-join") {
    val idx = diskIndex.withDeletes(Seq(1L, 2L).toDF("docId"))
    val s = new Searcher(spark, idx)
    val df = s.scoredDocs(Seq("merge"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // postings scan still term-pruned; deletes enter as LeftAnti (no
    // cartesian, no filter-after-collect)
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
    val wdf = s.topK(Seq("merge"), 5)
    wdf.collect()
    val wplan = wdf.queryExecution.executedPlan.toString
    assert(wplan.contains("LeftAnti"), wplan.take(3000))
  }

  test("grouped top-k plans a WindowGroupLimit; facet docs side is shard-pruned") {
    val s = new Searcher(spark, diskIndex)
    val g = s.groupedTopK(Seq("merge"), "lang", 2)
    g.collect()
    val gplan = g.queryExecution.executedPlan.toString
    // row_number + rank<=k must trigger Spark's group-limit rewrite:
    // each map task forwards at most k rows per group into the window
    // shuffle instead of the full scored match set
    assert(gplan.contains("WindowGroupLimit"), gplan.take(2000))
    // facet on a RARE term: the stored-docs side must carry the shard
    // prune filter AND stream through a broadcast semi-join of the
    // match set (Σ df is under the gate) — the corpus-sized label scan
    // never shuffles for a selective facet
    val f = s.facetCounts(Seq("id7"), "lang", 5)
    f.collect()
    val fplan = f.queryExecution.executedPlan.toString
    assert(fplan.contains("shard"), fplan.take(2000))
    assert(fplan.contains("BroadcastHashJoin"), fplan.take(2000))
  }

  // the phrase mix's final plan reads the checkpointed doc rows; the
  // checkpoint job's own cogroup is pinned shuffle-free by Round4Spec's
  // AQE-on job cap (AQE runs each shuffle stage as a job of its own)
  test("cached index: the clause scorer plans no shuffle") {
    val cached = diskIndex.cache()
    try {
      val s = new Searcher(spark, cached)
      for ((name, df) <- Seq(
          "scoredDocs" -> s.scoredDocs(Seq("merge")),
          "phrase mix" -> s.search("+\"alpha beta\" gamma", 5))) {
        val ex = shuffleExchanges(df)
        assert(ex.isEmpty, s"$name: ${ex.mkString("\n")}")
      }
    } finally cached.unpersist()
  }

  test("match-set semi-joins follow the session broadcast threshold") {
    val s = new Searcher(spark, diskIndex)
    val queries: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => s.facetCounts(Seq("id7", "merge"), "lang", 5),
      () => s.constantScoreTopK(org.apache.spark.sql.functions.col("term").startsWith("id1"), 50))
    def run(q: () => org.apache.spark.sql.DataFrame) = {
      val df = q()
      (df.collect().toSeq, planOf(df))
    }
    val atDefault = queries.map(run)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val atOne =
      try queries.map(run)
      finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    for (((want, _), (got, plan)) <- atDefault.zip(atOne)) {
      assert(want.nonEmpty)
      assert(got === want)
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
    }
  }
}
