package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.sql.{GraftExtensions, GraftFunctions}

/** Native Catalyst analyzer expressions (graft_doclen/graft_tokenize):
  * SQL-callable, codegen'd, and bit-identical to the Scala analyzer. */
class SqlFunctionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestBase.spark
    GraftFunctions.register(s)
    s
  }
  import spark.implicits._

  test("graft_doclen / graft_tokenize are SQL-callable with analyzer semantics") {
    val r = spark.sql(
      "SELECT graft_doclen('Messi plays for Barcelona') AS dl, " +
        "graft_tokenize('Messi plays for Barcelona') AS ts").head()
    assert(r.getInt(0) === 3) // 'for' is a stopword
    assert(r.getSeq[String](1) === Seq("messi", "plays", "barcelona"))
    // null propagates
    assert(spark.sql("SELECT graft_doclen(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("graft_tokenize_raw matches Analyzer.rawTokens (stopwords, order, positions)") {
    import spark.implicits._
    val texts = Seq("Messi plays for Barcelona", "", "the a of and is",
      "public class F1 { import pkg3; }", "naïve Kelvin K test")
    graft.sql.GraftFunctions.register(spark)
    texts.zipWithIndex.foreach { case (t, i) =>
      val viaSql = spark.sql(
        s"SELECT graft_tokenize_raw('${t.replace("'", "''")}') AS r")
        .head().getSeq[String](0)
      assert(viaSql === graft.analysis.Analyzer.rawTokens(t).toSeq, s"case $i: '$t'")
    }
    // rawTok over a DataFrame: same rows as the previous flatMap shape
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextPipeline.rawTok(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val want = texts.zipWithIndex.flatMap { case (t, i) =>
      graft.analysis.Analyzer.rawTokens(t).zipWithIndex.map { case (tok, p) =>
        (i.toLong, tok, p + 1)
      }
    }.toSet
    assert(got === want)
  }

  test("codegen shingles match the reference sliding-window set") {
    import spark.implicits._
    val texts = Seq(
      "alpha beta gamma delta alpha beta gamma", // repeats → distinct matters
      "one two", // < 3 tokens → no shingles
      "", "x y z")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextPipeline.shingles(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = texts.zipWithIndex.flatMap { case (t, i) =>
      val toks = graft.analysis.Analyzer.rawTokens(t).toArray
      (0 until math.max(0, toks.length - 2)).map { j =>
        (i.toLong, s"${toks(j)} ${toks(j + 1)} ${toks(j + 2)}")
      }.distinct
    }.toSet
    assert(got === want)
  }

  test("expression results identical to the Scala analyzer over real docs") {
    val docs = graft.pipeline.TextPipeline
      .documents(spark, "/root/testdata/sf0.001").limit(50)
    val viaExpr = docs
      .select(col("doc_id"), expr("graft_doclen(text)").as("dl"),
        expr("graft_tokenize(text)").as("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2).toSeq))
    val viaScala = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) =>
        (id, Analyzer.docLen(t), Analyzer.tokenize(t).map(_._1).toSeq)
      }
    assert(viaExpr.sortBy(_._1).toSeq === viaScala.sortBy(_._1).toSeq)
  }

  test("expressions run inside whole-stage codegen") {
    val df = spark.range(100).toDF("i")
      .select(expr("graft_doclen(concat('alpha beta tok', i)) ") .as("dl"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan.take(1000)) // WholeStageCodegen marker
  }

  test("match_query TVF: SQL rows ≡ Dataset topKWand (or + and modes)") {
    import graft.build.{IndexBuilder, IndexConfig}
    import graft.model.CodeDoc
    val dir = java.nio.file.Files.createTempDirectory("graft_mq").toString
    val docs = (0 until 200).map(i =>
      CodeDoc("r", s"f$i", "c", "scala",
        s"alpha merge id$i spark beta gamma${i % 7} " +
          (if (i % 9 == 0) "window" else "delta")))
    val idx = IndexBuilder.fromCodeDocs(spark, docs.toDS(),
      IndexConfig(shardSizeDocs = 64))
    graft.table.IndexTables.write(spark, idx, dir)

    def viaSql(q: String): Seq[(Long, Double)] =
      spark.sql(q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val loaded = graft.table.IndexTables.load(spark, dir)
    val s = new graft.query.Searcher(spark, loaded)
    def viaApi(terms: Seq[String], k: Int, and: Boolean): Seq[(Long, Double)] =
      s.topK(terms, k, graft.query.BM25(), requireAll = and)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    assert(viaSql(s"SELECT * FROM match_query('$dir', 'Spark, merge window!', 10)")
      === viaApi(Seq("spark", "merge", "window"), 10, and = false))
    assert(viaSql(s"SELECT * FROM match_query('$dir', 'spark window', 10, 'and')")
      === viaApi(Seq("spark", "window"), 10, and = true))
    // composes with ordinary SQL (projection + filter over the TVF)
    val filtered = spark.sql(
      s"SELECT docId FROM match_query('$dir', 'spark merge', 20) WHERE docId % 2 = 0")
      .collect().map(_.getLong(0))
    assert(filtered.nonEmpty && filtered.forall(_ % 2 == 0))
    // empty query degrades to an empty relation, not an error
    assert(viaSql(s"SELECT * FROM match_query('$dir', 'the of and', 5)").isEmpty)

    // 'query' mode: classic +must -not syntax → ReqOpt WAND dispatch
    val s2 = new graft.query.Searcher(spark,
      graft.table.IndexTables.load(spark, dir))
    assert(viaSql(s"SELECT * FROM match_query('$dir', '+spark merge -window', 10, 'query')")
      === s2.topK(Seq("spark", "merge"), 10, graft.query.BM25(),
        must = Seq("spark"), mustNot = Seq("window"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // 'query' mode with a quoted phrase = the phrase plan
    assert(viaSql(s"SELECT * FROM match_query('$dir', '\"alpha merge\"', 10, 'query')")
      === s2.phraseTopK(Seq("alpha", "merge"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // only-prohibited query → empty relation, before any table load
    assert(viaSql(s"SELECT * FROM match_query('$dir', '-spark', 5, 'query')").isEmpty)
  }

  test("GraftExtensions injects the same function set") {
    // smoke: the plug-in entry point wires without error (a fresh
    // SparkSession with spark.sql.extensions would exercise it fully;
    // the shared-session test above covers the registered behavior)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
