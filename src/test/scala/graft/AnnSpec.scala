package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TextPipeline

/** IVF ANN with the engine-built k-means quantizer over a persisted
  * layout: determinism, brute-force degradation (nProbe = nClusters ⇒
  * exact), and recall monotonicity in nProbe (probing more clusters can
  * only help — candidate sets are nested). The label-partition
  * `ivfTopK` remains the oracle-checked surface; these gates cover the
  * real quantizer.
  */
class AnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val emb =
    TextPipeline.embeddings(spark, "/root/testdata/sf0.001").cache()

  private def topIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  test("k-means centroids are deterministic across runs") {
    val a = TextPipeline.kmeansCentroids(emb, 6, 3)
    val b = TextPipeline.kmeansCentroids(emb, 6, 3)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.length === 6 && a.forall(_.length === 64))
  }

  test("persisted IVF layout: partition-pruned probe, exact at full probe") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    TextPipeline.ivfWrite(emb, root, nClusters = 6, nIter = 2)
    // cluster directories exist (one per non-empty coarse cell)
    val dirs = new java.io.File(s"$root/vectors").listFiles()
      .filter(_.getName.startsWith("cluster=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.subsetOf((0 until 6).map(c => s"cluster=$c").toSet))
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    // full probe ≡ brute force
    val exact = topIds(TextPipeline.cosineTopK(emb, 0L, 10))
    val full = TextPipeline.ivfQuery(spark, root, q, 10, nProbe = 6, excludeId = Some(0L))
    assert(topIds(full) === exact)
    // nProbe=2: the scan plan must carry a cluster partition filter
    val probed = TextPipeline.ivfQuery(spark, root, q, 10, nProbe = 2, excludeId = Some(0L))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      plan.take(2000))
  }

  test("recall@10 is monotone in nProbe and reaches 1.0 at full probe") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    TextPipeline.ivfWrite(emb, root, nClusters = 6, nIter = 2)
    val q = TextPipeline.queryVec(emb, 0L)
    val exact = topIds(TextPipeline.cosineTopK(emb, 0L, 10)).toSet
    def recall(nProbe: Int): Double = {
      val got = topIds(TextPipeline.ivfQuery(spark, root, q, 10, nProbe,
        excludeId = Some(0L))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val r1 = recall(1); val r3 = recall(3); val r6 = recall(6)
    assert(r1 <= r3 + 1e-9 && r3 <= r6 + 1e-9, s"recall not monotone: $r1 $r3 $r6")
    assert(r6 === 1.0)
    info(f"recall@10: nProbe=1 → $r1%.2f, nProbe=3 → $r3%.2f, nProbe=6 → 1.00")
  }
}
