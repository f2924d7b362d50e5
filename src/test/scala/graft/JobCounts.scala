package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Spark jobs a body launches, for job-count pins. */
object JobCounts {

  /** One job the body launched: its description (the
    * `spark.job.description` local property it ran under) and the
    * (name, task count) of each of its stages that ran — a skipped
    * stage is never submitted. */
  final case class Job(description: String, stages: Seq[(String, Int)])

  /** Run `body` under job group `group` and return its result with the
    * jobs it launched, in job-id order. The listener bus delivers in
    * order, so once a marker job's start has arrived every earlier
    * event of the body has too. */
  def apply[T](spark: SparkSession, group: String)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val marker = group + "#marker"
    val jobs = new ConcurrentHashMap[Int, (String, Seq[Int])]()
    val ran = new ConcurrentHashMap[Int, (String, Int)]()
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        props.map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            jobs.put(j.jobId, (props.map(_.getProperty("spark.job.description")).orNull,
              j.stageIds))
            ()
          case `marker` => drained = true
          case _ => ()
        }
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
        ran.put(s.stageInfo.stageId, (s.stageInfo.name, s.stageInfo.numTasks)); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (System.nanoTime() < deadline && !drained) Thread.sleep(20)
      assert(drained, "listener bus did not drain")
      (out, jobs.asScala.toSeq.sortBy(_._1).map { case (_, (desc, ids)) =>
        Job(desc, ids.flatMap(id => Option(ran.get(id))))
      })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `apply` with AQE set to `aqe` for the body, restored after. */
  def withAqe[T](spark: SparkSession, group: String, aqe: Boolean)(body: => T): (T, Seq[Job]) = {
    val was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    try apply(spark, group)(body)
    finally spark.conf.set("spark.sql.adaptive.enabled", was)
  }
}
