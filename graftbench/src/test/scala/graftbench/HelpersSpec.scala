package graftbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail rule: the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    // 200 samples: p95 has 10 beyond (rank 190), p99 has only 2
    assert(Stats.tail(xs) == Some((95.0, 190.0)))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some((75.0, 30.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    // order of the input does not matter
    assert(Stats.tail((1 to 200).reverse.map(_.toDouble)) == Some((95.0, 190.0)))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0), 99.0) == 5.0)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 50.0) == 5.0)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 100.0) == 10.0)
  }

  test("mean of medians weighs every group alike") {
    assert(Stats.meanOfMedians(Seq(Seq(1.0, 2.0, 9.0), Seq(10.0))) == 6.0)
    assert(Stats.meanOfMedians(Seq(Seq(4.0, 2.0))) == 3.0)
    assertThrows[IllegalArgumentException](Stats.meanOfMedians(Nil))
  }

  test("span self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(0, "op", "bench", 0, 100, -1, 1),
      Span(1, "a", "build", 10, 40, 0, 1),
      Span(2, "b", "table", 30, 60, 0, 1), // overlaps a: union 10..60
      Span(3, "c", "codec", 35, 45, 2, 1), // grandchild: not subtracted from op
      Span(4, "d", "query", 90, 120, 0, 1)) // sticks out of op: clipped to 90..100
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 50 - 10)
    assert(self(1) == 30)
    assert(self(2) == 30 - 10)
    assert(self(3) == 10)
    assert(self(4) == 30)
    val byLayer = Trace.selfByLayer(spans)
    assert(byLayer("bench") == 40 && byLayer("table") == 20)
    // selecting spans keeps their self time computed against all children
    assert(Trace.selfByLayer(spans, _.layer == "bench") == Map("bench" -> 40L))
  }

  test("tracer links nested spans to their parent and request") {
    val t = new Tracer
    t("bench", "op", 7) { t("build", "plan", 7)(()); t("table", "write", 7)(()) }
    val s = t.spans
    val op = s.find(_.name == "op").get
    assert(op.parent == -1)
    assert(s.filter(_.parent == op.id).map(_.name).toSet == Set("plan", "write"))
    assert(s.forall(_.request == 7))
    assert(s.forall(x => x.end >= x.start))
  }

  test("idle time is window time with no task running") {
    val windows = Seq((0L, 100L), (200L, 250L))
    val busy = Seq((10L, 30L), (20L, 50L), (90L, 210L), (240L, 260L))
    // window 1 covered 10..50 and 90..100 = 50; window 2 covered 200..210, 240..250 = 20
    assert(Intervals.idleWithin(windows, busy) == (100 - 50) + (50 - 20))
  }

  test("jobs and their tasks are attributed to the job group they ran under") {
    val a = new Attribution
    a.jobStarted(Some("query"), Seq(1, 2))
    a.jobStarted(Some("pipeline.minhash"), Seq(3))
    a.jobStarted(Some("pipeline.simhash"), Seq(2, 4)) // stage 2 reused: stays with query
    a.jobStarted(None, Seq(5))
    def task(stage: Int, busy: Long) =
      TaskSample(stage, 0, busy, busy, 1, 10, 20, 0, 30, 0, 5)
    a.taskEnded(task(1, 7)); a.taskEnded(task(2, 3))
    a.taskEnded(task(3, 11)); a.taskEnded(task(4, 13)); a.taskEnded(task(5, 17))
    val q = a.totalsUnder("query")
    assert(q.jobs == 1 && q.tasks == 2 && q.busyMs == 10 && q.shuffleWriteBytes == 20)
    val p = a.totalsUnder("pipeline")
    assert(p.jobs == 2 && p.tasks == 2 && p.busyMs == 24)
    assert(a.totalsUnder("pipeline.minhash").busyMs == 11)
    // a prefix must match a whole group-name segment
    assert(a.totalsUnder("pipe").jobs == 0)
    assert(a.totalsUnder(Attribution.Unattributed).busyMs == 17)
    assert(a.taskIntervalsUnder("pipeline").toSet == Set((0L, 11L), (0L, 13L)))
  }
}
