package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: the Spark session, the seed, a working directory,
  * and — in a traced run — the span recorder and the job attribution.
  *
  * Every call the benchmark makes into an engine layer goes through
  * `layer` (which also tags the call's Spark jobs with a job group) or
  * `span` (a nested call whose jobs stay with the enclosing group). In
  * an untraced run both are plain calls. */
final class Ctx(val seed: Long, val traced: Boolean, val work: Path, val cores: Int) {
  val tracer = new Tracer
  val attribution = new Attribution
  private var sessionOpt: Option[SparkSession] = None

  /** Set-up, warm-up, measure or verify: job groups and spans carry it,
    * and the per-layer numbers count the measure phase only. */
  private var currentPhase = "setup"
  private var phaseStart = System.nanoTime()
  def phase: String = currentPhase
  def phase_=(p: String): Unit = {
    System.err.println(f"[graftbench] $currentPhase%s done in ${(System.nanoTime() - phaseStart) / 1e9}%.2f s")
    currentPhase = p
    phaseStart = System.nanoTime()
  }
  /** Off for the untraced half of a traced run's operations. */
  var tracing: Boolean = traced
  var request: Int = 0

  private val windows = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  var attempted = 0L
  var failed = 0L

  def spark: SparkSession = sessionOpt.getOrElse(sys.error("no Spark session"))

  /** (Re)start Spark with `threads` task threads. */
  def startSpark(threads: Int): SparkSession = {
    sessionOpt.foreach(_.stop())
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (traced) s.sparkContext.addSparkListener(new AttributionListener(attribution))
    sessionOpt = Some(s)
    s
  }

  def stopSpark(): Unit = {
    sessionOpt.foreach { s =>
      if (traced) org.apache.spark.graftbench.ListenerDrain(s.sparkContext)
      s.stop()
    }
    sessionOpt = None
  }

  /** Delivers all pending listener events before attribution is read. */
  def drainListener(): Unit =
    if (traced) sessionOpt.foreach(s => org.apache.spark.graftbench.ListenerDrain(s.sparkContext))

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** A call into an engine layer; `group` is `<layer>` or `<layer>.<part>`. */
  def layer[A](group: String, name: String)(body: => A): A =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      val g = s"$phase:$group"
      sc.setLocalProperty("spark.jobGroup.id", g)
      val t0 = System.currentTimeMillis()
      try tracer(group.takeWhile(_ != '.'), s"$phase:$name", request)(body)
      finally {
        windows.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((t0, System.currentTimeMillis()))
        sc.setLocalProperty("spark.jobGroup.id", prev)
      }
    }

  /** A nested call that gets a span of its own but leaves its Spark
    * jobs attributed to the enclosing layer call. */
  def span[A](layerName: String, name: String)(body: => A): A =
    if (!tracing) body else tracer(layerName, s"$phase:$name", request)(body)

  /** Call windows (epoch ms) of the measured calls under `group`. */
  def windowsUnder(group: String): Seq[(Long, Long)] =
    windows.collect { case (g, w) if Attribution.under(g, s"measure:$group") => w.toSeq }
      .flatten.toSeq

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def samplesOf(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  /** The samples of every operation kind recorded under `key` by
    * `Run.loop` (`<key>:<kind>`), in the order the kinds first ran. */
  def kindsOf(key: String): Seq[Seq[Double]] =
    samples.collect { case (k, v) if k.startsWith(s"$key:") => v.toSeq }.toSeq

  /** Record a correctness check. A failed check counts as a failed
    * operation when `op` is set. */
  def check(name: String, ok: Boolean, op: Boolean = false): Boolean = {
    if (!ok) System.err.println(s"[graftbench] check failed: $name")
    checks += ((name, ok))
    if (op) { attempted += 1; if (!ok) failed += 1 }
    ok
  }

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
