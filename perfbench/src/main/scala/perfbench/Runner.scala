package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One user-visible operation of a pass: a build step in the `build`
  * layer (engine or operators) followed by an action. `headline` ops
  * feed `op_p50_ms`; every op feeds `queries_s`.
  */
final case class OpRec(name: String, buildMs: Double, actionMs: Double,
    ok: Boolean, headline: Boolean, build: Counts, action: Counts) {
  def ms: Double = buildMs + actionMs
}

/** Everything measured in one closed-loop pass. A warm pass runs before
  * the measured ones and is left out of every metric.
  */
final class Pass(val traced: Boolean, val warm: Boolean) {
  val ops = ArrayBuffer.empty[OpRec]
  var wallMs = 0.0
  var untimedMs = 0.0
  var sourcesMs = 0.0
  var sweptCheckpoints = 0L
  var leftUntracked = 0L
  var pinnedMb = 0.0
  var gcMs = 0.0
  var processCpuMs = 0.0
  var stealTicks = 0L
  var allTicks = 0L

  def okOps: Seq[OpRec] = ops.filter(_.ok).toSeq
  def sessionMs: Double = wallMs - untimedMs
  def counts(f: OpRec => Counts): Counts = ops.map(f).foldLeft(Counts())(_ + _)
}

/** Per-run context handed to a workload's pass: times every call into
  * a layer, and in traced passes also records spans and Spark counts.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, probe: Probe,
    val injectAt: Int) {
  val passes = ArrayBuffer.empty[Pass]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  private var opIndex = 0
  private def sc = spark.sparkContext
  def current: Pass = passes.last

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    val msg = s"$what: ${Option(e).map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}").getOrElse("wrong output")}"
    if (errors.size < 20) errors += msg.take(400)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A check that is part of the workload's output contract. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    try { if (!ok) fail(what, null) } catch { case e: Throwable => fail(what, e) }
  }

  def runPass(traced: Boolean, warm: Boolean)(body: => Unit): Unit = {
    val p = new Pass(traced, warm)
    passes += p
    tracer.on = traced
    if (traced) { sc.addSparkListener(probe); spark.listenerManager.register(probe) }
    val gc0 = Host.gcMs; val cpu0 = Host.processCpuMs; val (st0, all0) = Host.stealTicks
    val t0 = System.nanoTime()
    try tracer.span("pass", s"pass${passes.size}")(body)
    finally {
      p.wallMs = (System.nanoTime() - t0) / 1e6
      p.gcMs = (Host.gcMs - gc0).toDouble
      p.processCpuMs = Host.processCpuMs - cpu0
      val (st1, all1) = Host.stealTicks
      p.stealTicks = st1 - st0; p.allTicks = all1 - all0
      if (traced) {
        probe.drain(sc)
        sc.removeSparkListener(probe); spark.listenerManager.unregister(probe)
      }
      tracer.on = false
    }
  }

  /** Time a call into the sources layer (reads and writes of trials,
    * annotations and results).
    */
  def sources[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span("sources", name)(body)
    finally current.sourcesMs += (System.nanoTime() - t0) / 1e6
  }

  /** Work inside a pass that is not part of the user's loop (output
    * checks); its wall time is left out of `session_s`.
    */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally current.untimedMs += (System.nanoTime() - t0) / 1e6
  }

  /** Run one operation: `build` in `layer`, then `action` on its result.
    * A failure is counted and its time is left out of every timing.
    */
  def op(name: String, layer: String, headline: Boolean = true)(build: => DataFrame)(
      action: DataFrame => Unit): Option[DataFrame] = {
    attempted += 1
    opIndex += 1
    tracer.newRequest()
    val traced = tracer.on
    if (traced) probe.drain(sc)
    try tracer.span("op", name) {
      val t0 = System.nanoTime()
      val df = tracer.span(layer, "build")(build)
      val t1 = System.nanoTime()
      val bc = if (traced) probe.drain(sc) else Counts()
      val target = if (opIndex == injectAt) df.selectExpr("raise_error('injected failure')") else df
      val u0 = current.untimedMs
      val t2 = System.nanoTime()
      tracer.span("exec", "action")(action(target))
      val t3 = System.nanoTime()
      val ac = if (traced) probe.drain(sc) else Counts()
      val actionMs = (t3 - t2) / 1e6 - (current.untimedMs - u0)
      current.ops += OpRec(name, (t1 - t0) / 1e6, actionMs, ok = true, headline, bc, ac)
      Some(df)
    } catch {
      case e: Throwable =>
        fail(name, e)
        current.ops += OpRec(name, 0, 0, ok = false, headline, Counts(), Counts())
        None
    }
  }

  /** The refreshed view of a frame: every row evaluated, nothing written. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
}
