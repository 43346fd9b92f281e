package perfbench

import java.nio.file.{Files, Paths}

import graft.api.Graft
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload (or `all` of them in turn):
  * set up the deploy-profile session several times, run closed-loop
  * passes for the requested seconds, check outputs, and write the
  * measurements to `<work>/result.json`. `perfbench/run.py` generates
  * the inputs, starts this process and prints the result.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, cpus: Int, inject: Int, setups: Int,
      trials: Seq[String], fleet: Seq[String], fleetRows: Long, edits: Int, stride: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("data"), m("cpus").toInt, m("inject").toInt, m("setups").toInt,
      list("trial"), list("fleet"), m("fleet-rows").toLong, m("edits").toInt, m("stride").toInt)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it
    * (nearest rank), as (percentile, value); the maximum when there are
    * fewer than eleven samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n < 11) (100.0, s.last)
    else (100.0 * (n - 10) / n, s(n - 11))
  }

  private def workload(a: Args, name: String): Workload = name match {
    case "trim_session" => new TrimSession(a.trials.head, a.work, a.seed, a.edits)
    case "recipe_fleet" => new RecipeFleet(a.fleet, a.work, a.fleetRows)
    case "iterative_family" => new QueryLane(QueryLane.family(a.seed), a.data, a.work)
    case "query_sample" => new QueryLane(QueryLane.sample(a.stride, a.seed), a.data, a.work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val names =
      if (a.workload == "all") Seq("trim_session", "recipe_fleet", "iterative_family", "query_sample")
      else Seq(a.workload)
    val results = names.map(n => n -> runOne(a, n, workload(a, n)))
    val body =
      if (a.workload == "all") results.map { case (n, r) => Json.str(n) + ":" + r }.mkString("{", ",", "}")
      else results.head._2
    Files.writeString(Paths.get(s"${a.work}/result.json"), body + "\n")
  }

  private def runOne(a: Args, name: String, wl: Workload): String = {
    // set-up: the deploy-profile session plus the workload's warm-up,
    // repeated so its median is steady; the last session is kept
    var spark: SparkSession = null
    val setups = (1 to a.setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Graft.sparkSession(s"local[${a.cpus}]")
      spark.sparkContext.setLogLevel("ERROR")
      wl.warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer
    val ctx = new Ctx(spark, tracer, new Probe, a.inject)
    // the first pass in a process compiles every plan shape it meets
    // (codegen, JIT); it runs the output checks and is not measured
    ctx.runPass(traced = false, warm = true)(wl.pass(ctx, 1))
    var n = 1
    // traced runs alternate untraced and traced passes, so the tracing
    // overhead is measured in the same process; a pass starts only if
    // one more like the last still ends inside the window
    var lastS = 0.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (n < (if (a.trace) 3 else 2) || elapsed + lastS <= a.seconds) {
      n += 1
      val p0 = elapsed
      val traced = a.trace && n % 2 == 1
      ctx.runPass(traced, warm = false)(wl.pass(ctx, n))
      ctx.current.pinnedMb = math.max(ctx.current.pinnedMb, Host.pinnedMb(spark.sparkContext))
      lastS = elapsed - p0
    }
    val measuredS = elapsed
    val extra = wl.finish(ctx)
    if (a.trace)
      Files.writeString(Paths.get(s"${a.work}/trace-$name.json"), tracer.json)
    spark.stop()
    metrics(a, name, wl, ctx, setups, measuredS, extra)
  }

  private def metrics(a: Args, name: String, wl: Workload, ctx: Ctx, setups: Seq[Double],
      measuredS: Double, extra: Map[String, Any]): String = {
    val plain = ctx.passes.filter(p => !p.traced && !p.warm).toSeq
    val traced = ctx.passes.filter(_.traced).toSeq
    val headline = plain.flatMap(_.okOps.filter(_.headline).map(_.ms))
    val (tailPct, tailMs) = tail(headline)
    val e2e = Map(
      "setup_s" -> median(setups),
      "session_s" -> median(plain.map(_.sessionMs / 1000)),
      // per operation the median over passes, so one slow pass of one
      // query does not move the sum
      "queries_s" -> plain.flatMap(_.okOps).groupBy(_.name).values.map(v => median(v.map(_.ms))).sum / 1000,
      "op_p50_ms" -> median(headline))
    def perPass(f: Pass => Double): Double = median(traced.map(f))
    val layers: Map[String, Any] =
      if (!a.trace) Map.empty
      else Map(
        "build.ms" -> perPass(_.okOps.map(_.buildMs).sum),
        "build.jobs" -> perPass(_.counts(_.build).jobs.toDouble),
        "planning.ms" -> perPass(_.counts(_.action).planningMs),
        "planning.plan_nodes_last" -> traced.last.ops.lastOption.map(_.action.planNodes.toDouble).getOrElse(0.0),
        "planning.exchanges" -> perPass(_.counts(_.action).exchanges.toDouble),
        "exec.ms" -> perPass(p => p.okOps.map(_.actionMs).sum - p.counts(_.action).planningMs),
        "exec.jobs" -> perPass(_.counts(_.action).jobs.toDouble),
        "exec.stages" -> perPass(_.counts(_.action).stages.toDouble),
        "exec.tasks" -> perPass(_.counts(_.action).tasks.toDouble),
        "exec.task_cpu_ms" -> perPass(_.counts(_.action).taskCpuMs),
        "exec.shuffle_write_bytes" -> perPass(_.counts(_.action).shuffleWriteBytes.toDouble),
        "exec.spill_bytes" -> perPass(_.counts(_.action).spillBytes.toDouble),
        "sources.ms" -> perPass(p => p.sourcesMs + (p.counts(_.build) + p.counts(_.action)).scanMs),
        "cache.swept_checkpoints" -> perPass(_.sweptCheckpoints.toDouble),
        "cache.left_untracked" -> perPass(_.leftUntracked.toDouble),
        "cache.pinned_mb_end" -> ctx.passes.last.pinnedMb,
        "jvm.gc_ms" -> perPass(_.gcMs),
        "jvm.outside_task_cpu_ms" -> perPass(p =>
          p.processCpuMs - (p.counts(_.build) + p.counts(_.action)).taskCpuMs),
        "host.steal_pct" -> {
          val all = ctx.passes.map(_.allTicks).sum
          if (all > 0) 100.0 * ctx.passes.map(_.stealTicks).sum / all else 0.0
        },
        "trace.overhead_pct" ->
          100.0 * (median(traced.map(_.sessionMs)) / median(plain.map(_.sessionMs)) - 1))
    val summary = Map(
      "op_tail_ms" -> tailMs, "op_tail_pct" -> tailPct, "op_samples" -> headline.size,
      "passes" -> plain.size, "traced_passes" -> traced.size, "measured_s" -> measuredS,
      "warm_pass_s" -> ctx.passes.filter(_.warm).map(_.sessionMs / 1000),
      "setup_runs_s" -> setups, "pinned_mb_end" -> ctx.passes.last.pinnedMb,
      "trace_spans" -> ctx.tracer.spans.size,
      "op_ms" -> plain.flatMap(_.okOps).groupBy(_.name).map { case (k, v) => k -> median(v.map(_.ms)) },
      "errors" -> ctx.errors.toSeq)
    Json.value(Map("workload" -> name, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "sizes" -> wl.sizes,
      "e2e" -> e2e, "layers" -> layers, "summary" -> (summary ++ extra)))
  }
}
