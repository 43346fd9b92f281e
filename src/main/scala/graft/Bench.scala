package graft

/** Per-round benchmark main: runs every declared query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Queries are materialized through the `noop` sink, NOT `.count()` —
  * counting lets Catalyst prune every computed column (a windowed
  * projection would benchmark as a bare parquet row count). The noop
  * write evaluates the full output rows while measuring zero sink IO.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sfDir)
    // Per-query attribution (see BenchDiag scaladoc): splits wall time
    // into task-run/CPU/GC/spill vs outside-task time so a sweep
    // anomaly like round 5's 50x series-window phantom is self-
    // explaining from the committed BENCH_DIAG.json artifact.
    val diag = new TaskMetricsListener
    spark.sparkContext.addSparkListener(diag)
    // JVM/codegen warmup so the first measured query isn't charged
    // for executor + whole-stage-codegen compilation.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val selected = Harness.selected
    // Best-of-N per query. Default 2: one-shot timings in a shared
    // 145-query JVM charge GC/heap state from earlier queries to
    // whoever runs next (round 4 showed 2-10x phantom "regressions"
    // on unchanged queries); min-of-2 separates that noise from real
    // plan changes. SPARK_GRAFT_REPEAT overrides for profiling.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(2)
    // Extra attempts granted when every base repeat carries the
    // external-CPU-starvation signature (BENCH_NOTES.md): tasks RUN
    // for far longer than they burn CPU, with zero GC and zero spill.
    // Round 5/7 driver sweeps recorded 5-60x phantoms from this (q99
    // 5.2 s driver vs 0.37 s same-HEAD builder); re-running the repeat
    // usually lands in a calm window. Bounded so a persistently-
    // starved environment can't stall the sweep.
    val maxExtra = 2
    // Signature: material wall (>=1.5 s — sub-second queries can't be
    // meaningfully inflated and ratio noise would trigger retry
    // storms), taskRun > 3x taskCpu, GC < 10% of run, no spill.
    // Streaming queries ALSO fire this signature — their micro-batch
    // tasks idle on trigger waits (r8: q85 taskRun 63 s vs taskCpu
    // 5.4 s), which is the trigger cadence, not the environment — so
    // they are classified separately as `trigger_wait` (constant,
    // un-retryable) and never enter the starvation retry loop; only
    // BATCH queries land in `starved`.
    def isStarved(r: BenchDiag.Rec): Boolean =
      r.wallMs >= 1500 &&
        r.ts.runMs > 3L * math.max(r.ts.cpuMs, 1L) &&
        r.ts.gcMs * 10L < r.ts.runMs &&
        r.ts.memSpillB == 0L && r.ts.diskSpillB == 0L
    val diagRecs = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[BenchDiag.Rec])]
    val starvedQs = scala.collection.mutable.ArrayBuffer.empty[String]
    val triggerWaitQs = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.map { q =>
      // A FAILED query records -1, never its fail-fast wall time: an
      // analysis error takes ~0.1 s and would otherwise masquerade as
      // a 20x speedup in round-over-round comparisons (this is what
      // invalidated the round-3 events numbers).
      val recs = scala.collection.mutable.ArrayBuffer.empty[BenchDiag.Rec]
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
      def runOnce(): Unit = {
        org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
        val ts0 = diag.snapshot
        val gc0 = BenchDiag.driverGcMs; val cpu0 = BenchDiag.processCpuMs
        val t0 = System.nanoTime()
        try {
          // the scope releases this repeat's persists after the clock
          // stops, so every repeat starts from the same memory state
          val dt = CacheScope.run(spark.sparkContext) {
            q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
          val rec = BenchDiag.Rec((dt * 1000).toLong, diag.snapshot - ts0,
            BenchDiag.driverGcMs - gc0, BenchDiag.processCpuMs - cpu0)
          recs += rec
          runs += ((dt, isStarved(rec)))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name}: ${e.getMessage}")
            runs += ((-1.0, false))
        }
      }
      (1 to repeat).foreach(_ => runOnce())
      // Starvation retry: only while EVERY successful repeat so far
      // fired the signature — one clean repeat is enough (min-of-N
      // keeps it), so retries stop as soon as the environment calms.
      // Streaming queries are exempt: their trigger-wait idling is
      // the plan's constant, so a retry can never come back clean and
      // would only add maxExtra wasted repeats per stream query.
      val isStream = q.name.contains("_stream_")
      var extra = 0
      while (!isStream && extra < maxExtra && runs.exists(_._1 >= 0) &&
          runs.filter(_._1 >= 0).forall(_._2)) {
        extra += 1; runOnce()
      }
      diagRecs += ((q.name, recs.toSeq))
      // best of the SUCCESSFUL repeats; -1 only when every repeat
      // failed (a transient failure must not erase real timings).
      // Prefer the cleanest CLEAN repeat; if all repeats starved even
      // after retries, keep the min wall but flag the query so the
      // artifact of record distinguishes phantom from plan regression
      // (batch → `starved`) or documents the expected micro-batch
      // idling (stream → `trigger_wait`).
      val ok = runs.filter(_._1 >= 0).toSeq
      val clean = ok.filter(!_._2)
      val dt =
        if (clean.nonEmpty) clean.map(_._1).min
        else if (ok.nonEmpty) {
          (if (isStream) triggerWaitQs else starvedQs) += q.name
          ok.map(_._1).min
        } else -1.0
      q.name -> dt
    }
    // The harness keeps only the LAST ~2000 chars of output, and the
    // JSON line must be COMPLETE inside that window or the round
    // records no perf numbers at all: round 2's full-name map and
    // round 7's 238-query short-key map (~2800 chars) both overflowed
    // it. A 242-query NAMED map can never fit, but the full per-query
    // VECTOR does: every query name starts with a unique qNN/qNNN id,
    // so `qi` range-encodes the ascending id list ("1-7,10-68,…") and
    // `qv` carries one time per id in that order — all 242 numbers
    // land inside the window and a round-over-round diff is
    // self-contained. BENCH_DETAIL.json (committed alongside) still
    // holds the named map at 3-decimal precision plus the FULL
    // starved/trigger_wait lists; the stdout starved list is capped
    // at 20 keys (an environment starving most of the sweep would
    // otherwise overflow the window — the round-2/7 failure mode).
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    def qNum(name: String): Int = name.drop(1).takeWhile(_.isDigit).toInt
    def rangeEncode(ids: Seq[Int]): String = {
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      ids.foreach { i =>
        if (spans.nonEmpty && spans.last._2 + 1 == i)
          spans(spans.size - 1) = (spans.last._1, i)
        else spans += ((i, i))
      }
      spans.map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }.mkString(",")
    }
    val nErrors = results.count(_._2 < 0)
    val errField = if (nErrors > 0) s""","errors":$nErrors""" else ""
    def flagJson(field: String, qs: Seq[String], key: String => String,
        cap: Int = Int.MaxValue): String =
      if (qs.isEmpty) ""
      else {
        val capped = qs.take(cap).map(n => "\"" + key(n) + "\"")
          .mkString(s""","n_$field":${qs.size},"$field":[""", ",", "]")
        capped
      }
    val total = results.map(_._2).filter(_ >= 0).sum
    val flagFields =
      flagJson("starved", starvedQs.toSeq, shortKey, cap = 20) +
        (if (triggerWaitQs.isEmpty) "" else s""","n_trigger_wait":${triggerWaitQs.size}""")
    val byId = results.sortBy(r => qNum(r._1))
    val idsField = rangeEncode(byId.map(r => qNum(r._1)))
    val head = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size}"""
    val tail = s"""$flagFields$errField,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    // The driver contract's JSON line carries a `queries` NAMED map —
    // keep it (slowest-N, short keys) next to the full qi/qv vector;
    // N and the vector precision degrade together to stay inside the
    // ~2000-char harness tail window (see below).
    def topMap(n: Int): String =
      results.filter(_._2 >= 0).sortBy(-_._2).take(n)
        .map { case (k, v) => "\"" + shortKey(k) + f"\":$v%.2f" }
        .mkString("{", ",", "}")
    def vecLine(dec: Int, topN: Int): String = {
      val qv = byId.map(r => if (r._2 < 0) "-1" else s"%.${dec}f".format(r._2))
        .mkString("[", ",", "]")
      s"""$head,"queries":${topMap(topN)},"qi":"$idsField","qv":$qv$tail"""
    }
    // Degrade the named-map size, then precision, before dropping the
    // full vector; only a pathological line falls back to the named
    // slowest-30 map alone (the pre-r9 format).
    val line = Seq(vecLine(2, 10), vecLine(2, 5), vecLine(1, 5))
      .find(_.length <= 1850)
      .getOrElse(s"""$head,"queries":${topMap(30)}$tail""")
    val full = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val fullFlags = flagJson("starved", starvedQs.toSeq, identity) +
      flagJson("trigger_wait", triggerWaitQs.toSeq, identity)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$full$fullFlags$errField,"sf":"$sfDir"}""" + "\n")
    catch { case _: Throwable => () }
    // Attribution sidecar: every repeat of every query with its task/
    // GC/CPU/spill split (BenchDiag scaladoc documents how to read it).
    try {
      val body = diagRecs.map { case (name, recs) =>
        s""""$name":[${recs.map(BenchDiag.recJson).mkString(",")}]"""
      }.mkString("{\"heapMbEnd\":" + BenchDiag.heapUsedMb + ",\"queries\":{", ",", "}}")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_DIAG.json"), body + "\n")
    } catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
