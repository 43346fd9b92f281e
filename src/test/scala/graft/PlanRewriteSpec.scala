package graft

import graft.plans.{InferScanBounds, OverlapJoinRewrite}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The OverlapJoinRewrite optimizer rule: a naive interval-overlap
  * theta join must come out the other side as a bucketed equi join
  * with identical results.
  */
class PlanRewriteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def left = Seq(
    (1L, 0.0, 120.0), (2L, 500.0, 640.0), (3L, 90.0, 210.0),
    (4L, 1000.0, 1000.0)).toDF("lid", "lstart", "lend")
  private def right = Seq(
    (10L, 50.0, 60.0), (20L, 130.0, 520.0), (30L, 999.0, 1200.0),
    (40L, 2000.0, 2100.0)).toDF("rid", "rstart", "rend")
  private def cond =
    col("lstart") <= col("rend") && col("rstart") <= col("lend")

  private def withRule[A](extra: (String, String)*)(body: => A): A = {
    spark.conf.set(OverlapJoinRewrite.ForceConf, "true")
    spark.conf.set(OverlapJoinRewrite.BucketConf, "100")
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.experimental.extraOptimizations = Seq(OverlapJoinRewrite)
    try body
    finally {
      spark.experimental.extraOptimizations = Nil
      spark.conf.unset(OverlapJoinRewrite.ForceConf)
      spark.conf.unset(OverlapJoinRewrite.BucketConf)
      extra.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  test("theta overlap join is rewritten to a hash join with identical rows") {
    val expected = left.join(right, cond).collect().toSet // rule NOT installed
    assert(expected.nonEmpty)
    withRule() {
      val got = left.join(right, cond)
      val phys = got.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin"), phys)
      assert(!phys.contains("CartesianProduct"), phys)
      assert(phys.contains("SortMergeJoin") || phys.contains("ShuffledHashJoin")
        || phys.contains("BroadcastHashJoin"), phys)
      assert(got.collect().toSet == expected)
    }
  }

  test("extra cross-side predicates survive the rewrite") {
    val pred = cond && col("lid") =!= lit(3L)
    val expected = left.join(right, pred).collect().toSet
    withRule() {
      assert(left.join(right, pred).collect().toSet == expected)
    }
  }

  test("joins that already have an equi key are left alone") {
    val l2 = left.withColumn("k", col("lid") % 2)
    val r2 = right.withColumn("k", col("rid") % 2)
    withRule() {
      val got = l2.join(r2, l2("k") === r2("k") && cond)
      assert(!got.queryExecution.optimizedPlan.toString.contains("__graft_bucket"))
    }
  }

  test("broadcastable sides skip the rewrite unless forced") {
    // tiny local relations fit the default 10 MB broadcast threshold:
    // the BNLJ is already the right plan, the rule must not fire
    spark.experimental.extraOptimizations = Seq(OverlapJoinRewrite)
    try {
      val got = left.join(right, cond)
      assert(!got.queryExecution.optimizedPlan.toString.contains("__graft_bucket"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("strict inequalities and null bounds keep naive semantics") {
    val l = Seq((1L, Some(0.0), Some(100.0)), (2L, None, Some(50.0)),
      (3L, Some(40.0), Some(45.0))).toDF("lid", "lstart", "lend")
    val r = Seq((10L, 42.0, 43.0), (20L, 99.0, 260.0)).toDF("rid", "rstart", "rend")
    val strict = col("lstart") < col("rend") && col("rstart") < col("lend")
    val expected = l.join(r, strict).collect().toSet
    withRule() {
      assert(l.join(r, strict).collect().toSet == expected)
    }
  }

  test("GraftExtensions registers rules, strategy, and functions") {
    new graft.GraftExtensions().apply(new SparkSessionExtensions) // must not throw
  }

  test("derived-time predicates push an inferred raw bound to the parquet scan") {
    spark.experimental.extraOptimizations = Seq(InferScanBounds)
    try {
      val sliced = graft.operators.SeriesOps.timeSlice(
        graft.sources.Tables.series(spark, "/root/testdata/sf0.001"),
        graft.operators.SeriesOps.Series(Seq("user_id"), "t", Seq("event_id")),
        1.7045e9, 1.7046e9)
      val scan = sliced.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(scan.contains("GreaterThanOrEqual(ts,") &&
        scan.contains("LessThanOrEqual(ts,"), s"raw ts bound not pushed:\n$scan")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("inferred bounds never drop rows: randomized boundary parity") {
    // integers through the exact derivation chain used by the series
    // view: t = (x div 1000) / 1e6 — slice at awkward fractional
    // boundaries and compare with/without the rule
    val base = spark.range(0, 5000).selectExpr("id * 997 + 13 as x")
      .selectExpr("x", "cast(x div 1000 as double) / 1e6 as t")
    val bounds = Seq(
      (0.000013, 0.004), (0.0000129999, 0.00099950), (0.001, 0.001),
      (0.0009999999999, 0.0030000000001), (0.0, 0.0049))
    val naive = bounds.map { case (lo, hi) =>
      base.filter(col("t") >= lo && col("t") <= hi).agg(count(lit(1)), sum("x"))
        .collect().toSeq
    }
    spark.experimental.extraOptimizations = Seq(InferScanBounds)
    try {
      val ruled = bounds.map { case (lo, hi) =>
        base.filter(col("t") >= lo && col("t") <= hi).agg(count(lit(1)), sum("x"))
          .collect().toSeq
      }
      assert(ruled == naive)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("timestamp-chain bounds never drop rows on an NTZ parquet fixture") {
    // the micros-encoded events read derives
    // t = (timestampdiff(µs, epoch, ts) * 1000 div 1000) / 1e6;
    // slice at boundaries exactly on/next to stored microseconds and
    // compare with/without the rule against the real parquet scan
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz-parity").toString
    (0 until 4000).map(i => (i.toLong, 1704000000000000L + i * 997L))
      .toDF("event_id", "us")
      .select(col("event_id"),
        org.apache.spark.sql.functions.timestamp_micros(col("us"))
          .cast("timestamp_ntz").as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val base = graft.sources.Tables
      .normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
      .selectExpr("event_id", "cast(ts div 1000 as double) / 1e6 as t")
    val bounds = Seq(
      (1704000000.000997, 1704000000.0997),
      (1704000000.0009969999, 1704000000.0997000001),
      (1704000000.001, 1704000000.001),
      (1704000000.0, 1704000003.988))
    def run() = bounds.map { case (lo, hi) =>
      base.filter(col("t") >= lo && col("t") <= hi)
        .agg(count(lit(1)), sum("event_id")).collect().toSeq
    }
    val naive = run()
    spark.experimental.extraOptimizations = Seq(InferScanBounds)
    try assert(run() == naive)
    finally spark.experimental.extraOptimizations = Nil
  }

  test("point-in-interval theta joins rewrite too (degenerate point side)") {
    // p.t BETWEEN i.s AND i.e with no equi key: the left "interval"
    // is the point [t, t] — one bucket, same machinery
    val points = Seq((1L, 55.0), (2L, 130.0), (3L, 5000.0)).toDF("pid", "t")
    val ivals = Seq((10L, 50.0, 60.0), (20L, 100.0, 520.0)).toDF("iid", "s", "e")
    val cond = col("s") <= col("t") && col("t") <= col("e")
    val expected = points.join(ivals, cond).collect().toSet
    withRule() {
      val got = points.join(ivals, cond)
      val phys = got.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"), phys)
      assert(got.collect().toSet == expected)
      assert(expected.size == 2)
    }
  }

  test("narrowing casts are never inverted (truncation is not monotone-exact)") {
    // cast(d as int) <= 4 is TRUE for d = 4.7; a naive inversion
    // would conjoin d <= 4.0 and drop the row
    val df = Seq(4.7, 4.0, 5.1, -4.7).toDF("d")
    val expected = df.filter(expr("cast(d as int) <= 4")).collect().toSet
    spark.experimental.extraOptimizations = Seq(InferScanBounds)
    try {
      val got = df.filter(expr("cast(d as int) <= 4"))
      assert(got.collect().toSet == expected) // {4.7, 4.0, -4.7}
      assert(got.count() == 3)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("long literals above 2^53 keep boundary rows (ulp slack)") {
    val edge = 9007199254740993L // 2^53 + 1: rounds UP as a double
    val df = Seq(edge, edge - 1, edge + 5).toDF("x")
    spark.experimental.extraOptimizations = Seq(InferScanBounds)
    try {
      // derived chain so the rule has something to invert
      val got = df.filter(expr(s"cast(x as double) + 0.0 >= ${edge}D"))
        .as[Long].collect().toSet
      // double comparison itself is lossy at this magnitude on BOTH
      // engines; the pin is only that the INFERRED raw bound never
      // removes a row the original predicate keeps
      val naive = df.filter(expr(s"cast(x as double) + 0.0 >= ${edge}D"))
      spark.experimental.extraOptimizations = Nil
      assert(got == naive.as[Long].collect().toSet)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("literal-first comparisons infer bounds too") {
    val base = spark.range(0, 1000).selectExpr("id * 3 as x")
      .selectExpr("x", "cast(x div 10 as double) / 2.0 as t")
    spark.experimental.extraOptimizations = Seq(InferScanBounds)
    try {
      val df = base.filter(lit(30.0) <= col("t")) // t >= 30
      val cond = df.queryExecution.optimizedPlan.toString
      // the inferred RAW bound: a bare attribute `>= <int>` conjunct
      // (the optimizer collapses x = id*3 first, so the rule inverts
      // all the way down to the range's `id` column)
      assert("""\((?:x|id)#\d+L? >= \d+\)""".r.findFirstIn(cond).isDefined, cond)
      assert(df.count() == base.filter(col("t") >= 30.0).count())
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("q123 plans its naive theta join as a bucketed hash join") {
    try {
      val df = SparkEntry.queries("q123_rule_overlap")(spark, "/root/testdata/sf0.001")
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin"), phys)
      assert(!phys.contains("CartesianProduct"), phys)
      assert(df.count() > 0)
      assert(spark.experimental.extraOptimizations.isEmpty, "q123 installed a session rule")
    } finally spark.experimental.extraOptimizations = Nil
  }
}
