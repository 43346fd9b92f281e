package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interval–interval overlap join — the general form of the
  * reference's annotation-over-samples lookup (SURVEY.md §2.6; q32 is
  * the point-in-interval special case with an equi series key). This
  * module handles the harder shape: two LARGE interval relations with
  * NO shared equi key (cross-series incident correlation), where a
  * naive `a.start <= b.end AND b.start <= a.end` theta join would plan
  * as a nested-loop cartesian — quadratic at 100 TB.
  *
  * Scale shape: time-bucket decomposition. Each interval explodes to
  * the fixed-width buckets it covers, the join becomes an equi join on
  * the bucket id (hash join, AQE-skew-splittable), the true overlap
  * predicate filters within buckets, and each surviving pair is kept
  * exactly once — in the first bucket both intervals share
  * (`bucket = max(floor(l.start/B), floor(r.start/B))`) — so no
  * distinct shuffle is needed afterwards. Explode factor is
  * `duration/B + 1` per interval; pick B near the typical interval
  * length to keep it a small constant.
  */
object Intervals {

  /** Overlap-join two interval relations on [startCol, endCol]
    * (inclusive bounds, seconds). Output columns are the left's
    * prefixed `l_` then the right's prefixed `r_`; `extraPred` (over
    * the prefixed columns) narrows pairs beyond pure time overlap.
    */
  def overlapJoin(left: DataFrame, right: DataFrame, startCol: String,
      endCol: String, bucketSec: Double,
      extraPred: Column = lit(true)): DataFrame = {
    require(bucketSec > 0, "bucketSec must be positive")
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, "l_" + c))
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, "r_" + c))
    def bucket(c: Column): Column = floor(c / bucketSec).cast("long")
    val lb = l.withColumn("__bucket",
      explode(sequence(bucket(col("l_" + startCol)), bucket(col("l_" + endCol)))))
    val rb = r.withColumn("__bucket",
      explode(sequence(bucket(col("r_" + startCol)), bucket(col("r_" + endCol)))))
    lb.join(rb, "__bucket")
      .filter(col("l_" + startCol) <= col("r_" + endCol) &&
        col("r_" + startCol) <= col("l_" + endCol))
      // dedup-free uniqueness: emit the pair only in the first shared bucket
      .filter(col("__bucket") ===
        greatest(bucket(col("l_" + startCol)), bucket(col("r_" + startCol))))
      .filter(extraPred)
      .drop("__bucket")
  }

  private val sAbs = SeriesOps.Series(Seq("user_id"), "t", Seq("event_id"))

  /** Consecutive-run islands of `eventType` per user on the absolute
    * time axis, kept when the burst has at least `minRows` events.
    */
  private def bursts(spark: org.apache.spark.sql.SparkSession, dir: String,
      eventType: String, minRows: Long): DataFrame =
    SeriesOps.islands(Tables.series(spark, dir), sAbs,
        col("event_type") === eventType)
      .filter(col("n_rows") >= minRows)
      .select(col("user_id"), col("seg_start").as("start"),
        col("seg_end").as("end"), col("n_rows").as("n"))

  /** Cross-user incident correlation: which purchase bursts (≥3
    * consecutive purchases) overlapped someone ELSE's error burst (≥3
    * consecutive errors) in absolute time. Both sides are derived
    * interval relations with no equi key — the bucketized overlap
    * join above; the DuckDB oracle is the plain theta join.
    */
  val q113OverlapJoin: QueryDef = {
    val bucket = 86400.0 // one day ≈ the typical burst length scale
    def islSql(tpe: String) =
      s"""SELECT user_id, min(t) AS s0, max(t) AS e0, count(*) AS n
         |  FROM f WHERE event_type = '$tpe'
         |  GROUP BY user_id, rn - rnt HAVING count(*) >= 3""".stripMargin
    QueryDef.sql(
      "q113_overlap_join",
      s"""WITH s AS (${Tables.seriesSql}),
         |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
         |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
         |ei AS (${islSql("error")}),
         |pi AS (${islSql("purchase")})
         |SELECT e.user_id AS l_user_id, e.s0 AS l_start, e.e0 AS l_end,
         |  e.n AS l_n, p.user_id AS r_user_id, p.s0 AS r_start,
         |  p.e0 AS r_end, p.n AS r_n
         |FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
         |  AND e.user_id <> p.user_id
         |ORDER BY l_user_id, l_start, r_user_id, r_start""".stripMargin) { (spark, dir) =>
      val errors = bursts(spark, dir, "error", 3L)
      val buys = bursts(spark, dir, "purchase", 3L)
      overlapJoin(errors, buys, "start", "end", bucket,
          col("l_user_id") =!= col("r_user_id"))
        .select(col("l_user_id"), col("l_start"), col("l_end"),
          col("l_n"), col("r_user_id"), col("r_start"),
          col("r_end"), col("r_n"))
        .orderBy("l_user_id", "l_start", "r_user_id", "r_start")
    }
  }

  /** The SAME overlap semantics as q113 (different burst threshold:
    * ≥2 consecutive events) but written as the NAIVE theta join —
    * [[graft.plans.OverlapJoinRewrite.Forced]] rewrites its analyzed
    * plan into the bucketed hash join. This is the end-to-end drive
    * of the Catalyst rewrite tier: user writes the quadratic-looking
    * predicate, the optimizer produces the 100 TB-safe plan, and the
    * DuckDB oracle (the plain theta join) pins the semantics.
    */
  val q123RuleOverlap: QueryDef = {
    def islSql(tpe: String) =
      s"""SELECT user_id, min(t) AS s0, max(t) AS e0, count(*) AS n
         |  FROM f WHERE event_type = '$tpe'
         |  GROUP BY user_id, rn - rnt HAVING count(*) >= 2""".stripMargin
    QueryDef.sql(
      "q123_rule_overlap",
      s"""WITH s AS (${Tables.seriesSql}),
         |f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
         |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS rnt FROM s),
         |ei AS (${islSql("error")}),
         |pi AS (${islSql("purchase")})
         |SELECT e.user_id AS l_user_id, e.s0 AS l_start, e.e0 AS l_end,
         |  p.user_id AS r_user_id, p.s0 AS r_start, p.e0 AS r_end
         |FROM ei e JOIN pi p ON e.s0 <= p.e0 AND p.s0 <= e.e0
         |  AND e.user_id <> p.user_id
         |ORDER BY l_user_id, l_start, r_user_id, r_start""".stripMargin) { (spark, dir) =>
      val errors = bursts(spark, dir, "error", 2L)
        .select(col("user_id").as("l_user_id"), col("start").as("l_start"),
          col("end").as("l_end"))
      val buys = bursts(spark, dir, "purchase", 2L)
        .select(col("user_id").as("r_user_id"), col("start").as("r_start"),
          col("end").as("r_end"))
      val naive = errors.join(buys,
          col("l_start") <= col("r_end") && col("r_start") <= col("l_end") &&
          col("l_user_id") =!= col("r_user_id"))
      // the sides would broadcast at small SF, where the installed
      // size-guarded rule leaves the join alone: apply the forced
      // instance to this one plan instead of to the session
      org.apache.spark.sql.graft.bridge.ofRows(spark,
          graft.plans.OverlapJoinRewrite.Forced(naive.queryExecution.analyzed))
        .orderBy("l_user_id", "l_start", "r_user_id", "r_start")
    }
  }

  val all: Seq[QueryDef] = Seq(q113OverlapJoin, q123RuleOverlap)
}
