package graft.operators

import graft.QueryDef
import graft.functions.Dsp
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's series operators (SURVEY.md §2.2-§2.4) declared as
  * verifiable queries over the `events` table: `user_id` is the
  * series (trial) axis, `tn` the per-series zero-based seconds axis.
  *
  * Float-determinism policy (hash-compared against DuckDB):
  *   - pure navigation/arithmetic (lag/lead, +, -, ×, ÷, %, sqrt, abs)
  *     is IEEE-correctly-rounded and bit-identical across engines →
  *     emitted unrounded;
  *   - anything downstream of an engine-ordered reduction (avg, sum,
  *     stddev, covar) is rounded, typically at 6 dp, so ulp-level
  *     reduction-order noise can't flip the hash.
  */
object EventSeries {

  private val s = SeriesOps.Series(Seq("user_id"), "tn", Seq("event_id"))

  /** Shared oracle prefix: the canonical normalized series view. */
  private val S =
    s"""WITH s AS (SELECT *, t - min(t) OVER (PARTITION BY user_id) AS tn
       |FROM (${Tables.seriesSql}))""".stripMargin

  private val OW = "PARTITION BY user_id ORDER BY tn, event_id"

  // selection window used by slice/delete/mark queries: day 2
  private val selStart = 86400.0
  private val selEnd = 172800.0

  val q10TimeSlice: QueryDef = QueryDef.sql(
    "q10_time_slice",
    s"""$S SELECT user_id, event_id, tn, value FROM s
       |WHERE tn BETWEEN $selStart AND $selEnd
       |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.timeSlice(Tables.seriesNorm(spark, dir), s, selStart, selEnd)
      .select("user_id", "event_id", "tn", "value")
      .orderBy("user_id", "event_id")
  }

  val q11DeleteCollapse: QueryDef = QueryDef.sql(
    "q11_delete_collapse",
    // exact-integer ms rounding on the µs grid (see
    // SeriesOps.deleteCollapse): doubled-grid median kills halves,
    // µs→ms half-up is an integer divide — no float round anywhere
    s"""$S, surv AS (SELECT * FROM s WHERE tn < $selStart OR tn > $selEnd),
       |d AS (SELECT user_id, event_id, value, tn,
       |  CAST(round((tn - lag(tn) OVER ($OW)) * 1000000.0) AS BIGINT) AS dtu FROM surv),
       |m AS (SELECT user_id,
       |  (CAST(quantile_cont(dtu * 2, 0.5) AS BIGINT) + 1000) // 2000 AS dtm_ms
       |  FROM d WHERE dtu > 0 GROUP BY user_id),
       |r AS (SELECT user_id, event_id, value,
       |  row_number() OVER ($OW) AS rn FROM d)
       |SELECT r.user_id, r.event_id,
       |  (rn - 1) * coalesce(m.dtm_ms, 1000) / 1e3 AS new_t, r.value
       |FROM r LEFT JOIN m ON r.user_id = m.user_id
       |ORDER BY r.user_id, r.event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.deleteCollapse(Tables.seriesNorm(spark, dir), s, selStart, selEnd)
      .select(col("user_id"), col("event_id"), col("tn").as("new_t"), col("value"))
      .orderBy("user_id", "event_id")
  }

  val q12MarkBad: QueryDef = QueryDef.sql(
    "q12_mark_bad",
    s"""$S SELECT user_id, event_id, tn, value,
       |  tn BETWEEN $selStart AND $selEnd AS is_bad_segment
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.markBad(Tables.seriesNorm(spark, dir), s, selStart, selEnd)
      .select("user_id", "event_id", "tn", "value", "is_bad_segment")
      .orderBy("user_id", "event_id")
  }

  val q13Zscore: QueryDef = QueryDef.sql(
    "q13_zscore",
    s"""$S SELECT user_id, event_id, tn,
       |  round((value - avg(value) OVER (PARTITION BY user_id)) /
       |    (CASE WHEN coalesce(stddev_pop(value) OVER (PARTITION BY user_id), 0) = 0
       |     THEN 1 ELSE stddev_pop(value) OVER (PARTITION BY user_id) END), 6) AS z
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.zscore(Tables.seriesNorm(spark, dir), s, "value", "z")
      .select(col("user_id"), col("event_id"), col("tn"), round(col("z"), 6).as("z"))
      .orderBy("user_id", "event_id")
  }

  val q14PercentNorm: QueryDef = QueryDef.sql(
    "q14_percent_norm",
    s"""$S SELECT user_id, event_id, tn,
       |  value / (CASE WHEN coalesce(max(abs(value)) OVER (PARTITION BY user_id), 0) = 0
       |    THEN 1 ELSE max(abs(value)) OVER (PARTITION BY user_id) END) * 100.0 AS pct
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.percentNormalize(Tables.seriesNorm(spark, dir), s, "value", "pct")
      .select("user_id", "event_id", "tn", "pct")
      .orderBy("user_id", "event_id")
  }

  val q15MovingAvg: QueryDef = QueryDef.sql(
    "q15_moving_avg",
    s"""$S SELECT user_id, event_id, tn,
       |  round(avg(value) OVER ($OW ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS ma
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.movingAverage(Tables.seriesNorm(spark, dir), s, "value", "ma", 5)
      .select(col("user_id"), col("event_id"), col("tn"), round(col("ma"), 6).as("ma"))
      .orderBy("user_id", "event_id")
  }

  val q16RollingMedian: QueryDef = QueryDef.sql(
    "q16_rolling_median",
    s"""$S SELECT user_id, event_id, tn,
       |  round(median(value) OVER ($OW ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) AS med
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.rollingMedian(Tables.seriesNorm(spark, dir), s, "value", "med", 7)
      .select(col("user_id"), col("event_id"), col("tn"), round(col("med"), 6).as("med"))
      .orderBy("user_id", "event_id")
  }

  val q17Savgol: QueryDef = {
    val window = 11; val poly = 2; val h = window / 2
    val coefs = Dsp.savgolCoefficients(window, poly)
    // identical left-associated FIR on both sides, coefficients
    // printed at full double precision
    val firSql = coefs.zipWithIndex.map { case (c, i) =>
      val off = i - h
      val term =
        if (off < 0) s"lag(value, ${-off}) OVER ($OW)"
        else if (off > 0) s"lead(value, $off) OVER ($OW)"
        else "value"
      s"(${java.lang.Double.toString(c)}) * $term"
    }.mkString(" + ")
    QueryDef.sql(
      "q17_savgol",
      s"""$S SELECT user_id, event_id, tn,
         |  round(CASE WHEN row_number() OVER ($OW) > $h
         |    AND row_number() OVER ($OW) <= count(*) OVER (PARTITION BY user_id) - $h
         |    THEN $firSql ELSE value END, 6) AS sg
         |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      SeriesOps.savgolInterior(Tables.seriesNorm(spark, dir), s, "value", "sg", window, poly)
        .select(col("user_id"), col("event_id"), col("tn"), round(col("sg"), 6).as("sg"))
        .orderBy("user_id", "event_id")
    }
  }

  val q18Detrend: QueryDef = QueryDef.sql(
    "q18_detrend",
    s"""$S, st AS (SELECT user_id, event_id, tn, value,
       |  covar_pop(tn, value) OVER (PARTITION BY user_id) /
       |    (CASE WHEN var_pop(tn) OVER (PARTITION BY user_id) = 0 THEN 1
       |     ELSE var_pop(tn) OVER (PARTITION BY user_id) END) AS slope,
       |  avg(value) OVER (PARTITION BY user_id) AS mv,
       |  avg(tn) OVER (PARTITION BY user_id) AS mt FROM s)
       |SELECT user_id, event_id, tn,
       |  round(value - ((mv - slope * mt) + slope * tn), 6) AS detrended
       |FROM st ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.detrend(Tables.seriesNorm(spark, dir), s, "value", "detrended")
      .select(col("user_id"), col("event_id"), col("tn"),
        round(col("detrended"), 6).as("detrended"))
      .orderBy("user_id", "event_id")
  }

  val q19Derivative: QueryDef = QueryDef.sql(
    "q19_derivative",
    s"""$S, d AS (SELECT user_id, event_id, tn, value,
       |  lag(value) OVER ($OW) AS vp, lag(tn) OVER ($OW) AS tp,
       |  lead(value) OVER ($OW) AS vn, lead(tn) OVER ($OW) AS tf FROM s)
       |SELECT user_id, event_id, tn,
       |  CASE
       |    WHEN vp IS NOT NULL AND vn IS NOT NULL THEN (vn - vp) / (tf - tp)
       |    WHEN vp IS NULL AND vn IS NOT NULL THEN (vn - value) / (tf - tn)
       |    WHEN vn IS NULL AND vp IS NOT NULL THEN (value - vp) / (tn - tp)
       |    ELSE 0.0 END AS deriv
       |FROM d ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.derivative(Tables.seriesNorm(spark, dir), s, "value", "deriv")
      .select("user_id", "event_id", "tn", "deriv")
      .orderBy("user_id", "event_id")
  }

  val q20Integrate: QueryDef = QueryDef.sql(
    "q20_integrate",
    s"""$S SELECT user_id, event_id, tn,
       |  round(sum(value) OVER ($OW ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    * 1.0, 4) AS integral
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.integrate(Tables.seriesNorm(spark, dir), s, "value", "integral", 1.0)
      .select(col("user_id"), col("event_id"), col("tn"),
        round(col("integral"), 4).as("integral"))
      .orderBy("user_id", "event_id")
  }

  val q21MovingRms: QueryDef = QueryDef.sql(
    "q21_moving_rms",
    s"""$S SELECT user_id, event_id, tn,
       |  round(sqrt(avg(value * value)
       |    OVER ($OW ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)), 6) AS rms
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.movingRms(Tables.seriesNorm(spark, dir), s, "value", "rms", 5)
      .select(col("user_id"), col("event_id"), col("tn"), round(col("rms"), 6).as("rms"))
      .orderBy("user_id", "event_id")
  }

  /** Spike threshold `mean(|Δx|) + 3·std_pop(|Δx|)` per series
    * (main.py:1285-1287).
    */
  val q22SpikeThreshold: QueryDef = QueryDef.sql(
    "q22_spike_threshold",
    s"""$S, d AS (SELECT user_id,
       |  CAST(round(abs(value - lag(value) OVER ($OW)) * 1000.0) AS BIGINT) AS adm FROM s),
       |th AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS nd,
       |    CAST(sum(adm) AS DOUBLE) AS s1, CAST(sum(adm * adm) AS DOUBLE) AS s2
       |  FROM d WHERE adm IS NOT NULL GROUP BY user_id)
       |SELECT user_id,
       |  round((s1 / nd + 3 * sqrt(greatest(s2 / nd - (s1 / nd) * (s1 / nd), 0.0))) / 1000.0, 6) AS threshold
       |FROM th ORDER BY user_id""".stripMargin) { (spark, dir) =>
    // |Δx| quantized to integer milli-units; mean+3σ derived from the
    // EXACT integer moments Σm and Σm² (order-insensitive), so both
    // engines evaluate the identical IEEE expression on identical
    // inputs — no partial-aggregation flakiness
    val d = Tables.seriesNorm(spark, dir)
      .withColumn("adm",
        round(abs(col("value") - lag(col("value"), 1).over(s.ordered)) * lit(1e3))
          .cast("bigint"))
      .filter(col("adm").isNotNull)
    val th = d.groupBy("user_id")
      .agg(count(lit(1)).cast("double").as("nd"),
        sum(col("adm")).cast("double").as("s1"),
        sum(col("adm") * col("adm")).cast("double").as("s2"))
    val m1 = col("s1") / col("nd")
    th.select(col("user_id"),
        round((m1 + lit(3) * sqrt(greatest(col("s2") / col("nd") - m1 * m1, lit(0.0)))) / lit(1e3), 6)
          .as("threshold"))
      .orderBy("user_id")
  }

  /** Calibration offset `mean(src - ref)` over a time window per
    * series (main.py:627-646), with `ref = lag(src)`.
    */
  val q23Calibration: QueryDef = QueryDef.sql(
    "q23_calibration",
    s"""$S, d AS (SELECT user_id, tn,
       |  CAST(round((value - lag(value) OVER ($OW)) * 1000000.0) AS BIGINT) AS dm FROM s)
       |SELECT user_id,
       |  round(CAST(sum(dm) AS DOUBLE) / count(*) / 1000000.0, 6) AS offset
       |FROM d WHERE dm IS NOT NULL AND tn BETWEEN 0 AND $selEnd
       |GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    // micro-quantized diff -> exact integer sum -> order-insensitive mean
    Tables.seriesNorm(spark, dir)
      .withColumn("dm",
        round((col("value") - lag(col("value"), 1).over(s.ordered)) * lit(1e6)).cast("bigint"))
      .filter(col("dm").isNotNull && col("tn").between(0, selEnd))
      .groupBy("user_id")
      .agg(round(sum("dm").cast("double") / count(lit(1)) / lit(1e6), 6).as("offset"))
      .orderBy("user_id")
  }

  /** Angular frame transform R6 (main.py:604-625) with
    * `dst = lag(src)` and a 15° offset; pure IEEE arithmetic →
    * unrounded.
    */
  val q24FrameTransform: QueryDef = QueryDef.sql(
    "q24_frame_transform",
    s"""$S SELECT user_id, event_id, tn,
       |  ((value - lag(value) OVER ($OW) - 15.0 + 180.0) % 360.0 + 360.0)
       |    % 360.0 - 180.0 AS wrapped
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val df = Tables.seriesNorm(spark, dir)
    df.withColumn("wrapped",
        SeriesOps.frameTransform(col("value"), lag(col("value"), 1).over(s.ordered), 15.0))
      .select("user_id", "event_id", "tn", "wrapped")
      .orderBy("user_id", "event_id")
  }

  /** Derived expression channel R7 (main.py:810-819): the reference's
    * `pd.eval` mini-language maps onto Spark SQL `expr(...)` so
    * Catalyst is the expression compiler.
    */
  val q25DerivedExpr: QueryDef = QueryDef.sql(
    "q25_derived_expr",
    s"""$S SELECT user_id, event_id, tn,
       |  value * 2.0 + sqrt(abs(value)) AS derived
       |FROM s ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    Tables.seriesNorm(spark, dir)
      .withColumn("derived", expr("value * 2.0 + sqrt(abs(value))"))
      .select("user_id", "event_id", "tn", "derived")
      .orderBy("user_id", "event_id")
  }

  /** Episode extents A4 (main.py:1233-1277): per-series per-label
    * min/max time + count + mean value.
    */
  val q26EpisodeExtents: QueryDef = QueryDef.sql(
    "q26_episode_extents",
    s"""$S SELECT user_id, event_type, min(tn) AS t_start, max(tn) AS t_end,
       |  count(*) AS n,
       |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_value
       |FROM s GROUP BY user_id, event_type
       |ORDER BY user_id, event_type""".stripMargin) { (spark, dir) =>
    // micro-quantized mean: exact associative sum, stable run-to-run
    val micro = round(col("value") * lit(1e6)).cast("bigint")
    Tables.seriesNorm(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(min("tn").as("t_start"), max("tn").as("t_end"),
        count(lit(1)).as("n"),
        round(sum(micro).cast("double") / count(lit(1)) / lit(1e6), 6).as("mean_value"))
      .orderBy("user_id", "event_type")
  }

  /** Selection-scoped apply R4 (filter_engine.py:30-37): moving
    * average computed over ONLY the rows inside the selection
    * (partitioning by the selection flag confines the frame, matching
    * the reference's masked-subframe semantics for a contiguous
    * selection), identity outside.
    */
  val q27SelectionScoped: QueryDef = {
    val s5 = selStart * 5; val s10 = selStart * 10
    QueryDef.sql(
      "q27_selection_scoped",
      s"""$S, f AS (SELECT *, tn BETWEEN $s5 AND $s10 AS insel FROM s)
         |SELECT user_id, event_id, tn,
         |  CASE WHEN insel THEN round(avg(value) OVER (PARTITION BY user_id, insel
         |    ORDER BY tn, event_id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
         |  ELSE value END AS v
         |FROM f ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      val inSel = col("tn").between(s5, s10)
      val w = Window.partitionBy(col("user_id"), inSel)
        .orderBy(col("tn"), col("event_id")).rowsBetween(-2, 2)
      Tables.seriesNorm(spark, dir)
        .withColumn("v", when(inSel, round(avg(col("value")).over(w), 6))
          .otherwise(col("value")))
        .select("user_id", "event_id", "tn", "v")
        .orderBy("user_id", "event_id")
    }
  }

  /** Seasonal fold (plot2d.py:497-552): fold the series onto one
    * period — `season_id = floor(tn/period)`, `t_mod = tn − floor(tn/
    * period)·period` (the explicit floor form, identical in both
    * engines; `%` is fmod-shaped and could differ in ulps) — then
    * per-(series, season) overlay stats. Seasons with fewer than two
    * samples are dropped, mirroring the reference's `mask < 2` skip.
    */
  val q71SeasonalFold: QueryDef = {
    val period = 604800.0 // one week
    QueryDef.sql(
      "q71_seasonal_fold",
      s"""$S, f AS (SELECT user_id, value,
         |    CAST(floor(tn / $period) AS BIGINT) AS season_id,
         |    tn - floor(tn / $period) * $period AS t_mod
         |  FROM s)
         |SELECT user_id, season_id, count(*) AS n,
         |  min(t_mod) AS tm_min, max(t_mod) AS tm_max,
         |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE)
         |    / count(*) / 1000000.0, 6) AS mean_v
         |FROM f GROUP BY user_id, season_id HAVING count(*) >= 2
         |ORDER BY user_id, season_id""".stripMargin) { (spark, dir) =>
      val micro = round(col("value") * lit(1e6)).cast("bigint")
      Tables.seriesNorm(spark, dir)
        .withColumn("season_id", floor(col("tn") / period).cast("bigint"))
        .withColumn("t_mod", col("tn") - floor(col("tn") / period) * period)
        .groupBy("user_id", "season_id")
        .agg(count(lit(1)).as("n"),
          min("t_mod").as("tm_min"), max("t_mod").as("tm_max"),
          round(sum(micro).cast("double") / count(lit(1)) / lit(1e6), 6).as("mean_v"))
        .filter(col("n") >= 2)
        .orderBy("user_id", "season_id")
    }
  }

  /** Channel×time heatmap matrix (plot2d.py:554-584): the series
    * pivoted onto a channel-major long form — one row per
    * (sample, channel) with the channel's value where the sample
    * carries it and the reference's `nan_to_num` zero elsewhere. The
    * channel set is data-derived (distinct event types, broadcast),
    * so the pivot stays a broadcast join + projection — no shuffle of
    * the fact side.
    */
  val q72HeatmapMatrix: QueryDef = QueryDef.sql(
    "q72_heatmap_matrix",
    s"""$S, ch AS (SELECT DISTINCT event_type AS channel FROM events)
       |SELECT user_id, event_id, tn, channel,
       |  CASE WHEN event_type = channel THEN value ELSE 0.0 END AS v
       |FROM s CROSS JOIN ch
       |ORDER BY user_id, event_id, channel""".stripMargin) { (spark, dir) =>
    val ch = Tables.events(spark, dir)
      .select(col("event_type").as("channel")).distinct()
    Tables.seriesNorm(spark, dir)
      .crossJoin(broadcast(ch))
      .select(col("user_id"), col("event_id"), col("tn"), col("channel"),
        when(col("event_type") === col("channel"), col("value"))
          .otherwise(lit(0.0)).as("v"))
      .orderBy("user_id", "event_id", "channel")
  }

  /** A1's robust sibling: median/MAD normalization. Milli-unit
    * integer quantization makes both percentiles exact dyadic
    * rationals — bit-reproducible on any engine, any reduction order
    * (see [[SeriesOps.robustZscore]]).
    */
  val q101RobustZscore: QueryDef = QueryDef.sql(
    "q101_robust_zscore",
    s"""$S, qv AS (SELECT user_id, event_id, tn,
       |    CAST(round(value * 1000.0) AS BIGINT) AS q FROM s),
       |m AS (SELECT *, quantile_cont(q, 0.5) OVER (PARTITION BY user_id) AS med FROM qv),
       |d AS (SELECT *, quantile_cont(abs(q - med), 0.5)
       |    OVER (PARTITION BY user_id) AS mad FROM m)
       |SELECT user_id, event_id, tn,
       |  round((q - med) / (CASE WHEN mad = 0 OR mad IS NULL THEN 1.0
       |    ELSE 1.4826 * mad END), 6) AS rz
       |FROM d ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.robustZscore(Tables.seriesNorm(spark, dir), s, "value", "rz")
      .select(col("user_id"), col("event_id"), col("tn"), round(col("rz"), 6).as("rz"))
      .orderBy("user_id", "event_id")
  }

  /** Hampel spike repair (see [[SeriesOps.hampel]]): rolling-median
    * center, whole-series MAD scale, milli-quantized exact
    * percentiles; the threshold constant is folded to one double
    * literal shared verbatim with the oracle so repair membership is
    * bit-deterministic. Outputs pass through unrounded — every branch
    * (original value, dyadic-median/1000) is bit-identical on both
    * engines by construction.
    */
  val q112Hampel: QueryDef = {
    val c = 3.0 * 1.4826 // folded on the driver; lit() round-trips exactly
    val cLit = graft.functions.KernelOracles.lit(c)
    QueryDef.sql(
      "q112_hampel",
      s"""$S, qv AS (SELECT user_id, event_id, tn, value,
         |    CAST(round(value * 1000.0) AS BIGINT) AS q FROM s),
         |w AS (SELECT *,
         |    median(q) OVER ($OW ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS rmed,
         |    quantile_cont(q, 0.5) OVER (PARTITION BY user_id) AS med FROM qv),
         |d AS (SELECT *, quantile_cont(abs(q - med), 0.5)
         |    OVER (PARTITION BY user_id) AS mad FROM w)
         |SELECT user_id, event_id, tn,
         |  abs(q - rmed) > $cLit * mad AS hampel_repaired,
         |  CASE WHEN abs(q - rmed) > $cLit * mad
         |    THEN rmed / 1000.0 ELSE value END AS hampel
         |FROM d ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      SeriesOps.hampel(Tables.seriesNorm(spark, dir), s, "value", "hampel",
          window = 7, k = 3.0)
        .select("user_id", "event_id", "tn", "hampel_repaired", "hampel")
        .orderBy("user_id", "event_id")
    }
  }

  /** Peak detection: strict local maxima above the per-series
    * mean+2σ prominence floor computed from exact integer moments
    * (see [[SeriesOps.peaks]]).
    */
  val q102Peaks: QueryDef = QueryDef.sql(
    "q102_peaks",
    s"""$S, qv AS (SELECT user_id, event_id, tn, value,
       |    CAST(round(value * 1000.0) AS BIGINT) AS q FROM s),
       |w AS (SELECT *, lag(q) OVER ($OW) AS pq, lead(q) OVER ($OW) AS nq,
       |    CAST(count(q) OVER (PARTITION BY user_id) AS DOUBLE) AS n,
       |    CAST(sum(q) OVER (PARTITION BY user_id) AS DOUBLE) AS s1,
       |    CAST(sum(q * q) OVER (PARTITION BY user_id) AS DOUBLE) AS s2 FROM qv),
       |t AS (SELECT *, s1 / n + 2 * sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS thr FROM w)
       |SELECT user_id, event_id, tn, value
       |FROM t WHERE q > pq AND q > nq AND CAST(q AS DOUBLE) > thr
       |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.peaks(Tables.seriesNorm(spark, dir), s, "value")
      .select("user_id", "event_id", "tn", "value")
      .orderBy("user_id", "event_id")
  }

  /** Winsorized series (see [[SeriesOps.winsorize]]): per-user exact
    * [p05, p95] clipping. Clip membership and clipped values are
    * exact-integer facts (dyadic-interpolated milli percentiles), so
    * the output passes through UNROUNDED.
    */
  val q190Winsorize: QueryDef = QueryDef.sql(
    "q190_winsorize",
    s"""$S, qv AS (SELECT user_id, event_id, tn, value,
       |    CAST(round(value * 1000.0) AS BIGINT) AS q FROM s),
       |m AS (SELECT *, quantile_cont(q, 0.05) OVER (PARTITION BY user_id) AS lo,
       |    quantile_cont(q, 0.95) OVER (PARTITION BY user_id) AS hi FROM qv)
       |SELECT user_id, event_id, tn,
       |  q < lo OR q > hi AS wins_clipped,
       |  CASE WHEN q < lo THEN lo / 1000.0
       |       WHEN q > hi THEN hi / 1000.0 ELSE value END AS wins
       |FROM m ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.winsorize(Tables.seriesNorm(spark, dir), s, "value", "wins")
      .select("user_id", "event_id", "tn", "wins_clipped", "wins")
      .orderBy("user_id", "event_id")
  }

  /** q196: rolling regression slope ("rolling beta") — the local
    * trend estimate over the trailing 16 samples, the windowed
    * sibling of q191's global OLS (and the regression upgrade of
    * W7's two-point derivative). x is the integer sample index, y
    * the milli-quantized value, so all five rolling moments are
    * EXACT integer window sums; the slope is one fixed-order double
    * division of two exact integers, rounded once. Degenerate
    * windows (w = 1) emit NULL on both engines.
    *
    * Scale shape: one series shuffle, one window pass computing all
    * four rolling sums — no joins, no second shuffle.
    */
  val q196RollingBeta: QueryDef = QueryDef.sql(
    "q196_rolling_beta",
    s"""$S, qv AS (SELECT user_id, event_id, tn,
       |    CAST(round(value * 1000.0) AS BIGINT) AS y,
       |    CAST(row_number() OVER ($OW) AS BIGINT) AS i FROM s),
       |w AS (SELECT *,
       |    CAST(count(*) OVER win AS BIGINT) AS w,
       |    CAST(sum(i) OVER win AS BIGINT) AS sx,
       |    CAST(sum(i * i) OVER win AS BIGINT) AS sxx,
       |    CAST(sum(y) OVER win AS BIGINT) AS sy,
       |    CAST(sum(i * y) OVER win AS BIGINT) AS sxy
       |  FROM qv WINDOW win AS ($OW ROWS BETWEEN 15 PRECEDING AND CURRENT ROW))
       |SELECT user_id, event_id, tn,
       |  round(CASE WHEN w * sxx - sx * sx <> 0
       |    THEN CAST(w * sxy - sx * sy AS DOUBLE) / (w * sxx - sx * sx) END, 6) AS beta
       |FROM w ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    val win = s.ordered.rowsBetween(-15, 0)
    Tables.seriesNorm(spark, dir)
      .withColumn("y", round(col("value") * 1e3).cast("long"))
      .withColumn("i", row_number().over(s.ordered).cast("long"))
      .withColumn("w", count(lit(1)).over(win))
      .withColumn("sx", sum("i").over(win))
      .withColumn("sxx", sum(col("i") * col("i")).over(win))
      .withColumn("sy", sum("y").over(win))
      .withColumn("sxy", sum(col("i") * col("y")).over(win))
      .select(col("user_id"), col("event_id"), col("tn"),
        round(when(expr("w * sxx - sx * sx") =!= 0,
          expr("CAST(w * sxy - sx * sy AS DOUBLE) / (w * sxx - sx * sx)")), 6).as("beta"))
      .orderBy("user_id", "event_id")
  }

  /** q198: single structural-breakpoint detection (the Chow-test /
    * segmented-regression shape): for every candidate split of a
    * user's series, the total SSE of the best two-piece linear fit —
    * left OLS on rows 1..i, right OLS on rows i+1..n, both read off
    * PREFIX moment sums in one window pass — and the argmin split
    * per user. This is where a level/trend regime change lives; the
    * complement of W6's single global detrend.
    *
    * Determinism: per segment, `a = w·Sxy−SxSy`, `b = w·Sxx−Sx²`,
    * `c = w·Syy−Sy²` are EXACT int64 (index x, milli y; bounds
    * documented at the moment sums), and `SSE = (c·b − a²)/(w·b)`
    * is a fixed-order double expression of those exact integers —
    * identical bits on both engines, so even the argmin comparison
    * (ORDER BY sse, i) agrees exactly. The SSE is emitted UNROUNDED
    * (q110 policy): the bits already agree, and `round(x, 6)` at
    * milli² magnitudes (17 significant digits > a double's 15-16)
    * is where the ENGINES' rounding implementations disagree —
    * measured: DuckDB's scaled round returned …89673 vs the
    * BigDecimal …89674 on identical input bits. b > 0 always: x is the row
    * index, distinct within any w ≥ 2 window.
    *
    * Scale shape: one series shuffle; prefix and total moments in
    * one window pass; the candidate relation is the series itself
    * (no joins); argmin is a per-user window rank.
    */
  val q198Breakpoint: QueryDef = QueryDef.sql(
    "q198_breakpoint",
    s"""$S, qv AS (SELECT user_id, event_id, tn,
       |    CAST(round(value * 1000.0) AS BIGINT) AS y,
       |    CAST(row_number() OVER ($OW) AS BIGINT) AS i FROM s),
       |p AS (SELECT *,
       |    CAST(sum(i) OVER pw AS BIGINT) AS csx,
       |    sum(CAST(i AS HUGEINT) * i) OVER pw AS csxx,
       |    CAST(sum(y) OVER pw AS BIGINT) AS csy,
       |    sum(CAST(y AS HUGEINT) * y) OVER pw AS csyy,
       |    sum(CAST(i AS HUGEINT) * y) OVER pw AS csxy,
       |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
       |    CAST(sum(i) OVER (PARTITION BY user_id) AS BIGINT) AS tx,
       |    sum(CAST(i AS HUGEINT) * i) OVER (PARTITION BY user_id) AS txx,
       |    CAST(sum(y) OVER (PARTITION BY user_id) AS BIGINT) AS ty,
       |    sum(CAST(y AS HUGEINT) * y) OVER (PARTITION BY user_id) AS tyy,
       |    sum(CAST(i AS HUGEINT) * y) OVER (PARTITION BY user_id) AS txy
       |  FROM qv WINDOW pw AS ($OW ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |d AS (SELECT user_id, i, tn,
       |    i AS wl, n - i AS wr,
       |    CAST(CAST(i AS HUGEINT) * csyy - CAST(csy AS HUGEINT) * csy AS DOUBLE) AS cl,
       |    CAST(CAST(i AS HUGEINT) * csxx - CAST(csx AS HUGEINT) * csx AS DOUBLE) AS bl,
       |    CAST(CAST(i AS HUGEINT) * csxy - CAST(csx AS HUGEINT) * csy AS DOUBLE) AS al,
       |    CAST(CAST(n - i AS HUGEINT) * (tyy - csyy)
       |      - CAST(ty - csy AS HUGEINT) * (ty - csy) AS DOUBLE) AS cr,
       |    CAST(CAST(n - i AS HUGEINT) * (txx - csxx)
       |      - CAST(tx - csx AS HUGEINT) * (tx - csx) AS DOUBLE) AS br,
       |    CAST(CAST(n - i AS HUGEINT) * (txy - csxy)
       |      - CAST(tx - csx AS HUGEINT) * (ty - csy) AS DOUBLE) AS ar
       |  FROM p WHERE i >= 2 AND i <= n - 2),
       |e AS (SELECT user_id, i, tn,
       |    (cl * bl - al * al) / (CAST(wl AS DOUBLE) * bl)
       |    + (cr * br - ar * ar) / (CAST(wr AS DOUBLE) * br)
       |      AS sse FROM d),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY sse, i) AS rn FROM e)
       |SELECT user_id, i AS brk_i, tn AS brk_tn, sse
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val pw = s.ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val uw = Window.partitionBy("user_id")
    val p = Tables.seriesNorm(spark, dir)
      .withColumn("y", round(col("value") * 1e3).cast("long"))
      .withColumn("i", row_number().over(s.ordered).cast("long"))
      // DECIMAL(20) factors: cumulative sum(i*i) grows as n^3/3, past
      // int64 at ~3M rows per series; DuckDB widens the same sums to
      // HUGEINT. The d-CTE cross terms subtract in DECIMAL(38,0)
      // (HUGEINT in DuckDB) and cast the EXACT difference to double —
      // double products would cancel catastrophically past 2^53.
      .withColumn("csx", sum("i").over(pw))
      .withColumn("csxx", sum(expr("CAST(i AS DECIMAL(20,0)) * i")).over(pw))
      .withColumn("csy", sum("y").over(pw))
      .withColumn("csyy", sum(expr("CAST(y AS DECIMAL(20,0)) * y")).over(pw))
      .withColumn("csxy", sum(expr("CAST(i AS DECIMAL(20,0)) * y")).over(pw))
      .withColumn("n", count(lit(1)).over(uw))
      .withColumn("tx", sum("i").over(uw))
      .withColumn("txx", sum(expr("CAST(i AS DECIMAL(20,0)) * i")).over(uw))
      .withColumn("ty", sum("y").over(uw))
      .withColumn("tyy", sum(expr("CAST(y AS DECIMAL(20,0)) * y")).over(uw))
      .withColumn("txy", sum(expr("CAST(i AS DECIMAL(20,0)) * y")).over(uw))
    val d = p.filter(col("i") >= 2 && col("i") <= col("n") - 2)
      .select(col("user_id"), col("i"), col("tn"),
        col("i").as("wl"), (col("n") - col("i")).as("wr"),
        expr("CAST(CAST(i AS DECIMAL(38,0)) * csyy - CAST(csy AS DECIMAL(38,0)) * csy AS DOUBLE)").as("cl"),
        expr("CAST(CAST(i AS DECIMAL(38,0)) * csxx - CAST(csx AS DECIMAL(38,0)) * csx AS DOUBLE)").as("bl"),
        expr("CAST(CAST(i AS DECIMAL(38,0)) * csxy - CAST(csx AS DECIMAL(38,0)) * csy AS DOUBLE)").as("al"),
        expr("CAST(CAST(n - i AS DECIMAL(38,0)) * (tyy - csyy)" +
          " - CAST(ty - csy AS DECIMAL(38,0)) * (ty - csy) AS DOUBLE)").as("cr"),
        expr("CAST(CAST(n - i AS DECIMAL(38,0)) * (txx - csxx)" +
          " - CAST(tx - csx AS DECIMAL(38,0)) * (tx - csx) AS DOUBLE)").as("br"),
        expr("CAST(CAST(n - i AS DECIMAL(38,0)) * (txy - csxy)" +
          " - CAST(tx - csx AS DECIMAL(38,0)) * (ty - csy) AS DOUBLE)").as("ar"))
    val e = d.withColumn("sse",
      expr("(cl * bl - al * al) / (CAST(wl AS DOUBLE) * bl)") +
      expr("(cr * br - ar * ar) / (CAST(wr AS DOUBLE) * br)"))
    e.withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("sse"), col("i"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("i").as("brk_i"), col("tn").as("brk_tn"),
        col("sse"))
      .orderBy("user_id")
  }

  /** q211: Haar wavelet detail energies — the multi-resolution
    * energy spectrum of each series (which TIME SCALES carry the
    * signal's variance: level 1 = sample-to-sample noise, level 5 =
    * 32-sample trends). Unnormalized Haar: the level-k detail of
    * block b is `Σ±q` with the sign given by bit k−1 of the row
    * index — ONE hash aggregate per level expresses the whole
    * transform, no sequential kernel needed; energies are exact
    * integer sums of squared integer details (milli-quantized, the
    * engine's standard policy). Partial tail blocks contribute
    * their partial detail — identical on both engines.
    *
    * Scale shape: the level axis is a 5-way explode (constant
    * fan-out), then one map-side-combined aggregate keyed
    * (user, level, block) and a per-(user, level) rollup — no
    * windows over raw rows beyond the shared row_number.
    */
  val q211HaarEnergy: QueryDef = QueryDef.sql(
    "q211_haar_energy",
    s"""$S, qv AS (SELECT user_id,
       |    CAST(round(value * 1000.0) AS BIGINT) AS q,
       |    row_number() OVER ($OW) - 1 AS rn FROM s),
       |lv AS (SELECT user_id, q, rn, lvl FROM qv,
       |  unnest(generate_series(1, 5)) AS t(lvl)),
       |d AS (SELECT user_id, lvl, rn // (1 << lvl) AS b,
       |    CAST(sum(CASE WHEN (rn // (1 << (lvl - 1))) % 2 = 0 THEN q ELSE -q END)
       |      AS BIGINT) AS dv
       |  FROM lv GROUP BY user_id, lvl, b)
       |SELECT user_id, CAST(lvl AS BIGINT) AS level,
       |  count(*) AS n_blocks, CAST(sum(dv * dv) AS BIGINT) AS energy
       |FROM d GROUP BY user_id, lvl
       |ORDER BY user_id, level""".stripMargin) { (spark, dir) =>
    val levels = array((1 to 5).map(k =>
      struct(lit(k.toLong).as("lvl"), lit(1L << k).as("size"),
        lit(1L << (k - 1)).as("half"))): _*)
    Tables.seriesNorm(spark, dir)
      .withColumn("q", round(col("value") * 1e3).cast("long"))
      .withColumn("rn", (row_number().over(s.ordered) - 1).cast("long"))
      .select(col("user_id"), col("q"), col("rn"), explode(levels).as("L"))
      .select(col("user_id"), col("L.lvl").as("lvl"),
        expr("rn div L.size").as("b"),
        when(expr("(rn div L.half) % 2") === 0, col("q")).otherwise(-col("q")).as("sq"))
      .groupBy("user_id", "lvl", "b")
      .agg(sum("sq").as("dv"))
      .groupBy(col("user_id"), col("lvl").as("level"))
      .agg(count(lit(1)).as("n_blocks"), sum(expr("dv * dv")).as("energy"))
      .orderBy("user_id", "level")
  }

  /** One-sided CUSUM change-point rows: integer-exact closed form
    * `S_t = C_t - min_{s<=t} C_s` over n·1000-scaled deviations
    * (see [[SeriesOps.cusumChangepoints]]).
    */
  val q103Cusum: QueryDef = QueryDef.sql(
    "q103_cusum",
    s"""$S, qv AS (SELECT user_id, event_id, tn,
       |    CAST(round(value * 1000.0) AS BIGINT) AS q FROM s),
       |w AS (SELECT *, count(q) OVER (PARTITION BY user_id) AS n,
       |    CAST(sum(q) OVER (PARTITION BY user_id) AS BIGINT) AS s1,
       |    CAST(sum(q * q) OVER (PARTITION BY user_id) AS BIGINT) AS s2 FROM qv),
       |c AS (SELECT *, CAST(sum(n * q - s1) OVER ($OW
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs FROM w),
       |m AS (SELECT *, cs - min(cs) OVER ($OW
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum,
       |    sqrt(greatest(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n)
       |      * (CAST(s1 AS DOUBLE) / n), 0.0)) AS sigma FROM c)
       |SELECT user_id, event_id, tn,
       |  round(CAST(cusum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0), 6) AS cusum_score
       |FROM m WHERE CAST(cusum AS DOUBLE) > 10.0 * sigma * CAST(n AS DOUBLE)
       |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    SeriesOps.cusumChangepoints(Tables.seriesNorm(spark, dir), s, "value")
      .select(col("user_id"), col("event_id"), col("tn"),
        round(col("cusum_score"), 6).as("cusum_score"))
      .orderBy("user_id", "event_id")
  }

  /** Absolute-time slice driven through [[graft.plans.InferScanBounds]]:
    * the predicate is written on the DERIVED seconds axis
    * (`t = (ts div 1000)/1e6`), which alone reaches the parquet scan
    * only as an opaque expression filter — zero row-group pruning at
    * 100 TB. The rule, installed when the session is built
    * ([[graft.api.Graft.sparkSession]]), conjoins the implied raw `ts`
    * bound so `PushedFilters` carries a real range (pinned in
    * PlanRewriteSpec);
    * results are oracle-identical because the inferred bound is
    * redundant with the original predicate.
    */
  val q124PrunedSlice: QueryDef = {
    val (lo, hi) = (1.7045e9, 1.7046e9) // ~28 h mid-January window
    QueryDef.sql(
      "q124_pruned_slice",
      s"""SELECT user_id, event_id, t, value
         |FROM (${Tables.seriesSql})
         |WHERE t BETWEEN $lo AND $hi
         |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
      SeriesOps.timeSlice(Tables.series(spark, dir),
          SeriesOps.Series(Seq("user_id"), "t", Seq("event_id")), lo, hi)
        .select("user_id", "event_id", "t", "value")
        .orderBy("user_id", "event_id")
    }
  }

  val all: Seq[QueryDef] = Seq(
    q10TimeSlice, q11DeleteCollapse, q12MarkBad, q13Zscore, q14PercentNorm,
    q15MovingAvg, q16RollingMedian, q17Savgol, q18Detrend, q19Derivative,
    q20Integrate, q21MovingRms, q22SpikeThreshold, q23Calibration,
    q24FrameTransform, q25DerivedExpr, q26EpisodeExtents, q27SelectionScoped,
    q71SeasonalFold, q72HeatmapMatrix, q101RobustZscore, q102Peaks, q103Cusum,
    q112Hampel, q124PrunedSlice, q190Winsorize, q196RollingBeta, q198Breakpoint,
    q211HaarEnergy)
}
