package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: sessionization as a stateful
  * streaming query (`readStream` → `flatMapGroupsWithState` →
  * `writeStream`), the streaming twin of the batch q30.
  *
  * The reference is strictly batch (SURVEY.md §1.6); this is the
  * engine's scale-path extension: the same per-series session logic
  * keyed by user, expressed as keyed state so it runs unchanged over
  * an unbounded stream. For the verify harness the parquet source is
  * consumed as ONE micro-batch (single file per table), making the
  * output deterministic and oracle-checkable against the batch SQL.
  */
object StreamingSessions {

  final case class SessionRow(user_id: Long, session_id: Long, s_start: Double,
      s_end: Double, n: Long, total: Double)

  /** Carried keyed state: the user's absolute first event time (the
    * tn-axis origin must survive batch boundaries) plus the open
    * session's aggregates, so the next micro-batch can extend or
    * close it.
    */
  final case class SessState(t0: Double, sid: Long, start: Double,
      end: Double, n: Long, sum: Long)

  val GapSeconds = 43200.0

  /** Stateful streaming stages allocate one state-store instance per
    * shuffle partition per stateful operator (a stream-stream join
    * keeps FOUR stores per partition), and each store pays a
    * per-micro-batch commit regardless of row volume. At the bench's
    * single-batch scale that fixed cost dominates, so the streaming
    * queries run with a smaller state shuffle than the batch session
    * default — sized to keys-per-partition, not bytes. The results
    * are partitioning-independent by construction (integer sums /
    * per-key session logic), so this is purely a latency knob; a real
    * deployment sizes it to throughput x watermark instead.
    */
  private[graft] def withStateShuffle[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** HALF_UP like Spark's `round(x, 4)`, so the streaming output
    * hashes identically to the batch/oracle rounding.
    */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** HALF_UP micro-unit quantization — bit-identical to Spark's
    * `round(value * 1e6)` and DuckDB's `round(value * 1000000.0)`,
    * so the session total is an EXACT integer sum (order-insensitive)
    * in all three evaluators.
    */
  private def micro(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Per-key batch handler: orders the batch's events for the user,
    * RESUMES the open session from state (tn origin, session id,
    * aggregates), splits on time gaps > [[GapSeconds]], and emits one
    * row per session touched this batch. A session extended across
    * the batch boundary is re-emitted with its updated aggregates —
    * the upsert-sink contract (latest row per (user, session_id)
    * wins), which StreamingSpec pins against the batch SQL over a
    * two-micro-batch run. Single-batch (the oracle harness) is the
    * degenerate case: empty state, every session emitted exactly
    * once.
    *
    * Late-data policy: ZERO allowed lateness. Events older than the
    * carried session frontier (tn < state end) arrive only when a
    * later file delivers out-of-time-order data; merging them would
    * move a closed aggregate backwards (s_end < s_start corruption),
    * so they are DROPPED, exactly like a watermark-expired row in a
    * windowed aggregation. Batch-equivalence therefore requires
    * time-ordered file arrival (what a real ingest produces, and what
    * StreamingSpec constructs).
    */
  private def sessionize(userId: Long, rows: Iterator[Row],
      state: GroupState[SessState]): Iterator[SessionRow] = {
    val evs = rows.map(r => (r.getAs[Double]("t"), Option(r.getAs[Any]("value"))
      .map(_.asInstanceOf[Double]))).toArray.sortBy(_._1)
    if (evs.isEmpty) return Iterator.empty
    val prior = state.getOption
    val t0 = prior.map(_.t0).getOrElse(evs.head._1)
    val out = Vector.newBuilder[SessionRow]
    // seed from the open session: sid 0 marks "none yet" (first
    // session of a fresh key becomes sid 1, matching the batch SQL's
    // 1-based running sum of break flags)
    var sid = prior.map(_.sid).getOrElse(0L)
    var start = prior.map(_.start).getOrElse(0.0)
    var end = prior.map(_.end).getOrElse(0.0)
    var n = prior.map(_.n).getOrElse(0L)
    var sum = prior.map(_.sum).getOrElse(0L)
    var prev = prior.map(_.end).getOrElse(Double.NaN)
    evs.foreach { case (t, v) =>
      val tn = t - t0
      if (n > 0 && tn < prev) {
        // late event (older than the carried frontier): drop, never
        // move a closed aggregate backwards — see late-data policy
      } else {
        if (n == 0 || tn - prev > GapSeconds) {
          if (n > 0) out += SessionRow(userId, sid, start, end, n, round4(sum.toDouble / 1e6))
          sid += 1; start = tn; n = 0; sum = 0L
        }
        end = tn; n += 1; sum += v.map(micro).getOrElse(0L); prev = tn
      }
    }
    out += SessionRow(userId, sid, start, end, n, round4(sum.toDouble / 1e6))
    state.update(SessState(t0, sid, start, end, n, sum))
    out.result().iterator
  }

  /** The sessionization stream over a directory of event-parquet
    * files. `oneFilePerTrigger` forces one micro-batch per file —
    * how StreamingSpec exercises the cross-batch resume path.
    */
  def sessionStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[SessionRow] = {
    import spark.implicits._
    // declare the on-disk schema to readStream, then canonicalize ts
    // to epoch-ns on the stream itself (same path as the batch read)
    val schema = Tables.rawEventsSchema(spark, dir, glob)
    // file source requires a directory: glob-filter the events table
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    Tables.normalizeEventTs(withTrigger.parquet(dir))
      .selectExpr("user_id", "event_id", "cast(ts div 1000 as double) / 1e6 as t", "value")
      .groupByKey(_.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionize)
  }

  /** Run the streaming sessionization to completion over the (one-
    * file) events table and return the collected result table.
    */
  def run(spark: SparkSession, dir: String, sinkName: String = "stream_sessions"): DataFrame = withStateShuffle(spark, 8) {
    MemorySink.drain(sessionStream(spark, dir), sinkName)
  }

  /** Declared streaming query — oracle-checked against the SAME SQL
    * as the batch sessionization (q30): streaming and batch must
    * agree exactly.
    */
  val q60StreamSessionize: graft.QueryDef = graft.QueryDef.sql(
    "q60_stream_sessionize",
    s"""WITH s AS (SELECT *, t - min(t) OVER (PARTITION BY user_id) AS tn
       |FROM (${Tables.seriesSql})),
       |g AS (SELECT *, CASE WHEN lag(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) IS NULL
       |    OR tn - lag(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) > $GapSeconds
       |    THEN 1 ELSE 0 END AS brk FROM s),
       |x AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tn, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g)
       |SELECT user_id, session_id, min(tn) AS s_start, max(tn) AS s_end,
       |  count(*) AS n,
       |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS total
       |FROM x GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    run(spark, dir).orderBy("user_id", "session_id")
  }

  /** Streaming windowed aggregation with an event-time watermark:
    * per-user daily tumbling windows (`readStream` → `withWatermark`
    * → `groupBy(window(...))` → memory sink). Complete output mode
    * keeps the single-batch run deterministic; the watermark bounds
    * state in a continuous deployment.
    */
  def runWindowed(spark: SparkSession, dir: String,
      sinkName: String = "stream_windows"): DataFrame = withStateShuffle(spark, 8) {
    val schema = Tables.rawEventsSchema(spark, dir)
    val stream = Tables.normalizeEventTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
      .selectExpr("user_id",
        "timestamp_seconds(cast(ts div 1000 as double) / 1e6) as ets", "value")
      .withWatermark("ets", "1 day")
    val agg = stream
      .groupBy(col("user_id"), window(col("ets"), "1 day"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("value") * lit(1e6)).cast("bigint")).cast("double") / lit(1e6), 4)
          .as("total"))
      .select(col("user_id"), col("window.start").cast("long").as("day_start"),
        col("n"), col("total"))
    MemorySink.drain(agg, sinkName, "complete")
  }

  val q64StreamWindowed: graft.QueryDef = graft.QueryDef.sql(
    "q64_stream_windowed",
    s"""WITH e AS (SELECT user_id, epoch_us(ts) / 1000000.0 AS t, value
       |  FROM events)
       |SELECT user_id,
       |  CAST(floor(t / 86400) * 86400 AS BIGINT) AS day_start,
       |  count(*) AS n,
       |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0, 4) AS total
       |FROM e GROUP BY user_id, day_start
       |ORDER BY user_id, day_start""".stripMargin) { (spark, dir) =>
    runWindowed(spark, dir).orderBy("user_id", "day_start")
  }

  /** Streaming exact-dedup counts: per-text-hash occurrence counts as
    * a stateful streaming aggregation over the documents stream
    * (`readStream` → `groupBy(hash)` → complete-mode memory sink) —
    * the streaming half of q40's exact dedup. Counts (not
    * keep-first picks) keep the single-batch output deterministic;
    * in a continuous deployment the same query maintains the
    * seen-hash state that an online dedup filter joins against.
    */
  def runDedup(spark: SparkSession, dir: String,
      sinkName: String = "stream_dedup"): DataFrame = withStateShuffle(spark, 8) {
    val schema = Tables.documents(spark, dir).schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(graft.functions.TextHash.base32(col("text")).as("thash"))
    val agg = stream.groupBy("thash").agg(count(lit(1)).as("n_copies"))
    MemorySink.drain(agg, sinkName, "complete")
  }

  val q73StreamDedup: graft.QueryDef = graft.QueryDef.sql(
    "q73_stream_dedup",
    """SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT AS thash,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY thash""".stripMargin) { (spark, dir) =>
    runDedup(spark, dir).orderBy("thash")
  }

  /** Streaming data-mixture monitor: per-source doc and token totals
    * maintained as a streaming aggregation over the documents stream —
    * the online twin of the batch q78 report. In a continuous
    * ingestion deployment this is the live mixture dashboard; the
    * single-batch run is oracle-checked against the batch SQL so the
    * streaming and batch paths must agree exactly.
    */
  def runMixture(spark: SparkSession, dir: String,
      sinkName: String = "stream_mixture"): DataFrame = withStateShuffle(spark, 8) {
    val schema = Tables.documents(spark, dir).schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
    val agg = stream.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"))
    MemorySink.drain(agg, sinkName, "complete")
  }

  val q79StreamMixture: graft.QueryDef = graft.QueryDef.sql(
    "q79_stream_mixture",
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    runMixture(spark, dir).orderBy("source")
  }

  /** Streaming contamination probe: the corpus arrives as a stream
    * and joins a STATIC broadcast benchmark shingle set (stream-static
    * equi-join) before a stateful per-doc aggregation — the online
    * decontamination filter shape: the eval-set n-grams are a fixed
    * side input, every arriving document is scored on ingest. Single-
    * batch run is oracle-checked against the same SQL as batch q77.
    */
  def runContamination(spark: SparkSession, dir: String,
      sinkName: String = "stream_contam"): DataFrame = withStateShuffle(spark, 8) {
    import graft.functions.TextHash
    val docsStatic = Tables.documents(spark, dir)
    val bench = docsStatic.filter(col("doc_id") % 50 === 0)
      .withColumn("ws", split(col("text"), " "))
      .select(explode(array_distinct(TextHash.shingleHashesFromWords(col("ws")))).as("h"))
      .distinct()
      .withColumn("hit", lit(1))
    val schema = docsStatic.schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") % 50 =!= 0)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        explode(array_distinct(TextHash.shingleHashesFromWords(col("ws")))).as("h"))
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
    MemorySink.drain(stream, sinkName, "complete")
  }

  val q83StreamContamination: graft.QueryDef = {
    import graft.functions.TextHash
    graft.QueryDef.sql(
      "q83_stream_contamination",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(ws) - 2),
         |    i -> ${TextHash.duckBase32("array_to_string(ws[i:i+2], ' ')")}))) AS h
         |  FROM w),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
         |probe AS (SELECT sh.doc_id, count(*) AS n_sh, count(b.h) AS n_hit
         |  FROM sh LEFT JOIN bench b ON sh.h = b.h
         |  WHERE sh.doc_id % 50 <> 0 GROUP BY sh.doc_id)
         |SELECT doc_id, n_sh, n_hit, round(n_hit * 1.0 / n_sh, 6) AS overlap
         |FROM probe WHERE n_hit > 0 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      runContamination(spark, dir)
        .filter(col("n_hit") > 0)
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          round(col("n_hit") * 1.0 / col("n_sh"), 6).as("overlap"))
        .orderBy("doc_id")
    }
  }

  /** Stream-stream interval join: purchase events joined to the
    * non-purchase events of the same user in the preceding 6 hours.
    * Both sides are watermarked and the join condition bounds the
    * event-time range, so Spark can expire buffered state — the
    * unbounded-deployment shape (state per side ≈ watermark window ×
    * arrival rate, independent of stream length). The time axis stays
    * integer microseconds end-to-end; `dt` is an exact µs difference
    * divided once, so the output is bit-stable under any micro-batch
    * split and matches the batch self-join SQL.
    */
  def runStreamJoin(spark: SparkSession, dir: String,
      sinkName: String = "stream_joined"): DataFrame = withStateShuffle(spark, 8) {
    MemorySink.drain(streamJoined(spark, dir), sinkName)
  }

  /** The joined streaming relation behind [[runStreamJoin]], exposed
    * so the kill-and-resume spec can drive it through a checkpointed
    * foreachBatch sink file-by-file (`glob`/`oneFilePerTrigger`).
    */
  private[graft] def streamJoined(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): DataFrame = {
    val schema = Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    val base = Tables.normalizeEventTs(withTrigger.parquet(dir))
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        timestamp_micros(expr("ts div 1000")).as("ets"), col("event_type"))
    val purchases = base.filter(col("event_type") === "purchase")
      .withWatermark("ets", "12 hours")
      .select(col("user_id").as("p_user"), col("event_id").as("p_event"),
        col("us").as("p_us"), col("ets").as("p_ets"))
    val clicks = base.filter(col("event_type") =!= "purchase")
      .withWatermark("ets", "12 hours")
      .select(col("user_id").as("c_user"), col("event_id").as("c_event"),
        col("us").as("c_us"), col("ets").as("c_ets"))
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ets") >= col("p_ets") - expr("INTERVAL 6 HOURS") &&
        col("c_ets") <= col("p_ets"))
      .select(col("p_user").as("user_id"), col("p_event"), col("c_event"),
        ((col("p_us") - col("c_us")).cast("double") / lit(1e6)).as("dt"))
    joined
  }

  val q85StreamJoin: graft.QueryDef = graft.QueryDef.sql(
    "q85_stream_join",
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events)
      |SELECT p.user_id AS user_id, p.event_id AS p_event, c.event_id AS c_event,
      |  CAST(p.us - c.us AS DOUBLE) / 1000000.0 AS dt
      |FROM e p JOIN e c ON c.user_id = p.user_id
      |  AND p.event_type = 'purchase' AND c.event_type <> 'purchase'
      |  AND c.us BETWEEN p.us - 21600000000 AND p.us
      |ORDER BY user_id, p_event, c_event""".stripMargin) { (spark, dir) =>
    runStreamJoin(spark, dir).orderBy("user_id", "p_event", "c_event")
  }

  // ------------------------------------------------------------------
  // Streaming funnel — the q99 state machine as keyed streaming state.
  // ------------------------------------------------------------------

  /** Per-user funnel progress carried across micro-batches: the tn
    * origin, the first-view / windowed-click / windowed-purchase
    * timestamps (None = stage not reached yet), and the time frontier
    * (max tn seen) enforcing the same zero-lateness policy as
    * [[sessionize]] — a late event could otherwise claim a stage an
    * earlier-in-time event should have (batch takes the MINIMUM
    * eligible time, which a frontier-ordered scan reproduces only if
    * no event arrives behind the frontier).
    */
  final case class FunnelState(t0: Double, tView: Option[Double],
      tClick: Option[Double], tBuy: Option[Double], frontier: Double)

  final case class FunnelRow(user_id: Long, t_view: Option[Double],
      t_click: Option[Double], t_buy: Option[Double])

  /** Sequential replay of q99's windowed-minima semantics: the first
    * 'view' opens the funnel; the first 'click' strictly after it and
    * within [[graft.operators.PipelineOps.ClickWindowSec]] advances
    * it; the first 'purchase' strictly after that click and within
    * [[graft.operators.PipelineOps.BuyWindowSec]] completes it. A
    * time-ordered scan finds exactly the conditional minima the batch
    * windows compute, and the state resumes across batch boundaries.
    * Each batch re-emits the user's current row — upsert contract
    * (latest per user wins), single-batch emits once per user.
    */
  private def funnelStep(userId: Long, rows: Iterator[Row],
      state: GroupState[FunnelState]): Iterator[FunnelRow] = {
    val evs = rows.map(r => (r.getAs[Double]("t"), r.getAs[Long]("event_id"),
      r.getAs[String]("event_type"))).toArray.sortBy(e => (e._1, e._2))
    if (evs.isEmpty) return Iterator.empty
    val prior = state.getOption
    val t0 = prior.map(_.t0).getOrElse(evs.head._1)
    var tv = prior.flatMap(_.tView)
    var tc = prior.flatMap(_.tClick)
    var tb = prior.flatMap(_.tBuy)
    var frontier = prior.map(_.frontier).getOrElse(Double.NegativeInfinity)
    evs.foreach { case (t, _, typ) =>
      val tn = t - t0
      if (tn >= frontier) { // zero-lateness policy, as in sessionize
        frontier = tn
        typ match {
          case "view" if tv.isEmpty => tv = Some(tn)
          case "click" if tv.nonEmpty && tc.isEmpty && tn > tv.get &&
            tn <= tv.get + graft.operators.PipelineOps.ClickWindowSec => tc = Some(tn)
          case "purchase" if tc.nonEmpty && tb.isEmpty && tn > tc.get &&
            tn <= tc.get + graft.operators.PipelineOps.BuyWindowSec => tb = Some(tn)
          case _ =>
        }
      }
    }
    state.update(FunnelState(t0, tv, tc, tb, frontier))
    Iterator.single(FunnelRow(userId, tv, tc, tb))
  }

  /** The per-user funnel stream (file source, one batch per file when
    * `oneFilePerTrigger`).
    */
  def funnelStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[FunnelRow] = {
    import spark.implicits._
    val schema = Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    Tables.normalizeEventTs(withTrigger.parquet(dir))
      .selectExpr("user_id", "event_id",
        "cast(ts div 1000 as double) / 1e6 as t", "event_type")
      .groupByKey(_.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(funnelStep)
  }

  /** Run the funnel stream over the (one-file) events table and fold
    * the per-user rows into the q99 stage report.
    */
  def runFunnel(spark: SparkSession, dir: String,
      sinkName: String = "stream_funnel"): DataFrame = withStateShuffle(spark, 8) {
    // upsert the append-mode sink by user BEFORE aggregating: each
    // micro-batch re-emits a touched user's current row, so a
    // multi-batch run has one row per (user, batch). Funnel fields
    // are monotone (None -> Some, then frozen), so max() over the
    // user's rows IS the latest state — the same upsert contract
    // StreamingSpec drives through foreachBatch.
    MemorySink.drain(funnelStream(spark, dir), sinkName)
      .groupBy("user_id")
      .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
        max("t_buy").as("t_buy"))
      .withColumn("stage",
        when(col("t_buy").isNotNull, 3).when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1).otherwise(0))
      .withColumn("conv", col("t_buy") - col("t_view"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"),
        round(sum(round(col("conv") * lit(1e6)).cast("long")).cast("double")
          / count(col("conv")) / lit(1e6), 6).as("avg_convert_sec"))
  }

  /** Declared streaming query — oracle-checked against the SAME SQL
    * as the batch funnel (q99): streaming and batch must agree.
    */
  val q104StreamFunnel: graft.QueryDef = graft.QueryDef.sql(
    "q104_stream_funnel",
    graft.operators.PipelineOps.q99Funnel.oracle.get) { (spark, dir) =>
    runFunnel(spark, dir).orderBy("stage")
  }

  // ---- streaming EWMA: a stateful sequential kernel on a stream ----

  final case class EwmaRow(user_id: Long, event_id: Long, tn: Double,
      smoothed: Double)

  /** Carried state: the tn origin, the last smoothed value (the IIR
    * state — one double is the ENTIRE kernel state, which is what
    * makes the recurrence streamable), and the time frontier for the
    * late-data drop.
    */
  final case class EwmaState(t0: Double, y: Double, frontier: Double)

  val EwmaAlpha = 0.25
  private val EwmaBeta = 1.0 - EwmaAlpha

  /** Per-key batch handler: continues `y_i = α·x_i + (1−α)·y_{i−1}`
    * from the carried state with the EXACT op order of the batch
    * kernel ([[graft.operators.SignalKernels.ewma]]), so a multi-batch
    * stream emits bit-identical doubles to the one-shot batch run —
    * the q110 oracle verifies this query unchanged. Events older than
    * the carried frontier are dropped (zero-lateness policy, as
    * [[sessionize]]); a smoothed sample is final when emitted, so the
    * sink is pure append, no upsert contract needed.
    */
  private def ewmaStep(userId: Long, rows: Iterator[Row],
      state: GroupState[EwmaState]): Iterator[EwmaRow] = {
    val evs = rows.map(r => (r.getAs[Double]("t"), r.getAs[Long]("event_id"),
      r.getAs[Double]("value"))).toArray.sortBy(e => (e._1, e._2))
    if (evs.isEmpty) return Iterator.empty
    val prior = state.getOption
    val t0 = prior.map(_.t0).getOrElse(evs.head._1)
    var y = prior.map(_.y).getOrElse(Double.NaN)
    var seeded = prior.isDefined
    var frontier = prior.map(_.frontier).getOrElse(Double.NegativeInfinity)
    val out = Vector.newBuilder[EwmaRow]
    evs.foreach { case (t, eid, v) =>
      val tn = t - t0
      if (seeded && tn < frontier) {
        // late: older than the carried frontier — drop, never rewind
      } else {
        y = if (seeded) EwmaAlpha * v + EwmaBeta * y else v
        seeded = true
        frontier = tn
        out += EwmaRow(userId, eid, tn, y)
      }
    }
    state.update(EwmaState(t0, y, frontier))
    out.result().iterator
  }

  def ewmaStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[EwmaRow] = {
    import spark.implicits._
    val schema = Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    Tables.normalizeEventTs(withTrigger.parquet(dir))
      .selectExpr("user_id", "event_id", "cast(ts div 1000 as double) / 1e6 as t", "value")
      .groupByKey(_.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(ewmaStep)
  }

  def runEwma(spark: SparkSession, dir: String,
      sinkName: String = "stream_ewma"): DataFrame = withStateShuffle(spark, 8) {
    MemorySink.drain(ewmaStream(spark, dir), sinkName)
  }

  /** Streaming twin of q110 — verified by the SAME bit-exact
    * recursive-CTE oracle: streaming state continuation must equal
    * the batch recurrence double-for-double.
    */
  val q117StreamEwma: graft.QueryDef = graft.QueryDef.sql(
    "q117_stream_ewma",
    graft.functions.KernelOracles.ewmaOracle(Tables.seriesSql, EwmaAlpha)) { (spark, dir) =>
    runEwma(spark, dir)
      .select("user_id", "event_id", "tn", "smoothed")
      .orderBy("user_id", "event_id")
  }

  // ---- streaming Kalman: two-double state on a stream ----

  final case class KalmanRow(user_id: Long, event_id: Long, tn: Double,
      level: Double)

  /** Carried state for the q180 recurrence: tn origin, filtered level
    * `y`, covariance `p` — the whole Kalman state is two doubles,
    * which is what makes the filter streamable — plus the late-data
    * frontier.
    */
  final case class KalmanState(t0: Double, y: Double, p: Double,
      frontier: Double)

  val KalmanQ = 0.01
  val KalmanR = 1.0

  /** Per-key batch handler: continues the predict/update recurrence
    * from carried (y, p) with the EXACT op order of the batch kernel
    * ([[graft.operators.SignalKernels.kalmanLevel]]) so a multi-batch
    * stream emits bit-identical doubles to the one-shot batch run —
    * the q180 oracle verifies this query unchanged. Zero-lateness
    * drop and pure-append sink like [[ewmaStep]].
    */
  private def kalmanStep(userId: Long, rows: Iterator[Row],
      state: GroupState[KalmanState]): Iterator[KalmanRow] = {
    val evs = rows.map(r => (r.getAs[Double]("t"), r.getAs[Long]("event_id"),
      r.getAs[Double]("value"))).toArray.sortBy(e => (e._1, e._2))
    if (evs.isEmpty) return Iterator.empty
    val prior = state.getOption
    val t0 = prior.map(_.t0).getOrElse(evs.head._1)
    var y = prior.map(_.y).getOrElse(Double.NaN)
    var p = prior.map(_.p).getOrElse(KalmanR)
    var seeded = prior.isDefined
    var frontier = prior.map(_.frontier).getOrElse(Double.NegativeInfinity)
    val out = Vector.newBuilder[KalmanRow]
    evs.foreach { case (t, eid, v) =>
      val tn = t - t0
      if (seeded && tn < frontier) {
        // late: older than the carried frontier — drop, never rewind
      } else {
        if (seeded) {
          val pp = p + KalmanQ
          val k = pp / (pp + KalmanR)
          y = y + k * (v - y)
          p = (1.0 - k) * pp
        } else {
          y = v
          p = KalmanR
          seeded = true
        }
        frontier = tn
        out += KalmanRow(userId, eid, tn, y)
      }
    }
    state.update(KalmanState(t0, y, p, frontier))
    out.result().iterator
  }

  def kalmanStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[KalmanRow] = {
    import spark.implicits._
    val schema = Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    Tables.normalizeEventTs(withTrigger.parquet(dir))
      .selectExpr("user_id", "event_id", "cast(ts div 1000 as double) / 1e6 as t", "value")
      .groupByKey(_.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(kalmanStep)
  }

  def runKalman(spark: SparkSession, dir: String,
      sinkName: String = "stream_kalman"): DataFrame = withStateShuffle(spark, 8) {
    MemorySink.drain(kalmanStream(spark, dir), sinkName)
  }

  /** Streaming twin of q180 — verified by the SAME bit-exact
    * recursive-CTE oracle: streaming state continuation must equal
    * the batch recurrence double-for-double.
    */
  val q186StreamKalman: graft.QueryDef = graft.QueryDef.sql(
    "q186_stream_kalman",
    graft.functions.KernelOracles.kalmanOracle(Tables.seriesSql, KalmanQ, KalmanR)) { (spark, dir) =>
    runKalman(spark, dir)
      .select("user_id", "event_id", "tn", "level")
      .orderBy("user_id", "event_id")
  }

  // ---- streaming SCD type-2: dimension maintenance at ingest ----

  final case class Scd2Row(user_id: Long, version: Long, state: String,
      valid_from: Double, valid_to: Option[Double], is_current: Boolean,
      n_events: Long)

  /** Carried state: the tn origin, the OPEN run (version, state,
    * start, event count) — the only mutable interval — and the
    * late-data frontier. Closed intervals are immutable once
    * emitted, so state stays O(1) per user while history grows.
    */
  final case class Scd2State(t0: Double, version: Long, state: String,
      validFrom: Double, nEvents: Long, frontier: Double)

  /** Per-key batch handler for q207's SCD2 semantics at ingest: a
    * same-state event extends the open run; a state change closes it
    * (emits the finished interval, valid_to = the new run's start)
    * and opens the next version. Every batch ALSO re-emits the open
    * run (valid_to null, is_current) — the upsert contract (latest
    * (user, version) row wins) replaces it when a later batch closes
    * it. A single-batch run therefore equals the batch query
    * row-for-row and shares q207's oracle.
    */
  private def scd2Step(userId: Long, rows: Iterator[Row],
      state: GroupState[Scd2State]): Iterator[Scd2Row] = {
    val evs = rows.map(r => (r.getAs[Double]("t"), r.getAs[Long]("event_id"),
      r.getAs[String]("event_type"))).toArray.sortBy(e => (e._1, e._2))
    if (evs.isEmpty) return Iterator.empty
    val prior = state.getOption
    val t0 = prior.map(_.t0).getOrElse(evs.head._1)
    var cur = prior
    var frontier = prior.map(_.frontier).getOrElse(Double.NegativeInfinity)
    val out = Vector.newBuilder[Scd2Row]
    evs.foreach { case (t, _, tpe) =>
      val tn = t - t0
      if (cur.isDefined && tn < frontier) {
        // late: older than the carried frontier — drop, never rewind
      } else {
        cur match {
          case Some(s) if s.state == tpe =>
            cur = Some(s.copy(nEvents = s.nEvents + 1, frontier = tn))
          case Some(s) =>
            out += Scd2Row(userId, s.version, s.state, s.validFrom,
              Some(tn), is_current = false, s.nEvents)
            cur = Some(Scd2State(s.t0, s.version + 1, tpe, tn, 1L, tn))
          case None =>
            cur = Some(Scd2State(t0, 1L, tpe, tn, 1L, tn))
        }
        frontier = tn
      }
    }
    val open = cur.get
    state.update(open.copy(frontier = frontier))
    out += Scd2Row(userId, open.version, open.state, open.validFrom,
      None, is_current = true, open.nEvents)
    out.result().iterator
  }

  def scd2Stream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[Scd2Row] = {
    import spark.implicits._
    val schema = Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema)
      .option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    Tables.normalizeEventTs(withTrigger.parquet(dir))
      .selectExpr("user_id", "event_id",
        "cast(ts div 1000 as double) / 1e6 as t", "event_type")
      .groupByKey(_.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(scd2Step)
  }

  def runScd2(spark: SparkSession, dir: String,
      sinkName: String = "stream_scd2"): DataFrame = withStateShuffle(spark, 8) {
    MemorySink.drain(scd2Stream(spark, dir), sinkName)
  }

  /** Streaming twin of q207 — a single-batch run's emissions equal
    * the batch history exactly, so it shares q207's oracle.
    */
  val q208StreamScd2: graft.QueryDef = graft.QueryDef.sql(
    "q208_stream_scd2",
    graft.operators.BehaviorOps.q207Scd2History.oracle.get) { (spark, dir) =>
    runScd2(spark, dir)
      .select("user_id", "version", "state", "valid_from", "valid_to",
        "is_current", "n_events")
      .orderBy("user_id", "version")
  }

  val all: Seq[graft.QueryDef] = Seq(q60StreamSessionize, q64StreamWindowed,
    q73StreamDedup, q79StreamMixture, q83StreamContamination, q85StreamJoin,
    q104StreamFunnel, q117StreamEwma, q186StreamKalman, q208StreamScd2)
}
