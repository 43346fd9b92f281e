package graft.streaming

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming burst alerting: q167's trailing-baseline 3σ test
  * evaluated AT INGEST, with per-event-type keyed state carrying the
  * hourly count map across micro-batches. Every batch re-emits the
  * full verdict table for its key; the upsert contract (latest
  * (type, hour) row wins) makes late data self-correcting — an hour
  * that stops being a burst once its baseline fills in is
  * re-emitted with `is_burst = false`.
  *
  * The evaluation is q167's pure integer arithmetic on the carried
  * counts, so a single-batch run is row-identical to the batch
  * query and SHARES its oracle verbatim. State is one (hour → count)
  * entry per observed hour per type — calendar-bounded; a production
  * deployment would evict hours older than watermark − 25 h (kept
  * whole here so replay parity is exact).
  */
object StreamingAudit {

  final case class BurstRow(event_type: String, h: Long, c: Long,
      n_base: Long, base_sum: Long, is_burst: Boolean)
  final case class BurstState(counts: Map[Long, Long])

  private def verdicts(eventType: String, counts: Map[Long, Long]): Iterator[BurstRow] =
    counts.toSeq.sortBy(_._1).iterator.map { case (h, c) =>
      val base = ((h - 24) until h).flatMap(counts.get)
      val n = base.length.toLong
      val s = base.sum
      val s2 = base.map(x => x * x).sum
      val burst = n >= 12 && c * n > s &&
        (c * n - s) * (c * n - s) > 9 * (n * s2 - s * s)
      BurstRow(eventType, h, c, n, s, burst)
    }

  private def update(eventType: String, rows: Iterator[(String, Array[Long])],
      state: GroupState[BurstState]): Iterator[BurstRow] = {
    var counts = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
    rows.foreach { case (_, packed) =>
      // partial hour histogram as interleaved [h1, c1, h2, c2, ...]
      var i = 0
      while (i < packed.length) {
        val h = packed(i); val c = packed(i + 1)
        counts = counts.updated(h, counts.getOrElse(h, 0L) + c)
        i += 2
      }
    }
    if (counts.isEmpty) return Iterator.empty
    state.update(BurstState(counts))
    verdicts(eventType, counts)
  }

  def burstStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[BurstRow] = {
    import spark.implicits._
    val schema = graft.sources.Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    graft.sources.Tables.normalizeEventTs(withTrigger.parquet(dir))
      .select(col("event_type"), expr("(ts div 1000) div 3600000000").as("h"))
      .as[(String, Long)]
      // per-partition (type -> hour count) combine, addition merge:
      // without it every raw event row funnels through |types| state
      // reducers (same shape as giniStream)
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.HashMap[Long, Long]]
        it.foreach { case (t, h) =>
          val m = acc.getOrElseUpdate(t, scala.collection.mutable.HashMap.empty)
          m.update(h, m.getOrElse(h, 0L) + 1L)
        }
        acc.iterator.map { case (t, m) =>
          val packed = new Array[Long](m.size * 2)
          var i = 0
          m.foreach { case (h, c) => packed(i) = h; packed(i + 1) = c; i += 2 }
          (t, packed)
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  def run(spark: SparkSession, dir: String,
      sinkName: String = "stream_burst"): DataFrame = {
    MemorySink.drain(burstStream(spark, dir), sinkName)
  }

  /** Declared streaming query — shares q167's oracle verbatim (a
    * single-batch run carries every hour in state, so the verdict
    * table equals the batch query's).
    */
  val q171StreamBurst: QueryDef = QueryDef.sql(
    "q171_stream_burst",
    graft.operators.AuditOps.q167BurstDetect.oracle.get) { (spark, dir) =>
    run(spark, dir)
      .filter(col("is_burst"))
      .select("event_type", "h", "c", "n_base", "base_sum")
      .orderBy("event_type", "h")
  }

  // ---- streaming chi-square drift monitor ----

  final case class LangCount(source: String, lang: String, n: Long)
  final case class LangState(counts: Map[String, Long])

  /** Per-source keyed state: the lang→count row of the contingency
    * table, re-emitted in full each batch (upsert contract — latest
    * (source, lang) row wins), so the sink always holds the CURRENT
    * table and late/new data self-corrects. State is one entry per
    * observed lang per source — label-domain-bounded.
    */
  private def langUpdate(source: String, rows: Iterator[(String, Map[String, Long])],
      state: GroupState[LangState]): Iterator[LangCount] = {
    var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
    rows.foreach { case (_, partial) =>
      partial.foreach { case (l, c) =>
        counts = counts.updated(l, counts.getOrElse(l, 0L) + c)
      }
    }
    if (counts.isEmpty) return Iterator.empty
    state.update(LangState(counts))
    counts.iterator.map { case (l, n) => LangCount(source, l, n) }
  }

  def langCountStream(spark: SparkSession, dir: String,
      glob: String = "documents.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[LangCount] = {
    import spark.implicits._
    val schema = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    withTrigger.parquet(dir)
      .select(col("source"), col("lang"))
      .as[(String, String)]
      // per-partition (source -> lang count) combine — same addition
      // merge as giniStream; partials are ≤ |langs| entries each
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.HashMap[String, Long]]
        it.foreach { case (s, l) =>
          val h = acc.getOrElseUpdate(s, scala.collection.mutable.HashMap.empty)
          h.update(l, h.getOrElse(l, 0L) + 1L)
        }
        acc.iterator.map { case (s, h) => (s, h.toMap) }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(langUpdate)
  }

  def runChisq(spark: SparkSession, dir: String,
      sinkName: String = "stream_chisq"): DataFrame = {
    MemorySink.drain(langCountStream(spark, dir), sinkName)
  }

  /** q194: the q189 independence audit maintained AT INGEST — keyed
    * state carries the source×lang contingency table across
    * micro-batches, and the chi-square margins/terms are computed
    * from that state relation (the table is label-domain-bounded, so
    * the statistic never rescans history). A single-batch run's state
    * equals the batch aggregate, so it SHARES q189's oracle verbatim;
    * StreamingSpec pins the multi-batch upsert fold.
    */
  val q194StreamChisq: QueryDef = QueryDef.sql(
    "q194_stream_chisq",
    graft.operators.AuditOps.q189ChiSquare.oracle.get) { (spark, dir) =>
    graft.operators.AuditOps
      .chiSquareFromCounts(runChisq(spark, dir), "source", "lang")
      .orderBy("source", "lang")
  }

  // ---- streaming Gini concentration monitor ----

  final case class GiniRow(event_type: String, n: Long, gini_ppm: Long)
  final case class GiniState(counts: Map[Long, Long])

  /** Per-type keyed state: the milli-|value| histogram (value-domain-
    * bounded, q202's own scale argument applied to streaming state).
    * Each batch folds new samples in and re-emits the CURRENT Gini
    * row (upsert: latest event_type row wins). The statistic replays
    * q202's exact arithmetic — integer prefix-sums over the sorted
    * histogram, one double division — so a single-batch run equals
    * the batch query and shares its oracle.
    */
  private def giniUpdate(eventType: String, rows: Iterator[(String, Array[Long])],
      state: GroupState[GiniState]): Iterator[GiniRow] = {
    var counts = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
    rows.foreach { case (_, packed) =>
      // partial histogram as interleaved [v1, c1, v2, c2, ...]
      var i = 0
      while (i < packed.length) {
        val v = packed(i); val c = packed(i + 1)
        counts = counts.updated(v, counts.getOrElse(v, 0L) + c)
        i += 2
      }
    }
    if (counts.isEmpty) return Iterator.empty
    state.update(GiniState(counts))
    val hist = counts.toSeq.sortBy(_._1)
    val n = hist.map(_._2).sum
    var pc = 0L
    var num = 0L
    var sv = 0L
    hist.foreach { case (v, c) =>
      num += v * c * (2 * pc + c - n)
      sv += v * c
      pc += c
    }
    val gini = if (sv == 0) 0L
      else math.round(1000000.0 * num / (n.toDouble * sv))
    Iterator.single(GiniRow(eventType, n, gini))
  }

  def giniStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[GiniRow] = {
    import spark.implicits._
    val schema = graft.sources.Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    graft.sources.Tables.normalizeEventTs(withTrigger.parquet(dir))
      .select(col("event_type"),
        expr("CAST(round(abs(value) * 1000.0) AS BIGINT)").as("v"))
      .as[(String, Long)]
      // per-partition histogram combine (count maps merge by ADDITION,
      // so partial grouping cannot change the folded histogram): the
      // per-TYPE state key is low-cardinality, so without this every
      // raw event row would funnel through |types| reducers
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.HashMap[Long, Long]]
        it.foreach { case (t, v) =>
          val h = acc.getOrElseUpdate(t, scala.collection.mutable.HashMap.empty)
          h.update(v, h.getOrElse(v, 0L) + 1L)
        }
        acc.iterator.map { case (t, h) =>
          val packed = new Array[Long](h.size * 2)
          var i = 0
          h.foreach { case (v, c) => packed(i) = v; packed(i + 1) = c; i += 2 }
          (t, packed)
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(giniUpdate)
  }

  def runGini(spark: SparkSession, dir: String,
      sinkName: String = "stream_gini"): DataFrame = {
    MemorySink.drain(giniStream(spark, dir), sinkName)
  }

  /** Streaming twin of q202 — shares its oracle (single-batch state
    * equals the batch histogram).
    */
  val q212StreamGini: QueryDef = QueryDef.sql(
    "q212_stream_gini",
    graft.operators.BehaviorOps.q202GiniConcentration.oracle.get) { (spark, dir) =>
    runGini(spark, dir)
      .select("event_type", "n", "gini_ppm")
      .orderBy("event_type")
  }

  // ---- streaming survival (hazard) observations ----

  final case class HazardObs(user_id: Long, event_type: String, kind: String,
      dtm: Long, ev: Long)

  /** Carried per-user state: the tn origin, each type's LAST seen tn
    * (|event_type|-bounded), the user's overall max tn, and the
    * late-data frontier.
    */
  final case class HazardState(t0: Double, lastByType: Map[String, Double],
      tmax: Double, frontier: Double)

  /** Per-user batch handler maintaining q185's observations at
    * ingest: a same-type successor FINALIZES the previous gap (a
    * complete observation is append-only — it can never change), and
    * after each batch the user's censored tails (last same-type
    * event → the user's current max tn) are RE-emitted under the
    * (user, type, 'cens') upsert key — censoring is the part of
    * survival data that moves as time passes, so it carries the
    * upsert contract while completed gaps stay immutable. A single-
    * batch run's observations equal the batch derivation exactly,
    * so the declared query shares q185's oracle.
    */
  private def hazardUpdate(userId: Long, rows: Iterator[Row],
      state: GroupState[HazardState]): Iterator[HazardObs] = {
    val evs = rows.map(r => (r.getAs[Double]("t"), r.getAs[Long]("event_id"),
      r.getAs[String]("event_type"))).toArray.sortBy(e => (e._1, e._2))
    if (evs.isEmpty) return Iterator.empty
    val prior = state.getOption
    val t0 = prior.map(_.t0).getOrElse(evs.head._1)
    var last = prior.map(_.lastByType).getOrElse(Map.empty[String, Double])
    var tmax = prior.map(_.tmax).getOrElse(Double.NegativeInfinity)
    var frontier = prior.map(_.frontier).getOrElse(Double.NegativeInfinity)
    val out = Vector.newBuilder[HazardObs]
    evs.foreach { case (t, _, tpe) =>
      val tn = t - t0
      if (prior.isDefined && tn < frontier) {
        // late: drop, never rewind
      } else {
        last.get(tpe).foreach { prev =>
          out += HazardObs(userId, tpe, "gap",
            math.round((tn - prev) * 1000.0), 1L)
        }
        last = last.updated(tpe, tn)
        tmax = math.max(tmax, tn)
        frontier = tn
      }
    }
    state.update(HazardState(t0, last, tmax, frontier))
    last.toSeq.sortBy(_._1).foreach { case (tpe, prev) =>
      out += HazardObs(userId, tpe, "cens", math.round((tmax - prev) * 1000.0), 0L)
    }
    out.result().iterator
  }

  def hazardStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[HazardObs] = {
    import spark.implicits._
    val schema = graft.sources.Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    graft.sources.Tables.normalizeEventTs(withTrigger.parquet(dir))
      .selectExpr("user_id", "event_id",
        "cast(ts div 1000 as double) / 1e6 as t", "event_type")
      .groupByKey(_.getAs[Long]("user_id"))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(hazardUpdate)
  }

  def runHazard(spark: SparkSession, dir: String,
      sinkName: String = "stream_hazard"): DataFrame = {
    MemorySink.drain(hazardStream(spark, dir), sinkName)
  }

  /** Streaming twin of q185: the observation stream rolled through
    * the SAME histogram/at-risk stage; shares q185's oracle.
    */
  val q226StreamHazard: QueryDef = QueryDef.sql(
    "q226_stream_hazard",
    graft.operators.BehaviorOps.q185HazardTable.oracle.get) { (spark, dir) =>
    graft.operators.BehaviorOps
      .hazardFromObs(runHazard(spark, dir).select("event_type", "dtm", "ev"))
      .orderBy("event_type", "dtm")
  }

  val all: Seq[QueryDef] = Seq(q171StreamBurst, q194StreamChisq, q212StreamGini,
    q226StreamHazard)
}
