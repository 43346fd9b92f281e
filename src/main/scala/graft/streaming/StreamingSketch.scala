package graft.streaming

import graft.QueryDef
import graft.functions.{KmvSketchAgg, TextHash}
import graft.operators.Sketches.SketchK
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming distinct-count sketching: the q84 KMV sketch carried
  * across micro-batches as keyed state (`readStream` →
  * `flatMapGroupsWithState`), so an unbounded token stream yields a
  * live per-source distinct estimate from a few hundred bytes of
  * state per key.
  *
  * This works because the KMV state is a pure SET of global k-minima:
  * fold order, batch boundaries, and partitioning cannot change it
  * ([[KmvSketchAgg]]'s reduce/merge are set inserts) — so the
  * streaming result is BIT-IDENTICAL to the batch q84 sketch columns
  * and shares q84's sequential-SQL oracle. The exact-count column is
  * deliberately absent: carrying it would need the full value set per
  * key (unbounded state), which is precisely what the sketch exists
  * to avoid on a 100 TB stream.
  */
object StreamingSketch {

  final case class KmvRow(source: String, kth_hash: Long, est_distinct: Double)
  final case class KmvState(ks: Array[Long])

  /** HALF_UP like Spark's `round(x, 4)` — same policy as the other
    * streaming twins, so the hash compare matches the oracle.
    */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Merge this batch's PARTIAL sketches into the carried k-minima
    * and re-emit the key's current sketch row (upsert-sink contract:
    * latest row per source wins, like the other streaming queries).
    */
  private def update(source: String, rows: Iterator[(String, Array[Long])],
      state: GroupState[KmvState]): Iterator[KmvRow] = {
    val agg = new KmvSketchAgg(SketchK)
    var ks = state.getOption.map(_.ks).getOrElse(Array.emptyLongArray)
    rows.foreach(r => ks = agg.merge(ks, r._2))
    if (ks.isEmpty) return Iterator.empty
    state.update(KmvState(ks))
    val est =
      if (ks.length < SketchK) ks.length.toDouble
      else round4((SketchK - 1).toDouble * 4294967296.0 / ks.last)
    Iterator.single(KmvRow(source, ks.last, est))
  }

  /** The per-source KMV stream over a directory of document-parquet
    * files (one micro-batch per file with `oneFilePerTrigger`, how
    * the spec exercises cross-batch state).
    *
    * Scale shape: raw (source, hash) rows NEVER shuffle to the state
    * operator — a mapPartitions combiner folds each partition down to
    * one bounded k-minima array per source first (KMV `merge` is a
    * set union, so any partial grouping yields the same global
    * minima), and the keyed state receives ≤ partitions × |sources|
    * tiny rows per batch instead of every token. This is the
    * streaming face of the batch aggregate's map-side combine, which
    * `flatMapGroupsWithState` cannot otherwise express (Spark forbids
    * aggregates before stateful ops in append mode).
    */
  def kmvStream(spark: SparkSession, dir: String,
      glob: String = "documents.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[KmvRow] = {
    import spark.implicits._
    val schema = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    graft.sources.Tables.normalizeEventTs(withTrigger.parquet(dir))
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .select(col("source"), TextHash.base32(col("token")).as("h"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val agg = new KmvSketchAgg(SketchK)
        val acc = scala.collection.mutable.HashMap.empty[String, Array[Long]]
        it.foreach { case (s, h) =>
          acc.update(s, agg.reduce(acc.getOrElse(s, Array.emptyLongArray), h))
        }
        acc.iterator
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  def run(spark: SparkSession, dir: String,
      sinkName: String = "stream_kmv"): DataFrame = {
    MemorySink.drain(kmvStream(spark, dir), sinkName)
  }

  /** Declared streaming query — the oracle is q84's sequential SQL
    * restricted to the sketch columns (streaming state cannot carry
    * the exact count; see the object doc).
    */
  val q134StreamKmv: QueryDef = QueryDef.sql(
    "q134_stream_kmv",
    s"""WITH t AS (SELECT DISTINCT source, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)),
       |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM t)
       |SELECT source,
       |  max(CASE WHEN rn <= $SketchK THEN h END) AS kth_hash,
       |  round(CASE WHEN count(CASE WHEN rn <= $SketchK THEN 1 END) < $SketchK
       |    THEN CAST(count(CASE WHEN rn <= $SketchK THEN 1 END) AS DOUBLE)
       |    ELSE ${SketchK - 1}.0 * 4294967296.0 / max(CASE WHEN rn <= $SketchK THEN h END)
       |    END, 4) AS est_distinct
       |FROM r GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    run(spark, dir).orderBy("source")
  }

  // ------------------------------------------------------------------
  // q168: streaming per-day distinct users via HLL register state
  // ------------------------------------------------------------------

  final case class DauRow(day: Long, n_registers: Long, n_zero: Long, raw_est: Double)
  final case class DauState(regs: Map[Long, Int])

  private val HllM = 4096
  private val HllAlphaM2 = 0.7213 / (1.0 + 1.079 / HllM) * HllM.toDouble * HllM.toDouble

  /** Fold a batch of (day, hash) rows into the day's registers and
    * re-emit the day's current estimate. Register max is idempotent
    * and order-insensitive, and the harmonic sum is a sum of exact
    * dyadics (common denominator 2^21, ≤4096 terms — every partial
    * sum exactly representable), so batch boundaries and fold order
    * cannot move the result: streaming ≡ batch, shared oracle.
    */
  private def dauUpdate(day: Long, rows: Iterator[(Long, Array[Long])],
      state: GroupState[DauState]): Iterator[DauRow] = {
    var regs = state.getOption.map(_.regs).getOrElse(Map.empty[Long, Int])
    var any = false
    rows.foreach { case (_, partial) =>
      any = true
      partial.foreach { packed =>
        val bucket = packed >>> 8
        val rho = (packed & 255L).toInt
        if (regs.getOrElse(bucket, Int.MinValue) < rho) regs = regs.updated(bucket, rho)
      }
    }
    if (!any && regs.isEmpty) return Iterator.empty
    state.update(DauState(regs))
    val nReg = regs.size.toLong
    val sp = regs.valuesIterator.map(r => 1.0 / (1L << r)).sum
    Iterator.single(DauRow(day, nReg, HllM.toLong - nReg,
      HllAlphaM2 / (sp + (HllM.toLong - nReg))))
  }

  /** Per-day distinct-user HLL stream over a directory of event-
    * parquet files. No stream-side DISTINCT is needed: register max
    * absorbs duplicates, so the batch oracle's `SELECT DISTINCT`
    * pre-step changes nothing.
    *
    * Same combiner shape as [[kmvStream]]: each partition folds its
    * rows into per-day register maps first (register max is an
    * idempotent join-semilattice, so partial grouping cannot change
    * the final registers), and the keyed state merges ≤ partitions
    * register maps per day instead of receiving every event row.
    */
  def dauStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[DauRow] = {
    import spark.implicits._
    val schema = graft.sources.Tables.rawEventsSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    graft.sources.Tables.normalizeEventTs(withTrigger.parquet(dir))
      .select(expr("(ts div 1000) div 86400000000").as("d"),
        TextHash.base32(col("user_id").cast("string")).as("h"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        // dense int registers while folding, packed (bucket<<8 | rho)
        // longs on the wire — a primitive-array partial encodes ~10x
        // cheaper than a Map[Long, Int] per (partition, day)
        val acc = scala.collection.mutable.HashMap.empty[Long, Array[Int]]
        it.foreach { case (d, h) =>
          val regs = acc.getOrElseUpdate(d, Array.fill(HllM)(-1))
          val bucket = (h >>> 20).toInt
          val rest = h & 1048575L
          val rho =
            if (rest == 0L) 21
            else 21 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
          if (regs(bucket) < rho) regs(bucket) = rho
        }
        acc.iterator.map { case (d, regs) =>
          val packed = Array.newBuilder[Long]
          var b = 0
          while (b < HllM) {
            if (regs(b) >= 0) packed += (b.toLong << 8) | regs(b).toLong
            b += 1
          }
          (d, packed.result())
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(dauUpdate)
  }

  def runDau(spark: SparkSession, dir: String,
      sinkName: String = "stream_dau"): DataFrame = {
    MemorySink.drain(dauStream(spark, dir), sinkName)
  }

  /** Declared streaming query: per-day distinct-user estimates from
    * keyed register state (the streaming face of q164's daily-sketch
    * layer; q164 does the trailing-window merges batch-side over the
    * same registers). Oracle = the q135-style per-day rollup.
    */
  val q168StreamDau: QueryDef = {
    val aLit = graft.functions.KernelOracles.lit(HllAlphaM2)
    QueryDef.sql(
      "q168_stream_dau",
      s"""WITH t AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS d,
         |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT AS h FROM events),
         |b AS (SELECT d, h >> 20 AS bucket,
         |    CASE WHEN (h & 1048575) = 0 THEN 21
         |         ELSE 21 - length(printf('%b', h & 1048575)) END AS rho
         |  FROM t),
         |r AS (SELECT d, bucket, max(rho) AS reg FROM b GROUP BY d, bucket),
         |e AS (SELECT d, count(*) AS n_reg,
         |    sum(1e0 / (1::BIGINT << reg)) AS sp FROM r GROUP BY d)
         |SELECT d AS day, CAST(n_reg AS BIGINT) AS n_registers,
         |  CAST($HllM - n_reg AS BIGINT) AS n_zero,
         |  $aLit / (sp + ($HllM - n_reg)) AS raw_est
         |FROM e ORDER BY day""".stripMargin) { (spark, dir) =>
      runDau(spark, dir).orderBy("day")
    }
  }

  val all: Seq[QueryDef] = Seq(q134StreamKmv, q168StreamDau)
}
