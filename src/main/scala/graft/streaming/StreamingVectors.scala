package graft.streaming

import graft.QueryDef
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming vector-index ingest monitor: embeddings arriving on a
  * stream are assigned to their IVF coarse list with the q67
  * zero-shuffle codebook expression, and per-list keyed state carries
  * (count, Σ quantized-L2-distortion) across micro-batches — the live
  * "quantizer health" dashboard an embedding ingest pipeline watches
  * to decide when the codebook needs retraining (rising mean
  * distortion = the index no longer fits the data distribution).
  *
  * The state is two longs per list: the distortion is milli-quantized
  * to an integer BEFORE the stateful fold, so batch boundaries,
  * partitioning, and fold order cannot change the sums — the
  * streaming result is bit-identical to the batch aggregate and
  * shares one sequential-SQL oracle (same policy as q117/q134).
  */
object StreamingVectors {

  final case class ListRow(list_id: Long, n_vecs: Long, sum_d2_milli: Long,
      mean_d2_milli: Long)
  final case class ListState(n: Long, sum: Long)

  private def update(listId: Long, rows: Iterator[(Long, Long)],
      state: GroupState[ListState]): Iterator[ListRow] = {
    var st = state.getOption.getOrElse(ListState(0L, 0L))
    rows.foreach { case (_, d2) => st = ListState(st.n + 1, st.sum + d2) }
    if (st.n == 0) return Iterator.empty
    state.update(st)
    Iterator.single(ListRow(listId, st.n, st.sum, st.sum / st.n))
  }

  /** Per-list assignment + quantized distortion stream over a
    * directory of embedding-parquet files.
    */
  def distortionStream(spark: SparkSession, dir: String,
      glob: String = "embeddings.parquet",
      oneFilePerTrigger: Boolean = false): org.apache.spark.sql.Dataset[ListRow] = {
    import spark.implicits._
    val schema = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    val withTrigger =
      if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader
    // the codebook is collected once at plan time (16 centroids) and
    // rides into every micro-batch as expression literals — the
    // assignment stays a narrow per-row map on the stream; the
    // codebook read honors the same glob so split-file fixtures and
    // the canonical table path both resolve
    val codebookSrc = spark.read.option("pathGlobFilter", glob).parquet(dir)
    val assigned = withTrigger.parquet(dir)
      .select(
        element_at(Similarity.nearestColFrom(codebookSrc, 1, col("embedding")), 1)
          .as("list_id"),
        col("embedding"))
    // stream-static broadcast join carries the centroid VECTOR in for
    // the distortion fold (the assignment expression returns ids only)
    val cents = codebookSrc
      .filter(col("vec_id") < Similarity.NumCentroids)
      .select(col("vec_id").as("list_id"), col("embedding").as("ce"))
    assigned.join(broadcast(cents), Seq("list_id"))
      .select(col("list_id"),
        expr("""cast(round(aggregate(zip_with(embedding, ce,
          |  (x, y) -> (cast(x as double) - cast(y as double))
          |    * (cast(x as double) - cast(y as double))),
          |  cast(0 as double), (s, x) -> s + x) * 1000.0) as bigint)""".stripMargin)
          .as("d2_milli"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  def run(spark: SparkSession, dir: String,
      sinkName: String = "stream_ivf_monitor"): DataFrame = {
    MemorySink.drain(distortionStream(spark, dir), sinkName)
  }

  /** Declared streaming query: one batch over the whole table emits
    * one row per list; the cross-batch state-resume contract is
    * pinned by StreamingSpec with `oneFilePerTrigger`.
    */
  val q156StreamIvfMonitor: QueryDef = QueryDef.sql(
    "q156_stream_ivf_monitor",
    s"""WITH ${Similarity.duckCentroids},
       |asg AS (SELECT vec_id, c_id AS list_id, d2 FROM (
       |  SELECT e.vec_id, c.c_id,
       |    ${Similarity.duckL2("e.embedding", "c.ce")} AS d2,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${Similarity.duckL2("e.embedding", "c.ce")}, c.c_id) AS rn
       |  FROM embeddings e, cent c) WHERE rn = 1)
       |SELECT list_id, count(*) AS n_vecs,
       |  CAST(sum(CAST(round(d2 * 1000.0) AS BIGINT)) AS BIGINT) AS sum_d2_milli,
       |  CAST(sum(CAST(round(d2 * 1000.0) AS BIGINT)) AS BIGINT)
       |    // count(*) AS mean_d2_milli
       |FROM asg GROUP BY list_id ORDER BY list_id""".stripMargin) { (spark, dir) =>
    run(spark, dir).orderBy("list_id")
  }

  val all: Seq[QueryDef] = Seq(q156StreamIvfMonitor)
}
