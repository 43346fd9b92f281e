package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** The one drive every declared streaming query shares: run `stream`
  * to completion into a memory sink, read the sink's result table,
  * then drop the sink's temp view so the query leaves no session
  * state behind. The returned frame stays readable: it holds the
  * analyzed sink plan, not the view name.
  */
private[graft] object MemorySink {
  def drain(stream: Dataset[_], sinkName: String, mode: String = "append"): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(sinkName)
      .outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    val spark = stream.sparkSession
    val out = spark.table(sinkName)
    spark.catalog.dropTempView(sinkName)
    out
  }
}
