package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scalar extraction over an aggregate of zero rows: `sum`/`max` of
  * nothing is NULL, and a builder that pulls it with `getLong` must
  * not fail with ROW_VALUE_IS_NULL.
  */
class EmptyInputSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("connected components over a zero-row pairs frame is empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val labels = CacheScope.run(spark.sparkContext) {
      graft.operators.Dedup.connectedComponents(pairs).collect()
    }
    assert(labels.isEmpty)
  }

  test("q216 negative pairs over empty documents is empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-docs").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.CorpusOps.q216NegativePairs.fn(spark, dir)
    assert(out.columns.toSeq == Seq("doc_id", "k", "neg_id"))
    assert(out.collect().isEmpty)
  }
}
