package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan inspection on the bench profile, one JVM for any number of
  * queries (`queries` is a `SPARK_GRAFT_ONLY`-style list, or `all`):
  *
  *   - `runMain graft.Plan explain <queries> <sfDir>` prints the
  *     formatted physical plan;
  *   - `runMain graft.Plan opt <queries> <sfDir>` prints the optimized
  *     logical plan;
  *   - `runMain graft.Plan dump <queries> <sfDir> <outDir> <suffix>`
  *     writes each formatted plan to `<outDir>/<name>_<suffix>.txt`,
  *     the before/after evidence of an optimization round;
  *   - `runMain graft.Plan audit <queries> <sfDir>` prints one line per
  *     query with the scale-relevant facts — Exchange count, nested-loop
  *     and cartesian joins, windows, broadcasts, and whether the parquet
  *     scans carry pushed filters — the red-flag scan to run after every
  *     operator change.
  *
  * Each query builds inside its own [[CacheScope]], so an earlier
  * query's persisted subtree never prints as an opaque
  * InMemoryRelation inside the next plan.
  */
object Plan {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    require(Seq("explain", "opt", "dump", "audit").contains(mode),
      s"mode '$mode': expected explain, opt, dump or audit")
    val sfDir = args(2)
    val qs = SparkEntry.allQueries.sortBy(_.name)
      .filter(q => args(1) == "all" || Harness.matches(args(1))(q.name))
    val spark = Harness.session(sfDir)
    if (mode == "dump") new java.io.File(args(3)).mkdirs()
    qs.foreach { q =>
      try CacheScope.run(spark.sparkContext) {
        val qe = q.fn(spark, sfDir).queryExecution
        mode match {
          case "explain" => println(qe.explainString(FormattedMode))
          case "opt" => println(qe.optimizedPlan.treeString)
          case "dump" =>
            // formatted mode re-inlines cached subtrees per reference —
            // iterative plans blow past 10 MB; the evidence (operator
            // tree, join strategies, exchange count) is all in the head
            val txt = qe.explainString(FormattedMode)
            val capped =
              if (txt.length <= 400000) txt
              else txt.take(400000) +
                s"\n... [truncated: full formatted plan was ${txt.length} chars]\n"
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"${args(3)}/${q.name}_${args(4)}.txt"), capped)
            println(s"[plan] wrote ${q.name}_${args(4)}.txt")
          case "audit" =>
            val plan = qe.executedPlan.toString
            def n(s: String) = s.r.findAllIn(plan).size
            val flags = Seq(
              if (n("BroadcastNestedLoopJoin") > 0) s"BNLJ=${n("BroadcastNestedLoopJoin")}" else "",
              if (n("CartesianProduct") > 0) s"CARTESIAN=${n("CartesianProduct")}" else "",
              if (plan.contains("PushedFilters: \\[\\]") || !plan.contains("PushedFilters"))
                "" else "pushdown",
              s"exchanges=${n("Exchange")}",
              s"windows=${n("Window")}",
              s"broadcasts=${n("BroadcastExchange")}"
            ).filter(_.nonEmpty)
            println(s"AUDIT ${q.name}: ${flags.mkString(" ")}")
        }
      } catch {
        case e: Throwable => System.err.println(s"[plan] ${q.name} failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
