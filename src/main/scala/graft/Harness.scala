package graft

import graft.api.Graft
import org.apache.spark.sql.SparkSession

/** What the mains share: the bench profile that `Bench` times,
  * `Verify` gates and `Plan` prints, and the `SPARK_GRAFT_ONLY`
  * query filter. Per-query cleanup is [[CacheScope.run]] alone; no
  * main sweeps the session between queries.
  */
object Harness {
  /** Input-size-derived shuffle parallelism:
    * clamp(ceil(bytes / 128 MB), min(cpus, 8), 4*cpus). Every
    * declared query is partition-count invariant, so this only moves
    * orchestration cost, never results. The floor keeps a minimum
    * fan-out for stages whose CPU outweighs their bytes (measured:
    * the PQ/Lloyd recall audits run ~2x slower at 1 partition than 8,
    * while 1 vs 8 is a wash everywhere else at sf0.1); the byte term
    * owns the decision as soon as input outgrows 8 target-sized
    * partitions (~1 GB), and the cap bounds a huge input on a small
    * deploy exactly like AQE coalescing would.
    */
  def derivePartitions(sfDir: String, cpus: Int): Int = {
    val target = 128L << 20
    val bytes =
      try {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      } catch { case _: Throwable => 0L }
    val derived = (bytes + target - 1) / target
    math.max(math.min(cpus, 8).toLong, math.min(derived, 4L * cpus)).toInt
  }

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The bench profile: [[Graft.sparkSession]] with the derived
    * partition count and AQE off. At bench scale every stage is
    * milliseconds and adaptive stage boundaries add ~15% (measured
    * 64.6 s -> 74.0 s at sf0.1; the iterative q70 doubles), while the
    * deploy default keeps AQE on for runtime re-planning at scale.
    */
  def session(sfDir: String): SparkSession = {
    val n = cpus
    val spark = Graft.sparkSession(s"local[$n]", derivePartitions(sfDir, n), adaptive = false)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Whether `name` is selected by the comma list `pats`: an entry
    * selects the query of that exact name or every name that starts
    * with the entry plus `_` (`q12` picks `q12_mark_bad`, not q120).
    */
  def matches(pats: String)(name: String): Boolean =
    pats.split(",").exists(p => name == p || name.startsWith(p + "_"))

  /** The declared queries `SPARK_GRAFT_ONLY` selects; all when unset. */
  def selected: Seq[QueryDef] =
    sys.env.get("SPARK_GRAFT_ONLY").fold(SparkEntry.allQueries)(only =>
      SparkEntry.allQueries.filter(q => matches(only)(q.name)))
}
