package graft

import graft.functions.{Md5Prefix32, MinHashSignature, TextHash}
import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` installer — the ONE entry point for the
  * whole graft Catalyst tier, applied once when a session is built:
  * [[graft.api.Graft.sparkSession]] passes it to `withExtensions`, and
  * a cluster deploy sets
  * `--conf spark.sql.extensions=graft.GraftExtensions`. Queries never
  * install rules themselves. [[GraftExtensions.register]] adds only the
  * functions to a session built elsewhere.
  *
  * Installs:
  * - SQL-callable native expressions:
  *   `md5_prefix32(str)` → first 32 bits of MD5 as a long;
  *   `minhash_signature(array<long>)` → the 16-perm MinHash signature
  * - optimizer rules [[graft.plans.OverlapJoinRewrite]] (theta-overlap
  *   join → bucketed equi join) and [[graft.plans.InferScanBounds]]
  *   (derived-column predicates push raw zone-map bounds to the scan)
  * - the [[graft.plans.AsOfJoinStrategy]] planner strategy backing the
  *   custom as-of join operator
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.OverlapJoinRewrite)
    e.injectOptimizerRule(_ => graft.plans.InferScanBounds)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  /** The full native-expression library as SQL functions, each bound
    * to its engine-canonical parameterization (the same constants the
    * query layer uses, so SQL callers and the DataFrame facade agree
    * bit-for-bit). `NearestCentroids` is deliberately absent: its
    * centroid matrix is per-query data, not a fixed parameter.
    */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "md5_prefix32" -> (args => Md5Prefix32(args.head)),
    "minhash_signature" -> (args => MinHashSignature(args.head,
      TextHash.perms.map(_._2), TextHash.perms.map(_._3), TextHash.Prime)),
    "shingle_hash32" -> (args =>
      graft.functions.ShingleHash32(args.head, TextHash.ShingleK)),
    "simhash32" -> (args => graft.functions.SimHash32(args.head)),
    "lang_id" -> (args => graft.functions.LangIdExpr(args.head,
      graft.operators.TextOps.langMarkers)),
    "winnow_fingerprint" -> (args =>
      graft.functions.WinnowFingerprint(args.head, 4)),
    "rolling_hash_summary" -> (args =>
      graft.functions.RollingHashSummary(args.head, 257L, 1000003L, 5)),
    "hyperplane_bucket" -> (args => graft.functions.HyperplaneBucket(args.head,
      graft.functions.VectorMath.planes.map(_.map(_.toDouble)))))

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      GraftExpressionBridge.registerFunction(spark, name, b)
    }
}
