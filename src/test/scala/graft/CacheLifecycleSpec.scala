package graft

import org.apache.spark.sql.GraftExpressionBridge
import org.scalatest.funsuite.AnyFunSuite

/** No-leaked-state guard: every declared query, run under its own
  * [[CacheScope]], must leave the session exactly as cached as it
  * found it, with the same optimizer rules, temp views and conf —
  * WITHOUT any blanket clearCache/unpersist-all between queries (no
  * main has one). This is the library-caller contract: an
  * api.Vectors / api.Corpus user wrapping one call in
  * `CacheScope.run` must not accumulate cached relations.
  *
  * Cost control: building a query's plan registers every builder
  * `persist()` in the CacheManager eagerly (and the iterative ops —
  * CC, BFS, k-core, q209 — even run their loops at build time), so
  * the guard only pays a full noop-write execution for queries that
  * actually left something cached or pinned at build; pure-lazy
  * queries are checked at plan level, where a persist would already
  * have surfaced.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("every query's caches drain with its CacheScope — no survivors, none untracked") {
    val sc = spark.sparkContext
    // other suites share this session; guard against NEW leaks only
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.keySet.toSet
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    def tempViews = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    SparkEntry.allQueries.foreach { q =>
      val rules0 = spark.experimental.extraOptimizations
      val views0 = tempViews
      val conf0 = spark.conf.getAll
      CacheScope.run(sc) {
        val df = q.fn(spark, dir)
        val cachedAtBuild = !GraftExpressionBridge.cacheManagerIsEmpty(spark) ||
          sc.getPersistentRDDs.keySet.exists(!baseline.contains(_))
        if (cachedAtBuild) df.write.format("noop").mode("overwrite").save()
      }
      val leftover = sc.getPersistentRDDs.keySet.filterNot(baseline.contains)
      if (leftover.nonEmpty)
        leaks += s"${q.name}: ${leftover.size} persistent RDD(s) survived the scope"
      if (!GraftExpressionBridge.cacheManagerIsEmpty(spark))
        leaks += s"${q.name}: CacheManager entry survived the scope"
      if (CacheScope.lastSweep.leftUntracked > 0)
        leaks += s"${q.name}: ${CacheScope.lastSweep.leftUntracked} persist(s) bypassed CacheScope (left pinned: the thread-owned sweep deliberately does not touch them)"
      // no query leaves session state behind either: rules, views, conf
      if (spark.experimental.extraOptimizations != rules0)
        leaks += s"${q.name}: extraOptimizations changed to ${spark.experimental.extraOptimizations}"
      if (tempViews != views0)
        leaks += s"${q.name}: temp views changed: +${tempViews -- views0} -${views0 -- tempViews}"
      if (spark.conf.getAll != conf0)
        leaks += s"${q.name}: session conf changed: ${spark.conf.getAll.toSet diff conf0.toSet}"
      // clean up between queries so one leak doesn't cascade the report
      sc.getPersistentRDDs.values
        .filter(r => !baseline.contains(r.id)).foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      spark.experimental.extraOptimizations = Nil
    }
    assert(leaks.isEmpty, s"\n${leaks.mkString("\n")}")
  }

  test("a scope that throws mid-build still sweeps on unwind") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.keySet.toSet
    // a library caller's failed job: two scopedPersists land, then the
    // build throws — the scope must release both on the way out
    val boom = intercept[RuntimeException] {
      CacheScope.run(sc) {
        import CacheScope.ScopedDataset
        val a = spark.range(100).toDF("x").scopedPersist(); a.count()
        val b = spark.range(50).toDF("y").scopedPersist(); b.count()
        assert(sc.getPersistentRDDs.keySet.diff(baseline).size == 2,
          "persists not registered before the failure")
        throw new RuntimeException("mid-build failure")
      }
    }
    assert(boom.getMessage == "mid-build failure")
    assert(sc.getPersistentRDDs.keySet.diff(baseline).isEmpty,
      "persistent RDDs survived an exceptional scope exit")
    assert(GraftExpressionBridge.cacheManagerIsEmpty(spark),
      "CacheManager entry survived an exceptional scope exit")
  }

  test("checkpoint ownership: scope releases its localCheckpoint by recorded id") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val baseline = sc.getPersistentRDDs.keySet.toSet
    CacheScope.run(sc) {
      val cp = CacheScope.checkpoint(spark.range(1000).toDF("v"))
      cp.count()
      assert(sc.getPersistentRDDs.keySet.diff(baseline).nonEmpty,
        "eager localCheckpoint left no persistent RDD")
    }
    assert(CacheScope.lastSweep.sweptCheckpoints == 1)
    assert(CacheScope.lastSweep.leftUntracked == 0)
    assert(sc.getPersistentRDDs.keySet.diff(baseline).isEmpty,
      "checkpoint RDD survived its scope")
  }

  test("a concurrent thread's persist survives another scope's sweep") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.keySet.toSet
    // simulate a concurrent session: a persist from ANOTHER thread
    // lands inside this scope's window, untracked by this scope
    @volatile var otherDf: org.apache.spark.sql.DataFrame = null
    CacheScope.run(sc) {
      import CacheScope.ScopedDataset
      val mine = spark.range(10).toDF("m").scopedPersist(); mine.count()
      val t = new Thread(() => {
        otherDf = spark.range(99).toDF("w").persist()
        otherDf.count()
      })
      t.start(); t.join()
    }
    // the scope swept ITS persist but counted (not drained) the other
    // thread's cache — the pre-r9 global diff would have unpersisted it
    val survivors = sc.getPersistentRDDs.keySet.diff(baseline)
    assert(survivors.nonEmpty, "concurrent thread's persist was drained by the scope")
    assert(CacheScope.lastSweep.leftUntracked == survivors.size)
    assert(spark.range(99).toDF("w").collect().length == 99)
    otherDf.unpersist(blocking = true)
    spark.catalog.clearCache()
  }
}
