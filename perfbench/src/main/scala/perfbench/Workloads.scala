package perfbench

import java.nio.file.{Files, Paths}

import graft.{CacheScope, QueryDef, SparkEntry}
import graft.api.Graft
import graft.engine.{Annotation, FilterSpec, Recipes, Session}
import graft.operators.SeriesOps.Series
import graft.sources.TrialReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A benchmark workload: a warm-up counted in set-up, then closed-loop
  * passes (one caller; the next call starts when the previous returns).
  * Pass 1 is the warm pass: it checks the outputs and is not measured.
  */
trait Workload {
  def sizes: Map[String, Any]
  def warmUp(spark: SparkSession): Unit
  def pass(ctx: Ctx, n: Int): Unit
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
}

object Digest {
  /** Row count plus an order-insensitive digest of every column. */
  def of(df: DataFrame): (Long, java.math.BigDecimal) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}

/** The reference's interactive session on one trial: load, a scripted
  * mix of edits, annotations, filters, undo and redo bursts, each
  * followed by a refresh of the view, then save.
  */
final class TrimSession(trialPath: String, work: String, seed: Long, edits: Int)
    extends Workload {
  import TrimSession._

  /** markBad and deleteSegment alternate; an annotation every third
    * edit, and a savgol filter then an undo/redo burst every fourth.
    * Intervals stay inside the first 10 s so that later deletes still
    * hit data after earlier ones collapse the axis.
    */
  val script: Seq[Action] = {
    val rnd = new java.util.Random(seed)
    def iv(): (Double, Double) = {
      val a = math.rint(rnd.nextDouble() * 10.0 * 1000) / 1000
      (a, a + 0.05 + math.rint(rnd.nextDouble() * 400) / 1000)
    }
    (1 to edits).flatMap { i =>
      val (a, b) = iv()
      val edit = if (i % 2 == 1) Mark(a, b) else Delete(a, b)
      val extra =
        (if (i % 3 == 0) { val (c, d) = iv(); Seq(Note(c, d, s"note$i")) } else Nil) ++
          (if (i % 4 == 0)
            Seq(Smooth(Seq("gaze_heading_deg", "head_heading_deg")), Undo, Undo, Redo, Redo)
          else Nil)
      edit +: extra
    }
  }

  def sizes: Map[String, Any] = Map("trials" -> 1, "edits" -> edits,
    "actions" -> script.size, "seed" -> seed)

  def warmUp(spark: SparkSession): Unit =
    Graft.loadTrial(spark, trialPath).df.write.format("noop").mode("overwrite").save()

  def pass(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    val trial = ctx.sources("loadTrial")(Graft.loadTrial(spark, trialPath))
    val sess = Graft.openSession(trial)
    script.zipWithIndex.foreach { case (act, i) =>
      ctx.op(s"${i + 1}:${act.productPrefix}", "engine") {
        act match {
          case Mark(a, b) => sess.markBad(a, b)
          case Delete(a, b) => sess.deleteSegment(a, b)
          case Note(a, b, l) => sess.annotate(Annotation(a, b, l, track = "bench"))
          case Smooth(chs) =>
            val f = Graft.applyFilter(spark, trial.copy(df = sess.state.df), chs,
              FilterSpec.Savgol(11, 2))
            sess.applyDataFrame(f, "filter", Map("filter_type" -> "savgol",
              "window" -> "11", "polyorder" -> "2", "channels" -> chs.mkString("|")))
          case Undo => sess.undo()
          case Redo => sess.redo()
        }
        sess.state.df
      }(ctx.noop)
    }
    val out = s"$work/trim/pass$n"
    ctx.sources("saveClean")(Graft.saveClean(sess.state.df, s"$out/clean"))
    ctx.sources("saveAnnotations")(Graft.saveAnnotations(s"$out/annotations.json", sess, trial.sampleRate))
    if (n == 1) ctx.untimed(checkReplay(ctx, trial, sess))
  }

  /** The final state must equal a fresh Recipes replay of the session's
    * history over the loaded trial. `historyJson` carries only the
    * edits, so the replay is rebuilt from `state.history`, and
    * `historyJson` is checked against that history's edit subsequence.
    */
  private def checkReplay(ctx: Ctx, trial: Graft.Trial, sess: Session): Unit = {
    val ops: Seq[Recipes.Op] = sess.state.history.map { r =>
      r.description match {
        case "delete_segment" => Recipes.Op.DeleteSegment(r.start, r.end)
        case "mark_bad" => Recipes.Op.MarkBad(r.start, r.end)
        case "filter" =>
          Recipes.Op.Filter(r.params("filter_type"),
            Map("window" -> r.params("window").toDouble, "polyorder" -> r.params("polyorder").toDouble),
            r.params("channels").split('|').toSeq, None)
      }
    }
    ctx.check("trim_session historyJson") {
      Recipes.fromJson(sess.historyJson) == ops.filterNot(_.isInstanceOf[Recipes.Op.Filter])
    }
    ctx.check("trim_session replay") {
      val replay = Recipes.compile(ctx.spark, trial.series, ops)(trial.df)
      Digest.of(replay) == Digest.of(sess.state.df)
    }
  }
}

object TrimSession {
  sealed trait Action extends Product
  final case class Mark(a: Double, b: Double) extends Action
  final case class Delete(a: Double, b: Double) extends Action
  final case class Note(a: Double, b: Double, label: String) extends Action
  final case class Smooth(channels: Seq[String]) extends Action
  case object Undo extends Action
  case object Redo extends Action
}

/** Bulk replay of one mixed recipe over a fleet of trials in one plan,
  * through the noop sink and one parquet write.
  */
final class RecipeFleet(paths: Seq[String], work: String, rows: Long) extends Workload {
  val recipe: String =
    """{"operations":[
      |{"description":"filter","params":{"channels":["head_heading_deg"],"filter_type":"interpolate","method":"linear"}},
      |{"description":"filter","params":{"channels":["gaze_heading_deg","chest_heading_deg"],"filter_type":"savgol","window":11,"polyorder":2}},
      |{"description":"filter","params":{"channels":["chair_heading_deg","left_foot_heading_deg"],"filter_type":"butter_lowpass","cutoff":6.0,"order":2}},
      |{"description":"filter","params":{"channels":["right_foot_heading_deg"],"filter_type":"moving_rms","window":5}},
      |{"description":"derived:gaze_vs_head","params":{"expr":"gaze_heading_deg - head_heading_deg"}},
      |{"description":"mark_bad","start":2.0,"end":2.5},
      |{"description":"delete_segment","params":{"start":4.0,"end":4.5}}
      |]}""".stripMargin

  def sizes: Map[String, Any] = Map("trials" -> paths.size, "rows" -> rows)
  val series: Series = Series(Seq("trial_id"), "normalized_time")

  private def load(spark: SparkSession, ps: Seq[String]): DataFrame = {
    val raw = TrialReader.loadTrials(spark, ps)
    TrialReader.ensureBadMaskAndTime(raw, TrialReader.classify(raw), Some("trial_id"))
  }

  private def replay(spark: SparkSession, df: DataFrame): DataFrame =
    Recipes.compile(spark, series, Recipes.fromJson(recipe))(df)

  def warmUp(spark: SparkSession): Unit =
    replay(spark, load(spark, paths.take(1))).write.format("noop").mode("overwrite").save()

  var fleetDigest: Option[(Long, java.math.BigDecimal)] = None

  def pass(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    val df = ctx.sources("loadTrials")(load(spark, paths))
    val out = s"$work/fleet/pass$n"
    val replayed = ctx.op("replay", "engine")(replay(spark, df))(ctx.noop)
    ctx.op("write", "engine", headline = false)(replay(spark, df)) { r =>
      ctx.sources("parquetWrite")(r.write.mode("overwrite").parquet(out))
    }
    if (n == 1) ctx.untimed(replayed.foreach { r =>
      val fleet = Digest.of(r)
      // `trial_id` is the input file's full path; the pinned digest
      // keys trials by file name so it holds in any checkout
      fleetDigest = Some(Digest.of(r.withColumn("trial_id", regexp_extract(col("trial_id"), "[^/]+$", 0))))
      ctx.check("recipe_fleet parquet round trip") {
        Digest.of(spark.read.parquet(out).select(r.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)) == fleet
      }
      // the reference replays trial by trial; the one-plan replay must
      // agree with that on the first and the last trial
      Seq(paths.head, paths.last).distinct.foreach { p =>
        ctx.check(s"recipe_fleet per-trial replay of ${Paths.get(p).getFileName}") {
          val one = load(spark, Seq(p))
          val id = one.select("trial_id").head().getString(0)
          Digest.of(replay(spark, one)) == Digest.of(r.filter(col("trial_id") === id))
        }
      }
    })
  }

  override def finish(ctx: Ctx): Map[String, Any] =
    fleetDigest.map { case (c, h) => Map("fleet_digest" -> s"$c:$h") }.getOrElse(Map.empty)
}

/** Declared queries on the fixture tables, each inside `CacheScope.run`.
  * The warm pass also writes every result for the DuckDB oracle check.
  */
final class QueryLane(queries: Seq[QueryDef], dataDir: String, work: String)
    extends Workload {
  def sizes: Map[String, Any] = Map("queries" -> queries.size,
    "names" -> queries.map(_.name))

  def warmUp(spark: SparkSession): Unit =
    graft.operators.Relational.q02RevenueByNation.fn(spark, dataDir)
      .write.format("noop").mode("overwrite").save()

  def pass(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    queries.foreach { q =>
      CacheScope.run(sc) {
        ctx.op(q.name, "operators")(q.fn(spark, dataDir)) { df =>
          ctx.noop(df)
          if (n == 1) ctx.untimed(ctx.sources("resultWrite")(
            df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/${q.name}")))
        }
      }
      val sweep = CacheScope.lastSweep
      ctx.current.sweptCheckpoints += sweep.sweptCheckpoints
      ctx.current.leftUntracked += sweep.leftUntracked
      ctx.current.pinnedMb = math.max(ctx.current.pinnedMb, Host.pinnedMb(sc))
      // queries may leave session state behind; reset it as Verify does
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      spark.experimental.extraOptimizations = Nil
    }
  }

  override def finish(ctx: Ctx): Map[String, Any] = {
    val json = queries.flatMap(q => q.oracle.map(sql => Json.str(q.name) + ":" + Json.str(sql)))
    Files.writeString(Paths.get(s"$work/out/oracle_sql.json"), json.mkString("{", ",", "}"))
    Map.empty
  }
}

object QueryLane {
  /** ROADMAP item 5's iterative family. */
  val iterative: Seq[String] = Seq("q70", "q80", "q122", "q139", "q183", "q209", "q222", "q231")

  private def id(q: QueryDef): String = q.name.takeWhile(_ != '_')

  /** The two cheapest of the family on the deploy profile, one
    * connected-components loop and one PageRank loop; the whole family
    * takes 70-100 s a pass on 4 cpus, beyond one run's budget.
    */
  def family(order: Long): Seq[QueryDef] =
    shuffle(SparkEntry.allQueries.filter(q => Seq("q70", "q122").contains(id(q))), order)

  /** Per-module stratified sample of the single-pass batch queries:
    * every `stride`-th query of each operator module, from a fixed
    * offset, so every run measures the same set. Streaming modules and
    * the iterative family are excluded.
    */
  def sample(stride: Int, order: Long): Seq[QueryDef] = {
    import graft.operators._
    val modules = Seq(Relational.all, EventSeries.all, EventSeriesJoins.all, Dedup.all,
      Similarity.all, TextOps.all, CorpusOps.all, PipelineOps.all, Sketches.all,
      Intervals.all, AuditOps.all, BehaviorOps.all, Graphs.all, Layout.all,
      Multimodal.all, RecipeQueries.all)
    val picked = modules.flatMap { m =>
      val batch = m.filter(q => q.oracle.isDefined && !q.name.contains("_stream_") &&
        !iterative.contains(id(q)))
      batch.zipWithIndex.collect { case (q, i) if i % stride == stride / 2 => q }
    }
    shuffle(picked, order)
  }

  private def shuffle(qs: Seq[QueryDef], seed: Long): Seq[QueryDef] =
    new scala.util.Random(seed).shuffle(qs)
}
