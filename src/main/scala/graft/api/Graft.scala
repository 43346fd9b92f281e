package graft.api

import graft.engine.{Annotation, EngineState, FilterEngine, FilterSpec, Plugins, Recipes, Session}
import graft.operators.SeriesOps
import graft.operators.SeriesOps.Series
import graft.sources.{AnnotationStore, TrialReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Thin programmatic facade — the Spark-native equivalent of the
  * reference's headless API (/root/reference/README.md:279-302):
  * load → filter → annotate → save, plus batch recipe replay.
  *
  * {{{
  * val spark = Graft.sparkSession()
  * val trial = Graft.loadTrial(spark, "trial.csv")
  * val smoothed = Graft.applyFilter(spark, trial,
  *   trial.schema.signalCols, FilterSpec.Savgol(11, 2))
  * val sess = Graft.openSession(trial)
  * sess.applyDataFrame(smoothed, "filter:savgol")
  * sess.annotate(Annotation(2.5, 3.0, "blink", track = "eye"))
  * Graft.saveClean(sess.state.df, "trial_clean")
  * Graft.saveAnnotations("trial_ann.json", sess, trial.sampleRate)
  * }}}
  *
  * Derived channels go through Spark SQL (the reference's pandas
  * expression becomes a Catalyst expression):
  * `trial.df.withColumn("gaze_vs_head",
  *   expr("((gaze_heading_deg - head_heading_deg + 180) % 360 + 360) % 360 - 180"))`.
  */
object Graft {

  /** A loaded trial: classified frame + series descriptor + inferred
    * sample rate (data_model.py:64-126 pipeline). `sampleRate` is the
    * single-trial rate; a multi-trial batch carries the per-trial
    * table in `sampleRates` (the reference infers fs per loaded file,
    * so one scalar would be wrong across trials of different rates).
    */
  final case class Trial(df: DataFrame, schema: TrialReader.TrialSchema,
      series: Series, sampleRate: Double,
      sampleRates: Option[DataFrame] = None)

  /** The one session builder of the engine. It installs the graft
    * Catalyst tier ([[graft.GraftExtensions]]: native SQL functions,
    * [[graft.plans.OverlapJoinRewrite]], [[graft.plans.InferScanBounds]]
    * and the as-of join strategy) once, at build, so no query has to
    * touch session state. AQE is on by default (skew-join splitting
    * and partition coalescing are the right posture at scale); the
    * bench profile ([[graft.Harness.session]]) turns it off. Shuffle
    * partitions come from the deploy (set explicitly in local mode).
    * `nanosAsLong` is pinned at BUILD time (one of `events.parquet`'s
    * physical encodings is TIMESTAMP(NANOS), which Spark 4 otherwise
    * rejects); it is a session-wide read setting, so it belongs here,
    * not inside a table accessor ([[graft.sources.Tables.events]]
    * asserts it).
    */
  def sparkSession(master: String = "local[*]", shufflePartitions: Int = 32,
      adaptive: Boolean = true): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", adaptive)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()

  /** Load + classify one trial CSV (S1-S4). `trialCol` is None for
    * the reference's one-trial-per-file model; batch pipelines load
    * many files via [[TrialReader.loadTrials]] and pass
    * `Some("trial_id")`.
    */
  def loadTrial(spark: SparkSession, path: String,
      trialCol: Option[String] = None): Trial = {
    val raw = TrialReader.loadCsv(spark, path)
    val schema = TrialReader.classify(raw)
    val df = TrialReader.ensureBadMaskAndTime(raw, schema, trialCol)
    val timeCol = schema.timeCol.getOrElse("normalized_time")
    trialCol match {
      case None =>
        val fs = TrialReader.inferSampleRate(df, timeCol)
        Trial(df, schema, Series(Nil, timeCol), fs)
      case Some(tc) =>
        // per-trial rates (reference infers fs per loaded file);
        // the scalar field keeps the fallback default for callers
        // that only need a nominal rate
        val rates = TrialReader.inferSampleRates(df, timeCol, tc)
        Trial(df, schema, Series(Seq(tc), timeCol), 120.0, Some(rates))
    }
  }

  /** Apply a filter spec to channels, optionally selection-scoped —
    * lazy; nothing runs until an action.
    */
  def applyFilter(spark: SparkSession, trial: Trial, channels: Seq[String],
      spec: FilterSpec, selection: Option[(Double, Double)] = None): DataFrame =
    FilterEngine.apply(spark, trial.df, trial.series, channels, spec, selection)

  /** The filter-preview data path (reference main.py:706-725,
    * `FilterPreviewDialog`): one channel's original-vs-filtered
    * overlay on the FILTERED time base, first `n` rows by time.
    * Cardinality-preserving filters pair row-for-row; a
    * cardinality-changing one (resample) gets the original
    * linearly interpolated onto the new grid with edge clamping —
    * the reference's `np.interp` branch. Returns
    * `(seriesKeys…, timeCol, original, filtered)`, bounded and
    * collect-friendly; the preview is a dialog, not a pipeline stage.
    */
  def previewFilter(spark: SparkSession, trial: Trial, channel: String,
      spec: FilterSpec, selection: Option[(Double, Double)] = None,
      n: Int = 1000): DataFrame = {
    val s = trial.series
    val keys = s.keyCols :+ s.timeCol
    val filtered = applyFilter(spark, trial, Seq(channel), spec, selection)
      .select(keys.map(col) :+ col(channel).as("filtered"): _*)
    val orig = trial.df.select(keys.map(col) :+ col(channel).as("original"): _*)
    val paired = spec match {
      case _: FilterSpec.ResampleTo | FilterSpec.ResampleAuto =>
        // full outer keeps every original knot for the interpolation,
        // then only the grid rows (filtered non-null) survive
        val both = filtered.join(orig, keys, "full_outer")
        SeriesOps.interpolateLinear(both, s, "original", "original")
          .filter(col("filtered").isNotNull)
      case _ => filtered.join(orig, keys)
    }
    paired.orderBy(keys.map(col): _*).limit(n)
  }

  /** Open an undo/redo session over the trial. */
  def openSession(trial: Trial): Session =
    new Session(trial.series, EngineState(trial.df))

  /** Compile a recipe JSON and replay it over a (multi-)trial frame
    * in ONE job (§2.10). Hz-dialect filter params (the reference's
    * saved-recipe form, filter_engine.py:115-134) normalize against
    * each series' OWN inferred sample rate at execution, so a saved
    * recipe replays faithfully even over a mixed-rate multi-trial
    * batch — the reference's per-trial `set_sample_rate` loop,
    * distributed.
    */
  def replayRecipe(spark: SparkSession, recipeJson: String, df: DataFrame,
      series: Series): DataFrame =
    Recipes.compile(spark, series, Recipes.fromJson(recipeJson))(df)

  /** Discover plugins in a directory (plugin_system.py:13-46). */
  def loadPlugins(dir: String): Seq[Plugins.Plugin] =
    Plugins.loadDirectory(dir)

  /** Apply a discovered plugin by name to a trial — the reference's
    * `apply_plugin` (main.py:796-820), compiled through the same
    * one-job recipe path; unknown names are a no-op like the
    * reference's early return.
    */
  def applyPlugin(spark: SparkSession, trial: Trial,
      plugins: Seq[Plugins.Plugin], name: String): DataFrame =
    Plugins.get(plugins, name)
      .map(p => Recipes.compile(spark, trial.series, p.ops)(trial.df))
      .getOrElse(trial.df)

  /** Write the cleaned frame (S5). */
  def saveClean(df: DataFrame, path: String): Unit =
    TrialReader.saveClean(df, path)

  /** Materialize a relation as a bucketed, bucket-sorted parquet
    * table. Joins and aggregations on the bucket keys against another
    * table bucketed the same way (same keys, same bucket count) then
    * plan with NO shuffle exchange on either side — the co-location
    * contract that makes repeated large-scale joins affordable: pay
    * the shuffle once at write time, never again per query. At 100 TB
    * this is the materialization path for the hot join spines
    * (orders ⋈ lineitem, signature ⋈ signature); `buckets` should be
    * sized so one bucket of the larger table fits an executor's
    * memory (e.g. 100 TB / 4096 buckets ≈ 25 GB per bucket pre-
    * compression).
    */
  def materializeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** Partition-pruned parquet sink: directory-partition by low-
    * cardinality keys (a reader filtering on them scans only matching
    * directories — zero-IO pruning before the first task launches),
    * sort rows WITHIN each output file by `sortCols` so min/max page
    * statistics make point/range predicates skip row groups, and cap
    * file size via `maxRecordsPerFile` so a hot partition can't emit
    * one unsplittable multi-GB file. This is the layout contract for
    * 100 TB curated-corpus output (e.g. partition by (split, lang),
    * sort by quality).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      sortCols: Seq[String] = Nil, maxRecordsPerFile: Long = 5000000L): Unit = {
    val sorted =
      if (sortCols.isEmpty) df
      else df.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    sorted.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** SQL query surface: register every catalog table of a scale-
    * factor directory as a temp view (plus the canonical `series` /
    * `series_norm` time axes) and run ANSI SQL against them — the
    * `spark.sql` face of the engine, so a reference user can query
    * the same relations the DataFrame operators consume. Views are
    * lazy scans: Catalyst pushdown/pruning reach the parquet exactly
    * as the DataFrame path does.
    */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    import graft.sources.Tables
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events_raw")
    Tables.series(spark, dir).createOrReplaceTempView("series")
    Tables.seriesNorm(spark, dir).createOrReplaceTempView("series_norm")
    spark.sql(query)
  }

  /** Persist session annotations/deletions/history (S6). */
  def saveAnnotations(path: String, session: Session, sampleRate: Double): Unit =
    AnnotationStore.write(path, AnnotationStore.SessionMeta(
      session.state.annotations, session.state.deletions,
      session.state.history, sampleRate))

  /** Load annotations back into a restored state (S6). */
  def loadAnnotations(path: String, df: DataFrame): EngineState =
    AnnotationStore.restore(df, AnnotationStore.read(path))
}
