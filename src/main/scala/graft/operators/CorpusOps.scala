package graft.operators

import graft.QueryDef
import graft.CacheScope.ScopedDataset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level operations a large-scale training-data pipeline runs
  * after the per-document analyses in [[TextOps]]: vocabulary
  * statistics, deterministic sampling, and the composed
  * dedup → language → quality retention pipeline.
  *
  * Scale shapes:
  *   - vocabulary: explode + hash aggregate benefits from map-side
  *     partial aggregation (token counts collapse before the
  *     shuffle); the top-k is `TakeOrderedAndProject`, never a full
  *     sort;
  *   - sampling: a pure per-row projection on a content-stable hash —
  *     zero shuffle, reproducible across runs and cluster layouts,
  *     which is what makes held-out splits auditable;
  *   - retention: one window over `md5(text)` (narrow 32-char shuffle
  *     key instead of the full document, same grouping) feeding one
  *     hash aggregate; quality means are quantized to integer
  *     micro-units before summing so the float result is independent
  *     of partial-aggregation order on both engines.
  */
object CorpusOps {

  private def docs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.sources.Tables.documents(spark, dir)

  /** Vocabulary top-k: token occurrence and document frequency for
    * the 50 most frequent whitespace tokens (ties broken by token so
    * the cut is total-ordered and deterministic).
    */
  val q74VocabTopk: QueryDef = QueryDef.sql(
    "q74_vocab_topk",
    """SELECT token, count(*) AS n_occur, count(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY n_occur DESC, token LIMIT 50""".stripMargin) { (spark, dir) =>
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occur"), countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n_occur").desc, col("token"))
      .limit(50)
  }

  /** Deterministic 10% corpus sample: keep documents whose md5-based
    * bucket (over the stable `doc_id`) falls under the rate. The
    * split is a pure projection — reproducible regardless of
    * partitioning, executor count, or input order, so train/held-out
    * membership is auditable. Stratified variants just bucket within
    * a partition column.
    */
  val q75CorpusSample: QueryDef = QueryDef.sql(
    "q75_corpus_sample",
    s"""SELECT doc_id,
       |  ${graft.functions.TextHash.duckMd5Bucket("doc_id", 100L)} AS bucket
       |FROM documents
       |WHERE ${graft.functions.TextHash.duckMd5Bucket("doc_id", 100L)} < 10
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    docs(spark, dir)
      .withColumn("bucket", graft.functions.TextHash.md5Bucket(col("doc_id"), 100L))
      .filter(col("bucket") < 10)
      .select("doc_id", "bucket")
      .orderBy("doc_id")
  }

  /** Retention pipeline: exact-dedup (keep the lowest doc_id per
    * `md5(text)` group), predict language, score quality, retain
    * canonical docs above the quality bar, and report per-language
    * retained counts and mean quality. The mean is an integer
    * micro-unit sum (order-insensitive) divided at the end.
    */
  val q76RetentionPipeline: QueryDef = QueryDef.sql(
    "q76_retention_pipeline",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
       |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents),
       |m AS (SELECT doc_id, ws, rn, len(ws) AS n_words,
       |    list_reduce(list_transform(ws, x -> len(x)), (s, x) -> s + x) AS chars,
       |    len(list_filter(ws, x -> list_contains(${TextOps.sqlList(TextOps.stopwords, "[", "]")}, x))) AS stops
       |  FROM w),
       |q AS (SELECT doc_id, ws, rn,
       |    (320000000 * stops + 30000000 * least(chars, 8 * n_words))
       |      // (800 * n_words) + least(3000 * n_words, 300000) AS quality_ppm
       |  FROM m),
       |l AS (SELECT doc_id, rn, quality_ppm, ${TextOps.duckLangCase} AS lang_pred FROM q)
       |SELECT lang_pred, count(*) AS n_retained,
       |  CAST(CAST(sum(quality_ppm) AS BIGINT) // count(*) AS BIGINT) / 1e6 AS avg_quality
       |FROM l WHERE rn = 1 AND quality_ppm >= 350000
       |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    TextOps.withQuality(docs(spark, dir).withColumn("rn", row_number().over(w)))
      .withColumn("lang_pred", TextOps.langPred(col("ws")))
      .filter(col("rn") === 1 && col("quality_ppm") >= 350000L)
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_retained"), sum("quality_ppm").as("qsum"))
      // floor-ppm mean: exact integer mean then ONE shared division —
      // no round() anywhere, so no cross-engine boundary to land on
      .select(col("lang_pred"), col("n_retained"),
        (expr("qsum div n_retained") / lit(1e6)).as("avg_quality"))
      .orderBy("lang_pred")
  }

  /** Benchmark-contamination probe: flag corpus documents whose
    * distinct 3-word shingles overlap a (small) benchmark set's
    * shingle vocabulary. The benchmark relation is broadcast, so the
    * corpus side never shuffles for the join; the per-doc hit count
    * collapses in the map-side partial aggregate (all of a doc's
    * shingles live in its own row). The 100 TB shape for decontam
    * sweeps: broadcast the eval-set n-grams, stream the corpus once.
    */
  val q77Contamination: QueryDef = {
    import graft.functions.TextHash
    QueryDef.sql(
      "q77_contamination",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(ws) - 2),
         |    i -> ${TextHash.duckBase32("array_to_string(ws[i:i+2], ' ')")}))) AS h
         |  FROM w),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
         |probe AS (SELECT sh.doc_id, count(*) AS n_sh, count(b.h) AS n_hit
         |  FROM sh LEFT JOIN bench b ON sh.h = b.h
         |  WHERE sh.doc_id % 50 <> 0 GROUP BY sh.doc_id)
         |SELECT doc_id, n_sh, n_hit, round(n_hit * 1.0 / n_sh, 6) AS overlap
         |FROM probe WHERE n_hit > 0 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val sh = docs(spark, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"),
          explode(array_distinct(TextHash.shingleHashesFromWords(col("ws")))).as("h"))
      val bench = sh.filter(col("doc_id") % 50 === 0).select("h").distinct()
      sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench.withColumn("hit", lit(1))), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
        .filter(col("n_hit") > 0)
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          round(col("n_hit") * 1.0 / col("n_sh"), 6).as("overlap"))
        .orderBy("doc_id")
    }
  }

  /** Data-mixture report: per-source document/token totals, corpus
    * share, and mean quality — the dashboard a mixture-weighting step
    * consumes. One hash aggregate over per-row projections; the share
    * divides grouped counts via a window over the (tiny) grouped
    * result; quality means use the same order-insensitive integer
    * micro-unit sums as q76.
    */
  val q78MixtureReport: QueryDef = QueryDef.sql(
    "q78_mixture_report",
    s"""WITH w AS (SELECT source, len(text) AS nc, string_split(text, ' ') AS ws FROM documents),
       |m AS (SELECT source, nc, len(ws) AS n_words,
       |    list_reduce(list_transform(ws, x -> len(x)), (s, x) -> s + x) AS chars,
       |    len(list_filter(ws, x -> list_contains(${TextOps.sqlList(TextOps.stopwords, "[", "]")}, x))) AS stops
       |  FROM w),
       |q AS (SELECT source, nc, n_words,
       |    (320000000 * stops + 30000000 * least(chars, 8 * n_words))
       |      // (800 * n_words) + least(3000 * n_words, 300000) AS quality_ppm
       |  FROM m)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |  CAST(sum(CAST(ceil(nc / 4.0) AS BIGINT)) AS BIGINT) AS bpe_est,
       |  CAST(count(*) * 1000000 // (SELECT count(*) FROM documents) AS BIGINT) / 1e6 AS doc_share,
       |  CAST(CAST(sum(quality_ppm) AS BIGINT) // count(*) AS BIGINT) / 1e6 AS avg_quality
       |FROM q GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    graft.api.Corpus.mixtureReport(docs(spark, dir)).orderBy("source")
  }

  /** Token-budget sharding: pack the doc_id-ordered corpus into
    * shards of ~`TokenBudget` tokens (a doc goes to the shard where
    * its running token count starts) and report per-shard extents.
    *
    * The running sum is the classic two-phase distributed prefix sum,
    * NOT one global window (which would serialize the corpus through
    * a single partition): per-row sums run inside fixed doc_id blocks
    * (the partitioned window), block totals form a tiny relation
    * whose prefix offsets broadcast back. The only unpartitioned
    * window runs over that block table — corpus_size / BlockDocs
    * rows, trivially driver-scale even at 100 TB.
    */
  val TokenBudget = 4000L
  val BlockDocs = 64L

  /** q81's doc→shard assignment via the two-phase distributed prefix
    * sum (per-row sums inside fixed doc_id blocks; block-total
    * offsets broadcast back; the only unpartitioned window runs over
    * the |blocks|-row totals relation). Returns the input's columns
    * plus (nw, shard). Shared by q81 and q237. */
  private[graft] def shardAssign(d: DataFrame): DataFrame = {
    val toks = d
      .withColumn("nw", size(split(col("text"), " ")).cast("long"))
      .withColumn("blk", expr(s"doc_id div $BlockDocs"))
    val blockOffsets = toks.groupBy("blk").agg(sum("nw").as("bt"))
      .withColumn("off", coalesce(
        sum(col("bt")).over(Window.orderBy("blk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("blk", "off")
    val inBlock = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(blockOffsets), "blk")
      .withColumn("cum", sum(col("nw")).over(inBlock) + col("off"))
      .withColumn("shard", expr(s"(cum - nw) div $TokenBudget"))
  }

  val q81TokenShards: QueryDef = QueryDef.sql(
    "q81_token_shards",
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nw FROM documents),
       |c AS (SELECT doc_id, nw, sum(nw) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
       |s AS (SELECT doc_id, nw, CAST((cum - nw) // $TokenBudget AS BIGINT) AS shard FROM c)
       |SELECT shard, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (spark, dir) =>
    shardAssign(docs(spark, dir))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard")
  }

  /** Per-shard manifest: for every training shard produced by the
    * q81 token-budget assignment, the boundary docs, doc/token
    * counts, fill ratio against the budget, and the source mix
    * (distinct sources + dominant source) — what a data loader needs
    * to pick shards by provenance without opening them.
    *
    * Scale shape: the manifest relation has corpus_tokens/budget
    * rows and the per-(shard, source) relation at most |sources|×
    * that — both tiny next to the corpus. The dominant-source window
    * is partitioned by shard; the only unpartitioned window stays
    * inside `shardAssign`'s |blocks|-row totals.
    */
  val q237ShardManifest: QueryDef = QueryDef.sql(
    "q237_shard_manifest",
    s"""WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nw FROM documents),
       |c AS (SELECT doc_id, source, nw, sum(nw) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
       |s AS (SELECT doc_id, source, nw, CAST((cum - nw) // $TokenBudget AS BIGINT) AS shard FROM c),
       |tot AS (SELECT shard, min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |    count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens,
       |    count(DISTINCT source) AS n_sources FROM s GROUP BY shard),
       |bs AS (SELECT shard, source, count(*) AS src_docs FROM s GROUP BY shard, source),
       |top AS (SELECT shard, source AS top_source, src_docs AS top_source_docs FROM
       |  (SELECT *, row_number() OVER (PARTITION BY shard
       |     ORDER BY src_docs DESC, source) AS rn FROM bs) WHERE rn = 1)
       |SELECT tot.shard, first_doc, last_doc, n_docs, n_tokens, n_sources,
       |  top_source, top_source_docs,
       |  round(n_tokens * 100.0 / $TokenBudget, 2) AS fill_pct
       |FROM tot JOIN top USING (shard) ORDER BY tot.shard""".stripMargin) { (spark, dir) =>
    shardManifestDf(docs(spark, dir)).orderBy("shard")
  }

  /** The q237 manifest as a reusable corpus stage (also the
    * `Corpus.shardManifest` facade).
    */
  def shardManifestDf(corpus: DataFrame): DataFrame = {
    // consumed twice (totals + per-source counts) — pin the NARROW
    // projection or the whole two-phase prefix-sum chain runs twice
    // (guide §2.3/§2.4: project before you pin, share one derivation)
    val asg = shardAssign(corpus)
      .select("doc_id", "source", "nw", "shard")
      .scopedPersistEager()
    val tot = asg.groupBy("shard").agg(
      min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
      count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"),
      countDistinct("source").as("n_sources"))
    val bySrc = asg.groupBy("shard", "source").agg(count(lit(1)).as("src_docs"))
    val top = bySrc
      .withColumn("rn", row_number().over(Window.partitionBy("shard")
        .orderBy(col("src_docs").desc, col("source"))))
      .filter(col("rn") === 1)
      .select(col("shard"), col("source").as("top_source"),
        col("src_docs").as("top_source_docs"))
    tot.join(top, "shard")
      .withColumn("fill_pct", round(col("n_tokens") * 100.0 / TokenBudget, 2))
  }

  /** Within-document repetition metrics: the duplicate-3-gram
    * fraction (1 − distinct/total over the doc's word 3-grams) — the
    * standard repetition signal corpus filters threshold on. A pure
    * per-row projection over the native shingle-hash loop: full scan
    * throughput, zero shuffle.
    */
  val q82Repetition: QueryDef = {
    import graft.functions.TextHash
    QueryDef.sql(
      "q82_repetition",
      s"""WITH g AS (SELECT doc_id, list_transform(
         |    generate_series(1, len(ws) - 2),
         |    i -> ${TextHash.duckBase32("array_to_string(ws[i:i+2], ' ')")}) AS hs
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
         |SELECT doc_id, len(hs) AS n_grams,
         |  len(list_distinct(hs)) AS n_distinct,
         |  round(1.0 - len(list_distinct(hs)) / len(hs), 6) AS dup_frac
         |FROM g WHERE len(hs) > 0 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      docs(spark, dir)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("hs", TextHash.shingleHashesFromWords(col("ws")))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"),
          size(col("hs")).cast("long").as("n_grams"),
          size(array_distinct(col("hs"))).cast("long").as("n_distinct"),
          round(lit(1.0) - size(array_distinct(col("hs"))) / size(col("hs")), 6)
            .as("dup_frac"))
        .orderBy("doc_id")
    }
  }

  /** Stratified train/val/test split (80/10/10): membership is a
    * pure function of `md5(doc_id)` — a zero-shuffle projection that
    * assigns every document the same split on any cluster layout, so
    * held-out sets stay stable as the corpus is re-partitioned or
    * re-processed. Reported per (split, source) so mixture drift
    * across splits is visible; token sums are integer (exact).
    */
  val q87SplitAssign: QueryDef = QueryDef.sql(
    "q87_split_assign",
    s"""WITH b AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nw,
       |    ${graft.functions.TextHash.duckMd5Bucket("doc_id", 100L)} AS bucket
       |  FROM documents),
       |s AS (SELECT *, CASE WHEN bucket < 80 THEN 'train'
       |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b)
       |SELECT split, source, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens
       |FROM s GROUP BY split, source ORDER BY split, source""".stripMargin) { (spark, dir) =>
    docs(spark, dir)
      .withColumn("nw", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", graft.functions.TextHash.md5Bucket(col("doc_id"), 100L))
      .withColumn("split", when(col("bucket") < 80, "train")
        .when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"))
      .orderBy("split", "source")
  }

  /** Deterministic fixed-size per-stratum sample: EXACTLY k docs per
    * source (fewer only if the stratum is smaller), chosen by md5
    * rank — the eval-set construction primitive. Unlike the rate
    * sample (q75), membership changes minimally as the corpus grows
    * (a doc is displaced only when a smaller-hash doc arrives), and
    * unlike `TABLESAMPLE` it is reproducible on any cluster layout.
    *
    * Scale shape: a per-stratum top-k over a LOW-cardinality stratum
    * key is an AGGREGATE, not a window — `row_number().over(
    * partitionBy(source))` funnels every source's rows through one
    * reducer's sort at 100 TB even with the WindowGroupLimit
    * map-side prune. [[graft.functions.TopKPairsAgg]] keeps the k
    * smallest (hk, doc_id) pairs in O(k) state with map-side partial
    * merge, so the exchange carries k·|sources| pairs total and the
    * rank falls out of `posexplode` on the sorted final state —
    * identical rows to the window form under any partitioning.
    */
  val SamplePerSource = 20

  val q88StratifiedSample: QueryDef = QueryDef.sql(
    "q88_stratified_sample",
    s"""WITH h AS (SELECT doc_id, source,
       |    ${graft.functions.TextHash.duckBase32("doc_id::VARCHAR")} AS hk
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY hk, doc_id) AS rn FROM h)
       |SELECT source, rn, doc_id, hk FROM r WHERE rn <= $SamplePerSource
       |ORDER BY source, rn""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val hk = graft.functions.TextHash.base32Builtin(col("doc_id").cast("string"))
    val topk = udaf(new graft.functions.TopKPairsAgg(SamplePerSource),
      ExpressionEncoder[(Long, Long)]())
    docs(spark, dir)
      .select(col("doc_id"), col("source"), hk.as("hk"))
      .groupBy("source")
      .agg(topk(col("hk"), col("doc_id")).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rn"),
        col("col._2").as("doc_id"), col("col._1").as("hk"))
      .orderBy("source", "rn")
  }

  /** Sequence packing — GPT-style concatenation of a source's
    * documents (in corpus order) into fixed token-budget training
    * bins, reporting per bin the docs that START in it, its assigned
    * tokens, and how many docs straddle into the next bin (the
    * cross-boundary attention-mask cases). The pretraining batch
    * builder's bookkeeping, as one query.
    *
    * Scale shape: q81's two-phase prefix sum, but per source — block
    * subtotals roll up over (source, block) with a window over the
    * tiny per-source block table, then the running sum inside each
    * block rides a (source, block)-partitioned window. No
    * whole-source single-partition window: a 100 TB source packs with
    * corpus_size/BlockDocs-way parallelism.
    */
  val PackBudget = 512L

  val q121SequencePacking: QueryDef = QueryDef.sql(
    "q121_sequence_packing",
    s"""WITH t AS (SELECT doc_id, source,
       |    len(string_split(text, ' ')) AS nw FROM documents),
       |c AS (SELECT *, sum(nw) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
       |s AS (SELECT *, CAST((cum - nw) // $PackBudget AS BIGINT) AS bin,
       |    (cum - nw) // $PackBudget <> (cum - 1) // $PackBudget AS straddles FROM c)
       |SELECT source, bin, count(*) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_tokens,
       |  CAST(count(CASE WHEN straddles THEN 1 END) AS BIGINT) AS n_straddle,
       |  min(doc_id) AS first_doc
       |FROM s GROUP BY source, bin ORDER BY source, bin""".stripMargin) { (spark, dir) =>
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nw"),
        expr(s"doc_id div $BlockDocs").as("blk"))
    val blockOffsets = toks.groupBy("source", "blk").agg(sum("nw").as("bt"))
      .withColumn("off", coalesce(
        sum(col("bt")).over(Window.partitionBy("source").orderBy("blk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "blk", "off")
    val inBlock = Window.partitionBy("source", "blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(blockOffsets), Seq("source", "blk"))
      .withColumn("cum", sum(col("nw")).over(inBlock) + col("off"))
      .withColumn("bin", expr(s"(cum - nw) div $PackBudget"))
      .withColumn("straddles",
        expr(s"(cum - nw) div $PackBudget != (cum - 1) div $PackBudget"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"),
        count(when(col("straddles"), 1)).as("n_straddle"),
        min("doc_id").as("first_doc"))
      .orderBy("source", "bin")
  }

  /** OOV masking — vocabulary truncation as a corpus transform:
    * tokens whose corpus frequency is relatively rare (cnt·20 <
    * max-count, a scale-invariant threshold) are replaced by `<unk>`
    * and the document is re-assembled in token order. The rare-token
    * privacy/robustness scrub every tokenizer-bound pipeline runs.
    *
    * Scale shape: one tokenize scan + map-side-combined vocab
    * aggregate; the max-count is a one-row broadcast onto the vocab;
    * tokens join vocab on the token key (shuffle join — the vocab
    * stays distributed, never collected); reassembly is one per-doc
    * aggregate sorting each doc's (pos, token) pairs in memory —
    * bounded by document length, the same bound the tokenizer needs.
    */
  val q116UnkMask: QueryDef = QueryDef.sql(
    "q116_unk_mask",
    """WITH t AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS token,
      |    unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
      |  FROM documents),
      |v AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
      |m AS (SELECT max(cnt) AS mx FROM v),
      |r AS (SELECT token, cnt * 20 < (SELECT mx FROM m) AS rare FROM v)
      |SELECT doc_id,
      |  CAST(count(CASE WHEN rare THEN 1 END) AS BIGINT) AS n_masked,
      |  string_agg(CASE WHEN rare THEN '<unk>' ELSE token END, ' ' ORDER BY pos)
      |    AS masked_text
      |FROM t JOIN r USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val toks = docs(spark, dir).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val mx = vocab.agg(max("cnt").as("mx"))
    val rare = vocab.crossJoin(broadcast(mx))
      .select(col("token"), (col("cnt") * 20 < col("mx")).as("rare"))
    toks.join(rare, "token")
      .withColumn("tok2", when(col("rare"), lit("<unk>")).otherwise(col("token")))
      .groupBy("doc_id")
      .agg(count(when(col("rare"), 1)).as("n_masked"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok2")))),
          x => x.getField("tok2"))).as("masked_text"))
      .orderBy("doc_id")
  }

  /** Split-distribution DRIFT check — after q87's hash split, verify
    * that train and val actually have the same length profile (a
    * skewed split silently biases every eval). Per log2-length bucket:
    * both splits' counts plus the exact-integer total-variation
    * contribution `|n_t·1e6 div N_t − n_v·1e6 div N_v|` ppm; the
    * TVD itself is Σ/2, left to the reader row set so everything the
    * oracle hashes is integer. One tokenize-free pass (length from
    * n_chars), one hash aggregate, one 1-row totals broadcast.
    */
  val q143SplitDrift: QueryDef = QueryDef.sql(
    "q143_split_drift",
    s"""WITH b AS (SELECT doc_id, n_chars,
       |    ${graft.functions.TextHash.duckMd5Bucket("doc_id", 100L)} AS bucket
       |  FROM documents),
       |s AS (SELECT length(printf('%b', greatest(n_chars, 1))) - 1 AS log2_bucket,
       |    CASE WHEN bucket < 80 THEN 'train'
       |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM b),
       |c AS (SELECT log2_bucket,
       |    count(CASE WHEN split = 'train' THEN 1 END) AS n_train,
       |    count(CASE WHEN split = 'val' THEN 1 END) AS n_val
       |  FROM s GROUP BY log2_bucket),
       |t AS (SELECT sum(n_train) AS nt, sum(n_val) AS nv FROM c)
       |SELECT CAST(log2_bucket AS BIGINT) AS log2_bucket,
       |  CAST(n_train AS BIGINT) AS n_train, CAST(n_val AS BIGINT) AS n_val,
       |  CAST(abs((n_train * 1000000) // t.nt - (n_val * 1000000) // t.nv) AS BIGINT) AS tv_ppm
       |FROM c, t ORDER BY log2_bucket""".stripMargin) { (spark, dir) =>
    val c = docs(spark, dir)
      .withColumn("bucket", graft.functions.TextHash.md5Bucket(col("doc_id"), 100L))
      .withColumn("split", when(col("bucket") < 80, "train")
        .when(col("bucket") < 90, "val").otherwise("test"))
      .withColumn("log2_bucket",
        (length(bin(greatest(col("n_chars"), lit(1L)))) - 1).cast("long"))
      .groupBy("log2_bucket")
      .agg(count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "val", 1)).as("n_val"))
    val t = c.agg(sum("n_train").as("nt"), sum("n_val").as("nv"))
    c.join(t)
      .selectExpr("log2_bucket", "n_train", "n_val",
        "CAST(abs((n_train * 1000000) div nt - (n_val * 1000000) div nv) AS BIGINT) AS tv_ppm")
      .orderBy("log2_bucket")
  }

  /** q216: contrastive negative-pair generation — for each document,
    * two DETERMINISTIC pseudo-random negatives drawn by md5 bucket
    * over the id domain (the derandomized counterpart of negative
    * sampling for contrastive training; same no-RNG policy as the
    * q75 sample and q213 bootstrap). A candidate landing on the
    * anchor itself is skipped rather than re-drawn — both engines
    * agree, and the per-anchor pair count is still ≥ 1 in practice.
    *
    * Scale shape: constant 2-way explode + one equi join back to the
    * id relation (validating existence without assuming density);
    * no shuffles beyond that join.
    */
  val q216NegativePairs: QueryDef = QueryDef.sql(
    "q216_negative_pairs",
    s"""WITH ids AS (SELECT doc_id FROM documents),
       |mx AS (SELECT max(doc_id) + 1 AS n FROM ids),
       |cand AS (SELECT i.doc_id, k,
       |    ${graft.functions.TextHash.duckBase32(
             "(i.doc_id::VARCHAR || '#' || k::VARCHAR)")} % mx.n AS neg_id
       |  FROM ids i, unnest(generate_series(0, 1)) AS t(k), mx)
       |SELECT c.doc_id, CAST(c.k AS BIGINT) AS k, c.neg_id
       |FROM cand c JOIN ids e ON e.doc_id = c.neg_id
       |WHERE c.neg_id <> c.doc_id
       |ORDER BY c.doc_id, c.k""".stripMargin) { (spark, dir) =>
    val ids = docs(spark, dir).select("doc_id")
    // coalesce: max over zero documents is NULL; any modulus serves
    // there, since no candidate row exists to take it
    val n = lit(ids.agg(coalesce(max("doc_id"), lit(0L))).head().getLong(0) + 1)
    val cand = ids
      .select(col("doc_id"), explode(array(lit(0L), lit(1L))).as("k"))
      .withColumn("neg_id", graft.functions.TextHash.base32Builtin(
        concat(col("doc_id").cast("string"), lit("#"), col("k").cast("string"))) % n)
      .filter(col("neg_id") =!= col("doc_id"))
    cand.join(ids.select(col("doc_id").as("neg_id")), Seq("neg_id"))
      .select("doc_id", "k", "neg_id")
      .orderBy("doc_id", "k")
  }

  /** q217: token-budget water-filling — split a training budget
    * (half the corpus tokens here) across sources as EVENLY as their
    * capacities allow: small sources are taken whole, the rest share
    * the remaining budget at one common fill level (the classic
    * max-min fair allocation, solved in closed form on the sorted
    * K-row capacity relation). A source is taken whole exactly when
    * `cap·(remaining sources) ≤ remaining budget` — the greedy
    * invariant, checked as a cross-multiplied integer predicate per
    * row; the shared level is one integer division of the leftover.
    *
    * Scale shape: one capacity aggregate (map-side combined), then
    * windows over the |sources|-row relation.
    */
  val q217MixtureWaterfill: QueryDef = QueryDef.sql(
    "q217_mixture_waterfill",
    """WITH cap AS (SELECT source, CAST(count(*) AS BIGINT) AS cap FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY source),
      |b AS (SELECT CAST(sum(cap) // 2 AS BIGINT) AS budget,
      |    CAST(count(*) AS BIGINT) AS k FROM cap),
      |o AS (SELECT cap.*, b.budget, b.k,
      |    row_number() OVER (ORDER BY cap.cap, cap.source) AS i,
      |    CAST(coalesce(sum(cap.cap) OVER (ORDER BY cap.cap, cap.source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pc
      |  FROM cap, b),
      |f AS (SELECT *, cap * (k - i + 1) <= budget - pc AS whole FROM o),
      |lvl AS (SELECT CAST((max(budget) - coalesce(sum(CASE WHEN whole THEN cap END), 0))
      |    // greatest(max(k) - count(CASE WHEN whole THEN 1 END), 1) AS BIGINT) AS level
      |  FROM f)
      |SELECT f.source, f.cap, f.whole,
      |  CASE WHEN f.whole THEN f.cap ELSE lvl.level END AS allocation
      |FROM f, lvl ORDER BY f.source""".stripMargin) { (spark, dir) =>
    val cap = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source").agg(count(lit(1)).as("cap"))
    val b = cap.agg(expr("sum(cap) div 2").as("budget"), count(lit(1)).as("k"))
    val ow = Window.orderBy("cap", "source")
    val f = cap.crossJoin(broadcast(b))
      .withColumn("i", row_number().over(ow).cast("long"))
      .withColumn("pc", coalesce(
        sum("cap").over(ow.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("whole", expr("cap * (k - i + 1) <= budget - pc"))
    val lvl = f.agg(expr(
      """CAST((max(budget) - coalesce(sum(CASE WHEN whole THEN cap END), 0L))
        | div greatest(max(k) - count(CASE WHEN whole THEN 1 END), 1L) AS BIGINT)"""
        .stripMargin).as("level"))
    f.crossJoin(broadcast(lvl))
      .select(col("source"), col("cap"), col("whole"),
        when(col("whole"), col("cap")).otherwise(col("level")).as("allocation"))
      .orderBy("source")
  }

  /** q218: snapshot diff — the added/removed/changed census between
    * two corpus versions by key + content hash (the incremental-
    * ingest audit every versioned lakehouse runs before promoting a
    * snapshot). The "v2" here is a deterministic simulated edit
    * (every 7th doc rewritten, every 13th dropped) so the operator
    * is self-contained on the fixed testdata; the comparison itself
    * — full outer join on the key, md5 content compare — is the real
    * primitive.
    *
    * Scale shape: one full-outer equi join on the key with 32-char
    * hashes projected (never the texts), one status projection.
    */
  val q218TableDiff: QueryDef = QueryDef.sql(
    "q218_table_diff",
    """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
      |v2 AS (SELECT doc_id, md5(text || CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END) AS h
      |  FROM documents WHERE doc_id % 13 <> 0)
      |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
      |  CASE WHEN v2.doc_id IS NULL THEN 'removed'
      |       WHEN v1.doc_id IS NULL THEN 'added'
      |       WHEN v1.h <> v2.h THEN 'changed' ELSE 'same' END AS status
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |WHERE v1.h IS DISTINCT FROM v2.h
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val d = docs(spark, dir)
    val v1 = d.select(col("doc_id"), md5(col("text")).as("h"))
    val v2 = d.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        md5(concat(col("text"),
          when(col("doc_id") % 7 === 0, " v2").otherwise(""))).as("h"))
    v1.join(v2.withColumnRenamed("h", "h2").withColumnRenamed("doc_id", "doc_id2"),
        col("doc_id") === col("doc_id2"), "full_outer")
      .select(coalesce(col("doc_id"), col("doc_id2")).as("doc_id"),
        when(col("doc_id2").isNull, "removed")
          .when(col("doc_id").isNull, "added")
          .when(col("h") =!= col("h2"), "changed").otherwise("same").as("status"),
        col("h"), col("h2"))
      .filter(!(col("h") <=> col("h2"))) // null-safe: keeps added/removed rows
      .select("doc_id", "status")
      .orderBy("doc_id")
  }

  /** q229: vocabulary coverage / OOV curve — for every frequency
    * threshold f: how many distinct tokens occur ≥ f times
    * (`vocab_size`) and what fraction of all token OCCURRENCES they
    * cover (`coverage_ppm`). Read top-down it answers "how big must
    * the vocab be for X% coverage"; the complement of coverage is
    * the OOV/UNK rate a truncated vocab pays (q116's mask is the
    * per-token application of exactly this curve).
    *
    * Scale shape: the corpus-sized work is ONE map-side-combined
    * token-count aggregate; that vocab relation immediately rolls up
    * to a FREQUENCY-OF-FREQUENCY histogram (one row per distinct
    * count value — thousands of rows for billions of tokens, since
    * distinct counts grow ~√(max count) under Zipf), and the
    * cumulative windows run over that bounded histogram only (the
    * q107/q188 policy; allow-listed in the global-window plan guard).
    */
  val q229OovCurve: QueryDef = QueryDef.sql(
    "q229_oov_curve",
    """WITH v AS (SELECT token, count(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token),
      |ff AS (SELECT c, count(*) AS n_tokens FROM v GROUP BY c),
      |cum AS (SELECT c, n_tokens,
      |    sum(n_tokens) OVER (ORDER BY c DESC) AS vocab_size,
      |    sum(c * n_tokens) OVER (ORDER BY c DESC) AS occ_cum,
      |    sum(c * n_tokens) OVER () AS tot
      |  FROM ff)
      |SELECT CAST(c AS BIGINT) AS freq, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(vocab_size AS BIGINT) AS vocab_size,
      |  CAST(occ_cum AS BIGINT) AS occ_cum,
      |  CAST(CAST(occ_cum AS HUGEINT) * 1000000 // CAST(tot AS BIGINT) AS BIGINT) AS coverage_ppm
      |FROM cum ORDER BY freq DESC""".stripMargin) { (spark, dir) =>
    oovCurveDf(docs(spark, dir)).orderBy(col("freq").desc)
  }

  /** The q229 coverage curve as a reusable corpus transform (also the
    * `Corpus.oovCurve` facade).
    */
  def oovCurveDf(corpus: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val vocab = corpus
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val ff = vocab.groupBy("c").agg(count(lit(1)).as("n_tokens"))
    // default (RANGE unbounded-preceding .. current) frames on both
    // engines; c is unique per row so RANGE == ROWS
    ff.withColumn("vocab_size", sum("n_tokens").over(Window.orderBy(col("c").desc)))
      .withColumn("occ_cum", sum(col("c") * col("n_tokens")).over(Window.orderBy(col("c").desc)))
      .withColumn("tot", sum(col("c") * col("n_tokens")).over(Window.partitionBy()))
      .select(col("c").as("freq"), col("n_tokens"), col("vocab_size"), col("occ_cum"),
        // DECIMAL(38) headroom: occ_cum counts every token occurrence
        expr("CAST(occ_cum AS DECIMAL(38,0)) * 1000000 div tot").as("coverage_ppm"))
  }

  /** [[shardAssign]] continuing from a prior corpus: the prefix sum
    * starts at `prevTokens` (a 1-row relation with column `pt` —
    * broadcast), so an APPENDED batch lands in exactly the shards the
    * full-corpus assignment would give it without touching the base.
    * Token-budget sharding is a prefix sum, and prefix sums compose:
    * `cum_full(d) = T_base + cum_delta(d)` for every delta doc.
    */
  private[operators] def shardAssignFrom(delta: DataFrame,
      prevTokens: DataFrame): DataFrame = {
    val toks = delta
      .withColumn("nw", size(split(col("text"), " ")).cast("long"))
      .withColumn("blk", expr(s"doc_id div $BlockDocs"))
    val blockOffsets = toks.groupBy("blk").agg(sum("nw").as("bt"))
      .withColumn("off", coalesce(
        sum(col("bt")).over(Window.orderBy("blk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("blk", "off")
    val inBlock = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(blockOffsets), "blk")
      .crossJoin(broadcast(prevTokens))
      .withColumn("cum", sum(col("nw")).over(inBlock) + col("off") + col("pt"))
      .withColumn("shard", expr(s"(cum - nw) div $TokenBudget"))
  }

  /** q243: INCREMENTAL manifest maintenance — q237's shard manifest
    * kept current under corpus APPEND in O(delta), the q142 pattern
    * applied to the manifest instead of the dedup index. The last
    * tenth of the corpus (doc_id ≥ ⌈9/10⌉ of max+1) plays the role of
    * a fresh ingest batch; the first nine tenths are the BASE whose
    * per-shard totals and per-(shard, source) counts stand in for the
    * PERSISTED manifest tables a production pipeline reuses every
    * batch. The delta path: tokenize the delta only, run the q81
    * two-phase prefix sum STARTING at the base's token total (prefix
    * sums compose, so every delta doc lands in exactly the shard the
    * from-scratch q237 assignment gives it — the boundary shard keeps
    * filling, later shards are new), then MERGE the two bounded
    * per-shard relations and re-derive n_sources/top_source/fill on
    * the merged |shards|×|sources| rows. The oracle is q237's
    * from-scratch SQL verbatim — incremental ≡ rebuild is the whole
    * correctness claim.
    *
    * Scale shape: the only corpus-sized work on the delta path is the
    * delta scan + its block-bounded prefix windows; base relations
    * enter as aggregates (|shards| and |shards|×|sources| rows). The
    * base scan here exists only because the fixture has no persisted
    * manifest to read — a production caller feeds
    * [[manifestMergeFrom]] its stored tables.
    */
  val q243ManifestDelta: QueryDef = QueryDef.sql(
    "q243_manifest_delta",
    s"""WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS nw FROM documents),
       |c AS (SELECT doc_id, source, nw, sum(nw) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
       |s AS (SELECT doc_id, source, nw, CAST((cum - nw) // $TokenBudget AS BIGINT) AS shard FROM c),
       |tot AS (SELECT shard, min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |    count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens,
       |    count(DISTINCT source) AS n_sources FROM s GROUP BY shard),
       |bs AS (SELECT shard, source, count(*) AS src_docs FROM s GROUP BY shard, source),
       |top AS (SELECT shard, source AS top_source, src_docs AS top_source_docs FROM
       |  (SELECT *, row_number() OVER (PARTITION BY shard
       |     ORDER BY src_docs DESC, source) AS rn FROM bs) WHERE rn = 1)
       |SELECT tot.shard, first_doc, last_doc, n_docs, n_tokens, n_sources,
       |  top_source, top_source_docs,
       |  round(n_tokens * 100.0 / $TokenBudget, 2) AS fill_pct
       |FROM tot JOIN top USING (shard) ORDER BY tot.shard""".stripMargin) { (spark, dir) =>
    val d = docs(spark, dir)
    // append boundary: last tenth of the id space is "today's batch"
    val cut = d.agg(((max("doc_id") + 1) * 9 / 10).as("cut"))
    val withCut = d.crossJoin(broadcast(cut))
    val base = withCut.filter(col("doc_id") < col("cut")).drop("cut")
    val delta = withCut.filter(col("doc_id") >= col("cut")).drop("cut")
    // the base's stored manifest tables (per-shard totals and
    // per-(shard, source) doc counts) — persisted in production,
    // derived once here
    // two consumers (totals + per-source counts): pin the narrow
    // projection so the base's prefix-sum chain runs once
    val baseAsg = shardAssign(base)
      .select("doc_id", "source", "nw", "shard")
      .scopedPersistEager()
    val baseTot = baseAsg.groupBy("shard").agg(
      min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
      count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"))
    val baseBySrc = baseAsg.groupBy("shard", "source").agg(count(lit(1)).as("src_docs"))
    manifestMergeFrom(baseTot, baseBySrc, delta).orderBy("shard")
  }

  /** The O(delta) manifest update as a reusable stage (also the
    * `Corpus.manifestDelta` facade): `baseTot` is the stored
    * per-shard manifest `(shard, first_doc, last_doc, n_docs,
    * n_tokens)`, `baseBySrc` the stored `(shard, source, src_docs)`
    * relation, `delta` the appended docs (all ids beyond the base).
    * Returns the full updated q237-shaped manifest.
    */
  /** The stored-table UPDATE step behind [[manifestMergeFrom]]:
    * returns the post-append `(per-shard totals, per-(shard, source)
    * counts)` — the two relations a production pipeline persists for
    * the NEXT batch. Exposing them (not just the derived manifest) is
    * what makes the O(delta) loop self-sustaining across generations:
    * batch k's outputs are batch k+1's `baseTot`/`baseBySrc`, and
    * prefix-sum composition guarantees the k-th incremental result
    * equals the from-scratch rebuild (CorpusApiSpec pins the
    * two-generation persisted round-trip).
    */
  def manifestTablesFrom(baseTot: DataFrame, baseBySrc: DataFrame,
      delta: DataFrame): (DataFrame, DataFrame) = {
    val prevTokens = baseTot.agg(coalesce(sum("n_tokens"), lit(0L)).as("pt"))
    // two consumers (totals + per-source counts): pin the narrow
    // projection so the delta's prefix-sum chain runs once
    val deltaAsg = shardAssignFrom(delta, prevTokens)
      .select("doc_id", "source", "nw", "shard")
      .scopedPersistEager()
    val deltaTot = deltaAsg.groupBy("shard").agg(
      min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
      count(lit(1)).as("n_docs"), sum("nw").as("n_tokens"))
    val tot = baseTot.unionAll(deltaTot)
      .groupBy("shard").agg(
        min("first_doc").as("first_doc"), max("last_doc").as("last_doc"),
        sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
    val bySrc = baseBySrc
      .unionAll(deltaAsg.groupBy("shard", "source").agg(count(lit(1)).as("src_docs")))
      .groupBy("shard", "source").agg(sum("src_docs").as("src_docs"))
    (tot, bySrc)
  }

  def manifestMergeFrom(baseTot: DataFrame, baseBySrc: DataFrame,
      delta: DataFrame): DataFrame = {
    val (tot, bySrc) = manifestTablesFrom(baseTot, baseBySrc, delta)
    val nSrc = bySrc.groupBy("shard").agg(count(lit(1)).as("n_sources"))
    val top = bySrc
      .withColumn("rn", row_number().over(Window.partitionBy("shard")
        .orderBy(col("src_docs").desc, col("source"))))
      .filter(col("rn") === 1)
      .select(col("shard"), col("source").as("top_source"),
        col("src_docs").as("top_source_docs"))
    tot.join(nSrc, "shard").join(top, "shard")
      .select(col("shard"), col("first_doc"), col("last_doc"), col("n_docs"),
        col("n_tokens"), col("n_sources"), col("top_source"),
        col("top_source_docs"),
        round(col("n_tokens") * 100.0 / TokenBudget, 2).as("fill_pct"))
  }

  val all: Seq[QueryDef] = Seq(q74VocabTopk, q75CorpusSample,
    q76RetentionPipeline, q77Contamination, q78MixtureReport, q81TokenShards,
    q82Repetition, q87SplitAssign, q88StratifiedSample, q116UnkMask,
    q121SequencePacking, q143SplitDrift, q216NegativePairs,
    q217MixtureWaterfill, q218TableDiff, q229OovCurve, q237ShardManifest,
    q243ManifestDelta)
}
