package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus-preparation manifest: the composite verdict a
  * training-data pipeline consumes, built ONLY from the already-verified
  * stage operators — quality filtering (txt6), benchmark decontamination
  * (cont1), exact+near dedup (dd8) and stratified temperature sampling
  * (smp1). Each stage's verdict is computed independently over the full
  * corpus (the audit-manifest view: which stage WOULD drop each
  * document), and `drop_stage` reports the first failing stage in
  * pipeline order. At 100 TB the manifest is four doc_id-keyed joins of
  * per-document verdicts — each upstream plan keeps its own verified
  * scale shape, and the join ships one boolean per stage, never text.
  */
object CorpusPipeline {

  /** The decontamination gate's default threshold — ONE constant for
    * corpusManifest, manifestUnordered, the pipe1 oracle, and (through
    * manifestUnordered's default) pipe2: a value restated per signature
    * would let pipe2 pack a DIFFERENT survivor set than pipe1 reports
    * while the memo silently caches both.
    */
  val defaultContamMax = 0.7

  /** The manifest is built once per (session, dir, threshold) and its
    * unordered form cached: pipe1 and pipe2 both consume it, and a
    * second build would re-run dd8's eager union-find stage plus every
    * upstream verdict chain for no new information. The cached rows are
    * per-document booleans + a token count — kilobytes at bench scale,
    * and at 100 TB exactly the materialized manifest a real pipeline
    * writes between stages instead of recomputing.
    *
    * Scope & bounds: the memo assumes the parquet under `dir` is
    * immutable for the process lifetime (the same contract as
    * Engine.table's schema cache — re-ingesting under the same path
    * requires a new process or an explicit unpersist). Entries are
    * LRU-capped at 8: the evicted DataFrame is unpersisted, so stopped
    * or rotated sessions cannot pin cached blocks indefinitely.
    */
  private val manifestMemoMax = 8
  private val manifestMemo =
    new java.util.LinkedHashMap[(SparkSession, String, Double), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, Double), DataFrame]): Boolean = {
        val evict = size() > manifestMemoMax
        if (evict) try e.getValue.unpersist() catch { case _: Throwable => }
        evict
      }
    }

  /** pipe1: one row per document — per-stage keep verdicts, the final
    * keep decision, and the first failing stage.
    *
    * `contamMax` gates on cont1's 3-gram overlap fraction. Short
    * n-grams give every document a background overlap (this corpus:
    * mean 0.38 — small shared vocabulary), so the default 0.7 targets
    * the verbatim/near-verbatim eval-leakage tail, which is what a
    * decontamination pass is for; a threshold below the background band
    * would silently discard most of the corpus.
    */
  def corpusManifest(s: SparkSession, dir: String, contamMax: Double = defaultContamMax): DataFrame =
    manifestUnordered(s, dir, contamMax).orderBy(col("doc_id"))

  /** In-flight build guards: buildManifest eagerly executes dd8's
    * iterative union-find Spark jobs, so it must run OUTSIDE the memo
    * lock — holding `manifestMemo.synchronized` across it serialized
    * every session (including pure cache hits for other keys) behind
    * one cache miss. Only same-key callers wait, on a per-key latch.
    */
  private val manifestInFlight =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Double),
      java.util.concurrent.CountDownLatch]()

  private def manifestUnordered(s: SparkSession, dir: String,
      contamMax: Double = defaultContamMax): DataFrame = {
    val key = (s, dir, contamMax)
    while (true) {
      manifestMemo.synchronized {
        // drop entries whose session has been stopped: they can never be
        // served again, their unpersist would throw (and be swallowed) at
        // LRU-eviction time, and a dead session + its cached DataFrames
        // should not stay strongly referenced occupying cap slots
        manifestMemo.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
        val hit = manifestMemo.get(key)
        if (hit != null) return hit
      }
      val latch = new java.util.concurrent.CountDownLatch(1)
      val prev = manifestInFlight.putIfAbsent(key, latch)
      if (prev == null) {
        // RE-CHECK the memo after winning the in-flight slot (r19
        // review): a thread that missed the memo before a completed
        // build removed its latch would otherwise rebuild — re-running
        // dd8's eager union-find jobs — and its put() displaced the
        // memoized entry without unpersisting it, pinning cached blocks
        // until the ContextCleaner happened to collect them.
        val already = manifestMemo.synchronized(Option(manifestMemo.get(key)))
        already match {
          case Some(m) =>
            manifestInFlight.remove(key)
            latch.countDown()
            return m
          case None => ()
        }
        try {
          val m = buildManifest(s, dir, contamMax).cache()
          manifestMemo.synchronized { manifestMemo.put(key, m) }
          return m
        } finally {
          manifestInFlight.remove(key)
          latch.countDown() // a failed build releases waiters to retry
        }
      } else prev.await() // same-key build in progress; loop re-checks
    }
    throw new IllegalStateException("unreachable")
  }

  private def buildManifest(s: SparkSession, dir: String, contamMax: Double): DataFrame = {
    // the quality stage is map-only with exactly one row per document,
    // so it IS the document spine — no separate documents scan needed;
    // its token count rides along so downstream packing (pipe2) never
    // re-reads the text column
    val q = TextAnalysis.docQualityFilter(s, dir)
      .select(col("doc_id"), col("keep").as("keep_quality"), col("n_tokens"))
    val c = TextAnalysis.benchmarkContamination(s, dir)
      .select(col("doc_id"), (col("contamination") <= contamMax).as("kd"))
    val d = Dedup.dedupKeepList(s, dir)
      .select(col("doc_id"), col("keep").as("keep_dedup"))
    val sm = TextAnalysis.stratifiedSample(s, dir)
      .select(col("doc_id"), lit(true).as("ks"))
    q
      // a doc too short to shingle has no contamination row -> clean
      .join(c, Seq("doc_id"), "left")
      .join(d, "doc_id")
      // smp1 emits only the kept rows -> absence means sampled out
      .join(sm, Seq("doc_id"), "left")
      .select(col("doc_id"), col("keep_quality"),
        coalesce(col("kd"), lit(true)).as("keep_decontam"),
        col("keep_dedup"),
        coalesce(col("ks"), lit(false)).as("keep_sample"),
        col("n_tokens"))
      .withColumn("final_keep",
        col("keep_quality") && col("keep_decontam") && col("keep_dedup") && col("keep_sample"))
      .withColumn("drop_stage",
        when(!col("keep_quality"), "quality")
          .when(!col("keep_decontam"), "decontamination")
          .when(!col("keep_dedup"), "dedup")
          .when(!col("keep_sample"), "sampling")
          .otherwise(lit(null)))
    // output order is applied by the caller, above the cache boundary
  }

  /** pipe1 oracle: each stage's published oracle text embedded verbatim
    * as a subquery (DuckDB scopes a nested WITH [RECURSIVE] to its
    * parenthesized subquery, so the stage CTE names cannot collide),
    * joined exactly as the Spark plan joins the stage outputs.
    */
  def corpusManifestSql(contamMax: Double = defaultContamMax): String =
    s"""WITH q AS (SELECT doc_id, keep AS keep_quality, n_tokens
       |           FROM (${TextAnalysis.docQualityFilterSql}) tq),
       |c AS (SELECT doc_id, (contamination <= $contamMax) AS keep_decontam
       |      FROM (${TextAnalysis.benchmarkContaminationSql}) tc),
       |d AS (SELECT doc_id, keep AS keep_dedup
       |      FROM (${Dedup.dedupKeepListSql}) td),
       |sm AS (SELECT doc_id, TRUE AS keep_sample
       |       FROM (${TextAnalysis.stratifiedSampleSql}) ts)
       |SELECT doc_id, keep_quality,
       |  COALESCE(keep_decontam, TRUE) AS keep_decontam, keep_dedup,
       |  COALESCE(sm.keep_sample, FALSE) AS keep_sample, n_tokens,
       |  (keep_quality AND COALESCE(keep_decontam, TRUE) AND keep_dedup
       |   AND COALESCE(sm.keep_sample, FALSE)) AS final_keep,
       |  CASE WHEN NOT keep_quality THEN 'quality'
       |       WHEN NOT COALESCE(keep_decontam, TRUE) THEN 'decontamination'
       |       WHEN NOT keep_dedup THEN 'dedup'
       |       WHEN NOT COALESCE(sm.keep_sample, FALSE) THEN 'sampling'
       |       ELSE NULL END AS drop_stage
       |FROM q
       |LEFT JOIN c USING (doc_id)
       |JOIN d USING (doc_id)
       |LEFT JOIN sm USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** pipe2: the training mix itself — pipe1's surviving documents
    * packed into fixed-token-budget sequences (the pack1 pass over the
    * kept slice only). This is the artifact a training run actually
    * reads: (doc, bin, offset) per language shard, deterministic on any
    * engine. The semi join is doc_id-keyed booleans; the packing window
    * stays partition-local per language shard, so composing the stages
    * adds no new scale hazard.
    */
  def trainingMix(s: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    // survivors carry their token counts from the manifest, so packing
    // touches the documents table only for the narrow lang column —
    // the text column is never read a second time. Consumes the cached
    // UNORDERED manifest: pipe1's output sort is useless to the packing
    // window, which partitions by lang itself.
    val kept = manifestUnordered(s, dir)
      .filter(col("final_keep"))
      .select(col("doc_id"), col("n_tokens"))
    TextAnalysis.packCounts(
      graft.Engine.table(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(kept, "doc_id"),
      budget)
  }

  def trainingMixSql(budget: Int = 512): String =
    TextAnalysis.packSqlOver(
      s"""  SELECT m.doc_id, d.lang, m.n_tokens
         |  FROM (${corpusManifestSql()}) m
         |  JOIN documents d USING (doc_id)
         |  WHERE m.final_keep""".stripMargin,
      budget)

  val ops: Seq[Op] = Seq(
    Op("pipe1_corpus_manifest", corpusManifest(_, _), corpusManifestSql()),
    Op("pipe2_training_mix", trainingMix(_, _), trainingMixSql()))
}
