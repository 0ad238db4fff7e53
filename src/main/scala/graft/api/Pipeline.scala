package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed pretraining-corpus preparation pipeline — the library's
  * operators chained in the order a 100 TB run wants them:
  *
  *   1. quality + language keep-filter ([[TextAnalysis]]) — pure map-side,
  *      runs FIRST so every later shuffle sees only keepers;
  *   2. exact dedup — one shuffle KEYED by the 16-byte content
  *      fingerprint (the full row, text included, rides as shuffle
  *      payload — sampling hashes the raw text downstream), smallest id
  *      survives;
  *   3. OPTIONAL near-dedup ([[TextDedup.nearDupSurvivors]]) — n-gram
  *      Jaccard pair graph → star-contraction clusters → one canonical
  *      doc per cluster; a real pretraining prep run wants this, not
  *      just exact dedup;
  *   4. eval-set decontamination — anti-join on the same fingerprint,
  *      eval side broadcast (or Bloom bits via
  *      [[TextDedup.decontaminateBloom]] when it outgrows a broadcast);
  *   5. deterministic content-hash sampling ([[Sampling]]) — map-side,
  *      retry-stable.
  *
  * Total shuffle bill without near-dedup: ONE wide shuffle (the dedup
  * fingerprint hash) + a broadcast — the filter and sample stages are
  * map-side and fuse into the scans on either side of it. The near-dedup
  * stage adds the pair generation's single posting-list shuffle plus the
  * pair-graph-sized contraction rounds (never corpus-sized work beyond
  * that one shuffle).
  */
object Pipeline {

  /** Prepare a training corpus from `df`: rows marked `isEval` are held
    * out (and their fingerprints scrubbed from the result); the rest is
    * filtered, exact-deduped, optionally NEAR-deduped (`nearDedup` —
    * `shingleN`-gram Jaccard ≥ `jaccardThreshold` clusters, canonical =
    * cluster-minimum id, `maxShingleDf` = the stop-shingle skew guard),
    * decontaminated, and sampled. Returns the kept rows with
    * `pred_lang`, `n_tok`, `ttr`, `quality` attached. */
  def prepare(df: DataFrame, idCol: String, textCol: String, isEval: Column,
      minQuality: Double = 0.5, minTok: Int = 20, maxTok: Int = 80,
      samplePct: Int = 100, nearDedup: Boolean = false, shingleN: Int = 3,
      jaccardThreshold: Double = 0.5, maxShingleDf: Long = 10L): DataFrame = {
    val fp = unhex(TextDedup.fingerprint(col(textCol)))
    val evalFp = df.filter(isEval).select(fp.as("fp")).distinct()
    val filtered = TextAnalysis.languageId(
        TextAnalysis.qualityScore(df.filter(!isEval), textCol), textCol)
      .filter(col("pred_lang") =!= "und" && col("quality") >= minQuality &&
        col("n_tok").between(minTok, maxTok))
    // survivor = smallest id per fingerprint, selected with a window min
    // (one shuffle, keeps the whole row — no join-back needed)
    val survivors = filtered
      .withColumn("fp", fp)
      .withColumn("__keep", min(col(idCol)).over(Window.partitionBy("fp")))
      .filter(col(idCol) === col("__keep"))
      .drop("__keep")
    def clean(d: DataFrame): DataFrame = d
      .join(broadcast(evalFp), Seq("fp"), "left_anti")
      .drop("fp")
    if (!nearDedup) Sampling.sample(clean(survivors), textCol, samplePct)
    else {
      // nearDupSurvivors consumes its input twice (pair generation +
      // survivor anti-join), and `survivors` here is the expensive
      // subtree — HOF quality/language scoring plus the corpus-wide
      // fingerprint window shuffle. Materialize it once rather than
      // re-executing that per consumer (the r2 lesson: checkpoint
      // multiply-consumed AGGREGATION subtrees; plain scans don't
      // qualify, this does). Construction is eager regardless: the
      // clustering rounds run jobs while the plan is being built — so
      // finish the remaining (map-side) stages, checkpoint the RESULT,
      // and release every intermediate block this call pinned (the
      // input snapshot, the contraction's final round) before
      // returning. The ONLY persistent blocks left are the returned
      // frame's own; [[release]] frees those when the caller is done.
      // Ckpt.tracking scopes the sweep to the checkpoint ids THIS call
      // creates (snap + the contraction rounds + the result): unlike a
      // getPersistentRDDs before/after diff, a frame persisted
      // CONCURRENTLY by another thread on the shared SparkContext can
      // never be swept — for a localCheckpoint'd frame that loss would
      // be unrecoverable (lineage truncated).
      val sc = df.sparkSession.sparkContext
      val (out, created) = Ckpt.tracking {
        // EAGER deliberately (r14 measured the lazy form at 3.7 → 5.4 s
        // with rep times RISING within the run): snap's consumers span
        // several separately-scheduled jobs (posting build, contraction
        // rounds, anti-join, final sample), and fusing the corpus-sized
        // materialization into the first of them slowed every rep
        val snap = Ckpt(survivors)
        val near = TextDedup.nearDupSurvivors(snap, idCol, textCol,
          n = shingleN, threshold = jaccardThreshold, maxShingleDf = maxShingleDf)
        Ckpt(Sampling.sample(clean(near), textCol, samplePct))
      }
      val keep = Ckpt.rddId(out).toSet
      created.diff(keep).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      out
    }
  }

  /** Pipeline OBSERVABILITY: per-stage in/out/dropped counts for the
    * [[prepare]] stage chain (keep-filter → exact dedup → decontaminate
    * → sample) — the accounting view a corpus-prep run publishes so a
    * surprising final count can be blamed on the right stage. Computed
    * WITHOUT running the pipeline four times: every doc gets one
    * cumulative survival flag per stage in a single pass (the dedup
    * flag is a window-min among filter-survivors, decontamination a
    * broadcast flag join), then ONE aggregate row unpivots via `stack`
    * — the same corpus scan + fingerprint shuffle + eval broadcast bill
    * as [[prepare]] itself. Returns (stage_no, stage, n_in, n_out,
    * n_dropped), stage-ordered. */
  def stageReport(df: DataFrame, idCol: String, textCol: String, isEval: Column,
      minQuality: Double = 0.5, minTok: Int = 20, maxTok: Int = 80,
      samplePct: Int = 100): DataFrame = {
    val fp = unhex(TextDedup.fingerprint(col(textCol)))
    val evalFp = df.filter(isEval).select(fp.as("fp")).distinct()
    val flagged = TextAnalysis.languageId(
        TextAnalysis.qualityScore(df.filter(!isEval), textCol), textCol)
      .withColumn("__f1", col("pred_lang") =!= "und" && col("quality") >= minQuality &&
        col("n_tok").between(minTok, maxTok))
      .withColumn("fp", fp)
      // dedup runs AFTER the filter: the fingerprint's keeper is the
      // min id among FILTER SURVIVORS of that fingerprint (min skips
      // the nulls the when() leaves for filtered-out rows)
      .withColumn("__keep_id",
        min(when(col("__f1"), col(idCol))).over(Window.partitionBy("fp")))
      .withColumn("__f2", col("__f1") && col(idCol) === col("__keep_id"))
      .join(broadcast(evalFp.withColumn("__ev", lit(1))), Seq("fp"), "left")
      .withColumn("__f3", col("__f2") && col("__ev").isNull)
      .withColumn("__f4", col("__f3") && Sampling.hashBucket(col(textCol)) < samplePct)
    flagged
      .agg(count(lit(1)).as("n0"),
        sum(when(col("__f1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("__f2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("__f3"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("__f4"), 1L).otherwise(0L)).as("n4"))
      .select(expr(
        """stack(4,
             1L, 'keep_filter',   n0, n1,
             2L, 'exact_dedup',   n1, n2,
             3L, 'decontaminate', n2, n3,
             4L, 'sample',        n3, n4) AS (stage_no, stage, n_in, n_out)"""))
      .withColumn("n_dropped", col("n_in") - col("n_out"))
      .orderBy("stage_no")
  }

  /** Free the materialized blocks backing a frame returned by
    * `prepare(nearDedup = true)` once the caller is done with it. A
    * no-op on any other frame. */
  def release(df: DataFrame): Unit = Ckpt.drop(df)

  /** The corpus-prep pipeline AT INGEST — the streaming form of
    * [[prepare]] for a continuously-arriving corpus (e.g. the `arrivals`
    * source feeding document loads): quality + language keep-filter
    * (map-side, streams untouched) → exact dedup via
    * `dropDuplicatesWithinWatermark` on the content fingerprint (state
    * store bounded by the watermark — the streaming analog of the batch
    * window-min, keeping the FIRST arrival per fingerprint instead of
    * the min id) → eval decontamination as a stream-static broadcast
    * anti-join on the same fingerprint → deterministic content-hash
    * sample. Every stage is append-mode compatible.
    *
    * `evalFp` is a STATIC frame of raw 16-byte eval fingerprints
    * (column `fp` — build with `unhex(TextDedup.fingerprint(text))`);
    * `tsCol` must be a timestamp column, watermarked here with
    * `dedupWatermark` delay. A fingerprint recurring AFTER its state
    * expired is treated as new (the standard windowed-dedup trade-off,
    * same as [[graft.streaming.StatefulOps.streamingDedup]]'s TTL). */
  def prepareStream(df: DataFrame, idCol: String, textCol: String, tsCol: String,
      evalFp: DataFrame, minQuality: Double = 0.5, minTok: Int = 20,
      maxTok: Int = 80, samplePct: Int = 100,
      dedupWatermark: String = "10 minutes"): DataFrame = {
    val filtered = TextAnalysis.languageId(
        TextAnalysis.qualityScore(df, textCol), textCol)
      .filter(col("pred_lang") =!= "und" && col("quality") >= minQuality &&
        col("n_tok").between(minTok, maxTok))
    val deduped = filtered
      .withColumn("fp", unhex(TextDedup.fingerprint(col(textCol))))
      .withWatermark(tsCol, dedupWatermark)
      .dropDuplicatesWithinWatermark("fp")
    val clean = deduped
      .join(broadcast(evalFp), Seq("fp"), "left_anti")
      .drop("fp")
    Sampling.sample(clean, textCol, samplePct)
  }

  /** [[prepareStream]] WITH the near-dedup stage — the streaming mirror
    * of `prepare(nearDedup = true)`. Returns TWO streams off the same
    * input (run each as its own query; they share no state):
    *
    *   - `_1` the KEPT stream: filter → exact dedup → decontaminate →
    *     sample, exactly [[prepareStream]];
    *   - `_2` the near-dup MATCH stream over the same
    *     filtered/deduped/decontaminated docs:
    *     [[graft.streaming.StatefulOps.bandRows]] →
    *     [[graft.streaming.StatefulOps.streamingNearDedup]] — MinHash-LSH
    *     band state, flags each doc whose signature estimate clears
    *     `estThreshold` against ANY earlier doc (cross-batch).
    *
    * Decontamination runs BEFORE banding on the match branch (batch
    * `prepare` excludes eval rows from the corpus at stage 1, so an eval
    * doc must neither absorb nor flag a training doc here either).
    *
    * The drop decision completes OUTSIDE the stream: signature state
    * carries 32 longs per doc per band and never text, so exact-Jaccard
    * verification needs a batch view of the docs (the sink table the
    * kept stream feeds). Wire the match stream through
    * [[nearDupDropIds]] (foreachBatch or any batch view of the match
    * sink) and anti-join the kept sink against the verified ids — the
    * streaming analog of batch `nearDupSurvivors`' cluster contraction:
    * state keeps the FIRST arrival of each near-dup cluster (= the min
    * id on an in-order replay, the batch canonical), later arrivals are
    * flagged and verified-dropped. */
  def prepareStreamNearDedup(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, evalFp: DataFrame, minQuality: Double = 0.5,
      minTok: Int = 20, maxTok: Int = 80, samplePct: Int = 100,
      dedupWatermark: String = "10 minutes", shingleN: Int = 3,
      bands: Int = 8, estThreshold: Double = 0.5, maxBucketDocs: Int = 64,
      ttlMs: Long = 0L)
      : (DataFrame, org.apache.spark.sql.Dataset[graft.streaming.StatefulOps.BandMatch]) = {
    import graft.streaming.StatefulOps
    val filtered = TextAnalysis.languageId(
        TextAnalysis.qualityScore(df, textCol), textCol)
      .filter(col("pred_lang") =!= "und" && col("quality") >= minQuality &&
        col("n_tok").between(minTok, maxTok))
    def dedupedClean(): DataFrame = filtered
      .withColumn("fp", unhex(TextDedup.fingerprint(col(textCol))))
      .withWatermark(tsCol, dedupWatermark)
      .dropDuplicatesWithinWatermark("fp")
      .join(broadcast(evalFp), Seq("fp"), "left_anti")
      .drop("fp")
    val kept = Sampling.sample(dedupedClean(), textCol, samplePct)
    // fresh subtree for the second query: streaming queries must not
    // share plan nodes (each binds its own state store)
    val matches = StatefulOps.streamingNearDedup(
      StatefulOps.bandRows(
        dedupedClean().withColumn("__ts_ms", unix_millis(col(tsCol))),
        idCol, textCol, "__ts_ms", n = shingleN, bands = bands),
      threshold = estThreshold, maxBucketDocs = maxBucketDocs, ttlMs = ttlMs)
    (kept, matches)
  }

  /** The reconcile-and-decide step for [[prepareStreamNearDedup]]'s
    * match stream: exact-Jaccard-verify the signature flags against a
    * batch doc view ([[graft.streaming.StatefulOps.exactVerifyMatches]]
    * — kills estimate false positives, restoring batch precision 1.0)
    * and return the DISTINCT verified ids to drop. The flagged `id` is
    * always the LATER arrival (state holds earlier docs), so dropping
    * flagged ids keeps the first arrival — the batch canonical on an
    * in-order replay. Match-sized, never corpus-sized; anti-join the
    * kept sink against this frame for the final training set. */
  def nearDupDropIds(matches: DataFrame, docStore: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3,
      jaccardThreshold: Double = 0.5): DataFrame =
    graft.streaming.StatefulOps
      .exactVerifyMatches(matches, docStore, idCol, textCol,
        n = shingleN, threshold = jaccardThreshold)
      .select(col("id")).distinct()
}
