package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming operators (`flatMapGroupsWithState`) — the
  * state-store surface the built-in windowed aggregations can't express.
  *
  * [[streamingDedup]] is the streaming form of exact dedup
  * (graft.api.TextDedup.exactSurvivors): documents arrive continuously,
  * each keyed by content fingerprint, and the pipeline must know — at
  * ingest time, across micro-batches — whether a document is the first
  * occurrence (keep) or a duplicate (drop), plus how much duplication
  * each fingerprint accumulates. One row is emitted per (fingerprint ×
  * micro-batch that saw it); state is one (firstId, seen) pair per
  * distinct fingerprint, partitioned by the state store across
  * executors, so memory scales with distinct keys per executor, not
  * stream length.
  *
  * State growth at 100 TB: distinct fingerprints are unbounded, so
  * production sets `ttl` — state carries an event-time timeout stamped
  * `maxEventTimeMs + ttlMs` and is dropped when the WATERMARK passes it
  * (requires `withWatermark` upstream); a fingerprint recurring after
  * expiry is treated as first-seen again (the standard windowed-dedup
  * trade-off, identical to `dropDuplicates` with watermark).
  *
  * TTL wiring note: the watermarked timestamp column must SURVIVE into
  * this operator's child plan — call `.withWatermark(...)` and then
  * `.as[FpDoc]` directly (extra columns are fine for a typed view); a
  * `select` that drops the watermark column fails analysis with
  * "Event-time timeout not supported without watermark".
  */
object StatefulOps {

  /** One incoming document: content fingerprint, document id, event-time
    * millis. */
  final case class FpDoc(fp: String, id: Long, tsMs: Long)

  /** Per-fingerprint state: canonical (first-seen) id, total docs seen,
    * and the max event time observed (the TTL anchor — a running max so
    * an out-of-order batch can never move the expiry backwards).
    *
    * NOTE on evolution: the state-store schema is this case class's
    * encoder — adding/removing fields breaks restart from checkpoints
    * written by the previous shape (Spark validates state schema
    * compatibility). Version any future change (new state type + a
    * migration read), don't edit this class in place. */
  final case class FpState(firstId: Long, seen: Long, maxTsMs: Long)

  /** One output row per (fingerprint, micro-batch): the canonical id,
    * whether this batch saw the FIRST occurrence, how many rows this
    * batch contributed, and the running total. */
  final case class FpUpdate(fp: String, canonical_id: Long, is_new: Boolean,
      batch_docs: Long, total_docs: Long)

  /** One (document × LSH band) row for streaming NEAR-dup: band bucket
    * key, doc id, full 32-long MinHash signature, event-time millis.
    * Produced by [[bandRows]]. */
  final case class BandDoc(band: Long, id: Long, sig: Seq[Long], tsMs: Long)

  /** A doc retained in a band bucket's state: id + signature. */
  final case class NearDoc(id: Long, sig: Seq[Long])

  /** Per-bucket state: the first `maxBucketDocs` docs that landed in the
    * bucket (earliest-first keeps canonical-priority: later near-dups
    * match the EARLIEST representative), plus the TTL anchor. */
  final case class BandState(docs: Seq[NearDoc], maxTsMs: Long)

  /** One emitted candidate match: doc `id` in `band` estimated
    * near-duplicate of the earlier `matched_id` (est_jaccard = matching
    * MinHash components / 32 — the standard unbiased Jaccard estimate).
    * A doc with NO row across its bands is unique-so-far; per-doc
    * reduction (best match over bands) is one `groupBy(id)` in the
    * caller's `foreachBatch`. */
  final case class BandMatch(band: Long, id: Long, matched_id: Long, est_jaccard: Double)

  /** Prepare [[BandDoc]] rows from an (id, text, tsMs) stream: per-ROW
    * shingle array → native `graft_minhash` signature → one row per LSH
    * band with the same xxhash64 band key the batch operator uses
    * (graft.api.TextDedup.minhashPairs) — no explode+groupBy, so it
    * stays a map-side streaming transform. `carryCols` keeps extra
    * columns (e.g. the watermarked timestamp, required for TTL) in the
    * underlying plan of the typed view. */
  def bandRows(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      tsMsCol: String, n: Int = 3, bands: Int = 8,
      carryCols: Seq[String] = Nil): Dataset[BandDoc] = {
    require(32 % bands == 0, "bands must divide 32")
    val rows = 32 / bands
    graft.functions.VectorExprs.register(df.sparkSession)
    import org.apache.spark.sql.functions._
    // THE shared shingle definition (TextDedup.shingleArraySql) keeps
    // streaming signatures comparable with batch minhashPairs'. Docs
    // with no shingles (< n tokens) are dropped HERE: their signature
    // would be the degenerate all-MaxValue vector, making every
    // too-short doc a 1.0-estimate "near-dup" of every other and
    // wasting hot-bucket cap on them (batch minhashPairs rejects such
    // pairs in its exact-Jaccard verify; streaming has no verify step).
    df.withColumn("__t", split(col(textCol), " "))
      .filter(size(col("__t")) >= n)
      .withColumn("sig", expr(
        s"graft_minhash(array_distinct(${graft.api.TextDedup.shingleArraySql("__t", n)}))"))
      .select(Seq(col(idCol).as("id"), col("sig"), col(tsMsCol).cast("long").as("tsMs"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("__band_id")) ++
        carryCols.map(col): _*)
      .withColumn("band", expr(
        s"""xxhash64(concat_ws(',', cast(__band_id AS STRING),
             ${(0 until rows).map(r => s"cast(sig[__band_id*$rows+$r] AS STRING)").mkString(", ")}))"""))
      .drop("__band_id")
      .as[BandDoc](Encoders.product[BandDoc])
  }

  /** Streaming MinHash-LSH near-dup detection with cross-batch state —
    * the streaming form of `TextDedup.minhashPairs`: documents arrive
    * continuously and the pipeline learns AT INGEST whether a doc is a
    * likely near-duplicate of anything seen before (same micro-batch
    * included), without ever joining against the accumulated corpus.
    *
    * State is per BAND BUCKET (docs that agree on one band of the
    * signature), holding at most `maxBucketDocs` earliest docs — the cap
    * bounds a hot bucket exactly like the batch operator's skew guard
    * bounds a hot shingle, trading recall on pathological buckets for
    * bounded state (documented, deliberate). Candidates are scored with
    * the signature-estimate (matching components / 32) rather than exact
    * shingle Jaccard so state carries 32 longs per doc per band, never
    * text. `ttlMs > 0` expires idle buckets via event-time timeout
    * (same watermark wiring as [[streamingDedup]]).
    *
    * Emits the best match per (doc, band) with est ≥ threshold; batch
    * docs are processed in (tsMs, id) order so output is deterministic
    * for a given batch slicing. */
  def streamingNearDedup(rows: Dataset[BandDoc], threshold: Double = 0.5,
      maxBucketDocs: Int = 64, ttlMs: Long = 0L): Dataset[BandMatch] = {
    implicit val stateEnc = Encoders.product[BandState]
    implicit val outEnc = Encoders.product[BandMatch]
    implicit val keyEnc = Encoders.scalaLong
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (band: Long, it: Iterator[BandDoc], state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toVector.sortBy(d => (d.tsMs, d.id))
            val prev = state.getOption
            var docs = prev.map(_.docs.toVector).getOrElse(Vector.empty)
            val out = Vector.newBuilder[BandMatch]
            batch.foreach { d =>
              var bestEst = -1.0
              var bestId = Long.MaxValue
              docs.foreach { nd =>
                if (nd.id != d.id) {
                  var m = 0; var i = 0
                  val len = math.min(nd.sig.length, d.sig.length)
                  while (i < len) { if (nd.sig(i) == d.sig(i)) m += 1; i += 1 }
                  val est = m.toDouble / math.max(1, d.sig.length)
                  if (est >= threshold &&
                      (est > bestEst || (est == bestEst && nd.id < bestId))) {
                    bestEst = est; bestId = nd.id
                  }
                }
              }
              if (bestEst >= 0) out += BandMatch(band, d.id, bestId, bestEst)
              if (docs.size < maxBucketDocs && !docs.exists(_.id == d.id))
                docs :+= NearDoc(d.id, d.sig)
            }
            val maxTs = math.max(prev.map(_.maxTsMs).getOrElse(Long.MinValue),
              batch.map(_.tsMs).max)
            state.update(BandState(docs, maxTs))
            if (ttlMs > 0) state.setTimeoutTimestamp(maxTs + ttlMs)
            out.result().iterator
          }
      }
  }

  /** Exact-Jaccard RECONCILE for [[streamingNearDedup]]'s emitted
    * matches — the `foreachBatch` step that restores batch
    * `minhashPairs` precision (1.0) on the streaming path. The streaming
    * operator scores candidates with the signature estimate only (state
    * carries 32 longs per doc, never text), so its output can contain
    * estimate false positives; this joins each emitted (id, matched_id)
    * pair back to the documents' text, rebuilds the SAME distinct
    * n-gram shingle sets batch verification uses
    * (graft.api.TextDedup.shingleArraySql), and keeps only pairs whose
    * EXACT Jaccard clears `threshold`.
    *
    * Usage shape (docs = any batch view of the corpus able to resolve
    * the flagged ids — a Delta/parquet table the sink also feeds, or
    * the micro-batch unioned with it):
    * {{{
    * matches.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
    *   StatefulOps.exactVerifyMatches(batch, docs, "doc_id", "text")
    *     .write.mode("append")...
    * }
    * }}}
    * Cost: the pair list is match-sized (not corpus-sized); the two
    * joins against `docs` are id equi-joins, and only matched ids' text
    * is ever shuffled. Returns (id, matched_id, jaccard). */
  def exactVerifyMatches(matches: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val pairs = matches.select(col("id"), col("matched_id")).distinct()
    // docs may legitimately contain an id twice (the documented usage
    // unions the micro-batch with the sink table it also feeds) — without
    // this dedup the two inner joins would emit up to 4 copies per
    // verified pair
    val sh = docs.dropDuplicates(Seq(idCol))
      .select(col(idCol).cast("long").as("__vid"),
        split(col(textCol), " ").as("__t"))
      .select(col("__vid"), expr(
        s"array_distinct(${graft.api.TextDedup.shingleArraySql("__t", n)})").as("__shs"))
    pairs
      .join(sh.select(col("__vid").as("id"), col("__shs").as("__sa")), "id")
      .join(sh.select(col("__vid").as("matched_id"), col("__shs").as("__sb")), "matched_id")
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard",
        col("__i") / (size(col("__sa")) + size(col("__sb")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id"), col("matched_id"), col("jaccard"))
  }

  /** One incoming metric point for [[streamingZscore]]. */
  final case class ValRow(key: Long, id: Long, tsMs: Long, value: Double)

  /** One flagged/scored point: z against the key's trailing window. */
  final case class ZScore(key: Long, id: Long, tsMs: Long, value: Double, z: Double)

  /** A double as the batch operators' decimal(30,10) cast rounds it
    * (scale 10, HALF_UP) — the rounding the streaming operators replay
    * to match their batch forms bit for bit. */
  private def dec(v: Double): BigDecimal =
    BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP)

  /** One windowed-EWMA step over a ring — the batch `TimeSeries.ewma`
    * formula: each term v·(1−α)^age rounded by [[dec]], the exact sum
    * over the closed-form weight total. */
  private def ewmaStep(ring: Vector[Double], alpha: Double): Double = {
    val beta = 1.0 - alpha
    val m = ring.size
    val num = ring.iterator.zipWithIndex
      .map { case (v, j) => dec(v * math.pow(beta, (m - 1 - j).toDouble)) }
      .sum
    val den = (1.0 - math.pow(beta, m.toDouble)) / alpha
    num.toDouble / den
  }

  /** Streaming rolling z-score — the at-ingest form of
    * `TimeSeries.rollingZscore`: each point scores against its key's
    * trailing `windowRows` values, cross-batch, with state = ONE ring
    * of `windowRows` doubles per key (bounded by construction — no TTL
    * needed for the state SIZE; idle keys pin one ring each, the same
    * trade-off as any keyed state).
    *
    * Arrival-order contract: within a micro-batch rows sort by (tsMs,
    * id) — identical to the batch operator's window order — but state
    * cannot re-order ACROSS batches (an out-of-order row scores against
    * the ring as it stands; the batch form would have slotted it
    * earlier). Replaying a key's rows in order reproduces the batch
    * operator's scores EXACTLY: the moments replicate the batch decimal
    * discipline (each value/value² rounded to scale-10 HALF_UP before
    * the exact sum — the same rounding Catalyst's decimal(30,10) cast
    * applies), and the double tree matches term for term. Warmup rows
    * (ring not yet full) emit nothing, like the batch form. */
  def streamingZscore(rows: Dataset[ValRow], windowRows: Int): Dataset[ZScore] = {
    require(windowRows >= 2, s"windowRows must be ≥2, got $windowRows")
    implicit val stateEnc = Encoders.kryo[Vector[Double]]
    implicit val outEnc = Encoders.product[ZScore]
    implicit val keyEnc = Encoders.scalaLong
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[ValRow], state: GroupState[Vector[Double]]) =>
          var ring = state.getOption.getOrElse(Vector.empty[Double])
          val out = it.toVector.sortBy(r => (r.tsMs, r.id)).flatMap { r =>
            ring = (ring :+ r.value).takeRight(windowRows)
            if (ring.size < windowRows) None
            else {
              val n = windowRows.toLong
              val s1 = ring.iterator.map(dec).sum.toDouble
              val s2 = ring.iterator.map(v => dec(v * v)).sum.toDouble
              val mean = s1 / n
              val variance = (s2 - n * mean * mean) / (n - 1)
              val z = if (variance > 0) (r.value - mean) / math.sqrt(variance) else 0.0
              Some(ZScore(key, r.id, r.tsMs, r.value, z))
            }
          }
          state.update(ring)
          out.iterator
      }
  }

  /** One smoothed point from [[streamingEwma]]. */
  final case class EwmaRow(key: Long, id: Long, tsMs: Long, value: Double,
      winM: Long, ewma: Double)

  /** Streaming trailing-window EWMA — the at-ingest form of
    * `TimeSeries.ewma`, same state shape as [[streamingZscore]]: one
    * ring of `windowRows` doubles per key, cross-batch. Every point
    * emits (warmup included — `winM` < windowRows mirrors the batch
    * `win_m` column). Replaying a key's rows in order reproduces the
    * batch operator's doubles EXACTLY: each term v·(1−α)^age is the
    * identical IEEE multiply (dyadic α keeps the weight exact), terms
    * sum through the same scale-10 HALF_UP decimals the batch cast
    * applies, and the closed-form weight total and final division match
    * term for term. Same arrival-order contract as streamingZscore:
    * in-batch rows sort by (tsMs, id); state cannot re-order across
    * batches. */
  def streamingEwma(rows: Dataset[ValRow], windowRows: Int,
      alpha: Double = 0.5): Dataset[EwmaRow] = {
    require(windowRows >= 1, s"windowRows must be ≥1, got $windowRows")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    implicit val stateEnc = Encoders.kryo[Vector[Double]]
    implicit val outEnc = Encoders.product[EwmaRow]
    implicit val keyEnc = Encoders.scalaLong
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[ValRow], state: GroupState[Vector[Double]]) =>
          var ring = state.getOption.getOrElse(Vector.empty[Double])
          val out = it.toVector.sortBy(r => (r.tsMs, r.id)).map { r =>
            ring = (ring :+ r.value).takeRight(windowRows)
            EwmaRow(key, r.id, r.tsMs, r.value, ring.size.toLong, ewmaStep(ring, alpha))
          }
          state.update(ring)
          out.iterator
      }
  }

  /** One level/trend/forecast point from [[streamingHolt]]. */
  final case class HoltRow(key: Long, id: Long, tsMs: Long, value: Double,
      level: Double, trend: Double, forecast: Double)

  /** Streaming Brown double exponential smoothing — the at-ingest form
    * of `TimeSeries.holtBrown`: each point emits level / trend /
    * one-step forecast against its key's trailing `windowRows` window,
    * cross-batch. State = TWO rings per key (raw values and the
    * first-stage smooth S′), both capped at `windowRows` — bounded by
    * construction, the [[streamingEwma]] trade-off. Replaying a key's
    * rows in order reproduces the batch operator's doubles EXACTLY:
    * stage 1 is term-for-term the streamingEwma computation, the S′
    * ring then feeds the identical computation a second time (the batch
    * plan's second window pass over the s_prime column), and
    * level/trend/forecast replay the same fixed expressions. Same
    * arrival-order contract as streamingZscore: in-batch rows sort by
    * (tsMs, id); state cannot re-order across batches. */
  def streamingHolt(rows: Dataset[ValRow], windowRows: Int,
      alpha: Double = 0.5): Dataset[HoltRow] = {
    require(windowRows >= 1, s"windowRows must be ≥1, got $windowRows")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    implicit val stateEnc = Encoders.kryo[(Vector[Double], Vector[Double])]
    implicit val outEnc = Encoders.product[HoltRow]
    implicit val keyEnc = Encoders.scalaLong
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[ValRow],
            state: GroupState[(Vector[Double], Vector[Double])]) =>
          var (vRing, spRing) =
            state.getOption.getOrElse((Vector.empty[Double], Vector.empty[Double]))
          val out = it.toVector.sortBy(r => (r.tsMs, r.id)).map { r =>
            vRing = (vRing :+ r.value).takeRight(windowRows)
            val sp = ewmaStep(vRing, alpha)
            spRing = (spRing :+ sp).takeRight(windowRows)
            val sdp = ewmaStep(spRing, alpha)
            val level = 2.0 * sp - sdp
            val trend = (alpha / (1.0 - alpha)) * (sp - sdp)
            HoltRow(key, r.id, r.tsMs, r.value, level, trend, level + trend)
          }
          state.update((vRing, spRing))
          out.iterator
      }
  }

  /** Streaming exact-dedup with per-key state. `ttlMs > 0` expires idle
    * state once the watermark passes last-event-time + ttl. */
  def streamingDedup(docs: Dataset[FpDoc], ttlMs: Long = 0L): Dataset[FpUpdate] = {
    implicit val stateEnc = Encoders.product[FpState]
    implicit val outEnc = Encoders.product[FpUpdate]
    implicit val keyEnc = Encoders.STRING
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (fp: String, rows: Iterator[FpDoc], state: GroupState[FpState]) =>
          if (state.hasTimedOut) {
            // watermark passed last-event-time + ttl: drop the key's state
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toVector
            val prev = state.getOption
            // deterministic canonical pick within the first batch: min id
            val first = prev.map(_.firstId).getOrElse(batch.map(_.id).min)
            val total = prev.map(_.seen).getOrElse(0L) + batch.size
            // running max across batches: an out-of-order (but not late)
            // row must never pull the TTL deadline backwards
            val maxTs = math.max(prev.map(_.maxTsMs).getOrElse(Long.MinValue),
              batch.map(_.tsMs).max)
            state.update(FpState(first, total, maxTs))
            if (ttlMs > 0) state.setTimeoutTimestamp(maxTs + ttlMs)
            Iterator.single(FpUpdate(fp, first, prev.isEmpty, batch.size.toLong, total))
          }
      }
  }

  /** One term occurrence, pre-assigned to its tumbling window (key =
    * window start): `windowStartMs = tsMs - tsMs mod windowMs`. */
  final case class TermRow(windowStartMs: Long, term: String, tsMs: Long)

  /** Persisted per-window sketch: space-saving counters (≤ capacity).
    * No event-time field — the emission deadline is the window END
    * (derived from the group key), never the data. */
  final case class HHState(terms: Seq[String], counts: Seq[Long],
    errs: Seq[Long])

  /** One final heavy hitter for a closed window. `est_count`
    * overestimates the true count by ≤ `max_err` (the space-saving
    * guarantee — exact when the window saw ≤ capacity distinct terms,
    * then max_err = 0). */
  final case class HeavyHitter(window_start_ms: Long, term: String,
    est_count: Long, max_err: Long)

  /** Streaming windowed heavy hitters — the at-ingest form of
    * `Sketches.heavyHitters` (same space-saving update and eviction
    * rule, SHARED via `Sketches.SpaceSaving`): the top-k most frequent
    * terms per tumbling window, with state CAPPED at `capacity`
    * counters per window no matter how many distinct terms the stream
    * carries. The built-in `groupBy(window, term).count` alternative
    * keeps state ∝ distinct (window, term) pairs — unbounded on
    * high-cardinality streams; this is the bounded-memory replacement
    * when only the head of the distribution matters.
    *
    * Results emit ONCE per window, in the first micro-batch after the
    * watermark passes the window end — via event-time timeout (stamped
    * at windowStart + windowMs; requires `withWatermark` upstream like
    * [[streamingDedup]]'s TTL), or directly from the data branch when a
    * late row races the timeout into the same batch (the finals fire,
    * the late row is NOT absorbed). Late rows after the finals are
    * dropped — a closed window never re-opens; append-mode-clean, no
    * retractions. Within a micro-batch, rows apply in (tsMs, term)
    * order, so replay is deterministic; like the batch aggregator,
    * counts from different ARRIVAL interleavings may differ within the
    * documented error bound (the sketch trade-off, not a bug). */
  def streamingHeavyHitters(rows: Dataset[TermRow], windowMs: Long,
      k: Int = 10, capacity: Int = 64): Dataset[HeavyHitter] = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    require(k >= 1 && capacity >= k, s"need 1 ≤ k ≤ capacity, got k=$k capacity=$capacity")
    implicit val stateEnc = Encoders.product[HHState]
    implicit val outEnc = Encoders.product[HeavyHitter]
    implicit val keyEnc = Encoders.scalaLong
    val sketch = new graft.api.Sketches.SpaceSaving(capacity)
    rows.groupByKey(_.windowStartMs)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (ws: Long, it: Iterator[TermRow], state: GroupState[HHState]) =>
          def finals(st: HHState): Iterator[HeavyHitter] =
            st.terms.indices.map(i => (st.terms(i), st.counts(i), st.errs(i)))
              .sortBy { case (t, c, _) => (-c, t) }
              .take(k)
              .map { case (t, c, e) => HeavyHitter(ws, t, c, e) }
              .iterator
          if (state.hasTimedOut) {
            // watermark passed window end: emit the finals, drop state
            val st = state.get
            state.remove()
            finals(st)
          } else {
            val prev = state.getOption
            val wm = state.getCurrentWatermarkMs()
            if (wm >= ws + windowMs) {
              // the watermark already passed this window's end — these
              // rows are LATE and are NEVER absorbed. If the finals
              // haven't fired yet (a late row raced the timeout into
              // this batch), fire them now and drop the state; a
              // closed window never re-opens or double-emits.
              prev match {
                case Some(st) => state.remove(); finals(st)
                case None => Iterator.empty
              }
            } else {
              val buf: graft.api.Sketches.SSBuf =
                scala.collection.mutable.HashMap.from(
                  prev.map(st => st.terms.lazyZip(st.counts).lazyZip(st.errs)
                    .map((t, c, e) => t -> (c, e))).getOrElse(Nil))
              it.toVector.sortBy(r => (r.tsMs, r.term))
                .foreach(r => sketch.reduce(buf, r.term))
              val entries = buf.toSeq.sortBy { case (t, (c, _)) => (-c, t) }
              state.update(HHState(entries.map(_._1), entries.map(_._2._1),
                entries.map(_._2._2)))
              // finals fire when the watermark passes the window END —
              // strictly above wm in this branch, so the stamp is valid
              state.setTimeoutTimestamp(ws + windowMs)
              Iterator.empty
            }
          }
      }
  }

  /** One lagged point from [[streamingLag]]: the row plus its key's
    * previous (value, tsMs) — nulls (None) on each key's first row. */
  final case class Lagged(key: Long, id: Long, tsMs: Long, value: Double,
      prev_value: Option[Double], gap_ms: Option[Long])

  /** Streaming per-key lag(1) — the at-ingest PRIMITIVE under both
    * q_window_lag (value deltas) and q_transitions (sequence pairs):
    * every arriving row emits with its key's previous value and the
    * inter-arrival gap, from ONE tiny (tsMs, id, value) state row per
    * key instead of a corpus-wide sort. In-order replay reproduces the
    * batch `lag(1) over (partition by key order by ts, id)` rows
    * exactly; within a micro-batch rows apply in (tsMs, id) order
    * (the batch window's total order), and state carries the last row
    * across batches — same arrival contract as [[streamingZscore]].
    * State is one row per distinct key BY DESIGN (like
    * [[CdcStream]]): expiring it would turn the next row's lag into a
    * silent null, a semantic loss, not an optimization — bound key
    * cardinality upstream instead. */
  def streamingLag(rows: Dataset[ValRow]): Dataset[Lagged] = {
    implicit val stateEnc = Encoders.product[(Long, Long, Double)]
    implicit val outEnc = Encoders.product[Lagged]
    implicit val keyEnc = Encoders.scalaLong
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[ValRow], state: GroupState[(Long, Long, Double)]) =>
          var prev = state.getOption // (tsMs, id, value)
          val out = it.toVector.sortBy(r => (r.tsMs, r.id)).map { r =>
            val lagged = Lagged(key, r.id, r.tsMs, r.value,
              prev.map(_._3), prev.map(p => r.tsMs - p._1))
            prev = Some((r.tsMs, r.id, r.value))
            lagged
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** One incoming user event for [[streamingAttribution]]: user key,
    * event id, event-time millis, and whether it is a click / purchase
    * (other types pass through as neither and only advance nothing). */
  final case class UserEvent(userId: Long, eventId: Long, tsMs: Long,
      isClick: Boolean, isPurchase: Boolean)

  /** Per-user attribution state: the most recent click seen. 16 bytes
    * per active user — and evictable without ANY semantic loss: once the
    * watermark passes clickTs + lookback, no future purchase can ever
    * attribute to this click (with event-time timeout enabled, Spark's
    * own late-data filter drops rows older than the watermark before
    * they reach the function), so expiry is a pure state-size
    * optimization, not a windowed-dedup-style trade-off. */
  final case class ClickState(clickTs: Long, clickId: Long)

  /** One attributed purchase: the most recent prior click within the
    * lookback, or nulls when none. */
  final case class Attribution(user_id: Long, event_id: Long,
      purchase_ts_ms: Long, attributed_click_id: Option[Long],
      lag_ms: Option[Long])

  /** Streaming last-touch attribution — the at-ingest form of the batch
    * `q_attribution` window: each purchase is attributed to the same
    * user's most recent PRIOR click within `lookbackMs`, at the moment
    * it arrives, with one tiny [[ClickState]] per user instead of a
    * corpus-wide sort.
    *
    * Parity contract: replaying a user's events in (tsMs, eventId)
    * order reproduces the batch query's rows exactly — within a
    * micro-batch rows apply in that order (so a click and purchase
    * sharing a timestamp attribute iff the click's id sorts first,
    * the batch window's tiebreak), and state carries the last click
    * across batches. Same arrival-order contract as [[streamingZscore]]:
    * cross-batch out-of-order delivery is the caller's watermark
    * problem, not re-sorted here.
    *
    * State growth at 100 TB: pass `expireMs > 0` (normally =
    * `lookbackMs`) with an upstream watermark to drop a user's state
    * once the watermark passes clickTs + expireMs — see [[ClickState]]
    * for why expiry at the lookback bound is lossless. */
  def streamingAttribution(events: Dataset[UserEvent], lookbackMs: Long,
      expireMs: Long = 0L): Dataset[Attribution] = {
    require(lookbackMs > 0, s"lookbackMs must be positive, got $lookbackMs")
    implicit val stateEnc = Encoders.product[ClickState]
    implicit val outEnc = Encoders.product[Attribution]
    implicit val keyEnc = Encoders.scalaLong
    val timeout =
      if (expireMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (user: Long, it: Iterator[UserEvent], state: GroupState[ClickState]) =>
          if (state.hasTimedOut) {
            // watermark passed clickTs + expiry: no future purchase can
            // reach this click through the lookback — lossless drop
            state.remove()
            Iterator.empty
          } else {
            var lastClick = state.getOption
            val out = it.toVector.sortBy(e => (e.tsMs, e.eventId)).flatMap { e =>
              if (e.isClick) {
                // running max in (ts, id) order: a same-batch older click
                // never overwrites a newer one (the sort guarantees
                // in-batch order; cross-batch, later batches carry later
                // arrival order per the contract above)
                lastClick = Some(ClickState(e.tsMs, e.eventId))
                None
              } else if (e.isPurchase) {
                val hit = lastClick.filter(c => c.clickTs >= e.tsMs - lookbackMs)
                Some(Attribution(user, e.eventId, e.tsMs,
                  hit.map(_.clickId), hit.map(c => e.tsMs - c.clickTs)))
              } else None
            }
            lastClick match {
              case Some(c) =>
                state.update(c)
                if (expireMs > 0) {
                  // clamp: a click already outside the expiry horizon must
                  // still stamp ABOVE the watermark (Spark rejects stale
                  // stamps); wm+1 expires it at the next watermark move,
                  // which is lossless per the ClickState doc
                  val wm = state.getCurrentWatermarkMs()
                  state.setTimeoutTimestamp(math.max(c.clickTs + expireMs, wm + 1))
                }
              case None => ()
            }
            out.iterator
          }
      }
  }

  /** Open-session state for [[streamingSessionize]]: bounds, row count,
    * and the running value sum as an EXACT decimal (each arriving value
    * quantized to 10dp before adding — the batch DECIMAL(30,10)
    * accumulation — so the emitted sum is bit-equal to the batch
    * window's regardless of arrival slicing). */
  final case class SessState(startMs: Long, endMs: Long, cnt: Long,
      sum: BigDecimal)

  /** One COMPLETED session: emitted when a later event opens the next
    * session (gap exceeded) or the watermark passes endMs + gap. */
  final case class Session(key: Long, session_start_ms: Long,
      session_end_ms: Long, cnt: Long, sum_value: Double)

  /** Streaming sessionization — the at-ingest form of the batch
    * gap-sessionize (`TimeSeries.sessionize` / q_session_window):
    * events arriving per key fold into ONE open-session state row
    * (start, end, cnt, exact decimal sum); a session is emitted as soon
    * as it is provably complete — either a same-key event lands ≥
    * `gapMs` after the session end (the next session opens), or the
    * event-time watermark passes endMs + gapMs (no on-time event can
    * extend it). Built on `flatMapGroupsWithState` rather than Spark's
    * `session_window` aggregate so the state carries the EXACT
    * DECIMAL(30,10)-quantized sum the batch query reports and the
    * emission is a typed row, not a late-materializing aggregate.
    *
    * Parity contract (the [[streamingAttribution]] one): in-batch rows
    * apply in (tsMs, id) order; an out-of-order event WITHIN the open
    * session (tsMs ≥ startMs) folds in exactly as the batch sort would.
    * Cross-batch late data beyond the watermark is dropped by Spark's
    * late filter before reaching the function — the standard watermark
    * trade-off, identical to `session_window` with watermark. Requires
    * `withWatermark` upstream (event-time timeout).
    *
    * State at 100 TB: ONE ~48-byte row per key with an open session —
    * bounded by active-key cardinality, never stream length; every
    * timeout or gap-close removes/replaces it. */
  def streamingSessionize(rows: Dataset[ValRow], gapMs: Long): Dataset[Session] = {
    require(gapMs > 0, s"gapMs must be positive, got $gapMs")
    implicit val stateEnc = Encoders.product[SessState]
    implicit val outEnc = Encoders.product[Session]
    implicit val keyEnc = Encoders.scalaLong
    def finish(key: Long, s: SessState): Session =
      Session(key, s.startMs, s.endMs, s.cnt,
        math.floor(s.sum.toDouble * 10000) / 10000)
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, it: Iterator[ValRow], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark ≥ endMs + gap: no on-time event can extend it
            val done = finish(key, state.get)
            state.remove()
            Iterator.single(done)
          } else {
            var cur = state.getOption
            val out = Vector.newBuilder[Session]
            it.toVector.sortBy(r => (r.tsMs, r.id)).foreach { r =>
              cur match {
                case Some(s) if r.tsMs - s.endMs >= gapMs =>
                  out += finish(key, s)
                  cur = Some(SessState(r.tsMs, r.tsMs, 1L, dec(r.value)))
                case Some(s) =>
                  cur = Some(SessState(math.min(s.startMs, r.tsMs),
                    math.max(s.endMs, r.tsMs), s.cnt + 1, s.sum + dec(r.value)))
                case None =>
                  cur = Some(SessState(r.tsMs, r.tsMs, 1L, dec(r.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.endMs + gapMs, wm + 1))
            }
            out.result().iterator
          }
      }
  }

  // ------------------------------------------------------------------
  // Streaming EMBEDDING near-dup — the vector mirror of
  // [[streamingNearDedup]]: hyperplane band buckets instead of MinHash
  // bands, signature-angle scoring instead of the Jaccard estimate,
  // exact-cosine reconcile instead of exact-Jaccard.
  // ------------------------------------------------------------------

  /** One (vector × hyperplane band) row for streaming embedding
    * near-dup. `probe = false` rows INDEX (they are scored AND added to
    * bucket state); `probe = true` rows are the hamming-1 multi-probe
    * fan-out — scored against the bucket but never added — reproducing
    * batch `Similarity.annPairs`' probe/index asymmetry exactly (flips
    * are symmetric under XOR, so probing earlier arrivals from the new
    * doc's side covers the same candidate set as the batch join's
    * pid<id direction). `ks` carries ALL band keys: their concatenated
    * low sign bits ARE the full nPlanes-bit hyperplane signature the
    * bucket scorer estimates angles from. */
  final case class VecBand(band: Long, id: Long, ks: Seq[Long], tsMs: Long,
      probe: Boolean)

  /** A vector retained in a band bucket's state: id + band keys (the
    * signature — never the embedding; state is bands longs per vec). */
  final case class VecInState(id: Long, ks: Seq[Long])

  /** Per-bucket state: the first `maxBucketVecs` vectors that INDEXED
    * into the bucket (earliest-first keeps canonical priority), plus
    * the TTL anchor. */
  final case class VecBandState(vecs: Seq[VecInState], maxTsMs: Long)

  /** One emitted candidate: vector `id` estimated near `matched_id`
    * (est_cos = cos(π·(1 − matching sign bits / nPlanes)) — the
    * standard random-hyperplane angle estimate). Best match per
    * (vec, bucket row); per-doc reduction and the exact-cosine verify
    * happen downstream ([[exactVerifyVecMatches]]). */
  final case class VecMatch(band: Long, id: Long, matched_id: Long, est_cos: Double)

  /** Prepare [[VecBand]] rows from an (id, embedding, tsMs) stream:
    * per-ROW native `graft_hyperplane_keys` (the same keys batch
    * `Similarity.annPairs` indexes and probes — hyperplane LSH is
    * scale-invariant, so no normalization is needed for keys), one
    * index row per band plus, when `multiProbe`, w hamming-1 probe rows
    * per band — a map-side streaming transform, no explode+groupBy.
    * Rows with NULL/empty embeddings are dropped (no signature to
    * stand in a bucket). `carryCols` keeps e.g. the watermarked
    * timestamp for TTL. */
  def vecBandRows(df: org.apache.spark.sql.DataFrame, idCol: String,
      embCol: String, tsMsCol: String, nPlanes: Int = 16, bands: Int = 8,
      dim: Int = 64, multiProbe: Boolean = true,
      carryCols: Seq[String] = Nil): Dataset[VecBand] = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    val w = nPlanes / bands
    graft.functions.VectorExprs.register(df.sparkSession)
    import org.apache.spark.sql.functions._
    val probes =
      if (multiProbe)
        s""", flatten(transform(ks, k0 -> transform(sequence(0, ${w - 1}),
              r -> struct(cast(k0 ^ shiftleft(1L, r) AS BIGINT) AS band, true AS probe))))"""
      else ""
    df.filter(col(embCol).isNotNull && size(col(embCol)) > 0)
      .withColumn("ks", expr(s"graft_hyperplane_keys($embCol, $nPlanes, $bands, $dim)"))
      .select(Seq(col(idCol).cast("long").as("id"), col("ks"),
        col(tsMsCol).cast("long").as("tsMs"),
        explode(expr(
          s"concat(transform(ks, k -> struct(k AS band, false AS probe))$probes"
            + ")")).as("__bp")) ++
        carryCols.map(col): _*)
      .withColumn("band", col("__bp.band"))
      .withColumn("probe", col("__bp.probe"))
      .drop("__bp")
      .as[VecBand](Encoders.product[VecBand])
  }

  /** Streaming hyperplane-LSH embedding near-dup with cross-batch
    * state — the vector form of [[streamingNearDedup]] and the
    * streaming form of batch `Similarity.annPairs`: embeddings arrive
    * continuously and the pipeline learns AT INGEST whether a vector is
    * a likely near-duplicate of anything seen before, without joining
    * against the accumulated corpus.
    *
    * State is per band BUCKET, holding at most `maxBucketVecs` earliest
    * vectors (ids + band-key signatures — `bands` longs per vec, never
    * the embedding; the hot-bucket cap is the same skew guard as batch
    * `maxBucketVecs`). Candidates are scored with the hyperplane angle
    * estimate from matching sign bits; `estThreshold` prunes emission
    * (set it BELOW the exact threshold you reconcile at — with nPlanes
    * sign bits the estimate is quantized to nPlanes+1 values, so a
    * margin is part of the contract, exactly like the batch banding
    * curve's conservatism). Probe rows score but never index, so the
    * candidate space on an in-order replay equals batch annPairs'
    * (multiProbe ⇔ multiProbe). `ttlMs > 0` expires idle buckets via
    * event-time timeout.
    *
    * Emits the best match per (vec, bucket) with est ≥ estThreshold;
    * batch rows are processed in (tsMs, id) order so output is
    * deterministic for a given batch slicing. Complete the decision
    * with [[exactVerifyVecMatches]] in foreachBatch — precision returns
    * to 1.0 there, the streaming-near-dup convention. */
  def streamingVecNearDedup(rows: Dataset[VecBand], nPlanes: Int = 16,
      estThreshold: Double = 0.0, maxBucketVecs: Int = 64,
      ttlMs: Long = 0L): Dataset[VecMatch] = {
    implicit val stateEnc = Encoders.product[VecBandState]
    implicit val outEnc = Encoders.product[VecMatch]
    implicit val keyEnc = Encoders.scalaLong
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (band: Long, it: Iterator[VecBand], state: GroupState[VecBandState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toVector.sortBy(r => (r.tsMs, r.id, r.probe))
            val prev = state.getOption
            var vecs = prev.map(_.vecs.toVector).getOrElse(Vector.empty)
            val out = Vector.newBuilder[VecMatch]
            batch.foreach { r =>
              var bestEst = Double.NegativeInfinity
              var bestId = Long.MaxValue
              vecs.foreach { vs =>
                if (vs.id != r.id) {
                  // matching sign bits across ALL bands: each key's low
                  // w bits, where w = nPlanes / bands
                  val nb = math.min(vs.ks.length, r.ks.length)
                  val w = if (nb == 0) 1 else nPlanes / nb
                  val mask = (1L << w) - 1
                  var m = 0; var i = 0
                  while (i < nb) {
                    m += java.lang.Long.bitCount(~(vs.ks(i) ^ r.ks(i)) & mask)
                    i += 1
                  }
                  val est = math.cos(math.Pi * (1.0 - m.toDouble / math.max(1, nPlanes)))
                  if (est >= estThreshold &&
                      (est > bestEst || (est == bestEst && vs.id < bestId))) {
                    bestEst = est; bestId = vs.id
                  }
                }
              }
              if (bestId != Long.MaxValue)
                out += VecMatch(band, r.id, bestId, bestEst)
              if (!r.probe && vecs.size < maxBucketVecs && !vecs.exists(_.id == r.id))
                vecs :+= VecInState(r.id, r.ks)
            }
            val maxTs = math.max(prev.map(_.maxTsMs).getOrElse(Long.MinValue),
              batch.map(_.tsMs).max)
            state.update(VecBandState(vecs, maxTs))
            if (ttlMs > 0) state.setTimeoutTimestamp(maxTs + ttlMs)
            out.result().iterator
          }
      }
  }

  /** Exact-COSINE reconcile for [[streamingVecNearDedup]]'s emitted
    * matches — the foreachBatch step that restores batch
    * `Similarity.annPairs` precision (1.0) on the streaming path: joins
    * each emitted (id, matched_id) pair back to the embeddings (state
    * carried only sign-bit signatures), computes the exact cosine with
    * the same native `vec_dot` + round(4) the batch operator reports,
    * and keeps pairs ≥ `threshold`. Match-sized, never corpus-sized.
    * Returns (id, matched_id, sim). */
  def exactVerifyVecMatches(matches: org.apache.spark.sql.DataFrame,
      vecs: org.apache.spark.sql.DataFrame, idCol: String, embCol: String,
      threshold: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.VectorExprs.register(matches.sparkSession)
    val pairs = matches.select(col("id"), col("matched_id")).distinct()
    val em = vecs.dropDuplicates(Seq(idCol))
      .filter(col(embCol).isNotNull && size(col(embCol)) > 0)
      .select(col(idCol).cast("long").as("__vid"),
        col(embCol).cast("array<double>").as("__e"))
    def cosSql(a: String, b: String): org.apache.spark.sql.Column = expr(
      s"""vec_dot($a, $b) / (sqrt(vec_dot($a, $a)) * sqrt(vec_dot($b, $b)))""")
    pairs
      .join(em.select(col("__vid").as("id"), col("__e").as("__ea")), "id")
      .join(em.select(col("__vid").as("matched_id"), col("__e").as("__eb")), "matched_id")
      .withColumn("sim", round(cosSql("__ea", "__eb"), 4))
      .filter(col("sim") >= threshold)
      .select(col("id"), col("matched_id"), col("sim"))
  }

  // ───────────────────────── streaming SemDeDup ─────────────────────────

  /** One (vector, probed cell) row for [[streamingSemDedup]]: the
    * vector's full embedding rides into the cell bucket so the scorer
    * is EXACT cosine at ingest (no estimate/reconcile split — SemDeDup
    * state is cell-bounded, so carrying the vector is the batch
    * operator's own memory shape). `home` marks the rank-1 cell — the
    * batch assignment column. */
  final case class SemCell(id: Long, tsMs: Long, cell: Int, home: Boolean,
      e: Seq[Double])

  /** A vector retained in a cell bucket's state. */
  final case class SemVecInState(id: Long, e: Seq[Double])

  /** Per-cell state: the first `maxCellVecs` arrivals + TTL anchor. */
  final case class SemCellState(vecs: Seq[SemVecInState], maxTsMs: Long)

  /** One emitted SemDeDup candidate: `id` is an EXACT-cosine semantic
    * duplicate of the earlier, smaller-id cluster-mate `matched_id`
    * (`sim` unrounded; [[semDedupVerdicts]] rounds after the max). */
  final case class SemMatch(cell: Int, id: Long, matched_id: Long, sim: Double)

  /** Prepare [[SemCell]] rows from an (id, embedding, tsMs) stream
    * against a FITTED centroid model (`Similarity.fitIvf` — the 100 TB
    * fit-once / apply-at-ingest pattern, like `DriftStream`'s fitted
    * references): per row the native `graft_nearest_centroids` top-
    * `nProbe` cells (identical assignment arithmetic to batch
    * `Similarity.semDedup`), exploded to one row per probed cell with
    * the rank-1 cell marked `home`. Map-side only. */
  def semCellRows(df: org.apache.spark.sql.DataFrame, idCol: String,
      embCol: String, tsMsCol: String, centers: Seq[Seq[Double]],
      nProbe: Int = 2): Dataset[SemCell] = {
    require(nProbe >= 1, s"nProbe must be ≥1, got $nProbe")
    graft.functions.VectorExprs.register(df.sparkSession)
    import org.apache.spark.sql.functions._
    val cc = typedLit(centers)
    df.filter(col(embCol).isNotNull && size(col(embCol)) > 0)
      .select(col(idCol).cast("long").as("id"),
        col(tsMsCol).cast("long").as("tsMs"),
        col(embCol).cast("array<double>").as("e"),
        posexplode(call_function("graft_nearest_centroids", col(embCol), cc,
          lit(nProbe))).as(Seq("__rank", "cell")))
      .select(col("id"), col("tsMs"), col("cell").cast("int").as("cell"),
        (col("__rank") === 0).as("home"), col("e"))
      .as[SemCell](Encoders.product[SemCell])
  }

  /** Streaming SemDeDup — the at-ingest mirror of batch
    * `Similarity.semDedup`: embeddings arrive continuously, and each
    * vector learns whether a SMALLER-ID cluster-mate in any shared
    * probed cell sits above `simThreshold` — by EXACT cosine, computed
    * against the cell's retained vectors (the same ascending
    * float-fold as the native `vec_dot`, so sims are bit-equal to the
    * batch operator's).
    *
    * The smaller-id guard IS the batch keep-min election: a vector is
    * a duplicate iff some smaller-id mate exceeds the threshold, so on
    * an id-ordered replay (and for any arrival order of the pairs that
    * meet in state) the verdicts equal `Similarity.semDedup`'s row for
    * row — [[semDedupVerdicts]] assembles the identical
    * (id, cell, keep, dup_sim) frame, and the spec pins MemoryStream
    * parity. State per cell: at most `maxCellVecs` earliest vectors
    * (full embeddings — dim doubles each; per-cell occupancy is what
    * the occupancy-derived cell count bounds at ≈ targetCell, so state
    * ≈ corpus size × dim doubles sharded across cells, the batch
    * index's own footprint). `ttlMs > 0` expires idle cells by event
    * time — the bounded-state mode for unbounded streams (trimmed
    * history narrows the dup census exactly like any dedup TTL).
    * Emits ALL above-threshold matches (not just the best) so the
    * downstream max-aggregation reproduces batch `dup_sim` exactly. */
  def streamingSemDedup(rows: Dataset[SemCell], simThreshold: Double = 0.4,
      maxCellVecs: Int = 1024, ttlMs: Long = 0L): Dataset[SemMatch] = {
    implicit val stateEnc = Encoders.product[SemCellState]
    implicit val outEnc = Encoders.product[SemMatch]
    implicit val keyEnc = Encoders.scalaInt
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(_.cell)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (cell: Int, it: Iterator[SemCell], state: GroupState[SemCellState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toVector.sortBy(r => (r.tsMs, r.id))
            val prev = state.getOption
            var vecs = prev.map(_.vecs.toVector).getOrElse(Vector.empty)
            val out = Vector.newBuilder[SemMatch]
            batch.foreach { r =>
              val b = r.e.toArray
              var db = 0.0
              var i = 0
              while (i < b.length) { db += b(i) * b(i); i += 1 }
              vecs.foreach { vs =>
                // score BOTH directions and attribute the match to the
                // LARGER id — the batch keep-min election as a pure
                // function of the unordered pair, so parity holds for
                // ANY arrival order of the pairs that meet in state
                // (the one-directional vs.id < r.id guard silently
                // dropped a duplicate whose smaller-id cluster-mate
                // arrived second)
                if (vs.id != r.id && vs.e.length == b.length) {
                  val a = vs.e.toArray
                  var dot = 0.0; var da = 0.0
                  var j = 0
                  while (j < a.length) {
                    dot += a(j) * b(j); da += a(j) * a(j); j += 1
                  }
                  val sim = dot / (math.sqrt(da) * math.sqrt(db))
                  if (sim >= simThreshold)
                    out += SemMatch(cell, math.max(r.id, vs.id),
                      math.min(r.id, vs.id), sim)
                }
              }
              if (vecs.size < maxCellVecs && !vecs.exists(_.id == r.id))
                vecs :+= SemVecInState(r.id, r.e)
            }
            val maxTs = math.max(prev.map(_.maxTsMs).getOrElse(Long.MinValue),
              batch.map(_.tsMs).max)
            state.update(SemCellState(vecs, maxTs))
            if (ttlMs > 0) state.setTimeoutTimestamp(maxTs + ttlMs)
            out.result().iterator
          }
      }
  }

  /** Assemble batch-shaped SemDeDup verdicts from an accumulated
    * [[SemMatch]] frame + the home-cell assignments: one row per
    * vector — (id, cell, keep 1/0, dup_sim = round(max sim, 4), null
    * for keepers) — the EXACT `Similarity.semDedup` output schema
    * (pairs meeting in several shared cells collapse through the max,
    * exactly like the batch multi-probe multiplicity). */
  def semDedupVerdicts(cellRows: org.apache.spark.sql.DataFrame,
      matches: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val assign = cellRows.filter(col("home"))
      .select(col("id"), col("cell").cast("long").as("cell")).distinct()
    val dup = matches.groupBy("id").agg(round(max(col("sim")), 4).as("dup_sim"))
    assign.join(dup, Seq("id"), "left")
      .select(col("id"), col("cell"),
        when(col("dup_sim").isNull, 1L).otherwise(0L).as("keep"),
        col("dup_sim"))
  }
}
