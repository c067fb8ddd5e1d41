package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface.
  *
  * The reference's only incrementality is Glue job bookmarks — batch re-runs
  * that skip already-processed S3 files (Glue_tranformation_json_parquet
  * .py:51,186,199). The Spark-native equivalent is a file-source stream with
  * `Trigger.AvailableNow`: the checkpoint directory IS the bookmark (exactly
  *-once file tracking, no ledger table needed), and each invocation drains
  * whatever is new, then stops — same operational shape as a scheduled Glue
  * job, but with engine-managed state.
  */
object Streaming {

  /** Incremental file ingest: stream `format` files from `inPath`, apply
    * `transform`, append parquet to `outPath`. Checkpoint = bookmark.
    * Returns after draining all currently-available input.
    */
  def incrementalIngest(spark: SparkSession, inPath: String, schema: StructType,
      outPath: String, checkpoint: String,
      transform: DataFrame => DataFrame = identity,
      format: String = "parquet"): Unit = {
    val src = spark.readStream.format(format).schema(schema)
      .option("recursiveFileLookup", "true").load(inPath)
    val q = transform(src).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window aggregation over an event stream —
    * the streaming twin of the batch monthly rollup (q15). The SAME plan
    * runs in batch (`withWatermark` is a no-op on a bounded frame), which
    * is what q94 oracle-verifies: stream and batch share one definition,
    * so the streaming path's arithmetic is the certified arithmetic.
    * `value` sums through DECIMAL (exact, associative) so per-trigger /
    * per-partition accumulation order can't wobble the double.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  /** Streaming exact dedup — the streaming twin of `Dedup.exactDedup`:
    * drops rows whose dedup key was already seen within the watermark
    * horizon. `dropDuplicatesWithinWatermark` evicts key state older than
    * the watermark, which is the only scalable form of streaming dedup —
    * a plain `dropDuplicates` keeps every key ever seen and its state
    * store grows without bound on an infinite stream. The key should be a
    * content hash (xxhash64 of the payload), not the payload itself, to
    * keep state rows narrow.
    */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Batch twin of [[dedupStream]] (the q13 sessionize pattern): once all
    * data has arrived, streaming first-wins dedup keeps exactly one row
    * per key — made deterministic here as the earliest by event time with
    * lowest `idCol` as tiebreak.
    *
    * Equivalence precondition: the stream matches this twin when fed in
    * event-time order AND every recurrence of a key falls within the
    * watermark horizon of its first occurrence —
    * `dropDuplicatesWithinWatermark` deliberately EVICTS key state once
    * the watermark passes (that bounded state is the point), so a key
    * recurring later than the horizon is re-emitted by the stream but
    * deduped globally here. StreamingSpec asserts the equivalence on data
    * satisfying the precondition; q44 oracle-verifies the batch form.
    */
  def dedupBatchTwin(events: DataFrame, tsCol: String, keyCols: Seq[String],
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col(idCol).asc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  final case class ResampleInput(key: Long, ts: java.sql.Timestamp, value: Double)
  final case class BucketAgg(sumCents: Long, n: Long)
  final case class ResampleState(pending: Map[Long, BucketAgg],
      lastBucketMs: Long, lastMean: Double, hasLast: Boolean)
  final case class ResampleOut(key: Long, bucket: java.sql.Timestamp,
      value_ffill: Double, is_gap: Boolean)

  /** Streaming twin of [[graft.scale.TimeSeries.resampleFfill]] (q115's
    * batch form): per-key bucket means with gap buckets forward-filled.
    * The batch plan (lead + posexplode over a completed series) cannot
    * stream, so this is the q13-sessionize pattern: a stateful
    * flatMapGroupsWithState twin whose EMITTED ROWS REPLAY THE BATCH
    * ARITHMETIC BIT FOR BIT — per-value cents quantization (the decimal
    * (18,2) cast), exact integer sums, the same double division and 6dp
    * HALF_UP round — pinned by a StreamingSpec convergence test against
    * the oracle-green batch function.
    *
    * Mechanics: state per key = partial cent-sums of OPEN buckets plus
    * the last FINALIZED bucket's mean. A bucket [b, b+step) finalizes
    * once the event-time watermark passes b+step (no event can join it
    * anymore); finalization emits any gap buckets since the previous
    * finalized bucket (previous mean, is_gap=true) then the real bucket.
    * An event-time timeout armed at the earliest open bucket's end drives
    * finalization for keys receiving no further input. State is bounded:
    * open buckets live only within the watermark horizon, closed buckets
    * collapse to one (bucketMs, mean) pair.
    *
    * Buckets are UTC epoch-floor truncations (hour/minute/day), matching
    * date_trunc in the UTC session the engine pins.
    */
  def resampleFfillStream(events: Dataset[ResampleInput],
      unit: String = "hour", watermark: String = "2 hours"):
      Dataset[ResampleOut] = {
    import events.sparkSession.implicits._
    val stepMs: Long = unit.toLowerCase match {
      case "minute" => 60L * 1000L
      case "hour" => 3600L * 1000L
      case "day" => 24L * 3600L * 1000L
      case u => throw new IllegalArgumentException(s"unsupported unit: $u")
    }
    def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2)
        .longValueExact()
    def mean6(b: BucketAgg): Double = {
      val sumD = b.sumCents.toDouble / 100.0
      java.math.BigDecimal.valueOf(sumD / b.n.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    events.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[ResampleState, ResampleOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[ResampleState]) =>
          val st0 = state.getOption
            .getOrElse(ResampleState(Map.empty, 0L, 0.0, hasLast = false))
          // fold new rows into open-bucket partials (none on timeout)
          var pending = st0.pending
          rows.foreach { e =>
            val b = e.ts.getTime - Math.floorMod(e.ts.getTime, stepMs)
            val agg = pending.getOrElse(b, BucketAgg(0L, 0L))
            pending = pending.updated(b,
              BucketAgg(agg.sumCents + cents(e.value), agg.n + 1))
          }
          val wm = state.getCurrentWatermarkMs()
          val ready = pending.keys.toSeq.sorted.takeWhile(_ + stepMs <= wm)
          val out = scala.collection.mutable.ArrayBuffer.empty[ResampleOut]
          var (lastB, lastM, hasLast) =
            (st0.lastBucketMs, st0.lastMean, st0.hasLast)
          ready.foreach { b =>
            if (hasLast) {
              var g = lastB + stepMs
              while (g < b) {
                out += ResampleOut(key, new java.sql.Timestamp(g), lastM,
                  is_gap = true)
                g += stepMs
              }
            }
            val m = mean6(pending(b))
            out += ResampleOut(key, new java.sql.Timestamp(b), m,
              is_gap = false)
            lastB = b; lastM = m; hasLast = true
            pending = pending - b
          }
          state.update(ResampleState(pending, lastB, lastM, hasLast))
          // re-arm for the earliest still-open bucket; its end is > wm by
          // construction (otherwise it would have finalized above)
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(pending.keys.min + stepMs)
          out.iterator
      }
  }

  final case class EwmaInput(event_id: Long, key: Long,
      ts: java.sql.Timestamp, value: Double)
  final case class EwmaState(recent: Seq[Double])
  final case class EwmaOut(event_id: Long, key: Long, ewma: Double)

  /** Streaming twin of [[graft.scale.TimeSeries.ewmaBounded]] (q120's
    * batch form): per-row EWMA over the last `window` observations. The
    * batch plan's per-key sliding frame needs the completed series; the
    * stream carries exactly the frame's content as state — the last
    * `window − 1` values per key, O(window) per key forever — and emits
    * one row per input row in Append mode (no watermark needed: state
    * never grows with history).
    *
    * The fold REPLAYS THE BATCH ARITHMETIC exactly: oldest-first left
    * fold of x·α^(n−1−i) accumulation, denominator from the weights
    * actually present, 6dp HALF_UP round — so on in-order input the
    * emitted rows equal the oracle-green batch function's bit for bit
    * (StreamingSpec pins it).
    *
    * Equivalence precondition (the [[dedupBatchTwin]] convention): rows
    * arrive in per-key (ts, event_id) order across micro-batches;
    * in-batch arrival order is normalized by sorting. A row arriving
    * out of order is folded at arrival position — late data reordering
    * is the batch form's job on replay, not the stream's.
    */
  def ewmaBoundedStream(events: Dataset[EwmaInput], alpha: Double = 0.5,
      window: Int = 8): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    require(window >= 1, "ewma window must be >= 1")
    events.groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[EwmaState]) =>
          var recent = state.getOption.map(_.recent.toVector)
            .getOrElse(Vector.empty[Double])
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = sorted.map { e =>
            val arr = (recent :+ e.value).takeRight(window)
            val n = arr.length
            var num = 0.0
            var den = 0.0
            var i = 0
            while (i < n) {
              val w = math.pow(alpha, (n - 1 - i).toDouble)
              num = num + arr(i) * w
              den = den + w
              i += 1
            }
            recent = arr.takeRight(window - 1)
            EwmaOut(e.event_id, key,
              java.math.BigDecimal.valueOf(num / den)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
          }
          state.update(EwmaState(recent))
          out.iterator
      }
  }

  final case class CusumInput(event_id: Long, key: Long,
      ts: java.sql.Timestamp, value: Double)
  final case class CusumState(p: Long, minP: Long)
  final case class CusumOut(event_id: Long, key: Long, units: Long,
      s_units: Long, alarm: Boolean)

  /** Streaming twin of [[graft.scale.TimeSeries.cusumChangepoints]]
    * (q153's batch form). The batch plan computes the Page statistic in
    * closed form over prefix sums; the stream carries EXACTLY the two
    * longs that closed form needs per key — the running deviation prefix
    * P and its running minimum — so state is O(1) per key forever and
    * every emitted row replays the batch integer arithmetic bit for bit
    * (S_t = P_t − min(0, min_{j≤t} P_j), same floor(x·u + 0.5)
    * quantization). Append mode, no watermark: state never grows with
    * history.
    *
    * Same [[ewmaBoundedStream]] ordering contract: rows arrive per-key
    * (ts, event_id)-ordered across micro-batches; in-batch order is
    * normalized by sorting.
    */
  def cusumStream(events: Dataset[CusumInput], targetUnits: Long,
      slackUnits: Long, thresholdUnits: Long,
      unitsPerValue: Long = 100L): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L))
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = sorted.map { e =>
            val u = math.floor(e.value * unitsPerValue.toDouble + 0.5).toLong
            val p = st.p + (u - targetUnits - slackUnits)
            val minP = math.min(st.minP, p)
            st = CusumState(p, minP)
            val s = p - math.min(0L, minP)
            CusumOut(e.event_id, key, u, s, s > thresholdUnits)
          }
          state.update(st)
          out.iterator
      }
  }

  final case class ZscoreState(recent: Seq[Long])
  final case class ZscoreOut(event_id: Long, key: Long, units: Long,
      lhs: Long, rhs: Long, anomaly: Boolean)

  /** Streaming twin of
    * [[graft.scale.TimeSeries.rollingZscoreAnomalies]] (q154's batch
    * form): the trailing-window integer z-test over the last `window`
    * quantized units per key — state is exactly the batch frame's
    * content, the cross-multiplied inequality replays bit for bit, and
    * (matching the batch) rows score only once their trailing window is
    * full. Append mode, no watermark, O(window) state per key.
    */
  def rollingZscoreStream(events: Dataset[CusumInput], window: Int = 8,
      z: Int = 3, unitsPerValue: Long = 100L): Dataset[ZscoreOut] = {
    import events.sparkSession.implicits._
    require(window >= 2, "need >= 2 trailing rows for a variance")
    events.groupByKey(_.key)
      .flatMapGroupsWithState[ZscoreState, ZscoreOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[ZscoreState]) =>
          var recent = state.getOption.map(_.recent.toVector)
            .getOrElse(Vector.empty[Long])
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = sorted.flatMap { e =>
            val u = math.floor(e.value * unitsPerValue.toDouble + 0.5).toLong
            val res = if (recent.length == window) {
              val n = window.toLong
              val s = recent.sum
              val q = recent.map(x => x * x).sum
              val lhs = (n * u - s) * (n * u - s) * (n - 1)
              val rhs = z.toLong * z * n * (n * q - s * s)
              Some(ZscoreOut(e.event_id, key, u, lhs, rhs, lhs > rhs))
            } else None
            recent = (recent :+ u).takeRight(window)
            res
          }
          state.update(ZscoreState(recent))
          out.iterator
      }
  }

  final case class SessionInput(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start_ms: Long, last_ms: Long, n: Long, total: Double)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, total_value: Double)

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension. The dim side is explicitly broadcast — on a cluster the
    * static side is re-planned per micro-batch, and letting a large dim
    * fall into a sort-merge join would shuffle EVERY micro-batch; a
    * broadcast pins the stream side in place (the only sane shape for a
    * dim ≪ stream). For a dim too big to broadcast, pre-bucket both
    * sides on the key instead (the q54 layout) — not this helper.
    * Works identically on a batch frame (q03's star joins are the
    * oracle-verified batch form).
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
      key: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), key)

  /** Event-time interval join: pair each left event with the right-side
    * events of the same key whose timestamp falls in
    * `[l.ts − lookbackMinutes, l.ts]` — the attribution shape (purchase ←
    * preceding clicks, alert ← preceding sensor readings).
    *
    * The SAME function builds the batch and the stream-stream plan. For
    * streaming inputs both sides must carry `withWatermark` (the caller
    * sets them — watermark choice is a latency/completeness policy, not
    * join logic); the time-bound predicate is exactly what Spark's
    * stream-stream join requires to EVICT state: right-side rows age out
    * once the left watermark passes their ts + lookback, so state is
    * bounded by rate × lookback per key, corpus-size-independent. Without
    * the bound Spark rejects the streaming join outright — the batch twin
    * keeps the bound in the join condition so both plans are one
    * expression (q119 oracle-certifies it; StreamingSpec asserts the
    * stream form converges to it).
    *
    * Batch shape: an equi-join on the key with a range residual — one
    * keyed shuffle per side, the range filter applied in the join's
    * post-condition. Heavily-skewed keys ride AQE skew-join; a keyless
    * variant would be a pure range join and should go through
    * [[graft.plans.RangeJoinRewrite]] instead.
    */
  /** `joinType` supports the streaming-legal variants: "inner" (default)
    * and "left_outer" — a left row with no in-window partner emits with
    * null right columns once the watermark proves no partner can arrive
    * (batch: immediately). Unmatched-left attribution ("purchases with NO
    * preceding click") is the left-outer form, not an anti-join bolt-on.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, lookbackMinutes: Int,
      joinType: String = "inner"): DataFrame = {
    val l = left.alias("l")
    val r = right.alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") &&
        col(s"r.$rightTs") >=
          col(s"l.$leftTs") - expr(s"INTERVAL $lookbackMinutes MINUTES"),
      joinType)
  }

  /** Continuous CDC apply: maintain an upserted table snapshot from a
    * stream of change records — `foreachBatch` + [[graft.scale.Cdc.upsert]]
    * per micro-batch, i.e. the MERGE INTO loop of a lakehouse pipeline
    * with the engine's own checkpointing as the delivery ledger.
    *
    * Each batch: read the current snapshot (empty on first batch), merge
    * the change batch (version + change-beats-base precedence), write the
    * new snapshot BESIDE the old one, then swap directories — never an
    * in-place overwrite of a path being read. Replays are safe WITHOUT
    * exactly-once delivery: upsert is idempotent under re-delivered
    * batches (same version wins the same way), which is the whole point
    * of version-precedence merge.
    *
    * Crash consistency: the swap is two renames (state→old, next→state),
    * and a crash between them leaves NO statePath — so every batch first
    * recovers: if statePath is missing but a `__old<id>` orphan exists,
    * the newest orphan is renamed back before reading (merging onto an
    * empty base would silently drop every prior key). Every rename's
    * return value is checked and a `false` throws, failing the batch so
    * the checkpoint never marks done over a stale snapshot; leftover
    * orphan dirs from a completed-but-uncleaned attempt are deleted
    * before they can make the state→old rename fail. On a real
    * deployment the swap is a table-format transaction commit
    * (Iceberg/Delta); this is the format-free equivalent.
    *
    * Caller starts the returned writer with its own checkpoint/trigger
    * (same contract as [[incrementalIngest]]).
    */
  def applyCdcStream(changes: DataFrame, statePath: String,
      keyCols: Seq[String], versionCol: String, opCol: String = "op",
      deleteOp: String = "D"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(changes, statePath,
      batch => org.apache.spark.sql.types.StructType(
        batch.schema.filterNot(_.name == opCol))) {
      (current, batch, _) =>
        graft.scale.Cdc.upsert(current, batch, keyCols, versionCol, opCol,
          deleteOp)
    }

  /** Continuous near-dup-index maintenance: keep a persisted
    * [[graft.scale.Dedup.minhashIndex]] snapshot current from a stream of
    * document batches — `foreachBatch` + [[graft.scale.Dedup.minhashIndexMerge]]
    * per micro-batch, the streaming form of q136's batch merge. Each
    * batch's text runs through the signature kernel exactly once; the
    * corpus index is never rebuilt. Replays are safe: the merge is
    * idempotent (batch-wins dedup-by-id gives the same index when a batch
    * is re-delivered). Same crash-consistent snapshot swap as
    * [[applyCdcStream]].
    */
  def maintainMinhashIndex(docs: DataFrame, statePath: String,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numPerm: Int = 64): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(docs, statePath,
      batch => graft.scale.Dedup
        .minhashIndex(batch.limit(0), idCol, textCol, shingleSize, numPerm)
        .schema) {
      (current, batch, _) =>
        graft.scale.Dedup.minhashIndexMerge(current, batch, idCol, textCol,
          shingleSize, numPerm)
    }

  /** Continuous maintenance of the persisted EXACT-pair index
    * ([[graft.scale.Dedup.jaccardIndex]] — the (id, sorted-distinct
    * shingle hashes) table behind q202/q203's serve paths): fold each
    * micro-batch in with [[graft.scale.Dedup.jaccardIndexMerge]], the
    * streaming form of q202's batch merge and the exact-index sibling of
    * [[maintainMinhashIndex]] — both persisted dedup indexes are now
    * maintainable from the same stream. Each batch's text runs the
    * tokenize→hash→shingle kernel exactly once; the corpus index is
    * never rebuilt, and because `sh` carries no corpus state the folded
    * snapshot is BIT-EQUAL to a from-scratch build over the latest text
    * per id (batch-wins on re-ingest). Replays are safe: the merge is
    * idempotent. Same crash-consistent snapshot swap as
    * [[applyCdcStream]].
    */
  def maintainJaccardIndex(docs: DataFrame, statePath: String,
      idCol: String, textCol: String, shingleSize: Int = 3):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(docs, statePath,
      batch => graft.scale.Dedup
        .jaccardIndex(batch.limit(0), idCol, textCol, shingleSize)
        .schema) {
      (current, batch, _) =>
        graft.scale.Dedup.jaccardIndexMerge(current, batch, idCol, textCol,
          shingleSize)
    }

  /** [[applyCdcStream]] with FULL HISTORY: every change micro-batch
    * commits a new VERSION of a [[graft.scale.Versioned]] table instead
    * of swapping one snapshot — the streaming twin of q220's time
    * travel. Version 0 is the empty table (committed on first contact);
    * each batch commits the next version CARRYING ITS `batch:<id>` TAG
    * in the manifest metadata, so the stream's history stays auditable
    * (which version holds which batch) even when MAINTENANCE COMMITS
    * interleave: a [[graft.scale.Versioned.commitCompaction]] or
    * rollback may land between batches, take the next version number,
    * and the stream simply applies its next batch on top. (With no
    * maintenance interleaved, version b+1 = batch b, the q220 twin
    * shape.)
    *
    * Exactly-once WITHOUT a side ledger: batch tags are strictly
    * increasing across commits and a manifest file is created
    * atomically, so the NEWEST tag (manifests scanned newest-first — the
    * scan stops after the untagged maintenance suffix) decides: a
    * batchId at or below it was already committed and skips. Deciding on
    * "version b+1 exists" instead would silently DROP the first batch
    * after a compaction — the compaction takes that version number. A
    * re-delivered batch skips; a crash between
    * the data write and the manifest leaves an unreferenced, uniquely
    * named staging dir the retry never shares (each commit attempt
    * stages under its own `data/v<k>-<uuid>/`); vacuum reclaims it once
    * the version ages below retention. A crash after the manifest is a
    * completed commit. Readers are never
    * torn by construction (immutable manifests — strictly stronger than
    * [[applyCdcStream]]'s rename-window swap).
    *
    * The cost over [[applyCdcStream]] is storage: every version is a
    * full snapshot until vacuumed (at scale, bucket the merge key so a
    * commit rewrites only changed buckets — the manifest contract
    * doesn't care which files are shared). Caller starts the returned
    * writer with its own checkpoint/trigger.
    */
  def applyCdcStreamVersioned(changes: DataFrame, root: String,
      keyCols: Seq[String], versionCol: String, opCol: String = "op",
      deleteOp: String = "D"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (graft.scale.Versioned.versions(spark, root).isEmpty)
          graft.scale.Versioned.init(spark, root,
            batch.limit(0).drop(opCol)): Unit
        // The ledger is the `batch:<id>` manifest metadata tag, NOT the
        // version number: maintenance commits (commitCompaction, rollback)
        // may interleave with the stream and take version numbers of
        // their own, so "version b+1 exists" cannot decide re-delivery
        // (it would silently DROP the batch whose number a compaction
        // took). Batch tags are strictly increasing across commits, so
        // the newest tag — found by scanning manifests newest-first,
        // which stops after the untagged maintenance suffix — decides:
        // batchId <= newest tag = re-delivered, skip; == newest + 1 =
        // commit; anything else = a mixed checkpoint/root, loudly.
        val vs = graft.scale.Versioned.versions(spark, root)
        val newestTag: Option[Long] = vs.reverseIterator
          .flatMap(v => graft.scale.Versioned.manifestMeta(spark, root, v)
            .collectFirst { case m if m.startsWith("batch:") =>
              m.stripPrefix("batch:").toLong })
          .nextOption()
        if (!newestTag.exists(batchId <= _)) {
          require(batchId == newestTag.getOrElse(-1L) + 1,
            s"batch desync at $root: newest committed batch " +
              s"${newestTag.getOrElse(-1L)}, got $batchId — one " +
              "checkpoint per root")
          graft.scale.Versioned.commitUpsert(spark, root, batch, keyCols,
            versionCol, opCol, deleteOp, Seq(s"batch:$batchId")): Unit
        } // else: re-delivered batch — the tagged manifest IS the ledger
    }

  /** Continuous maintenance of the persisted containment POSTING STORE
    * ([[graft.scale.Dedup.containmentPostingStore]] — the bucket-
    * partitioned inverted index behind q217's partition-pruned serve):
    * fold each document micro-batch with
    * [[graft.scale.Dedup.containmentPostingStoreMerge]] — the batch
    * alone runs the text kernel, the by-doc batch-wins anti-join drops a
    * re-ingested doc's stale postings for ALL its old shingles, and
    * because posting rows carry no corpus state the folded snapshot is
    * row-equal to a from-scratch build over the latest text per id.
    * `shingleSize` and `buckets` are the store's frozen contract (a
    * bucket-count change is a different store — rebuild, never fold
    * across). Replays are safe: the merge is idempotent. The snapshot
    * directory is unpartitioned (foldSnapshotStream swaps one flat
    * parquet dir); for the partition-pruned SERVE layout, compact the
    * snapshot with `repartition(bucket).write.partitionBy("bucket")` on
    * the serving cadence — the store rows are identical either way, and
    * [[graft.scale.Dedup.containmentAgainstPostingStore]] accepts both
    * (the bucket In-list degrades from partition pruning to a data
    * filter, nothing else changes). Same crash-consistent snapshot swap
    * as [[applyCdcStream]].
    */
  def maintainContainmentPostingStore(docs: DataFrame, statePath: String,
      idCol: String, textCol: String, shingleSize: Int = 2,
      buckets: Int = 1024):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(docs, statePath,
      batch => graft.scale.Dedup.containmentPostingStore(
        graft.scale.Dedup.jaccardIndex(batch.limit(0), idCol, textCol,
          shingleSize), buckets).schema) {
      (current, batch, _) =>
        graft.scale.Dedup.containmentPostingStoreMerge(current, batch,
          idCol, textCol, shingleSize, buckets)
    }

  /** Continuous maintenance of the persisted BM25 index — the last
    * persisted index without a streaming twin (minhash, exact-Jaccard,
    * and the three sketches all have one): fold each document
    * micro-batch with [[graft.scale.Retrieval.bm25IndexMerge]], the
    * streaming form of q148's batch merge. The snapshot is the index's
    * one table (doclens rows ride with term = NULL), so
    * foldSnapshotStream's atomic directory swap never exposes doclens
    * and postings torn. Each batch's text is tokenized and counted
    * exactly once; the by-doc batch-wins anti-join drops a re-ingested
    * doc's stale doclens row and ALL its stale postings together (even
    * for terms its new text no longer contains), so the folded snapshot
    * is row-equal to a from-scratch build over the latest text per id.
    * Replays are safe: the merge is idempotent. Serve the snapshot with
    * [[graft.scale.Retrieval.bm25AgainstIndex]]. Same crash-consistent
    * snapshot swap as [[applyCdcStream]].
    */
  def maintainBm25Index(docs: DataFrame, statePath: String,
      idCol: String, textCol: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(docs, statePath,
      batch => graft.scale.Retrieval
        .bm25Index(batch.limit(0), idCol, textCol).schema) {
      (current, batch, _) =>
        graft.scale.Retrieval.bm25IndexMerge(current, batch, idCol, textCol)
    }

  /** Continuous cardinality-sketch maintenance: keep a persisted
    * per-group [[graft.scale.Sketches]] HLL register table current from
    * a stream of (group, 62-bit-hash) batches — each micro-batch builds
    * its OWN sketch (one aggregation over the batch only) and folds in
    * register-wise, the streaming form of q144's batch merge. The corpus
    * is never rescanned; the snapshot is groups × 64 ints forever.
    * Replays are safe without exactly-once transport: merge is an
    * element-wise max, so a re-delivered batch is absorbed, not
    * double-counted. Same crash-consistent snapshot swap as
    * [[applyCdcStream]].
    */
  def maintainHllSketches(rows: DataFrame, statePath: String,
      groupCol: String, hashCol: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(rows, statePath,
      batch => graft.scale.Sketches
        .hllSketch(batch.limit(0), groupCol, hashCol).schema) {
      (current, batch, _) =>
        graft.scale.Sketches.hllMerge(current,
          graft.scale.Sketches.hllSketch(batch, groupCol, hashCol), groupCol)
    }

  /** Streaming maintenance of the per-group count-min frequency sketch
    * ([[graft.scale.Sketches.cmsSketch]]): sketch each micro-batch,
    * element-wise-SUM it into the snapshot. Unlike the HLL fold this
    * merge is NOT idempotent — a re-applied batch double-counts — which
    * is exactly the case [[foldSnapshotStream]]'s checkpointed
    * foreachBatch + crash-consistent swap exists for: a batch is folded
    * once or not at all, never twice.
    */
  def maintainCmsSketches(rows: DataFrame, statePath: String,
      groupCol: String, hashCol: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(rows, statePath,
      batch => graft.scale.Sketches
        .cmsSketch(batch.limit(0), groupCol, hashCol).schema) {
      (current, batch, _) =>
        graft.scale.Sketches.cmsMerge(current,
          graft.scale.Sketches.cmsSketch(batch, groupCol, hashCol), groupCol)
    }

  /** Streaming maintenance of the per-group histogram quantile sketch
    * ([[graft.scale.Sketches.histSketch]]): sketch each micro-batch's
    * quantized units, element-wise-SUM into the snapshot. Same additive
    * (non-idempotent) contract as [[maintainCmsSketches]] — the
    * checkpointed fold guarantees each batch lands exactly once — and
    * the persisted table answers any quantile without rescanning
    * (q159's batch form certifies the arithmetic).
    */
  def maintainHistSketches(rows: DataFrame, statePath: String,
      groupCol: String, unitCol: String, loUnits: Long, hiUnits: Long,
      bins: Int):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(rows, statePath,
      batch => graft.scale.Sketches
        .histSketch(batch.limit(0), groupCol, unitCol, loUnits, hiUnits,
          bins).schema) {
      (current, batch, _) =>
        graft.scale.Sketches.histMerge(current,
          graft.scale.Sketches.histSketch(batch, groupCol, unitCol,
            loUnits, hiUnits, bins), groupCol)
    }

  /** Streaming maintenance of the AUC/ECE score-contingency table
    * ([[graft.scale.Eval.scoreContingency]]): collapse each micro-batch
    * of (group, unit, label) scores, element-wise-SUM into the snapshot.
    * Same additive exactly-once contract as [[maintainCmsSketches]].
    * The persisted table answers exact tie-aware AUC
    * ([[graft.scale.Eval.binaryAucFromContingency]]) and ECE at any
    * time WITHOUT re-reading a single historical score — the online
    * model-quality dashboard at ≤ resolution rows per group.
    */
  def maintainScoreContingency(rows: DataFrame, statePath: String,
      groupCol: String, unitsCol: String, labelCol: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foldSnapshotStream(rows, statePath,
      batch => graft.scale.Eval.scoreContingency(batch.limit(0),
        col(groupCol), col(unitsCol), col(labelCol)).schema) {
      (current, batch, _) =>
        graft.scale.Eval.contingencyMerge(current,
          graft.scale.Eval.scoreContingency(batch,
            col(groupCol), col(unitsCol), col(labelCol)))
    }

  /** The shared snapshot-fold engine behind [[applyCdcStream]] and
    * [[maintainMinhashIndex]]: per micro-batch, recover + read the
    * current snapshot (schema from `stateSchema(batch)`, empty on first
    * batch), apply `merge(current, batch, batchId)`, write the result
    * BESIDE the snapshot and swap with checked renames (see the crash-
    * consistency contract on [[applyCdcStream]]).
    */
  private[streaming] def foldSnapshotStream(source: DataFrame,
      statePath: String,
      stateSchema: DataFrame => org.apache.spark.sql.types.StructType)(
      merge: (DataFrame, DataFrame, Long) => DataFrame):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    source.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hconf = spark.sessionState.newHadoopConf()
        val state = new org.apache.hadoop.fs.Path(statePath)
        val fs = state.getFileSystem(hconf)
        def mustRename(src: org.apache.hadoop.fs.Path,
            dst: org.apache.hadoop.fs.Path): Unit =
          if (!fs.rename(src, dst))
            throw new java.io.IOException(
              s"snapshot fold: rename $src -> $dst failed; failing the " +
              "batch so the checkpoint does not commit over a stale snapshot")
        // Recovery: a crash between rename(state->old) and rename(next->
        // state) leaves no statePath but an __old<id> orphan holding the
        // last good snapshot. Restore the newest orphan before reading.
        if (!fs.exists(state)) {
          val orphans = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"${statePath}__old*"))
          if (orphans != null && orphans.nonEmpty) {
            val newest = orphans.maxBy { st =>
              st.getPath.getName.reverse.takeWhile(_.isDigit).reverse match {
                case "" => -1L
                case ds => ds.toLong
              }
            }
            mustRename(newest.getPath, state)
          }
        }
        val baseSchema = stateSchema(batch)
        val current =
          if (fs.exists(state)) spark.read.schema(baseSchema).parquet(statePath)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema)
        val merged = merge(current, batch, batchId)
        val next = new org.apache.hadoop.fs.Path(s"${statePath}__b${batchId}")
        merged.write.mode("overwrite").parquet(next.toString)
        val old = new org.apache.hadoop.fs.Path(s"${statePath}__old${batchId}")
        // a replay of a completed-but-uncleaned attempt leaves old behind;
        // it is obsolete (state exists and is >= it) and would make the
        // rename below return false
        if (fs.exists(old)) { fs.delete(old, true); () }
        if (fs.exists(state)) mustRename(state, old)
        mustRename(next, state)
        if (fs.exists(old)) { fs.delete(old, true); () }
    }
  }

  /** Stateful sessionization with flatMapGroupsWithState: a session closes
    * when `gapMinutes` of event time pass with no event — either observed
    * in-batch (next event arrives past the gap) or via event-time timeout
    * once the watermark passes last_event + gap. The streaming twin of the
    * batch lag/cumsum sessionizer (q13). State per user is O(1); scales
    * with distinct active users, not event volume. Event-time (not
    * processing-time) timeouts keep replays deterministic and avoid
    * timer-driven empty micro-batches.
    */
  def sessionize(events: Dataset[SessionInput], gapMinutes: Int = 30):
      Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start_ms, s.last_ms, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last_ms <= gapMs =>
                  cur = Some(SessionState(s.start_ms, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(user, s.start_ms, s.last_ms, s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last_ms + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
