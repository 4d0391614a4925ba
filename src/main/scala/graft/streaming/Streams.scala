package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.ops.Load

/** Structured Streaming surface: the streaming forms of the batch
  * operators (windowed aggregation, sessionization). The reference is
  * cron-batch only (SURVEY §7.8) — these are the forward-looking stream
  * equivalents for the same event-table shape, watermark-correct so state
  * is bounded at scale.
  */
object Streams {

  /** readStream over a directory of events parquet. Streaming sources
    * require an explicit schema, so take it from the files already in the
    * directory (footers only, no data scan; see Load.parquet), then
    * normalize `ts` to TimestampType whatever the writer encoded
    * (BIGINT nanos, timestamp[us], or timestamp_ntz — see Load.events).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = Load.parquet(spark, dir).schema
    val raw = spark.readStream.schema(fileSchema).parquet(dir)
    raw.schema("ts").dataType match {
      case LongType =>
        // `div`, not `/`: double division rounds near-µs values up (see Load.events)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected BIGINT nanos or a timestamp")
    }
  }

  /** Tumbling-window counts+sums with watermark (bounded state). */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Tumbling-window approximate-distinct users via the mergeable KMV
    * sketch ([[graft.functions.Kmv]]): the sketch IS the aggregation
    * buffer the state store carries between micro-batches, so per-window
    * state is O(k) no matter how many distinct users arrive —
    * `count(distinct)` is not allowed on a stream at all, and a
    * collect_set buffer grows with cardinality. The sketch content is a
    * pure set-function of the window's input, so the streamed result is
    * IDENTICAL to the batch twin (q116's gated query), not merely close
    * — spec-asserted.
    */
  def windowedDistinctUsers(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "1 hour", k: Int = 64): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        graft.functions.Kmv.hash62(col("user_id").cast("string")).as("__h"))
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Kmv.sketch(col("__h"), k).as("__sk"))
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("n_events"),
        size(col("__sk")).cast("long").as("sketch_size"),
        graft.functions.Kmv.estimate(col("__sk"), k).as("est_users"))

  /** Streaming trending keys per window — the Misra–Gries summary as
    * the state-store buffer, the heavy-hitters sibling of
    * [[windowedDistinctUsers]]'s KMV: per-window top-`topN` keys with
    * O(capacity) state per open window (a `collect_list`/exact-count
    * buffer grows with the window's traffic). Exact — not approximate —
    * whenever the window's distinct keys fit `capacity` (the MG exact
    * regime), which is the deployment shape for typed event streams;
    * q137's batch twin gates that regime against plain exact counts,
    * and StreamingSpec asserts streamed == batch twin bit-for-bit.
    * Ties rank (cnt desc, key asc) — the summary's output order.
    */
  def windowedTrending(events: DataFrame, keyCol: String,
      window_ : String = "1 hour", watermark: String = "1 hour",
      capacity: Int = 16, topN: Int = 3): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col(keyCol))
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.FreqItemsAgg.freqItems(array(col(keyCol)), capacity)
          .as("__hh"))
      .select(col("window"), col("n_events"),
        posexplode(col("__hh")).as(Seq("__r", "__e")))
      .filter(col("__r") < topN)
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("n_events"), (col("__r") + 1).cast(LongType).as("rank"),
        col("__e.item").as(keyCol), col("__e.cnt").as("cnt"))

  /** Streaming exact dedup: drop repeated keys arriving within the
    * watermark horizon (`dropDuplicatesWithinWatermark` — state for a key
    * is evictable once the watermark passes it, so state stays bounded on
    * an unbounded stream; plain `dropDuplicates` on a stream never
    * forgets). The streaming twin of Dedup.exactDedup's keep-first
    * semantics for keys inside one horizon.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream INTERVAL JOIN: pair each left event with
    * the SAME user's right-side events landing within
    * [left_ts, left_ts + maxDelaySeconds] — the funnel/attribution join
    * (view → purchase). Both inputs carry watermarks and the condition
    * time-bounds the match window from both sides; that is what lets the
    * engine evict a buffered row once the watermark clears its horizon —
    * bounded state on unbounded streams (an unconstrained stream-stream
    * join must buffer both sides forever).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      maxDelaySeconds: Long, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("event_id").as("right_id"), col("user_id").as("__ruser"),
        col("ts").as("right_ts"))
    l.join(r, expr(
      s"""user_id = __ruser AND
         |right_ts >= left_ts AND
         |right_ts <= left_ts + interval $maxDelaySeconds seconds""".stripMargin))
      .select(col("left_id"), col("user_id"), col("left_ts"),
        col("right_id"), col("right_ts"))
  }

  /** [[intervalJoin]]'s LEFT OUTER twin — the non-conversion report: a
    * left event with no matching right event inside its window is still
    * EMITTED, with nulls on the right side. What makes this a genuinely
    * different streaming feature (not a join-type flag): an inner match
    * can emit the moment both rows meet, but "no match" is only decided
    * when the WATERMARK passes the window's far edge — the engine holds
    * each unmatched left row until `left_ts + maxDelaySeconds` clears
    * the watermark, then emits it null-extended. Results arrive late by
    * construction; the state bound is the same eviction argument as the
    * inner join's.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
      maxDelaySeconds: Long, watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("event_id").as("left_id"), col("user_id"),
        col("ts").as("left_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("event_id").as("right_id"), col("user_id").as("__ruser"),
        col("ts").as("right_ts"))
    l.join(r, expr(
      s"""user_id = __ruser AND
         |right_ts >= left_ts AND
         |right_ts <= left_ts + interval $maxDelaySeconds seconds""".stripMargin),
      "left_outer")
      .select(col("left_id"), col("user_id"), col("left_ts"),
        col("right_id"), col("right_ts"))
  }

  /** Stream-STATIC dedup probe: drop arriving rows whose `keys` already
    * exist in a static index (the persisted fingerprint store of all
    * previously-ingested documents — [[graft.dedup.Dedup.buildSignatureIndex]]'s
    * exact-tier sibling). Structured Streaming supports stream-static
    * inner/left-outer/left-semi joins but NOT left-anti, so the anti is
    * the standard emulation: left-outer against the key-projected index
    * + IS NULL filter. The static side never grows per-batch state — each
    * micro-batch plans a fresh join against it (broadcast when small, at
    * scale a bucketed store makes it co-located); the stream side carries
    * no state at all, unlike `dropDuplicatesWithinWatermark`, because
    * history lives in the index, not in the state store.
    */
  def dedupAgainstIndex(
      stream: DataFrame,
      index: DataFrame,
      keys: Seq[String]): DataFrame = {
    val marked = index.select(keys.map(col): _*).distinct()
      .withColumn("__seen", lit(1))
    stream.join(marked, keys, "left_outer")
      .filter(col("__seen").isNull)
      .drop("__seen")
  }

  /** NEAR-dup filter for one micro-batch against a PERSISTED MinHash
    * signature index — the online-ingest tier above [[dedupAgainstIndex]]
    * (which catches only exact fingerprints): arriving docs that are
    * ≥ jacNum/jacDen n-gram-Jaccard similar to ANY history doc drop.
    * Candidates come from the LSH index probe
    * ([[graft.dedup.Dedup.incrementalNearDupPairs]] — the batch never
    * re-hashes the corpus); the verify tier re-shingles candidates only
    * and decides with the cross-multiplied INTEGER compare
    * `|∩|·den ≥ num·|∪|` (a double ratio against a 0.8 literal can flip
    * on boundary-exact rationals — 4/5 is not a binary number).
    *
    * Only history pairs count — new-vs-new inside the batch is
    * deliberately excluded, so the output is INDEPENDENT of micro-batch
    * boundaries: streamed in any chunking ≡ the whole input as one
    * batch (the stream==batch law [[StreamingSpec]] drives; q130 gates
    * the batch twin). Within-increment dedup belongs to the batch
    * passes (q30–q36) that run before an increment ships.
    */
  def nearDupFilterBatch(batch: DataFrame, index: DataFrame,
      historyTexts: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 5, jacNum: Long = 4L, jacDen: Long = 5L,
      k: Int = 64, bands: Int = 16, maxBucketSize: Int = 100,
      indexBucketsPrefiltered: Boolean = false): DataFrame = {
    import graft.dedup.Dedup
    require(jacDen >= jacNum && jacNum > 0)
    val cands = Dedup.incrementalNearDupPairs(batch, index, textCol, idCol,
        k, bands, shingleN,
        threshold = 0.75 * jacNum.toDouble / jacDen,
        maxBucketSize, indexBucketsPrefiltered)
      .select("new_id", "other_id")
      // history-only: micro-batch boundaries must not change survivors
      .join(historyTexts.select(col(idCol).as("other_id")).distinct(),
        Seq("other_id"), "left_semi")
    val newTexts = batch.select(col(idCol).as("new_id"), col(textCol).as("__ta"))
    val histTexts = historyTexts.select(col(idCol).as("other_id"),
      col(textCol).as("__tb"))
    val dropped = cands
      .join(newTexts, Seq("new_id"))
      .join(histTexts, Seq("other_id"))
      .withColumn("__sa", Dedup.shingleHashes(col("__ta"), shingleN))
      .withColumn("__sb", Dedup.shingleHashes(col("__tb"), shingleN))
      .withColumn("__i",
        graft.functions.HashExprs.sortedIntersectCount(col("__sa"), col("__sb"))
          .cast(LongType))
      .filter(col("__i") * lit(jacDen) >=
        lit(jacNum) * (size(col("__sa")) + size(col("__sb")) - col("__i")))
      .select(col("new_id").as(idCol)).distinct()
    batch.join(dropped, Seq(idCol), "left_anti")
  }

  /** foreachBatch wiring of [[nearDupFilterBatch]] into the idempotent
    * parquet sink — the streaming ingest path: each arriving micro-batch
    * probes the static index, survivors land in `batch=<id>` dirs.
    */
  def nearDupFilterSink(stream: DataFrame, index: DataFrame,
      historyTexts: DataFrame, textCol: String, idCol: String, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatchIdempotent(
          nearDupFilterBatch(b.toDF(), index, historyTexts, textCol, idCol),
          path, id))
      .option("checkpointLocation", s"$path/_checkpoint")
      .start()

  /** One micro-batch of the idempotent sink: each batch lands in its
    * own `batch=<id>` directory with overwrite semantics, so a REPLAYED
    * batch (crash before the checkpoint commit → re-delivery with the
    * SAME batch id) overwrites its own previous output instead of
    * appending duplicates. Idempotence per batch id + the checkpoint's
    * at-least-once delivery = effectively-once file output.
    */
  def writeBatchIdempotent(batch: DataFrame, path: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  /** foreachBatch file sink built on [[writeBatchIdempotent]]; the
    * checkpoint directory rides next to the data.
    */
  def idempotentParquetSink(df: DataFrame, path: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatchIdempotent(b.toDF(), path, id))
      .option("checkpointLocation", s"$path/_checkpoint")
      .start()

  final case class Event(event_id: Long, user_id: Long, ts_s: Long)
  final case class SessionState(sessionId: Long, lastTs: Long)
  final case class SessionizedEvent(event_id: Long, user_id: Long, ts_s: Long, session_id: Long)

  final case class EventEt(
      event_id: Long, user_id: Long, ts_s: Long, et: java.sql.Timestamp)
  final case class SessionStartState(sessionStart: Long, lastTs: Long)
  final case class SessionOut(
      event_id: Long, user_id: Long, ts_s: Long, session_start: Long)

  /** Production-shaped sessionization with BOUNDED state: event-time
    * timeout equal to the session gap evicts a user's state once the
    * watermark passes `lastTs + gap` — at that point any future on-time
    * event starts a new session anyway, so eviction changes nothing
    * except freeing the state store (the NoTimeout variant below holds
    * every user ever seen, forever). The session id is the session's
    * START time, not an ordinal — an ordinal cannot survive eviction,
    * a start-time is reconstructible from any state lifetime.
    */
  def sessionizeBounded(events: Dataset[Event], gapSeconds: Long = 1800)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val withEt = events
      .select(col("event_id"), col("user_id"), col("ts_s"),
        timestamp_seconds(col("ts_s")).as("et"))
      .withWatermark("et", s"$gapSeconds seconds")
      .as[EventEt]
    withEt.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionStartState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionStartState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(SessionStartState(Long.MinValue, Long.MinValue))
            val out = rows.toSeq.sortBy(e => (e.ts_s, e.event_id)).map { e =>
              st =
                if (st.lastTs == Long.MinValue || e.ts_s - st.lastTs > gapSeconds)
                  SessionStartState(e.ts_s, e.ts_s)
                else st.copy(lastTs = e.ts_s)
              SessionOut(e.event_id, userId, e.ts_s, st.sessionStart)
            }
            state.update(st)
            // evict once the watermark is strictly past the gap horizon
            state.setTimeoutTimestamp((st.lastTs + gapSeconds) * 1000L + 1000L)
            out.iterator
          }
      }
  }

  /** Stateful sessionization via flatMapGroupsWithState: a >gap second
    * silence starts a new session. The streaming twin of the batch
    * window-lag formulation (MiscOps.q51Sessionize) — state per user is
    * one (sessionId, lastTs) pair. Ordinal session ids require unbounded
    * state; prefer [[sessionizeBounded]] on real streams.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800)(
      implicit spark: SparkSession): Dataset[SessionizedEvent] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          val out = rows.toSeq.sortBy(e => (e.ts_s, e.event_id)).map { e =>
            st =
              if (st.lastTs == Long.MinValue || e.ts_s - st.lastTs > gapSeconds)
                SessionState(st.sessionId + 1, e.ts_s)
              else st.copy(lastTs = e.ts_s)
            SessionizedEvent(e.event_id, userId, e.ts_s, st.sessionId)
          }
          state.update(st)
          out.iterator
      }
  }
}
