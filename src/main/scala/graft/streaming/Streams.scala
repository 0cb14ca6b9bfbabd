package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming forms of the incremental semantics (SURVEY.md
  * §2.10): the reference hand-rolls a polling follower; here the same
  * contracts are event-time streams — watermarks bound state exactly like
  * the T4/T5 sliding windows bound the batch recomputes.
  *
  * Scale notes: all three operators are keyed stateful transforms — state
  * lives in the state store partitioned by key, no driver state, and the
  * watermark bounds its size (5-day event-time horizon ⇒ state ∝ active
  * keys within the horizon, independent of total history).
  */
object Streams {

  /** A witness-edge observation on the stream (one exploded receipt). */
  case class WitnessObs(key: String, time: Long, snr: Double, isValid: Boolean)
  /** The retained newest edge per ordered pair. */
  case class WitnessLatest(key: String, time: Long, snr: Double, isValid: Boolean)

  /** T5 streaming: per-user event-time windowed reward sums with a
    * watermark (the `rewards_5d` window as a live aggregate instead of a
    * whole-window recompute). Input needs `ts_us` (long µs) + `user_id` +
    * `value`; emits one row per (user, window).
    */
  def windowedRewards(events: DataFrame, windowLength: String,
                      watermarkDelay: String): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), window(col("ts"), windowLength).as("w"))
      .agg(sum(round(col("value") * 100).cast("long")).as("rewards_c"),
        count(lit(1)).as("cnt"))
      .select(col("user_id"), col("w.start").as("window_start"),
        col("rewards_c"), col("cnt"))

  /** D2/D4 streaming: deterministic newest-wins per ordered-pair key as
    * running state (`mapGroupsWithState`) — the streaming twin of
    * [[graft.operators.Dedup.newestWins]]. Late or duplicate receipts
    * never regress the stored edge (T6). Emits the current winner per key
    * on every update.
    */
  def newestWinsState(obs: Dataset[WitnessObs]): Dataset[WitnessLatest] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.key)
      .mapGroupsWithState[WitnessLatest, WitnessLatest](GroupStateTimeout.NoTimeout) {
        (key, batch, state: GroupState[WitnessLatest]) =>
          import scala.math.Ordering.Implicits._
          val newestInBatch = batch.maxBy(o => (o.time, o.snr))
          val winner = state.getOption match {
            case Some(cur) if (cur.time, cur.snr) >= ((newestInBatch.time, newestInBatch.snr)) => cur
            case _ =>
              val w = WitnessLatest(key, newestInBatch.time,
                newestInBatch.snr, newestInBatch.isValid)
              state.update(w)
              w
          }
          winner
      }
  }

  /** T6 streaming: watermark-bounded exactly-once by content key —
    * `dropDuplicates` over the D1 key with the event-time watermark
    * bounding the dedup state (the streaming twin of `onDuplicate='ignore'`
    * with a retention horizon).
    */
  def dedupByContentKey(events: DataFrame, keyCol: String,
                        watermarkDelay: String): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates(keyCol, "ts")

  /** Streaming sessionization — the live twin of
    * [[graft.operators.Sessionize.rollup]], via Spark's NATIVE
    * `session_window` (the declarative form: the state store merges
    * overlapping/adjacent per-event windows and the watermark closes and
    * evicts sessions — exactly the custom state `flatMapGroupsWithState`
    * would hand-roll, minus the hand-rolling). Emits one row per closed
    * (user, session) with the same count/bounds/sum shape as the batch
    * rollup. Gap semantics: the gap is taken in MICROSECONDS and widened by
    * 1µs internally — `session_window` treats an event at exactly
    * `start + gap` as a NEW session (half-open window) while the batch
    * operator's strict `>` keeps it in-session, so passing `gap + 1µs` to
    * the native window makes the stream cut sessions exactly where
    * [[graft.operators.Sessionize.rollup]] does for the same gap constant
    * (no caller-side adjustment, no off-by-one on exact-gap events).
    */
  def sessionized(events: DataFrame, gapUs: Long, watermarkDelay: String): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"${gapUs + 1} microseconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start"),
        max(col("ts_us")).as("session_end"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_c"))
      .select(col("user_id"), col("n_events"), col("session_start"),
        col("session_end"), col("duration"), col("sum_value_c"))

  /** Live Count-Min sketch per event-time window — the streaming twin of
    * [[graft.operators.Sketches.cmsSketch]] grouped by day. Because the
    * sketch is a plain keyed SUM over (window, row, bucket) cells, it
    * needs no custom state: Spark's watermarked aggregation IS the sketch
    * maintainer, late rows within the watermark land in the right cells,
    * and the ≤ depth·width cells per window are exactly what
    * [[graft.operators.Sketches.cmsMerge]] folds into coarser rollups
    * downstream — the property that makes the sketch family streaming-
    * native for free. Input needs `ts_us` + the key column; emits
    * (window_start, row, bucket, c).
    */
  def cmsSketched(events: DataFrame, key: String, windowLength: String,
                  watermarkDelay: String, depth: Int,
                  width: Int): DataFrame = {
    val windowed = events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .withColumn("w", window(col("ts"), windowLength))
    graft.operators.Sketches.cmsSketch(windowed, col(key), lit(1L), depth,
        width, groups = Seq("w"))
      .select(col("w.start").as("window_start"), col("row"), col("bucket"),
        col("c"))
  }

  /** Live distinct-count estimate per event-time window — the streaming
    * twin of [[graft.operators.Sketches.kmvDistinct]] grouped by day. The
    * KMV buffer is a typed `Aggregator`, and Spark's watermarked
    * aggregation maintains aggregator state across micro-batches exactly
    * like map-side partial buffers across tasks (same `merge`), so the
    * live estimate per window EQUALS the batch build over the same rows —
    * the uniques dashboard without a distinct shuffle per trigger.
    * Input needs `ts_us` + the key column; emits
    * (window_start, n_mins, est_distinct).
    */
  def kmvSketched(events: DataFrame, key: String, windowLength: String,
                  watermarkDelay: String, k: Int): DataFrame = {
    val windowed = events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .withColumn("w", window(col("ts"), windowLength))
    graft.operators.Sketches.kmvDistinct(windowed, Seq("w"), col(key), k)
      .select(col("w.start").as("window_start"), col("n_mins"),
        col("est_distinct"))
  }

  /** One event on the tagged temporal stream: right-side rows (`isRight`)
    * update per-key state, left-side rows get enriched.
    */
  case class TemporalEvent(key: String, time: Long, isRight: Boolean, value: Double)
  case class Enriched(key: String, time: Long, value: Double,
                      asofTime: Option[Long], asofValue: Option[Double])

  /** Streaming as-of enrichment — the live twin of
    * [[graft.operators.AsOf.backward]]: per key, right-side events fold
    * into newest-wins running state; each left-side event emits enriched
    * with the latest right state whose time is ≤ its own (inclusive, the
    * batch operator's bound). Within a micro-batch events process in
    * event-time order with rights-before-lefts at ties, so a batch whose
    * rights arrive in order reproduces the batch join exactly; a left
    * arriving AFTER a newer right has already landed (late data) gets no
    * match rather than a future one — the deterministic degradation,
    * since unbounded buffering is what the batch operator is for. State
    * is one (time, value) pair per key. Equal-time right events resolve
    * deterministically to the GREATEST value (the tiebreak contract the
    * batch operator requires explicitly) — without it the surviving state
    * would depend on shuffle iteration order.
    */
  def asofEnrichState(events: Dataset[TemporalEvent]): Dataset[Enriched] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Double), Enriched](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key, batch, state: GroupState[(Long, Double)]) =>
          // rights before lefts at equal time (inclusive bound); equal-time
          // rights ascend by value so the last applied = greatest value
          val ordered = batch.toSeq
            .sortBy(e => (e.time, if (e.isRight) 0 else 1, e.value))
          val out = Seq.newBuilder[Enriched]
          var cur = state.getOption
          ordered.foreach { e =>
            if (e.isRight) {
              if (cur.forall(c => c._1 < e.time ||
                  (c._1 == e.time && c._2 <= e.value)))
                cur = Some((e.time, e.value))
            } else {
              val visible = cur.filter(_._1 <= e.time)
              out += Enriched(key, e.time, e.value,
                visible.map(_._1), visible.map(_._2))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }
}
