package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** General-purpose Structured Streaming operators, complementing the
  * CDC-specific state machine in [[CdcPipeline]].
  *
  * The reference's streaming surface is the Kafka CDC consumer
  * (`database/taskflow/cdc_consume.go`, `message/tidb/consumer.go`) whose
  * resolved-ts barrier is an *exact* watermark ([[CdcPipeline]]). A
  * general analytics engine additionally needs the *heuristic* watermark
  * family — event-time windows that close when the watermark passes, late
  * data dropped, keyed dedup with bounded state — which Spark provides
  * natively; these wrappers pin the engine's conventions (UTC event time,
  * append output, bounded state) and give each operator a tested shape.
  *
  * Scale notes: all of these run with per-key/per-window state in the
  * state store, partitioned by the grouping key — state size is bounded
  * by (keys x open windows), never by stream length, because the
  * watermark evicts closed windows/expired keys. That is the property
  * that lets the same pipeline run against a 100 TB/day Kafka topic.
  */
object StreamOps {

  /** Tumbling event-time window aggregation with a heuristic watermark.
    * Append mode: a window's single final row is emitted only once the
    * watermark passes its end; events later than `delay` are dropped.
    */
  def tumblingAgg(
      events: DataFrame,
      tsCol: String,
      delay: String,
      windowDur: String,
      keys: Seq[String],
      aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows: rows within `gap` of each other merge into one
    * session per key. The watermark closes sessions (append mode), so
    * state per key is one open session, not the whole history.
    */
  def sessionAgg(
      events: DataFrame,
      tsCol: String,
      delay: String,
      gap: String,
      keys: Seq[String],
      aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming exact dedup with bounded state: keeps the first row per
    * key, forgetting keys once the watermark passes their event time +
    * delay. The batch twin is `dropDuplicates(keys)`; the Within-Watermark
    * variant is what makes it viable on an unbounded stream.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      delay: String,
      keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream inner join: each side buffers only rows
    * inside the interval condition's time bound (plus watermark delay),
    * so join state is evicted as the watermark advances — the only join
    * shape that survives two unbounded inputs.
    *
    * `leftTs`/`rightTs` are event-time columns; `within` bounds
    * right.ts - left.ts to [0, within].
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      delay: String,
      within: String,
      joinKeys: Column): DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r = right.withWatermark(rightTs, delay)
    l.join(
      r,
      joinKeys &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
      "inner")
  }

  /** Streaming near-dup drop: the LSH band fingerprint is a pure
    * PROJECTION (native text-form MinHash expression — no shuffle, no
    * state of its own), so it composes with dropDuplicatesWithinWatermark
    * exactly like an exact-dedup key: the first document per band bucket
    * passes, later collisions (exact duplicates always; near-duplicates
    * with the usual LSH probability) are dropped while the bucket is
    * inside the watermark horizon. State is bounded by distinct buckets
    * per horizon — the streaming-ingest form of the batch
    * minhashCandidates pipeline.
    */
  def nearDupDropWithinWatermark(
      docs: DataFrame,
      tsCol: String,
      delay: String,
      textCol: String,
      shingleLen: Int = 8,
      bandLanes: Int = 4): DataFrame = {
    require(bandLanes >= 1, s"bandLanes must be >= 1, got $bandLanes")
    import graft.functions.TextFunctions._
    // compute exactly the lanes the band uses (no wasted hashes) and key
    // on one primitive — xxhash64 of the lane array — instead of a
    // per-row joined string (the codebase's band-key convention, see
    // Dedup.lshBands)
    // fused text-form minhash: normText evaluates once per row as the
    // direct child (the array form's transform lambda re-evaluates it
    // per shingle position on non-CSE paths — quadratic in doc length,
    // see Dedup.minhashSignatures)
    val sig = graft.plans.GraftFunctions.minhashText(
      normText(col(textCol)), shingleLen, bandLanes)
    dedupWithinWatermark(
      docs.withColumn("__band", xxhash64(sig)), tsCol, delay, Seq("__band"))
      .drop("__band")
  }

  /** Stream-static enrichment join: an unbounded stream against a bounded
    * dimension. The static side broadcasts (it is re-read per micro-batch,
    * picking up dim updates between batches), the stream side keeps NO
    * join state — the cheapest join on a stream, and the CDC-apply path's
    * schema/dim lookup. `how` may be "inner" or "left_outer" (stream side
    * preserved).
    */
  def enrichWithStatic(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      how: String = "inner"): DataFrame =
    stream.join(broadcast(dim), keys, how)
}
