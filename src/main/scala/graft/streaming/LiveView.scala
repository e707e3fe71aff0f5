package graft.streaming

import graft.functions.st
import graft.ops.SpatialJoin
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming live view — the reference's continuously-updated feature cache
 * (geomesa-stream/.../StreamDataStore.scala:38-100: Guava TTL cache +
 * quadtree; geomesa-kafka/.../KafkaConsumerFeatureSource.scala:44-115:
 * CreateOrUpdate/Delete upsert by feature id) re-expressed as Structured
 * Streaming stateful processing:
 *
 *   - upsert-by-id      → groupByKey(id) + mapGroupsWithState keeping the
 *                         latest event per key (T2)
 *   - TTL eviction      → ProcessingTimeTimeout on the state (T1)
 *   - spatial predicate → ST_* filter on the emitted snapshot stream (T3)
 *
 * Input contract: an append stream with columns
 * (id: string, lon: double, lat: double, ts: timestamp, op: string) where
 * op ∈ {upsert, delete} (the Kafka protocol's CreateOrUpdate/Delete).
 * Output: a changelog stream of the live view (OutputMode.Update).
 */
object LiveView {

  case class FeatureEvent(id: String, lon: Double, lat: Double,
                          tsMillis: Long, op: String)
  case class LiveFeature(id: String, lon: Double, lat: Double,
                         tsMillis: Long, alive: Boolean)

  /**
   * Latest-state-per-id. Emits the new state on every update; `alive=false`
   * marks deletes (downstream filters them out).
   *
   * TTL follows the reference's Guava-cache READ semantics (expired entries
   * are invisible on read, physically evicted opportunistically): apply
   * [[withTtl]] on the view side with an explicit as-of time — deterministic
   * and testable. Background physical eviction would use
   * GroupStateTimeout.ProcessingTimeTimeout timers; that keeps the query in
   * a continuous no-data micro-batch loop (the timer sweep), which is the
   * right production trade but incompatible with drain-and-stop testing.
   */
  def liveState(events: Dataset[FeatureEvent]): Dataset[LiveFeature] = {
    implicit val enc: Encoder[LiveFeature] = Encoders.product[LiveFeature]
    implicit val se: Encoder[String] = Encoders.STRING
    events.groupByKey(_.id).mapGroupsWithState(
      GroupStateTimeout.NoTimeout)(
      (id: String, batch: Iterator[FeatureEvent], state: GroupState[LiveFeature]) => {
        // upsert-by-id: the LATEST event (by ts, then arrival) wins —
        // KafkaConsumerFeatureSource keeps one version per feature id
        val evs = batch.toSeq
        val latest = evs.maxBy(_.tsMillis)
        val next =
          if (latest.op == "delete") LiveFeature(id, latest.lon, latest.lat, latest.tsMillis, alive = false)
          else LiveFeature(id, latest.lon, latest.lat, latest.tsMillis, alive = true)
        if (next.alive) state.update(next)
        else if (state.exists) state.remove()
        next
      })
  }

  /**
   * Latest-state-per-id WITH physical state eviction (the reference's Guava
   * cache `expireAfterWrite` — StreamDataStore.scala:38-100): an event-time
   * timer evicts a key `ttlMillis` after its last write, emitting a final
   * `alive=false` tombstone. Event-time timers fire as the WATERMARK
   * advances (data-driven — no continuous no-data micro-batch loop, unlike
   * ProcessingTimeTimeout), so state size tracks the live key set, not the
   * all-time key set. Use this in production pipelines; [[liveState]] +
   * [[withTtl]] remains the deterministic view-side variant.
   */
  def liveStateEvicting(events: Dataset[FeatureEvent], ttlMillis: Long,
                        lateness: String = "0 seconds"): Dataset[LiveFeature] = {
    implicit val enc: Encoder[LiveFeature] = Encoders.product[LiveFeature]
    implicit val se: Encoder[String] = Encoders.STRING
    implicit val fe: Encoder[FeatureEvent] = Encoders.product[FeatureEvent]
    val withTime = events.toDF()
      .withColumn("__et", timestamp_millis(col("tsMillis")))
      .withWatermark("__et", lateness)
      .as[FeatureEvent]
    withTime.groupByKey(_.id).mapGroupsWithState(
      GroupStateTimeout.EventTimeTimeout)(
      (id: String, batch: Iterator[FeatureEvent], state: GroupState[LiveFeature]) => {
        if (state.hasTimedOut) {
          val last = state.get
          state.remove()
          LiveFeature(id, last.lon, last.lat, last.tsMillis, alive = false)
        } else {
          val latest = batch.toSeq.maxBy(_.tsMillis)
          val next =
            if (latest.op == "delete") LiveFeature(id, latest.lon, latest.lat, latest.tsMillis, alive = false)
            else LiveFeature(id, latest.lon, latest.lat, latest.tsMillis, alive = true)
          if (next.alive) {
            state.update(next)
            // timers must be set beyond the current watermark
            state.setTimeoutTimestamp(math.max(latest.tsMillis + ttlMillis,
              state.getCurrentWatermarkMs + 1))
          } else if (state.exists) state.remove()
          next
        }
      })
  }

  /** TTL view filter (write-TTL expiry as of `asOfMillis`). */
  def withTtl(live: Dataset[LiveFeature], ttlMillis: Long, asOfMillis: Long): Dataset[LiveFeature] =
    live.filter(f => f.alive && asOfMillis - f.tsMillis <= ttlMillis)

  /** Live snapshot filtered by a bbox — the BBOX-on-live-window query the
    * reference answers from its quadtree (T3). */
  def bboxView(live: Dataset[LiveFeature],
               xmin: Double, ymin: Double, xmax: Double, ymax: Double): DataFrame =
    live.filter(f => f.alive &&
        f.lon >= xmin && f.lon <= xmax && f.lat >= ymin && f.lat <= ymax)
      .toDF()

  /**
   * Stream-static spatial join: a stream of points against a STATIC
   * polygon table — the reference's "which region is this live feature
   * in" enrichment. It is the batch join
   * ([[graft.ops.SpatialJoin.polygonsWithPoints]]) with the polygon covers
   * broadcast (the only sound build side for an unbounded stream): the
   * stream side adds its ancestor-ladder cells as a narrow projection, so
   * every micro-batch pays one broadcast-hash probe + exact refine and
   * the stream NEVER shuffles.
   */
  def streamPointsInPolygons(stream: DataFrame, lonName: String, latName: String,
                             polys: DataFrame, polyGeomName: String,
                             levels: Array[Int] = SpatialJoin.DefaultLevels,
                             budget: Int = SpatialJoin.DefaultBudget): DataFrame =
    SpatialJoin.polygonsWithPoints(polys, col(polyGeomName),
      stream, st.point(col(lonName), col(latName)),
      df => st.contains(df(polyGeomName), st.point(df(lonName), df(latName))),
      levels, budget, broadcastPolys = Some(true))

  /** Convenience: parse a raw streaming DataFrame into FeatureEvents. */
  def fromRaw(df: DataFrame): Dataset[FeatureEvent] = {
    implicit val enc: Encoder[FeatureEvent] = Encoders.product[FeatureEvent]
    df.select(
      col("id").cast("string"),
      col("lon").cast("double"),
      col("lat").cast("double"),
      col("tsMillis").cast("long"),
      col("op").cast("string")).as[FeatureEvent]
  }
}
