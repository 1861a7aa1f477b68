package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The canonical streaming pipeline shape — readStream → event-time
  * window aggregation under a watermark → append sink — over the same
  * events schema q12 aggregates in batch (its "streaming twin").
  *
  * The reference has no windowed streaming (SURVEY §2.8: only the
  * membership timeouts); only EventPipelineSpec runs this one, and the
  * catalog's st rows live in `StreamingQueries`. State is bounded by
  * the watermark: windows older than (max event time − delay) are
  * finalized and evicted, so the operator runs indefinitely at any
  * rate.
  */
object EventPipeline {

  /** Tumbling-window counts + sums per (window, event_type). Works on
    * any DataFrame with (ts: timestamp, event_type: string,
    * value: double) — streaming or batch (Spark plans both from the
    * same declaration; a batch frame just computes all windows).
    *
    * total_value follows the engine's integral-cents convention:
    * round(v*100) is one deterministic IEEE op per row and long
    * addition is order-independent, where round(sum(double)) could
    * flip on an ulp boundary between two runs that sum a window's
    * values in different partition orders. Rounding (not floor) is
    * the representation-safe direction: a cents-valued double like
    * 12.34 stores as 12.339999…, so floor(v*100) loses a full cent
    * on such rows — a bias that scales with rows per window — while
    * round recovers the intended integer exactly and bounds the error
    * on arbitrary doubles at half a cent per row.
    */
  def hourlyByType(events: DataFrame, watermarkDelay: String = "30 minutes",
                   windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_value_c"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"),
        (col("total_value_c") / 100.0).as("total_value"))
}
