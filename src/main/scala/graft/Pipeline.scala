package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Numeric._
import graft.operators.{Movement, Quality, TimeSeries}

/** The full CellPhe analytics chain composed as ONE Spark plan — the
  * end-to-end equivalent of the reference workflow
  * (main.nf:408: parse -> filter_size_and_observations ->
  * frame features -> create_frame_summary_features ->
  * cellphe_time_series_features), minus the image-decode stages that
  * are stubbed behind `multimodal.Binary`.
  *
  * Stage chain: QC filter (min measure + min observations) -> movement
  * features over the surviving tracks -> per-track trajectory summary
  * (path length, net displacement, elevation metrics, wavelet energy).
  * Because each stage is a declarative transform on the same
  * entity-partitioned frame, Catalyst fuses the chain into a handful of
  * stages sharing one shuffle on the track key.
  */
object Pipeline {
  def full(events: DataFrame, minValue: Double = 10.0, minObs: Long = 50L): DataFrame =
    fullObserved(events, None, minValue, minObs)

  /** As `full`, optionally attaching an `Observation` that collects QC
    * counters (rows and distinct tracks surviving the filter) as a
    * side effect of the job itself — at 100 TB a separate count pass
    * costs a full scan; observe() rides the existing one for free.
    * After the caller's action completes, `obs.get` yields
    * qc_rows / qc_tracks.
    *
    * Caveat (Spark engine behaviour, pinned in PipelineObserveSpec): a
    * registered Observation makes the session's non-serializable
    * ObservationManager reachable from closures built LATER on the
    * same session — e.g. MLlib model.transform then fails with
    * Task-not-serializable. Run observed pipelines in their own
    * `spark.newSession()` when the session also trains models. */
  def fullObserved(events: DataFrame, obs: Option[org.apache.spark.sql.Observation],
                   minValue: Double = 10.0, minObs: Long = 50L): DataFrame = {
    val filteredRaw = graft.sources.Ingest.eventsTyped(
      Quality.filterSizeAndObservations(
        events, "user_id", col("value"), minValue, minObs))
      .withColumn("ts_s", unix_timestamp(col("ts")))
      .withColumn("x", col("value"))
    val filtered = obs match {
      case Some(o) => filteredRaw.observe(o,
        count(lit(1)).as("qc_rows"),
        approx_count_distinct(col("user_id")).as("qc_tracks"))
      case None => filteredRaw
    }
    val moved = Movement.features(filtered, "user_id", col("event_id"), col("ts_s"),
      col("x"), col("y"))
    val trackSummary = moved.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_obs"),
        cround(max(col("trac")), 4).as("total_path"),
        cround(max(col("dis")), 4).as("max_displacement"))
    val elev = TimeSeries.elevation(filtered, "user_id", col("event_id"), col("value"))
      .select(col("user_id"), col("ascent"), col("descent"), col("range_v"))
    val wave = TimeSeries.haarEnergies(filtered, "user_id", col("event_id"), col("value"))
      .select(col("user_id"), col("l1_energy"), col("l2_energy"))
    trackSummary.join(elev, "user_id").join(wave, "user_id")
  }
}
