package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
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
  * Like the reference's one pass over a cell's time-ordered rows, the
  * chain is one scan and one hash exchange on the track key: the QC
  * count window, the movement, elevation and Haar window columns (one
  * ordered spec) and one `groupBy(user_id)` share that partitioning.
  */
object Pipeline {
  def full(events: DataFrame, minValue: Double = 10.0, minObs: Long = 50L): DataFrame =
    fullObserved(events, None, minValue, minObs)

  /** As `full`, plus an optional `obs` on the per-track aggregate: the
    * exact QC counters `qc_rows` (rows surviving the filter, the sum of
    * `n_obs`) and `qc_tracks` (output rows), read by `obs.get` after an action.
    *
    * Caveat (Spark engine behaviour, pinned in PipelineObserveSpec): a
    * registered Observation makes the session's non-serializable
    * ObservationManager reachable from closures built LATER on the
    * same session — e.g. MLlib model.transform then fails with
    * Task-not-serializable. Run observed pipelines in their own
    * `spark.newSession()` when the session also trains models. */
  def fullObserved(events: DataFrame, obs: Option[Observation],
                   minValue: Double = 10.0, minObs: Long = 50L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    // fixed width: AQE's byte-sized coalescing would narrow the CPU-bound work after it
    val n = events.sparkSession.sessionState.conf.numShufflePartitions
    val filtered = graft.sources.Ingest.eventsTyped(Quality.filterSizeAndObservations(
      events.repartition(n, col("user_id")), "user_id", col("value"), minValue, minObs))
    val rows = TimeSeries.haarColumns(TimeSeries.elevationColumns(
      Movement.columns(filtered, w, unix_timestamp(col("ts")), col("value"), col("y")),
      w, col("value")), w, col("value"))
    val aggs = Seq(count(lit(1)).as("n_obs"), cround(max(col("trac")), 4).as("total_path"),
      cround(max(col("dis")), 4).as("max_displacement")) ++
      TimeSeries.elevationAggs ++ TimeSeries.haarAggs
    val out = rows.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
      .select("user_id", "n_obs", "total_path", "max_displacement",
        "ascent", "descent", "range_v", "l1_energy", "l2_energy")
    obs.fold(out)(o => out.observe(o,
      coalesce(sum(col("n_obs")), lit(0L)).as("qc_rows"), count(lit(1)).as("qc_tracks")))
  }
}
