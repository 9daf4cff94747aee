package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Movement features from the CellPhe frame-summary stage
  * (reference: bin/create_frame_summary_features.py:22-57):
  * per track, time-ordered —
  *   Dis  = euclidean distance from the track's first position
  *   Trac = cumulative path length
  *   D2T  = Dis / Trac (0 while Trac = 0)
  *   Vel  = framerate * step / dt
  *
  * Spark-first design: one window partitioning (entity, ordered) computes
  * first-position, lag-step and the running sum; the single shuffle on
  * the entity key is shared by every downstream per-track feature. No
  * per-track collect; scales with #tracks, not track length.
  */
object Movement {
  /** @param ord   deterministic per-entity ordering column (unique)
    * @param tsSec event time in epoch seconds (for velocity dt) */
  def features(df: DataFrame, entity: String, ord: Column, tsSec: Column,
               x: Column, y: Column, framerate: Double = 0.0028): DataFrame =
    columns(df, Window.partitionBy(col(entity)).orderBy(ord), tsSec, x, y, framerate)

  /** The movement columns along the ordered per-entity window `w`, for
    * `features` and the fused `Pipeline` chain. */
  def columns(df: DataFrame, w: WindowSpec, tsSec: Column, x: Column, y: Column,
              framerate: Double = 0.0028): DataFrame = {
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_x", x).withColumn("_y", y).withColumn("_ts_s", tsSec)
      .withColumn("_x0", first(col("_x")).over(wAll))
      .withColumn("_y0", first(col("_y")).over(wAll))
      .withColumn("_dx", col("_x") - lag(col("_x"), 1).over(w))
      .withColumn("_dy", col("_y") - lag(col("_y"), 1).over(w))
      .withColumn("_dt", col("_ts_s") - lag(col("_ts_s"), 1).over(w))
      .withColumn("dis", sqrt((col("_x") - col("_x0")) * (col("_x") - col("_x0")) +
        (col("_y") - col("_y0")) * (col("_y") - col("_y0"))))
      .withColumn("_step",
        coalesce(sqrt(col("_dx") * col("_dx") + col("_dy") * col("_dy")), lit(0.0)))
      // Running sum in deterministic row order: sequential IEEE adds are
      // identical across engines, unlike a shuffled groupBy sum.
      .withColumn("trac", sum(col("_step")).over(wAll))
      .withColumn("d2t", when(col("trac") === 0.0, 0.0).otherwise(col("dis") / col("trac")))
      // dt can be 0 (same-second observations) and ANSI mode throws on
      // double division by zero — treat both missing and zero dt as 1,
      // like the reference does for a track's first frame
      .withColumn("vel", lit(framerate) * col("_step") /
        when(col("_dt").isNull || col("_dt") === 0, 1L).otherwise(col("_dt")).cast("double"))
  }
}
