package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.functions.Numeric._

/** QC operators from the reference's filtering + report stages. */
object Quality {

  /** `filter_size_and_observations` (reference: main.nf:165-190):
    * keep rows with measure >= minSize, then keep only tracks that still
    * have >= minObs observations. The R original is filter + group_by +
    * filter(n()); here the group count is a window aggregate over the
    * already-filtered rows — no self-join, one shuffle on the track key.
    */
  def filterSizeAndObservations(df: DataFrame, entity: String, measure: Column,
                                minSize: Double, minObs: Long): DataFrame = {
    val kept = df.filter(measure >= minSize)
    kept.withColumn("_n", count(lit(1)).over(Window.partitionBy(col(entity))))
      .filter(col("_n") >= minObs)
      .drop("_n")
  }

  /** Track summary stats (reference: bin/tracking_qc.qmd — per-track
    * n/min/median/max tables). */
  def trackSummary(df: DataFrame, entity: String, ts: Column, v: Column): DataFrame =
    df.groupBy(col(entity))
      .agg(
        count(lit(1)).as("n_obs"),
        min(unix_timestamp(ts)).as("first_s"),
        max(unix_timestamp(ts)).as("last_s"),
        (max(unix_timestamp(ts)) - min(unix_timestamp(ts))).as("span_s"),
        cround(min(v), 4).as("v_min"),
        cround(max(v), 4).as("v_max"),
        davg(v, 4, 4).as("v_avg"))

  /** Duplicate detection (reference: bin/tracking_qc.qmd — multiple
    * cells sharing (FRAME, TRACK_ID) make a track ambiguous). */
  def duplicates(df: DataFrame, entity: String, frame: Column): DataFrame =
    df.groupBy(col(entity), frame.as("frame"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Per-group n/min/max and EXACT median over a value HISTOGRAM (`grp`
    * columns, `v` long, `cnt` long). It replaces `percentile(v, 0.5)`,
    * whose buffer (Spark 4.1's `Percentile`) holds one JVM map entry per
    * DISTINCT value of a group inside one task (the r2 perf-weak QC
    * finding); here each distinct value is a row of a map-side-combined
    * aggregate. One pass: two windows on one partitioning (ordered
    * cumulative count, unordered total), then one aggregate on it — no
    * self-join, no extra exchange. Median = mean of the lower/upper
    * middle ranks, exactly as `percentile`/DuckDB `median` define it. */
  def histogramSummary(hist: DataFrame, grp: Seq[String]): DataFrame = {
    val gcols = grp.map(col)
    val byGrp = Window.partitionBy(gcols: _*)
    val ranked = hist
      .withColumn("_cum", sum(col("cnt")).over(byGrp.orderBy(col("v"))))
      .withColumn("_n", sum(col("cnt")).over(byGrp))
      .withColumn("_prev", col("_cum") - col("cnt"))
      // Spark's `/` on longs yields double — floor back to integer ranks
      .withColumn("_r1", floor((col("_n") + 1) / 2).cast("long")) // lower middle (1-based)
      .withColumn("_r2", floor(col("_n") / 2).cast("long") + 1)   // upper middle
    def covers(r: String) = col("_prev") < col(r) && col(r) <= col("_cum")
    ranked.groupBy(gcols: _*).agg(
      max(col("_n")).as("n"),
      min(col("v")).as("min"),
      max(col("v")).as("max"),
      ((max(when(covers("_r1"), col("v"))) +
        max(when(covers("_r2"), col("v")))).cast("double") / 2.0).as("median"))
  }

  /** Exact per-group median over a value histogram (see [[histogramSummary]]). */
  def histogramMedian(hist: DataFrame, grp: Seq[String]): DataFrame =
    histogramSummary(hist, grp).select((grp :+ "median").map(col): _*)

  /** Cells-per-frame distribution (reference: segmentation_qc.qmd —
    * "cell counts per frame" table: n frames, min/median/max of the
    * per-frame count). Median over INTEGER counts is cross-engine exact
    * ((a+b)/2 of integers has no rounding ambiguity) and computed from
    * the count histogram — no per-group full-value buffer. */
  def cellsPerFrame(df: DataFrame, group: Column, frame: Column): DataFrame = {
    val hist = df.groupBy(group.as("grp"), frame.as("frame"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("grp"), col("n").as("v"))
      .agg(count(lit(1)).as("cnt"))
    histogramSummary(hist, Seq("grp"))
      .select(col("grp"), col("n").as("n_frames"), col("min").as("min_n"),
        col("median").as("median_n"), col("max").as("max_n"))
  }

  /** Grouped descriptive stats (reference: segmentation_qc.qmd area
    * stats + CellPhe static intensity summaries). */
  def frameStats(df: DataFrame, keys: Seq[Column], v: Column): DataFrame =
    frameStatsMulti(df, keys, Seq("v" -> v))

  /** Descriptive stats for MANY value columns in ONE shuffle
    * (reference: frame_features_image.py emits ~20 static features per
    * cell x frame — aggregating them per-column would be N full passes
    * over a 100 TB table; one aggregate with a flat list of algebraic
    * partials is one pass, map-side combined). Output columns are
    * `<name>_{sum,avg,std,min,max}` per value plus a single shared
    * `n`. */
  def frameStatsMulti(df: DataFrame, keys: Seq[Column],
                      values: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: values.flatMap { case (name, v) =>
      Seq(
        dsum(v, 4).as(s"${name}_sum"),
        davg(v, 4, 4).as(s"${name}_avg"),
        dstddev(v, 4, 4).as(s"${name}_std"),
        cround(min(v), 4).as(s"${name}_min"),
        cround(max(v), 4).as(s"${name}_max"))
    }
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Track-length distribution before vs after QC filtering
    * (reference: tracking_qc.qmd:43-65 — the raw/filtered histogram's
    * summary table: per filter state, number of tracks and
    * min/median/max track length). One union + two-level aggregate;
    * median over INTEGER lengths is cross-engine exact. */
  def trackLengthHistogram(raw: DataFrame, filtered: DataFrame,
                           entity: String): DataFrame = {
    def lengths(df: DataFrame, state: String) =
      df.groupBy(col(entity)).agg(count(lit(1)).as("len"))
        .select(lit(state).as("filter_state"), col("len"))
    val hist = lengths(raw, "raw").union(lengths(filtered, "filtered"))
      .groupBy(col("filter_state"), col("len").as("v"))
      .agg(count(lit(1)).as("cnt"))
    histogramSummary(hist, Seq("filter_state"))
      .select(col("filter_state"), col("n").as("n_tracks"), col("min").as("min_len"),
        col("median").as("median_len"), col("max").as("max_len"))
  }

  /** Frame-to-frame step-distance distribution (reference:
    * tracking_qc.qmd:98-122): rows in frames where the track is
    * unambiguous (exactly one cell per (frame, track)), per-track
    * consecutive-frame euclidean steps, then the global
    * min/median/max. The step is the same quantity Movement computes
    * internally; this exposes its QC distribution. */
  def frameDistanceStats(df: DataFrame, entity: String, frame: Column,
                         x: Column, y: Column): DataFrame = {
    val base = df.select(col(entity).as("_e"), frame.as("_f"),
      x.as("_x"), y.as("_y"))
    val uniq = base
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_e"), col("_f"))))
      .filter(col("_n") === 1)
    val w = Window.partitionBy(col("_e")).orderBy(col("_f"))
    // step distances, computed once (persisted): they feed the algebraic
    // n/min/max aggregate AND the median selection below
    val steps = uniq
      .withColumn("_dx", col("_x") - lag(col("_x"), 1).over(w))
      .withColumn("_dy", (col("_y") - lag(col("_y"), 1).over(w)).cast("double"))
      .filter(col("_dx").isNotNull)
      .withColumn("_d", sqrt(col("_dx") * col("_dx") + col("_dy") * col("_dy")))
      .select(col("_d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = steps.agg(count(lit(1)), cround(min(col("_d")), 4),
        cround(max(col("_d")), 4)).head()
      val n = stats.getLong(0)
      // EXACT global median without a single-task buffer: Spark 4.1's
      // percentile(_d, 0.5) keeps one entry per DISTINCT value in one
      // aggregate buffer, and continuous step distances are nearly all
      // distinct, so that is every row and no bounded value histogram
      // exists (unlike histogramSummary's integer QC values). Instead
      // select the middle order statistic(s) from a range-partitioned
      // distributed sort — each task sorts (and spills) only its value
      // range, and only the two middle ranks come back to the driver.
      val median: Any =
        if (n == 0) null
        else {
          val targets = Set((n + 1) / 2 - 1, n / 2) // 0-based lower/upper middle
          val mids = steps.orderBy(col("_d")).rdd
            .map(_.getDouble(0)).zipWithIndex()
            .filter { case (_, i) => targets(i) }
            .map(_._1).collect()
          croundD(mids.sum / mids.length, 4)
        }
      // one literal row: every pass over `steps` has already run
      df.sparkSession.createDataFrame(
        java.util.List.of(Row(n, stats.get(1), median, stats.get(2))),
        StructType(Seq(StructField("n_steps", LongType, nullable = false),
          StructField("min_dist", DoubleType),
          StructField("median_dist", DoubleType, nullable = n == 0),
          StructField("max_dist", DoubleType))))
    } finally steps.unpersist()
  }
}
