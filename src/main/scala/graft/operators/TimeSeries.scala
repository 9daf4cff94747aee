package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.Numeric._

/** Time-series features from the CellPhe trajectory stage
  * (reference: bin/time_series_features.py + the CellPhe package's
  * `time_series_features`): per track × variable — elevation metrics
  * (ascent/descent), extrema, and Haar wavelet detail energies.
  *
  * Wavelets are computed without collecting a track to one row: rows get
  * a pair index from row_number, detail/approximation coefficients are
  * 2-row aggregates, and level-2 repeats the trick on level-1 output.
  * Everything stays a hash aggregate with map-side combine.
  *
  * Elevation and Haar are each defined once, as window columns over a
  * caller's ordered spec (`*Columns`) and per-entity aggregates (`*Aggs`),
  * for the operators here and the fused `Pipeline` chain.
  */
object TimeSeries {

  /** Ascent/descent/extrema per entity (CellPhe elevation variables). */
  def elevation(df: DataFrame, entity: String, ord: Column, v: Column): DataFrame =
    perEntity(elevationColumns(df, Window.partitionBy(col(entity)).orderBy(ord), v), entity,
      count(lit(1)).as("n_obs") +: elevationAggs)

  /** `_v` and its step `_d` along `w`. */
  def elevationColumns(df: DataFrame, w: WindowSpec, v: Column): DataFrame =
    df.withColumn("_v", v).withColumn("_d", v - lag(v, 1).over(w))

  def elevationAggs: Seq[Column] =
    stepAggs(col("_v"), col("_d"), Seq("ascent", "descent", "max_v", "min_v", "range_v"))

  /** Ascent, descent, max, min and range of `v` from its steps `d`. */
  private def stepAggs(v: Column, d: Column, names: Seq[String]): Seq[Column] = Seq(
    dsum(when(d > 0, d).otherwise(0.0), 6),
    dsum(when(d < 0, -d).otherwise(0.0), 6),
    cround(max(v), 4), cround(min(v), 4), cround(max(v) - min(v), 4))
    .zip(names).map { case (c, n) => c.as(n) }

  private def perEntity(df: DataFrame, entity: String, aggs: Seq[Column]): DataFrame =
    df.groupBy(col(entity)).agg(aggs.head, aggs.tail: _*)

  /** Higher-moment trajectory summary (mean/variance/skewness/excess
    * kurtosis per track — the rest of CellPhe's per-variable summary
    * statistics family). ONE hash aggregate with map-side combine, no
    * window: central moments decorrelate to decimal-exact raw power
    * sums, so the result is order-independent and hash-comparable
    * across engines. `pow` is avoided (its last-ulp behaviour differs
    * between engines): var^1.5 is `var * sqrt(var)`, both
    * correctly-rounded IEEE ops. Single-observation tracks and
    * zero-variance trajectories yield NULL skew/kurtosis. */
  def momentStats(df: DataFrame, entity: String, v: Column): DataFrame = {
    def dsum38(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val agg = df.withColumn("_v", v.cast("double"))
      .groupBy(col(entity))
      .agg(count(lit(1)).as("n_obs"),
        dsum(col("_v"), 6).as("_s1"),
        dsum(col("_v") * col("_v"), 8).as("_s2"),
        dsum38(col("_v") * col("_v") * col("_v")).as("_s3"),
        dsum38(col("_v") * col("_v") * col("_v") * col("_v")).as("_s4"))
    val n = col("n_obs").cast("double")
    val mean = col("_s1") / n
    val variance = col("_s2") / n - mean * mean
    val skew = (col("_s3") / n - lit(3.0) * mean * (col("_s2") / n) +
      lit(2.0) * mean * mean * mean) / (variance * sqrt(variance))
    val kurt = (col("_s4") / n - lit(4.0) * mean * (col("_s3") / n) +
      lit(6.0) * mean * mean * (col("_s2") / n) -
      lit(3.0) * mean * mean * mean * mean) / (variance * variance) - lit(3.0)
    agg.select(col(entity), col("n_obs"),
      cround(mean, 6).as("v_mean"),
      when(col("n_obs") > 1, cround(variance, 6)).otherwise(lit(null)).as("v_var"),
      when(col("n_obs") > 1 && variance > 0, cround(skew, 6))
        .otherwise(lit(null)).as("v_skew"),
      when(col("n_obs") > 1 && variance > 0, cround(kurt, 6))
        .otherwise(lit(null)).as("v_kurt"))
  }

  /** Exact per-track median — the last member of CellPhe's summary
    * family (mean/std come from moment sums, extrema from min/max;
    * the median needs order statistics). One window shuffle ranks each
    * track's values; only the one-or-two MIDDLE order statistics
    * survive to the aggregate, whose 2-element avg is (a+b)/2 —
    * addition of two doubles is commutative-exact, and the same
    * formulation already hash-matches DuckDB's interpolated median in
    * the QC distance stats. No percentile buffer, no collect: state
    * per track is O(1) past the sort. */
  def trackMedian(df: DataFrame, entity: String, v: Column): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(col("_v"))
    val n = count(lit(1)).over(Window.partitionBy(col(entity)))
    df.withColumn("_v", v.cast("double"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", n)
      .filter(col("_rn") >= expr("(_n + 1) div 2") && col("_rn") <= expr("_n div 2 + 1"))
      .groupBy(col(entity))
      .agg(max(col("_n")).as("n_obs"),
        cround(sum(col("_v")) / count(lit(1)), 4).as("v_median"))
  }

  /** Elevation features for MANY variables in ONE shuffle — the
    * reference computes time-series features per variable over ~20
    * variables (bin/time_series_features.py loops columns); running
    * `elevation` per column would be N window shuffles over the same
    * 100 TB table. Every variable's lag shares the single
    * (entity, ord) window partitioning, so Catalyst plans ONE
    * WindowExec and ONE aggregate regardless of variable count.
    * Output columns are `<name>_{ascent,descent,max,min,range}` plus a
    * shared `n_obs`. */
  def elevationMulti(df: DataFrame, entity: String, ord: Column,
                     vars: Seq[(String, Column)]): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(ord)
    val withDiffs = vars.foldLeft(df) { case (acc, (name, v)) =>
      acc.withColumn(s"_v_$name", v)
        .withColumn(s"_d_$name", v - lag(v, 1).over(w))
    }
    perEntity(withDiffs, entity, count(lit(1)).as("n_obs") +: vars.flatMap { case (name, _) =>
      stepAggs(col(s"_v_$name"), col(s"_d_$name"),
        Seq("ascent", "descent", "max", "min", "range").map(s => s"${name}_$s"))
    })
  }

  /** Per-entity linear trend of a feature over observation order
    * (CellPhe's time-series family summarises trajectory direction;
    * slope/intercept/r2 of value vs 1-based observation index).
    * Decorrelated to moment sums: the index sums are integer-exact and
    * the value sums decimal-exact, so every derived quantity is
    * bit-stable across engines and partitionings. One shuffle on the
    * entity key (the row_number window and the aggregate share it). */
  def linearTrend(df: DataFrame, entity: String, ord: Column, v: Column): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(ord)
    val indexed = df.withColumn("_y", v)
      .withColumn("_i", row_number().over(w).cast("double"))
    val n   = count(lit(1)).cast("double")
    val sx  = sum(col("_i").cast("decimal(28,0)")).cast("double")
    val sxx = sum((col("_i") * col("_i")).cast("decimal(28,0)")).cast("double")
    val sy  = dsum(col("_y"), 6)
    val syy = dsum(col("_y") * col("_y"), 8)
    val sxy = dsum(col("_i") * col("_y"), 6)
    indexed.groupBy(col(entity))
      .agg(n.cast("long").as("n_obs"),
        sx.as("_sx"), sxx.as("_sxx"), sy.as("_sy"), syy.as("_syy"), sxy.as("_sxy"))
      .select(col(entity), col("n_obs"),
        cround(when(col("n_obs") > 1,
          (col("_sxy") * col("n_obs") - col("_sx") * col("_sy")) /
            (col("_sxx") * col("n_obs") - col("_sx") * col("_sx"))), 6).as("slope"),
        cround(when(col("n_obs") > 1,
          (col("_sy") - (col("_sxy") * col("n_obs") - col("_sx") * col("_sy")) /
            (col("_sxx") * col("n_obs") - col("_sx") * col("_sx")) * col("_sx"))
            / col("n_obs")), 6).as("intercept"),
        cround(when(col("n_obs") > 1 &&
            (col("_syy") * col("n_obs") - col("_sy") * col("_sy")) > 0,
          // squared via multiplication, not pow(): libm pow is not
          // guaranteed bit-identical across engines
          (col("_sxy") * col("n_obs") - col("_sx") * col("_sy")) *
            (col("_sxy") * col("n_obs") - col("_sx") * col("_sy")) /
            ((col("_sxx") * col("n_obs") - col("_sx") * col("_sx")) *
             (col("_syy") * col("n_obs") - col("_sy") * col("_sy")))), 6).as("r2"))
  }

  /** Lag-1 autocorrelation per entity (trajectory persistence — the
    * CellPhe time-series family summarises how strongly consecutive
    * frame features correlate). Pearson r between (x_t, x_{t+1}) from
    * order-independent decimal-exact sums; cross-engine stable. */
  def lag1Autocorr(df: DataFrame, entity: String, ord: Column, v: Column): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(ord)
    val paired = df.withColumn("_x", v)
      .withColumn("_y", lead(col("_x"), 1).over(w))
      .filter(col("_y").isNotNull)
    val n = count(lit(1)).cast("double")
    val sx = dsum(col("_x"), 6); val sy = dsum(col("_y"), 6)
    val sxx = dsum(col("_x") * col("_x"), 8); val syy = dsum(col("_y") * col("_y"), 8)
    val sxy = dsum(col("_x") * col("_y"), 8)
    val cov = sxy - sx * sy / n
    val varx = sxx - sx * sx / n
    val vary = syy - sy * sy / n
    paired.groupBy(col(entity))
      .agg(n.cast("long").as("n_pairs"),
        // constant series -> zero variance -> NULL (ANSI /0 guard)
        when(varx * vary > 0, cround(cov / sqrt(varx * vary), 6))
          .otherwise(lit(null).cast("double")).as("autocorr_lag1"))
  }

  /** Haar wavelet detail energies, levels 1-2: mean of squared detail
    * coefficients per entity over the time-ordered series.
    *   d1_i = (v_{2i-1} - v_{2i}) / sqrt(2)
    *   d2_j = (v_{4j-3} + v_{4j-2} - v_{4j-1} - v_{4j}) / 2
    * (the level-2 coefficient expanded through the level-1
    * approximations). Incomplete tail blocks are dropped.
    *
    * Formulated with lead() so the whole computation is ONE scan, one
    * shuffle, one window and one aggregate — a naive per-level
    * groupBy+join duplicates the scan+window subtree. Entities with no
    * complete pair report zero energies. */
  def haarEnergies(df: DataFrame, entity: String, ord: Column, v: Column): DataFrame =
    perEntity(haarColumns(df, Window.partitionBy(col(entity)).orderBy(ord), v), entity, haarAggs)

  /** `_v`, its row number `_rn` and the next three values `_v1`-`_v3` along `w`. */
  def haarColumns(df: DataFrame, w: WindowSpec, v: Column): DataFrame =
    df.withColumn("_v", v)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_v1", lead(v, 1).over(w))
      .withColumn("_v2", lead(v, 2).over(w))
      .withColumn("_v3", lead(v, 3).over(w))

  def haarAggs: Seq[Column] = {
    val d1 = (col("_v") - col("_v1")) / sqrt(lit(2.0))
    val d2 = (col("_v") + col("_v1") - col("_v2") - col("_v3")) / 2.0
    val isP1 = col("_rn") % 2 === 1 && col("_v1").isNotNull
    val isP2 = col("_rn") % 4 === 1 && col("_v3").isNotNull
    val n1 = sum(when(isP1, 1L).otherwise(0L))
    val n2 = sum(when(isP2, 1L).otherwise(0L))
    Seq(
      n1.as("n_pairs_l1"),
      // n1 = 0 guard: ANSI throws on /0; the SQL mirror's NULL
      // numerator / 0 is NULL -> COALESCE 0 either way
      when(n1 > 0, cround(sum(when(isP1, (d1 * d1).cast("decimal(28,8)"))).cast("double") /
        n1, 6)).otherwise(0.0).as("l1_energy"),
      n2.as("n_pairs_l2"),
      when(n2 > 0, cround(sum(when(isP2, (d2 * d2).cast("decimal(28,8)"))).cast("double") /
        n2, 6)).otherwise(0.0).as("l2_energy"))
  }
}
