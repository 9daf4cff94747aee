package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.SkewAgg
import graft.sources.Bucketing

class BucketingSpec extends SparkSpec {
  test("bucketed join is exchange-free") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
      val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
      Bucketing.writeBucketed(li, "li_b", "l_orderkey", 8)
      Bucketing.writeBucketed(o, "o_b", "o_orderkey", 8)
      val joined = Bucketing.read(spark, "li_b")
        .join(Bucketing.read(spark, "o_b"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join should not shuffle:\n" + plan.take(1200))
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}

/** The 100 TB read-path story end-to-end: an events store bucketed on
  * the track key feeds the whole per-track pipeline (movement ->
  * per-track summary) with ZERO exchanges — the scan's bucket
  * partitioning satisfies both the window and the aggregate, so the
  * only corpus-wide data movement is the initial write. */
class BucketedPipelineSpec extends SparkSpec {
  test("bucketed events store: movement -> track summary with no Exchange") {
    try {
      val ev = Tables.events(spark, sfDir)
      Bucketing.writeBucketed(ev, "events_b", "user_id", 8)
      val b = Bucketing.read(spark, "events_b")
      val moved = graft.operators.Movement.features(b, "user_id",
        col("event_id"), unix_timestamp(col("ts")), col("value"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
      val summary = graft.operators.Quality.trackSummary(
        moved, "user_id", col("ts"), col("vel"))
      summary.collect()
      val plan = summary.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        "bucketed per-track pipeline should not shuffle:\n" + plan.take(1500))
      assert(summary.count() === ev.select("user_id").distinct().count())
      // the same pipeline over the raw parquet DOES shuffle — the
      // bucket layout, not plan luck, is what removed the exchange
      val rawPlan = graft.operators.Quality.trackSummary(
          graft.operators.Movement.features(ev, "user_id",
            col("event_id"), unix_timestamp(col("ts")), col("value"),
            regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")),
          "user_id", col("ts"), col("vel"))
        .queryExecution.executedPlan.toString
      assert(rawPlan.contains("Exchange"))
    } finally spark.sql("DROP TABLE IF EXISTS events_b")
  }
}

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("HLL distinct within rsd bound; quantile sketch brackets the median") {
    val ev = Tables.events(spark, sfDir)
    // the exact distinct count lives HERE, not in the operator: shipping
    // it alongside the sketch would reintroduce the expand + per-value
    // shuffle the sketch replaces (r2 perf-weak finding)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val r = graft.operators.Sketches.approxStats(ev, Seq(col("event_type")),
        col("user_id"), col("value"))
      .join(exact, Seq("event_type"))
      .select("approx_distinct", "exact_distinct", "p50", "p95")
      .as[(Long, Long, Double, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (approx, exact, p50, p95) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.10,
        s"HLL error too large: $approx vs $exact")
      assert(p50 <= p95)
      assert(p50 > 0.0 && p50 < 330.0)
    }
  }

  test("mergeable sketches: union of per-day parts == one-shot, within bound, parquet round-trip") {
    import graft.operators.Sketches
    val ev = Tables.events(spark, sfDir).withColumn("_day",
      expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS INT)"))
    val daily = Sketches.sketchBy(ev,
      Seq(col("event_type"), col("_day")), col("user_id"))
    assert(daily.select("_day").distinct().count() > 1) // genuinely incremental
    // persistence: the binary sketch column round-trips through parquet
    val dir = java.nio.file.Files.createTempDirectory("hll_store").toString
    daily.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    val merged = Sketches.unionEstimate(loaded, Seq(col("event_type")))
      .select("event_type", "approx_distinct")
      .as[(String, Long)].collect().toMap
    // union is lossless at equal lgK: merged estimate == one-shot exactly
    val oneShot = Sketches.unionEstimate(
        Sketches.sketchBy(ev, Seq(col("event_type")), col("user_id")),
        Seq(col("event_type")))
      .select("event_type", "approx_distinct")
      .as[(String, Long)].collect().toMap
    assert(merged == oneShot)
    // incremental add through a PRE-MERGED rollup artifact: all-but-
    // last-day parts collapse to ONE stored rollup sketch row per
    // type (unionSketches — the maintenance step), and unioning that
    // rollup with the last day's part still equals one-shot. This is
    // associativity through the serialized intermediate — not a
    // reordering of the same part rows, which the previous assertion
    // already covers
    val days = ev.select("_day").distinct().as[Int].collect().sorted
    val rollup = Sketches.unionSketches(
      loaded.filter(col("_day") =!= days.last).select("event_type", "hll"),
      Seq(col("event_type")))
    val inc = Sketches.unionEstimate(
        rollup.unionByName(loaded.filter(col("_day") === days.last)
          .select("event_type", "hll")),
        Seq(col("event_type")))
      .select("event_type", "approx_distinct").as[(String, Long)].collect().toMap
    assert(inc == oneShot)
    // estimate within the HLL bound of the exact distinct
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("x"))
      .as[(String, Long)].collect().toMap
    merged.foreach { case (t, a) =>
      assert(math.abs(a - exact(t)).toDouble / exact(t) < 0.10,
        s"$t: $a vs ${exact(t)}")
    }
  }
}

class SkewAggSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase aggregation equals direct aggregation") {
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("v_sum"),
        min(col("value")).as("v_min"), max(col("value")).as("v_max"))
      .as[(String, Long, Double, Double, Double)].collect().toSet
    val salted = SkewAgg.saltedStats(ev, "event_type", col("event_id"), 16, col("value"))
      .as[(String, Long, Double, Double, Double)].collect().toSet
    assert(salted == direct)
  }
}

class QcMedianSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Quality

  test("histogramMedian: exact median for odd and even group sizes") {
    // grp a: values 1,2,2,9 (even, median 2.0); grp b: 5,7,100 (odd, 7.0)
    val hist = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 9L, 1L),
      ("b", 5L, 1L), ("b", 7L, 1L), ("b", 100L, 1L))
      .toDF("g", "v", "cnt")
    val got = Quality.histogramMedian(hist, Seq("g"))
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 2.0, "b" -> 7.0))
  }

  test("QC medians match the naive percentile formulation on real data") {
    val ev = Tables.events(spark, sfDir)
    val filtered = Quality.filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L)
    val hist = Quality.trackLengthHistogram(ev, filtered, "user_id")
    val naive = ev.groupBy(col("user_id")).agg(count(lit(1)).as("len"))
      .agg(expr("percentile(len, 0.5)")).as[Double].head()
    val rawMed = hist.filter(col("filter_state") === "raw")
      .select("median_len").as[Double].head()
    assert(rawMed == naive)

    val eventsXY = ev
      .withColumn("ts_s", unix_timestamp(col("ts")))
      .withColumn("y", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int"))
    val fd = Quality.frameDistanceStats(eventsXY, "user_id", col("ts_s"),
      col("value"), col("y"))
    val row = fd.select("n_steps", "median_dist").as[(Long, Double)].head()
    // naive single-buffer median of the same steps for comparison
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
    val uniq = eventsXY
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("user_id"), col("ts_s"))))
      .filter(col("_n") === 1)
    val naiveMed = uniq
      .withColumn("_dx", col("value") - lag(col("value"), 1).over(w))
      .withColumn("_dy", (col("y") - lag(col("y"), 1).over(w)).cast("double"))
      .filter(col("_dx").isNotNull)
      .withColumn("_d", sqrt(col("_dx") * col("_dx") + col("_dy") * col("_dy")))
      .agg(graft.functions.Numeric.cround(expr("percentile(_d, 0.5)"), 4))
      .as[Double].head()
    assert(row._1 > 0 && row._2 == naiveMed)
  }

  /** The naive per-group formulation the histogram summary replaces:
    * n/min/max plus `percentile(v, 0.5)` straight over the values. */
  private def naiveSummary(values: DataFrame, grp: String) =
    values.groupBy(col(grp)).agg(count(lit(1)), min(col("v")),
        expr("percentile(v, 0.5)"), max(col("v")))
      .as[(String, Long, Long, Double, Long)].collect().toSet

  private def perFrameCounts(df: DataFrame, grp: Column, frame: Column) =
    df.groupBy(grp.as("g"), frame.as("f")).agg(count(lit(1)).as("v"))

  test("cellsPerFrame n/min/median/max match the naive percentile formulation") {
    val ev = Tables.events(spark, sfDir)
    val day = date_format(col("ts"), "yyyy-MM-dd")
    val got = Quality.cellsPerFrame(ev, col("event_type"), day)
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got == naiveSummary(perFrameCounts(ev, col("event_type"), day), "g"))

    // per-frame counts: odd (1,2,4 -> median 2), even (3,3,5,6 -> 4.0)
    // and one-frame (7) groups
    val frames = Seq("odd" -> Seq(1 -> 1, 2 -> 2, 3 -> 4),
        "even" -> Seq(1 -> 3, 2 -> 3, 3 -> 5, 4 -> 6), "one" -> Seq(1 -> 7))
      .flatMap { case (g, fs) => fs.flatMap { case (f, k) => Seq.fill(k)((g, f)) } }
      .toDF("g", "f")
    val hand = Quality.cellsPerFrame(frames, col("g"), col("f"))
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(hand == Set(("odd", 3L, 1L, 2.0, 4L), ("even", 4L, 3L, 4.0, 6L),
      ("one", 1L, 7L, 7.0, 7L)))
    assert(hand == naiveSummary(perFrameCounts(frames, col("g"), col("f")), "g"))
  }

  test("trackLengthHistogram filtered row matches the naive percentile formulation") {
    val ev = Tables.events(spark, sfDir)
    val filtered = Quality.filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L)
    val got = Quality.trackLengthHistogram(ev, filtered, "user_id")
      .as[(String, Long, Long, Double, Long)].collect().toSet
    val naive = naiveSummary(
      filtered.groupBy(col("user_id")).agg(count(lit(1)).as("v"))
        .select(lit("filtered").as("s"), col("v")), "s")
    assert(naive.nonEmpty)
    assert(got.filter(_._1 == "filtered") == naive)
  }

  test("QC summaries: an empty filtered input has no filtered row; one distinct value is its own median") {
    val ev = Tables.events(spark, sfDir)
    val states = Quality.trackLengthHistogram(ev, ev.limit(0), "user_id")
      .select("filter_state").as[String].collect()
    assert(states.toSeq == Seq("raw"))

    val hist = Seq(("one", 5L, 1L), ("many", 3L, 4L)).toDF("g", "v", "cnt")
    val got = Quality.histogramSummary(hist, Seq("g"))
      .select("g", "n", "min", "median", "max")
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(got == Set(("one", 1L, 5L, 5.0, 5L), ("many", 4L, 3L, 3.0, 3L)))
  }

  test("QC distribution reports run without a join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    val ev = Tables.events(spark, sfDir)
    val filtered = Quality.filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L)
    Seq(
      Quality.trackLengthHistogram(ev, filtered, "user_id"),
      Quality.cellsPerFrame(ev, col("event_type"), date_format(col("ts"), "yyyy-MM-dd"))
    ).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      val joins = helper.collect(plan) { case j: BaseJoinExec => j }
      assert(joins.isEmpty, "QC report plan joins:\n" + plan.toString.take(1500))
    }
  }

  test("QC median plans carry no single-task full-data percentile buffer") {
    val ev = Tables.events(spark, sfDir)
    val filtered = Quality.filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L)
    Seq(
      Quality.trackLengthHistogram(ev, filtered, "user_id"),
      Quality.cellsPerFrame(ev, col("event_type"), date_format(col("ts"), "yyyy-MM-dd")),
      Quality.frameDistanceStats(
        ev.withColumn("ts_s", unix_timestamp(col("ts")))
          .withColumn("y", regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")),
        "user_id", col("ts_s"), col("value"), col("y"))
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("percentile("),
        "exact percentile() buffers every value of a group in one task:\n" +
          plan.take(1500))
    }
  }
}
