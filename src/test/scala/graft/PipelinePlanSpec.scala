package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.operators.Quality
import graft.sources.Ingest

/** The CellPhe chain's executed plan: one scan, one shuffle on the
  * track key, no join — the movement, elevation and Haar features share
  * the QC window's partitioning and one per-track aggregate. */
class PipelinePlanSpec extends SparkSpec {
  private val helper = new AdaptiveSparkPlanHelper {}

  test("Pipeline.full executes as 1 events scan, 1 shuffle exchange, 0 joins, 0 broadcasts") {
    val out = Pipeline.full(Tables.events(spark, sfDir))
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan // the AQE final plan
    def count(pf: PartialFunction[SparkPlan, Unit]) = helper.collect(plan)(pf).size
    val shown = plan.toString.take(3000)
    assert(count { case s: FileSourceScanExec
      if s.relation.location.rootPaths.exists(_.getName == "events.parquet") => } === 1, shown)
    assert(count { case _: ShuffleExchangeLike => } === 1, shown)
    assert(count { case _: ReusedExchangeExec => } === 0, shown)
    assert(count { case _: BaseJoinExec => } === 0, shown)
    assert(count { case _: BroadcastExchangeLike => } === 0, shown)
  }
}

/** `Ingest.parallelismFloor` decides from the plan alone: an input that
  * already shuffles (here the QC min-observation window) keeps its
  * width, and only a shuffle-free single-split scan gains the
  * round-robin spread. */
class ParallelismFloorSpec extends SparkSpec {
  private def roundRobins(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }.size

  /** The floor applied to `df`, with the jobs launched while it decides. */
  private def floored(df: DataFrame): (DataFrame, Int) =
    JobCount.during(spark)(Ingest.parallelismFloor(df))

  test("a window-count-filtered single-split input gains no round-robin exchange, and no job runs") {
    val ev = Tables.events(spark, sfDir)
    assert(ev.rdd.getNumPartitions * 2 <= spark.sparkContext.defaultParallelism,
      "the input must plan narrower than the session for the floor to matter")
    val filtered = Quality.filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L)
    val (out, jobs) = floored(filtered)
    assert(jobs === 0)
    assert(roundRobins(out) === 0, out.queryExecution.sparkPlan.toString.take(1500))
  }

  test("a raw single-split scan still gains the round-robin repartition") {
    val ev = Tables.events(spark, sfDir)
    val (out, jobs) = floored(ev)
    assert(jobs === 0)
    assert(roundRobins(ev) === 0 && roundRobins(out) === 1,
      out.queryExecution.sparkPlan.toString.take(1500))
  }
}
