package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Shared machinery for iterative DataFrame algorithms (connected
  * components, chain labeling): each round's plan is truncated by
  * re-rooting on a persisted InternalRow RDD, keeping Catalyst's
  * optimization time constant per round instead of geometric in the
  * round count, with the block lifecycle under caller control (unlike
  * `localCheckpoint`, whose blocks only GC frees) — and the one size
  * policy ([[Profile]]) that decides where such a loop runs. */
private[graft] object Rounds {
  /** UnsafeRows are reused by the scanner, so copy before persisting
    * (the localCheckpoint trick). */
  def materialize(df: DataFrame, lvl: StorageLevel)
      : (DataFrame, RDD[InternalRow]) = {
    val rdd = df.queryExecution.toRdd.map(_.copy()).persist(lvl)
    (GraftBridge.internalDF(df.sparkSession, rdd, df.schema), rdd)
  }

  /** [[materialize]] + an exact row count matching `pred`, in ONE
    * job (r17): the iterative loops' convergence checks previously
    * ran a second scheduled job per round (`filter(...).count()` over
    * the just-persisted blocks) — here the materializing job itself
    * returns per-partition match counts as its OUTPUT (not an
    * accumulator, whose transformation-side updates double-count
    * under task retry/speculation — these counts drive round counts,
    * which must be bit-deterministic). The mapPartitions pass
    * computes (and thereby caches) each partition, then counts. */
  def materializeCount(df: DataFrame, lvl: StorageLevel,
                       pred: InternalRow => Boolean)
      : (DataFrame, RDD[InternalRow], Long) = {
    val rdd = df.queryExecution.toRdd.map(_.copy()).persist(lvl)
    val matched = rdd
      .mapPartitions(it => Iterator.single(it.count(pred).toLong),
        preservesPartitioning = true)
      .collect().sum
    (GraftBridge.internalDF(df.sparkSession, rdd, df.schema), rdd, matched)
  }

  /** Where an iterative loop runs — the ONE size policy the
    * iterative operators share (HostRank, GraphSearch's walk,
    * NnDescent's build and insert, CorpusIncrement's middle phase and
    * touched-subgraph union-find). Each loop passes a row count it
    * already holds (no extra job) to [[profile]]:
    *  - `Local`: at most [[LocalRows]] rows and the loop has a driver
    *    twin — the whole state is a few MB, while the distributed loop
    *    costs several scheduled jobs per round of pure launch latency.
    *    The twin runs the identical recurrence with the identical
    *    kernels, so its rows are bit-identical;
    *  - `Narrow`: at most [[NarrowRows]] rows — the loop plans on a
    *    CLONED session (`newSession`: same SparkContext and caches,
    *    its own SQLConf) narrowed to 8 shuffle partitions with AQE
    *    off, where corpus-width shuffles and AQE's per-stage replans
    *    would be driver latency times the round count. The fixed width
    *    is measured: `TopKEdges`' map-side partials weaken with width
    *    (r18: NnDescent widened to ~21 partitions read 9.1 s vs 6.4 s);
    *  - `Wide`: the caller's session, width and skew handling.
    * Every profile is a physical choice only — results are
    * bit-identical (ProfileParitySpec), and a loop's returned plan
    * re-roots on the caller's session so downstream consumers plan at
    * the caller's width. Decisions are taken on the caller's thread. */
  sealed abstract class Profile
  case object Local extends Profile
  case object Narrow extends Profile
  case object Wide extends Profile

  val LocalRows = 500000L
  val NarrowRows = 2000000L

  private val forced = new scala.util.DynamicVariable[Option[Profile]](None)

  /** Run `body` with every [[profile]] decision on this thread forced
    * to `p` (`Local` reads as `Narrow` for loops without a driver
    * twin) — the parity specs' seam, scoped to the block. */
  def forcing[T](p: Profile)(body: => T): T = forced.withValue(Some(p))(body)

  def profile(rows: Long, hasLocal: Boolean): Profile = forced.value match {
    case Some(Local) if !hasLocal => Narrow
    case Some(p) => p
    case None =>
      if (hasLocal && rows <= LocalRows) Local
      else if (rows <= NarrowRows) Narrow
      else Wide
  }

  /** The session a loop of profile `p` plans on: the narrowed clone
    * unless `p` is `Wide` (a `Local` loop's residual plans, such as
    * GraphSearch's entry collects, run there too). */
  final class LoopSession private[Rounds] (caller: SparkSession,
                                           val spark: SparkSession) {
    /** `df` re-bound to the loop's session (identity at caller width). */
    def bind(df: DataFrame): DataFrame =
      if (spark eq caller) df else GraftBridge.onSession(spark, df)
  }

  def session(caller: SparkSession, p: Profile): LoopSession =
    new LoopSession(caller, if (p == Wide) caller else narrowSession(caller))

  private def narrowSession(spark: SparkSession): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    // broadcast builds over LOCALIZED relations still run one scheduled
    // job (SparkPlan.executeCollectIterator is an RDD collect even for
    // LocalTableScan), and a LocalRelation splits into
    // defaultParallelism slices — on the narrow clone that was 32 tiny
    // tasks per per-round build job (r18 measurement). One slice makes
    // those unavoidable jobs single-task driver round-trips.
    s2.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    // guide §3.1: let the planner pick shuffled-hash joins — on the
    // clone every per-partition build side is gate-bounded small, and
    // sort-merge's per-round sorts of candidate-pair streams are pure
    // CPU (r18: the NnDescent local join + score joins sort millions
    // of 8-byte pairs per round at width 8)
    s2.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    // the clone's file-status cache starts cold and every pruned read
    // lists explicit leaf files; above the default 32-path threshold
    // Spark runs each listing as a distributed JOB — pure launch
    // latency at loop grain. Keep listings driver-side (metadata-only).
    s2.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
      "10000")
    s2
  }
}
