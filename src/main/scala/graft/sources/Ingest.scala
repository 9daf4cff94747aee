package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Typed semi-structured ingest — the analogue of the reference's
  * parse stage (parse_xml.py:68-113 turns TrackMate XML into typed
  * spots/edges tables ONCE, and every later stage reads columns).
  *
  * graft's driver tables carry their semi-structured payload as a JSON
  * `props` string. The faithful (and fast) treatment is the same as
  * the reference's: ONE schema-typed parse into columns at ingest, not
  * a regexp per consuming query — `from_json` parses the document once
  * per row into a struct the optimizer can prune, where N
  * `regexp_extract` calls re-scan the string N times and hide the
  * schema from Catalyst.
  */
object Ingest {

  /** Schema of the events `props` JSON document. */
  val PropsSchema: StructType = StructType(Seq(StructField("k", IntegerType)))

  /** events with the props document parsed once: adds typed `y`
    * (props.k). Downstream queries never touch the raw string.
    *
    * INPUT-PARALLELISM FLOOR (r17, guide §2.5 "input skew — one huge
    * unsplittable file"): a single-row-group parquet file scans as ONE
    * split no matter the split settings, making this parse — the one
    * expensive expression every events query pays — single-threaded
    * (measured: a 1-task 0.5-1.3 s stage heading every events query at
    * sf0.1). When the scan yields fewer splits than the session's
    * cores, a round-robin repartition spreads the parse; the tiny raw
    * rows cross one exchange once, far cheaper than the serial parse.
    * Many-file corpora (the production shape) already scan wide — the
    * gate is false and no exchange is added. */
  def eventsTyped(events: DataFrame): DataFrame =
    parallelismFloor(events)
      .withColumn("_props", from_json(col("props"), PropsSchema))
      .withColumn("y", col("_props").getField("k"))
      .drop("_props")

  /** The parallelism floor itself, shared by every expensive kernel
    * pass whose input may plan narrower than the session's cores (the
    * events parse above, the LM count kernels): when `df`'s physical
    * plan yields fewer than half the session's partitions, spread it
    * with a round-robin repartition; otherwise return it unchanged —
    * wide (production-shaped) inputs never gain the exchange.
    *
    * The gate reads the physical plan STRUCTURALLY and launches no job
    * (`queryExecution.toRdd.getNumPartitions` would, under AQE, eagerly
    * materialize every upstream exchange). It applies
    * `EnsureRequirements` to the planned `sparkPlan` first, so
    * the exchanges that windows, aggregates and joins require are in
    * the tree it searches: a plan carrying any shuffle exchange is
    * already session-width (post-shuffle partitions = the session's
    * shuffle.partitions) and is returned unchanged. A shuffle-free
    * plan's output width is its leaf scans' split count, read off the
    * scan node. Leaves other than file scans and local relations
    * (persisted caches, re-rooted RDDs) are materialized-input shapes
    * whose width the producer already chose: the floor skips them. */
  def parallelismFloor(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val plan = EnsureRequirements().apply(df.queryExecution.sparkPlan)
    if (plan.exists(_.isInstanceOf[ShuffleExchangeLike])) return df
    val leafParts = plan.collectLeaves().map {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Some(f.inputRDD.getNumPartitions)
      // a LocalTableScan (collected frame) is driver-sized: one split
      case _: org.apache.spark.sql.execution.LocalTableScanExec => Some(1)
      case _ => None
    }
    if (leafParts.isEmpty || leafParts.exists(_.isEmpty)) df
    else if (leafParts.flatten.max * 2 <= cores) df.repartition(cores)
    else df
  }

  /** Spots/edges builder — the parse_xml.py:68-113 analogue for the
    * driver's events table: each user's frame-ordered events become a
    * heap-shaped lineage forest (node rn divides into children 2rn and
    * 2rn+1 while they fit in the user's event count). A pure division
    * tree: every interior node has out-degree 2 (a division), so track
    * semantics have a closed form (each track is a doubling chain
    * headed by an odd heap index) that the DuckDB oracle computes
    * directly while the engine runs the full distributed operator.
    * Returns (spots(id, frame), edges(src, dst)). */
  def lineageForest(events: DataFrame): (DataFrame, DataFrame) = {
    val base = events
      .select(col("user_id").cast("long").as("uid"), col("event_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("uid")).orderBy(col("event_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("uid"))))
      .filter(col("n") >= 2)
      .withColumn("id", col("uid") * 1000000L + col("rn"))
    val spots = base.select(col("id"), col("rn").as("frame"))
    // both child edges of a node come from ONE pass over base (a union
    // of two filtered selects would duplicate the whole windowed
    // subtree — scan and shuffle — once per branch)
    val edges = base.select(explode(array(
        when(col("rn") * 2 <= col("n"), struct(col("id").as("src"),
          (col("uid") * 1000000L + col("rn") * 2).as("dst"))),
        when(col("rn") * 2 + 1 <= col("n"), struct(col("id").as("src"),
          (col("uid") * 1000000L + col("rn") * 2 + 1).as("dst"))))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    (spots, edges)
  }
}
