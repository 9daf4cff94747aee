package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** One CDC change: key, a two-part version (the natural (ts-like,
  * unique-id) pair — unique per key by the [[graft.operators.ChangeLog]]
  * contract), the operation ('D' = delete, anything else upserts),
  * and the payload. */
case class CdcEvent(id: Long, ver1: Long, ver2: Long, op: String,
                    payload: String)

/** Per-key state and emission: the key's current winning row. `live`
  * is false when the latest operation is a delete — the key is out of
  * the snapshot but the emission still rides so sinks can retract. */
case class CdcState(ver1: Long, ver2: Long, op: String, payload: String)
case class CdcCurrent(id: Long, ver1: Long, ver2: Long, live: Boolean,
                      payload: String)

/** STREAMING CDC latest-state maintenance — the unbounded form of
  * [[graft.operators.ChangeLog.snapshot]]: each arriving change
  * max-merges into its key's state on the (ver1, ver2) order and the
  * key's new CURRENT row is emitted (update mode — one row per
  * touched key per micro-batch, the changelog a downstream
  * materialized view consumes).
  *
  * The state is a MAX over a total order — a join-semilattice — so
  * arrival order across micro-batches cannot change the result and a
  * replayed change is absorbed idempotently (max(x, x) = x): the
  * final state equals the batch snapshot over the same log, which is
  * the spec's parity pin. State per key is ONE row regardless of
  * history length — the streaming twin never holds the history the
  * batch aggregate's map-side partial also avoids shuffling. */
object ChangeLogStream {

  def snapshotStream(log: Dataset[CdcEvent]): Dataset[CdcCurrent] = {
    import log.sparkSession.implicits._
    log.groupByKey(_.id)
      .mapGroupsWithState[CdcState, CdcCurrent](GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[CdcEvent], state: GroupState[CdcState]) =>
          val best = (state.getOption.iterator ++
            rows.map(e => CdcState(e.ver1, e.ver2, e.op, e.payload)))
            .maxBy(s => (s.ver1, s.ver2))
          state.update(best)
          CdcCurrent(id, best.ver1, best.ver2, best.op != "D", best.payload)
      }
  }

  // ---- the MATERIALIZED changelog store (bucket-grain MVCC) --------
  //
  // The write-side completion of the CDC family (30s2 batch snapshot,
  // 30s3 streaming state), publishing through
  // [[graft.sources.SnapshotStore]]'s versioned manifest — the
  // engine's ONE store protocol (r16: the journaled
  // dynamic-partition-overwrite twin is deleted). Each merge writes
  // the touched buckets' NEW state as a fresh immutable part
  // (`data/b_x/bucket=N/…`) plus a fresh complete tombstone table
  // (`tomb/t_x/…` — transactional WITH the data, no sidecar swap
  // window), and commits one manifest — a reader resolves a complete
  // store or the prior one, never a mix. Two structural
  // simplifications fall out: no compaction exists (a merge REPLACES
  // its buckets' lines, so a bucket is always exactly one live file),
  // and no rollback journal exists (unpublished parts are invisible
  // debris [[retire]] sweeps; a torn merge re-runs against the prior
  // generation). Exactly-once is a marker replay gate plus the
  // max-version semilattice: replaying a published batch recomputes
  // semantically identical bucket contents, so even a lost marker
  // cannot corrupt. Tombstones carry the delete's version so a STALE
  // out-of-order upsert arriving later finds the higher-versioned
  // delete and loses — without them it would win unopposed and
  // silently resurrect the key. Reclamation is the manifest grace
  // window; a second writer whose base generation was superseded
  // fails fast at publish.

  private val BucketRe = "/bucket=(\\d+)/".r
  private def bucketOf(line: String): Option[Int] =
    BucketRe.findFirstMatchIn(line).map(_.group(1).toInt)
  private def isTombLine(l: String): Boolean = l.startsWith("tomb/")

  private def uuid12 = java.util.UUID.randomUUID().toString.take(12)

  /** Streaming maintenance of the snapshot store. */
  def materialize(log: Dataset[CdcEvent], storeDir: String,
                          checkpointDir: String,
                          nBuckets: Int): StreamingQuery = {
    require(nBuckets >= 1)
    log.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch(materializeBatch(storeDir, nBuckets) _)
      .start()
  }

  /** One micro-batch merge into the snapshot store (exposed for the
    * spec's replay pins and for batch-driven callers). */
  def materializeBatch(storeDir: String, nBuckets: Int)
                              (batch: org.apache.spark.sql.DataFrame,
                               batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val store = graft.sources.SnapshotStore
    val fs = new org.apache.hadoop.fs.Path(storeDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(storeDir,
      s"_ledger/batch.$batchId")
    if (fs.exists(marker)) return
    def mark(): Unit = { fs.create(marker, true).close() }
    def bucketCol = pmod(col("id"), lit(nBuckets)).cast("int")
    val b = batch.withColumn("bucket", bucketCol)
    // ONE batch scan serves both the emptiness gate and the touched
    // set (r17 — the separate isEmpty probe was a scheduled job whose
    // answer this collect already contains)
    val touched: Set[Int] = b.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) { mark(); return }
    val (base, lines) = store.snapshot(spark, storeDir)
    val touchedLines = lines.filter(l => bucketOf(l).exists(touched))
    // the touched buckets' committed state (bucket re-derived from id
    // — the partition column does not ride inside the files)
    val existing =
      if (touchedLines.nonEmpty)
        store.readFiles(spark, storeDir, touchedLines)
          .withColumn("bucket", bucketCol)
      else b.limit(0)
    val relD = s"data/b_$uuid12"
    graft.operators.ChangeLog.latest(
        existing.unionByName(b), Seq("id"), Seq("ver1", "ver2"))
      .select(col("id"), col("ver1"), col("ver2"), col("op"),
        col("payload"), col("bucket"))
      .transform(store.repartitionByBucket(_, nBuckets))
      .write.partitionBy("bucket").parquet(s"$storeDir/$relD")
    val newData = store.partFiles(spark, storeDir, relD)
    // the tombstone table: untouched buckets' rows ride through, the
    // touched buckets' rows are re-derived from the state that was
    // just written (exact by construction, and published in the SAME
    // generation as the data — no sidecar swap window). An r17
    // attempt derived them from a persisted copy of the merge instead
    // of re-reading the written parquet; measured SLOWER at bench
    // scale (cache write amplification beat the tiny re-scan), so the
    // re-read stays.
    val tombLines = lines.filter(isTombLine)
    val fresh = store.readFiles(spark, storeDir, newData)
      .withColumn("bucket", bucketCol)
      .filter(col("op") === "D")
      .groupBy("bucket").agg(min(col("ver1")).as("tmin"))
    val oldTomb =
      if (tombLines.nonEmpty)
        store.readFiles(spark, storeDir, tombLines)
          .filter(!col("bucket").isin(touched.toSeq: _*))
      else fresh.limit(0)
    val relT = s"tomb/t_$uuid12"
    oldTomb.unionByName(fresh).coalesce(1)
      .write.parquet(s"$storeDir/$relT")
    store.publishNext(spark, storeDir,
      lines.filterNot(touchedLines.toSet).filterNot(tombLines.toSet) ++
        newData ++ store.partFiles(spark, storeDir, relT), base, "merge")
    mark()
  }

  /** The committed snapshot (tombstones included — live rows are
    * `op != 'D'`, the 30s2 reader filter), pinned to one generation
    * for the plan's lifetime. Empty store = empty frame. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   storeDir: String): org.apache.spark.sql.DataFrame =
    snapshotFrom(spark, storeDir,
      graft.sources.SnapshotStore.currentFiles(spark, storeDir))

  /** AS-OF snapshot (r17): the latest-state table as of a pinned
    * COMMITTED generation still inside [[retire]]'s grace window —
    * "what did the table say before batch N merged?" for CDC
    * debugging and repro; a retired or never-committed generation
    * throws. Same reader contract as [[readSnapshot]]. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   storeDir: String,
                   asOfGen: Long): org.apache.spark.sql.DataFrame =
    snapshotFrom(spark, storeDir,
      graft.sources.SnapshotStore.filesAsOf(spark, storeDir, asOfGen))

  private def snapshotFrom(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String,
                           lines: Seq[String]): org.apache.spark.sql.DataFrame = {
    val store = graft.sources.SnapshotStore
    val dataLines = lines.filter(l => bucketOf(l).isDefined)
    if (dataLines.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long, Long, String, String)]
        .toDF("id", "ver1", "ver2", "op", "payload")
    } else store.readFiles(spark, storeDir, dataLines)
      .select("id", "ver1", "ver2", "op", "payload")
  }

  /** [[retireTombstones]] for the snapshot store: discovery reads the
    * manifest's tombstone table, qualifying buckets rewrite to fresh
    * parts (a fully-retired bucket simply publishes no lines), and
    * data + tombstone table move in ONE generation. Same horizon
    * safety argument as ever: a retired tombstone (ver1 < horizon)
    * could only have defeated an upsert that is ALSO below the
    * horizon, and the horizon contract says such an event never
    * arrives again — spec-pinned by running the same post-retirement
    * batches through a retired and an unretired store. */
  def retireTombstones(spark: org.apache.spark.sql.SparkSession,
                               storeDir: String, horizonVer1: Long,
                               nBuckets: Int): Unit = {
    import org.apache.spark.sql.functions._
    val store = graft.sources.SnapshotStore
    val (base, lines) = store.snapshot(spark, storeDir)
    val tombLines = lines.filter(isTombLine)
    if (tombLines.isEmpty) return
    val touched: Set[Int] = store.readFiles(spark, storeDir, tombLines)
      .filter(col("tmin") < horizonVer1)
      .select("bucket").collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) return
    def bucketCol = pmod(col("id"), lit(nBuckets)).cast("int")
    val touchedData = lines.filter(l => bucketOf(l).exists(touched))
    val retirable = col("op") === "D" && col("ver1") < horizonVer1
    val relD = s"data/r_$uuid12"
    store.readFiles(spark, storeDir, touchedData)
      .filter(!retirable)
      .withColumn("bucket", bucketCol)
      .transform(store.repartitionByBucket(_, nBuckets))
      .write.partitionBy("bucket").parquet(s"$storeDir/$relD")
    val newData = store.partFiles(spark, storeDir, relD)
    val survivors =
      if (newData.nonEmpty)
        store.readFiles(spark, storeDir, newData)
          .withColumn("bucket", bucketCol)
          .filter(col("op") === "D")
          .groupBy("bucket").agg(min(col("ver1")).as("tmin"))
      else {
        import spark.implicits._
        Seq.empty[(Int, Long)].toDF("bucket", "tmin")
      }
    val relT = s"tomb/t_$uuid12"
    store.readFiles(spark, storeDir, tombLines)
      .filter(!col("bucket").isin(touched.toSeq: _*))
      .unionByName(survivors)
      .coalesce(1).write.parquet(s"$storeDir/$relT")
    store.publishNext(spark, storeDir,
      lines.filterNot(touchedData.toSet).filterNot(tombLines.toSet) ++
        newData ++ store.partFiles(spark, storeDir, relT), base,
      "retire-tombstones")
    ()
  }

  /** Reclaim files unreferenced by the newest `keepGenerations`
    * manifests plus torn writers' debris (file grain; size the window
    * to the longest-running reader). */
  def retire(spark: org.apache.spark.sql.SparkSession,
                     storeDir: String, keepGenerations: Int = 2): Unit =
    graft.sources.SnapshotStore.retire(spark, storeDir, keepGenerations)

}
