package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{CdcEvent, ChangeLogStream}
import graft.operators.ChangeLog

/** Bucket-grain MVCC manifest on the CDC changelog store: merges,
  * tombstone maintenance, and retirement each publish ONE generation
  * (data + tombstone table together), so a live reader overlapping any
  * of them resolves a complete store; replay is gated by markers and
  * protected by the max-version semilattice; torn merges are invisible
  * debris; the retire-all-buckets edge needs no special casing. */
class ChangeLogSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val log = Seq(
    CdcEvent(1L, 1L, 10L, "U", "a"), CdcEvent(1L, 3L, 11L, "U", "b"),
    CdcEvent(2L, 1L, 20L, "U", "c"), CdcEvent(2L, 5L, 21L, "D", "c"),
    CdcEvent(3L, 2L, 30L, "D", "x"), CdcEvent(3L, 4L, 31L, "U", "d"),
    CdcEvent(4L, 9L, 40L, "U", "e"),
    CdcEvent(6L, 1L, 60L, "U", "z"), CdcEvent(6L, 2L, 61L, "D", "z"))

  private def batchDf(rows: Seq[CdcEvent]) =
    rows.toDF().selectExpr("id", "ver1", "ver2", "op", "payload")

  private def apply(dir: String, rows: Seq[CdcEvent], id: Long): Unit =
    ChangeLogStream.materializeBatch(dir, 3)(batchDf(rows), id)

  private def full(dir: String): Set[(Long, Long, Long, String, String)] =
    ChangeLogStream.readSnapshot(spark, dir)
      .as[(Long, Long, Long, String, String)].collect().toSet

  private def live(dir: String): Set[(Long, Long, Long, String)] =
    full(dir).filter(_._4 != "D").map(r => (r._1, r._2, r._3, r._5))

  private def tomb(dir: String): Set[(Int, Long)] = {
    val lines = graft.sources.SnapshotStore.currentFiles(spark, dir)
      .filter(_.startsWith("tomb/"))
    if (lines.isEmpty) Set.empty
    else graft.sources.SnapshotStore.readFiles(spark, dir, lines)
      .select("bucket", "tmin").as[(Int, Long)].collect().toSet
  }

  test("live rows equal the batch snapshot across out-of-order batches; " +
      "tombstones block resurrection; replay and lost-marker faces are " +
      "no-ops; the tombstone table is exact after every merge") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsnap").toString
    val batches = Seq(
      Seq(log(0), log(2), log(4), log(7)),
      Seq(log(1), log(3), log(5), log(6), log(8)))
    batches.zipWithIndex.foreach { case (b, i) => apply(dir, b, i.toLong) }
    val want = ChangeLog.snapshot(log.toDF(), Seq("id"),
        Seq("ver1", "ver2"), "op")
      .select("id", "ver1", "ver2", "payload")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(live(dir) == want)
    assert(full(dir).contains((2L, 5L, 21L, "D", "c")))
    assert(full(dir).contains((6L, 2L, 61L, "D", "z")))
    // tombstone table == derived from the store, exactly
    val derived = ChangeLogStream.readSnapshot(spark, dir)
      .filter(col("op") === "D")
      .groupBy(pmod(col("id"), lit(3)).cast("int").as("bucket"))
      .agg(min(col("ver1")).as("tmin"))
      .as[(Int, Long)].collect().toSet
    assert(tomb(dir) == derived)

    val before = full(dir)
    val gen = graft.sources.SnapshotStore.currentGen(spark, dir)
    // marker replay: skipped outright, no new generation
    apply(dir, batches.last, 1L)
    assert(graft.sources.SnapshotStore.currentGen(spark, dir) == gen)
    assert(full(dir) == before)
    // lost-marker face: the same rows under a NEW id re-merge through
    // the semilattice — a new generation, identical contents
    apply(dir, batches.last, 99L)
    assert(full(dir) == before)
    // stale upsert for a deleted key loses to the tombstone
    apply(dir, Seq(CdcEvent(6L, 1L, 59L, "U", "zombie")), 100L)
    assert(full(dir) == before)
    assert(live(dir) == want)
  }

  test("reader isolation: a snapshot resolved before a merge keeps " +
      "serving its generation; a torn merge is invisible debris that " +
      "retirement sweeps") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsnap_iso").toString
    apply(dir, log.take(4), 0L)
    val want0 = full(dir)
    val preReader = ChangeLogStream.readSnapshot(spark, dir)
    // a merge publishes a new generation under the live reader
    apply(dir, log.drop(4), 1L)
    assert(full(dir) != want0, "the merge must change the store")
    assert(preReader.as[(Long, Long, Long, String, String)].collect().toSet
      == want0, "the in-flight reader must keep its snapshot")
    // torn merge: fresh part subtrees no manifest references
    val debris = new java.io.File(dir, "data/b_torn/bucket=0")
    debris.mkdirs()
    Seq((999L, 1L, 1L, "U", "ghost"))
      .toDF("id", "ver1", "ver2", "op", "payload")
      .coalesce(1).write.mode("overwrite").parquet(debris.toString)
    val committed = full(dir)
    assert(full(dir) == committed && !committed.exists(_._1 == 999L),
      "unpublished parts must never reach a reader")
    StoreDebris.age(debris.getParentFile)
    ChangeLogStream.retire(spark, dir, keepGenerations = 1)
    assert(!debris.exists(), "torn debris must be swept")
    assert(full(dir) == committed)
  }

  test("tombstone retirement below the horizon: one generation moves " +
      "data and tombstone table together; retiring every bucket leaves " +
      "a working store") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsnap_ret").toString
    apply(dir, log, 0L)
    val liveBefore = live(dir)
    // horizon above every tombstone's ver1 (5, 2) but below live rows'
    // relevance: all tombstones retire, live rows stay
    ChangeLogStream.retireTombstones(spark, dir,
      horizonVer1 = 100L, nBuckets = 3)
    assert(live(dir) == liveBefore)
    assert(full(dir).forall(_._4 != "D"), "all tombstones retired")
    assert(tomb(dir) == Set.empty)
    // idempotent second retirement
    ChangeLogStream.retireTombstones(spark, dir,
      horizonVer1 = 100L, nBuckets = 3)
    assert(live(dir) == liveBefore)
    // a store whose EVERY row was a tombstone empties completely and
    // still bootstraps the next merge
    val dir2 = java.nio.file.Files.createTempDirectory("cdcsnap_all").toString
    apply(dir2, Seq(CdcEvent(1L, 5L, 1L, "D", "a"),
      CdcEvent(2L, 5L, 1L, "D", "b")), 0L)
    ChangeLogStream.retireTombstones(spark, dir2,
      horizonVer1 = 100L, nBuckets = 3)
    assert(full(dir2) == Set.empty)
    assert(tomb(dir2) == Set.empty)
    apply(dir2, Seq(CdcEvent(3L, 7L, 1L, "U", "c")), 1L)
    assert(live(dir2) == Set((3L, 7L, 1L, "c")))
  }

  test("AS-OF snapshot: the pre-merge generation answers as the table " +
      "did before that batch; the current generation matches the " +
      "as-of-CURRENT read; retired and never-committed throw") {
    val dir = java.nio.file.Files.createTempDirectory("cdcsnap_asof").toString
    apply(dir, log.take(5), 0L)
    val wantPre = full(dir)
    apply(dir, log.drop(5), 1L)
    val wantFull = full(dir)
    assert(wantFull != wantPre, "the second merge must change the table")
    def asOf(g: Long): Set[(Long, Long, Long, String, String)] =
      ChangeLogStream.readSnapshot(spark, dir, g)
        .as[(Long, Long, Long, String, String)].collect().toSet
    assert(asOf(1L) == wantPre,
      "AS OF 1 must serve the table exactly as batch 0 left it")
    assert(asOf(2L) == wantFull)
    ChangeLogStream.retire(spark, dir, keepGenerations = 1)
    intercept[Exception] { asOf(1L) }
    intercept[IllegalArgumentException] { asOf(99L) }
    assert(full(dir) == wantFull)
  }

  test("streaming maintenance end-to-end matches the batch-driven " +
      "handler and the 30s2 batch snapshot") {
    implicit val sql = spark.sqlContext
    val dirS = java.nio.file.Files.createTempDirectory("cdcsnap_str").toString
    val dirB = java.nio.file.Files.createTempDirectory("cdcsnap_bat").toString
    val batches = Seq(log.take(5), log.drop(5))
    val stream = MemoryStream[CdcEvent]
    val q = ChangeLogStream.materialize(stream.toDS(), dirS,
      s"$dirS/_ckpt", nBuckets = 3)
    try batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    batches.zipWithIndex.foreach { case (b, i) =>
      ChangeLogStream.materializeBatch(dirB, 3)(batchDf(b), i.toLong)
    }
    assert(full(dirS) == full(dirB))
    assert(full(dirS).nonEmpty)
    val want = ChangeLog.snapshot(log.toDF(), Seq("id"),
        Seq("ver1", "ver2"), "op")
      .select("id", "ver1", "ver2", "payload")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(live(dirS) == want)
  }
}
