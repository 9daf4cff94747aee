package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Bm25Stream
import graft.text.{Bm25, Bm25Index}

/** Streaming BM25 maintenance on the manifest store: the index tracks
  * the feed (serving == the direct query over everything ingested,
  * bit-identical), a replayed completed batch is marker-skipped, a
  * published-but-unmarked batch is caught by the committed max
  * src_batch probe (never double-appended), and a torn append is
  * invisible unpublished debris — no recovery step, the replay just
  * lands against the prior generation. */
class Bm25StreamSpec extends SparkSpec {
  import spark.implicits._

  private val queries = Seq(1 -> "hash join", 2 -> "window agg")

  test("maintained index serves the direct answer; completed-batch " +
      "replay and the lost-marker face are both no-ops") {
    implicit val sql = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25_stream").toString
    Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      col("doc_id"), col("text"), dir, nBuckets = 8)

    val feed = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val stream = MemoryStream[(Long, String)]
    val q = Bm25Stream.maintain(stream.toDF().toDF("doc_id", "text"),
      dir, s"$dir/_ckpt")
    try feed.grouped(math.max(1, feed.size / 3)).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    } finally q.stop()

    def served() = Bm25Index.topK(spark, dir, queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    def gen() = graft.sources.SnapshotStore.currentGen(spark, dir)
    val want = Bm25.topK(docs, col("doc_id"), col("text"), queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    assert(served() == want)
    assert(want.nonEmpty)

    // replaying a completed batch: marker-skipped, generation unmoved
    val genBefore = gen()
    Bm25Stream.maintainBatch(dir)(
      feed.take(2).toDF("doc_id", "text"), 0L) // batch 0 already applied
    assert(gen() == genBefore)
    assert(served() == want)

    // the LOST-MARKER face: a batch published (src_batch committed in
    // its meta part) by a run that died before its marker — the probe
    // marks and skips, never double-appends
    Bm25Stream.maintainBatch(dir)(
      Seq((900001L, "hash join hash join")).toDF("doc_id", "text"), 99L)
    val want2 = Bm25.topK(
        docs.select("doc_id", "text")
          .unionByName(Seq((900001L, "hash join hash join"))
            .toDF("doc_id", "text")),
        col("doc_id"), col("text"), queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    assert(served() == want2)
    assert(served() != want)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, "_ledger/batch.99")
    assert(fs.exists(marker))
    assert(fs.delete(marker, false)) // simulate dying before the marker
    val gen99 = gen()
    Bm25Stream.maintainBatch(dir)(
      Seq((900001L, "hash join hash join")).toDF("doc_id", "text"), 99L)
    assert(gen() == gen99,
      "a published-but-unmarked batch must not publish again")
    assert(served() == want2)
    assert(fs.exists(marker), "the gate must re-commit the lost marker")
  }

  test("a torn append is invisible unpublished debris: serving and " +
      "generation unchanged, the replay lands cleanly, retirement sweeps") {
    val docs = Tables.load(spark, sfDir, "documents")
    val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("bm25_torn").toString
    Bm25Index.build(base, col("doc_id"), col("text"), dir, nBuckets = 8)
    def served() = Bm25Index.topK(spark, dir, queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    def gen() = graft.sources.SnapshotStore.currentGen(spark, dir)
    val want = served()
    val genBefore = gen()

    // a maintainer killed mid-append: postings + meta part subtrees
    // fully written, no manifest committed, no marker — exactly what a
    // kill between the write jobs and the publish leaves behind
    val tornP = new java.io.File(dir, "parts/p_torn/bucket=0")
    tornP.mkdirs()
    Seq((999999L, "ghost", 1L, 5L)).toDF("doc_id", "term", "tf", "dl")
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "parts/p_torn/bucket=0").toString)
    val tornM = new java.io.File(dir, "parts/m_torn")
    Seq((1L, 5L, 8, 42L)).toDF("n_docs", "sum_dl", "n_buckets", "src_batch")
      .coalesce(1).write.mode("overwrite").parquet(tornM.toString)
    assert(gen() == genBefore,
      "unpublished parts must not advance the generation")
    assert(served() == want,
      "readers resolve the committed manifest exactly — never the debris")
    assert(Bm25Index.maxSrcBatch(spark, dir) == -1L,
      "an unpublished meta part must not satisfy the replay probe")

    // the stream replays the batch (never marked): it applies cleanly
    // against the prior generation
    val batch = Seq((900002L, "window agg window")).toDF("doc_id", "text")
    Bm25Stream.maintainBatch(dir)(batch, 42L)
    val want2 = Bm25.topK(
        base.select("doc_id", "text").unionByName(batch),
        col("doc_id"), col("text"), queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    assert(served() == want2)

    // retirement sweeps the torn subtrees with the superseded files
    Seq(tornP.getParentFile, tornM).foreach(StoreDebris.age)
    Bm25Index.retire(spark, dir, keepGenerations = 1)
    assert(!tornM.exists(), "orphaned torn parts must be swept")
    assert(served() == want2)
  }
}
