package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CorpusIncrementStream
import graft.text.{CorpusBuild, CorpusIncrement}

/** Streaming corpus maintenance: micro-batches fold into the 31g3
  * artifact store, the maintained sample equals the batch rebuild over
  * everything ingested, and a replayed COMPLETED batch is skipped by
  * the ledger instead of double-appended. */
class CorpusIncrementStreamSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("doc_id", "text", "lang", "source")

  test("maintained artifacts equal the full rebuild; completed-batch replay is a no-op") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("icorpus_stream").toString
    val eval = Seq((1L, "quick brown fox jumps over the lazy sleeping dog tonight",
      "en", "ev")).toDF(cols: _*)
    val base = Seq(
      (100L, "the alpha beta gamma delta", "en", "s1"),
      (101L, "the alpha beta gamma epsilon", "en", "s1"),
      (102L, "the kappa lambda mu nu xi", "en", "s1"))
    val b1 = Seq(
      (1001L, "the kappa lambda mu nu xi", "en", "s1"), // exact dup
      (1002L, "the rho sigma tau upsilon phi", "en", "s1"))
    val b2 = Seq(
      (2000L, "the rho sigma tau upsilon chi", "en", "s1"), // near-dups 1002
      (2001L, "alpha quick brown fox jumps over the lazy sleeping dog omega",
        "en", "s1")) // decon casualty
    CorpusIncrement.build(base.toDF(cols: _*), eval, dir, shingleK = 3,
      threshold = 0.4, maxDf = 3L, deconN = 8, nBuckets = 8)

    val stream = MemoryStream[(Long, String, String, String)]
    val q = CorpusIncrementStream.maintain(
      stream.toDF().toDF(cols: _*), dir, s"$dir/_ckpt")
    try Seq(b1, b2).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    } finally q.stop()

    def out() = CorpusIncrement.assemble(spark, dir)
      .as[(Long, String, String)].collect().toSet
    val want = CorpusBuild.run((base ++ b1 ++ b2).toDF(cols: _*), eval,
        shingleK = 3, threshold = 0.4, maxDf = 3L, deconN = 8)
      .as[(Long, String, String)].collect().toSet
    val got = out()
    assert(got == want)
    assert(!got.map(_._1)(1001L) && !got.map(_._1)(2001L)
      && got.map(_._1)(1002L))

    // a replayed COMPLETED batch is skipped by the ledger — the store
    // (including the additive df parts a blind re-append would
    // corrupt) is byte-for-byte untouched
    def dfRows() = CorpusIncrement.artifact(spark, dir, "df")
      .select("shingle", "df").as[(String, Long)].collect()
      .groupBy(identity).map { case (k, v) => (k, v.length) }.toSet
    val before = (out(), dfRows())
    CorpusIncrementStream.maintainBatch(dir)(b2.toDF(cols: _*), 1L)
    assert((out(), dfRows()) == before)
    // an UNSEEN batch id still applies (the ledger gates on id)
    val b3 = Seq((3000L, "the brand new words arrive here", "en", "s1"))
    CorpusIncrementStream.maintainBatch(dir)(b3.toDF(cols: _*), 7L)
    assert(out() == CorpusBuild.run((base ++ b1 ++ b2 ++ b3).toDF(cols: _*),
        eval, shingleK = 3, threshold = 0.4, maxDf = 3L, deconN = 8)
      .as[(Long, String, String)].collect().toSet)
  }

  test("crash faces: mid-increment debris is invisible to readers with no " +
      "recovery step; a publish that lost its marker is skipped, never " +
      "double-applied; the replayed torn batch lands") {
    val dir = java.nio.file.Files.createTempDirectory("icorpus_crash").toString
    val eval = Seq((1L, "quick brown fox jumps over the lazy sleeping dog tonight",
      "en", "ev")).toDF(cols: _*)
    val base = Seq(
      (100L, "the alpha beta gamma delta", "en", "s1"),
      (101L, "the alpha beta gamma epsilon", "en", "s1"),
      (102L, "the kappa lambda mu nu xi", "en", "s1"))
    val b1 = Seq(
      (1001L, "the kappa lambda mu nu xi", "en", "s1"),
      (1002L, "the rho sigma tau upsilon phi", "en", "s1"))
    CorpusIncrement.build(base.toDF(cols: _*), eval, dir, shingleK = 3,
      threshold = 0.4, maxDf = 3L, deconN = 8, nBuckets = 8)
    def out() = CorpusIncrement.assemble(spark, dir)
      .as[(Long, String, String)].collect().toSet
    def lines() = graft.sources.SnapshotStore.currentFiles(spark, dir).toSet
    val want0 = out()
    val committedLines = lines()

    // a kill between ANY two of the eight artifact writes leaves fresh
    // part subtrees no manifest references: the committed generation
    // is untouched and readers resolve it with NO recovery step
    Seq("hidx", "post", "df", "pairs", "labels").foreach { a =>
      val d = java.nio.file.Paths.get(dir, a, "p_torndebris")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-torn.snappy.parquet"),
        Array[Byte](1, 2, 3))
    }
    assert(lines() == committedLines,
      "unpublished debris must not reach the manifest")
    assert(out() == want0, "readers stay on the prior generation")

    // an in-flight reader resolved BEFORE the batch keeps its snapshot
    // while the replayed batch 0 lands (checkpoint never committed)
    val preReader = CorpusIncrement.assemble(spark, dir)
    CorpusIncrementStream.maintainBatch(dir)(b1.toDF(cols: _*), 0L)
    val want1 = CorpusBuild.run((base ++ b1).toDF(cols: _*), eval,
        shingleK = 3, threshold = 0.4, maxDf = 3L, deconN = 8)
      .as[(Long, String, String)].collect().toSet
    assert(out() == want1)
    assert(preReader.as[(Long, String, String)].collect().toSet == want0,
      "the in-flight reader must still serve its generation")

    // the lost-marker face: a run that PUBLISHED its generation but
    // died before writing the batch marker. Simulated by applying the
    // increment directly (no marker), then replaying through the
    // wrapper: it must detect the batch as committed (all ids <= the
    // stored max doc id), mark, and skip — not throw, not double-apply
    val b2 = Seq((2000L, "the rho sigma tau upsilon chi", "en", "s1"))
    CorpusIncrement.increment(b2.toDF(cols: _*), dir)
    val linesAfterB2 = lines()
    val want2 = out()
    CorpusIncrementStream.maintainBatch(dir)(b2.toDF(cols: _*), 1L)
    assert(lines() == linesAfterB2, "the lost-marker replay must not publish")
    assert(out() == want2)
    // ...and now the marker exists, so a second replay short-circuits
    CorpusIncrementStream.maintainBatch(dir)(b2.toDF(cols: _*), 1L)
    assert(lines() == linesAfterB2)

    // tight-window maintenance sweeps the planted debris and every
    // superseded generation; serving is unchanged
    Seq("hidx", "post", "df", "pairs", "labels").foreach(a =>
      StoreDebris.age(java.nio.file.Paths.get(dir, a, "p_torndebris")))
    CorpusIncrement.compact(spark, dir, keepGenerations = 1)
    Seq("hidx", "post", "df", "pairs", "labels").foreach { a =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, a, "p_torndebris")),
        s"debris under $a must be swept")
    }
    assert(out() == want2)
  }
}
