package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.storage.StorageLevel

class CacheReleaseSpec extends SparkSpec {
  import spark.implicits._

  /** The listener fires on the session's async listener bus: drain
    * it, then check. */
  private def drained(cond: => Boolean): Boolean = {
    GraftBridge.drainListeners(spark)
    cond
  }

  test("cache is released after the next query execution completes") {
    val cached = spark.range(1000).toDF("id")
      .withColumn("v", col("id") * 2)
      .persist(StorageLevel.MEMORY_AND_DISK)
    cached.count() // operator-internal materialization
    assert(cached.storageLevel != StorageLevel.NONE)
    val result = cached.groupBy((col("id") % 10).as("g")).agg(sum("v").as("s"))
    graft.functions.CacheRelease.afterNextExecution(cached)
    // caller materializes the returned plan
    assert(result.collect().length == 10)
    assert(drained(cached.storageLevel == StorageLevel.NONE),
      "cache not released after the caller's action")
  }

  test("release is correctness-neutral: re-materializing recomputes") {
    val cached = spark.range(100).toDF("id").persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    val result = cached.agg(sum("id"))
    graft.functions.CacheRelease.afterNextExecution(cached)
    assert(result.collect()(0).getLong(0) == 4950L)
    assert(drained(cached.storageLevel == StorageLevel.NONE))
    // second materialization after release: recompute, same values
    assert(result.collect()(0).getLong(0) == 4950L)
  }

  test("layoutBy's internal rank cache drains after the caller's action") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("doc_id", "text")
    val out = graft.text.Shuffle.permute(docs, col("doc_id"), nShards = 2)
    assert(out.count() == 4)
    assert(drained(spark.sparkContext.getPersistentRDDs.size <= before),
      s"layoutBy leaked a cached RDD (before=$before, " +
        s"after=${spark.sparkContext.getPersistentRDDs.size})")
  }

  test("dedupAgainst's index cache drains after the caller's action") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val corpus = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val batch = Seq((10L, "x"), (11L, "z")).toDF("doc_id", "text")
    val out = graft.dedup.IncrementalDedup.dedupAgainst(
      corpus, col("doc_id"), col("text"), batch, col("doc_id"), col("text"))
    assert(out.count() == 2)
    assert(drained(spark.sparkContext.getPersistentRDDs.size <= before),
      s"dedupAgainst leaked a cached RDD (before=$before, " +
        s"after=${spark.sparkContext.getPersistentRDDs.size})")
  }
}
