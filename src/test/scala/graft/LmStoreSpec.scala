package graft

import org.apache.spark.sql.functions._

import graft.text.{LmStore, TextFeatures}

/** Incremental LM artifacts: the summed batch parts reproduce the
  * one-shot model bit-for-bit (scores identical to the direct
  * operators), batching is irrelevant, compaction preserves serving,
  * and held-out docs ride the smoothed unseen floor exactly like the
  * cross-corpus operator. */
class LmStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  private def scored(dir: String, df: org.apache.spark.sql.DataFrame) =
    LmStore.score(df, col("doc_id"), col("text"), LmStore.model(spark, dir))
      .as[(Long, Long, Double)].collect().toSet

  test("artifact scoring equals the direct self-trained operator; batching is irrelevant") {
    val d3 = java.nio.file.Files.createTempDirectory("lm3").toString
    Seq(0, 1, 2).foreach(i => LmStore.append(
      docs.filter(pmod(col("doc_id"), lit(3)) === i), col("text"), d3))
    val d2 = java.nio.file.Files.createTempDirectory("lm2").toString
    Seq(0, 1).foreach(i => LmStore.append(
      docs.filter(pmod(col("doc_id"), lit(2)) === i), col("text"), d2))
    val want = TextFeatures.charBigramEntropy(docs, col("doc_id"),
      col("text")).as[(Long, Long, Double)].collect().toSet
    assert(scored(d3, docs) == want)
    assert(scored(d2, docs) == want) // a different batching, same model
    assert(want.nonEmpty)
  }

  test("compaction folds parts; serving bit-identical") {
    val dir = java.nio.file.Files.createTempDirectory("lmc").toString
    Seq(0, 1, 2).foreach(i => LmStore.append(
      docs.filter(pmod(col("doc_id"), lit(3)) === i), col("text"), dir))
    assert(graft.sources.SnapshotStore.read(spark, dir)
      .inputFiles.length == 3)
    val before = scored(dir, docs)
    LmStore.compact(spark, dir)
    assert(graft.sources.SnapshotStore.read(spark, dir)
      .inputFiles.length == 1)
    assert(scored(dir, docs) == before)
  }

  test("held-out docs hit the smoothed floor exactly as the cross-corpus operator") {
    val ref = docs.filter(col("doc_id") % 11 === 0)
    val rest = docs.filter(col("doc_id") % 11 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("lmx").toString
    LmStore.append(ref, col("text"), dir)
    val want = TextFeatures.charBigramEntropyAgainst(ref, col("text"),
        rest, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect().toSet
    assert(scored(dir, rest) == want)
    assert(want.nonEmpty)
  }

  test("a torn fold is invisible unpublished debris: serving unchanged, " +
      "no recovery step, retirement sweeps it") {
    val dir = java.nio.file.Files.createTempDirectory("lmcrash").toString
    Seq(0, 1, 2).foreach(i => LmStore.append(
      docs.filter(pmod(col("doc_id"), lit(3)) === i), col("text"), dir))
    val want = scored(dir, docs)
    val gen = graft.sources.SnapshotStore.currentGen(spark, dir)
    // a compactor killed AFTER writing its folded part but BEFORE its
    // manifest commit: the part exists on disk, no manifest names it
    val orphan = new java.io.File(dir, "parts/c_torn")
    orphan.mkdirs()
    graft.sources.SnapshotStore.read(spark, dir)
      .groupBy("bg").agg(sum(col("c")).as("c"))
      .coalesce(1).write.mode("overwrite").parquet(orphan.toString)
    assert(graft.sources.SnapshotStore.currentGen(spark, dir) == gen,
      "an unpublished fold must not advance the generation")
    assert(scored(dir, docs) == want,
      "serving resolves the committed parts exactly — never the debris")
    // the retrying compactor succeeds alongside the debris; retirement
    // sweeps the orphan with the superseded parts
    LmStore.compact(spark, dir)
    assert(scored(dir, docs) == want)
    StoreDebris.age(orphan)
    LmStore.retire(spark, dir, keepGenerations = 1)
    assert(!orphan.exists(), "orphaned torn folds must be swept")
    assert(scored(dir, docs) == want)
  }
}
