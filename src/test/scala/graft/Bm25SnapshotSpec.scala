package graft

import org.apache.spark.sql.functions._

import graft.text.{Bm25, Bm25Index}

/** Bucket-grain MVCC manifest on the BM25 index (the r15 extension of
  * the 35b snapshot store to BUCKETED stores; since r16 the ONLY
  * protocol): serving is bit-identical to the direct query through the
  * whole lifecycle, AS-OF generation reads pin any un-retired
  * generation; a live reader overlapping compaction + retirement keeps
  * serving its complete generation (old or new, never a mix); torn
  * maintenance is invisible; retirement reclaims at FILE grain —
  * superseded bucket files inside part dirs that stay live for their
  * other buckets. */
class Bm25SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val queries = Seq(1 -> "hash join", 2 -> "window agg",
    3 -> "customer table scan")

  private def rows(df: org.apache.spark.sql.DataFrame)
      : Set[(Int, Long, Long, Double, Int)] =
    df.as[(Int, Long, Long, Double, Int)].collect().toSet

  private def loadStore(dir: String): Unit = {
    val docs = Tables.load(spark, sfDir, "documents")
    Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      col("doc_id"), col("text"), dir, nBuckets = 8)
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      col("doc_id"), col("text"), dir)
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === 5),
      col("doc_id"), col("text"), dir)
  }

  /** parquet files per bucket across every part subtree. */
  private def filesPerBucket(dir: String): Map[Int, Int] = {
    val out = scala.collection.mutable.Map.empty[Int, Int]
    def walk(f: java.io.File): Unit = f.listFiles().foreach { c =>
      if (c.isDirectory) walk(c)
      else if (c.getName.endsWith(".parquet")) {
        "bucket=(\\d+)".r.findFirstMatchIn(c.getParentFile.getName)
          .foreach(m => out(m.group(1).toInt) =
            out.getOrElse(m.group(1).toInt, 0) + 1)
      }
    }
    walk(new java.io.File(dir, "parts"))
    out.toMap
  }

  test("AS-OF serving: a pinned pre-append generation answers as the " +
      "pre-append index did; a pre-compaction generation answers " +
      "bit-identically to the compacted one; retired generations throw") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25_asof").toString
    val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    Bm25Index.build(base, col("doc_id"), col("text"), dir, nBuckets = 8)
    val wantBase = rows(Bm25Index.topK(spark, dir, queries))
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      col("doc_id"), col("text"), dir)
    val wantFull = rows(Bm25Index.topK(spark, dir, queries))
    assert(wantFull != wantBase, "the append must change rankings")
    // generation 1 = the pre-append index, served verbatim
    assert(graft.sources.SnapshotStore.generations(spark, dir)
      === Seq(1L, 2L))
    assert(rows(Bm25Index.topKAsOf(spark, dir, 1L, queries)) === wantBase)
    // a compaction publishes gen 3; AS OF 2 == the current answer
    // (rows re-filed, never changed)
    Bm25Index.compact(spark, dir)
    assert(rows(Bm25Index.topKAsOf(spark, dir, 2L, queries)) === wantFull)
    assert(rows(Bm25Index.topK(spark, dir, queries)) === wantFull)
    // past the grace window the pinned generation is gone
    Bm25Index.retire(spark, dir, keepGenerations = 1)
    intercept[Exception] {
      Bm25Index.topKAsOf(spark, dir, 1L, queries).collect()
    }
    assert(rows(Bm25Index.topK(spark, dir, queries)) === wantFull)
  }

  test("optimistic commit: two CONCURRENT appends both land (the lost " +
      "fence duel retries against the new generation) and serving " +
      "equals the sequential result") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25_cc").toString
    Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      col("doc_id"), col("text"), dir, nBuckets = 8)
    // race the two batches loadStore appends sequentially: appends
    // commute, so the loser of the manifest slot must re-read the
    // winner's generation and land on top of it, not throw
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(0, 5).map { r =>
      new Thread(() => {
        try Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === r),
          col("doc_id"), col("text"), dir)
        catch { case e: Throwable => errs.add(e); () }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must both land: ${errs.peek()}")
    assert(graft.sources.SnapshotStore.currentGen(spark, dir) === 3L,
      "each append must publish its own generation")
    assert(rows(Bm25Index.topK(spark, dir, queries))
      === rows(Bm25.topK(docs, col("doc_id"), col("text"), queries)),
      "post-race serving must equal the direct query over the full corpus")
  }

  test("serving == the direct query through build + appends + " +
      "compaction + retirement (two independently built stores agree)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dirS = java.nio.file.Files.createTempDirectory("bm25_snap").toString
    val dirJ = java.nio.file.Files.createTempDirectory("bm25_snapj").toString
    loadStore(dirS)
    Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      col("doc_id"), col("text"), dirJ, nBuckets = 8)
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      col("doc_id"), col("text"), dirJ)
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === 5),
      col("doc_id"), col("text"), dirJ)
    val direct = rows(Bm25.topK(docs, col("doc_id"), col("text"), queries))
    assert(direct.nonEmpty)
    assert(rows(Bm25Index.topK(spark, dirS, queries)) === direct)
    assert(rows(Bm25Index.topK(spark, dirJ, queries)) === direct)
    // maintenance preserves serving bit-exactly
    Bm25Index.compact(spark, dirS)
    assert(rows(Bm25Index.topK(spark, dirS, queries)) === direct)
    Bm25Index.retire(spark, dirS, keepGenerations = 1)
    assert(rows(Bm25Index.topK(spark, dirS, queries)) === direct)
    // idempotent: a second compaction finds nothing fragmented
    val gen = graft.sources.SnapshotStore.currentGen(spark, dirS)
    Bm25Index.compact(spark, dirS)
    assert(graft.sources.SnapshotStore.currentGen(spark, dirS) === gen,
      "a no-op compaction must not publish a generation")
  }

  test("reader isolation: a query resolved before compaction keeps " +
      "serving its exact generation; retirement honors the grace window; " +
      "then file-grain reclamation folds each bucket to one file") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_snapiso").toString
    loadStore(dir)
    assert(filesPerBucket(dir).values.exists(_ >= 2),
      "appends should fragment buckets")
    // resolve a reader NOW (generation 3): its plan pins that exact
    // file set for its lifetime
    val preReader = Bm25Index.topK(spark, dir, queries)
    val want = rows(Bm25Index.topK(spark, dir, queries))
    Bm25Index.compact(spark, dir)
    // grace-window retirement (default keeps 2 generations) leaves the
    // pre-compaction reader's files alive
    Bm25Index.retire(spark, dir)
    assert(rows(preReader) === want,
      "the in-flight reader must still serve its snapshot mid-maintenance")
    assert(rows(Bm25Index.topK(spark, dir, queries)) === want,
      "a fresh reader resolves the compacted generation — same rows")
    // a tight window reclaims the superseded bucket files (file grain:
    // the live part dirs keep only their compacted file per bucket)
    Bm25Index.retire(spark, dir, keepGenerations = 1)
    assert(filesPerBucket(dir).values.forall(_ == 1),
      s"got ${filesPerBucket(dir)}")
    assert(rows(Bm25Index.topK(spark, dir, queries)) === want)
  }

  test("a torn compactor is invisible and swept; a query whose terms hit " +
      "no materialized bucket serves empty instead of throwing") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_snaptorn").toString
    loadStore(dir)
    val want = rows(Bm25Index.topK(spark, dir, queries))
    // a compactor killed after writing its folded part but before
    // publishing: an orphan subtree no manifest references
    val orphan = new java.io.File(dir, "parts/c_torn/bucket=0")
    orphan.mkdirs()
    Seq((999999L, "ghost", 1L, 1L)).toDF("doc_id", "term", "tf", "dl")
      .coalesce(1).write.mode("overwrite").parquet(orphan.toString)
    assert(rows(Bm25Index.topK(spark, dir, queries)) === want,
      "unpublished parts must never reach a reader")
    StoreDebris.age(orphan.getParentFile)
    Bm25Index.retire(spark, dir, keepGenerations = 1)
    assert(!orphan.exists(), "orphaned torn parts must be swept")
    assert(rows(Bm25Index.topK(spark, dir, queries)) === want)

    // a one-doc index materializes one bucket; a query hashing
    // elsewhere must serve the empty result in the right schema
    val tiny = java.nio.file.Files.createTempDirectory("bm25_snaptiny").toString
    Bm25Index.build(Seq((1L, "alpha")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), tiny, nBuckets = 64)
    val probes = Seq("beta", "gamma", "delta", "epsilon").map(t => t ->
      spark.range(1).select(pmod(xxhash64(lit(t)), lit(64)).cast("int"))
        .head().getInt(0))
    val inBucket = spark.range(1)
      .select(pmod(xxhash64(lit("alpha")), lit(64)).cast("int")).head().getInt(0)
    val miss = probes.find(_._2 != inBucket).map(_._1).get
    assert(rows(Bm25Index.topK(spark, tiny, Seq(9 -> miss))).isEmpty)
  }
}
