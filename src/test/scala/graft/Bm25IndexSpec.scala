package graft

import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.text.{Bm25, Bm25Index}

/** Incremental BM25 index: serving from build ∪ append is
  * bit-identical to the direct query over the concatenated corpus. */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  private val queries = Seq(1 -> "hash join", 2 -> "window agg",
    3 -> "customer table scan")

  test("index serving equals the direct query; appends fold in exactly") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      col("doc_id"), col("text"), dir)
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      col("doc_id"), col("text"), dir)
    val got = Bm25Index.topK(spark, dir, queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    val want = Bm25.topK(docs, col("doc_id"), col("text"), queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
    // a second append folds in the same way: rebuild expectations
    // over the extended corpus
    val extra = Seq((900001L, "hash join hash join window"),
      (900002L, "customer scan")).toDF("doc_id", "text")
    Bm25Index.append(extra, col("doc_id"), col("text"), dir)
    val got2 = Bm25Index.topK(spark, dir, queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    val want2 = Bm25.topK(docs.select("doc_id", "text").unionByName(extra),
        col("doc_id"), col("text"), queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    assert(got2 == want2)
    // the planted exact-phrase doc must surface for query 1
    assert(got2.exists { case (q, d, _, _, _) => q == 1 && d == 900001L })
    assert(got2 != got) // the append genuinely changed rankings
  }

  test("compaction folds fragmented buckets to one file; serving is bit-identical") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("bm25_compact").toString
    Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      col("doc_id"), col("text"), dir, nBuckets = 8)
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      col("doc_id"), col("text"), dir)
    Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === 5),
      col("doc_id"), col("text"), dir)
    val BucketRe = "/bucket=(\\d+)/".r
    def linesPerBucket(): Map[Int, Int] =
      graft.sources.SnapshotStore.currentFiles(spark, dir)
        .flatMap(l => BucketRe.findFirstMatchIn(l).map(_.group(1).toInt))
        .groupBy(identity).map { case (b, ls) => b -> ls.length }
    def metaLines(): Int =
      graft.sources.SnapshotStore.currentFiles(spark, dir)
        .count(_.startsWith("parts/m_"))
    assert(linesPerBucket().values.exists(_ >= 2),
      "appends should fragment buckets")
    val before = Bm25Index.topK(spark, dir, queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    Bm25Index.compact(spark, dir)
    // every bucket is exactly one manifest line; meta folded to one
    assert(linesPerBucket().values.forall(_ == 1), s"got ${linesPerBucket()}")
    assert(metaLines() == 1)
    val after = Bm25Index.topK(spark, dir, queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet
    assert(after == before)
    assert(after.nonEmpty)
    // idempotent: a second compaction is a no-op (generation unmoved)
    val gen = graft.sources.SnapshotStore.currentGen(spark, dir)
    Bm25Index.compact(spark, dir)
    assert(graft.sources.SnapshotStore.currentGen(spark, dir) == gen)
    assert(Bm25Index.topK(spark, dir, queries)
      .as[(Int, Long, Long, Double, Int)].collect().toSet == before)
  }

  test("serving reads only the query terms' buckets") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    val dir = java.nio.file.Files.createTempDirectory("bm25_prune").toString
    Bm25Index.build(docs, col("doc_id"), col("text"), dir, nBuckets = 16)
    def postingsFiles(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
      plan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("parts/p")) =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
            .flatMap(_.files).length
        }
    // the static prune is manifest-LINE selection: the postings scan's
    // file set IS the one bucket of a one-term query — untouched
    // buckets are never even listed (sparkPlan, not executedPlan — AQE
    // wraps the latter before execution and hides the scan node)
    val scanFiles = postingsFiles(Rounds.forcing(Rounds.Wide)(
      Bm25Index.topK(spark, dir, Seq(1 -> "hash"))).queryExecution.sparkPlan)
    assert(scanFiles.nonEmpty && scanFiles.head == 1,
      s"postings files read: $scanFiles")
    // the Local form returns a local relation; its one postings read is
    // the collect it runs while serving
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = postingsFiles(qe.sparkPlan).foreach(seen.add)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Rounds.forcing(Rounds.Local)(Bm25Index.topK(spark, dir, Seq(1 -> "hash")))
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.toArray.toSeq == Seq(1), s"postings files read: $seen")
  }

  test("a default-profile topK over a 2k-doc index launches at most 2 " +
      "jobs, the same count every rep") {
    val words = "hash join window agg customer table scan sort merge index"
      .split(" ")
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 6).map(j =>
        element_at(typedLit(words), (pmod(col("id") * (j + 3), lit(words.length)) + 1)
          .cast("int"))): _*).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25_jobs").toString
    Bm25Index.build(docs, col("doc_id"), col("text"), dir)
    val counts = (1 to 3).map(_ => JobCount.during(spark)(
      Bm25Index.topK(spark, dir, Seq(1 -> "hash join")).collect())._2)
    assert(counts.forall(_ <= 2) && counts.distinct.length == 1,
      s"jobs per rep: $counts")
  }

  test("the scoring parameters are validated") {
    val docs = Tables.load(spark, sfDir, "documents").limit(50)
    val dir = java.nio.file.Files.createTempDirectory("bm25_params").toString
    Bm25Index.build(docs, col("doc_id"), col("text"), dir, nBuckets = 4)
    for ((k1, b) <- Seq((-0.5, 0.75), (Double.NaN, 0.75),
        (Double.PositiveInfinity, 0.75), (1.2, -0.1), (1.2, 1.5), (1.2, Double.NaN))) {
      intercept[IllegalArgumentException](
        Bm25.topK(docs, col("doc_id"), col("text"), queries, k1 = k1, b = b))
      intercept[IllegalArgumentException](
        Bm25Index.topK(spark, dir, queries, k1 = k1, b = b))
    }
    // the bounds themselves serve
    for ((k1, b) <- Seq((0.0, 0.0), (0.0, 1.0), (2.0, 1.0)))
      assert(Bm25Index.topK(spark, dir, queries, k1 = k1, b = b).collect()
        .toSet == Bm25.topK(docs, col("doc_id"), col("text"), queries,
          k1 = k1, b = b).collect().toSet)
  }

  test("the bucket function's plan and driver forms agree") {
    val vocab = Tables.load(spark, sfDir, "documents")
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .distinct().as[String].collect().toSeq
    // the benchmark corpus's pseudo-words: three of 16 syllables each
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su",
      "do", "fa", "gi", "ho", "ju", "be")
    val pseudo = (0 until 4096).map(i => (0 until 3).map(d =>
      syl((i >> (4 * d)) & 15)).mkString)
    val terms = vocab ++ pseudo ++ Seq("", "café", "naïve", "straße", "ωμέγα",
      "日本語", "한국어", "emoji🎉", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "a\u0000b")
    assert(vocab.length > 20 && terms.distinct.length > 4096)
    for (nb <- Seq(1, 7, 16, 64)) {
      val plan = terms.toDF("term").select(col("term"), Bm25Index.bucket(col("term"), nb))
        .as[(String, Int)].collect().toMap
      terms.foreach(t => assert(Bm25Index.bucketLocal(t, nb) == plan(t), s"$t at $nb"))
    }
  }
}
