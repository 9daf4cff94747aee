package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED + INCREMENTAL BM25 index — the retrieval member of the
  * incremental family (22a exact dedup, 24c near-dup, 27i4 graph,
  * 27m2 IVF, 23e clusters, 7i2 sketches): [[Bm25.topK]] re-reads and
  * re-tokenizes the corpus per query batch; the index pays the
  * token-grain work ONCE at build, appends each crawl batch's
  * postings without touching old ones, and serves queries from the
  * artifact.
  *
  * Publication (r16 — consolidated onto the engine's ONE store
  * protocol, [[graft.sources.SnapshotStore]]'s bucket-grain MVCC
  * manifest; the journaled twin the r15 build still carried is
  * deleted): postings/meta batches land as immutable part subtrees
  * (`parts/p_x/bucket=N/…`, `parts/m_x/…`), each publication is one
  * put-if-absent manifest commit, and a reader resolves the head
  * once — so a query keeps serving its exact generation while
  * compaction replaces single buckets' files underneath it (never a
  * mix, Bm25SnapshotSpec's pin). A torn writer leaves only
  * unpublished debris no reader resolves and [[retire]] sweeps — no
  * rollback journal exists; a second writer whose base was superseded
  * fails fast at publish.
  * Space reclamation is [[retire]]'s grace window.
  *
  * Artifacts per part:
  *  - postings: (term, doc_id, tf, dl) filed under
  *    `bucket = pmod(xxhash64(term), nBuckets)`, one file per bucket
  *    per batch — a query reads ONLY its terms' buckets (the static
  *    prune is manifest-LINE selection: untouched buckets are never
  *    even listed), and an append adds lines without touching old
  *    ones;
  *  - meta: one (n_docs, sum_dl, n_buckets, src_batch) row per
  *    build/append — corpus stats are sums of per-part sums (exact
  *    integers); `n_buckets` is the persisted layout truth; and
  *    `src_batch` (-1 for batch-API callers) lets the streaming
  *    maintainer ([[graft.streaming.Bm25Stream]]) probe the committed
  *    max batch id for its lost-marker replay gate.
  *
  * EXACTNESS: document frequency is counted from the query-filtered
  * postings at serving time (df is a property of the postings, not a
  * second artifact to drift); tf/dl rows for a document are identical
  * whether it arrived at build or append; N/sum_dl are associative
  * integer sums; and the scoring tail IS [[Bm25.scoreTf]] — so index
  * serving over base ∪ appended batches is BIT-IDENTICAL to
  * [[Bm25.topK]] over the concatenated corpus, through build + append
  * + compaction + retirement, which is what lets the registry queries
  * reuse the direct query's SQL oracle verbatim. */
object Bm25Index {

  /** Bucket id of a manifest line, None for meta/non-bucket lines. */
  private val BucketRe = "/bucket=(\\d+)/".r
  private def bucketOf(line: String): Option[Int] =
    BucketRe.findFirstMatchIn(line).map(_.group(1).toInt)
  private def isMetaLine(l: String): Boolean = l.startsWith("parts/m_")

  /** Layout truth from the manifest lines alone (r17): postings part
    * dirs carry the bucket count in their name (`parts/p<nb>_<uid>`,
    * `parts/c<nb>_<uid>`), so append/compact/serve read it with ZERO
    * Spark jobs — the meta scan this replaces was a per-call scheduled
    * job whose only payload was one small integer. Pre-r17 stores
    * (plain `p_`/`c_` names) fall back to the meta read. */
  private val NbRe = "parts/[pc](\\d+)_".r
  private def bucketsOf(spark: SparkSession, dir: String,
                        lines: Seq[String]): Int = {
    val nbs = lines.flatMap(l =>
      NbRe.findFirstMatchIn(l).map(_.group(1).toInt)).distinct
    nbs match {
      case Seq(nb) => nb
      case Seq() => bucketsOfMeta(meta(spark, dir, lines), dir)
      case many => throw new IllegalStateException(
        s"inconsistent n_buckets in $dir: ${many.mkString(", ")}")
    }
  }

  /** The stored bucket count, from the committed meta lines. */
  private def bucketsOfMeta(meta: DataFrame, dir: String): Int = {
    val n = meta.select(min(col("n_buckets")), max(col("n_buckets"))).head()
    require(n.getInt(0) == n.getInt(1),
      s"inconsistent n_buckets in $dir: ${n.getInt(0)} vs ${n.getInt(1)}")
    n.getInt(0)
  }

  private def meta(spark: SparkSession, dir: String,
                   lines: Seq[String]): DataFrame =
    graft.sources.SnapshotStore.readFiles(spark, dir, lines.filter(isMetaLine))

  /** One tokenization pass feeding BOTH artifacts: sink receives the
    * batch's bucketed postings rows and its one-row stats part. */
  private def derive[A](df: DataFrame, id: Column, text: Column,
                        nBuckets: Int, srcBatch: Long)
                       (sink: (DataFrame, DataFrame) => A): A = {
    val base = Bm25.tokenized(df, id, text)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try sink(
      base.select(col("doc_id"), col("dl"), explode(col("_tk")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .withColumn("bucket",
          pmod(xxhash64(col("term")), lit(nBuckets)).cast("int")),
      base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("n_buckets", lit(nBuckets))
        .withColumn("src_batch", lit(srcBatch)))
    finally { base.unpersist(blocking = false); () }
  }

  /** Write one batch's postings + stats as fresh immutable parts;
    * returns their store-relative files (what the publish commits). */
  private def writeParts(df: DataFrame, id: Column, text: Column,
                         dir: String, nBuckets: Int,
                         srcBatch: Long): Seq[String] = {
    val spark = df.sparkSession
    val uid = java.util.UUID.randomUUID().toString.take(12)
    derive(df, id, text, nBuckets, srcBatch) { (postings, stats) =>
      // the tokenized base is persisted by derive; materialize it with
      // the (tiny) stats job BEFORE forking, so the overlapped jobs
      // read the cache instead of racing to compute it
      val statsRows = stats.collect().toSeq
      // OVERLAPPED writes (guide §2.6): the postings and stats parts
      // are independent actions over the same cached base — submitting
      // both lets the one-row stats write ride the postings write's
      // scheduling gaps instead of serializing behind it
      val statsJob = java.util.concurrent.CompletableFuture.runAsync(() =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(statsRows, 1), stats.schema)
          .write.parquet(s"$dir/parts/m_$uid"))
      // one file per bucket (repartition on the partition column) —
      // the artifact's file count grows with BATCHES, not tasks.
      // The stats future is ALWAYS awaited (r18, the r17 advisor's
      // finding): a postings-write failure no longer leaves the stats
      // job racing store teardown, and a stats failure surfaces as its
      // underlying exception, not the CompletionException wrapper —
      // unless the postings write failed first, which wins.
      var ok = false
      try {
        graft.sources.SnapshotStore.repartitionByBucket(postings, nBuckets)
          .write.partitionBy("bucket").parquet(s"$dir/parts/p${nBuckets}_$uid")
        ok = true
      } finally {
        try statsJob.join()
        catch {
          case e: java.util.concurrent.CompletionException if ok =>
            throw Option(e.getCause).getOrElse(e)
          case _: Throwable if !ok => // postings failure propagates
        }
      }
    }
    graft.sources.SnapshotStore.partFiles(spark, dir,
      s"parts/p${nBuckets}_$uid") ++
      graft.sources.SnapshotStore.partFiles(spark, dir, s"parts/m_$uid")
  }

  /** Build the index (a rebuild publishes a manifest of only the new
    * parts — superseded files await [[retire]], so in-flight readers
    * of the old corpus keep serving it). Read-modify-write shape (it
    * REPLACES the store), so a concurrent commit makes it fail fast. */
  def build(df: DataFrame, id: Column, text: Column, dir: String,
            nBuckets: Int = 64, srcBatch: Long = -1L): Unit = {
    require(nBuckets >= 1)
    val spark = df.sparkSession
    val base = graft.sources.SnapshotStore.currentGen(spark, dir)
    graft.sources.SnapshotStore.publishNext(spark, dir,
      writeParts(df, id, text, dir, nBuckets, srcBatch), base, "build")
    ()
  }

  /** Append one batch: new parts + the prior generation's lines, one
    * atomic publication. Appends COMMUTE (prior lines ride through
    * untouched, whatever they are), so this takes the store's
    * append commit: losing the manifest slot to a concurrent commit
    * re-reads the NEW head and re-publishes — all appenders land,
    * serving equals the sequential result
    * (Bm25SnapshotSpec's concurrent-append pin). Layout truth (bucket
    * count) comes from the stored meta — immutable across generations,
    * so a retry cannot see a different layout. Batch doc ids must be
    * disjoint from indexed ones (re-ingest dedup is 22a's job). */
  def append(df: DataFrame, id: Column, text: Column, dir: String,
             srcBatch: Long = -1L): Unit = {
    val spark = df.sparkSession
    val store = graft.sources.SnapshotStore
    val nb = bucketsOf(spark, dir, store.currentFiles(spark, dir))
    store.publishAppend(spark, dir,
      writeParts(df, id, text, dir, nb, srcBatch), "append")
    ()
  }

  /** The committed max `src_batch` (-1 when the store is empty or
    * only batch-API parts exist) — the streaming maintainer's
    * already-applied probe for a published-but-unmarked batch. A
    * parts-grain read (one row per batch since the last compaction). */
  def maxSrcBatch(spark: SparkSession, dir: String): Long = {
    if (graft.sources.SnapshotStore.currentGen(spark, dir) == 0L) return -1L
    val lines = graft.sources.SnapshotStore.currentFiles(spark, dir)
    meta(spark, dir, lines).agg(max(col("src_batch"))).head().getLong(0)
  }

  /** Fold every fragmented bucket (>= `minParts` manifest lines) to
    * one file and the meta parts to one row, as ONE new generation:
    * intact buckets' lines ride through untouched, replaced files
    * stay on disk for in-flight readers, and serving is bit-identical
    * (rows re-filed, the meta fold is the sum serving computes). */
  def compact(spark: SparkSession, dir: String, minParts: Int = 2): Unit = {
    val store = graft.sources.SnapshotStore
    val (base, lines) = store.snapshot(spark, dir)
    val byBucket = lines.flatMap(l => bucketOf(l).map(_ -> l))
      .groupBy(_._1).map { case (b, ls) => b -> ls.map(_._2) }
    val fragFiles = byBucket.valuesIterator
      .filter(_.length >= minParts).flatten.toSeq
    val metaLines = lines.filter(isMetaLine)
    val metaFold = metaLines.length >= minParts
    if (fragFiles.isEmpty && !metaFold) return
    val nb = bucketsOf(spark, dir, lines)
    val uid = java.util.UUID.randomUUID().toString.take(12)
    var next = lines
    if (fragFiles.nonEmpty) {
      // bucket is re-derived from term — the very function that
      // assigned it — so the fold needs no partition-column recovery
      store.readFiles(spark, dir, fragFiles)
        .withColumn("bucket",
          pmod(xxhash64(col("term")), lit(nb)).cast("int"))
        .transform(store.repartitionByBucket(_, nb))
        .write.partitionBy("bucket").parquet(s"$dir/parts/c${nb}_$uid")
      next = next.filterNot(fragFiles.toSet) ++
        store.partFiles(spark, dir, s"parts/c${nb}_$uid")
    }
    if (metaFold) {
      import spark.implicits._
      val r = store.readFiles(spark, dir, metaLines)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"),
          min(col("n_buckets")).as("_bmin"), max(col("n_buckets")).as("_bmax"),
          max(col("src_batch")).as("src_batch"))
        .head()
      require(r.getInt(2) == r.getInt(3),
        s"inconsistent n_buckets in $dir: ${r.getInt(2)} vs ${r.getInt(3)}")
      Seq((r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(4)))
        .toDF("n_docs", "sum_dl", "n_buckets", "src_batch")
        .coalesce(1).write.parquet(s"$dir/parts/m_$uid")
      next = next.filterNot(metaLines.toSet) ++
        store.partFiles(spark, dir, s"parts/m_$uid")
    }
    store.publishNext(spark, dir, next, base, "compact")
    ()
  }

  /** Reclaim files unreferenced by the newest `keepGenerations`
    * manifests (file grain — a compaction supersedes single files
    * inside part dirs that stay live for their other buckets), plus
    * torn writers' orphans. Size the window to the longest reader. */
  def retire(spark: SparkSession, dir: String,
             keepGenerations: Int = 2): Unit =
    graft.sources.SnapshotStore.retire(spark, dir, keepGenerations)

  /** [[Bm25.topK]] served from the manifest's head generation: the
    * query's term buckets select manifest LINES (the static prune, at
    * file grain), and the whole plan pins to that exact file set for
    * its lifetime — bit-identical to [[Bm25.topK]] over the same
    * corpus. */
  def topK(spark: SparkSession, dir: String,
           queries: Seq[(Int, String)], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKFrom(spark, dir,
      graft.sources.SnapshotStore.currentFiles(spark, dir), queries, k, k1, b)

  /** AS-OF serving (r16 — the manifest's time travel at this store's
    * grain): [[topK]] against a PINNED generation still inside
    * [[retire]]'s grace window — the debugging/repro surface for "what
    * did the index return before that append/compaction?". Same
    * bucket-line prune, same scoring tail; a generation retirement has
    * dropped throws. */
  def topKAsOf(spark: SparkSession, dir: String, asOfGen: Long,
               queries: Seq[(Int, String)], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKFrom(spark, dir,
      graft.sources.SnapshotStore.filesAsOf(spark, dir, asOfGen),
      queries, k, k1, b)

  private def topKFrom(spark: SparkSession, dir: String, lines: Seq[String],
                       queries: Seq[(Int, String)], k: Int,
                       k1: Double, b: Double): DataFrame = {
    val store = graft.sources.SnapshotStore
    val metaDf = meta(spark, dir, lines)
    val nBuckets = bucketsOf(spark, dir, lines)
    val qTerms = Bm25.queryTerms(spark, queries)
    val terms = qTerms.select("term").distinct()
    val bks = terms.withColumn("bucket",
        pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    val postLines = lines.filter(l => bucketOf(l).exists(bks))
    val tfAll =
      if (postLines.nonEmpty) store.readFiles(spark, dir, postLines)
      else {
        // none of the query's buckets materialized a file: serve the
        // empty result in the postings schema (one any-bucket footer)
        val any = lines.filter(l => bucketOf(l).isDefined)
        require(any.nonEmpty, s"empty BM25 index at $dir")
        store.readFiles(spark, dir, any.take(1)).limit(0)
      }
    val tf = tfAll.join(broadcast(terms), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val stats = metaDf
      .agg(sum(col("n_docs")).as("_n"), sum(col("sum_dl")).as("_sumdl"))
    Bm25.scoreTf(tf, stats, qTerms, k, k1, b)
  }
}
