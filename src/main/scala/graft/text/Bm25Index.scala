package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Serving ([[topK]], [[topKAsOf]]) is two reads when the query is
  * small: one collect of the meta rows, folded on the driver, and —
  * after the query terms' buckets are hashed on the driver to pick the
  * postings lines — one collect of those lines' query-term postings,
  * scored on the driver into a local relation. That is
  * [[graft.operators.Rounds.profile]]'s Local band, sized by nDocs ×
  * distinct query terms (a bound on the postings collected); past it
  * the [[Bm25.scoreTf]] plan serves the same lines.
  *
  * EXACTNESS: document frequency is counted from the query-filtered
  * postings at serving time (df is a property of the postings, not a
  * second artifact to drift); tf/dl rows for a document are identical
  * whether it arrived at build or append; N/sum_dl are associative
  * integer sums; and the scoring tail IS [[Bm25.scoreTf]], or its
  * driver form in the plan's own arithmetic — so index serving over
  * base ∪ appended batches is BIT-IDENTICAL to [[Bm25.topK]] over the
  * concatenated corpus, through build + append + compaction +
  * retirement, which is what lets the registry queries reuse the
  * direct query's SQL oracle verbatim. */
object Bm25Index {

  /** Bucket id of a manifest line, None for meta/non-bucket lines. */
  private val BucketRe = "/bucket=(\\d+)/".r
  private def bucketOf(line: String): Option[Int] =
    BucketRe.findFirstMatchIn(line).map(_.group(1).toInt)
  private def isMetaLine(l: String): Boolean = l.startsWith("parts/m_")

  /** Layout truth from the manifest lines alone (r17): postings part
    * dirs carry the bucket count in their name (`parts/p<nb>_<uid>`,
    * `parts/c<nb>_<uid>`), so append/compact/serve read it with ZERO
    * Spark jobs. Pre-r17 stores (plain `p_`/`c_` names) fall back to
    * the meta rows' count. */
  private val NbRe = "parts/[pc](\\d+)_".r
  private def bucketsOf(dir: String, lines: Seq[String], fallback: => Meta): Int = {
    val nbs = lines.flatMap(l =>
      NbRe.findFirstMatchIn(l).map(_.group(1).toInt)).distinct
    nbs match {
      case Seq(nb) => nb
      case Seq() => fallback.nBuckets
      case many => throw new IllegalStateException(
        s"inconsistent n_buckets in $dir: ${many.mkString(", ")}")
    }
  }

  /** The postings bucket of a term. One function, two forms: the plan
    * form files (and compaction re-files) postings; the driver form
    * picks a query's bucket lines with no job. Spark's `xxhash64` of a
    * string is XXH64 over its UTF-8 bytes with seed 42, and `pmod` is
    * `floorMod`. */
  private[graft] def bucket(term: Column, nb: Int): Column =
    pmod(xxhash64(term), lit(nb)).cast("int")
  private[graft] def bucketLocal(term: String, nb: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    java.lang.Math.floorMod(XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(term), 42L), nb.toLong).toInt
  }

  /** The committed meta rows folded on the driver: corpus stats are
    * sums of per-part sums, every row names the same bucket count, and
    * `srcBatch` is the newest batch id. */
  private final case class Meta(nDocs: Long, sumDl: Long, nBuckets: Int,
                                srcBatch: Long)

  /** Collect the meta rows of `lines` (one job) and fold them. */
  private def meta(spark: SparkSession, dir: String, lines: Seq[String]): Meta = {
    val rows = graft.sources.SnapshotStore.readFiles(spark, dir,
        lines.filter(isMetaLine))
      .select("n_docs", "sum_dl", "n_buckets", "src_batch").collect()
    val nbs = rows.map(_.getInt(2)).distinct
    require(nbs.length == 1,
      s"inconsistent n_buckets in $dir: ${nbs.mkString(" vs ")}")
    // an empty batch's sum_dl is null; a sum skips it
    Meta(rows.map(_.getLong(0)).sum,
      rows.filterNot(_.isNullAt(1)).map(_.getLong(1)).sum,
      nbs.head, rows.map(_.getLong(3)).max)
  }

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
        .withColumn("bucket", bucket(col("term"), nBuckets)),
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
    val lines = store.currentFiles(spark, dir)
    val nb = bucketsOf(dir, lines, meta(spark, dir, lines))
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
    meta(spark, dir, graft.sources.SnapshotStore.currentFiles(spark, dir)).srcBatch
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
    lazy val m = meta(spark, dir, lines)
    val nb = bucketsOf(dir, lines, m)
    val uid = java.util.UUID.randomUUID().toString.take(12)
    var next = lines
    if (fragFiles.nonEmpty) {
      // bucket is re-derived from term — the very function that
      // assigned it — so the fold needs no partition-column recovery
      store.readFiles(spark, dir, fragFiles)
        .withColumn("bucket", bucket(col("term"), nb))
        .transform(store.repartitionByBucket(_, nb))
        .write.partitionBy("bucket").parquet(s"$dir/parts/c${nb}_$uid")
      next = next.filterNot(fragFiles.toSet) ++
        store.partFiles(spark, dir, s"parts/c${nb}_$uid")
    }
    if (metaFold) {
      import spark.implicits._
      Seq((m.nDocs, m.sumDl, m.nBuckets, m.srcBatch))
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
    * file grain), and the whole call reads that exact file set —
    * bit-identical to [[Bm25.topK]] over the same corpus. */
  def topK(spark: SparkSession, dir: String,
           queries: Seq[(Int, String)], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKFrom(spark, dir,
      graft.sources.SnapshotStore.currentFiles(spark, dir), queries, k, k1, b)

  /** AS-OF serving (r16 — the manifest's time travel at this store's
    * grain): [[topK]] against a PINNED generation still inside
    * [[retire]]'s grace window — the debugging/repro surface for "what
    * did the index return before that append/compaction?". Same
    * bucket-line prune, same scoring; a generation retirement has
    * dropped throws. */
  def topKAsOf(spark: SparkSession, dir: String, asOfGen: Long,
               queries: Seq[(Int, String)], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKFrom(spark, dir,
      graft.sources.SnapshotStore.filesAsOf(spark, dir, asOfGen),
      queries, k, k1, b)

  /** The serving shape. The meta rows are collected and folded once
    * (one job), and the query terms' buckets are hashed on the driver,
    * so the postings lines to read are known before anything is
    * planned. [[graft.operators.Rounds.profile]] then sizes the call by
    * nDocs × distinct query terms — an exact upper bound on the query
    * postings, as a document holds at most one posting per term:
    *  - `Local`: the query-term postings are collected (one job) and
    *    scored on the driver by [[scoreLocal]], bit-identical to the
    *    plan (ProfileParitySpec); the result is a local relation;
    *  - `Narrow` and `Wide`: the [[Bm25.scoreTf]] plan over those
    *    lines on the caller's session, with the stats as a one-row
    *    literal — the form for query postings past the driver. */
  private def topKFrom(spark: SparkSession, dir: String, lines: Seq[String],
                       queries: Seq[(Int, String)], k: Int,
                       k1: Double, b: Double): DataFrame = {
    Bm25.requireParams(k1, b)
    val store = graft.sources.SnapshotStore
    val m = meta(spark, dir, lines)
    val nb = bucketsOf(dir, lines, m)
    val pairs = Bm25.queryTermPairs(queries)
    val terms = pairs.map(_._2).distinct
    val bks = terms.map(bucketLocal(_, nb)).toSet
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
    val docId = tfAll.schema("doc_id")
    // the driver form keys documents by value: integral or string ids
    val keyed = docId.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case t => t == StringType
    }
    val local = graft.operators.Rounds.profile(m.nDocs * terms.length,
      hasLocal = keyed) == graft.operators.Rounds.Local
    val served = if (!local) None else {
      val post =
        if (postLines.isEmpty) Array.empty[Row]
        else tfAll.filter(col("term").isin(terms: _*))
          .select("doc_id", "term", "tf", "dl").collect()
      scoreLocal(post, pairs, m, docId.dataType, k, k1, b)
    }
    served match {
      case Some(rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
          StructField("query_id", IntegerType, nullable = false), docId,
          StructField("n_terms", LongType, nullable = false),
          StructField("score", DoubleType),
          StructField("rank", IntegerType, nullable = false))))
      case None =>
        import spark.implicits._
        val qTerms = Bm25.queryTerms(spark, queries)
        val tf = tfAll.join(broadcast(qTerms.select("term").distinct()), Seq("term"))
          .select(col("doc_id"), col("term"), col("tf"), col("dl"))
        Bm25.scoreTf(tf, Seq((m.nDocs, m.sumDl)).toDF("_n", "_sumdl"),
          qTerms, k, k1, b)
    }
  }

  /** [[Bm25.scoreTf]] on the driver over the collected query-term
    * postings (doc_id, term, tf, dl), in the plan's own arithmetic:
    * dfreq counts each term's postings; the idf (Lucene's, through
    * `StrictMath.log` as Spark's `log`), the avgdl and the per-term
    * score are the plan's double expressions in its evaluation order;
    * each score is cast to Spark's `Decimal` at decimal(28,8) and the
    * casts are summed per (query, doc), the rule of [[Numeric.dsum]];
    * the rank orders by (score desc, doc_id) with Spark's ordering of
    * the stored doc_id type; and the output rounds through
    * [[Numeric.croundD]]. None when a value leaves the range where the
    * two agree — a score the decimal cast cannot hold, or past the
    * bigint that `cround`'s floor returns (only an extreme k1 gets
    * there) — and the plan serves the call. */
  private def scoreLocal(post: Array[Row], pairs: Seq[(Int, String)],
                         m: Meta, docType: DataType,
                         k: Int, k1: Double, b: Double): Option[Seq[Row]] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
    val n = m.nDocs.toDouble
    val avgdl = m.sumDl.toDouble / m.nDocs.toDouble
    val byTerm = post.groupBy(_.getString(1))
    val toKey = CatalystTypeConverters.createToCatalystConverter(docType)
    // (query_id, doc key) -> (doc_id, summed score, n_terms)
    val acc = scala.collection.mutable.HashMap.empty[(Int, Any), (Any, Decimal, Long)]
    for ((q, t) <- pairs; ps <- byTerm.get(t)) {
      val dfreq = ps.length.toDouble
      val idf = StrictMath.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
      for (p <- ps) {
        val tf = p.getLong(2).toDouble
        val s = idf * tf * (k1 + 1.0) /
          (tf + k1 * ((1.0 - b) + b * p.getLong(3).toDouble / avgdl))
        if (s.isNaN || s.isInfinite) return None
        val d = Decimal(s)
        if (!d.changePrecision(28, 8)) return None
        val key = (q, toKey(p.get(0)))
        acc(key) = acc.get(key).fold((p.get(0), d, 1L)) { case (id, sum, c) =>
          (id, sum + d, c + 1) }
      }
    }
    val docOrd = InterpretedOrdering.forSchema(Seq(docType))
    // (query_id, doc key, doc_id, score, n_terms)
    type Scored = (Int, Any, Any, Double, Long)
    val byScore: Ordering[Scored] = (x, y) => {
      val c = java.lang.Double.compare(y._4, x._4)
      if (c != 0) c else docOrd.compare(InternalRow(x._2), InternalRow(y._2))
    }
    val ranked = acc.toSeq
      .map { case ((q, key), (id, sum, c)) => (q, key, id, sum.toDouble, c) }
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, docs) =>
        docs.sorted(byScore).take(k).zipWithIndex.map {
          case ((_, _, id, s, c), i) => (q, id, c, s, i + 1)
        }
      }
    if (ranked.exists(r => !(r._4 * 1e6 + 0.5 < Long.MaxValue.toDouble))) None
    else Some(ranked.map { case (q, id, c, s, r) =>
      Row(q, id, c, graft.functions.Numeric.croundD(s, 6), r) })
  }
}
