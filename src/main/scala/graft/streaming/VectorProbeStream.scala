package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.DotProduct
import graft.vector.Similarity

/** One routed probe row: a query replicated to one IVF cell.
  * (Arrivals are the shared streaming [[VecAt]] rows.) */
case class RoutedVec(q_id: Long, cell: Int, q_emb: Seq[Float])

/** One exact-scored candidate for a streamed query. */
case class ProbeCand(q_id: Long, n_id: Long, sim: Double)

/** One served hit: the streamed twin of [[graft.vector.IvfAnn.topKWith]]'s
  * (q_id, rank, n_id) contract, plus the exact cosine that ranked it. */
case class AnnHit(q_id: Long, rank: Int, n_id: Long, sim: Double)

/** STREAMING probe of a persisted vector index (SURVEY §2.3 row 27m) —
  * the ANN analogue of [[MinHashStream.probeIndexStream]] (24d): every
  * vector arriving on an unbounded feed is served its exact-cosine
  * top-k from yesterday's built IVF artifact
  * ([[graft.vector.IndexStore.loadIvf]]), the retrieval front of a
  * live embedding pipeline (query streams, arriving crawl batches
  * scored for hard negatives / semantic dups before the nightly index
  * rebuild).
  *
  * Entirely STATELESS — the reference point is the batch serving plan
  * ([[graft.vector.IvfAnn.topKWith]]) re-expressed in the three shapes
  * a stream admits:
  *   - cell ROUTING is map-side: the centroid table is nlist x dim —
  *     broadcast-sized BY DESIGN (the IvfAnn contract) — collected once
  *     at plan-construction time and shipped as an explicit broadcast,
  *     replacing the batch plan's `crossJoin(broadcast(cents))` +
  *     window top-nprobe with one fused per-row loop (same euclidean
  *     geometry: argmin |c|^2 - 2 q.c, same (score, cell) tie-break).
  *   - candidate generation is the SAME stream-static equi-join on the
  *     8-byte cell id against the persisted (vec_id, cell) table; at
  *     scale the `cell IN (...)` routing becomes parquet partition
  *     pruning over the IndexStore layout, exactly as in batch.
  *   - per-query top-k needs no cross-batch state: a stream-static join
  *     defers nothing, so ALL candidates for a query materialize in the
  *     query's own micro-batch; a per-group fold (state never written,
  *     NoTimeout) ranks them with the batch plan's (sim desc, n_id)
  *     order. A replayed q_id re-serves identically — idempotent by
  *     statelessness, the at-least-once contract every stateless member
  *     carries.
  *
  * Batch/stream parity is structural (same DotProduct kernel, same
  * join, same ordering) and the spec pins result equality per
  * micro-batch against `topKWith` over the same loaded artifact.
  */
object VectorProbeStream {

  /** Serve exact-cosine top-k for each arriving query vector from a
    * pre-built IVF index. `assigned`/`cents`/`corpus` are
    * [[graft.vector.IndexStore.loadIvf]]'s three views (or the
    * [[graft.vector.IvfAnn.quantize]] outputs plus the corpus).
    * Output is append-mode [[AnnHit]] rows. */
  def probeIvfStream(queries: Dataset[VecAt], assigned: DataFrame,
                     cents: DataFrame, corpus: DataFrame,
                     k: Int, nprobe: Int): Dataset[AnnHit] = {
    require(k >= 1 && nprobe >= 1)
    val spark = queries.sparkSession
    import spark.implicits._
    val routed = route(queries, cents, nprobe)
    // stream-static equi-join on cell; (q_id, n_id) pairs are unique by
    // construction (one cell per corpus vector), matching the batch
    // plan's formality distinct
    val cand = routed.toDF()
      .join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("q_emb"))
    val corpusSide = corpus.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), Similarity.norm(col("embedding")).as("n_norm"))
    val scored = cand.join(corpusSide, Seq("n_id"))
      .withColumn("sim", Similarity.dot(col("q_emb"), col("n_emb")) /
        (Similarity.norm(col("q_emb")) * col("n_norm")))
      .select(col("q_id"), col("n_id"), col("sim")).as[ProbeCand]
    // stateless per-query rank: the group is the query's full candidate
    // set (nothing is deferred across micro-batches); state never set
    scored.groupByKey(_.q_id)
      .flatMapGroupsWithState[Int, AnnHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qId, rows, _) =>
          rows.toArray.sortBy(c => (-c.sim, c.n_id)).iterator.take(k)
            .zipWithIndex.map { case (c, i) => AnnHit(qId, i + 1, c.n_id, c.sim) }
      }
  }

  /** Map-side cell routing shared by the probe (read path) and the
    * append (write path): each vector to its `np` nearest cells by the
    * batch plan's geometry (argmin |c|^2 - 2 q.c, ties by cell), the
    * centroid table collected once and shipped as an explicit
    * broadcast. The dot product is [[DotProduct.compute]], the kernel
    * the codegen'd expression calls, so routing scores are bit-equal
    * to the batch plan's. */
  private def route(queries: Dataset[VecAt], cents: DataFrame,
                    nprobe: Int): Dataset[RoutedVec] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centArr: Array[(Int, Array[Float], Double)] = cents
      .select(col("cell"), col("c_emb"), col("c_norm2"))
      .as[(Int, Array[Float], Double)].collect().sortBy(_._1)
    require(centArr.nonEmpty, "empty centroid table")
    val bcCents = spark.sparkContext.broadcast(centArr)
    val np = math.min(nprobe, centArr.length)
    queries.flatMap { q =>
      val cs = bcCents.value
      // fail fast on dimension mismatch (a wrong embedding-model
      // version on the feed): routing by a silent prefix dot product
      // would mis-bucket the vector and quietly corrupt an appended
      // delta — the ArgmaxCosine contract
      require(q.embedding.length == cs(0)._2.length,
        s"arrival dim ${q.embedding.length} != index dim ${cs(0)._2.length} " +
          s"(vec_id ${q.vec_id})")
      val qe = q.embedding.toArray
      val scored = new Array[(Double, Int)](cs.length)
      var ci = 0
      while (ci < cs.length) {
        val (cell, cEmb, cNorm2) = cs(ci)
        scored(ci) = (cNorm2 - 2.0 * DotProduct.compute(qe, cEmb), cell)
        ci += 1
      }
      scored.sortBy(identity).iterator.take(np)
        .map(c => RoutedVec(q.vec_id, c._2, q.embedding))
    }
  }

  /** STREAMING append to a persisted IVF index (SURVEY §2.3 row 27m2)
    * — the WRITE path twin of [[probeIvfStream]]: arriving vectors are
    * routed map-side to their single nearest cell under the FROZEN
    * persisted quantizer (re-clustering is the periodic rebuild, as in
    * any production IVF deployment) and land in a DELTA table next to
    * the base index, partitioned by (cell, batch_id):
    *  - `cell` partitioning keeps the serving layout — an nprobe query
    *    over base+delta partition-prunes both sides;
    *  - `batch_id` partitioning + dynamic-partition overwrite makes a
    *    replayed micro-batch rewrite exactly its own files — the
    *    [[ExactlyOnce]] idempotence contract;
    *  - compaction of the delta into the base is the existing
    *    [[graft.sources.Compaction]] story, run with the periodic
    *    retrain.
    * Serve the extended index through
    * [[graft.vector.IndexStore.loadIvfWithDelta]]. */
  def appendIvfStream(arrivals: Dataset[VecAt], cents: DataFrame,
                      deltaDir: String, checkpointDir: String): StreamingQuery =
    route(arrivals, cents, nprobe = 1).toDF()
      .select(col("q_id").as("vec_id"), col("q_emb").as("embedding"),
        col("cell"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch(appendBatch(deltaDir) _)
      .start()

  /** The foreachBatch handler (exposed for the spec's replay pin):
    * write one routed micro-batch into the delta, idempotently. */
  def appendBatch(deltaDir: String)(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "batch_id").parquet(deltaDir)
}
