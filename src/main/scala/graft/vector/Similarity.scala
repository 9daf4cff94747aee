package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search. Brute-force cosine top-k is the exact
  * baseline (queries broadcast against the corpus — linear scans, no
  * shuffle of the big side); LSH bucketing is the approximate scale
  * path.
  *
  * Scale discipline: candidate generation and candidate dedup operate
  * on (id, bucket) / (id, id) rows ONLY — the 64-float payloads never
  * enter a shuffle wider than one embedding row per doc. Exact-cosine
  * verification joins the embeddings back exactly once per surviving
  * candidate pair, and scores with a codegen'd DotProduct (the
  * interpreted aggregate/zip_with formulation was the r1 hot-path
  * bottleneck).
  */
object Similarity {

  /** Left-to-right double-precision dot product — fused codegen'd loop
    * (see functions.DotProduct). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** `dot(a, b) / den` on the driver, as the loops' ANSI `sim`
    * expression computes it: [[graft.functions.DotProduct.compute]]'s
    * accumulation, and DIVIDE_BY_ZERO on a zero denominator (a
    * zero-norm vector) instead of an Infinity or NaN sim. */
  private[vector] def cosineLocal(a: Array[Float], b: Array[Float],
                                  den: Double): Double = {
    if (den == 0.0) throw org.apache.spark.sql.GraftBridge.divideByZero()
    graft.functions.DotProduct.compute(a, b) / den
  }

  /** [[cosineLocal]] between row `i` of `a` and row `j` of `b`. */
  private[vector] def cosineLocal(a: LocalVecs, i: Int, b: LocalVecs,
                                  j: Int): Double =
    cosineLocal(a.emb(i), b.emb(j), a.nrm(i) * b.nrm(j))

  /** A collected (id, embedding, norm) table for the driver twins, row
    * order kept. The norms are the Spark-computed doubles, collected,
    * never recomputed. */
  private[vector] final class LocalVecs(rows: Array[org.apache.spark.sql.Row]) {
    val ids: Array[Long] = rows.map(_.getLong(0))
    val emb: Array[Array[Float]] = rows.map(_.getSeq[Float](1).toArray)
    val nrm: Array[Double] = rows.map(_.getDouble(2))
    private val pos = new java.util.HashMap[Long, Int]()
    ids.indices.foreach(i => pos.put(ids(i), i))
    /** The row of `id`, or -1 where an inner join would drop it. */
    def indexOf(id: Long): Int = pos.getOrDefault(id, -1)
  }

  /** Random-hyperplane LSH buckets: `tables` independent hash tables of
    * `planes` sign-projections each. Returns (vec_id, t, bucket).
    * Plane signs are deterministic ±1 from xxhash64 so buckets are
    * stable across runs. One map-only pass per vector (see
    * functions.HyperplaneBuckets for why not the explode+join+agg
    * formulation). */
  def hyperplaneBuckets(vecs: DataFrame, dim: Int, planes: Int, tables: Int): DataFrame =
    vecs.select(col("vec_id"),
      posexplode(graft.functions.HyperplaneBuckets(col("embedding"), dim, planes, tables))
        .as(Seq("t", "bucket")))

  /** Approximate cosine top-k — the 100 TB path: candidates are corpus
    * vectors sharing an LSH bucket with the query in any table
    * (candidate count ~ corpus/2^planes per table), then exact cosine
    * ranks the candidates. Recall grows with `tables`, and with
    * `probes`: multi-probe LSH additionally looks in the buckets at
    * Hamming distance 1 from each query bucket (a near neighbour that
    * lands one sign-flip away is the dominant miss mode). Probing
    * expands only the QUERY side — tiny and broadcast — so extra
    * recall costs no corpus-side work beyond the larger candidate
    * join, not `probes` x more tables. Candidates are reduced to
    * distinct (q_id, n_id) pairs BEFORE the corpus embeddings are
    * joined back, so each candidate's vector crosses the wire once —
    * not once per colliding table. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              planes: Int = 6, tables: Int = 16, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= planes)
    val cb = hyperplaneBuckets(corpus, dim, planes, tables)
    val qb0 = hyperplaneBuckets(queries, dim, planes, tables)
      .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
    // probe buckets: the original plus single-bit flips of the first
    // `probes` planes (deterministic; the flip set is data-independent)
    val qb = broadcast(
      if (probes == 0) qb0
      else qb0.select(col("q_id"), col("t"),
        explode(array((col("bucket") +:
          (0 until probes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))): _*))
          .as("bucket")))
    val cand = cb.select(col("vec_id").as("n_id"), col("t"), col("bucket"))
      .join(qb, Seq("t", "bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .select("q_id", "n_id").distinct()
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      norm(col("embedding")).as("n_norm"))
    val q = broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm")))
    val scored = cand.join(c, Seq("n_id")).join(q, Seq("q_id"))
      .withColumn("sim", dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"))
  }

  /** Embedding-cosine near-duplicate pairs — dedup by vector
    * similarity: LSH buckets generate candidates (no all-pairs join),
    * exact cosine verifies against the threshold. The scale counterpart
    * of `Dedup.jaccardPairs` for embedded content. Bucket self-join and
    * pair dedup run over ids only; embeddings join back once.
    *
    * `planes` governs the bucket count per table (2^planes) and with it
    * the expected bucket occupancy n/2^planes. A FIXED plane count is a
    * scale bug: per-bucket self-joins are quadratic in occupancy, so
    * any constant that works at test scale goes quadratic on a real
    * corpus. Default (planes < 0) auto-scales to ceil(log2(n/2)) —
    * occupancy ~2, candidate volume linear in n — clamped to [6, 20]:
    * below 6 buckets stop discriminating, above 20 the per-table recall
    * for genuine near-dups (cos >= 0.9, collision prob ~0.86^planes)
    * drops too low for the default table count to cover. Recall lost to
    * more planes is bought back with `tables`, which costs only the
    * map-only bucket pass, never wider pair joins. */
  def cosineDupPairs(vecs: DataFrame, dim: Int, threshold: Double,
                     planes: Int = -1, tables: Int = 16): DataFrame = {
    val p =
      if (planes > 0) planes
      else {
        val n = math.max(vecs.count(), 4L)
        math.min(20, math.max(6,
          math.ceil(math.log(n / 2.0) / math.log(2.0)).toInt))
      }
    val b = hyperplaneBuckets(vecs, dim, p, tables)
    val pairs = b.as("a").join(b.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct()
    val v = vecs.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    pairs
      .join(v.select(col("vec_id").as("d1"), col("embedding").as("e1"),
        col("nrm").as("n1")), Seq("d1"))
      .join(v.select(col("vec_id").as("d2"), col("embedding").as("e2"),
        col("nrm").as("n2")), Seq("d2"))
      .withColumn("sim", dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("sim") >= threshold)
      .select("d1", "d2", "sim")
  }

  /** Hard-negative mining — for each query vector, the k most-similar
    * corpus vectors carrying a DIFFERENT label (the negatives a
    * contrastive/embedding training run wants: close enough to be
    * confusable, labeled otherwise). Same scan shape as bruteTopK
    * (broadcast queries, one corpus scan, no shuffle before the
    * per-query top-k window); the label gate rides in the join
    * condition so rejected candidates never materialize. For corpora
    * where brute force is off the table, the same gate composes with
    * the IVF/LSH candidate generators — mine from their candidate
    * stream and keep the first k per query. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("embedding").as("n_emb"), norm(col("embedding")).as("n_norm"))
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("label").as("q_label"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm")))
    val scored = c.join(q,
        col("n_id") =!= col("q_id") && col("n_label") =!= col("q_label"))
      .withColumn("sim", dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"))
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). The query side must be small; it is
    * broadcast so the corpus is scanned once with no shuffle. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteTopKSim(corpus, queries, k)
      .select(col("q_id"), col("rank"), col("n_id"))

  /** [[bruteTopK]] with the exact cosine ridden out alongside the
    * rank — for consumers that merge brute results into graph edge
    * lists ([[NnDescent.insert]]'s small-batch internal edges). */
  def bruteTopKSim(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      norm(col("embedding")).as("n_norm"))
    val q = broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm")))
    val scored = c.join(q, col("n_id") =!= col("q_id"))
      .withColumn("sim", dot(col("q_emb"), col("n_emb")) / (col("q_norm") * col("n_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }
}
