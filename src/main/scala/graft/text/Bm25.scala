package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Numeric

/** Okapi BM25 top-k retrieval over the document corpus — the ranked
  * keyword-search surface a training-data pipeline uses to pull
  * topic-targeted subsets out of a crawl (and the classic relevance
  * baseline every retrieval stack is judged against). Reference
  * provenance: the corpus-level term statistics generalize the tf/df
  * machinery of [[TextFeatures.tfidf]]; scoring follows the standard
  * Robertson/Spärck-Jones formulation with the Lucene non-negative
  * idf, `ln(1 + (N - df + 0.5)/(df + 0.5))`.
  *
  * Scale shape (the part that matters at 100 TB): the ONLY token-grain
  * work is the postings build, and it is filtered to the query terms
  * BY A BROADCAST JOIN BEFORE the (doc, term) aggregate — the wide
  * shuffle carries query-term postings only, not the vocabulary.
  * Document lengths are a map-side array expression (no explode, no
  * extra pass), carried through the postings so no doc-grain join is
  * needed; corpus totals ride as a one-row broadcast aggregate inside
  * the plan (no driver-side count). df-per-term and the query-term
  * table broadcast. The final top-k is TWO-PHASE: a per-partition
  * window prunes to k rows per (query, input partition) before the
  * global per-query window, so no single task ever sorts a
  * corpus-sized candidate list.
  *
  * Parity contract: per-term scores are pure IEEE ops on exact inputs
  * (identical across engines); the per-(query, doc) sum goes through
  * [[Numeric.dsum]] at scale 8 (order-independent), so rank ties break
  * on bit-identical scores; output rounds via [[Numeric.cround]].
  */
object Bm25 {

  /** Top-`k` documents per query by BM25. `queries` are
    * (query_id, free text); terms are lowercased, whitespace-split,
    * de-duplicated. Output: (query_id, doc_id, n_terms, score, rank).
    */
  def topK(df: DataFrame, id: Column, text: Column,
           queries: Seq[(Int, String)], k: Int = 10,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireParams(k1, b)
    val spark = df.sparkSession
    val qTerms = queryTerms(spark, queries)
    val terms = qTerms.select("term").distinct()

    val base = tokenized(df, id, text)
    // N and total length in exact integer space; the single division
    // to avgdl happens identically on both engines
    val stats = base.agg(count(lit(1)).as("_n"), sum(col("dl")).as("_sumdl"))

    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("_tk")).as("term"))
      .join(broadcast(terms), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    scoreTf(tf, stats, qTerms, k, k1, b)
  }

  /** The scoring parameters' domain. Inside it every divisor of the
    * scoring tail is at least 1 (tf >= 1, and k1 scales a non-negative
    * length norm), so no score divides by zero. */
  private[text] def requireParams(k1: Double, b: Double): Unit =
    require(k1 >= 0 && !k1.isInfinite && b >= 0 && b <= 1,
      s"BM25 needs a finite k1 >= 0 and 0 <= b <= 1, got k1 = $k1, b = $b")

  /** (query_id, term) pairs of a driver-sized query batch — the one
    * tokenization of query text, shared with the index path. */
  private[text] def queryTermPairs(queries: Seq[(Int, String)]): Seq[(Int, String)] =
    queries.flatMap { case (qid, q) =>
      q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }

  /** [[queryTermPairs]] as (query_id, term) rows. */
  private[text] def queryTerms(spark: org.apache.spark.sql.SparkSession,
                               queries: Seq[(Int, String)]): DataFrame = {
    import spark.implicits._
    queryTermPairs(queries).toDF("query_id", "term")
  }

  /** (doc_id, _tk, dl) — the one corpus tokenization, shared with the
    * index build so index serving is bit-equal to direct scoring.
    * NO parallelism floor here (r18, measured negative): spreading the
    * single-split doc scan before tokenizing shipped the raw text
    * payload through the floor's exchange — whose WRITE side is still
    * the one input split — for a kernel that is cheap per byte
    * (q_bm25 1.5 → 2.4 s, shuffle 0.9 → 3.7 MB; q_rrf and q_ilm
    * regressed the same way). The floor pays off only where the
    * per-row kernel dwarfs the payload shuffle (media decode,
    * shingles/minhash) — the r17 placement rule, reconfirmed. */
  private[text] def tokenized(df: DataFrame, id: Column,
                              text: Column): DataFrame =
    df.select(id.as("doc_id"), split(lower(text), "\\s+").as("_tk"))
      .select(col("doc_id"), col("_tk"),
        size(filter(col("_tk"), t => length(t) > 0)).cast("long").as("dl"))

  /** The scoring tail from query-term tf rows: shared verbatim by the
    * direct path ([[topK]]) and the persisted-index path
    * ([[Bm25Index.topK]]), so the two produce bit-identical scores on
    * identical tf/stats inputs — which is exactly what makes the
    * incremental index oracle-able by the direct query's SQL. `tf` is
    * (doc_id, term, tf, dl) already filtered to query terms; `stats`
    * is one row (_n, _sumdl). */
  private[text] def scoreTf(tf: DataFrame, stats: DataFrame,
                            qTerms: DataFrame, k: Int,
                            k1: Double, b: Double): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))

    val perTerm = tf
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl",
        col("_sumdl").cast("double") / col("_n").cast("double"))
      .withColumn("_idf", log(lit(1.0) +
        (col("_n").cast("double") - col("dfreq") + lit(0.5)) /
          (col("dfreq") + lit(0.5))))
      .withColumn("_s", col("_idf") *
        col("tf").cast("double") * lit(k1 + 1.0) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("_avgdl"))))

    val scored = perTerm.groupBy(col("query_id"), col("doc_id"))
      .agg(Numeric.dsum(col("_s"), 8).as("_score"),
        count(lit(1)).as("n_terms"))

    // two-phase top-k: prune per (query, physical partition) first
    val localW = Window.partitionBy(col("query_id"), col("_pid"))
      .orderBy(col("_score").desc, col("doc_id"))
    val globalW = Window.partitionBy(col("query_id"))
      .orderBy(col("_score").desc, col("doc_id"))
    scored
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrk", row_number().over(localW))
      .filter(col("_lrk") <= k)
      .withColumn("rank", row_number().over(globalW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        Numeric.cround(col("_score"), 6).as("score"), col("rank"))
  }
}
