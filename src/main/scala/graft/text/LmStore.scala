package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotStore

/** INCREMENTAL LM artifacts — the model-artifact member of the
  * incremental family (22a dedup index, 7i2/7i4 sketches, 30l3 BM25,
  * 31g3 corpus store): [[TextFeatures.charBigramEntropy]] re-counts
  * the whole corpus per run; this store pays the token-grain count
  * ONCE per ingest batch and persists one ADDITIVE (bigram, count)
  * part — counts are associative integer sums, so the model over any
  * batch range is the SUM of its parts, bit-equal to a one-shot count
  * over the concatenated corpus regardless of batching or merge order
  * (the df-parts argument of 31g3, here at model grain). Scoring from
  * the artifact therefore reproduces the direct query EXACTLY, which
  * is what lets q_ilm reuse q_entropy's DuckDB oracle verbatim.
  *
  * Scale shape: a part is ≤ 39² rows (the normalization alphabet caps
  * the gram space) however large the batch — the batch pays one
  * map-side-combined count aggregate and writes a fixed-size part;
  * model assembly reads parts-grain data (batches × ≤39² rows) and
  * collects the driver-sized sum; scoring is the fused map-only
  * BigramScore kernel pass. [[compact]] folds accumulated parts by
  * the same sum the reads perform (bit-identical serving,
  * spec-pinned). The model carries the smoothed unseen floor, so
  * serving docs with grams the corpus never produced is total — when
  * scoring the training corpus itself (the q_entropy parity case) the
  * floor is provably never consulted.
  *
  * Publication (r16 — consolidated onto the MVCC manifest, the
  * engine's ONE store protocol): parts publish through
  * [[graft.sources.SnapshotStore]] — a model resolved before
  * maintenance serves its exact generation while compaction and
  * grace-window retirement run (LmStoreSnapshotSpec), a torn fold is
  * invisible unpublished debris (no rollback journal to replay), and
  * concurrent appends all land: each commits its own generation, equal
  * to the sequential result. */
object LmStore {

  private def normed(text: Column): Column =
    regexp_replace(lower(text), "[^a-z0-9 ]", "#")

  /** One batch's additive part: (bg, c), ≤ 39² rows. */
  private def countPart(df: DataFrame, text: Column): DataFrame =
    df.select(normed(text).as("_t"))
      .filter(length(col("_t")) >= 2)
      .select(explode(graft.functions.BigramCounts(col("_t"))).as("_e"))
      .groupBy(col("_e.bg").as("bg")).agg(sum(col("_e.k")).as("c"))

  /** Count one batch and append its additive part — (bg, c), ≤ 39²
    * rows, one file, one manifest generation. */
  def append(df: DataFrame, text: Column, dir: String): Unit =
    SnapshotStore.append(countPart(df, text), dir)

  /** Fold the current generation to one summed part as a NEW
    * generation — reads already perform this sum, so serving is
    * bit-identical before/after, and in-flight readers keep their
    * generation until [[retire]]'s grace window closes. */
  def compact(spark: SparkSession, dir: String, minParts: Int = 2): Unit =
    if (SnapshotStore.currentGen(spark, dir) > 0L &&
        SnapshotStore.read(spark, dir).inputFiles.length >= minParts)
      SnapshotStore.compact(spark, dir,
        _.groupBy("bg").agg(sum(col("c")).as("c")))

  /** Reclaim parts unreferenced by the newest `keepGenerations`
    * manifests plus torn writers' debris — size the window to the
    * longest-running model build. */
  def retire(spark: SparkSession, dir: String,
             keepGenerations: Int = 2): Unit =
    SnapshotStore.retire(spark, dir, keepGenerations)

  /** The driver-sized model from the summed parts of the manifest's
    * head generation (the whole read pins to that generation's
    * exact file set) — the same add-one smoothing as
    * [[TextFeatures.charBigramEntropy]], plus the unseen floor
    * ln(1/(tot+v)) so artifact serving is a total function. */
  def model(spark: SparkSession, dir: String): graft.functions.BigramModel =
    modelFrom(SnapshotStore.read(spark, dir))

  /** AS-OF model (r17): the LM as of a pinned COMMITTED generation
    * still inside [[retire]]'s grace window — score today's docs
    * under LAST release's model for drift attribution, without
    * keeping a second store. Counts are additive, so the pre-append
    * generation's model IS the model trained without that batch;
    * a retired or never-committed generation throws. */
  def model(spark: SparkSession, dir: String,
            asOfGen: Long): graft.functions.BigramModel =
    modelFrom(SnapshotStore.read(spark, dir, asOfGen))

  private def modelFrom(parts: DataFrame): graft.functions.BigramModel = {
    val counts = parts
      .groupBy("bg").agg(sum(col("c")).as("c")).collect()
    require(counts.nonEmpty, "empty LM store")
    val tot = counts.iterator.map(_.getLong(1)).sum
    val v = counts.length.toLong
    val sorted = counts.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    new graft.functions.BigramModel(
      sorted.map(_._1),
      sorted.map { case (_, c) =>
        StrictMath.log((c + 1.0) / (tot + v).toDouble)
      },
      StrictMath.log(1.0 / (tot + v).toDouble))
  }

  /** Score `df` against the artifact model — same output contract as
    * [[TextFeatures.charBigramEntropy]]: (doc_id, n_bigrams,
    * cross_entropy), one fused map-only kernel pass. */
  def score(df: DataFrame, id: Column, text: Column,
            m: graft.functions.BigramModel): DataFrame =
    df.select(id.as("doc_id"), normed(text).as("_t"))
      .filter(length(col("_t")) >= 2)
      .select(col("doc_id"), graft.functions.BigramCounts(col("_t")).as("_a"))
      .select(col("doc_id"),
        graft.functions.BigramScore(col("_a"), m).as("_s"))
      .select(col("doc_id"), col("_s.n").as("n_bigrams"),
        graft.functions.Numeric.cround(
          -col("_s.lp") / col("_s.n"), 6).as("cross_entropy"))
}
