package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.QuantileSketch
import graft.sources.SnapshotStore

/** INCREMENTAL dataset card — [[DatasetCard.card]]'s one-row release
  * summary computable over any ingest range WITHOUT rescanning the
  * corpus (the composition the now-complete sketch family exists for):
  * each ingest batch appends ONE part row holding
  *
  *  - the ADDITIVE masses (doc/token/char/quality-keep counts and the
  *    per-language token mix) — associative integer sums, so the
  *    assembled figures are EXACT and replay in plain SQL (q_icard's
  *    oracle recomputes them one-shot over the raw table);
  *  - a mergeable HLL sketch of the text hash (the 7i2 artifact) for
  *    distinct-text / dup mass — an ESTIMATE by contract (a
  *    stream-built sketch estimates via HIP, a union via the composite
  *    estimator, so cross-path bit parity is not claimed; CardStoreSpec
  *    pins the error bound vs the exact count plus union-path
  *    determinism through compaction), hence kept OUT of the
  *    SQL-oracled registry columns;
  *  - the bottom-k quantile sketch of per-doc token counts (the 7i4
  *    join-semilattice) for length percentiles — union == one-shot
  *    BIT-EXACTLY, and the splitmix64 priorities replay in DuckDB
  *    HUGEINT, so these columns ARE SQL-oracled (the q_qsk chain).
  *
  * Release-over-release corpus CI therefore diffs cards from
  * parts-grain reads: a part is one row + two fixed-size sketches
  * however large its batch, assembly cost scales with the number of
  * batches (then [[compact]] folds that down to one row, serving
  * pinned identical), and the raw corpus is never rescanned. At
  * 100 TB the card becomes a metadata read.
  *
  * Publication (r16 — consolidated onto the MVCC manifest): parts
  * publish through [[graft.sources.SnapshotStore]], the engine's one
  * store protocol — an in-flight card read keeps serving its exact
  * generation while a compaction publishes the fold (snapshot
  * isolation, CardStoreSpec's concurrent-reader pin), a torn append
  * or fold is invisible unpublished debris ([[retire]] sweeps it; no
  * rollback journal exists to replay), and a compaction whose base
  * generation was superseded fails fast at publish. Parts carry a
  * `src_batch` column (-1 for batch-API appends) so a streaming
  * maintainer can probe the committed max batch id — its lost-marker
  * replay gate ([[graft.streaming.CardStoreStream]]), since additive
  * sums are not replay-idempotent. */
object CardStore {

  val DefaultLangs: Seq[String] = Seq("en", "zh", "de", "es", "fr")

  private def partRow(df: DataFrame, id: Column, text: Column, lang: Column,
                      langs: Seq[String], k: Int, lgK: Int,
                      srcBatch: Long): DataFrame = {
    val base = df.select(id.as("_id"), text.as("_t"), lang.as("_l"),
      size(split(text, "\\s+")).cast("long").as("_tok"),
      TextFeatures.qualityKeep(text).cast("long").as("_keep"),
      xxhash64(text).as("_h"))
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("_tok")).as("n_tokens"),
      sum(length(col("_t")).cast("long")).as("n_chars"),
      sum(col("_keep")).as("keep_docs"),
      hll_sketch_agg(col("_h"), lit(lgK)).as("hll"),
      QuantileSketch.sketchAgg(col("_id"), col("_tok").cast("double"), k)
        .getField("entries").as("_sk")) ++
      langs.map(l =>
        sum(when(col("_l") === l, col("_tok")).otherwise(0L)).as(s"${l}_tokens"))
    base.agg(aggs.head, aggs.tail: _*)
      .withColumn("smp", transform(col("_sk"),
        x => struct(x.getField("_1").as("pri"), x.getField("_2").as("v"))))
      .drop("_sk")
      .withColumn("src_batch", lit(srcBatch))
  }

  /** Append one batch's card part under `dir`: one row, one file, one
    * manifest generation — the batch pays one map-side-combined corpus
    * pass and is never read again. An empty batch appends nothing (its
    * global aggregate would be a row of NULL sums, which would poison
    * the fold). `srcBatch` stamps the part for the streaming
    * maintainer's replay probe; batch-API callers leave the default. */
  def append(df: DataFrame, id: Column, text: Column, lang: Column,
             dir: String, langs: Seq[String] = DefaultLangs,
             k: Int = 64, lgK: Int = 12, srcBatch: Long = -1L): Unit =
    if (!df.isEmpty)
      SnapshotStore.append(
        partRow(df, id, text, lang, langs, k, lgK, srcBatch), dir)

  /** The committed parts, pinned to one manifest generation for the
    * plan's lifetime. */
  private def parts(spark: SparkSession, dir: String): DataFrame =
    SnapshotStore.read(spark, dir)

  /** The store's committed max `src_batch` (-1 when the store is
    * empty or only batch-API parts exist) — the streaming maintainer's
    * already-applied probe for a published-but-unmarked batch. */
  def maxSrcBatch(spark: SparkSession, dir: String): Long =
    if (SnapshotStore.currentGen(spark, dir) == 0L) -1L
    else parts(spark, dir).agg(max(col("src_batch"))).head().getLong(0)

  /** The assembled card over every committed part (filter the parts
    * read upstream for a sub-range): exact additive figures +
    * keep_rate + the token-length percentiles (all SQL-replayable),
    * plus the HLL members (`n_distinct_texts_approx`,
    * `dup_ratio_approx` — estimates, spec-pinned). One parts-grain
    * aggregate; the corpus is not touched. `asOf` (r17) pins a
    * COMMITTED manifest generation still inside [[retire]]'s grace
    * window — the card as of that publication, for release-over-
    * release diffs without freezing store maintenance (a retired or
    * never-committed generation throws). */
  def card(spark: SparkSession, dir: String,
           langs: Seq[String] = DefaultLangs, k: Int = 64,
           percents: Seq[Int] = Seq(50, 95),
           asOf: Option[Long] = None): DataFrame = {
    val ps = asOf.map(g => SnapshotStore.read(spark, dir, g))
      .getOrElse(parts(spark, dir))
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_parts"),
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("keep_docs")).as("_kd"),
      hll_sketch_estimate(hll_union_agg(col("hll"), lit(false)))
        .as("n_distinct_texts_approx"),
      QuantileSketch.unionAgg(col("smp"), k).as("smp")) ++
      langs.map(l => sum(col(s"${l}_tokens")).as(s"${l}_tokens"))
    val merged = ps.agg(aggs.head, aggs.tail: _*)
      .withColumn("keep_rate", graft.functions.Numeric.cround(
        col("_kd").cast("double") / col("n_docs"), 6))
      .withColumn("other_tokens",
        col("n_tokens") - langs.map(l => col(s"${l}_tokens")).reduce(_ + _))
      .withColumn("dup_ratio_approx", graft.functions.Numeric.cround(
        lit(1.0) - col("n_distinct_texts_approx").cast("double")
          / col("n_docs"), 6))
      .withColumn("m",
        size(col("smp")).as("m"))
    percents.foldLeft(merged) { (df, p) =>
      df.withColumn(s"tok_p$p", QuantileSketch.percentileOf(col("smp"), p))
    }.drop("smp", "_kd")
  }

  /** Fold every part into ONE part row with the same schema — sums of
    * sums, a lossless HLL union kept in sketch form, the semilattice
    * sample union, and the max `src_batch` — so [[card]] is
    * bit-identical before/after (CardStoreSpec). Published as a new
    * manifest generation: in-flight readers keep serving theirs, a
    * crash anywhere leaves only invisible debris, and the superseded
    * parts await [[retire]]'s grace window. */
  def compact(spark: SparkSession, dir: String,
              langs: Seq[String] = DefaultLangs, k: Int = 64,
              minParts: Int = 2): Unit = {
    if (SnapshotStore.currentGen(spark, dir) == 0L) return
    if (parts(spark, dir).inputFiles.length < minParts) return
    SnapshotStore.compact(spark, dir, { ps =>
      val aggs: Seq[Column] = Seq(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("keep_docs")).as("keep_docs"),
        hll_union_agg(col("hll"), lit(false)).as("hll"),
        QuantileSketch.unionAgg(col("smp"), k).as("smp"),
        max(col("src_batch")).as("src_batch")) ++
        langs.map(l => sum(col(s"${l}_tokens")).as(s"${l}_tokens"))
      ps.agg(aggs.head, aggs.tail: _*)
        .select(ps.columns.map(col): _*) // pin the part column order
    })
  }

  /** Reclaim parts unreferenced by the newest `keepGenerations`
    * manifests plus torn writers' debris — size the window to the
    * longest-running card read. */
  def retire(spark: SparkSession, dir: String,
             keepGenerations: Int = 2): Unit =
    SnapshotStore.retire(spark, dir, keepGenerations)
}
