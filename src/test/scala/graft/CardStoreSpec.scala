package graft

import org.apache.spark.sql.functions._

import graft.operators.QuantileSketch
import graft.text.{CardStore, DatasetCard}

/** The incremental dataset card: the parts-assembled card equals the
  * one-shot card on every exact member, the HLL member is bit-equal
  * to a one-shot sketch (and near the exact count), the percentile
  * members equal the one-shot 7i4 sketch, assembly is
  * batching-invariant, and compaction folds the parts to one with the
  * card bit-identical. */
class CardStoreSpec extends SparkSpec {
  import spark.implicits._

  private val exactCols = Seq("n_docs", "n_tokens", "n_chars", "keep_rate",
    "en_tokens", "zh_tokens", "de_tokens", "es_tokens", "fr_tokens",
    "other_tokens", "m", "tok_p50", "tok_p95")

  private def store(nBatches: Int): String = {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("card_store").toString
    (0 until nBatches).foreach(i => CardStore.append(
      docs.filter(pmod(col("doc_id"), lit(nBatches)) === i),
      col("doc_id"), col("text"), col("lang"), dir))
    dir
  }

  test("parts-assembled card == one-shot card on every member; " +
      "batching-invariant; compaction bit-identical") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = store(3)
    val got = CardStore.card(spark, dir).head()
    assert(got.getAs[Long]("n_parts") === 3L)

    // exact members: equal to the ONE-SHOT card (sums of sums)
    val want = DatasetCard.card(docs, col("doc_id"), col("text"),
      col("lang")).head()
    for (c <- Seq("n_docs", "n_tokens", "n_chars", "keep_rate", "en_tokens",
        "zh_tokens", "de_tokens", "es_tokens", "fr_tokens", "other_tokens"))
      assert(got.getAs[Any](c) === want.getAs[Any](c), c)

    // HLL member: an ESTIMATE by contract — pinned within the standard
    // error of the exact distinct count. (No one-shot bit parity here:
    // a stream-built sketch estimates via HIP, a union via the
    // composite estimator — the 7i2 bit-parity claim is union-path vs
    // union-path, which the re-assembly and compaction asserts below
    // cover.)
    val est = got.getAs[Long]("n_distinct_texts_approx")
    val exact = docs.select("text").distinct().count()
    assert(math.abs(est - exact).toDouble / exact < 0.05,
      s"hll $est vs exact $exact")

    // percentile members: equal to the one-shot 7i4 sketch estimate
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("double").as("_tok"))
    val oneQsk = QuantileSketch.estimate(
      QuantileSketch.sketchBy(lens, Nil, col("doc_id"), col("_tok"), 64),
      Nil, 64, Seq(50, 95)).head()
    assert(got.getAs[Int]("m") === oneQsk.getAs[Int]("m"))
    assert(got.getAs[Double]("tok_p50") === oneQsk.getAs[Double]("p50"))
    assert(got.getAs[Double]("tok_p95") === oneQsk.getAs[Double]("p95"))

    // batching invariance: a 2-batch store assembles the same card on
    // every EXACT member and the semilattice percentile members (the
    // HLL estimate is only bound-pinned — union-gadget state may
    // legitimately differ across part boundaries)
    val dir2 = store(2)
    val got2 = CardStore.card(spark, dir2).head()
    for (c <- exactCols)
      assert(got.getAs[Any](c) === got2.getAs[Any](c), c)
    assert(math.abs(got2.getAs[Long]("n_distinct_texts_approx") - exact)
      .toDouble / exact < 0.05)

    // compaction folds to ONE part with the card bit-identical (the
    // superseded parts stay for the grace window; retirement reclaims)
    CardStore.compact(spark, dir)
    assert(graft.sources.SnapshotStore.read(spark, dir)
      .inputFiles.length === 1)
    CardStore.retire(spark, dir, keepGenerations = 1)
    assert(new java.io.File(dir, "parts").listFiles().length === 1,
      "retirement must reclaim the folded-away parts")
    val gotC = CardStore.card(spark, dir).head()
    assert(gotC.getAs[Long]("n_parts") === 1L)
    for (c <- exactCols :+ "n_distinct_texts_approx" :+ "dup_ratio_approx")
      assert(got.getAs[Any](c) === gotC.getAs[Any](c), c)
    // a later batch appends onto the compacted store and the chain
    // keeps composing (the indefinitely-composable artifact claim)
    val extra = Seq((900001L, "the quick brown fox jumps over the lazy dog",
      "en", "s1")).toDF("doc_id", "text", "lang", "source")
    CardStore.append(extra, col("doc_id"), col("text"), col("lang"), dir)
    val gotE = CardStore.card(spark, dir).head()
    assert(gotE.getAs[Long]("n_docs") === got.getAs[Long]("n_docs") + 1)
    assert(gotE.getAs[Long]("n_tokens") === got.getAs[Long]("n_tokens") + 9)
  }

  test("AS-OF card: the pre-append generation is the card of the " +
      "batches committed then; pre-compaction == compacted bit-equal; " +
      "retired and never-committed generations throw") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("card_asof").toString
    CardStore.append(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      col("doc_id"), col("text"), col("lang"), dir)
    val wantPre = CardStore.card(spark, dir).head().toSeq
    CardStore.append(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      col("doc_id"), col("text"), col("lang"), dir)
    val wantFull = CardStore.card(spark, dir).head().toSeq
    assert(wantFull != wantPre, "the append must change the card")
    assert(CardStore.card(spark, dir, asOf = Some(1L)).head().toSeq
      === wantPre, "AS OF 1 must re-assemble exactly the first batch's card")
    // compaction folds to gen 3; the pre-compaction generation
    // re-assembles its own two parts verbatim (n_parts included), and
    // the folded one matches on every DATA member (n_parts is the
    // part-count diagnostic the fold exists to change)
    CardStore.compact(spark, dir)
    assert(CardStore.card(spark, dir, asOf = Some(2L)).head().toSeq
      === wantFull)
    def dataCols(r: org.apache.spark.sql.Row): Seq[Any] =
      r.schema.fieldNames.toSeq.filter(_ != "n_parts").map(r.getAs[Any])
    val wantFullRow = CardStore.card(spark, dir, asOf = Some(2L)).head()
    assert(dataCols(CardStore.card(spark, dir).head())
      === dataCols(wantFullRow))
    CardStore.retire(spark, dir, keepGenerations = 1)
    intercept[Exception] {
      CardStore.card(spark, dir, asOf = Some(1L)).head()
    }
    intercept[IllegalArgumentException] {
      CardStore.card(spark, dir, asOf = Some(99L)).head()
    }
    assert(dataCols(CardStore.card(spark, dir).head())
      === dataCols(wantFullRow))
  }

  test("snapshot isolation and crash faces: a torn fold is invisible " +
      "debris, an in-flight card read survives compaction + retirement, " +
      "and the chain keeps composing") {
    val dir = store(3)
    val want = CardStore.card(spark, dir).head()
    val gen = graft.sources.SnapshotStore.currentGen(spark, dir)

    // torn compactor: a folded part fully written but never published
    // (killed before its manifest commit) — readers never see it, the
    // generation does not advance, and retirement sweeps it
    val orphan = new java.io.File(dir, "parts/c_torn")
    orphan.mkdirs()
    CardStore.card(spark, dir).coalesce(1)
      .write.mode("overwrite").parquet(orphan.toString) // any parquet bytes
    assert(graft.sources.SnapshotStore.currentGen(spark, dir) === gen,
      "an unpublished fold must not advance the generation")
    assert(CardStore.card(spark, dir).head().toSeq === want.toSeq,
      "readers resolve the committed parts exactly — never the debris")

    // an in-flight card read resolved BEFORE the fold keeps serving
    // through compaction and grace-window retirement
    val inFlight = CardStore.card(spark, dir)
    CardStore.compact(spark, dir)
    StoreDebris.age(orphan)
    CardStore.retire(spark, dir, keepGenerations = 2)
    assert(inFlight.head().toSeq === want.toSeq,
      "the in-flight reader must keep its pre-compaction generation")
    assert(!orphan.exists(), "orphaned torn folds must be swept")

    // the committed card is identical through the fold, and a tight
    // retirement leaves exactly the folded part
    assert(CardStore.card(spark, dir).head().getAs[Long]("n_docs")
      === want.getAs[Long]("n_docs"))
    CardStore.retire(spark, dir, keepGenerations = 1)
    assert(graft.sources.SnapshotStore.read(spark, dir)
      .inputFiles.length === 1)

    // a later batch appends onto the compacted store (composability)
    val extra = Seq((900002L, "one more tiny document", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    CardStore.append(extra, col("doc_id"), col("text"), col("lang"), dir)
    assert(CardStore.card(spark, dir).head().getAs[Long]("n_docs")
      === want.getAs[Long]("n_docs") + 1)
  }
}
