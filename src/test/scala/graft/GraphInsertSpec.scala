package graft

import org.apache.spark.sql.functions._

import graft.vector.{NnDescent, Similarity}

class GraphInsertSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
  private lazy val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)

  test("insert yields exactly k ranked neighbors per node over base ∪ batch, no self-edges") {
    val k = 5
    val g = NnDescent.build(base, k, maxRounds = 3)
    val merged = NnDescent.insert(g, base, batch, k, beam = 15).cache()
    val n = emb.count()
    assert(merged.count() == n * k)
    assert(merged.filter(col("vec_id") === col("n_id")).count() == 0)
    val ranks = merged.groupBy("vec_id")
      .agg(sort_array(collect_list("rank")).as("rs"))
      .select("rs").distinct().as[Seq[Int]].collect()
    assert(ranks.toSeq == Seq(1 to k))
    merged.unpersist()
  }

  test("every changed base row points at a batch vector — untouched rows pass through byte-identical") {
    val k = 5
    val g = NnDescent.build(base, k, maxRounds = 3).cache()
    val merged = NnDescent.insert(g, base, batch, k, beam = 15).cache()
    val batchIds = batch.select(col("vec_id").as("n_id"))
    // base-node rows absent from the original graph must be reverse
    // links into the batch (the only legal way a base list changes)
    val changed = merged
      .join(batch.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select("vec_id", "n_id", "sim")
      .except(g.select("vec_id", "n_id", "sim"))
    val offBatch = changed.join(batchIds, Seq("n_id"), "left_anti")
    assert(offBatch.count() == 0,
      s"base rows changed without batch evidence: ${offBatch.count()}")
    merged.unpersist(); g.unpersist()
  }

  test("recall@10 over the merged corpus meets the fresh-build floor at the registry configuration") {
    val k = 10
    val g = NnDescent.build(base, k, maxRounds = 6, convergedFrac = 0.01)
    val merged = NnDescent.insert(g, base, batch, k, beam = 30).cache()
    val brute = Similarity.bruteTopK(emb, emb, k)
      .select(col("q_id").as("vec_id"), col("n_id"))
    val hits = merged.select("vec_id", "n_id")
      .join(brute, Seq("vec_id", "n_id")).count()
    val total = emb.count() * k
    val recall = hits.toDouble / total
    assert(recall >= 0.9, s"recall $hits/$total = $recall")
    merged.unpersist()
  }

  test("a default-profile insert of 25 into 475 x 64-d vectors launches " +
    "at most 6 jobs, the same count every rep") {
    val rnd = new scala.util.Random(500)
    val v = (0 until 500).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val b = v.filter(pmod(col("vec_id"), lit(20)) =!= 0)
    val nb = v.filter(pmod(col("vec_id"), lit(20)) === 0)
    val g = NnDescent.build(b, k = 10, maxRounds = 2).cache()
    g.count()
    val counts = (1 to 5).map(_ =>
      JobCount.during(spark)(NnDescent.insert(g, b, nb, k = 10, beam = 30))._2)
    assert(counts.head <= 6 && counts.distinct.size == 1, counts)
    g.unpersist()
  }

  test("the insert is bit-deterministic") {
    val g = NnDescent.build(base, 4, maxRounds = 2)
    val a = NnDescent.insert(g, base, batch, 4, beam = 12).collect()
      .map(_.toString).sorted.toSeq
    val b = NnDescent.insert(g, base, batch, 4, beam = 12).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("an inserted copy of a base vector becomes its mutual rank-1 neighbor") {
    val k = 4
    val g = NnDescent.build(base, k, maxRounds = 3)
    val twinOf = base.orderBy("vec_id").limit(1).collect().head
    val twinId = 1000003L // prime, not in any corpus id range
    val twin = Seq((twinId, twinOf.getAs[Seq[Float]]("embedding").toArray))
      .toDF("vec_id", "embedding")
    val merged = NnDescent.insert(g, base, twin, k, beam = 12).cache()
    val newTop = merged.filter(col("vec_id") === twinId && col("rank") === 1)
      .collect().head
    assert(newTop.getAs[Long]("n_id") == twinOf.getAs[Long]("vec_id"))
    assert(newTop.getAs[Double]("sim") > 0.999)
    val twinTop = merged
      .filter(col("vec_id") === twinOf.getAs[Long]("vec_id") && col("rank") === 1)
      .collect().head
    assert(twinTop.getAs[Long]("n_id") == twinId)
    merged.unpersist()
  }
}
