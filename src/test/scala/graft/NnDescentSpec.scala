package graft

import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.vector.{IndexStore, NnDescent, Similarity}

class NnDescentSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("every node carries exactly k ranked neighbors, no self-edges") {
    val k = 5
    val g = NnDescent.build(emb, k, maxRounds = 3).cache()
    val n = emb.count()
    assert(g.count() == n * k)
    assert(g.filter(col("vec_id") === col("n_id")).count() == 0)
    val ranks = g.groupBy("vec_id")
      .agg(sort_array(collect_list("rank")).as("rs"))
      .select("rs").distinct().as[Seq[Int]].collect()
    assert(ranks.toSeq == Seq(1 to k))
    g.unpersist()
  }

  test("the build is bit-deterministic") {
    def run() = NnDescent.build(emb, 4, maxRounds = 2).collect()
      .map(_.toString).sorted.toSeq
    val a = run()
    assert(run() == a)
    // the default profile is Local at this size: the distributed loop
    // must give the same graph, run after run
    val narrow = Rounds.forcing(Rounds.Narrow)(run())
    assert(narrow == a)
    assert(Rounds.forcing(Rounds.Narrow)(run()) == narrow)
  }

  test("a default-profile build over 475 x 64-d vectors launches at " +
    "most 3 jobs, the same count every rep") {
    val rnd = new scala.util.Random(475)
    val v = (0 until 475).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val counts = (1 to 5).map(_ => JobCount.during(spark)(NnDescent.build(v, k = 10))._2)
    assert(counts.head <= 3 && counts.distinct.size == 1, counts)
  }

  test("recall@10 against brute force on the real embeddings") {
    // same configuration as the registry's q_nnd, so the recall pin
    // covers exactly what the driver runs
    val k = 10
    val g = NnDescent.build(emb, k, maxRounds = 6, convergedFrac = 0.01).cache()
    val brute = Similarity.bruteTopK(emb, emb, k)
      .select(col("q_id").as("vec_id"), col("n_id"))
    val hits = g.select("vec_id", "n_id").join(brute, Seq("vec_id", "n_id")).count()
    val total = emb.count() * k
    val recall = hits.toDouble / total
    assert(recall >= 0.9, s"recall $hits/$total = $recall")
    g.unpersist()
  }

  test("neighbor sims are the exact cosine, ranked descending") {
    val g = NnDescent.build(emb, 3, maxRounds = 2)
    val v = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val checked = g
      .join(v.select(col("vec_id"), col("embedding").as("_e1"), col("nrm").as("_n1")), "vec_id")
      .join(v.select(col("vec_id").as("n_id"), col("embedding").as("_e2"),
        col("nrm").as("_n2")), "n_id")
      .withColumn("_sim2",
        Similarity.dot(col("_e1"), col("_e2")) / (col("_n1") * col("_n2")))
    assert(checked.filter(col("sim") =!= col("_sim2")).count() == 0)
    val disorder = g.withColumn("_prev", lag("sim", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id").orderBy("rank")))
      .filter(col("_prev").isNotNull && col("_prev") < col("sim"))
    assert(disorder.count() == 0)
  }

  test("IndexStore round-trips the graph with its k") {
    val dir = "/tmp/graft_knn_index"
    val g = NnDescent.build(emb, 4, maxRounds = 2)
    IndexStore.saveKnn(dir, g, 4)
    val (loaded, k) = IndexStore.loadKnn(spark, dir)
    assert(k == 4)
    assert(loaded.collect().map(_.toString).sorted.toSeq ==
      g.collect().map(_.toString).sorted.toSeq)
  }
}
