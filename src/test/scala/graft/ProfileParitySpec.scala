package graft

import org.apache.spark.sql.functions._

import graft.operators.{HostRank, Rounds}
import graft.operators.Rounds.{Local, Narrow, Wide}
import graft.text.CorpusIncrement
import graft.vector.{GraphSearch, NnDescent}

/** Pins for the execution profiles of the iterative operators: the
  * driver loop, the narrowed-session loop and the caller-width loop
  * ([[Rounds.profile]]) must produce BIT-IDENTICAL results — the
  * profile is a physical-execution choice only. Each test runs the
  * same small input under every profile the operator has, forced
  * through [[Rounds.forcing]], and compares exact row sets. */
class ProfileParitySpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int) = (0 until n).map { i =>
    (i.toLong, Array.tabulate(8)(j =>
      (((i * 31 + j * 17) % 97) / 97.0f) - 0.5f))
  }.toDF("vec_id", "embedding")

  test("NnDescent.build: narrow and wide profiles are bit-identical") {
    val v = vecs(120)
    val narrow = Rounds.forcing(Narrow)(NnDescent.build(v, k = 4, maxRounds = 3)
      .as[(Long, Int, Long, Double)].collect().toSet)
    val wide = Rounds.forcing(Wide)(NnDescent.build(v, k = 4, maxRounds = 3)
      .as[(Long, Int, Long, Double)].collect().toSet)
    assert(wide == narrow)
    assert(narrow.nonEmpty)
  }

  test("GraphSearch.topK: local, narrow and wide profiles are " +
    "bit-identical") {
    val v = vecs(120)
    val g = NnDescent.build(v, k = 4, maxRounds = 3)
    val q = v.filter(col("vec_id") < 5)
    def run(p: Rounds.Profile) = Rounds.forcing(p)(
      GraphSearch.topK(g, v, q, k = 3, beam = 6)
        .as[(Long, Int, Long, Double)].collect().toSet)
    val local = run(Local)
    val narrow = run(Narrow)
    val wide = run(Wide)
    assert(narrow == local)
    assert(wide == local)
    assert(local.nonEmpty)
  }

  test("GraphSearch.topKHier: local and distributed profiles are " +
    "bit-identical (incl. the tiny-corpus fallback)") {
    val v = vecs(120)
    val g = NnDescent.build(v, k = 4, maxRounds = 3)
    val q = v.filter(col("vec_id") < 5)
    def run(p: Rounds.Profile) = Rounds.forcing(p)(
      GraphSearch.topKHier(g, v, q, k = 3, beam = 6)
        .as[(Long, Int, Long, Double)].collect().toSet)
    val local = run(Local)
    val wide = run(Wide)
    assert(wide == local)
    assert(local.nonEmpty)
  }

  test("GraphSearch.topKLayered: local and distributed profiles are " +
    "bit-identical (seeded descent walks)") {
    val v = vecs(240)
    val g = NnDescent.build(v, k = 4, maxRounds = 3)
    val layers = GraphSearch.buildLayers(v, k = 3, fanout = 4, levels = 1)
    assume(layers.nonEmpty)
    val q = v.filter(col("vec_id") < 5)
    def run(p: Rounds.Profile) = Rounds.forcing(p)(
      GraphSearch.topKLayered(g, layers, v, q, k = 3, beam = 6, fanout = 4)
        .as[(Long, Int, Long, Double)].collect().toSet)
    val local = run(Local)
    val wide = run(Wide)
    assert(wide == local)
    assert(local.nonEmpty)
  }

  test("HostRank.pageRank: local, narrow and wide profiles are " +
    "bit-identical") {
    val edges = (0 until 400).map(i =>
      ((i % 37).toLong, ((i * 13 + 5) % 37).toLong)).toDF("src", "dst")
    def run(p: Rounds.Profile) = Rounds.forcing(p)(
      HostRank.pageRank(edges, iters = 3).as[(Long, Long)].collect().toSet)
    val local = run(Local)
    val narrow = run(Narrow)
    val wide = run(Wide)
    assert(narrow == local)
    assert(wide == local)
    assert(local.nonEmpty)
  }

  test("HostRank.refresh: local and distributed profiles are " +
    "bit-identical (warm seed collected)") {
    val base = (0 until 300).map(i =>
      ((i % 29).toLong, ((i * 11 + 3) % 29).toLong)).toDF("src", "dst")
    val full = (0 until 400).map(i =>
      ((i % 37).toLong, ((i * 13 + 5) % 37).toLong)).toDF("src", "dst")
    val prev = HostRank.pageRank(base, iters = 3)
    def run(p: Rounds.Profile) = Rounds.forcing(p)(
      HostRank.refresh(full, prev, iters = 2).as[(Long, Long)].collect().toSet)
    val local = run(Local)
    val wide = run(Wide)
    assert(wide == local)
    assert(local.nonEmpty)
  }

  test("NnDescent.insert: narrow and wide batch tails are bit-identical") {
    val v = vecs(140)
    val base = v.filter(col("vec_id") < 120)
    val batch = v.filter(col("vec_id") >= 120)
    val g = NnDescent.build(base, k = 4, maxRounds = 3)
    def run(p: Rounds.Profile) = Rounds.forcing(p)(
      NnDescent.insert(g, base, batch, k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet)
    val narrow = run(Narrow)
    val wide = run(Wide)
    assert(wide == narrow)
    assert(narrow.map(_._1) == (0L until 140L).toSet)
  }

  // the planted-casualty corpus through build + increment under each
  // forced profile: Local keeps the middle phase Narrow (it has no
  // driver twin) and solves the touched subgraph on the driver; Narrow
  // and Wide solve it with ConnectedComponents.run
  private lazy val increments: Map[Rounds.Profile, (Set[(Long, String, String)],
      Set[(Long, Long)], Set[(Long, Long)])] = {
    import CorpusIncrementSpec._
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "text", "lang", "source")
    Seq(Local, Narrow, Wide).map { p =>
      val dir = java.nio.file.Files.createTempDirectory("icorpus_prof").toString
      CorpusIncrement.build(df(base), df(evalDocs), dir, shingleK = 3,
        threshold = 0.4, maxDf = 3L, deconN = 8, rates = rates, nBuckets = 8)
      val out = Rounds.forcing(p)(CorpusIncrement.increment(df(batch), dir)
        .as[(Long, String, String)].collect().toSet)
      def longPairs(name: String, a: String, b: String) =
        CorpusIncrement.artifact(spark, dir, name)
          .select(col(a).cast("long"), col(b).cast("long"))
          .as[(Long, Long)].collect().toSet
      p -> ((out, longPairs("pairs", "d1", "d2"),
        longPairs("labels", "node", "component")))
    }.toMap
  }

  test("CorpusIncrement.increment: narrow and wide middle phases are " +
    "bit-identical") {
    assert(increments(Wide) == increments(Narrow))
    assert(increments(Narrow)._1.nonEmpty && increments(Narrow)._2.nonEmpty)
  }

  test("CorpusIncrement touched-subgraph union-find: local and " +
    "distributed solves are bit-identical") {
    assert(increments(Local) == increments(Narrow))
    assert(increments(Local)._3.nonEmpty)
  }
}
