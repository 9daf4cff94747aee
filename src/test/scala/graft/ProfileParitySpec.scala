package graft

import org.apache.spark.sql.functions._

import graft.operators.{HostRank, Rounds}
import graft.operators.Rounds.{Local, Narrow, Wide}
import graft.text.CorpusIncrement
import graft.vector.{GraphSearch, NnDescent}

/** Pins for the execution profiles of the iterative operators and of
  * `Bm25Index.topK`: the driver loop, the narrowed-session loop and the
  * caller-width loop ([[Rounds.profile]]) must produce BIT-IDENTICAL results — the
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

  // the driver twin's fixture: 64-d points scattered around the
  // all-ones direction, so the hub (the all-ones vector) is nearer to
  // each than they are to each other — its reverse list far exceeds
  // overbuild·k and the per-round cap bites — plus three exact copies
  // of ten points (i, 1000+i, 2000+i), so sims tie and the nbr
  // tie-break decides
  private val hubId = 5000L
  private lazy val hubVecs = {
    val rnd = new scala.util.Random(150)
    val pts = (0 until 150).map(i =>
      (i.toLong, Array.fill(64)(1.0f + 2.0f * rnd.nextFloat() - 1.0f)))
    val copies = for (c <- Seq(1000L, 2000L); i <- 0 until 10)
      yield (c + i, pts(i)._2)
    ((pts ++ copies) :+ ((hubId, Array.fill(64)(1.0f))))
      .toDF("vec_id", "embedding")
  }

  test("NnDescent.build: local and distributed profiles are bit-identical") {
    // (overbuild, convergedFrac, maxRounds): fixed round counts at
    // overbuild 1 and 2, then a loose stop that ends the descent early
    for ((ob, frac, rounds) <- Seq((1, 0.0, 3), (2, 0.0, 3), (2, 0.05, 8))) {
      def run(p: Rounds.Profile) = Rounds.forcing(p) {
        val (g, r) = NnDescent.buildWithRounds(hubVecs, k = 4,
          maxRounds = rounds, convergedFrac = frac, overbuild = ob)
        (g.as[(Long, Int, Long, Double)].collect().toSet, r)
      }
      val (local, lr) = run(Local)
      val (narrow, nr) = run(Narrow)
      val cfg = s"overbuild $ob, convergedFrac $frac"
      assert(local == narrow, cfg)
      assert(lr == nr, cfg)
      assert(local.size == 171 * 4, cfg)
      // the fixture exercises what it is for
      assert(local.count(_._3 == hubId) > ob * 4, s"$cfg: hub under the cap")
      assert(local.groupBy(r => (r._1, r._4)).exists(_._2.size > 1),
        s"$cfg: no tied sims")
      if (frac > 0) assert(lr > 1 && lr < rounds, s"$cfg: ran $lr rounds")
    }
  }

  // 60 vectors, vec_id 7 all-zero (a zero norm)
  private def zeroNorm = vecs(60).withColumn("embedding",
    when(col("vec_id") === 7L, array((0 until 8).map(_ => lit(0.0f)): _*))
      .otherwise(col("embedding")))

  test("NnDescent.build: a zero-norm vector and a corpus of at most " +
    "overbuild*k vectors fail alike on every profile") {
    for (p <- Seq(Local, Narrow, Wide)) {
      val e = intercept[ArithmeticException](Rounds.forcing(p)(
        NnDescent.build(zeroNorm, k = 4, maxRounds = 2)))
      assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition ==
        "DIVIDE_BY_ZERO", p)
      val small = intercept[IllegalArgumentException](Rounds.forcing(p)(
        NnDescent.build(vecs(8), k = 4, maxRounds = 2)))
      assert(small.getMessage.contains("corpus has 8 vectors"), p)
    }
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

  test("NnDescent.insert: local, narrow and wide are bit-identical") {
    // six more exact copies of point 3, so a tie straddles every k = 4
    // cut: a batch copy's brute list, its walk's beam, and point 3's
    // reverse-link trim
    val corpus = hubVecs.union(hubVecs.filter(col("vec_id") === 3L)
      .crossJoin(spark.range(3000L, 3006L)).select(col("id").as("vec_id"),
        col("embedding")))
    val all = corpus.select("vec_id").as[Long].collect().toSet
    // (case, batch ids, entryFanout, bruteFloor)
    val cases = Seq(
      // exact copies across base and batch (i and 2000+i; 5, 1005 and
      // 2005; 3 and 3000-3005) and inside the batch: tied sims everywhere
      ("ties", ((2000L until 2010L) ++ Seq(1005L) ++ (140L until 146L) ++
        (3000L until 3006L)).toSet, 32, 10000),
      // no node is in a 2^31-fanout layer, so the global-sample
      // fallback seeds every walk
      ("empty layer", (130L until 146L).toSet, Int.MaxValue, 10000),
      ("one vector", Set(2003L), 32, 10000),
      // above bruteFloor (and overbuild·k + 1) the batch's own descent
      // makes the internal edges
      ("descent", (120L until 140L).toSet, 32, 5))
    for ((name, ids, fanout, floor) <- cases) {
      val isBatch = col("vec_id").isin(ids.toSeq: _*)
      val base = corpus.filter(!isBatch)
      val batch = corpus.filter(isBatch)
      val g = NnDescent.build(base, k = 4, maxRounds = 3)
      def run(p: Rounds.Profile) = Rounds.forcing(p)(
        NnDescent.insert(g, base, batch, k = 4, entryFanout = fanout,
          bruteFloor = floor).as[(Long, Int, Long, Double)].collect().toSeq)
      val local = run(Local)
      def perNode(rows: Seq[(Long, Int, Long, Double)]) =
        rows.groupBy(_._1).map { case (id, rs) => id -> rs.size }
      for ((p, rows) <- Seq(Narrow -> run(Narrow), Wide -> run(Wide))) {
        assert(rows.toSet == local.toSet, s"$name: $p")
        assert(perNode(rows) == perNode(local), s"$name: $p")
      }
      assert(local.map(_._1).toSet == all, name)
      if (name == "ties")
        assert(local.groupBy(r => (r._1, r._4)).exists(_._2.size > 1), name)
      if (name == "empty layer")
        assert(base.filter(pmod(xxhash64(lit(43L), col("vec_id")),
          lit(fanout)) === 0).isEmpty, name)
    }
  }

  test("a Narrow loop keeps the caller's SQL conf: with ANSI off, " +
    "narrow and wide builds over a zero-norm vector end alike") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      assert(Rounds.session(spark, Narrow).spark.conf.get(key) == "false")
      def run(p: Rounds.Profile) = scala.util.Try(Rounds.forcing(p)(
        NnDescent.build(zeroNorm, k = 4, maxRounds = 2)
          .as[(Long, Int, Long, Double)].collect().toSet))
      (run(Narrow), run(Wide)) match {
        case (scala.util.Success(n), scala.util.Success(w)) => assert(n == w)
        case (scala.util.Failure(n), scala.util.Failure(w)) =>
          assert(n.getClass == w.getClass, s"$n vs $w")
        case other => fail(s"profiles disagree: $other")
      }
    } finally spark.conf.set(key, before)
  }

  test("NnDescent.insert over a Local-built graph equals insert over a " +
    "Narrow-built graph") {
    val v = vecs(140)
    val base = v.filter(col("vec_id") < 120)
    val batch = v.filter(col("vec_id") >= 120)
    def graph(p: Rounds.Profile) =
      Rounds.forcing(p)(NnDescent.build(base, k = 4, maxRounds = 3))
    def insert(g: org.apache.spark.sql.DataFrame) =
      NnDescent.insert(g, base, batch, k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
    val local = insert(graph(Local))
    assert(local == insert(graph(Narrow)))
    assert(local.map(_._1) == (0L until 140L).toSet)
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

  test("Bm25Index.topK: Local and Wide are bit-identical") {
    import graft.text.Bm25Index
    // ten texts over 40 docs whose ids do not follow the text: equal
    // texts score equally, so doc_id decides ties, also across the cut
    val texts = Seq("hash join hash", "window agg", "hash join",
      "customer table scan", "table scan table", "join window", "scan",
      "agg agg window hash", "customer join", "table")
    val docs = (0 until 40).map(i =>
      ((i * 17 % 101).toLong, texts(i % texts.length), i % 3)).toDF("doc_id", "text", "part")
    val queries = Seq(1 -> "hash join hash", 2 -> "window JOIN window agg",
      3 -> "table scan", 4 -> "hash", 5 -> "customer table scan hash")
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).toSet
    def same(what: String)(serve: => org.apache.spark.sql.DataFrame) = {
      val local = Rounds.forcing(Local)(serve)
      val wide = Rounds.forcing(Wide)(serve)
      assert(local.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], what)
      assert(local.schema == wide.schema, what)
      val (l, w) = (bits(local), bits(wide))
      assert(l == w, what)
      local.collect().toSeq
    }
    def store(d: org.apache.spark.sql.DataFrame, nb: Int) = {
      val dir = java.nio.file.Files.createTempDirectory("bm25_parity").toString
      Bm25Index.build(d.filter(col("part") =!= 0), col("doc_id"), col("text"),
        dir, nBuckets = nb)
      Bm25Index.append(d.filter(col("part") === 0), col("doc_id"), col("text"), dir)
      dir
    }
    val dir = store(docs, 64)
    for ((k, k1, b) <- Seq((5, 1.2, 0.75), (3, 0.0, 1.0), (10, 2.0, 0.0))) {
      val rows = same(s"k $k, k1 $k1, b $b")(
        Bm25Index.topK(spark, dir, queries, k, k1, b))
      assert(rows.map(_.getInt(0)).distinct.length == queries.length)
      // a tie on score inside one query's top k
      assert(rows.groupBy(r => (r.getInt(0), r.getDouble(3))).exists(_._2.size > 1))
    }
    // k1 = Double.MaxValue overflows scores past what the decimal cast
    // holds: the driver form hands the call to the plan, so both forms
    // end alike, in equal rows or the same error
    def huge(p: Rounds.Profile) = scala.util.Try(Rounds.forcing(p) {
      val df = Bm25Index.topK(spark, dir, queries, k1 = Double.MaxValue)
      (df.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], bits(df))
    }).fold(e => Left(e.getClass), Right(_))
    assert(huge(Local) == huge(Wide))
    // a query whose only term hashes to a bucket with no file
    val used = texts.flatMap(_.split(" ")).map(Bm25Index.bucketLocal(_, 64)).toSet
    val absent = Iterator.from(0).map(i => s"absent$i")
      .find(t => !used(Bm25Index.bucketLocal(t, 64))).get
    assert(same("no postings file")(
      Bm25Index.topK(spark, dir, Seq(1 -> absent))).isEmpty)
    // a string doc_id keeps its type and orders as Spark orders strings
    val sdir = store(docs.withColumn("doc_id", concat(lit("d"), col("doc_id"))), 8)
    val srows = same("string doc_id")(Bm25Index.topK(spark, sdir, queries))
    assert(srows.nonEmpty && srows.forall(_.get(1).isInstanceOf[String]))
    // a pinned generation: the build alone, before the append
    val pinned = same("as of generation 1")(Bm25Index.topKAsOf(spark, dir, 1L, queries))
    assert(pinned.nonEmpty &&
      pinned.toSet != Bm25Index.topK(spark, dir, queries).collect().toSet)
  }
}
