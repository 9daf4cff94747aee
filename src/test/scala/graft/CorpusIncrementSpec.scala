package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{CorpusBuild, CorpusIncrement}

/** The incremental corpus build is HASH-IDENTICAL to a full rebuild
  * over base ∪ batch, with one planted casualty per stage in the
  * BATCH — quality gate, exact dup (vs base AND in-batch), near-dup
  * joining a base cluster, a bridge doc MERGING two base clusters
  * (changing a base doc's keep), decontamination, sampling — plus the
  * df-band-crossing cases: a shingle ENTERING the band creating a new
  * base-batch pair, and a shingle pushed past maxDf whose loss kills
  * a base-base pair and RESURRECTS a suppressed base doc. */
class CorpusIncrementSpec extends SparkSpec {
  import spark.implicits._

  private val evalDocs = Seq(
    (1L, "quick brown fox jumps over the lazy sleeping dog tonight", "en", "ev"))

  private val base = Seq(
    // near-dup pair at J=0.5: 101 suppressed under canon 100
    (100L, "the alpha beta gamma delta", "en", "s1"),
    (101L, "the alpha beta gamma epsilon", "en", "s1"),
    (102L, "the kappa lambda mu nu xi", "en", "s1"),
    (103L, "the one two three four five", "en", "s1"),
    // two clusters-to-be sharing one (in-band) shingle, J below 0.4
    (104L, "the red green blue pink gold", "en", "s1"),
    (105L, "the red green teal aqua jade", "en", "s1"),
    // pair-less base doc: the enter-band target
    (106L, "the apple mango peach plum berry", "en", "s1"),
    // decon'd at build (shares an eval 8-gram)
    (107L, "beta quick brown fox jumps over the lazy sleeping dog psi", "en", "s1"),
    // in-base exact dup of 102
    (108L, "the kappa lambda mu nu xi", "en", "s1"))

  private val batch = Seq(
    // exact dup of base 102 -> dropped
    (1001L, "the kappa lambda mu nu xi", "en", "s1"),
    // in-batch exact dup pair: 1002 kept, 1003 dropped
    (1002L, "the rho sigma tau upsilon phi", "en", "s1"),
    (1003L, "the rho sigma tau upsilon phi", "en", "s1"),
    // quality-gate fail (2 tokens)
    (1004L, "tiny text", "en", "s1"),
    // near-dup of base 103 (J=0.6): suppressed under canon 103
    (1005L, "the one two three four six", "en", "s1"),
    // the BRIDGE: near-dups 104 AND 105 (J=4/9 each), merging their
    // clusters -> canon 104, so base doc 105 LOSES its keep
    (1006L, "the red green blue pink gold red green teal aqua jade", "en", "s1"),
    // exit-band pair: two batch docs push df('alpha beta gamma') to 4
    // (> maxDf 3) -> base pair (100,101) dies -> 101 RESURRECTS
    (1010L, "the zeta alpha beta gamma", "en", "s1"),
    (1011L, "the eta alpha beta gamma", "en", "s1"),
    // enter-band pair: shingles at df_base=1 reach 2 -> NEW pair
    // (106,1012) -> 1012 suppressed under canon 106
    (1012L, "the apple mango peach plum cherry", "en", "s1"),
    // decon casualty: carries an eval 8-gram verbatim
    (1013L, "alpha quick brown fox jumps over the lazy sleeping dog omega", "en", "s1"),
    // sampling casualty: lang xx is rated 0.0
    (1014L, "the wibble wobble wubble flib flub", "xx", "s1"))

  private val cols = Seq("doc_id", "text", "lang", "source")
  private def df(rows: Seq[(Long, String, String, String)]): DataFrame =
    rows.toDF(cols: _*)

  private val rates = Map("xx" -> 0.0)

  private def run(corpus: DataFrame, eval: DataFrame): Set[(Long, String, String)] =
    CorpusBuild.run(corpus, eval, shingleK = 3, threshold = 0.4, maxDf = 3L,
        deconN = 8, rates = rates)
      .as[(Long, String, String)].collect().toSet

  test("increment == full rebuild, one planted casualty per stage") {
    val dir = java.nio.file.Files.createTempDirectory("icorpus").toString
    val eval = df(evalDocs)
    val built = CorpusIncrement.build(df(base), eval, dir, shingleK = 3,
        threshold = 0.4, maxDf = 3L, deconN = 8, rates = rates, nBuckets = 8)
      .as[(Long, String, String)].collect().toSet
    assert(built == run(df(base), eval))
    val baseIds = built.map(_._1)
    assert(baseIds == Set(100L, 102L, 103L, 104L, 105L, 106L))
    // 101 suppressed (near-dup), 107 decon'd, 108 exact dup

    val got = CorpusIncrement.increment(df(batch), dir)
      .as[(Long, String, String)].collect().toSet
    val want = run(df(base ++ batch), eval)
    assert(got == want)
    val ids = got.map(_._1)
    assert(ids(101L), "exit-band split must resurrect base doc 101")
    assert(!ids(105L), "the bridge merge must suppress base doc 105")
    assert(!ids(1012L) && ids(106L), "enter-band pair keeps the base canon")
    Seq(1001L, 1003L, 1004L, 1005L, 1006L, 1013L, 1014L)
      .foreach(i => assert(!ids(i), s"casualty $i must not survive"))
    Seq(100L, 103L, 104L, 1002L, 1010L, 1011L)
      .foreach(i => assert(ids(i), s"$i must survive"))

    // a SECOND increment composes on the updated artifacts
    val batch2 = Seq(
      (2000L, "the rho sigma tau upsilon chi", "en", "s1"), // near-dups 1002
      (2001L, "the fresh brand new clean words", "en", "s1"))
    val got2 = CorpusIncrement.increment(df(batch2), dir)
      .as[(Long, String, String)].collect().toSet
    assert(got2 == run(df(base ++ batch ++ batch2), eval))
    assert(!got2.map(_._1)(2000L) && got2.map(_._1)(2001L))

    // out-of-order ingest is refused, not silently mis-deduped
    val e = intercept[IllegalArgumentException] {
      CorpusIncrement.increment(df(Seq(
        (50L, "the way too old doc id here", "en", "s1"))), dir)
    }
    assert(e.getMessage.contains("out-of-order"))
  }

  test("artifact compaction: reads, assembly, and later increments are bit-identical") {
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(c => cp(c, new java.io.File(dst, c.getName)))
      } else {
        java.nio.file.Files.copy(src.toPath, dst.toPath); ()
      }
    }
    val dirA = java.nio.file.Files.createTempDirectory("icorpus_ca").toString
    val eval = df(evalDocs)
    CorpusIncrement.build(df(base), eval, dirA, shingleK = 3,
      threshold = 0.4, maxDf = 3L, deconN = 8, rates = rates, nBuckets = 8)
    CorpusIncrement.increment(df(batch), dirA)
    val dirB = java.nio.file.Files.createTempDirectory("icorpus_cb").toString
    new java.io.File(dirB).delete()
    cp(new java.io.File(dirA), new java.io.File(dirB))

    // the df artifact is genuinely fragmented (build part + batch part)
    def dfFiles(d: String) =
      CorpusIncrement.artifact(spark, d, "df").inputFiles.length
    assert(dfFiles(dirB) > 8, s"expected fragmented df, got ${dfFiles(dirB)}")
    CorpusIncrement.compact(spark, dirB)
    assert(dfFiles(dirB) <= 8) // one file per touched bucket
    assert(CorpusIncrement.artifact(spark, dirB, "hidx").inputFiles.length == 1)
    // folded df rows: one per (shingle) with the summed count
    val dfA = CorpusIncrement.artifact(spark, dirA, "df").groupBy("shingle")
      .agg(sum("df").as("df")).as[(String, Long)].collect().toSet
    val dfB2 = CorpusIncrement.artifact(spark, dirB, "df")
      .select("shingle", "df").as[(String, Long)].collect().toSet
    assert(dfB2 == dfA)

    def out(d: String) = CorpusIncrement.assemble(spark, d)
      .as[(Long, String, String)].collect().toSet
    assert(out(dirB) == out(dirA))
    // the SAME next batch through both stores lands identically
    val batch2 = Seq(
      (2000L, "the rho sigma tau upsilon chi", "en", "s1"),
      (2001L, "the fresh brand new clean words", "en", "s1"))
    val gotA = CorpusIncrement.increment(df(batch2), dirA)
      .as[(Long, String, String)].collect().toSet
    val gotB = CorpusIncrement.increment(df(batch2), dirB)
      .as[(Long, String, String)].collect().toSet
    assert(gotA == gotB)
    assert(gotA == run(df(base ++ batch ++ batch2), eval))
  }

  test("randomized adversarial parity: increment == rebuild across seeded corpora") {
    // tiny vocabulary + tiny maxDf: shared shingles everywhere, so
    // band crossings, cluster merges/splits, and resurrection happen
    // CONSTANTLY rather than by careful planting — any gap in the
    // C-set argument would surface as a parity break within a few
    // seeds. Deterministic (seeded) so a failure replays.
    val vocab = Vector("the", "red", "blue", "fox", "dog", "run", "sit",
      "big", "sky", "sea")
    def doc(rnd: scala.util.Random): String =
      (0 until (5 + rnd.nextInt(4)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val baseRows = (0 until 40).map(i =>
        (100L + i, doc(rnd), if (rnd.nextInt(5) == 0) "xx" else "en", "s1"))
      val batchRows = (0 until 15).map(i =>
        (1000L + i, doc(rnd), if (rnd.nextInt(5) == 0) "xx" else "en", "s1"))
      val eval = df(evalDocs)
      val dir = java.nio.file.Files
        .createTempDirectory(s"icorpus_rnd$seed").toString
      CorpusIncrement.build(df(baseRows), eval, dir, shingleK = 3,
        threshold = 0.4, maxDf = 4L, deconN = 8, rates = rates, nBuckets = 4)
      val got = CorpusIncrement.increment(df(batchRows), dir)
        .as[(Long, String, String)].collect().toSet
      val want = CorpusBuild.run(df(baseRows ++ batchRows), eval,
          shingleK = 3, threshold = 0.4, maxDf = 4L, deconN = 8,
          rates = rates)
        .as[(Long, String, String)].collect().toSet
      assert(got == want, s"parity break at seed $seed: " +
        s"extra=${got -- want} missing=${want -- got}")
    }
  }

  test("real-table parity: build + increment == CorpusBuild.run, q_corpus config") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 11 =!= 0)
    val eval = docs.filter(col("doc_id") % 11 === 0)
    val t = corpus.agg(max(col("doc_id"))).head().getLong(0) / 10 * 7
    val dir = java.nio.file.Files.createTempDirectory("icorpus_real").toString
    val r = Map("en" -> 0.25, "zh" -> 0.8)
    CorpusIncrement.build(corpus.filter(col("doc_id") <= t), eval, dir,
      rates = r)
    val got = CorpusIncrement.increment(corpus.filter(col("doc_id") > t), dir)
      .as[(Long, String, String)].collect().toSet
    val want = CorpusBuild.run(corpus, eval, rates = r)
      .as[(Long, String, String)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("unpublished debris from a torn increment neither reaches readers " +
      "nor wedges the retry, and tight-window compaction sweeps it") {
    val dir = java.nio.file.Files.createTempDirectory("icorpus_torn").toString
    val eval = df(evalDocs)
    CorpusIncrement.build(df(base), eval, dir, shingleK = 3,
      threshold = 0.4, maxDf = 3L, deconN = 8, rates = rates, nBuckets = 8)
    val want0 = CorpusIncrement.assemble(spark, dir)
      .as[(Long, String, String)].collect().toSet
    // simulate a direct-API increment killed between two of its eight
    // artifact writes: fresh part subtrees exist on disk but no
    // manifest generation references them
    def plant(a: String): java.nio.file.Path = {
      val d = java.nio.file.Paths.get(dir, a, "p_torndebris")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-torn.snappy.parquet"),
        Array[Byte](1, 2, 3))
      d
    }
    val debris = Seq("pairs", "labels", "hidx", "df").map(plant)
    // readers resolve the prior generation exactly — no recovery step
    assert(CorpusIncrement.assemble(spark, dir)
      .as[(Long, String, String)].collect().toSet == want0,
      "unpublished parts must never reach a reader")
    // the retry lands hash-identical to the full rebuild, debris or not
    val got = CorpusIncrement.increment(df(batch), dir)
      .as[(Long, String, String)].collect().toSet
    assert(got == run(df(base ++ batch), eval))
    // tight-window maintenance sweeps the orphans (grace 1: only the
    // current generation's files survive)
    debris.foreach(StoreDebris.age)
    CorpusIncrement.compact(spark, dir, keepGenerations = 1)
    debris.foreach(d => assert(!java.nio.file.Files.exists(d),
      s"orphaned debris $d must be swept"))
    // and the store still serves + increments after the maintenance
    val batch2 = Seq(
      (3000L, "the wholly novel closing words", "en", "s1"))
    val got2 = CorpusIncrement.increment(df(batch2), dir)
      .as[(Long, String, String)].collect().toSet
    assert(got2 == run(df(base ++ batch ++ batch2), eval))
  }

  test("AS-OF assembly: the pre-increment generation ships exactly " +
      "yesterday's corpus (meta rides the same generation); retired " +
      "and never-committed generations throw; mutating AS-OF refused") {
    val dir = java.nio.file.Files.createTempDirectory("icorpus_asof").toString
    val eval = df(evalDocs)
    val built = CorpusIncrement.build(df(base), eval, dir, shingleK = 3,
        threshold = 0.4, maxDf = 3L, deconN = 8, rates = rates, nBuckets = 8)
      .as[(Long, String, String)].collect().toSet
    val gen1 = graft.sources.SnapshotStore.currentGen(spark, dir)
    val got = CorpusIncrement.increment(df(batch), dir)
      .as[(Long, String, String)].collect().toSet
    assert(got != built, "the increment must change the corpus sample")
    // AS OF the build's generation: the pre-increment sample verbatim —
    // including 101's pre-resurrection suppression and 105's pre-merge
    // keep, the two rows the increment retroactively flips
    assert(CorpusIncrement.assemble(spark, dir, gen1)
      .as[(Long, String, String)].collect().toSet == built)
    assert(CorpusIncrement.assemble(spark, dir,
        graft.sources.SnapshotStore.currentGen(spark, dir))
      .as[(Long, String, String)].collect().toSet == got)
    // compaction retires behind its grace window; a tight window drops
    // the build generation from the time-travel surface
    CorpusIncrement.compact(spark, dir, keepGenerations = 1)
    intercept[Exception] {
      CorpusIncrement.assemble(spark, dir, gen1).collect()
    }
    intercept[IllegalArgumentException] {
      CorpusIncrement.assemble(spark, dir, 99L).collect()
    }
    assert(CorpusIncrement.assemble(spark, dir)
      .as[(Long, String, String)].collect().toSet == got)
  }
}
