package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotStore

/** MVCC-lite snapshot isolation: a reader resolved at generation N
  * keeps reading N's exact file set across concurrent compactions and
  * appends; a publication is atomic (old complete or new complete,
  * never a mix); retirement reclaims superseded parts only past the
  * grace window. */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("id").cast("long"), col("s")).as[(Long, String)].collect().toSet

  test("snapshot isolation: an in-flight reader survives compaction and " +
      "retirement inside the grace window; publication is never a mix") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore").toString
    val all = (1L to 30L).map(i => (i, s"v$i"))
    all.grouped(10).foreach(b => SnapshotStore.append(b.toDF("id", "s"), dir))
    assert(SnapshotStore.currentGen(spark, dir) === 3L)
    val want = all.toSet
    assert(rows(SnapshotStore.read(spark, dir)) === want)

    // resolve a reader NOW (generation 3, three part files), then
    // compact: the reader's plan is pinned to the old files and must
    // still serve after the new generation publishes
    val oldReader = SnapshotStore.read(spark, dir)
    SnapshotStore.compact(spark, dir)
    assert(SnapshotStore.currentGen(spark, dir) === 4L)
    assert(rows(SnapshotStore.read(spark, dir)) === want,
      "compaction must not change contents")
    assert(rows(oldReader) === want,
      "the in-flight reader must still see its snapshot")

    // retirement with the default 2-generation grace keeps gen 3's
    // parts alive for the old reader...
    SnapshotStore.retire(spark, dir, keepGenerations = 2)
    assert(rows(oldReader) === want,
      "grace-window retirement must not break the in-flight reader")
    // ...and a tight window reclaims them (the reader's lease is the
    // caller's grace-sizing contract)
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    assert(rows(SnapshotStore.read(spark, dir)) === want)
    val partDirs = new java.io.File(dir, "parts").listFiles().toSeq
    assert(partDirs.length === 1,
      s"superseded parts must be reclaimed; got ${partDirs.map(_.getName)}")

    // appends after compaction keep composing
    SnapshotStore.append(Seq((31L, "v31")).toDF("id", "s"), dir)
    assert(rows(SnapshotStore.read(spark, dir)) === want + ((31L, "v31")))
  }

  test("a torn compaction is invisible: unpublished parts never reach a " +
      "reader and retirement sweeps them") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_torn").toString
    val all = (1L to 20L).map(i => (i, s"v$i"))
    all.grouped(10).foreach(b => SnapshotStore.append(b.toDF("id", "s"), dir))
    val want = all.toSet
    val genBefore = SnapshotStore.currentGen(spark, dir)

    // simulate a compactor killed AFTER writing its folded part but
    // BEFORE its manifest commit: write an orphan part dir directly
    val orphan = new java.io.File(dir, "parts/c_torn")
    orphan.mkdirs()
    Seq((999L, "ghost")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(orphan.toString)
    assert(SnapshotStore.currentGen(spark, dir) === genBefore,
      "an unpublished part must not advance the generation")
    assert(rows(SnapshotStore.read(spark, dir)) === want,
      "readers resolve the old manifest exactly — never a mix")

    // the retrying compactor succeeds alongside the debris, and
    // retirement sweeps the (crash-aged) orphan with the superseded
    // parts
    SnapshotStore.compact(spark, dir)
    assert(rows(SnapshotStore.read(spark, dir)) === want)
    StoreDebris.age(orphan)
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    assert(!orphan.exists(), "orphaned torn parts must be swept")
    assert(rows(SnapshotStore.read(spark, dir)) === want)
  }

  test("an absent CURRENT resolves the newest manifest, not an empty " +
      "store (rename-refuses-to-replace filesystems delete CURRENT on " +
      "every publish)") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_nocur").toString
    val all = (1L to 20L).map(i => (i, s"v$i"))
    all.grouped(10).foreach(b => SnapshotStore.append(b.toDF("id", "s"), dir))
    val want = all.toSet
    // there is no pointer file at all: the highest linked manifest is
    // the head, so no publish can leave readers on an empty store
    assert(!new java.io.File(dir, "_ledger/CURRENT").exists(),
      "no pointer file: the manifests alone define the head")
    assert(SnapshotStore.currentGen(spark, dir) === 2L,
      "readers resolve the newest manifest")
    assert(rows(SnapshotStore.read(spark, dir)) === want,
      "readers serve the newest complete generation")
    SnapshotStore.append(Seq((21L, "v21")).toDF("id", "s"), dir)
    assert(SnapshotStore.currentGen(spark, dir) === 3L)
    assert(rows(SnapshotStore.read(spark, dir)) === want + ((21L, "v21")))
    assert(!new java.io.File(dir, "_ledger/CURRENT").exists())
  }

  test("torn manifests above CURRENT are not a time-travel surface: " +
      "generations() excludes them and AS-OF reads refuse them") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_torn2").toString
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    // a writer killed between staging manifest.2 in full and linking
    // it: the staged tmp names parts that were never written
    val staged = new java.io.File(dir, "_ledger/manifest.2.deadbeef.tmp")
    java.nio.file.Files.write(staged.toPath,
      "#op=append parent=1\n@mp_never_written".getBytes)
    assert(SnapshotStore.generations(spark, dir) === Seq(1L),
      "a staged manifest is not a generation")
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, dir, 2L)
    }
    assert(e.getMessage.contains("never committed"))
    // the next commit takes slot 2 beside the debris
    SnapshotStore.append(Seq((6L, "v6")).toDF("id", "s"), dir)
    assert(SnapshotStore.generations(spark, dir) === Seq(1L, 2L))
    assert(rows(SnapshotStore.read(spark, dir, 2L))
      === (1L to 6L).map(i => (i, s"v$i")).toSet)
    assert(staged.exists(), "fresh staged debris waits out the grace")
  }

  test("a reader resolved between manifest write and CURRENT swap sees " +
      "exactly the old generation") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_mid").toString
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    val want = rows(SnapshotStore.read(spark, dir))
    // the next generation's manifest staged in full but not yet linked
    // (the one window of a commit): readers see only linked manifests
    val staged = new java.io.File(dir, "_ledger/manifest.2.deadbeef.tmp")
    java.nio.file.Files.write(staged.toPath,
      "#op=append parent=1\n@mp_never_written".getBytes)
    assert(rows(SnapshotStore.read(spark, dir)) === want)
    assert(SnapshotStore.currentGen(spark, dir) === 1L,
      "the committed generation is the highest LINKED manifest")
  }

  test("manifest-list indirection: an append reuses every prior " +
      "manifest part by reference and writes exactly one new one — " +
      "publish cost O(delta), not O(live files)") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_mlist").toString
    def ledgerNames(prefix: String): Seq[String] =
      new java.io.File(dir, "_ledger").listFiles().toSeq
        .map(_.getName).filter(_.startsWith(prefix)).sorted
    def manifestRefs(gen: Long): Seq[String] =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_ledger", s"manifest.$gen"))
        .linesIterator.filter(_.startsWith("@")).map(_.drop(1)).toSeq
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    val gen1Parts = manifestRefs(1L)
    assert(gen1Parts.length === 1, "one append = one manifest part")
    SnapshotStore.append((6L to 9L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    val gen2Parts = manifestRefs(2L)
    assert(gen2Parts.length === 2)
    assert(gen2Parts.contains(gen1Parts.head),
      "the untouched prior part must be REUSED by reference, not rewritten")
    assert(ledgerNames("mp_").length === 2,
      "no extra manifest parts beyond the two appends'")
    assert(rows(SnapshotStore.read(spark, dir))
      === (1L to 9L).map(i => (i, s"v$i")).toSet)
    // a full fold stops referencing the old parts; retirement then
    // drops the unreferenced manifest parts with their manifests
    SnapshotStore.compact(spark, dir)
    assert(manifestRefs(3L).toSet.intersect(gen2Parts.toSet).isEmpty)
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    assert(ledgerNames("mp_") === manifestRefs(3L),
      "manifest parts unreferenced by the kept window must be swept")
  }

  test("base-generation conflict: a writer whose base generation was " +
      "superseded throws instead of silently dropping the newer " +
      "writer's lines") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_conflict").toString
    val v = (1L to 5L).map(i => (i, s"v$i")).toSet
    SnapshotStore.append(v.toSeq.toDF("id", "s"), dir)
    // writers A and B both read generation 1...
    val (baseA, viewA) = SnapshotStore.snapshot(spark, dir)
    val (baseB, viewB) = SnapshotStore.snapshot(spark, dir)
    // ...B commits generation 2 first
    val relB = "parts/b_conflict_b"
    Seq((100L, "b")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$dir/$relB")
    assert(SnapshotStore.publishNext(spark, dir,
      viewB ++ SnapshotStore.partFiles(spark, dir, relB), baseB) === 2L)
    assert(rows(SnapshotStore.read(spark, dir)) === v + ((100L, "b")))
    // A's publish was computed from generation 1: it MUST fail fast —
    // publishing viewA would drop B's row
    val relA = "parts/b_conflict_a"
    Seq((200L, "a")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$dir/$relA")
    val e = intercept[IllegalStateException] {
      SnapshotStore.publishNext(spark, dir,
        viewA ++ SnapshotStore.partFiles(spark, dir, relA), baseA)
    }
    assert(e.getMessage.contains("stale writer"))
    // the store still serves B's generation, lines intact
    assert(SnapshotStore.currentGen(spark, dir) === 2L)
    assert(rows(SnapshotStore.read(spark, dir)) === v + ((100L, "b")))
  }

  test("a writer whose base+1 slot was retired gets a conflict, not a " +
      "silent commit below the head") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_stale").toString
    SnapshotStore.append(Seq((1L, "v1")).toDF("id", "s"), dir)
    val (base, view) = SnapshotStore.snapshot(spark, dir)
    SnapshotStore.append(Seq((2L, "v2")).toDF("id", "s"), dir)
    SnapshotStore.append(Seq((3L, "v3")).toDF("id", "s"), dir)
    // retirement frees slots 1 and 2: the stale writer's link of
    // manifest.2 would succeed, below the head
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    assert(SnapshotStore.generations(spark, dir) === Seq(3L))
    val rel = "parts/b_stale"
    Seq((9L, "stale")).toDF("id", "s").coalesce(1).write.parquet(s"$dir/$rel")
    val e = intercept[IllegalStateException] {
      SnapshotStore.publishNext(spark, dir,
        view ++ SnapshotStore.partFiles(spark, dir, rel), base)
    }
    assert(e.getMessage.contains("stale writer"))
    assert(SnapshotStore.generations(spark, dir) === Seq(3L),
      "the stale writer must withdraw its manifest")
    assert(rows(SnapshotStore.read(spark, dir)) ===
      Set((1L, "v1"), (2L, "v2"), (3L, "v3")))
  }

  test("AS-OF generation reads: a pinned pre-compaction generation " +
      "equals the pre-compaction store until retired") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_asof").toString
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    SnapshotStore.append((6L to 8L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    val want = (1L to 8L).map(i => (i, s"v$i")).toSet
    SnapshotStore.compact(spark, dir)
    assert(SnapshotStore.generations(spark, dir) === Seq(1L, 2L, 3L))
    // read AS OF N-1 after the compaction == the pre-compaction store
    assert(rows(SnapshotStore.read(spark, dir, 2L)) === want)
    assert(rows(SnapshotStore.read(spark, dir, 1L))
      === (1L to 5L).map(i => (i, s"v$i")).toSet)
    assert(rows(SnapshotStore.read(spark, dir, 3L)) === want)
    // past the grace window the generation is gone (manifest retired)
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    assert(SnapshotStore.generations(spark, dir) === Seq(3L))
    intercept[Exception] { SnapshotStore.read(spark, dir, 1L).collect() }
    assert(rows(SnapshotStore.read(spark, dir, 3L)) === want)
  }

  test("optimistic append retry: two concurrent appenders both land " +
      "and the store equals the sequential result") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_cc").toString
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    // race N appenders; appends commute, so every lost manifest slot
    // must retry against the new head instead of throwing or dropping
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until 4).map { t =>
      new Thread(() => {
        try SnapshotStore.append(
          Seq((100L + t, s"w$t")).toDF("id", "s"), dir)
        catch { case e: Throwable => errs.add(e); () }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must all land: ${errs.peek()}")
    assert(SnapshotStore.currentGen(spark, dir) === 5L,
      "each append must publish its own generation")
    assert(rows(SnapshotStore.read(spark, dir))
      === (1L to 5L).map(i => (i, s"v$i")).toSet ++
        (0 until 4).map(t => (100L + t, s"w$t")))
  }

  test("multi-file parts round-trip through read, compact, and retire") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_mf").toString
    val all = (1L to 40L).map(i => (i, s"v$i"))
    SnapshotStore.append(all.toDF("id", "s"), dir, numFiles = 3)
    assert(SnapshotStore.read(spark, dir).inputFiles.length === 3,
      "numFiles must size the part")
    assert(rows(SnapshotStore.read(spark, dir)) === all.toSet)
    SnapshotStore.append(Seq((41L, "v41")).toDF("id", "s"), dir)
    assert(rows(SnapshotStore.read(spark, dir)) === all.toSet + ((41L, "v41")))
    SnapshotStore.compact(spark, dir, numFiles = 2)
    assert(SnapshotStore.read(spark, dir).inputFiles.length === 2)
    assert(rows(SnapshotStore.read(spark, dir)) === all.toSet + ((41L, "v41")))
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    assert(rows(SnapshotStore.read(spark, dir)) === all.toSet + ((41L, "v41")))
  }

  test("generation metadata: each publish stamps (op, fence, parent); " +
      "a compaction's meta names its parent; retirement drops metas " +
      "with their manifests") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_meta").toString
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    SnapshotStore.append((6L to 9L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    SnapshotStore.compact(spark, dir)
    def metaOf(g: Long): Map[String, String] =
      SnapshotStore.generationMeta(spark, dir, g).get
        .split("\\s+").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    assert(metaOf(1L)("op") === "append")
    assert(metaOf(1L)("parent") === "0")
    assert(metaOf(2L)("op") === "append")
    assert(metaOf(3L)("op") === "compact")
    assert(metaOf(3L)("parent") === "2",
      "a compaction's meta must name the generation it folded")
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    assert(SnapshotStore.generationMeta(spark, dir, 1L).isEmpty,
      "retired generations drop their meta stamps")
    assert(SnapshotStore.generationMeta(spark, dir, 3L).isDefined)
  }

  test("ledger sweep: streaming batch markers below the newest are " +
      "reclaimed (the committed-max probe covers them) and aged tmp " +
      "debris is dropped; the newest marker and live epoch survive") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_sweep").toString
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    val ledger = new java.io.File(dir, "_ledger")
    Seq(0L, 1L, 2L, 7L).foreach(i =>
      java.nio.file.Files.write(
        new java.io.File(ledger, s"batch.$i").toPath, Array.empty[Byte]))
    val freshTmp = new java.io.File(ledger, "manifest.9.tmp")
    java.nio.file.Files.write(freshTmp.toPath, "x".getBytes)
    val agedTmp = new java.io.File(ledger, "mp_dead.tmp")
    java.nio.file.Files.write(agedTmp.toPath, "x".getBytes)
    assert(agedTmp.setLastModified(
      System.currentTimeMillis() - 2 * SnapshotStore.TmpGraceMs))
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    val names = ledger.listFiles().map(_.getName).toSet
    assert(!names.exists(n => n.startsWith("batch.") && n != "batch.7"),
      s"markers below the newest must be swept: $names")
    assert(names.contains("batch.7"), "the newest marker must survive")
    assert(!names.contains("mp_dead.tmp"), "aged tmp debris must be swept")
    assert(names.contains("manifest.9.tmp"),
      "a LIVE writer's in-flight tmp must survive the grace window")
  }

  test("retire's orphan rule: superseded parts go at once, an " +
      "unreferenced part waits out the grace — a fresh one survives, " +
      "an aged one is swept") {
    val dir = java.nio.file.Files.createTempDirectory("snapstore_orphan").toString
    SnapshotStore.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "s"), dir)
    SnapshotStore.compact(spark, dir)
    // two unpublished part dirs: a live writer's and a crashed one's
    def plant(name: String): java.io.File = {
      val d = new java.io.File(dir, s"parts/$name")
      Seq((99L, name)).toDF("id", "s").coalesce(1).write.parquet(d.toString)
      d
    }
    val fresh = plant("b_inflight")
    val aged = plant("b_crashed")
    StoreDebris.age(aged)
    val freshPart = new java.io.File(dir, "_ledger/mp_inflight")
    java.nio.file.Files.write(freshPart.toPath, "parts/b_inflight/x".getBytes)
    val agedPart = new java.io.File(dir, "_ledger/mp_crashed")
    java.nio.file.Files.write(agedPart.toPath, "parts/b_crashed/x".getBytes)
    StoreDebris.age(agedPart)
    SnapshotStore.retire(spark, dir, keepGenerations = 1)
    val partDirs = new java.io.File(dir, "parts").listFiles().map(_.getName).toSet
    assert(partDirs.filter(_.startsWith("b_")) === Set("b_inflight"),
      s"the append superseded by the compaction must go at once: $partDirs")
    assert(fresh.exists() && freshPart.exists(),
      "a fresh unreferenced part may be a live writer's: it must survive")
    assert(!aged.exists() && !agedPart.exists(),
      "an aged unreferenced part is a crashed writer's: it must be swept")
    assert(rows(SnapshotStore.read(spark, dir)) ===
      (1L to 5L).map(i => (i, s"v$i")).toSet)
  }

  test("readFiles takes each store artifact's schema from one footer: " +
      "the inferred schema, and building the frame launches no job") {
    import graft.streaming.{CdcEvent, ChangeLogStream}
    import graft.text.{Bm25Index, CardStore, CorpusIncrement, LmStore}
    import graft.vector.{IndexStore, IvfAnn}
    val docs = Tables.load(spark, sfDir, "documents")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val half = pmod(col("doc_id"), lit(2))
    val bm25 = tmp("rf_bm25")
    Bm25Index.build(docs.filter(half === 0), col("doc_id"), col("text"), bm25,
      nBuckets = 4)
    Bm25Index.append(docs.filter(half === 1), col("doc_id"), col("text"), bm25)
    val index = tmp("rf_index")
    val emb = Tables.embeddings(spark, sfDir)
    val (assigned, cents) = IvfAnn.quantize(emb, nlist = 4)
    IndexStore.saveIvf(index, emb, assigned, cents)
    val cdc = tmp("rf_cdc")
    Seq(Seq(CdcEvent(1L, 1L, 10L, "U", "a"), CdcEvent(2L, 1L, 20L, "U", "b")),
        Seq(CdcEvent(2L, 5L, 21L, "D", "b"))).zipWithIndex.foreach { case (b, i) =>
      ChangeLogStream.materializeBatch(cdc, 3)(
        b.toDF().selectExpr("id", "ver1", "ver2", "op", "payload"), i.toLong)
    }
    val corpus = tmp("rf_corpus")
    CorpusIncrement.build(CorpusIncrementSpec.base.toDF("doc_id", "text", "lang", "source"),
      CorpusIncrementSpec.evalDocs.toDF("doc_id", "text", "lang", "source"), corpus,
      threshold = 0.4, maxDf = 3L, rates = CorpusIncrementSpec.rates, nBuckets = 4)
    val lm = tmp("rf_lm")
    val card = tmp("rf_card")
    Seq(0, 1).foreach { i =>
      LmStore.append(docs.filter(half === i), col("text"), lm)
      CardStore.append(docs.filter(half === i), col("doc_id"), col("text"),
        col("lang"), card)
    }
    LmStore.compact(spark, lm)
    for (dir <- Seq(bm25, index, cdc, corpus, lm, card)) {
      // one artifact: the lines under one part-dir kind (uid dropped)
      val kinds = SnapshotStore.currentFiles(spark, dir).groupBy(l =>
        l.split("/").take(2).mkString("/").replaceAll("_[^_/]*$", ""))
      assert(kinds.size >= 2 || dir == lm || dir == card, s"$dir: $kinds")
      for ((kind, ls) <- kinds) {
        val (df, jobs) = JobCount.during(spark)(SnapshotStore.readFiles(spark, dir, ls))
        assert(jobs == 0, s"$dir $kind")
        assert(df.schema == spark.read.parquet(ls.map(l => s"$dir/$l"): _*).schema,
          s"$dir $kind")
      }
    }
    for (dir <- Seq(lm, card)) {
      val (df, jobs) = JobCount.during(spark)(SnapshotStore.read(spark, dir))
      assert(jobs == 0, dir)
      assert(df.schema == spark.read.parquet(SnapshotStore.currentFiles(spark, dir)
        .map(l => s"$dir/$l"): _*).schema, dir)
    }
  }
}
