package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotStore

/** Concurrent writers on one store: the put-if-absent manifest commit
  * lands every concurrent append (the result equals the sequential
  * one), and a read-modify-write racing appends either commits or
  * throws `stale writer` — it never drops an appended row. */
class SnapshotStoreConcurrencySpec extends SparkSpec {
  import spark.implicits._

  /** Run `body(t)` on `n` threads released together; the errors. */
  private def race(n: Int)(body: Int => Unit): Seq[Throwable] = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (0 until n).map { t =>
      new Thread(() => {
        gate.await()
        try body(t) catch { case e: Throwable => errs.add(e); () }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    errs.toArray(Array.empty[Throwable]).toSeq
  }

  test("manifest grain: 8 threads x 20 appends of fresh files equal the " +
      "sequential result, in each of 20 repetitions") {
    val threads = 8
    val perThread = 20
    (1 to 20).foreach { rep =>
      val dir = java.nio.file.Files.createTempDirectory("snapcc_grain").toString
      def fresh(name: String): String = {
        val f = new java.io.File(dir, s"parts/$name/f.parquet")
        f.getParentFile.mkdirs()
        f.createNewFile()
        s"parts/$name/f.parquet"
      }
      SnapshotStore.publishAppend(spark, dir, Seq(fresh("base")))
      val files = (0 until threads).map(t =>
        (0 until perThread).map(i => fresh(s"t${t}_$i")))
      val errs = race(threads)(t =>
        files(t).foreach(f => SnapshotStore.publishAppend(spark, dir, Seq(f))))
      assert(errs.isEmpty, s"rep $rep: appends must all land: ${errs.headOption}")
      val head = SnapshotStore.currentFiles(spark, dir)
      assert(head.sorted === ("parts/base/f.parquet" +: files.flatten).sorted,
        s"rep $rep: the head must hold every append exactly once")
      assert(SnapshotStore.generations(spark, dir) ===
        (1L to threads * perThread + 1L),
        s"rep $rep: each append must commit its own generation")
    }
  }

  test("8 concurrent LmStore appends build the model bit-equal to the " +
      "sequential appends") {
    val docs = Tables.load(spark, sfDir, "documents")
    def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(8)) === i)
    def bits(m: graft.functions.BigramModel) =
      (m.codes.zip(m.lps.map(java.lang.Double.doubleToRawLongBits)).toMap,
        java.lang.Double.doubleToRawLongBits(m.unseenLp))
    val seq = java.nio.file.Files.createTempDirectory("lm_seq").toString
    (0 until 8).foreach(i => graft.text.LmStore.append(batch(i), col("text"), seq))
    val cc = java.nio.file.Files.createTempDirectory("lm_cc").toString
    val errs = race(8)(i => graft.text.LmStore.append(batch(i), col("text"), cc))
    assert(errs.isEmpty, s"concurrent appends must all land: ${errs.headOption}")
    assert(SnapshotStore.currentGen(spark, cc) === 8L)
    assert(bits(graft.text.LmStore.model(spark, cc)) ===
      bits(graft.text.LmStore.model(spark, seq)))
  }

  test("a compaction racing appends either commits or throws stale " +
      "writer, and every appended row is present afterwards") {
    val dir = java.nio.file.Files.createTempDirectory("snapcc_compact").toString
    SnapshotStore.append(Seq((0L, "v0")).toDF("id", "s"), dir)
    val appenders = 4
    val perThread = 3
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errs = race(appenders + 1) { t =>
      if (t == appenders) (1 to perThread).foreach { _ =>
        try { SnapshotStore.compact(spark, dir); outcomes.add("commit") }
        catch {
          case e: IllegalStateException if e.getMessage.contains("stale writer") =>
            outcomes.add("stale writer")
        }
        ()
      } else (0 until perThread).foreach { i =>
        val id = 1L + t * perThread + i
        SnapshotStore.append(Seq((id, s"v$id")).toDF("id", "s"), dir)
      }
    }
    assert(errs.isEmpty, s"no other failure is allowed: ${errs.headOption}")
    assert(outcomes.size === perThread)
    val want = (0L to appenders.toLong * perThread).map(i => (i, s"v$i")).toSet
    assert(SnapshotStore.read(spark, dir)
      .select(col("id").cast("long"), col("s")).as[(Long, String)]
      .collect().toSet === want)
    assert(SnapshotStore.read(spark, dir).count() === want.size.toLong,
      "no row may be duplicated")
  }
}
