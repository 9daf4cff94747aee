package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

/** The measurement harness: the bench rotation derived from the BENCH
  * artifacts, the noop timing routine's failure and cache contract, and
  * exact listener counts through the bus drain. */
class HarnessSpec extends SparkSpec {
  private val registry = SparkEntry.queries.keySet

  /** The bench history of a directory holding just these artifacts. */
  private def historyOf(files: (String, String)*) = {
    val dir = Files.createTempDirectory("harness")
    val copies = files.map { case (name, from) =>
      Files.copy(Paths.get(from), dir.resolve(name))
    }
    try Harness.benchHistory(dir.toFile)
    finally { copies.foreach(Files.delete); Files.delete(dir) }
  }
  private def committed(names: String*) = historyOf(names.map(n => n -> n): _*)
  private def rows(name: String) = committed(name).head._2.get.keySet

  test("rotation: BENCH_r17 rests exactly the rows BENCH_r18 did not measure") {
    // the _c8 artifact and an older round must not change the choice
    val rested = Harness.rested(
      committed("BENCH_r09.json", "BENCH_r17.json", "BENCH_r18_c8.json"))
    assert(rested === registry -- rows("BENCH_r18.json"))
    assert(rested.size === 83)
  }

  test("rotation: the run after BENCH_r18 completes the registry and benches every heavy") {
    val benched = registry -- Harness.rested(committed("BENCH_r18.json"))
    assert(benched.size === 93)
    assert((benched ++ rows("BENCH_r18.json")) === registry)
    assert(Harness.heavies.subsetOf(benched))
  }

  test("rotation: nothing is rested without a query map; an unreadable newest artifact stops the run") {
    assert(Harness.rested(committed()) === Set.empty)
    assert(Harness.rested(committed("BENCH_r02.json")) === Set.empty)
    val bad = Files.createTempFile("bench", ".json")
    Files.writeString(bad, "{\"tail\": ")
    val history =
      try historyOf("BENCH_r17.json" -> "BENCH_r17.json", "BENCH_r99.json" -> bad.toString)
      finally Files.delete(bad)
    assert(history.head._2.isSuccess && history.last._2.isFailure)
    val e = intercept[IllegalStateException](Harness.rested(history))
    assert(e.getMessage.contains("BENCH_r99.json"))
  }

  test("a failing query times as -1 and the next call times normally") {
    assert(Harness.noopTime(spark, "throws")(throw new RuntimeException("planted")) === -1.0)
    assert(Harness.bestOf2(spark, "raises")(
      spark.range(3).selectExpr("raise_error('planted')")) === -1.0)
    assert(Harness.noopTime(spark, "ok")(spark.range(1000).toDF()) >= 0.0)
    // best-of-2 keeps the sample that succeeded
    var calls = 0
    val t = Harness.bestOf2(spark, "flaky") {
      calls += 1
      if (calls == 1) throw new RuntimeException("planted")
      spark.range(1000).toDF()
    }
    assert(calls === 2 && t >= 0.0)
  }

  test("a timed call leaves no persisted RDD behind, failed or not") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    Seq(false, true, false).foreach { fail =>
      var own = Set.empty[Int]
      val t = Harness.noopTime(spark, "persists") {
        val d = spark.range(100).toDF("id").persist()
        d.count()
        own = persisted.toSet -- before
        if (fail) d.selectExpr("raise_error('planted')") else d.selectExpr("id * 2")
      }
      assert((t < 0) === fail)
      assert(own.nonEmpty)
      assert(persisted.subsetOf(before), s"left behind: ${persisted -- before}")
    }
  }

  test("with the listener bus drained, a query's job count repeats exactly") {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val counts = (1 to 10).map { _ =>
        GraftBridge.drainListeners(spark)
        jobs.set(0)
        assert(Harness.noopTime(spark, "q_qc_track_hist")(
          SparkEntry.queries("q_qc_track_hist")(spark, sfDir)) >= 0.0)
        GraftBridge.drainListeners(spark)
        jobs.get
      }
      assert(counts.head > 0 && counts.distinct.size === 1, counts)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
