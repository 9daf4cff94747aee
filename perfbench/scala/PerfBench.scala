package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Calibration, Pipeline, Tables}
import graft.functions.Numeric.cround
import graft.operators.{LapLink, Movement, Quality, TimeSeries, TrackAssignment}
import graft.sources.Ingest
import graft.text.Bm25Index
import graft.vector.{GraphSearch, NnDescent}
import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The JVM half of the benchmark: one Spark session shape, one closed
  * loop (a single client; the next run starts when the previous one
  * ends), timing every call into the library from outside it.
  *
  * Usage: PerfBench <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cpus> [key=value...]
  * (keys: features_rows, appends, buckets, insert_every — generator
  * parameters the runs need)
  *
  * Writes `<workDir>/jvm.json` (timings, box-speed witness, traced
  * per-layer counts) and every run's outputs as parquet under
  * `<workDir>/runs/`, which `run.py` hashes and checks. */
object PerfBench {
  // One warm-up run, then at least one timed run: the benchmark's time
  // budget pays for about three runs per invocation (see WORKLOADS.md).
  val MinRuns = 1

  /** Per-run context: spans and materialisation when traced, plain
    * calls otherwise; per-call wall times are recorded either way. */
  final class Ctx(val spark: SparkSession, val tracer: Option[Tracer],
                  val runDir: String, witness: Option[() => Double] = None) {
    val calls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    /** Seconds of each witness job run after the calls (timed runs only). */
    val boxJobs = mutable.ArrayBuffer[Double]()
    val extras = mutable.LinkedHashMap[String, Double]()
    private val kept = mutable.ArrayBuffer[DataFrame]()
    /** Row count of the last intermediate `keep` computed. */
    var lastCount = 0L

    def call[T](layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer match {
        case Some(t) => t.span(layer)(body)
        case None => body
      }
      calls.getOrElseUpdate(layer, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
      witness.foreach(job => (1 to 3).foreach(_ => boxJobs += job()))
      r
    }
    def traced: Boolean = tracer.isDefined
    /** Rows into and out of a QC filter call, summed over the run. */
    def filtered(in: Long, out: Long): Unit = {
      extras("filter_rows_in") = extras.getOrElse("filter_rows_in", 0.0) + in
      extras("filter_rows_out") = extras.getOrElse("filter_rows_out", 0.0) + out
    }
    /** A traced run materialises each lazy layer's output inside the
      * layer's span, so the next layer starts from computed input. */
    def mat(df: DataFrame): DataFrame =
      if (traced) keep(df) else df
    /** An intermediate several later steps read: persisted and
      * computed once, as a user of the library would. */
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += p
      lastCount = p.count()
      p
    }
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$runDir/$name")
    def release(): Unit = {
      kept.foreach(_.unpersist(blocking = true))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  trait Workload {
    def run(ctx: Ctx): Unit
    /** Once per invocation, outside the timed runs: outputs the
      * reference checks compare against. */
    def oracleOutputs(spark: SparkSession, outDir: String): Unit = ()
  }

  // ---------------------------------------------------------------- workloads

  /** Several workloads run back to back as one. */
  final class Composite(parts: Seq[Workload]) extends Workload {
    def run(ctx: Ctx): Unit = parts.foreach(_.run(ctx))
    override def oracleOutputs(spark: SparkSession, outDir: String): Unit =
      parts.foreach(_.oracleOutputs(spark, outDir))
  }

  final class Features(spark: SparkSession, data: String, inputRows: Long)
      extends Workload {
    def run(ctx: Ctx): Unit = {
      val ev = Tables.events(spark, data)
      if (!ctx.traced) {
        ctx.call("Pipeline.full")(ctx.write(Pipeline.full(ev), "features"))
        return
      }
      // staged: each layer of Pipeline.full on its own, materialised
      val f = ctx.call("operators.Quality.filterSizeAndObservations")(ctx.mat(
        Quality.filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L)))
      ctx.filtered(inputRows, ctx.lastCount)
      val typed = ctx.call("sources.Ingest.eventsTyped")(ctx.mat(
        Ingest.eventsTyped(f).withColumn("ts_s", unix_timestamp(col("ts")))
          .withColumn("x", col("value"))))
      val moved = ctx.call("operators.Movement.features")(ctx.mat(
        Movement.features(typed, "user_id", col("event_id"), col("ts_s"),
          col("x"), col("y"))))
      val elev = ctx.call("operators.TimeSeries.elevation")(ctx.mat(
        TimeSeries.elevation(typed, "user_id", col("event_id"), col("value"))
          .select(col("user_id"), col("ascent"), col("descent"), col("range_v"))))
      val wave = ctx.call("operators.TimeSeries.haarEnergies")(ctx.mat(
        TimeSeries.haarEnergies(typed, "user_id", col("event_id"), col("value"))
          .select(col("user_id"), col("l1_energy"), col("l2_energy"))))
      ctx.call("Pipeline.staged_join") {
        val summary = moved.groupBy(col("user_id")).agg(
          count(lit(1)).as("n_obs"),
          cround(max(col("trac")), 4).as("total_path"),
          cround(max(col("dis")), 4).as("max_displacement"))
        ctx.write(summary.join(elev, "user_id").join(wave, "user_id"),
          "features_staged")
      }
      ctx.release()
      // fused: the whole chain as one plan
      ctx.call("Pipeline.full")(ctx.write(Pipeline.full(ev), "features"))
    }
  }

  final class Tracking(spark: SparkSession, data: String) extends Workload {
    private val video = (id: Long) => id / 10000000L
    private def spots(ctx: Ctx): DataFrame = ctx.call("sources.Ingest.eventsTyped")(ctx.keep(
      Ingest.eventsTyped(Tables.events(spark, data)).select(
        (col("user_id") * 10000000L + col("event_id")).as("id"),
        (col("user_id") * 1000000L + expr("unix_timestamp(ts) div 86400")).as("frame"),
        col("value").as("x"), col("y"), col("area"), col("user_id").as("video"))))
    private def labels(ctx: Ctx, sp: DataFrame): DataFrame =
      ctx.call("operators.TrackAssignment.nearestTracksByVideo")(ctx.keep(
        TrackAssignment.nearestTracksByVideo(sp, maxDist = 50.0, gapFrames = 2, video)))

    def run(ctx: Ctx): Unit = {
      val sp = spots(ctx)
      val lb = labels(ctx, sp)
      val nLabels = ctx.lastCount
      ctx.call("operators.LapLink.gapClose")(ctx.write(
        LapLink.gapClose(sp, lb, col("id"), col("frame"), col("x"), col("y"),
          maxDist = 50.0, maxGap = 3, video), "gaps"))
      val labeled = sp.join(lb, "id")
      val kept = ctx.call("operators.Quality.filterSizeAndObservations")(ctx.keep(
        Quality.filterSizeAndObservations(labeled, "track_id", col("area"), 10.0, 12L)))
      ctx.filtered(nLabels, ctx.lastCount)
      ctx.call("operators.Quality.trackLengthHistogram")(ctx.write(
        Quality.trackLengthHistogram(labeled, kept, "track_id"), "track_lengths"))
      ctx.call("operators.Quality.duplicates")(ctx.write(
        Quality.duplicates(kept, "track_id", col("frame")), "duplicates"))
      ctx.call("operators.Quality.cellsPerFrame")(ctx.write(
        Quality.cellsPerFrame(kept, col("video"), col("frame")), "cells_per_frame"))
      ctx.release()
    }

    override def oracleOutputs(spark: SparkSession, outDir: String): Unit = {
      val ctx = new Ctx(spark, None, outDir)
      ctx.write(labels(ctx, spots(ctx)), "link_track")
      ctx.release()
    }
  }

  final class Store(spark: SparkSession, data: String, work: String,
                    appends: Int, nBuckets: Int) extends Workload {
    private val docs = Tables.documents(spark, data)
    private val queries: Seq[(Int, String)] =
      spark.read.parquet(s"$data/queries.parquet").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
    private var dir: String = ""

    def run(ctx: Ctx): Unit = {
      // one store per run; the previous run's is removed first
      rmTree(new File(s"$work/store"))
      dir = s"$work/store/" + new File(ctx.runDir).getName
      // batch j of the arrivals: doc_id % (5 * appends) == 5 * j
      val m = 5 * appends
      ctx.call("text.Bm25Index.build")(Bm25Index.build(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), col("doc_id"), col("text"), dir,
        nBuckets = nBuckets))
      (0 until appends).foreach { j =>
        val before = du(dir)
        ctx.call("text.Bm25Index.append")(Bm25Index.append(
          docs.filter(pmod(col("doc_id"), lit(m)) === 5 * j),
          col("doc_id"), col("text"), dir))
        ctx.extras("written_mb") = ctx.extras.getOrElse("written_mb", 0.0) +
          (du(dir) - before) / 1e6
      }
      val before = du(dir)
      ctx.call("text.Bm25Index.compact")(Bm25Index.compact(spark, dir))
      ctx.extras("rewritten_mb") = (du(dir) - before) / 1e6
      ctx.call("text.Bm25Index.retire")(Bm25Index.retire(spark, dir))
      ctx.extras("store_bytes") = du(dir).toDouble
      val served = mutable.ArrayBuffer[Row]()
      queries.foreach { q =>
        served ++= ctx.call("text.Bm25Index.topK")(Bm25Index.topK(spark, dir, Seq(q)).collect())
      }
      ctx.write(rowsDf(spark, served.toSeq), "serve")
    }

    override def oracleOutputs(spark: SparkSession, outDir: String): Unit =
      Bm25Index.topK(spark, dir,
        Seq(1 -> "hash join", 2 -> "window agg", 3 -> "customer table scan"))
        .write.mode("overwrite").parquet(s"$outDir/bm25c")
  }

  final class Knn(spark: SparkSession, data: String, every: Int) extends Workload {
    private val emb = Tables.embeddings(spark, data)
    private val qs = spark.read.parquet(s"$data/queries.parquet")

    def run(ctx: Ctx): Unit = {
      val base = emb.filter(pmod(col("vec_id"), lit(every)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(every)) === 0)
      // a fixed round count (no early stop), so every seed does the same
      // amount of descent work
      val g = ctx.call("vector.NnDescent.build")(ctx.keep(
        NnDescent.build(base, k = 10, maxRounds = 2, convergedFrac = 0.0)))
      val g2 = ctx.call("vector.NnDescent.insert")(ctx.keep(
        NnDescent.insert(g, base, batch, k = 10, beam = 30)))
      val found = ctx.call("vector.GraphSearch.topK") {
        if (ctx.traced) {
          val (df, hops) = GraphSearch.topKWithHops(g2, emb, qs, k = 10, beam = 30)
          ctx.extras("hops") = hops.toDouble
          df.collect()
        } else GraphSearch.topK(g2, emb, qs, k = 10, beam = 30).collect()
      }
      ctx.write(g2, "graph")
      ctx.write(rowsDf(spark, found.toSeq), "search")
      ctx.release()
    }
  }

  // ------------------------------------------------------------------ helpers

  /** Collected result rows back as a DataFrame, for the output hash. */
  def rowsDf(spark: SparkSession, rows: Seq[Row]): DataFrame = {
    require(rows.nonEmpty, "a serving call returned no rows")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  def du(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
    else f.length()
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  /** Seconds one job of a fixed Spark-core kernel takes: hash a small
    * range and shuffle it by key, through the RDD API so no library code
    * or SQL rule is on its path. Like the workloads it is mostly job
    * launch, task scheduling and a shuffle, and it is small enough that
    * its speed does not hinge on JIT state. A timed run runs three after
    * every call, so the jobs sample how fast the shared box is while the
    * run executes. */
  def boxJob(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.range(0L, 200000L, 1L, cpus)
      .map(x => (x & 255L, java.lang.Long.rotateLeft(x * 0x9E3779B97F4A7C15L, 31)))
      .reduceByKey(_ ^ _, cpus)
      .count()
    (System.nanoTime() - t0) / 1e9
  }


  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf._1, Tables.NanosConf._2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def json(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + k + "\": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case o => json(o.toString)
  }

  // --------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, secondsArg, traceArg, cpusArg) = args.take(6)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val param = args.drop(6).map(_.split("=", 2)).map(kv => kv(0) -> kv(1).toLong).toMap
    val runs = s"$work/runs"
    new File(runs).mkdirs()

    def make(spark: SparkSession): Workload = name match {
      case "cellphe" => new Composite(Seq(
        new Tracking(spark, s"$data/cellphe_tracking"),
        new Features(spark, s"$data/cellphe_features", param("features_rows"))))
      case "index_lifecycle" => new Composite(Seq(
        new Store(spark, s"$data/store_lifecycle", work,
          param("appends").toInt, param("buckets").toInt),
        new Knn(spark, s"$data/knn_graph", param("insert_every").toInt)))
    }

    val errors = mutable.ArrayBuffer[String]()
    val runRecords = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    def once(w: Workload, spark: SparkSession, tag: String,
             tracer: Option[Tracer] = None,
             witness: Option[() => Double] = None): Option[Ctx] = {
      val ctx = new Ctx(spark, tracer, s"$runs/$tag", witness)
      val t0 = System.nanoTime()
      val ok = try { w.run(ctx); true } catch {
        case e: Throwable =>
          errors += s"$tag: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          false
      }
      // the witness jobs are not part of the run
      val wall = (System.nanoTime() - t0) / 1e9 - ctx.boxJobs.sum
      runRecords += mutable.LinkedHashMap("tag" -> tag, "ok" -> ok, "wall_s" -> wall,
        "box_jobs_s" -> ctx.boxJobs,
        "calls" -> ctx.calls, "extras" -> ctx.extras)
      if (ok) Some(ctx) else None
    }

    // set-up: session start to the end of the warm-up run
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val w = make(spark)
    once(w, spark, "warm1")
    val setup = (System.nanoTime() - t0) / 1e9
    (1 to 10).foreach(_ => boxJob(spark, cpus)) // compiles the witness kernel, untimed

    // graft.Calibration readings around the timed runs, a box-load record
    // (not a metric); ~10 s of CPU at 4 cores each, so only traced
    // invocations take them
    def calibration(): Double = if (trace) Calibration.timed(spark, cpus) else Double.NaN
    val calBefore = calibration()
    val timed = mutable.ArrayBuffer[Double]()
    val loop0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loop0) / 1e9 < seconds || i < MinRuns) {
      i += 1
      val before = runRecords.length
      once(w, spark, s"r$i", witness = Some(() => boxJob(spark, cpus)))
      timed += runRecords(before)("wall_s").asInstanceOf[Double]
    }
    val calAfter = calibration()
    val rss = peakRssMb()

    val oracleDir = s"$work/oracle"
    try w.oracleOutputs(spark, oracleDir) catch {
      case e: Throwable => errors += s"oracle outputs: ${e.getMessage}"
    }
    val oracleSql = Seq("q_pipeline_e2e", "q_link_track", "q_bm25c")
      .map(q => q -> graft.SparkEntry.oracleSql(q)).toMap

    val traced = mutable.LinkedHashMap[String, Any]()
    if (trace) {
      val tracer = new Tracer(spark.sparkContext, runId = i + 1)
      spark.sparkContext.addSparkListener(tracer)
      val t0 = System.nanoTime()
      val ctx = tracer.span(s"$name.run")(once(w, spark, "traced", Some(tracer)))
      val tracedS = (System.nanoTime() - t0) / 1e9
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      val (layers, failedTasks) = tracer.layers()
      traced ++= Seq(
        "run_s" -> tracedS,
        "layers" -> layers.map { case (k, a) => k -> a.toSeq },
        "failed_tasks" -> failedTasks,
        "total_task_s" -> tracer.totalTaskMs / 1e3,
        "extras" -> ctx.map(_.extras).getOrElse(Map.empty))
      Files.writeString(Paths.get(s"$work/spans.json"), tracer.spansJson())
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "cpus" -> cpus,
      "setup_s" -> setup, "run_s" -> timed,
      "cal_before_s" -> calBefore, "cal_after_s" -> calAfter,
      "peak_rss_mb" -> rss, "runs" -> runRecords, "errors" -> errors,
      "oracle_sql" -> oracleSql, "traced" -> traced)
    Files.writeString(Paths.get(s"$work/jvm.json"), json(out))
    spark.stop()
  }
}
