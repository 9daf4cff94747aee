package graft

import java.io.File
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement harness every main (and the test suite) builds on:
  * one session shape, one warm-up, one noop-sink timing routine, and
  * the bench rotation derived from the newest BENCH artifact. */
object Harness {
  /** `local[cpus]` with one shuffle partition per core, no UI, UTC,
    * nanosecond timestamps read as longs, AQE on and graft's planner
    * extensions. `confs` are a caller's extra static settings. */
  def session(cpus: Int, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosConf._1, Tables.NanosConf._2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm JIT, codegen and the parquet footer caches so the first timed
    * query does not absorb one-time session costs. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.load(spark, sfDir, t).count())
    spark.range(1000000).selectExpr("sum(id)").collect()
    ()
  }

  /** Seconds to write `query` through the noop sink, or -1 after the
    * failure is reported on stderr. The noop sink consumes every output
    * column, so Catalyst cannot prune computed projections the way it
    * can under count(). The cache is cleared after the timed region:
    * operators persist reused subtrees, and each query must be timed
    * independently without memory pressure piling up. */
  def noopTime(spark: SparkSession, label: String)(query: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val ok =
      try { query.write.mode("overwrite").format("noop").save(); true }
      catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAILURE $label: $e")
          e.printStackTrace()
          false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    if (ok) dt else -1.0
  }

  /** Best of two [[noopTime]] samples (the first absorbs per-plan
    * codegen), or -1 when both fail. */
  def bestOf2(spark: SparkSession, label: String)(query: => DataFrame): Double = {
    val ok = Seq.fill(2)(noopTime(spark, label)(query)).filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** The rows every bench run times: the ten heaviest queries, whose
    * timings each round's optimization work is judged by. */
  val heavies: Set[String] = Set("q_nnd", "q_knn_ins", "q_interact",
    "q_semdedup", "q_corpus2", "q_corpus", "q_dedup_clusters", "q_rank",
    "q_icorpus", "q_bm25c")

  /** The `<prefix>_r<N>.json` artifacts in `dir`, oldest first. */
  def numbered(dir: File, prefix: String): Seq[File] = {
    val re = s"${prefix}_r(\\d+)\\.json".r
    Option(dir.listFiles()).toSeq.flatten
      .flatMap(f => f.getName match {
        case re(n) => Some(n.toInt -> f)
        case _ => None
      })
      .sortBy(_._1).map(_._2)
  }

  /** Every BENCH artifact in `dir`, oldest first, with the query map of
    * the bench JSON line in its stdout `tail` (the first complete
    * `"queries":{…}`; the tail's head may be cut mid-line). An artifact
    * holding no such line maps to no queries; one that does not parse
    * keeps its error. */
  def benchHistory(dir: File): Seq[(File, Try[Map[String, Double]])] = {
    val qRe = """"queries":\{([^}]*)\}""".r
    val kvRe = """"([A-Za-z0-9_]+)":(-?\d+(?:\.\d+)?)""".r
    numbered(dir, "BENCH").map { f =>
      f -> Try {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(f) \ "tail" match {
          case JString(s) => qRe.findFirstMatchIn(s).fold(Map.empty[String, Double]) { m =>
            kvRe.findAllMatchIn(m.group(1)).map(kv => kv.group(1) -> kv.group(2).toDouble).toMap
          }
          case _ => Map.empty[String, Double]
        }
      }
    }
  }

  /** The queries a bench run rests: the newest artifact's rows minus
    * the heavies. Everything the last round rested benches this round,
    * so any two consecutive BENCH artifacts cover the whole registry
    * while each line stays inside the 2000-character stdout tail that a
    * bench run is read from.
    * With no artifact nothing is rested; an unreadable newest artifact
    * is an error, since resting nothing would overflow that tail. */
  def rested(history: Seq[(File, Try[Map[String, Double]])]): Set[String] =
    history.lastOption.fold(Set.empty[String]) { case (f, queries) =>
      queries.fold(
        e => throw new IllegalStateException(
          s"cannot read the newest bench artifact ${f.getPath}: $e", e),
        _.keySet -- heavies)
    }
}
