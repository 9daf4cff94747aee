package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotStore

/** Vector-index persistence — the build-once/serve-forever contract a
  * billion-vector deployment actually runs: the expensive artifacts
  * (KMeans cells, PQ codebooks, encoded codes, K-NN graphs) are
  * written ONCE as parquet and every serving job loads them instead
  * of retraining (the in-session `quantizeCached`/`encodeCached`
  * caches only live as long as the session; this is the durable
  * form).
  *
  * Publication (r16 — consolidated onto the MVCC manifest, the
  * engine's ONE store protocol; the bare `mode("overwrite")` layout
  * is gone): each save publishes its logical tables as fresh
  * immutable part subtrees under ONE manifest generation, keeping
  * every other table's lines — so an IVF re-save and the PQ artifacts
  * coexist in one store, an in-flight serving job keeps reading its
  * exact generation while a rebuild publishes (the overwrite window
  * that could kill a live reader no longer exists), a torn save is
  * invisible unpublished debris [[retire]] sweeps, and a second
  * writer whose base was superseded fails fast at publish.
  *
  * Layout is the serving layout, not a dump: the vector table is
  * PARTITIONED BY CELL, so an nprobe-cell query's `cell IN (...)`
  * filter becomes partition pruning over the manifest-resolved file
  * set — a 4-of-1024-cell probe reads 0.4% of the corpus bytes (spec
  * pins PartitionFilters in the plan). Centroids and codebooks are
  * tiny side tables.
  */
object IndexStore {

  private def uid = java.util.UUID.randomUUID().toString.take(12)

  /** Publish `writes` (table name -> writer of a fresh absolute path)
    * as ONE generation: the named tables' prior lines are replaced,
    * every other table's ride through. */
  private def publishTables(spark: SparkSession, dir: String,
                            writes: Seq[(String, String => Unit)]): Unit = {
    val (base, lines) = SnapshotStore.snapshot(spark, dir)
    val names = writes.map(_._1)
    val keep = lines.filterNot(l =>
      names.exists(n => l.startsWith(s"parts/${n}_")))
    val added = writes.flatMap { case (name, w) =>
      val rel = s"parts/${name}_$uid"
      w(s"$dir/$rel")
      SnapshotStore.partFiles(spark, dir, rel)
    }
    SnapshotStore.publishNext(spark, dir, keep ++ added, base,
      s"save:${names.mkString("+")}")
    ()
  }

  /** The generation's committed lines: the head, or a pinned AS-OF
    * generation (r17 — a retired or never-committed one throws). */
  private def linesAt(spark: SparkSession, dir: String,
                      asOf: Option[Long]): Seq[String] =
    asOf.map(g => SnapshotStore.filesAsOf(spark, dir, g))
      .getOrElse(SnapshotStore.currentFiles(spark, dir))

  private def tableLines(spark: SparkSession, dir: String, name: String,
                         asOf: Option[Long] = None): Seq[String] = {
    val ls = linesAt(spark, dir, asOf)
      .filter(_.startsWith(s"parts/${name}_"))
    require(ls.nonEmpty, s"no $name table in the index store at $dir")
    ls
  }

  /** Manifest-resolved read of one unpartitioned side table. */
  private def readTable(spark: SparkSession, dir: String, name: String,
                        asOf: Option[Long] = None): DataFrame =
    SnapshotStore.readFiles(spark, dir, tableLines(spark, dir, name, asOf))

  /** Manifest-resolved read of a CELL-partitioned table: the part
    * subtree is the basePath, so `cell=N` directory values come back
    * as a partition column and cell filters prune the file set. */
  private def readTablePartitioned(spark: SparkSession, dir: String,
                                   name: String,
                                   asOf: Option[Long] = None): DataFrame = {
    val ls = tableLines(spark, dir, name, asOf)
    // a save replaces the whole table, so its lines share one subtree
    val base = ls.head.split("/").take(2).mkString("/")
    spark.read.option("basePath", s"$dir/$base")
      .parquet(ls.map(l => s"$dir/$l"): _*)
  }

  /** Persist an IVF index: per-cell vector partitions + centroids,
    * one generation. `corpus` must carry (vec_id, embedding);
    * `assigned`/`cents` are [[IvfAnn.quantize]] outputs. */
  def saveIvf(dir: String, corpus: DataFrame,
              assigned: DataFrame, cents: DataFrame): Unit =
    publishTables(corpus.sparkSession, dir, Seq(
      "vectors" -> (p => corpus.select(col("vec_id"), col("embedding"))
        .join(assigned, "vec_id")
        .write.partitionBy("cell").parquet(p)),
      "centroids" -> (p => cents.write.parquet(p))))

  /** Load an IVF index back as (assigned, cents, corpus) — drop-in for
    * [[IvfAnn.topKWith]]'s arguments. Both views read the ONE
    * partitioned vector table, pinned to the head generation for
    * their lifetime; a cell filter on either prunes partitions.
    * `asOf` (r17) pins a COMMITTED generation still inside
    * [[retire]]'s grace window instead — serve the PRE-rebuild index
    * for an A/B or a repro (a retired or never-committed generation
    * throws); vectors and centroids resolve from the SAME generation,
    * so the quantizer always matches its cells. */
  def loadIvf(spark: SparkSession, dir: String,
              asOf: Option[Long] = None): (DataFrame, DataFrame, DataFrame) = {
    val vectors = readTablePartitioned(spark, dir, "vectors", asOf)
    (vectors.select(col("vec_id"), col("cell")),
      readTable(spark, dir, "centroids", asOf),
      vectors.select(col("vec_id"), col("embedding")))
  }

  /** Load an IVF index EXTENDED by a streaming-append delta
    * ([[graft.streaming.VectorProbeStream.appendIvfStream]]'s output
    * at `deltaDir`): the same (assigned, cents, corpus) views over
    * base ∪ delta — drop-in for [[IvfAnn.topKWith]]. Both sides are
    * partitioned by cell, so an nprobe query's cell filter prunes
    * base and delta partitions alike; the centroids are the base's
    * (the delta was routed under the SAME frozen quantizer). */
  def loadIvfWithDelta(spark: SparkSession, dir: String,
                       deltaDir: String): (DataFrame, DataFrame, DataFrame) = {
    val base = readTablePartitioned(spark, dir, "vectors")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val delta = spark.read.parquet(deltaDir)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val vectors = base.union(delta)
    (vectors.select(col("vec_id"), col("cell")),
      readTable(spark, dir, "centroids"),
      vectors.select(col("vec_id"), col("embedding")))
  }

  /** Persist the PQ artifacts next to an IVF index (one generation;
    * the IVF tables' lines ride through): the [m][code] codebook
    * table and the per-vector codes. */
  def savePq(dir: String, codebook: DataFrame, encoded: DataFrame): Unit =
    publishTables(codebook.sparkSession, dir, Seq(
      "codebook" -> (p => codebook.write.parquet(p)),
      "codes" -> (p => encoded.write.parquet(p))))

  /** Load PQ artifacts: (codebook DF, encoded DF). Feed the codebook
    * through [[PqAnn.collectBook]] for the map-side literal form. */
  def loadPq(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (readTable(spark, dir, "codebook"), readTable(spark, dir, "codes"))

  /** Persist an [[NnDescent]] K-NN graph: (vec_id, rank, n_id, sim)
    * rows plus a one-row meta table pinning the build parameters, so
    * a loader can verify it got the graph it asked for. The graph is
    * the expensive batch artifact of the graph-ANN family — built
    * once, served forever, like the IVF cells and PQ codebooks. */
  def saveKnn(dir: String, graph: DataFrame, k: Int): Unit = {
    val spark = graph.sparkSession
    import spark.implicits._
    publishTables(spark, dir, Seq(
      "knn" -> (p => graph.write.parquet(p)),
      "knnmeta" -> (p => Seq(k).toDF("k").write.parquet(p))))
  }

  /** Load a K-NN graph and its k, failing fast on a malformed meta
    * (the IncrementalMinHash loadIndex contract). `asOf` (r17) pins a
    * COMMITTED generation inside the grace window — the pre-rebuild
    * graph with ITS build parameters, since meta rides the same
    * generation. */
  def loadKnn(spark: SparkSession, dir: String,
              asOf: Option[Long] = None): (DataFrame, Int) = {
    val meta = readTable(spark, dir, "knnmeta", asOf).collect()
    require(meta.length == 1, s"knn meta at $dir has ${meta.length} rows, expected 1")
    (readTable(spark, dir, "knn", asOf), meta(0).getAs[Int]("k"))
  }

  /** Reclaim superseded saves past the grace window (plus torn saves'
    * debris) — size the window to the longest-running serving job. */
  def retire(spark: SparkSession, dir: String,
             keepGenerations: Int = 2): Unit =
    SnapshotStore.retire(spark, dir, keepGenerations)
}
