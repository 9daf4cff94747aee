package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.Postings
import graft.operators.{ConnectedComponents, Rounds}

/** INCREMENTAL end-to-end corpus build — the composition the r11
  * incremental pieces exist for: [[CorpusBuild.run]] re-reads and
  * re-shuffles the whole corpus per run; this operator runs the SAME
  * 31g chain (quality gate → exact dedup → near-dup cluster keep →
  * decontamination → stratified sampling) on a new crawl batch against
  * PERSISTED artifacts, so a day's increment never re-tokenizes or
  * re-shuffles yesterday's corpus — and still returns a corpus output
  * HASH-IDENTICAL to a full rebuild over base ∪ batch (q_icorpus
  * reuses q_corpus's DuckDB oracle verbatim; CorpusIncrementSpec
  * plants one casualty per stage in the batch, including the
  * df-band-crossing cases where a batch doc retroactively changes
  * BASE-vs-BASE pair evidence).
  *
  * PUBLICATION (r15): the whole artifact set rides ONE versioned
  * manifest ([[graft.sources.SnapshotStore]]'s bucket-grain
  * primitives) — every write lands as a fresh immutable part subtree,
  * and a build/increment/compaction publishes ONE manifest generation
  * spanning all eight artifact dirs (one manifest commit). That
  * subsumes both of the previous protocols at once: the rollback
  * journal (a kill between ANY two dir writes just leaves unpublished
  * debris — readers resolve the prior generation with no recovery
  * step, CorpusIncrementStreamSpec's pin) and the pairs/labels
  * `v=K` version-pair lockstep (the old torn-version fail-fast is
  * structurally unreachable: both artifacts change in the same
  * generation or neither). Readers are SNAPSHOT-ISOLATED: a query
  * resolves the head once and keeps its exact file set across
  * concurrent maintenance; superseded and orphaned files are
  * reclaimed by [[compact]]'s file-grain retirement behind a
  * generation grace window.
  *
  * Artifacts under `dir` (each part subtree immutable once written):
  *  - `hidx/`   (h = xxhash64(text), doc_id): exact-dedup index, one
  *    row per distinct surviving text (22a's artifact);
  *  - `post/`   (shingle, doc_id) for every exact-dedup survivor,
  *    partitioned by shingle-hash bucket, plus the DUAL doc-bucketed
  *    copy `postd/` — shingle-keyed and doc-keyed probes each prune
  *    statically, at 2x linear storage (the dual-index trade); under
  *    the manifest the prune selects manifest LINES by bucket, which
  *    is also what lets compaction supersede one bucket's files while
  *    every other line rides through;
  *  - `df/`     additive (shingle, df) parts — document frequency is a
  *    SUM over parts, so an append never rewrites old rows (the
  *    LSM/delta pattern; merge at read is an increment-grain groupBy);
  *  - `exdocs/` (doc_id, lang, source, dflag): per-doc INTRINSIC facts
  *    — decon flags are computed for every survivor at ingest (they
  *    depend only on doc text vs the fixed eval set), so a doc that
  *    resurrects when a cluster splits needs no text rescan;
  *  - `evalsh/` the eval suite's distinct decon n-grams (fixed size);
  *  - `pairs/`, `labels/` the near-dup pair graph and its components —
  *    the two artifacts whose contents an increment REPLACES (pair
  *    evidence can be retracted, see below), both sparse (dup
  *    evidence, not corpus) so the rewrite is cheap. Each replacement
  *    is a fresh part subtree whose lines supersede the old ones in
  *    the SAME generation as every other artifact's append;
  *  - `meta/`   params + the running max doc id (layout truth read
  *    back at increment time, the Bm25Index lesson).
  *
  * Ordering contract (fail-fast enforced): batch doc ids strictly
  * exceed all indexed ids. Exact dedup keeps the MIN id per text, so
  * ids-grow-with-time makes "first seen wins" and full-rebuild min-id
  * agree — without it an increment could not match a rebuild without
  * retracting already-published base docs at the exact stage too.
  *
  * WHY the near-dup stage needs more than "probe the index": pair
  * evidence is df-capped Jaccard (intersections count only shingles
  * with df in [2, maxDf] over the CURRENT corpus), so a batch can
  * change base-vs-base evidence — a shingle pushed past maxDf removes
  * intersections (a base pair can die and its cluster SPLIT,
  * resurrecting a suppressed doc). The increment is still exact:
  *  1. classify every batch-present shingle by old/new band status.
  *     Only band-CROSSING shingles can change base-vs-base evidence
  *     (a doc's shingle set never changes, so a stays-in-band
  *     shingle's contribution to any base-base intersection is
  *     fixed); their postings docs plus the batch form the
  *     full-recompute set C — increment-grain even on
  *     vocabulary-dense corpora, because the common stays-in case
  *     never drags base docs into C;
  *  2. recompute pairs WITHIN C exactly (complete postings + true
  *     new-state bands), and generate the only other pairs that can
  *     exist — NEW (base ∉ C) × batch pairs — by a per-shingle cross
  *     expansion over batch-present in-band shingles (every shared
  *     in-band shingle of such a pair is batch-present, so the
  *     expansion counts the exact intersection; set sizes are per-doc
  *     intrinsics from `exdocs/`). Any pair with at most one endpoint
  *     in C and no batch endpoint is provably unchanged (a changed
  *     shared shingle would have put both endpoints in C) and rides
  *     through from `pairs/`;
  *  3. re-solve components only for old components touching C or a
  *     new pair's endpoints (splits AND merges handled, because the
  *     subgraph is re-solved from its final edge set, not patched).
  *
  * Scale shape: no corpus-scale SHUFFLE anywhere on the increment
  * path. The corpus-scale artifacts are touched by broadcast-filtered
  * map-side reads only (hidx once, post/df by shingle-bucket prunes,
  * the affected-doc postings by a doc-bucket prune of postd/, exdocs
  * once — the last is output-grain and inherent: the result IS the
  * whole corpus sample); every such read statically prunes to the
  * probe set's buckets (driver-collected bucket ids, the 30l3
  * pattern, served from manifest lines without listing a single
  * untouched bucket). Every exchange is increment-grain.
  * Bounded-batch contract as for 23e: a batch of corpus magnitude is
  * a rebuild, not an increment. The one assembly join (labels onto
  * exdocs) is dup-evidence-sized on the build side; at corpus scale
  * pre-bucket both on doc_id (7f) to avoid the exchange.
  */
object CorpusIncrement {

  private val lvl = StorageLevel.MEMORY_AND_DISK

  private case class Meta(k: Int, threshold: Double, maxDf: Long,
                          deconN: Int, nBuckets: Int,
                          rates: Map[String, Double], defaultRate: Double,
                          maxDocId: Long)

  // ---- manifest plumbing ---------------------------------------------

  private val BucketRe = "/bucket=(\\d+)/".r
  private def bucketLine(line: String): Option[Int] =
    BucketRe.findFirstMatchIn(line).map(_.group(1).toInt)

  /** One operation's view of the store: the committed manifest lines
    * resolved ONCE, plus the parts this operation has written so far
    * (an increment reads the df/post parts it just appended — the
    * band analysis needs the NEW state), minus lines it supersedes
    * (pairs/labels replacements, compaction folds). [[publish]]
    * commits the whole view as the generation after the one it read —
    * one manifest across all eight artifact dirs. */
  private final class Store(val spark: SparkSession, val dir: String,
                            rebuild: Boolean = false,
                            mutating: Boolean = false,
                            asOf: Long = -1L) {
    require(asOf < 0 || !mutating,
      s"an AS-OF view is read-only — cannot mutate $dir at generation $asOf")
    // the generation the base lines were read from: a writer that
    // commits after it makes OUR publish throw instead of dropping
    // its lines
    private val (baseGen, base): (Long, Seq[String]) =
      if (rebuild) (graft.sources.SnapshotStore.currentGen(spark, dir), Nil)
      else if (asOf > 0)
        (asOf, graft.sources.SnapshotStore.filesAsOf(spark, dir, asOf))
      else graft.sources.SnapshotStore.snapshot(spark, dir)
    private val pending = scala.collection.mutable.ArrayBuffer.empty[String]
    private val dropped = scala.collection.mutable.Set.empty[String]

    /** The session [[table]] plans on — the increment points it at
      * its narrowed CLONE for the batch-grain middle phase and back
      * at the caller's session for the returned assembly. */
    private var cur: SparkSession = spark
    def useSession(s: SparkSession): Unit = { cur = s }

    def lines: Seq[String] = base.filterNot(dropped) ++ pending
    def linesOf(name: String): Seq[String] =
      lines.filter(_.startsWith(name + "/"))

    /** A fresh immutable part path for `name` (never collides — every
      * write of every attempt gets its own subtree). */
    def fresh(name: String): String =
      s"$name/p_${java.util.UUID.randomUUID().toString.take(12)}"

    /** Register a just-written part's files as pending lines. NOT
      * thread-safe — concurrent write groups register after joining. */
    def register(rel: String): Unit = {
      pending ++= graft.sources.SnapshotStore.partFiles(spark, dir, rel)
      ()
    }

    /** Supersede an artifact's COMMITTED lines (pending ones stay). */
    def drop(name: String): Unit = {
      dropped ++= base.filter(_.startsWith(name + "/"))
      ()
    }

    def dropLines(ls: Seq[String]): Unit = { dropped ++= ls; () }

    def table(name: String): DataFrame = {
      val ls = linesOf(name)
      require(ls.nonEmpty, s"no $name artifact under $dir")
      graft.sources.SnapshotStore.readFiles(cur, dir, ls)
    }

    /** The artifact restricted to `bks` buckets — a pure manifest-line
      * selection (the static prune). An empty selection serves the
      * empty frame in the artifact's schema (one footer read). */
    def tableBuckets(name: String, bks: Seq[Int]): DataFrame = {
      val want = bks.toSet
      val ls = linesOf(name).filter(l => bucketLine(l).exists(want))
      if (ls.nonEmpty) graft.sources.SnapshotStore.readFiles(cur, dir, ls)
      else table(name).limit(0)
    }

    def publish(op: String = "publish"): Unit = {
      require(mutating, s"read-only store view cannot publish at $dir")
      graft.sources.SnapshotStore.publishNext(spark, dir, lines, baseGen, op)
      ()
    }
  }

  /** Manifest-resolved read of one artifact (the spec/ops surface —
    * a raw `spark.read.parquet(dir/name)` would also see superseded
    * and unpublished files). */
  def artifact(spark: SparkSession, dir: String, name: String): DataFrame =
    new Store(spark, dir).table(name)

  /** The store's committed max doc id — the streaming wrapper's
    * already-applied probe (a batch whose ids are all <= this was
    * published by a run that died before its marker). */
  def maxDocId(spark: SparkSession, dir: String): Long =
    readMeta(new Store(spark, dir)).maxDocId

  private def readMeta(st: Store): Meta = {
    val rows = st.table("meta").collect()
    require(rows.nonEmpty, s"no meta under ${st.dir}")
    val ps = rows.map { r =>
      (r.getInt(r.fieldIndex("shingle_k")), r.getDouble(r.fieldIndex("threshold")),
        r.getLong(r.fieldIndex("max_df")), r.getInt(r.fieldIndex("decon_n")),
        r.getInt(r.fieldIndex("n_buckets")),
        r.getSeq[String](r.fieldIndex("rate_grps")),
        r.getSeq[Double](r.fieldIndex("rate_bps")),
        r.getDouble(r.fieldIndex("default_rate")))
    }.distinct
    require(ps.length == 1, s"inconsistent meta under ${st.dir}")
    val p = ps.head
    Meta(p._1, p._2, p._3, p._4, p._5, p._6.zip(p._7).toMap, p._8,
      rows.map(_.getLong(rows.head.fieldIndex("max_doc_id"))).max)
  }

  /** The one-row meta frame (driver-held values). */
  private def metaRow(st: Store, m: Meta): DataFrame = {
    import st.spark.implicits._
    val (grps, rs) = m.rates.toSeq.sortBy(_._1).unzip
    Seq((m.k, m.threshold, m.maxDf, m.deconN, m.nBuckets, grps, rs,
        m.defaultRate, m.maxDocId))
      .toDF("shingle_k", "threshold", "max_df", "decon_n", "n_buckets",
        "rate_grps", "rate_bps", "default_rate", "max_doc_id")
  }

  /** One meta row as a fresh part (the manifest supersedes/extends —
    * no overwrite mode exists in this store). */
  private def writeMeta(st: Store, m: Meta): Unit = {
    val rel = st.fresh("meta")
    metaRow(st, m).coalesce(1).write.parquet(s"${st.dir}/$rel")
    st.register(rel)
  }

  /** Run independent driver actions as CONCURRENT Spark jobs (one
    * thread each; Spark's scheduler interleaves them across the same
    * executors), awaiting all and rethrowing the first failure. The
    * increment's cost at increment grain is dominated by sequential
    * JOB LAUNCHES, not data — batching the independent artifact
    * appends into concurrent groups cuts the barrier count, which is
    * the fixed overhead the SCALING ratios showed. */
  private def inParallel(actions: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = actions.map(a => new Thread(() =>
      try a() catch { case t: Throwable => errs.add(t); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  private def bucketed(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("bucket",
      pmod(xxhash64(col("shingle")), lit(nBuckets)).cast("int"))

  /** Collect `df` into a LOCAL relation with the same schema (r16 —
    * the splice-launch fusion): every caller previously BROADCAST the
    * frame, which already materializes it on the driver, so the
    * explicit collect is memory-neutral — but a LocalTableScan feeds
    * downstream broadcast joins with ZERO exchange sub-jobs, where
    * each broadcast of a distributed frame launched one per consumer.
    * Increment-grain frames only (C docs, crossed shingles, touched
    * components). */
  private def localized(sx: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    sx.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  private def docBucketed(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("bucket",
      pmod(xxhash64(col("doc_id")), lit(nBuckets)).cast("int"))

  /** [[prunedByShingle]]'s doc-keyed twin over the `postd/` dual
    * layout: manifest-line selection by the filter docs' buckets,
    * then the broadcast semi join. */
  private def prunedByDoc(st: Store, name: String, docs: DataFrame,
                          nBuckets: Int): DataFrame = {
    val bks = docBucketed(docs, nBuckets)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    st.tableBuckets(name, bks)
      .join(broadcast(docs), Seq("doc_id"), "left_semi")
  }

  /** Map-side broadcast-filtered read of a shingle-bucketed artifact:
    * selects the filter set's buckets' manifest lines (driver-computed
    * bucket ids, <= nBuckets values) then semi-joins the broadcast
    * increment-grain shingle set. */
  private def prunedByShingle(st: Store, name: String, shingles: DataFrame,
                              nBuckets: Int): DataFrame = {
    val bks = bucketed(shingles, nBuckets)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    st.tableBuckets(name, bks)
      .join(broadcast(shingles), Seq("shingle"), "left_semi")
  }

  /** Exact-dedup survivors of `df` (quality gate + min-id-per-hash),
    * with the text hash riding along. */
  private def exSurvivors(df: DataFrame): DataFrame = {
    val q = df.filter(TextFeatures.qualityKeep(col("text")))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        xxhash64(col("text")).as("h"))
    val keep = q.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    q.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Per-doc intrinsic rows for `exdocs/`: decon flag vs the eval
    * shingle set and the distinct-shingle-set size — both computed for
    * EVERY survivor at ingest (they depend only on the doc's own text,
    * so a doc that resurrects when a cluster splits, or that enters a
    * pair via a later batch, needs no text rescan). */
  private def intrinsics(ex: DataFrame, evalsh: DataFrame,
                         deconN: Int, shingleK: Int): DataFrame = {
    val flagged = ex.select(col("doc_id"),
        explode(graft.functions.WordShingles(col("text"), deconN)).as("g"))
      .join(broadcast(evalsh), Seq("g"))
      .select("doc_id").distinct().withColumn("dflag", lit(1))
    ex.select(col("doc_id"), col("lang"), col("source"),
        size(graft.functions.WordShingles(col("text"), shingleK))
          .cast("long").as("sz"))
      .join(flagged, Seq("doc_id"), "left")
      .na.fill(0, Seq("dflag"))
  }

  /** Jaccard threshold over pair intersections + per-doc set sizes —
    * [[graft.dedup.Dedup.jaccardPairs]]'s tail, the same raw-double
    * comparison bit-for-bit. */
  private def thresholdPairs(inter: DataFrame, sizes: DataFrame,
                             threshold: Double): DataFrame =
    inter
      .join(sizes.toDF("d1", "sz1"), Seq("d1"))
      .join(sizes.toDF("d2", "sz2"), Seq("d2"))
      .filter(col("inter").cast("double")
        / (col("sz1") + col("sz2") - col("inter")) >= threshold)
      .select("d1", "d2")

  /** Pair evidence from full posting lists ([[graft.dedup.Dedup
    * .jaccardPairs]]'s body over precomputed postings — same df cap). */
  private def pairsFrom(post: DataFrame, sizes: DataFrame, maxDf: Long,
                        threshold: Double): DataFrame =
    thresholdPairs(
      Postings.coPairs(post, Seq(col("shingle")), col("doc_id"), maxDf)
        .withColumnRenamed("shared", "inter"),
      sizes, threshold)

  /** The corpus sample served from the artifacts: near-dup canonical
    * keep (labels join), decon gate, deterministic stratified
    * sampling — output (doc_id, lang, source), the 31g contract. */
  def assemble(spark: SparkSession, dir: String): DataFrame = {
    val st = new Store(spark, dir)
    assembleSt(st, readMeta(st))
  }

  /** AS-OF assembly (r17 — the manifest's time travel at this store's
    * grain): the corpus sample as of a pinned COMMITTED generation
    * still inside the grace window — "what did yesterday's increment
    * ship?" without keeping yesterday's output around. Meta rides the
    * same generation, so params and max-id are the ones that built it;
    * a retired (or never-committed) generation throws. */
  def assemble(spark: SparkSession, dir: String, asOfGen: Long): DataFrame = {
    val st = new Store(spark, dir, asOf = asOfGen)
    assembleSt(st, readMeta(st))
  }

  /** [[assemble]] against an already-resolved store view and meta row
    * — the increment's tail calls this directly so the manifest and
    * meta are not re-read by the very call that just published them. */
  private def assembleSt(st: Store, m: Meta): DataFrame = {
    val kept = st.table("exdocs")
      .join(st.table("labels")
        .withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .filter(col("dflag") === 0)
    TextFeatures.sampleStratified(kept, col("doc_id"), col("lang"),
        m.rates, m.defaultRate)
      .select("doc_id", "lang", "source")
  }

  /** Full build over `base`, persisting every artifact under `dir` as
    * ONE manifest generation (a rebuild publishes only the new parts —
    * any previous generation's files await [[compact]]'s retirement).
    * Returns the assembled corpus output (== [[CorpusBuild.run]] over
    * `base`). */
  def build(base: DataFrame, eval: DataFrame, dir: String,
            shingleK: Int = 3, threshold: Double = 0.5,
            maxDf: Long = 1000L, deconN: Int = 8,
            rates: Map[String, Double] = Map.empty,
            defaultRate: Double = 1.0, nBuckets: Int = 64): DataFrame = {
    val spark = base.sparkSession
    val st = new Store(spark, dir, rebuild = true, mutating = true)
    val ex = exSurvivors(base).persist(lvl)
    ex.count()
    val relH = st.fresh("hidx")
    ex.select(col("h"), col("doc_id")).write.parquet(s"$dir/$relH")
    st.register(relH)
    val arr = ex.select(col("doc_id"),
        graft.functions.WordShingles(col("text"), shingleK).as("shs"))
      .filter(size(col("shs")) > 0).persist(lvl)
    arr.count()
    val post = arr.select(col("doc_id"), explode(col("shs")).as("shingle"))
    // repartition on the partition column: ONE file per bucket —
    // without it every task writes into every bucket dir (tasks x
    // buckets small files) and all later artifact scans pay the
    // listing/footer cost (one file per bucket per write)
    val relP = st.fresh("post")
    graft.sources.SnapshotStore.repartitionByBucket(
      bucketed(post, nBuckets), nBuckets)
      .write.partitionBy("bucket").parquet(s"$dir/$relP")
    st.register(relP)
    // the DUAL doc-bucketed copy: shingle-keyed probes (df lookups,
    // postings of band-relevant shingles) prune post/; doc-keyed
    // probes (the affected-doc full postings) prune postd/ — both
    // access patterns are manifest-line prunes, at 2x linear storage
    // (the standard dual-index trade)
    val relPd = st.fresh("postd")
    graft.sources.SnapshotStore.repartitionByBucket(
      docBucketed(post, nBuckets), nBuckets)
      .write.partitionBy("bucket").parquet(s"$dir/$relPd")
    st.register(relPd)
    val relDf = st.fresh("df")
    graft.sources.SnapshotStore.repartitionByBucket(
      bucketed(post.groupBy("shingle").agg(count(lit(1)).as("df")), nBuckets),
      nBuckets)
      .write.partitionBy("bucket").parquet(s"$dir/$relDf")
    st.register(relDf)
    val relEv = st.fresh("evalsh")
    eval.select(explode(
        graft.functions.WordShingles(col("text"), deconN)).as("g"))
      .distinct().write.parquet(s"$dir/$relEv")
    st.register(relEv)
    val relEx = st.fresh("exdocs")
    intrinsics(ex, st.table("evalsh"), deconN, shingleK)
      .write.parquet(s"$dir/$relEx")
    st.register(relEx)
    val sizes = arr.select(col("doc_id"), size(col("shs")).cast("long").as("sz"))
    val relPr = st.fresh("pairs")
    pairsFrom(post, sizes, maxDf, threshold).write.parquet(s"$dir/$relPr")
    st.register(relPr)
    val pairs = st.table("pairs")
    val relL = st.fresh("labels")
    labelsOf(spark, pairs).write.parquet(s"$dir/$relL")
    st.register(relL)
    val maxId = base.agg(max(col("doc_id"))).head()
    require(!maxId.isNullAt(0), "empty base corpus")
    val meta = Meta(shingleK, threshold, maxDf, deconN, nBuckets,
      rates, defaultRate, maxId.getLong(0))
    writeMeta(st, meta)
    st.publish("build")
    ex.unpersist(blocking = false)
    arr.unpersist(blocking = false)
    assembleSt(st, meta)
  }

  private def labelsOf(spark: SparkSession, edges: DataFrame): DataFrame =
    if (edges.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("node", "component")
    } else ConnectedComponents.run(
      edges.select(col("d1").as("src"), col("d2").as("dst")))

  /** Periodic artifact maintenance — the store-side twin of
    * [[graft.text.Bm25Index.compactSnapshot]]: every increment appends
    * one part per touched artifact, so at crawl cadence the stores
    * accrete files (and `df/`, the ADDITIVE artifact, accretes one row
    * per (shingle, batch) whose sum every read re-aggregates).
    * Compaction folds each fragmented df bucket by SUMMING its rows
    * per shingle — the same associative merge reads already perform,
    * so every later read, increment, and [[assemble]] is bit-identical
    * before/after (CorpusIncrementSpec pins it by running the same
    * next batch through a compacted and an uncompacted clone) — and
    * re-files the disjoint-row stores (post/hidx/exdocs: batch slices
    * never overlap by construction, so theirs is pure file folding).
    * pairs/labels are replaced whole by every increment and need
    * nothing. Everything publishes as ONE new generation (no journal:
    * replaced files stay on disk for in-flight readers), then
    * file-grain retirement reclaims parts unreferenced by the newest
    * `keepGenerations` manifests — superseded folds, old pairs/labels
    * replacements, and any torn run's unpublished debris. Fragment
    * census = manifest lines per bucket (no filesystem listing). */
  def compact(spark: SparkSession, dir: String, minParts: Int = 2,
              targetFiles: Int = 1, keepGenerations: Int = 2): Unit = {
    val st = new Store(spark, dir, mutating = true)
    val nBuckets = readMeta(st).nBuckets
    var changed = false
    // bucketed artifacts: fold each fragmented bucket's lines into one
    // file inside a fresh part; bucket is re-derived from the very
    // hash that assigned it (the files carry no partition column)
    def foldBuckets(name: String, rebucket: DataFrame => DataFrame,
                    fold: DataFrame => DataFrame): Unit = {
      val byBucket = st.linesOf(name).flatMap(l => bucketLine(l).map(_ -> l))
        .groupBy(_._1).map { case (b, ls) => b -> ls.map(_._2) }
      val fragLines = byBucket.valuesIterator
        .filter(_.length >= minParts).flatten.toSeq
      if (fragLines.nonEmpty) {
        val rel = st.fresh(name)
        graft.sources.SnapshotStore.repartitionByBucket(rebucket(fold(
            graft.sources.SnapshotStore.readFiles(spark, dir, fragLines))),
          nBuckets)
          .write.partitionBy("bucket").parquet(s"$dir/$rel")
        st.dropLines(fragLines)
        st.register(rel)
        changed = true
      }
    }
    foldBuckets("df", bucketed(_, nBuckets),
      _.groupBy("shingle").agg(sum(col("df")).as("df")))
    foldBuckets("post", bucketed(_, nBuckets), identity)
    foldBuckets("postd", docBucketed(_, nBuckets), identity)
    // hidx/exdocs are unbucketed: fold to `targetFiles` (corpus-scale
    // callers size it to keep files executor-memory-shaped; the
    // default 1 is the registry/test scale)
    Seq("hidx", "exdocs").foreach { t =>
      val ls = st.linesOf(t)
      if (ls.length >= minParts + targetFiles - 1) {
        val rel = st.fresh(t)
        graft.sources.SnapshotStore.readFiles(spark, dir, ls)
          .coalesce(targetFiles).write.parquet(s"$dir/$rel")
        st.dropLines(ls)
        st.register(rel)
        changed = true
      }
    }
    // meta folds to one row: same params (enforced), running max id
    if (st.linesOf("meta").length >= minParts) {
      val m = readMeta(st)
      st.drop("meta")
      writeMeta(st, m)
      changed = true
    }
    if (changed) st.publish("compact")
    // reclaim superseded + orphaned files behind the grace window
    graft.sources.SnapshotStore.retire(spark, dir, keepGenerations)
  }

  /** Fold one crawl batch into the artifacts and return the updated
    * corpus output — hash-identical to `build(base ∪ batch)`. The
    * whole increment publishes as ONE manifest generation: a crash
    * anywhere before the manifest commit leaves readers on the prior
    * generation (unpublished parts are invisible debris retirement
    * sweeps), and the commit itself covers all eight artifact dirs at
    * once. */
  def increment(batch: DataFrame, dir: String): DataFrame = {
    val spark = batch.sparkSession
    val st = new Store(spark, dir, mutating = true)
    val m = readMeta(st)
    val bMin = batch.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (bMin.isNullAt(0)) return assembleSt(st, m)
    require(bMin.getLong(0) > m.maxDocId,
      s"batch ids must exceed indexed ids (min ${bMin.getLong(0)} <= " +
        s"${m.maxDocId}): out-of-order ingest would break min-id dedup parity")

    // ---- exact stage: in-batch min-id dedup, then the index probe.
    // dup hashes come from a map-side semi of hidx against the
    // broadcast batch hash set (never a shuffle of the index). bx is
    // RE-ROOTED on a persisted RDD so the many downstream consumers
    // (six appends, the band analysis, the pair splice) share one
    // computed batch instead of re-deriving it.
    spark.sparkContext.setJobDescription("icorpus: batch dedup probe")
    val bq = exSurvivors(batch)
    val hidx = st.table("hidx")
    val dupH = hidx.join(broadcast(bq.select("h").distinct()),
      Seq("h"), "left_semi").select("h").distinct()
    val (bx, bxRdd) = Rounds.materialize(
      bq.join(broadcast(dupH), Seq("h"), "left_anti"), lvl)
    val nBatch = bxRdd.count()

    // ---- increment-grain execution profile: from here to the publish
    // every stage carries BATCH-sized data (bounded-batch contract) or
    // a batch-pruned sliver of the store, where a corpus-sized shuffle
    // width is pure task-scheduling latency and AQE's per-stage
    // replanning adds a driver round-trip per stage with nothing to
    // re-plan. For small batches the middle phase runs on a CLONED
    // session (`newSession`: same SparkContext, block manager, and
    // caches — its own SQLConf) narrowed to 8 shuffle partitions with
    // AQE off; r15: the clone replaces the r14 mutate-and-restore of
    // the SHARED session's conf, whose window a concurrent query
    // planned on the same SparkSession would have inherited. Physical-
    // execution knobs only, the output is bit-identical, and the
    // returned assembly re-roots on the caller's session (full width).
    // Large batches keep the caller session throughout (AQE skew
    // handling intact).
    val narrow = nBatch <= 200000L
    val sx = if (narrow) {
      val s2 = Rounds.narrowSession(spark)
      // the clone's file-status cache starts cold and every pruned
      // read lists explicit leaf files; above the default 32-path
      // threshold Spark runs each listing as a distributed JOB —
      // pure launch latency at increment grain. Keep listings
      // driver-side on the clone (hundreds of paths, metadata-only).
      s2.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "10000")
      s2
    } else spark
    st.useSession(sx)
    val bxN = org.apache.spark.sql.GraftBridge.internalDF(
      sx, bxRdd, bx.schema)

    // ---- append the batch's slices of every additive artifact
    // increment-grain appends: one file each (coalesce / bucket
    // repartition) into FRESH part subtrees, so the store's file count
    // grows with BATCHES, not batches x tasks x buckets. The five
    // appends are INDEPENDENT given bx, so they run as one concurrent
    // group instead of five sequential jobs; their lines register
    // after the group joins (the store view is single-threaded).
    val bArr = bxN.select(col("doc_id"),
        graft.functions.WordShingles(col("text"), m.k).as("shs"))
      .filter(size(col("shs")) > 0).persist(lvl)
    val bPost = bArr.select(col("doc_id"), explode(col("shs")).as("shingle"))
    val dfB = bPost.groupBy("shingle").agg(count(lit(1)).as("df")).persist(lvl)
    val evalsh = st.table("evalsh")
    val bandsRef =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val (relH, relEx, relP, relPd, relDf) = (st.fresh("hidx"),
      st.fresh("exdocs"), st.fresh("post"), st.fresh("postd"), st.fresh("df"))
    // ONE seven-way concurrent group (r14; r12 ran it as two batches of
    // three): every append is independent given bx, and the shared
    // bArr/dfB caches are computed exactly once under the block
    // manager's per-block locks whichever job gets there first — the
    // explicit bArr.count() rides along so the cache warms even while
    // the hidx/exdocs writes (which don't consume it) hold two slots
    sx.sparkContext.setJobDescription("icorpus: artifact appends")
    inParallel(Seq(
      () => bxN.select(col("h"), col("doc_id"))
        .coalesce(1).write.parquet(s"$dir/$relH"),
      () => intrinsics(bxN, evalsh, m.deconN, m.k)
        .coalesce(1).write.parquet(s"$dir/$relEx"),
      () => { bArr.count(); () },
      () => graft.sources.SnapshotStore.repartitionByBucket(
        bucketed(bPost, m.nBuckets), m.nBuckets)
        .write.partitionBy("bucket").parquet(s"$dir/$relP"),
      () => graft.sources.SnapshotStore.repartitionByBucket(
        docBucketed(bPost, m.nBuckets), m.nBuckets)
        .write.partitionBy("bucket").parquet(s"$dir/$relPd"),
      // populates the dfB cache the band analysis consumes
      () => graft.sources.SnapshotStore.repartitionByBucket(
        bucketed(dfB, m.nBuckets), m.nBuckets)
        .write.partitionBy("bucket").parquet(s"$dir/$relDf"),
      // ---- df-band analysis over batch-present shingles, FUSED into
      // the append group (r18): reading the COMMITTED df lines only
      // (the batch's own part is the in-memory dfB), the new-state sum
      // is _dfo + df and the old state is _dfo — exact integer
      // identities with the r17 read-back formulation (_dfn and
      // _dfn − df), so the bands are bit-identical while their whole
      // pipeline (bucket-id collect, pruned read, aggregate, persist)
      // hides behind the five artifact writes instead of running as
      // sequential jobs after the group.
      () => {
        val bks = bucketed(dfB.select("shingle"), m.nBuckets)
          .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
        val dfo = st.tableBuckets("df", bks)
          .join(broadcast(dfB.select("shingle")), Seq("shingle"), "left_semi")
          .groupBy("shingle").agg(sum(col("df")).as("_dfo"))
        val b = dfB
          .join(dfo, Seq("shingle"), "left")
          .withColumn("_dfn", coalesce(col("_dfo"), lit(0L)) + col("df"))
          .withColumn("_in_new", col("_dfn").between(2, m.maxDf))
          .withColumn("_in_old",
            coalesce(col("_dfo"), lit(0L)).between(2, m.maxDf))
          .persist(lvl)
        b.count()
        bandsRef.set(b)
      }))
    Seq(relH, relEx, relP, relPd, relDf).foreach(st.register)
    val bands = bandsRef.get

    // ---- exact pair recomputation, split by what CAN change.
    // Band-CROSSING shingles (in-band status flipped by the batch) are
    // the only ones that can alter base-vs-base evidence — a doc's
    // shingle set never changes, so a stays-in-band shingle's
    // contribution to any base-base intersection is fixed. Their
    // postings docs plus the batch form the full-recompute set C;
    // everything else either rides through or is a NEW base×batch
    // pair. This split is what keeps the increment increment-grain
    // even on vocabulary-dense corpora where most shingles are shared:
    // stays-in shingles (the common case) cost only their base×batch
    // cross products, never a base-base re-expansion.
    val changed = localized(sx,
      bands.filter(col("_in_new") =!= col("_in_old")).select("shingle")
        .withColumn("_bk",
          pmod(xxhash64(col("shingle")), lit(m.nBuckets)).cast("int")))
    // C discovery, collected ONCE with the doc-bucket ids riding in
    // the same job (r16 — the splice-launch fusion): every downstream
    // use of C was already a BROADCAST, i.e. a driver materialization
    // by definition, so the explicit collect is memory-neutral. What
    // it buys is LAUNCH COUNT: the local relation plans as a
    // LocalTableScan (no broadcast-exchange sub-job per consumer — the
    // old plan built four), and the postd bucket prune derives its
    // bucket ids from the same rows instead of a second collect job.
    val cRows = st.tableBuckets("post",
        changed.collect().map(_.getInt(1)).distinct.toSeq)
      .join(broadcast(changed.select("shingle")), Seq("shingle"), "left_semi")
      .select("doc_id")
      .union(bxN.select("doc_id")).distinct()
      .withColumn("_bk",
        pmod(xxhash64(col("doc_id")), lit(m.nBuckets)).cast("int"))
      .collect()
    val cIds = cRows.map(_.getLong(0)).toSeq
    val cLocal = { import sx.implicits._; cIds.toDF("doc_id") }
    // (a) pairs WITHIN C: complete postings of C docs — a manifest-
    // PRUNED read of the doc-bucketed dual layout (C's bucket ids came
    // with the collect), true new-state bands for ALL their shingles
    // (df/ summed for exactly those shingles)
    val cPost = st.tableBuckets("postd", cRows.map(_.getInt(1)).distinct.toSeq)
      .join(broadcast(cLocal), Seq("doc_id"), "left_semi").persist(lvl)
    val ibC = localized(sx,
      prunedByShingle(st, "df", cPost.select("shingle").distinct(),
          m.nBuckets)
        .groupBy("shingle").agg(sum(col("df")).as("_dfn"))
        .filter(col("_dfn").between(2, m.maxDf)).select("shingle"))
    val interA = Postings.coPairs(
        cPost.join(broadcast(ibC), Seq("shingle"), "left_semi"),
        Seq(col("shingle")), col("doc_id"), Long.MaxValue)
      .withColumnRenamed("shared", "inter")
    // (b) NEW (base ∉ C) × batch pairs through batch-present in-band
    // shingles: every shared in-band shingle of such a pair is
    // batch-present, so the per-shingle cross expansion counts the
    // exact intersection; d1 < d2 holds because batch ids exceed all
    // base ids by contract. Disjoint from (a) (exactly one endpoint in
    // C) and from keptOld (no old pair has a batch endpoint).
    val relIb = bands.filter(col("_in_new")).select("shingle")
    val interB = prunedByShingle(st, "post", relIb, m.nBuckets)
      .withColumn("_b", col("doc_id") > m.maxDocId)
      .join(broadcast(cLocal.withColumn("_c", lit(1))), Seq("doc_id"), "left")
      .groupBy("shingle")
      .agg(collect_list(when(!col("_b") && col("_c").isNull,
          col("doc_id"))).as("_bl"),
        collect_list(when(col("_b"), col("doc_id"))).as("_xl"))
      .filter(size(col("_bl")) > 0 && size(col("_xl")) > 0)
      .select(explode(col("_bl")).as("d1"), col("_xl"))
      .select(col("d1"), explode(col("_xl")).as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    // set sizes are per-doc intrinsics persisted at ingest — no
    // posting pull for cross-pair endpoints
    val sizes = st.table("exdocs")
      .select(col("doc_id"), col("sz"))
    val newPairs = thresholdPairs(interA.unionByName(interB), sizes,
      m.threshold).persist(lvl)

    // ---- splice the pair graph: pairs with BOTH endpoints in C are
    // replaced by recomputation (a); (b) adds pairs no old pair could
    // be; every other old pair is provably unchanged and rides through
    val oldPairs = st.table("pairs")
    val cD = (side: String) => { import sx.implicits._; cIds.toDF(side) }
    val keptOld = oldPairs
      .join(broadcast(cD("d1").withColumn("_a1", lit(1))), Seq("d1"), "left")
      .join(broadcast(cD("d2").withColumn("_a2", lit(1))), Seq("d2"), "left")
      .filter(col("_a1").isNull || col("_a2").isNull)
      .select("d1", "d2")
    val finalPairs = keptOld.unionByName(newPairs)

    // ---- re-solve ONLY old components touching docs whose pair
    // evidence could have changed — C plus the new pairs' endpoints
    // (the 23e quotient idea, generalized to handle edge REMOVALS by
    // re-solving each touched component from its final edge set).
    // finalPairs and the subgraph are each COMPUTED once: fp's
    // persisted RDD is populated en route to the subgraph count below
    // (no separate count job), then every later consumer (union-find,
    // the pairs write) scans the cache.
    sx.sparkContext.setJobDescription("icorpus: pair splice")
    val (fp, fpRdd) = Rounds.materialize(finalPairs, lvl)
    val pairEnds = cLocal
      .union(newPairs.select(col("d1").as("doc_id")))
      .union(newPairs.select(col("d2").as("doc_id"))).distinct()
    val oldLabels = st.table("labels")
    // touched components, collected ONCE (again memory-neutral — it
    // fed two broadcasts before, each a separate exchange job
    // recomputing the frame): this is also the job that warms the
    // newPairs cache, so the se materialization below reads caches
    val touchedLocal = {
      import sx.implicits._
      oldLabels
        .join(broadcast(pairEnds.toDF("node")), Seq("node"), "left_semi")
        .select("component").distinct().as[Long].collect().toSeq
        .toDF("component")
    }
    val subNodes = oldLabels
      .join(broadcast(touchedLocal), Seq("component"), "left_semi")
      .select("node")
      .union(pairEnds.toDF("node")).distinct()
    val (se, seRdd) = Rounds.materialize(
      fp.join(broadcast(subNodes.toDF("d1")), Seq("d1"), "left_semi"), lvl)
    val nSub = seRdd.count()
    // the replacement pair graph, labels, and meta land as FRESH part
    // subtrees whose lines supersede the old ones in the same
    // generation — fresh paths, so no write overwrites a path its own
    // plan reads, a torn write is invisible (unpublished lines never
    // reach a manifest), a retry cannot collide (new uuid). The three
    // writes are independent given the persisted fp/se and the
    // driver-held meta row, so they run as ONE concurrent group — and
    // the LABELS thunk carries its whole pipeline (subgraph collect,
    // union-find, write), hiding the splice-solve latency behind the
    // pair write instead of paying it as sequential launches (r16).
    val (relPr, relL, relM) =
      (st.fresh("pairs"), st.fresh("labels"), st.fresh("meta"))
    val m2 = m.copy(maxDocId = bMin.getLong(1))
    sx.sparkContext.setJobDescription("icorpus: pairs/labels/meta publish")
    inParallel(Seq(
      () => fp.write.parquet(s"$dir/$relPr"),
      () => {
        // solve the touched subgraph where it lives: an increment-
        // grain splice is usually a few thousand edges, for which the
        // distributed star rounds cost ~10 job launches of pure
        // overhead — below an explicit driver-size cap (500k edges ≈
        // tens of MB) one collect + a local union-find replaces them,
        // emitting the same (node, min-id component) labels
        // bit-for-bit; past the cap the distributed path takes over
        // unchanged
        val subLabels =
          if (nSub == 0) {
            import spark.implicits._
            Seq.empty[(Long, Long)].toDF("node", "component")
          } else if (nSub <= 500000L) {
            import spark.implicits._
            val es = se.select(col("d1"), col("d2")).as[(Long, Long)].collect()
            val parent = new java.util.HashMap[Long, Long]()
            def find(a: Long): Long = {
              var x = a
              while (parent.getOrDefault(x, x) != x) {
                parent.put(x,
                  parent.getOrDefault(parent.get(x), parent.get(x)))
                x = parent.get(x)
              }
              x
            }
            es.foreach { case (a, b) =>
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
            }
            val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
            // root compression gives min-id labels directly: unions
            // always point the larger root at the smaller, so every
            // chain ends at its component's minimum id
            nodes.map(n => (n, find(n))).toSeq.toDF("node", "component")
          } else
            // size the CC rounds to the subgraph: big graphs get a
            // partition per ~1M edges
            ConnectedComponents.run(
              se.select(col("d1").as("src"), col("d2").as("dst"))
                .repartition(math.max(1, (nSub / 1000000L).toInt)))
        oldLabels
          .join(broadcast(touchedLocal), Seq("component"), "left_anti")
          .unionByName(subLabels)
          .write.parquet(s"$dir/$relL")
      },
      () => metaRow(st, m2).coalesce(1).write.parquet(s"$dir/$relM")))
    st.drop("pairs")
    st.drop("labels")
    Seq(relPr, relL, relM).foreach(st.register)
    fpRdd.unpersist(blocking = false)
    seRdd.unpersist(blocking = false)

    // ---- the commit point: ONE generation spanning all eight dirs
    st.publish("increment")
    bxRdd.unpersist(blocking = false)
    bArr.unpersist(blocking = false)
    bands.unpersist(blocking = false)
    cPost.unpersist(blocking = false)
    newPairs.unpersist(blocking = false)
    dfB.unpersist(blocking = false)
    // serve from the view this increment just published — the meta row
    // and the fresh labels are already in hand, so no re-read; back on
    // the CALLER's session, so the corpus-scale assembly plans at the
    // caller's width, not the clone's
    st.useSession(spark)
    spark.sparkContext.setJobDescription("icorpus: assembly")
    assembleSt(st, m2)
  }
}
