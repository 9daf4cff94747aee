package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** MVCC-lite versioned-manifest store: the snapshot-isolation half of
  * an iceberg/delta-style table, at the engine's parts-store grain.
  *
  * Layout:
  *  - data lives in immutable files under the store's data subtrees
  *    (`parts/`, or a bucketed store's own artifact dirs). A writer
  *    only ever CREATES new files. No write path opens an existing
  *    store file for writing, which is what makes HARD-LINK CLONES of
  *    a store safe (the bench's copyTree shares inodes between base
  *    and work tree); HardLinkCloneSpec pins it;
  *  - `_ledger/mp_<id>` files are immutable manifest PARTS, each
  *    listing a batch of live data files (store-relative);
  *  - `_ledger/manifest.N` is generation N: a `#op=<op> parent=<gen>
  *    id=<uid> parent_id=<parent's uid>` header line, then the
  *    generation's parts as `@mp_<id>` lines.
  *    An append publishes ONE new part plus a small list, O(delta);
  *    an edit rewrites only the parts whose files it touches and
  *    reuses every other part BY REFERENCE (SnapshotStoreSpec pins
  *    the reuse).
  *
  * COMMIT (the log-store put-if-absent of the Delta Lake protocol):
  * a writer that read generation N stages
  * `_ledger/manifest.<N+1>.<uuid>.tmp` in full, then publishes it with
  * an operation that fails when the target exists — link(2) on the
  * local filesystem, `rename` on HDFS, which refuses an existing
  * target atomically. So generation N+1 exists iff exactly one writer
  * created it, and the committed generation is the highest
  * `manifest.N` on disk: there is no pointer file to swap and a
  * present manifest is complete. Object stores without an atomic
  * no-overwrite rename are unsupported.
  *
  * CONFLICTS: a writer whose slot N+1 is taken lost to a concurrent
  * commit. Read-modify-write operations (compaction, changelog merge,
  * tombstone retirement, table replacement) throw the `stale writer`
  * error through [[publishNext]] — their output was computed from
  * the generation the winner replaced — and the caller re-runs from
  * fresh state. Appends COMMUTE, so [[publishAppend]] re-reads the
  * head and retries with no sleep and no cap: every conflict proves
  * another commit landed. Retirement deletes old manifests, so a
  * writer whose base+1 slot was freed could link below the head. A
  * writer that finds a higher manifest after its link, other than one
  * built on its own (named by `parent_id`), deletes its manifest and
  * treats the commit as a conflict. Retirement always keeps the newest
  * manifest and deletes in ascending order, so that check is
  * sufficient.
  *
  * READS: [[read]] resolves the head once and plans over that exact
  * file list, so a query keeps its snapshot for its lifetime across
  * concurrent writers. `read(dir, gen)` serves any generation still
  * inside the grace window (AS-OF time travel).
  *
  * RECLAMATION: [[retire]] keeps the newest `keepGenerations`
  * manifests — the grace window in-flight readers run inside, the
  * bargain iceberg's expire-snapshots strikes. A file referenced only
  * by manifests it drops is superseded and deleted at once; a file no
  * manifest on disk references is an orphan (a torn or in-flight
  * writer's output) and is deleted only once older than
  * [[TmpGraceMs]] — the orphan rule of Delta's VACUUM and iceberg's
  * deleteOrphanFiles. A crash anywhere leaves either the old head
  * (unpublished files are invisible orphans) or the new one, complete
  * by construction, so the store needs no rollback journal.
  */
object SnapshotStore {

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def ledger(root: Path) = new Path(root, "_ledger")
  private def manifestPath(root: Path, gen: Long) =
    new Path(ledger(root), s"manifest.$gen")
  private def uid(n: Int) = java.util.UUID.randomUUID().toString.take(n)
  private def isLocal(p: Path) = p.toUri.getScheme == "file"
  private def nio(p: Path) = java.nio.file.Paths.get(p.toUri)

  /** Create a new ledger file. Local files are written through
    * java.nio, the API [[putIfAbsent]] links with, so no checksum
    * sidecar is written beside a file that is later linked or
    * deleted. */
  private def writeNew(fs: FileSystem, p: Path, content: String): Unit = {
    val bytes = content.getBytes("UTF-8")
    if (isLocal(p))
      java.nio.file.Files.write(nio(p), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
    else {
      val o = fs.create(p, false)
      try o.write(bytes) finally o.close()
    }
    ()
  }

  /** Publish the fully staged `tmp` as `target` unless `target`
    * exists; false when another writer holds it. The local filesystem
    * links (link(2) refuses an existing target atomically — Hadoop's
    * local `rename` replaces it); other filesystems rename, which HDFS
    * refuses atomically. The tmp name is removed either way. */
  private def putIfAbsent(fs: FileSystem, tmp: Path, target: Path): Boolean =
    if (isLocal(target)) {
      try { java.nio.file.Files.createLink(nio(target), nio(tmp)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally { java.nio.file.Files.deleteIfExists(nio(tmp)); () }
    } else if (fs.rename(tmp, target)) true
    else {
      fs.delete(tmp, false)
      if (!fs.exists(target))
        throw new java.io.IOException(s"manifest rename failed: $tmp -> $target")
      false
    }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Every `manifest.N` on disk, ascending (staged `*.tmp` names do
    * not parse as a generation). */
  private def manifestGens(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(ledger(root))) Nil
    else fs.listStatus(ledger(root)).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("manifest."))
      .flatMap(_.stripPrefix("manifest.").toLongOption)
      .toSeq.sorted

  private def head(fs: FileSystem, root: Path): Long =
    manifestGens(fs, root).lastOption.getOrElse(0L)

  /** The committed generation — the highest manifest on disk — 0 when
    * the store is empty. */
  def currentGen(spark: SparkSession, dir: String): Long = {
    val (fs, root) = fsOf(spark, dir)
    head(fs, root)
  }

  /** Generations still resolvable on disk (ascending) — the AS-OF
    * surface: any of these can be pinned by `read(dir, gen)` /
    * [[filesAsOf]] until retirement drops it past the grace window. */
  def generations(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, dir)
    manifestGens(fs, root)
  }

  /** The `op=<operation> parent=<generation it transformed> id=…
    * parent_id=…` header of generation `gen`'s manifest, so
    * [[generations]] can answer "what changed when" for AS-OF
    * debugging. None once retired. */
  def generationMeta(spark: SparkSession, dir: String,
                     gen: Long): Option[String] = {
    val (fs, root) = fsOf(spark, dir)
    val p = manifestPath(root, gen)
    if (!fs.exists(p)) None
    else readFile(fs, p).linesIterator.map(_.trim)
      .collectFirst { case l if l.startsWith("#") => l.drop(1).trim }
  }

  // ---- manifest-list internals ---------------------------------------

  /** Generation `gen`'s `#` header fields and `@mp_<id>` part
    * references; empty for generation 0, and throws once retired. */
  private def manifest(fs: FileSystem, root: Path,
                       gen: Long): (Map[String, String], Seq[String]) = {
    val (header, refs) =
      if (gen == 0L) (Nil, Nil)
      else readFile(fs, manifestPath(root, gen)).linesIterator.map(_.trim)
        .filter(_.nonEmpty).toSeq.partition(_.startsWith("#"))
    (header.flatMap(_.drop(1).trim.split("\\s+")).map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap, refs)
  }

  /** [[manifest]], empty once retired. */
  private def manifestOrEmpty(fs: FileSystem, root: Path,
                              gen: Long): (Map[String, String], Seq[String]) =
    try manifest(fs, root, gen)
    catch { case _: java.io.FileNotFoundException => (Map.empty, Nil) }

  /** The data files listed by one manifest part. */
  private def partLines(fs: FileSystem, root: Path, ref: String): Seq[String] =
    readFile(fs, new Path(ledger(root), ref.stripPrefix("@")))
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** Store-relative live files of generation `gen`. */
  private def manifestFiles(fs: FileSystem, root: Path, gen: Long): Seq[String] =
    manifest(fs, root, gen)._2.flatMap(partLines(fs, root, _))

  /** Write one immutable manifest part; returns its `@` reference. */
  private def writeManifestPart(fs: FileSystem, root: Path,
                                files: Seq[String]): String = {
    val name = s"mp_${uid(12)}"
    writeNew(fs, new Path(ledger(root), name), files.sorted.mkString("\n"))
    "@" + name
  }

  /** The next generation's part references for a target file set
    * `files`, REUSING the previous generation's parts: a part none of
    * whose files left the set rides through by reference (zero
    * writes); a touched part is rewritten once with its survivors;
    * files new to the set land in one fresh part. Publish cost is
    * thus O(delta + touched parts), never O(live files). */
  private def deltaLines(fs: FileSystem, root: Path,
                         prevRefs: Seq[String], files: Seq[String]): Seq[String] = {
    val target = files.toSet
    val covered = scala.collection.mutable.Set.empty[String]
    val outRefs = prevRefs.flatMap { r =>
      val fl = partLines(fs, root, r)
      val kept = fl.filter(f => target.contains(f) && !covered.contains(f))
      covered ++= kept
      if (kept.isEmpty) None
      else if (kept.length == fl.length) Some(r)
      else Some(writeManifestPart(fs, root, kept))
    }
    val added = files.distinct.filterNot(covered)
    outRefs ++ (if (added.nonEmpty) Seq(writeManifestPart(fs, root, added)) else Nil)
  }

  /** Commit generation `base + 1` with the part references `next`
    * derives from the base generation's; false on a conflict. The
    * slot may be taken, or it may have been freed by
    * retirement below an existing head. In that case the next manifest
    * was not built on ours (its `parent_id` differs), or retirement
    * deleted it, which its ascending order does only after deleting
    * our slot's earlier occupant — so ours, still present, is stale
    * and is withdrawn. */
  private def commit(fs: FileSystem, root: Path, base: Long,
                     next: Seq[String] => Seq[String], op: String): Boolean = {
    val (baseHeader, baseRefs) = manifestOrEmpty(fs, root, base)
    val id = uid(12)
    val target = manifestPath(root, base + 1)
    val tmp = new Path(ledger(root), s"manifest.${base + 1}.${uid(8)}.tmp")
    val header = s"#op=$op parent=$base id=$id" +
      baseHeader.get("id").fold("")(" parent_id=" + _)
    writeNew(fs, tmp, (header +: next(baseRefs)).mkString("\n"))
    putIfAbsent(fs, tmp, target) && {
      val stale = head(fs, root) > base + 1 &&
        !manifestOrEmpty(fs, root, base + 2)._1.get("parent_id").contains(id) &&
        fs.exists(target)
      if (stale) fs.delete(target, false)
      !stale
    }
  }

  /** Data files (recursive, relative) under a freshly written part dir. */
  private def filesUnder(fs: FileSystem, root: Path, rel: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (!isMarker(s.getPath.getName)) {
        out += relative(root, s.getPath)
        ()
      }
    }
    walk(new Path(root, rel))
    out.toSeq
  }

  private def isMarker(name: String) = name.startsWith("_") || name.startsWith(".")
  private def relative(root: Path, p: Path) =
    p.toString.stripPrefix(root.toString).stripPrefix("/")

  /** Append one batch as a new immutable part and publish the next
    * generation: every prior manifest part rides through by
    * reference, the batch's files land in one new part — O(delta).
    * `numFiles` sizes the part (default 1, right for the metadata-
    * grain parts the engine's stores append; a large batch passes its
    * task-parallel file count). Concurrent appenders all land
    * ([[publishAppend]]). */
  def append(df: DataFrame, dir: String, numFiles: Int = 1): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val spark = df.sparkSession
    val (fs, root) = fsOf(spark, dir)
    val rel = s"parts/b_${uid(12)}"
    val sized = if (numFiles == 1) df.coalesce(1) else df.repartition(numFiles)
    sized.write.parquet(new Path(root, rel).toString)
    publishAppend(spark, dir, filesUnder(fs, root, rel), "append")
    ()
  }

  /** The committed snapshot — resolved ONCE, so the returned plan
    * reads this exact file set for its whole lifetime regardless of
    * concurrent writers. Empty-store reads throw (no schema to
    * serve). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val gen = currentGen(spark, dir)
    require(gen > 0L, s"empty snapshot store at $dir")
    read(spark, dir, gen)
  }

  /** AS-OF read: the store as of generation `asOfGen` — time-travel
    * debugging for any generation still inside the grace window
    * (retired generations' manifests are gone and throw; generations
    * above the head never committed and throw). */
  def read(spark: SparkSession, dir: String, asOfGen: Long): DataFrame =
    readFiles(spark, dir, filesAsOf(spark, dir, asOfGen))

  /** Fold the current generation into one part (via `fold`, default
    * identity — pure file compaction; `numFiles` sizes the folded
    * part) and publish it as the next generation. Superseded parts
    * stay on disk for in-flight readers; [[retire]] reclaims them.
    * Read-modify-write: a concurrent commit makes it throw the
    * `stale writer` error — re-run from fresh state. */
  def compact(spark: SparkSession, dir: String,
              fold: DataFrame => DataFrame = identity,
              numFiles: Int = 1): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val (fs, root) = fsOf(spark, dir)
    val gen = currentGen(spark, dir)
    if (gen == 0L) return
    val rel = s"parts/c_${uid(12)}"
    val folded = fold(read(spark, dir, gen))
    val sized =
      if (numFiles == 1) folded.coalesce(1) else folded.repartition(numFiles)
    sized.write.parquet(new Path(root, rel).toString)
    publishNext(spark, dir, filesUnder(fs, root, rel), gen, "compact")
    ()
  }

  // ---- generalized manifest primitives (bucket / multi-table grain) -
  // The single-table API above folds whole generations; the BUCKETED
  // stores (BM25 postings + meta, the corpus-increment artifact set)
  // need the same isolation at a finer grain: a compaction replaces
  // SOME of the manifest's files (one bucket's) while the rest ride
  // through, and one generation spans several logical tables. Files
  // are arbitrary store-relative paths, so the generalization is just
  // the primitives: writers read a [[snapshot]], organize subtrees
  // (`parts/p_x/bucket=3/...`), and publish the next generation as a
  // transformed FILE set (the delta against the base generation's
  // parts is computed here, so untouched parts are reused by
  // reference); readers resolve the head once, then SELECT files by
  // prefix/bucket.

  /** The head generation and its committed file list (store-relative)
    * — what a read-modify-write writer transforms and then passes the
    * generation of to [[publishNext]]. (0, Nil) for an empty store. */
  private[graft] def snapshot(spark: SparkSession,
                              dir: String): (Long, Seq[String]) = {
    val (fs, root) = fsOf(spark, dir)
    val gen = head(fs, root)
    (gen, manifestFiles(fs, root, gen))
  }

  /** The committed file list (store-relative) of the current
    * generation. */
  private[graft] def currentFiles(spark: SparkSession, dir: String): Seq[String] =
    snapshot(spark, dir)._2

  /** The committed file list AS OF a pinned generation (the bucketed
    * stores' time-travel surface; same contract as `read(dir, gen)`). */
  private[graft] def filesAsOf(spark: SparkSession, dir: String,
                               gen: Long): Seq[String] = {
    val (fs, root) = fsOf(spark, dir)
    require(gen > 0L, s"generation must be >= 1 at $dir")
    require(gen <= head(fs, root), s"generation $gen never committed at $dir")
    manifestFiles(fs, root, gen)
  }

  /** Publish `files` as generation `base + 1`, where `base` is the
    * generation the caller read the state it transformed from
    * ([[snapshot]]); returns the new generation. Untouched parts of
    * the base generation are reused by reference — cost O(delta +
    * touched parts). FAIL-FAST: when another writer committed after
    * `base`, this throws the `stale writer` error — the
    * read-modify-write path; append-shaped callers use
    * [[publishAppend]]. */
  private[graft] def publishNext(spark: SparkSession, dir: String,
                                 files: Seq[String], base: Long,
                                 op: String = "publish"): Long = {
    val (fs, root) = fsOf(spark, dir)
    fs.mkdirs(ledger(root))
    if (!commit(fs, root, base, deltaLines(fs, root, _, files), op))
      throw new IllegalStateException(
        s"stale writer at $dir: generation ${base + 1} already committed " +
          s"— this operation read generation $base, which a concurrent " +
          "writer superseded; publishing would drop that writer's lines")
    base + 1
  }

  /** Append commit (the iceberg retry loop for the one op shape that
    * commutes): publish the head's parts plus one part listing
    * `newFiles`; on a conflict re-read the head and relink. The part
    * is written once, only the list is rebuilt per attempt, and there
    * is no sleep or cap: every conflict proves another commit landed.
    * `newFiles` must be FRESH files no generation references (an
    * append's own immutable output). */
  private[graft] def publishAppend(spark: SparkSession, dir: String,
                                   newFiles: Seq[String],
                                   op: String = "append"): Long = {
    val (fs, root) = fsOf(spark, dir)
    fs.mkdirs(ledger(root))
    val part = writeManifestPart(fs, root, newFiles)
    var gen = head(fs, root)
    while (!commit(fs, root, gen, _ :+ part, op)) gen = head(fs, root)
    gen + 1
  }

  /** Bucket-grain write layout: hash the rows to their buckets at an
    * EXPLICIT width (r17, the LapLink rule) — `repartition(col)` at
    * the session default lets AQE coalesce the byte-tiny bucket
    * exchange to one partition, making ONE task create every bucket
    * file serially (measured: 0.35-0.5 s single-task write stages in
    * each BM25 build/append/compaction at sf0.1). One file per bucket
    * is preserved (a bucket never splits across hash partitions); the
    * width caps at the bucket count — the one-file contract's own
    * parallelism ceiling — and at the session's cores. */
  private[graft] def repartitionByBucket(df: DataFrame,
                                         nBuckets: Int): DataFrame =
    // width caps at the SESSION's shuffle width, not raw cores: the
    // narrowed-clone callers (corpus increment) deliberately run 8
    // partitions with AQE off, and pinning past that re-added the
    // task-scheduling overhead the clone exists to avoid (measured on
    // q_icorpus)
    df.repartition(math.max(1, math.min(nBuckets,
      df.sparkSession.sessionState.conf.numShufflePartitions)),
      org.apache.spark.sql.functions.col("bucket"))

  /** Data files (recursive, store-relative) under a freshly written
    * subtree — what a writer feeds [[publishNext]]. */
  private[graft] def partFiles(spark: SparkSession, dir: String,
                               rel: String): Seq[String] = {
    val (fs, root) = fsOf(spark, dir)
    filesUnder(fs, root, rel)
  }

  /** Plan over an exact store-relative file list (the reader's half:
    * resolve [[currentFiles]] once, select lines, read — the plan is
    * pinned to those files for its lifetime). The schema comes from
    * the first file's footer, read on the driver: every file a reader
    * selects is one artifact written by one schema, and building the
    * frame launches no job (inference would run one per read). */
  private[graft] def readFiles(spark: SparkSession, dir: String,
                               files: Seq[String]): DataFrame = {
    require(files.nonEmpty, s"no files to read under $dir")
    val (_, root) = fsOf(spark, dir)
    val paths = files.map(f => new Path(root, f))
    spark.read.schema(GraftBridge.parquetSchema(spark, paths.head))
      .parquet(paths.map(_.toString): _*)
  }

  /** Age past which a file no manifest references is an orphan that
    * [[retire]] may delete (a younger one may be a live writer's
    * unpublished output), and past which a staged `*.tmp` is debris. */
  private[graft] val TmpGraceMs: Long = 15L * 60L * 1000L

  /** Reclaim space behind a grace window of the newest
    * `keepGenerations` manifests (>= 1 — the head is always kept; the
    * caller sizes the window to its longest-running reader), at FILE
    * grain across every data subtree of the store:
    *  - manifests older than the window are dropped;
    *  - a data file or manifest part referenced only by dropped
    *    manifests is superseded and deleted;
    *  - a file or part no manifest on disk references is an orphan,
    *    deleted once older than [[TmpGraceMs]], as are staged `*.tmp`
    *    files;
    *  - directories left holding only job markers are pruned;
    *  - streaming replay markers below the newest are dropped (the
    *    newest `batch.<id>` marker's batch was published, so the
    *    stores' committed-max `src_batch` probe covers every lower
    *    id). */
  def retire(spark: SparkSession, dir: String, keepGenerations: Int = 2): Unit = {
    require(keepGenerations >= 1, "keepGenerations must be >= 1")
    val (fs, root) = fsOf(spark, dir)
    val gens = manifestGens(fs, root)
    if (gens.isEmpty) return
    val (kept, dropped) = gens.partition(_ > gens.last - keepGenerations)
    def refs(gs: Seq[Long]): Set[String] = gs.flatMap(g =>
      manifestOrEmpty(fs, root, g)._2).map(_.stripPrefix("@")).toSet
    def files(ps: Set[String]): Set[String] = ps.flatMap(p =>
      try partLines(fs, root, p)
      catch { case _: java.io.FileNotFoundException => Nil })
    val keptParts = refs(kept)
    val droppedParts = refs(dropped) -- keptParts
    val keptFiles = files(keptParts)
    val droppedFiles = files(droppedParts) -- keptFiles
    val orphanFloor = System.currentTimeMillis() - TmpGraceMs
    def doomed(s: org.apache.hadoop.fs.FileStatus, ref: String,
               keep: Set[String], superseded: Set[String]) =
      !keep(ref) && (superseded(ref) || s.getModificationTime < orphanFloor)

    // manifests first, in ascending order ([[commit]]'s stale check
    // relies on it): a crash after this point leaves the files they
    // referenced as orphans a later retire sweeps, never a manifest
    // naming missing files
    dropped.foreach(g => fs.delete(manifestPath(root, g), false))
    val newestBatch = fs.listStatus(ledger(root)).iterator
      .map(_.getPath.getName).filter(_.startsWith("batch."))
      .flatMap(_.stripPrefix("batch.").toLongOption)
      .maxOption.getOrElse(Long.MinValue)
    fs.listStatus(ledger(root)).foreach { s =>
      val n = s.getPath.getName
      val drop =
        (n.startsWith("mp_") && doomed(s, n, keptParts, droppedParts)) ||
        (n.startsWith("batch.") &&
          n.stripPrefix("batch.").toLongOption.exists(_ < newestBatch)) ||
        (n.endsWith(".tmp") && s.getModificationTime < orphanFloor)
      if (drop) { fs.delete(s.getPath, false); () }
    }

    /** True when something under `p` was deleted. */
    def sweep(p: Path): Boolean = {
      val deleted = fs.listStatus(p).map { s =>
        if (s.isDirectory) sweep(s.getPath)
        else !isMarker(s.getPath.getName) &&
          doomed(s, relative(root, s.getPath), keptFiles, droppedFiles) &&
          fs.delete(s.getPath, false)
      }.contains(true)
      // a dir left with only job markers (_SUCCESS and friends) holds
      // no live data — prune it once this sweep emptied it or it aged
      // out as an orphan; a fresh one may be a live writer's output
      val prune =
        fs.listStatus(p).forall(s => s.isFile && isMarker(s.getPath.getName)) &&
          (deleted || fs.getFileStatus(p).getModificationTime < orphanFloor)
      if (prune) fs.delete(p, true)
      deleted || prune
    }
    fs.listStatus(root).foreach { s =>
      if (s.isDirectory && !isMarker(s.getPath.getName)) sweep(s.getPath)
    }
  }
}
