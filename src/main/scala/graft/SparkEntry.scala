package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.Numeric._
import graft.olap.Relational
import graft.operators.{ConnectedComponents, Density, GapFill, Movement, Quality, Sessionize, TimeSeries}
import graft.dedup.{Decontaminate, Dedup, MinHashLSH}
import graft.text.{Chunker, Packing, TextFeatures}
import graft.vector.Similarity
import graft.streaming.StreamOps
import graft.multimodal.{Audio, Binary}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * query covers. Column names are aliased identically in `queries` and
  * `oracleSql` (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Shared epoch-second / (x, y) projection of the events table.
    * y comes from ONE schema-typed `from_json` parse of the props
    * document (sources.Ingest — the parse_xml analogue); the DuckDB
    * oracle extracts the same integer with a regexp, which is
    * value-identical on well-formed props. */
  private def eventsXY(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Ingest.eventsTyped(events(spark, dir))
      .withColumn("ts_s", unix_timestamp(col("ts")))
      .withColumn("x", col("value"))

  /** Per-video spot layout for the tracker-chain queries: user_id is
    * the timelapse stand-in; ids encode uid*1e7 + event_id and frames
    * uid*1e6 + day, so (a) no frame of one video is within gap reach
    * of another video's frames (days < 1e6) and (b) a spot's video is
    * recoverable from its id alone (event_id < 1e7 at any driver SF)
    * — which is what `divisionAwareByVideo`-style cogroups key on. */
  private def videoSpots(spark: SparkSession, dir: String): DataFrame =
    eventsXY(spark, dir).select(
      (col("user_id").cast("long") * 10000000L + col("event_id")).as("id"),
      (col("user_id").cast("long") * 1000000L + expr("ts_s div 86400")).as("frame"),
      col("x"), col("y"))

  /** The build-once/serve-forever NN-descent graph over `dir`'s
    * embeddings: built into /tmp on first touch (bit-deterministic),
    * loaded thereafter — q_walk (serving) and q_gdedup (dedup) both
    * consume THIS persisted artifact, so their measured cost is the
    * serving/clustering path; the build is q_nnd's measured cost.
    * The cache dir is keyed by an impl version tag AND a CONTENT
    * fingerprint of the corpus (one cheap aggregate over ids +
    * embeddings), so neither a build change nor regenerated test
    * data can ever serve a stale artifact — a stale dir is simply
    * orphaned. Concurrency: the build lands in a per-process staging
    * dir and is PUBLISHED by one atomic rename, so two JVMs racing
    * (bench + scaling, parallel suites) never observe a half-written
    * dir and never clobber each other — the loser discards its
    * staging copy and reads the winner's. Local-filesystem cache by
    * design (it exists so the registry measures SERVING, not
    * rebuilds); a shared deployment would key by job id on the
    * cluster store instead. */
  private def knnIndex(s: SparkSession, d: String): DataFrame =
    cachedKnn(s, d, "v2", embeddings(s, d))

  /** The 80% base-subset graph the incremental-insert query extends
    * (vec_id % 5 != 0 — the other 20% is q_knn_ins's arrival batch),
    * cached like [[knnIndex]] so the registry measures the INSERT
    * path (search + sliver merge), never the base build. */
  private def knnBaseIndex(s: SparkSession, d: String): DataFrame =
    cachedKnn(s, d, "v2b",
      embeddings(s, d).filter(pmod(col("vec_id"), lit(5)) =!= 0))

  private def cachedKnn(s: SparkSession, d: String, tag: String,
                        emb: DataFrame): DataFrame = {
    val fpRow = emb.agg(
      count(lit(1)),
      sum(pmod(xxhash64(col("vec_id"), col("embedding")),
        lit(1000000007L)))).head()
    val fp = s"${fpRow.getLong(0)}_${fpRow.getLong(1)}"
    val dir =
      s"/tmp/graft_knn_${tag}_${new java.io.File(d).getName}_$fp"
    publishCached(s, dir) { stage =>
      graft.vector.IndexStore.saveKnn(stage,
        graft.vector.NnDescent.build(emb, k = 10,
          maxRounds = 6, convergedFrac = 0.01), 10)
    }
    graft.vector.IndexStore.loadKnn(s, dir)._1
  }


  /** Run independent store appends as CONCURRENT jobs (r17): appends
    * commute, and the snapshot stores' put-if-absent manifest commit
    * lands every concurrent appender, equal to the sequential result
    * (SnapshotStoreConcurrencySpec/Bm25SnapshotSpec pins), so
    * the lifecycle queries run their independent arrival batches in
    * parallel instead of serializing three full append latencies. */
  private def inParallel(actions: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = actions.map(a => new Thread(() =>
      try a() catch { case t: Throwable => errs.add(t); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  private def rmTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree)
    f.delete(); ()
  }

  /** Build-once publish of a /tmp manifest-store artifact dir: `build`
    * writes into a staged dir whose LAST write commits the store's
    * manifest (a committed manifest is the completion marker), then
    * an atomic rename publishes. Torn-dir replacement is serialized
    * through a lock file so two racers cannot delete each other's
    * freshly published artifact; the lock loser waits for the
    * winner's publish instead of deleting. */
  private def publishCached(s: SparkSession, dir: String)
                           (build: String => Unit): Unit = {
    val target = new java.io.File(dir)
    def published = graft.sources.SnapshotStore.currentGen(s, dir) > 0L
    if (published) return
    val stage = new java.io.File(
      dir + ".stage." + java.lang.ProcessHandle.current().pid())
    build(stage.getPath)
    if (!stage.renameTo(target)) {
      // rename refuses when the target exists: either another process
      // published a complete artifact (keep theirs), or a crashed run
      // left a torn dir (no manifest). Every failed rename re-checks
      // published and throws rather than returning a missing artifact.
      if (!published) {
        val lock = new java.io.File(dir + ".lock")
        if (lock.createNewFile()) {
          try {
            if (!published) {
              rmTree(target)
              if (!stage.renameTo(target) && !published)
                throw new IllegalStateException(
                  s"could not publish artifact at $dir")
            }
          } finally { lock.delete(); () }
        } else {
          val deadline = System.currentTimeMillis() + 600000L
          while (!published && System.currentTimeMillis() < deadline)
            Thread.sleep(500L)
          if (!published)
            throw new IllegalStateException(
              s"timed out waiting for artifact publish at $dir")
        }
      }
      if (stage.exists()) rmTree(stage)
    }
  }

  /** The cached 31g3 base artifact set (the oldest ~95%-of-ids slice
    * of the %11 corpus built once per dataset) and the id threshold —
    * so the
    * registry q_icorpus measures the INCREMENT path, never the base
    * build, exactly like [[knnBaseIndex]] for q_knn_ins. The build's
    * manifest commit, its LAST write, doubles as the publish-completion
    * marker. */
  private val icorpusBaseCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def icorpusBase(s: SparkSession, d: String): (String, Long) =
    // the fingerprint scan + publish check are cache-keying overhead,
    // not increment work; the dataset dir is immutable for the JVM's
    // lifetime, so one resolution per dataset serves every invocation
    icorpusBaseCache.computeIfAbsent(d, _ => icorpusBaseResolve(s, d))

  private def icorpusBaseResolve(s: SparkSession, d: String): (String, Long) = {
    val docs = documents(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 0)
    // base = the oldest ~95% of ids; the batch is the newest ~5% — a
    // daily-increment shape (the bounded-batch contract: a batch of
    // corpus magnitude is a rebuild, and with the synthetic corpus's
    // shared vocabulary a 30% batch drags most of the base into the
    // affected set, measuring a disguised rebuild instead)
    // one pass serves the threshold AND the cache key: (count, max id,
    // per-row hash sum over id + size + a fixed-width TEXT PREFIX).
    // The prefix is the content signal (r17 — the r16 id+length-only
    // key silently reused stale artifacts for a regenerated dataset
    // with identical ids and lengths but different text); hashing 64
    // chars instead of the whole payload keeps the key scan cheap
    // relative to the r15 full-text key while making an id/length
    // collision require identical leading text everywhere
    val kRow = corpus.agg(max(col("doc_id")), count(lit(1)),
      sum(pmod(xxhash64(col("doc_id"), col("n_chars"),
        substring(col("text"), 1, 64)), lit(1000000007L)))).head()
    val t = kRow.getLong(0) / 100 * 95
    val base = corpus.filter(col("doc_id") <= t)
    val fp = s"${kRow.getLong(1)}_${kRow.getLong(2)}"
    val dir =
      s"/tmp/graft_icorpus_v5_${new java.io.File(d).getName}_$fp"
    publishCached(s, dir) { stage =>
      graft.text.CorpusIncrement.build(base,
        docs.filter(col("doc_id") % 11 === 0), stage,
        rates = Map("en" -> 0.25, "zh" -> 0.8))
      ()
    }
    (dir, t)
  }

  /** Recursive local-fs dir copy (the increment mutates its store, so
    * each invocation works on a fresh copy of the cached base). The
    * top level fans out on a parallel collection — the stores copied
    * here are hundreds of small files, driver-side and IO-bound, so
    * the sequential walk was pure latency. Files HARD-LINK instead of
    * byte-copying (r17): every store file is immutable once written —
    * a mutating increment only ADDS parts and manifests, and
    * retirement only unlinks names — so the link-share is invisible
    * to both trees and skips the data IO
    * (falls back to a byte copy across filesystems). */
  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      val cs = src.listFiles()
      if (cs != null)
        java.util.Arrays.stream(cs).parallel().forEach(c =>
          copyTree(c, new java.io.File(dst, c.getName)))
    } else {
      try java.nio.file.Files.createLink(dst.toPath, src.toPath)
      catch { case _: Exception =>
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      ()
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the full
    * CellPhe chain (QC filter -> movement -> trajectory features)
    * composed as one Spark plan. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 relational core -------------------------------------
    "q01_pricing_summary" -> ((s, d) => Relational.pricingSummary(lineitem(s, d))),
    "q03_topk_revenue" -> ((s, d) =>
      Relational.topkRevenue(lineitem(s, d), orders(s, d), customer(s, d))),
    "q05_local_supplier" -> ((s, d) =>
      Relational.localSupplier(lineitem(s, d), orders(s, d), customer(s, d),
        supplier(s, d), nation(s, d), region(s, d))),
    "q06_filter_agg" -> ((s, d) => Relational.filterAgg(lineitem(s, d))),
    "q_window_rank" -> ((s, d) => Relational.windowRank(orders(s, d))),
    "q_anti_join" -> ((s, d) =>
      Relational.customersWithoutOrders(customer(s, d), orders(s, d))),
    "q02_min_per_group" -> ((s, d) =>
      Relational.minPricePerPart(lineitem(s, d), part(s, d))),
    "q13_order_histogram" -> ((s, d) =>
      Relational.orderCountHistogram(customer(s, d), orders(s, d))),
    "q16_distinct_suppliers" -> ((s, d) =>
      Relational.distinctSuppliersPerType(lineitem(s, d), part(s, d))),
    "q18_large_orders" -> ((s, d) =>
      Relational.largeOrders(lineitem(s, d), orders(s, d), 150.0)),
    "q22_idle_customers" -> ((s, d) =>
      Relational.idleRichCustomers(customer(s, d), orders(s, d))),
    "q04_late_priority" -> ((s, d) =>
      Relational.latePriorityOrders(orders(s, d), lineitem(s, d))),
    "q07_nation_volume" -> ((s, d) =>
      Relational.nationVolume(lineitem(s, d), orders(s, d), customer(s, d),
        supplier(s, d), nation(s, d), "NATION_3", "NATION_7")),
    "q10_returned_items" -> ((s, d) =>
      Relational.returnedItemReport(lineitem(s, d), orders(s, d), customer(s, d),
        nation(s, d))),
    "q11_important_parts" -> ((s, d) =>
      Relational.importantParts(lineitem(s, d), 1.5)),
    "q12_late_counts" -> ((s, d) =>
      Relational.latePriorityCounts(lineitem(s, d), orders(s, d))),
    "q14_promo_revenue" -> ((s, d) =>
      Relational.promoRevenue(lineitem(s, d), part(s, d))),
    "q15_top_supplier" -> ((s, d) =>
      Relational.topSupplierRevenue(lineitem(s, d), supplier(s, d))),
    "q17_small_qty" -> ((s, d) =>
      Relational.smallQuantityRevenue(lineitem(s, d), part(s, d), "Brand#13")),
    "q19_disjunctive" -> ((s, d) =>
      Relational.disjunctiveRevenue(lineitem(s, d), part(s, d))),
    "q21_last_shipper" -> ((s, d) =>
      Relational.lastShipperBlame(lineitem(s, d), supplier(s, d))),
    "q_rollup" -> ((s, d) => Relational.rollupCounts(events(s, d))),
    "q_cube" -> ((s, d) => Relational.cubeCounts(events(s, d))),
    "q_pivot" -> ((s, d) => Relational.pivotCounts(events(s, d),
      Seq("click", "view", "purchase", "signup", "error"))),
    "q_set_except" -> ((s, d) => Relational.clickersWithoutPurchase(events(s, d))),
    // partsupp family: the relation is synthesized deterministically on
    // both engines (olap.Partsupp), unblocking the TPC-H shapes that
    // need it
    "q02_regional_cheapest" -> ((s, d) =>
      Relational.regionalCheapestSupplier(
        graft.olap.Partsupp.build(part(s, d), supplier(s, d)),
        part(s, d), supplier(s, d), nation(s, d), region(s, d),
        "EUROPE", "STANDARD", 15)),
    "q08_market_share" -> ((s, d) =>
      Relational.marketShare(lineitem(s, d), orders(s, d), customer(s, d),
        supplier(s, d), nation(s, d), region(s, d), part(s, d),
        "ASIA", "ECONOMY", "NATION_3")),
    "q09_product_profit" -> ((s, d) =>
      Relational.productProfit(lineitem(s, d), orders(s, d),
        graft.olap.Partsupp.build(part(s, d), supplier(s, d)),
        part(s, d), supplier(s, d), nation(s, d), "widget")),
    "q20_excess_suppliers" -> ((s, d) =>
      Relational.excessSuppliers(lineitem(s, d),
        graft.olap.Partsupp.build(part(s, d), supplier(s, d)),
        part(s, d), supplier(s, d), nation(s, d), "small")),

    // ---- §2.2 CellPhe pipeline operators --------------------------
    "q_filter_min_obs" -> ((s, d) =>
      Quality.filterSizeAndObservations(events(s, d), "user_id", col("value"), 10.0, 50L)
        .select("event_id", "user_id", "value")),
    "q_sessionize" -> ((s, d) =>
      Sessionize(events(s, d), "user_id", col("event_id"), unix_timestamp(col("ts")), 21600L)
        .select("event_id", "user_id", "session_id")),
    "q_movement" -> ((s, d) =>
      Movement.features(eventsXY(s, d), "user_id", col("event_id"), col("ts_s"),
          col("x"), col("y"))
        .select(col("event_id"), col("user_id"),
          cround(col("dis"), 4).as("dis"), cround(col("trac"), 4).as("trac"),
          cround(col("d2t"), 6).as("d2t"), cround(col("vel"), 6).as("vel"))),
    // track-interaction: per-(track, day) canonical positions (min
    // event), grid-binned proximity candidates at maxDist 3, then the
    // decimal-exact directional correlation over shared step frames
    "q_interact" -> ((s, d) => {
      val e = eventsXY(s, d).select(col("user_id"),
        expr("ts_s div 86400").as("f"), col("event_id"), col("x"), col("y"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("f")).orderBy(col("event_id"))
      val first = e.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
      graft.operators.Interaction.pairs(first, col("user_id"), col("f"),
        col("x"), col("y"), maxDist = 3.0, minShared = 3)
    }),
    "q_frame_stats" -> ((s, d) =>
      Quality.frameStats(events(s, d).withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        Seq(col("event_type"), col("day")), col("value"))),
    // multi-feature stats in ONE shuffle (frame_features_image.py's
    // many-static-features-per-cell shape)
    "q_frame_stats_multi" -> ((s, d) =>
      Quality.frameStatsMulti(
        eventsXY(s, d).withColumn("plen", length(col("props")).cast("double")),
        Seq(col("event_type")),
        Seq("value" -> col("value"), "y" -> col("y").cast("double"),
          "plen" -> col("plen")))),
    "q_qc_track_hist" -> ((s, d) => {
      val ev = events(s, d)
      Quality.trackLengthHistogram(ev,
        Quality.filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L),
        "user_id")
    }),
    "q_qc_frame_dist" -> ((s, d) =>
      Quality.frameDistanceStats(eventsXY(s, d), "user_id", col("ts_s"),
        col("x"), col("y"))),
    "q_ts_elevation" -> ((s, d) =>
      TimeSeries.elevation(events(s, d), "user_id", col("event_id"), col("value"))),
    "q_ts_wavelet" -> ((s, d) =>
      TimeSeries.haarEnergies(events(s, d), "user_id", col("event_id"), col("value"))),
    "q_ts_autocorr" -> ((s, d) =>
      TimeSeries.lag1Autocorr(events(s, d), "user_id", col("event_id"), col("value"))),
    "q_ts_trend" -> ((s, d) =>
      TimeSeries.linearTrend(events(s, d), "user_id", col("event_id"), col("value"))),
    "q_ts_moments" -> ((s, d) =>
      TimeSeries.momentStats(events(s, d), "user_id", col("value"))),
    "q_ts_median" -> ((s, d) =>
      TimeSeries.trackMedian(events(s, d), "user_id", col("value"))),
    // ~20-variable trajectory features in one shuffle (here 3 stand-ins)
    "q_ts_elev_multi" -> ((s, d) =>
      TimeSeries.elevationMulti(
        eventsXY(s, d).withColumn("plen", length(col("props")).cast("double")),
        "user_id", col("event_id"),
        Seq("value" -> col("value"), "y" -> col("y").cast("double"),
          "plen" -> col("plen")))),
    "q_qc_cells_per_frame" -> ((s, d) =>
      Quality.cellsPerFrame(events(s, d), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd"))),
    "q_density_grid" -> ((s, d) =>
      Density.grid(eventsXY(s, d), Seq(col("event_type")), col("x"), col("y"), 20.0, 10.0)),
    "q_qc_track_summary" -> ((s, d) =>
      Quality.trackSummary(events(s, d), "user_id", col("ts"), col("value"))),
    "q_qc_duplicates" -> ((s, d) =>
      Quality.duplicates(events(s, d), "user_id",
        unix_timestamp(date_trunc("day", col("ts"))))),
    "q_stream_window" -> ((s, d) => StreamOps.windowedCounts(events(s, d))),
    "q_sketch_stats" -> ((s, d) =>
      operators.Sketches.approxStats(events(s, d), Seq(col("event_type")),
        col("user_id"), col("value"))),
    // incremental distinct counting: per-(type, day) mergeable HLL
    // sketch artifacts unioned to type grain — the batch rollup that
    // never rescans yesterday. Rows-only (DuckDB's approx_distinct is
    // a different algorithm); SketchesSpec pins union==one-shot
    // exactly, the error bound vs exact, and the parquet round-trip
    "q_hll" -> ((s, d) => {
      val ev = events(s, d).withColumn("_day",
        expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS INT)"))
      operators.Sketches.unionEstimate(
        operators.Sketches.sketchBy(ev,
          Seq(col("event_type"), col("_day")), col("user_id")),
        Seq(col("event_type")))
    }),
    // incremental QUANTILE artifacts (the 7i2 twin, r12): three batch
    // sketches of event value per type unioned + estimated — the
    // bottom-k-by-Mix64 sample is a semilattice, so the union equals
    // the one-shot sketch BIT-EXACTLY and the whole incremental chain
    // replays in DuckDB HUGEINT (splitmix64 priorities, integer rank)
    "q_qsk" -> ((s, d) => {
      val ev = events(s, d)
      val parts = Seq(0, 1, 2).map(i =>
        operators.QuantileSketch.sketchBy(
          ev.filter(pmod(col("event_id"), lit(3)) === i),
          Seq(col("event_type")), col("event_id"), col("value"), k = 64))
      operators.QuantileSketch.estimate(
        parts.reduce(_ unionByName _), Seq("event_type"), 64, Seq(50, 95))
    }),
    "q_range_join" -> ((s, d) => {
      import s.implicits._
      val tiers = Seq((0.0, 50.0, "low"), (50.0, 150.0, "mid"),
        (150.0, 1000.0, "high")).toDF("lo", "hi", "tier")
      operators.RangeJoin.binned(events(s, d).select("event_id", "value"),
          tiers, col("value"), 50.0)
        .select("event_id", "tier")
    }),
    // Same join as q_range_join but written NAIVELY (inequality-only
    // condition) and rewritten to the binned plan by the injected
    // optimizer rule (plans.RangeJoinRule). The bin conf stays set for
    // the session — safe: the rule only fires on inequality-only inner
    // joins, which no other query has, and the rewrite is
    // semantics-preserving for any positive width.
    "q_rjr" -> ((s, d) => {
      import s.implicits._
      s.conf.set(graft.plans.RangeJoinRule.BinConf, "50")
      val tiers = Seq((0.0, 50.0, "low"), (50.0, 150.0, "mid"),
        (150.0, 1000.0, "high")).toDF("lo", "hi", "tier")
      events(s, d).select("event_id", "value")
        .join(tiers, col("value") >= col("lo") && col("value") < col("hi"))
        .select("event_id", "tier")
    }),
    "q_gap_fill" -> ((s, d) =>
      GapFill.linear(events(s, d), "user_id",
        expr("unix_timestamp(ts) div 3600"), col("value"))),
    // the reference's ROI/feature-row NAMING contract
    // (parse_xml.py:195-218): CellID/FrameID 1-indexed and the
    // per-video zero-padded FrameID-CellID-SpotID filename every
    // downstream CellPhe stage joins on — window maxima + lpad, fully
    // SQL-expressible, so the oracle replays it verbatim
    "q_roiname" -> ((s, d) => {
      val sp = eventsXY(s, d).select(
        col("user_id").as("video"), col("event_id").as("spot"),
        expr("ts_s div 86400").as("frame"),
        (col("user_id") * 100 + expr("ts_s div 604800")).as("track"))
      operators.RoiName.filenames(sp, col("video"), col("track"),
          col("frame"), col("spot"))
        .select("video", "spot", "cell_id", "frame_id", "roi_filename")
    }),
    "q_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), col("event_id").as("sig_id"),
          col("value").as("sig_value"))
      operators.AsOfJoin.lastPrior(
          ev.select("event_id", "user_id", "event_type"),
          signups.select("user_id", "event_id", "sig_id", "sig_value"),
          "user_id", "event_id",
          Seq("sig_id" -> "last_signup_id", "sig_value" -> "last_signup_value"))
        .select(col("event_id"), col("user_id"), col("last_signup_id"),
          cround(col("last_signup_value"), 4).as("last_signup_value"))
    }),
    "q_connected_components" -> ((s, d) =>
      // order/part bipartite graph from lineitem (disjoint id spaces);
      // oracled via unrolled min-label propagation (see ccOracleSql)
      ConnectedComponents.run(lineitem(s, d)
        .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst")))),
    "q_track_split" -> ((s, d) => {
      // lineage forest from the typed ingest builder (see
      // sources.Ingest.lineageForest); the DuckDB oracle computes the
      // closed-form track labels (odd part of the heap index) while
      // Spark runs the full distributed operator.
      val (spots, edges) = graft.sources.Ingest.lineageForest(events(s, d))
      // lineage ids encode their video (uid * 1e6 + rn) and edges never
      // cross videos, so the cogroup-by-video variant applies: one
      // shuffle per input instead of iterative labeling rounds
      operators.TrackAssignment.divisionAwareByVideo(spots, edges, _ / 1000000L)
    }),
    // the tracker stage itself: distance-bounded NN spot linking over
    // (frame, x, y) — hourly frames over the event stream as the
    // timelapse stand-in; maxDist 50 in a 490x99 coordinate box links a
    // meaningful subset, gapFrames 2 exercises the gap path
    "q_link_nn" -> ((s, d) => {
      val sp = eventsXY(s, d).select(col("event_id").as("id"),
        expr("ts_s div 3600").as("frame"), col("x"), col("y"))
      operators.SpotLink.nearest(sp, col("id"), col("frame"), col("x"), col("y"),
        maxDist = 50.0, gapFrames = 2)
    }),
    // exact per-frame-pair assignment (SimpleSparseLAP analogue):
    // globally optimal gated matching via Hungarian per frame pair —
    // not SQL-expressible (rows-only; optimality is spec-pinned
    // against permutation brute force in LapLinkSpec)
    "q_link_lap" -> ((s, d) => {
      val sp = eventsXY(s, d).select(col("event_id").as("id"),
        expr("ts_s div 3600").as("frame"), col("x"), col("y"))
      operators.LapLink.frameToFrame(sp, col("id"), col("frame"),
        col("x"), col("y"), maxDist = 50.0)
    }),
    // mutual-NN 1-1 matching (the conservative LAP-tracker
    // approximation): same spot layout and parameters as q_link_nn
    "q_link_mutual" -> ((s, d) => {
      val sp = eventsXY(s, d).select(col("event_id").as("id"),
        expr("ts_s div 3600").as("frame"), col("x"), col("y"))
      operators.SpotLink.mutualNearest(sp, col("id"), col("frame"), col("x"), col("y"),
        maxDist = 50.0, gapFrames = 2)
    }),
    // the Overlap end of the tracker menu: bbox-IoU linking over the
    // synthetic ROI outlines (same spot layout; boxes from PolygonShape)
    "q_link_iou" -> ((s, d) => {
      val ev = eventsXY(s, d)
      val sp = ev
        .withColumn("_shape", graft.functions.PolygonShape(
          operators.RoiShape.syntheticRoi(col("event_id"), col("x"), col("y"))))
        .select(col("event_id").as("id"), expr("ts_s div 3600").as("frame"),
          col("_shape.min_x").as("x0"), col("_shape.max_x").as("x1"),
          col("_shape.min_y").as("y0"), col("_shape.max_y").as("y1"))
      operators.SpotLink.overlap(sp, col("id"), col("frame"),
        col("x0"), col("x1"), col("y0"), col("y1"),
        minIou = 0.01, cellSize = 10.0, gapFrames = 2)
    }),
    // the closed chain: positions -> NN linking -> division-aware track
    // assignment (segmentation output to tracks with zero manual edges).
    // Spots are keyed per VIDEO (user_id as the timelapse stand-in, day
    // frames): ids encode uid*1e7 + event_id and frames uid*1e6 + day,
    // so linking never crosses videos and labeling takes the cogroup
    // path (divisionAwareByVideo, ONE shuffle per input) instead of
    // iterative rounds — the production plan at 100 TB, where the
    // corpus is millions of videos.
    "q_link_track" -> ((s, d) =>
      // fused: NN linking + division-aware labels in ONE cogroup per
      // video (spec-pinned equal to SpotLink.nearest ->
      // divisionAwareByVideo; same oracle)
      operators.TrackAssignment.nearestTracksByVideo(videoSpots(s, d),
        maxDist = 50.0, gapFrames = 2, _ / 10000000L)),
    // TrackMate SparseLAP's SECOND phase (gap closing): NN linking with
    // gap 1 fragments tracks at longer occlusions; the segment-level
    // global assignment re-joins ends to starts within 3 frames and
    // 50 px. Exact Hungarian per component — not SQL-expressible
    // (rows-only; optimality and the planted-occlusion rejoin are
    // spec-pinned in LapGapCloseSpec).
    "q_gc" -> ((s, d) => {
      val sp = videoSpots(s, d)
      // labels via the fused one-cogroup tracker (identical to the
      // staged NN -> divisionAwareByVideo chain, spec-pinned)
      val labels = operators.TrackAssignment.nearestTracksByVideo(sp,
        maxDist = 50.0, gapFrames = 1, _ / 10000000L)
      operators.LapLink.gapClose(sp, labels, col("id"), col("frame"),
        col("x"), col("y"), maxDist = 50.0, maxGap = 3, _ / 10000000L)
    }),
    // the FULL second phase: gap closing + track splitting + merging
    // in one global assignment, with the merge block running the
    // reference templates' universal {AREA: 0.5} feature penalty
    // (templates/cyto3.json — a deterministic id-derived stand-in area
    // since events carry none; rows-only, spec-pinned in
    // LapSplitMergeSpec; excluded from the bench line for budget)
    "q_gcf" -> ((s, d) => {
      val sp = videoSpots(s, d)
        .withColumn("area", pmod(col("id"), lit(97L)).cast("double") + 10.0)
      val labels = operators.TrackAssignment.nearestTracksByVideo(sp,
        maxDist = 50.0, gapFrames = 1, _ / 10000000L)
      operators.LapLink.gapCloseFull(sp, labels, col("id"), col("frame"),
        col("x"), col("y"), maxDist = 50.0, maxGap = 3, _ / 10000000L,
        mergePenalties = Seq((col("area"), 0.5)))
    }),
    // the composed two-phase LAP tracker: exact frame-to-frame
    // assignment -> labels+gap-close+relabel FUSED into one per-video
    // cogroup (divisionAwareGapClosedByVideo — spec-pinned equal to
    // the staged divisionAwareByVideo -> closeGaps chain; rows-only:
    // both phases are Hungarian)
    "q_gct" -> ((s, d) => {
      val sp = videoSpots(s, d)
      val edges = operators.LapLink.frameToFrame(sp, col("id"), col("frame"),
        col("x"), col("y"), maxDist = 50.0)
      operators.TrackAssignment.divisionAwareGapClosedByVideo(
        sp, edges.select("src", "dst"),
        maxDist = 50.0, maxGap = 3, _ / 10000000L)
    }),
    // batch Kalman-gated tracking (constant-velocity prediction,
    // cogroup per video; shares its per-frame transition with the
    // streaming form — rows-only, parity spec-pinned in KalmanLinkSpec)
    "q_kf" -> ((s, d) => {
      val sp = videoSpots(s, d)
      operators.KalmanLink.tracks(sp, col("id"), col("frame"),
        col("x"), col("y"), maxDist = 50.0, gapFrames = 2, _ / 10000000L)
    }),
    // adaptive (full-covariance) Kalman tracking — the AdvancedKalman
    // analogue (rows-only, spec-pinned in KalmanAdaptiveSpec; like
    // q_kf, excluded from the bench line for budget)
    "q_kf2" -> ((s, d) => {
      val sp = videoSpots(s, d)
      operators.KalmanAdaptive.tracks(sp, col("id"), col("frame"),
        col("x"), col("y"), maxDist = 50.0, gapFrames = 2, _ / 10000000L)
    }),
    // ROI polygon shape features: deterministic synthetic ROIs (the
    // container has no segmentation stack) -> codegen'd shoelace
    // area/perimeter/bbox -> derived circularity/aspect; the oracle
    // mirrors the vertex construction and geometry with list ops.
    "q_roi_shape" -> ((s, d) => {
      val ev = eventsXY(s, d)
      operators.RoiShape.features(
          ev.withColumn("roi", operators.RoiShape.syntheticRoi(
            col("event_id"), col("x"), col("y"))),
          col("roi"))
        .select(col("event_id"), col("n_vertices"),
          cround(col("area"), 4).as("area"),
          cround(col("perimeter"), 4).as("perimeter"),
          cround(col("circularity"), 6).as("circularity"),
          cround(col("bbox_w"), 4).as("bbox_w"),
          cround(col("bbox_h"), 4).as("bbox_h"),
          cround(col("aspect"), 6).as("aspect"))
    }),
    // TrackMate Spot2DShapeAnalyzer parity (parse_xml.py's CSV
    // geometry columns): SHAPE_INDEX = P/sqrt(A) and the
    // equivalent-disk RADIUS = sqrt(A/pi), both SQL-derivable from
    // the oracled area/perimeter chain; SOLIDITY (convex-hull ratio,
    // not SQL-expressible) is spec-pinned in RoiShapeSpec against a
    // brute-force hull
    "q_roi_tm" -> ((s, d) => {
      val ev = eventsXY(s, d)
      operators.RoiShape.trackmateDescriptors(
          ev.withColumn("roi", operators.RoiShape.syntheticRoi(
            col("event_id"), col("x"), col("y"))),
          col("roi"))
        .select(col("event_id"),
          cround(col("shape_index"), 6).as("shape_index"),
          cround(col("radius"), 4).as("radius"))
    }),
    // timelapse input normalization (main.nf's four-way dispatch +
    // natural-sort frame_%05d naming contract): a synthetic raw-files
    // table from events — odd timelapses hold per-frame TIFFs, even
    // ones JPEGs, both with SPACES in the names and variable-width
    // numbers so the natural sort genuinely differs from the
    // lexicographic one; the oracle ranks by the numeric id the names
    // embed (the definition of natural order on this family), knows
    // the single-file-timelapse 'stack' dispatch (a lone TIFF is a
    // stack of coalesce(pages,1)=1 page, frame_id 1 — so a user_id
    // with one event agrees at any SF), and emits the SCRUBBED
    // src_file every kind now reports (r15). OME and multi-page
    // stack dispatch are spec-pinned (TimelapseIngestSpec)
    "q_tlm" -> ((s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val files = ev.select(col("user_id").as("timelapse"),
        concat(lit("img "), col("event_id").cast("string"),
          when(col("user_id") % 2 === 0, lit(".jpeg"))
            .otherwise(lit(".tif"))).as("path"),
        lit(null).cast("int").as("pages"))
      sources.TimelapseIngest.manifest(files,
        Seq.empty[(Long, String)].toDF("timelapse", "xml"))
    }),
    // the shape features feeding the one-shuffle multi-feature stats
    // (frame_features_image.py's static features -> summary tables)
    "q_roi_stats" -> ((s, d) => {
      val ev = eventsXY(s, d)
      val f = operators.RoiShape.features(
        ev.withColumn("roi", operators.RoiShape.syntheticRoi(
          col("event_id"), col("x"), col("y"))),
        col("roi"))
      Quality.frameStatsMulti(f, Seq(col("event_type")),
        Seq("area" -> col("area"), "perim" -> col("perimeter"),
          "circ" -> col("circularity")))
    }),
    "q_mm_decode" -> ((s, d) =>
      Binary.decodeMeta(s, Binary.withPayload(documents(s, d))).toDF()),
    "q_mm_frames" -> ((s, d) =>
      Binary.sampleFrameFeatures(s, Binary.withPayload(documents(s, d)), everyK = 2)
        .toDF()
        .withColumn("mean_px", graft.functions.Numeric.cround(col("mean_px"), 4))),
    // cooccurrence (GLCM/Haralick) + first-order texture features per
    // sampled frame. Oracled (r8): feature sums accumulate per-term
    // decimal-quantized at scale 8 (Texture.DecSum — the BigramScore
    // contract), so DuckDB's SUM(CAST(term AS DECIMAL(28,8))) over the
    // relationally-rebuilt stub pixels reproduces every value exactly
    // in any aggregation order; math pinned by TextureGlcmSpec's
    // hand-computed matrices
    "q_glcm" -> ((s, d) => {
      val f = Binary.sampleFrameGlcm(s, Binary.withPayload(documents(s, d)), everyK = 2)
        .toDF()
      val r4 = Seq("glcm_contrast", "glcm_homog", "glcm_energy", "glcm_entropy",
        "glcm_corr", "px_mean", "px_sd", "px_skew", "px_iqr")
      r4.foldLeft(f)((df, c) => df.withColumn(c, graft.functions.Numeric.cround(col(c), 4)))
    }),
    // s16le PCM frame features (rms/zcr/peak) — the audio-side
    // multimodal path; the byte-to-sample decode is real (no codec
    // needed for raw PCM), math pinned by AudioSpec. Oracled: DuckDB
    // replays the little-endian byte decode via hex() char pairs, and
    // rms is deterministic (integer sum of squares + one IEEE sqrt).
    "q_audio" -> ((s, d) =>
      Audio.frameFeatures(s, Binary.withPayload(documents(s, d)),
        frameLen = 32, hop = 16).toDF()),
    // voice-activity segmentation over the q_audio frame features:
    // rms-gated frames merged into consecutive-index islands — the
    // silence-removal step of an audio corpus build. Gate compares
    // the ALREADY-ROUNDED rms so engines agree at the boundary;
    // oracled end-to-end (the q_audio s16le decode CTEs + SQL
    // gaps-and-islands)
    "q_vad" -> ((s, d) =>
      Audio.vadSegments(
        Audio.frameFeatures(s, Binary.withPayload(documents(s, d)),
          frameLen = 32, hop = 16).toDF(),
        rmsGate = 25500.0)),
    // audio near-dup fingerprinting: the loudness-contour signature
    // (signs of successive frame-energy deltas, MSB-first) grouped
    // into duplicate clusters with the canonical min-id contract;
    // oracled end-to-end through the s16le decode replay
    "q_afp" -> ((s, d) =>
      Audio.rmsFingerprint(
        Audio.frameFeatures(s, Binary.withPayload(documents(s, d)),
          frameLen = 32, hop = 16).toDF(),
        bits = 12)),
    // video scene-cut detection over the sampled frame features —
    // per-asset temporal segmentation (clip extraction); math pinned
    // by SceneCutSpec, and oracled: the stub decode's mean_px is an
    // exact integer-sum mean DuckDB reproduces byte-for-byte
    "q_scut" -> ((s, d) => {
      val frames = Binary.sampleFrameFeatures(
        s, Binary.withPayload(documents(s, d)), everyK = 2).toDF()
      multimodal.SceneCut.cuts(frames, threshold = 30.0)
        .withColumn("delta", graft.functions.Numeric.cround(col("delta"), 4))
    }),
    // perceptual image near-dup pairs (DCT pHash + banded Hamming —
    // the image-modality dedup member). Rows-only: the hash rides a
    // distributed decode pass no SQL oracle can replay; exactness at
    // the radius is pinned by PhashSpec's brute-force parity. On the
    // synthetic corpus every pair it finds at radius 6 is one of the
    // PLANTED near-dup documents (a subset of q_jaccard_pairs) — the
    // perceptual hash recovers text near-dups through the pixel stub.
    "q_img_dedup" -> ((s, d) =>
      multimodal.ImageDedup.nearDupPairs(
        s, Binary.withPayload(documents(s, d)), maxHamming = 6)),
    // the composed MULTIMODAL corpus build — image near-dup keep ->
    // scene-stability gate -> audio silence gate -> text gate, each on
    // the previous stage's survivors (the media twin of q_corpus).
    // Rows-only: the perceptual-hash stage rides the distributed
    // decode; stage bites + composition are pinned by
    // MultimodalCorpusSpec's planted casualties. Gates tuned to the
    // synthetic corpus's byte statistics (cut deltas ~0.5-1.2, rms
    // ~23k-28k, max_lap p5 ~30e3, clip_frac p95 ~0.12) so each stage
    // bites without emptying the output.
    "q_mm_corpus" -> ((s, d) =>
      multimodal.MultimodalCorpus.run(
        Binary.withPayload(documents(s, d)),
        minSharp = 30000.0, maxClip = 0.12)),
    "q_pipeline_e2e" -> ((s, d) => Pipeline.full(events(s, d))),
    "q_ml_classify" -> ((s, d) =>
      graft.ml.Models.classifyEmbeddings(embeddings(s, d)
        .withColumn("label", (element_at(col("embedding"), 1) > 0.0f).cast("int")))),
    "q_ml_cluster" -> ((s, d) =>
      graft.ml.Models.clusterEmbeddings(embeddings(s, d), 10)),
    // fastText-shaped quality classifier distilling the heuristic
    // qualityKeep gate (the DCLM/FineWeb pattern: cheap model trained
    // on rule/LLM labels, then scored corpus-wide map-only). Rows-only:
    // iterative LBFGS is not SQL-expressible; held-out label recovery
    // pinned by TextClassifierSpec
    "q_qcls" -> ((s, d) =>
      graft.ml.Models.textClassifier(documents(s, d), col("doc_id"),
        col("text"),
        graft.text.TextFeatures.qualityKeep(col("text")).cast("int"),
        cacheKey = Some(d))),
    // PCA reduction of the embedding table (the pre-quantization step
    // of a vector index). Rows-only: distributed SVD is not
    // SQL-expressible; invariants pinned by PcaSpec
    "q_pca" -> ((s, d) =>
      graft.ml.Models.pcaEmbeddings(embeddings(s, d), 8)),

    // ---- §2.3 training-data pipeline ------------------------------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(documents(s, d), col("doc_id"), col("text"))),
    "q_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(documents(s, d), col("doc_id"), col("text"), 3, 0.5, 1000L)),
    "q_dedup_clusters" -> ((s, d) => {
      val docs = documents(s, d)
      Dedup.clusters(docs, col("doc_id"),
        Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5, 1000L))
    }),
    // incremental snapshot-vs-batch dedup: the doc_id%3!=0 slice stands
    // in for yesterday's deduped corpus, %3==0 for today's crawl batch;
    // certainly-new rows are cleared map-side by the broadcast Bloom
    // probe, only dups + the fpp sliver reach the verify join
    "q_incdedup" -> ((s, d) => {
      val docs = documents(s, d)
      graft.dedup.IncrementalDedup.dedupAgainst(
        docs.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"))
    }),
    // incremental NEAR-dup dedup: the same corpus/batch split probed
    // against the corpus's MinHash band index — rows-only (the XXH64
    // signature kernel has no SQL replay; the banding semantics are
    // oracled via q_minhash_pairs and the spec pins cross-pair parity)
    "q_incnear" -> ((s, d) => {
      val docs = documents(s, d)
      val idx = graft.dedup.IncrementalMinHash.buildIndex(
        docs.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"))
      graft.dedup.IncrementalMinHash.dedupAgainst(idx,
        docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"),
        threshold = 0.5)
    }),
    // exact edit-distance fuzzy join (PassJoin pigeonhole blocking):
    // original customer names vs deterministically-corrupted copies
    // (one char deleted at c_custkey % len); output EQUALS the
    // brute-force levenshtein<=1 relation the oracle computes
    // left side sliced to %100==0: the generated names share a
    // corpus-constant "Customer#" prefix, so one segment block is
    // degenerate (every left row in it) — the adversarial case for ANY
    // exact-recall pigeonhole blocking; the slice bounds that block's
    // fanout while the relation stays a full cross-size fuzzy join
    "q_editjoin" -> ((s, d) => {
      val cust = customer(s, d)
      val corrupted = cust.select(col("c_custkey"),
        expr("""concat(substring(c_name, 1, CAST(c_custkey % length(c_name) AS INT)),
               |  substring(c_name, CAST(c_custkey % length(c_name) AS INT) + 2))"""
          .stripMargin).as("bn"))
      graft.operators.EditJoin.pairs(
        cust.filter(col("c_custkey") % 100 === 0), col("c_custkey"), col("c_name"),
        corrupted, col("c_custkey"), col("bn"), d = 1)
    }),
    // content-defined chunk-level dup evidence (Gear/FastCDC): shared
    // chunks across assets by content hash. Rows-only (rolling-hash
    // boundaries have no SQL replay); shift-robustness, partition
    // exactness and planted-embed recovery pinned by CdcSpec
    "q_cdc" -> ((s, d) =>
      graft.dedup.Cdc.sharedChunks(
        graft.dedup.Cdc.chunks(s, Binary.withPayload(documents(s, d))))),
    "q_minhash_pairs" -> ((s, d) =>
      MinHashLSH.nearDupPairs(documents(s, d), col("doc_id"), col("text"), 3, 64, 16, 0.5)),
    "q_ann_cosine" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    // hard-negative mining: most-similar different-label vectors per
    // query (contrastive-training negatives); bruteTopK's scan shape
    // with the label gate in the join condition
    "q_hardneg" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    // semantic decontamination: the vec_id%17 slice stands in for the
    // eval suite; every remaining corpus vector gets its best eval
    // match + a threshold flag — the paraphrase-catching decon member
    "q_sdecon" -> ((s, d) => {
      val emb = embeddings(s, d)
      graft.vector.SemDecontaminate.flag(
        emb.filter(col("vec_id") % 17 =!= 0), col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") % 17 === 0), col("vec_id"), col("embedding"),
        threshold = 0.4)
    }),
    "q_ann_lsh" -> ((s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), 5, dim = 64, probes = 3)
    }),
    // NN-descent K-NN graph build (Dong et al. 2011) — the graph-ANN
    // batch index. Rows-only (randomized-init iterative construction,
    // no SQL replay); recall >= 0.9 vs bruteTopK, bit-determinism and
    // exact-cosine sims pinned by NnDescentSpec at THIS configuration
    // (maxRounds 6 / convergedFrac 0.01: the update count drops below
    // 1% around round 4-5 on the test corpora, so later rounds only
    // confirm — measured recall 0.998 at sf0.01, 0.94 at sf0.1)
    "q_nnd" -> ((s, d) =>
      graft.vector.NnDescent.build(embeddings(s, d), k = 10,
          maxRounds = 6, convergedFrac = 0.01)
        .withColumn("sim", graft.functions.Numeric.cround(col("sim"), 6))),
    // graph-ANN SERVING: best-first beam search over the PERSISTED
    // NN-descent graph — build-once/serve-forever, so the index is
    // built into /tmp on first touch (bit-deterministic; the dir is
    // keyed by an impl version tag AND a corpus content fingerprint
    // so neither a build change nor regenerated test data can ever
    // serve a stale artifact) and every later run measures the
    // serving path: load + walk, never the build (q_nnd measures the
    // build). Rows-only (iterative randomized-entry walk, no SQL
    // replay); recall >= 0.9 vs bruteTopK, exact-cosine sims,
    // bit-determinism and persisted==fresh parity pinned by
    // GraphSearchSpec at this configuration
    "q_walk" -> ((s, d) => {
      val emb = embeddings(s, d)
      graft.vector.GraphSearch.topK(knnIndex(s, d), emb,
          emb.filter(col("vec_id") < 10), k = 10, beam = 30)
        .withColumn("sim", graft.functions.Numeric.cround(col("sim"), 6))
    }),
    // K-NN-graph semantic near-dup clustering from the SAME persisted
    // NN-descent artifact q_walk serves from — edges at sim >= 0.4
    // (the corpus's max near-dup degree is 3-6 at every sf, well
    // under the graph's k=10 degree budget, so the TRUE top-10 graph
    // contains every qualifying pair), transitively closed with the
    // shared canonical-keep contract. Rows-only (the graph is the
    // declared-approximate 27i construction); GraphDedupSpec pins
    // cluster parity against EXACT brute-force threshold clustering
    // at this configuration, plus shape/canonical/keep invariants
    "q_gdedup" -> ((s, d) =>
      graft.vector.GraphDedup.clustersFromGraph(embeddings(s, d),
        knnIndex(s, d), threshold = 0.4)),
    // graph-ANN INCREMENTAL insert: the 20% arrival batch
    // (vec_id % 5 == 0) extends the PERSISTED 80%-base graph without
    // a rebuild — beam-searched cross edges, descent over the batch
    // alone, reverse-link re-trim of only the touched base nodes.
    // The base artifact is /tmp-cached (knnBaseIndex), so the
    // measured cost is the INSERT path, the growing-corpus increment
    // every crawl cycle pays. Rows-only (iterative approximate
    // construction, no SQL replay); recall >= the fresh-build floor,
    // untouched-row passthrough, exact-cosine sims and
    // bit-determinism pinned by GraphInsertSpec at THIS configuration
    "q_knn_ins" -> ((s, d) => {
      val emb = embeddings(s, d)
      val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      graft.vector.NnDescent.insert(knnBaseIndex(s, d), base, batch,
          k = 10, beam = 30)
        .withColumn("sim", graft.functions.Numeric.cround(col("sim"), 6))
    }),
    // cluster-balanced diversity sampling: exact per-cell quota over
    // the shared IVF quantizer cells. Rows-only (KMeans cells are not
    // SQL-expressible); quota exactness + determinism pinned by
    // ClusterSampleSpec
    "q_csamp" -> ((s, d) => {
      val emb = embeddings(s, d)
      vector.ClusterSample.sample(d, emb, nlist = 16, k = 20)
    }),
    "q_ann_ivf" -> ((s, d) => {
      // index built once per corpus (quantizeCached), queried here: the
      // serving shape — query cost excludes quantizer training. Run at
      // nprobe = nlist, where IVF degrades gracefully to the exact
      // result by construction (candidates = whole corpus; final
      // ranking is the same exact cosine as bruteTopK) — which makes
      // the query DuckDB-oracled. Cell PRUNING (nprobe < nlist) recall
      // is pinned by IvfAnnSpec; the probe/join machinery executes
      // identically here.
      val emb = embeddings(s, d)
      val (assigned, cents) = vector.IvfAnn.quantizeCached(d, emb, nlist = 16)
      vector.IvfAnn.topKWith(assigned, cents, emb,
        emb.filter(col("vec_id") < 10), 5, nprobe = 16)
    }),
    // IVF-PQ: same probe, but candidates ranked on m-byte codes (ADC)
    // with exact re-rank of the survivors — the billion-vector serving
    // shape. Run at nprobe = nlist + COVERING re-rank, where IVF-PQ
    // degrades gracefully to the exact result by construction (every
    // cell probed, every ADC-ranked candidate exact-rescored — the
    // same final exact-cosine ranking as bruteTopK), which makes the
    // query DuckDB-oracled against the brute-force SQL; the probe, the
    // ADC code scan and the re-rank machinery all execute identically.
    // PRUNING recall (nprobe < nlist, bounded rerank) stays pinned by
    // PqAnnSpec, which also proves this covering configuration ==
    // bruteTopK exactly — the r8 q_ann_ivf pattern.
    "q_pq" -> ((s, d) => {
      // index (IVF cells + PQ codebooks + encoded codes) built once per
      // corpus and cached — the serving shape; the query pays only the
      // probe, the ADC code scan and the exact re-rank
      val emb = embeddings(s, d)
      val (assigned, cents) = vector.IvfAnn.quantizeCached(d, emb, nlist = 16)
      val (book, encoded) = vector.PqAnn.encodeCached(d, emb, 64, 8, 16)
      vector.PqAnn.topKWith(assigned, cents, encoded, book, emb,
        emb.filter(col("vec_id") < 10), 5, dim = 64, nprobe = 16,
        rerank = Int.MaxValue)
    }),
    // threshold 0.4 (not 0.9): the driver's embeddings are near-random
    // 64-dim vectors (cosine ~ N(0, 1/64)); 0.4 = 3.2 sigma keeps the
    // output a small, meaningful near-dup set that is non-empty at every
    // driver SF (36 pairs at sf0.01). Planted-duplicate semantics are
    // spec-verified at 0.9 in CosineDedupSpec.
    "q_cos_dedup" -> ((s, d) =>
      Similarity.cosineDupPairs(embeddings(s, d), dim = 64, threshold = 0.4)
        .withColumn("sim", graft.functions.Numeric.cround(col("sim"), 6))),
    // SemDeDup keep-list: k-means cells (the cached IVF quantizer)
    // scope exact-cosine pairs, multi-probed for recall; one canonical
    // vector kept per semantic-duplicate component. Run at nprobe =
    // nlist, where every vector probes every cell, so the within-cell
    // pair scan covers ALL pairs and the within-cell scoring is the
    // same exact cosine as the brute form — the output is DuckDB-
    // oracled against brute pairs + transitive closure (the r8
    // q_ann_ivf pattern; the probe/join machinery executes
    // identically). Cell PRUNING recall (nprobe < nlist) stays pinned
    // by SemDedupSpec on planted duplicates.
    "q_semdedup" -> ((s, d) =>
      graft.vector.SemDedup.keepList(embeddings(s, d), nlist = 16,
        threshold = 0.4, nprobe = 16, cacheKey = Some(d))),
    "q_simhash_pairs" -> ((s, d) =>
      graft.dedup.SimHashDedup.nearDupPairs(documents(s, d), col("doc_id"), col("text"))),
    "q_simhash" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        graft.functions.SimHash(col("text")).as("simhash"))),
    "q_fingerprint" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        graft.functions.PolyFingerprint(col("text")).as("fp"))),
    "q_winnow" -> ((s, d) =>
      documents(s, d).select(col("doc_id"),
        explode(graft.functions.Winnow(col("text"), 8, 4)).as("fp"))),
    // maxDf=50: on this shared-vocabulary synthetic corpus only
    // fingerprints in <=50 docs are discriminative; minShared=10 keeps
    // the pair set meaningful and non-empty at every driver SF
    "q_winnow_containment" -> ((s, d) =>
      Dedup.winnowContainment(documents(s, d), col("doc_id"), col("text"),
        k = 8, w = 4, minShared = 10L, maxDf = 50L)),
    // test-set decontamination: corpus docs sharing a verbatim 8-gram
    // with the doc_id%11==0 slice standing in for an eval benchmark
    // (the eval side is tiny at any scale -> broadcast)
    "q_decon" -> ((s, d) => {
      val docs = documents(s, d)
      Decontaminate.overlapPairs(
        docs.filter(col("doc_id") % 11 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 11 === 0), col("doc_id"), col("text"),
        n = 8, minShared = 1L)
    }),
    // fuzzy decontamination: Jaccard-level corpus-vs-eval overlap —
    // catches paraphrased/re-tokenized benchmark items the verbatim
    // 8-gram gate misses (same eval split as q_decon)
    "q_fdecon" -> ((s, d) => {
      val docs = documents(s, d)
      Decontaminate.fuzzyOverlapPairs(
        docs.filter(col("doc_id") % 11 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 11 === 0), col("doc_id"), col("text"),
        n = 3, minJaccard = 0.5)
    }),
    // the whole corpus build composed end-to-end: quality gate ->
    // exact dedup -> near-dup cluster keep -> decontamination ->
    // stratified sampling, every stage on the previous stage's
    // survivors (same eval split and rates as q_decon /
    // q_sample_stratified)
    "q_corpus" -> ((s, d) => {
      val docs = documents(s, d)
      graft.text.CorpusBuild.run(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0),
        rates = Map("en" -> 0.25, "zh" -> 0.8))
    }),
    // the corpus build with the provenance gate as stage 0 (sources
    // below a 0.6 keep rate cut wholesale BEFORE any per-doc stage —
    // the C4/RefinedWeb ordering); same chain and rates as q_corpus
    "q_corpus2" -> ((s, d) => {
      val docs = documents(s, d)
      graft.text.CorpusBuild.run(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0),
        rates = Map("en" -> 0.25, "zh" -> 0.8),
        sourceGate = Some((10L, 0.6, 0.5)))
    }),
    // INCREMENTAL end-to-end corpus build (r12): the 31g chain run as
    // artifacts-from-base + one increment folding the newest ~5% of
    // ids — never re-tokenizing or re-shuffling the base — with the
    // output hash-identical to the full rebuild over base ∪ batch, so
    // q_corpus's oracle applies VERBATIM (same %11 corpus/eval split;
    // the id-threshold split exists only on the Spark side)
    "q_icorpus" -> ((s, d) => {
      val docs = documents(s, d)
      val corpus = docs.filter(col("doc_id") % 11 =!= 0)
      // the base artifacts are /tmp-cached (built once per dataset,
      // the knnBaseIndex pattern) and COPIED per invocation because
      // the increment mutates its store — so the measured cost is the
      // INCREMENT path: batch stages + affected-sliver pair splice +
      // output assembly, never the base build
      val (baseDir, t) = icorpusBase(s, d)
      val work = s"/tmp/graft_icorpus_work_${new java.io.File(d).getName}_" +
        java.lang.ProcessHandle.current().pid()
      rmTree(new java.io.File(work))
      copyTree(new java.io.File(baseDir), new java.io.File(work))
      graft.text.CorpusIncrement.increment(
        corpus.filter(col("doc_id") > t), work)
    }),
    // sequence packing: global token offsets (distributed prefix sum)
    // and the 512-token training chunks each document spans
    "q_pack" -> ((s, d) => {
      val docs = documents(s, d)
        .withColumn("_tc", graft.functions.TokenCounts(col("text")))
      Packing.chunkSpans(docs, col("doc_id"), col("_tc.n_ws_tokens"), 512L)
        .withColumnRenamed("offset", "tok_offset")
    }),
    "q_chunk" -> ((s, d) => {
      val docs = documents(s, d)
        .withColumn("_tc", graft.functions.TokenCounts(col("text")))
      Packing.chunkStats(
        Packing.chunkSpans(docs, col("doc_id"), col("_tc.n_ws_tokens"), 512L),
        512L)
    }),
    // RAG sliding-window chunking: per-doc overlapping token windows
    // (width 64, stride 32) — map-only scan, windows from an in-row
    // sequence+explode
    "q_ragc" -> ((s, d) =>
      Chunker.chunks(documents(s, d), col("doc_id"), col("text"),
        width = 64, stride = 32)),
    // encoding-junk gate over constructed text (the corpus carries no
    // control chars, so event ids seed one char in 1..40 per row —
    // control for ids landing below 0x20 — and purchases get a U+FFFD;
    // the same construction the oracle mirrors, the OPERATOR is general)
    "q_enc" -> ((s, d) => {
      val encText = concat(lit("evt "), col("event_type"),
        expr("char(user_id % 40 + 1)"), lit(" tail"),
        when(col("event_type") === "purchase", lit("�")).otherwise(lit("")))
      TextFeatures.encodingQuality(
        events(s, d).withColumn("_et", encText), col("event_id"), col("_et"))
    }),
    // unicode normalization: a decomposed accent (e + COMBINING ACUTE),
    // a per-row control char and a double-space run are appended to
    // each doc (the corpus itself is ASCII-clean), then the NFC +
    // ctl-strip + collapse + trim kernel runs — oracled exactly via
    // DuckDB's nfc_normalize (NFC is canonical: conformant
    // implementations agree byte-for-byte)
    "q_norm" -> ((s, d) => {
      val et = concat(col("text"), lit(" xe\u0301"),  // e + COMBINING ACUTE (decomposed)
        expr("chr(doc_id % 31 + 1)"), lit("  tail "))
      documents(s, d).withColumn("_et", et)
        .withColumn("text_norm", graft.functions.NfcClean(col("_et")))
        .select(col("doc_id"), col("text_norm"),
          (col("text_norm") =!= col("_et")).cast("int").as("changed"))
    }),
    // per-column data profile: null/distinct/min/max/top-3 for every
    // documents column from ONE value-grain shuffle (stacked pairs)
    "q_profile" -> ((s, d) =>
      graft.operators.Profile.profile(documents(s, d),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    // one-row dataset card: doc/token/char mass, dup mass, quality
    // rate and the per-language token mix from ONE corpus scan
    "q_card" -> ((s, d) =>
      graft.text.DatasetCard.card(documents(s, d),
        col("doc_id"), col("text"), col("lang"))),
    // INCREMENTAL dataset card (r13): three batch appends into the
    // card store, then the card assembled from parts alone — additive
    // sums are exact (replayed one-shot by the oracle), the
    // token-length percentiles ride the 7i4 bottom-k semilattice
    // (splitmix64 HUGEINT replay, so they are oracled too); the HLL
    // distinct/dup members are estimates and stay out of the oracled
    // columns (CardStoreSpec pins them against the one-shot sketch)
    "q_icard" -> ((s, d) => {
      val docs = documents(s, d)
      val dir = s"/tmp/graft_icard_${new java.io.File(d).getName}_" +
        java.lang.ProcessHandle.current().pid()
      rmTree(new java.io.File(dir))
      inParallel(Seq(0, 1, 2).map(i => () => graft.text.CardStore.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === i),
        col("doc_id"), col("text"), col("lang"), dir)))
      graft.text.CardStore.card(s, dir)
        .select("n_parts", "n_docs", "n_tokens", "n_chars", "keep_rate",
          "en_tokens", "zh_tokens", "de_tokens", "es_tokens", "fr_tokens",
          "other_tokens", "m", "tok_p50", "tok_p95")
    }),
    // id-grain snapshot diff: %7!=0 is release A, %5!=0 release B, and
    // B rewrote the %11==0 slice — added/removed/changed audit rows
    "q_snapdiff" -> ((s, d) => {
      val docs = documents(s, d)
      graft.text.SnapshotDiff.diff(
        docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 5 =!= 0), col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    }),
    // padding-efficiency report for length-bucketed batching at the
    // usual power-of-two bounds (whitespace token counts)
    "q_padbatch" -> ((s, d) =>
      graft.text.PadBatch.bucketStats(
        documents(s, d)
          .withColumn("_tc", graft.functions.TokenCounts(col("text"))),
        col("doc_id"), col("_tc.n_ws_tokens"),
        Seq(64L, 128L, 256L, 512L, 1024L))),
    // audio clipping gate: per-asset clipped-sample fraction over the
    // s16le decode (threshold 30000 ~ 91.6% FS: text-byte stand-in
    // payloads top out near 31487, so the production 98.4% default
    // would be trivially zero here — the MATH is threshold-independent)
    "q_clip" -> ((s, d) =>
      graft.multimodal.Audio.clipStats(s,
        graft.multimodal.Binary.withPayload(documents(s, d)),
        threshold = 30000).toDF()),
    // image blur gate: per-sampled-frame Laplacian variance over the
    // stub decode's pixel block. Oracled (r9): DuckDB rebuilds the
    // stub pixels relationally (the q_glcm CTEs) and the variance is
    // integer-exact — (36*Σr² − (Σr)²)/1296 from BIGINT sums, one IEEE
    // division + the shared cround(4); invariants pinned by BlurClipSpec
    "q_blur" -> ((s, d) =>
      graft.multimodal.Binary.sampleFrameBlur(s,
        graft.multimodal.Binary.withPayload(documents(s, d)), everyK = 2).toDF()),
    // corpus drift report between the two snapshot halves: per-token
    // smoothed-KL contributions, most-over-represented-in-A first
    "q_drift" -> ((s, d) => {
      val docs = documents(s, d)
      graft.text.CorpusDiff.tokenDrift(
        docs.filter(col("doc_id") % 2 === 0), col("text"),
        docs.filter(col("doc_id") % 2 =!= 0), col("text"), k = 100)
    }),
    // deterministic corpus shuffle: splitmix64-keyed global order ->
    // contiguous (shard, pos) blocks; two-level distributed rank scan
    "q_shuf" -> ((s, d) =>
      graft.text.Shuffle.permute(documents(s, d), col("doc_id"), nShards = 8)),
    // per-shard release manifest over the shuffled layout: membership
    // counts + order-independent bit_xor fingerprint checksums
    "q_manifest" -> ((s, d) => {
      val docs = documents(s, d)
      val layout = graft.text.Shuffle.permute(docs, col("doc_id"), nShards = 8)
      graft.text.Manifest.shardManifest(
        docs.join(layout.select("doc_id", "shard"), Seq("doc_id")),
        col("shard"), size(split(col("text"), "\\s+")),
        graft.functions.PolyFingerprint(col("text")))
    }),
    // curriculum export: the same layout machinery keyed by the LM
    // difficulty score (easy-to-hard shard order); shares the cached
    // per-corpus bigram model with q_entropy
    "q_curr" -> ((s, d) => {
      val scored = TextFeatures.charBigramEntropy(documents(s, d),
        col("doc_id"), col("text"), cacheKey = Some(d))
      graft.text.Shuffle.layoutBy(scored, col("doc_id"),
        col("cross_entropy"), nShards = 8)
    }),
    // temperature-flattened mixture at alpha=0.5 (weights = sqrt of
    // domain token mass — IEEE-exact in both engines): low-resource
    // sources sample at a higher rate than their natural share
    "q_tmix" -> ((s, d) =>
      graft.text.Mixture.temperatureSample(documents(s, d), col("doc_id"),
          col("source"), col("n_chars"), alpha = 0.5, budgetFraction = 0.35)
        .select(col("doc_id"), col("source"))),
    // source/domain-grain quality gate (C4/RefinedWeb shape): one
    // corpus pass -> per-source health stats + the wholesale gate
    // decision; the doc filter that consumes it is a broadcast semi
    // join (SourceGateSpec pins the plan)
    "q_srcgate" -> ((s, d) =>
      graft.text.SourceGate.stats(documents(s, d),
        col("doc_id"), col("text"), col("source"))),
    "q_text_tokens" -> ((s, d) =>
      TextFeatures.tokenStats(documents(s, d), col("doc_id"), col("text"))),
    // PII scrub over deterministically-constructed digit-bearing text
    // (the corpus tables carry no digits, so the event stream's ids
    // seed phone/IP/card-shaped fragments per event type — the same
    // construction the oracle mirrors; the OPERATOR is general)
    "q_pii" -> ((s, d) => {
      val u = col("user_id"); val e = col("event_id")
      val piiText = concat(
        lit("session "), col("event_type"), lit(" from user "), u.cast("string"),
        when(col("event_type") === "click",
          concat(lit(" at 10."), pmod(u, lit(256L)).cast("string"), lit("."),
            pmod(e, lit(256L)).cast("string"), lit("."),
            pmod(u + e, lit(256L)).cast("string"))).otherwise(lit("")),
        when(col("event_type") === "signup",
          concat(lit(" phone +"), (pmod(u, lit(90L)) + lit(10L)).cast("string"),
            lit("-"), lpad(pmod(e, lit(1000L)).cast("string"), 3, "0"),
            lit("-"), lpad(pmod(u * lit(7L) + e, lit(10000L)).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("event_type") === "purchase",
          concat(lit(" card "),
            lpad(pmod(e * lit(31L) + u, lit(100000000L)).cast("string"), 8, "0"),
            lpad(pmod(u * lit(17L) + e, lit(100000000L)).cast("string"), 8, "0")))
          .otherwise(lit("")))
      TextFeatures.piiScrub(
        events(s, d).withColumn("_pt", piiText), col("event_id"), col("_pt"))
    }),
    "q_text_quality" -> ((s, d) =>
      TextFeatures.quality(documents(s, d), col("doc_id"), col("text"))),
    // compression-ratio quality signal (deflate/raw per doc). Rows-only:
    // no SQL zlib; kernel parity + tail behavior pinned by CompressionSpec
    "q_comp" -> ((s, d) =>
      TextFeatures.compressionRatio(documents(s, d), col("doc_id"), col("text"))),
    // corpus LM models are train-once artifacts (cacheKey = the corpus
    // dir, the quantizeCached pattern): q_entropy / q_ebin share one
    // bigram model per corpus; scoring stays the fused map-only kernel
    "q_entropy" -> ((s, d) =>
      TextFeatures.charBigramEntropy(documents(s, d), col("doc_id"), col("text"),
        cacheKey = Some(d))),
    // INCREMENTAL LM artifacts (r12): three batch count-parts appended
    // (each ≤ 39² rows however large the batch), folded by compaction,
    // scored from the artifact — counts are associative integer sums,
    // so the artifact model is bit-equal to a one-shot train and
    // q_entropy's oracle applies VERBATIM
    "q_ilm" -> ((s, d) => {
      val docs = documents(s, d)
      val dir = s"/tmp/graft_ilm_${new java.io.File(d).getName}_" +
        java.lang.ProcessHandle.current().pid()
      rmTree(new java.io.File(dir))
      inParallel(Seq(0, 1, 2).map(i => () => graft.text.LmStore.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === i), col("text"), dir)))
      graft.text.LmStore.compact(s, dir)
      graft.text.LmStore.score(docs, col("doc_id"), col("text"),
        graft.text.LmStore.model(s, dir))
    }),
    // CROSS-corpus LM scoring (CCNet-style): the reference LM trains
    // on the doc_id%11 slice (the eval split doing double duty as the
    // clean/target corpus, as in q_decon/q_dsir) and the REST of the
    // corpus is scored against it — unseen grams hit the smoothed
    // floor, the held-out path the strict self-trained kernel forbids
    "q_xent" -> ((s, d) => {
      val docs = documents(s, d)
      TextFeatures.charBigramEntropyAgainst(
        docs.filter(col("doc_id") % 11 === 0), col("text"),
        docs.filter(col("doc_id") % 11 =!= 0), col("doc_id"), col("text"),
        cacheKey = Some(d + "#xent11"))
    }),
    // order-3 LM quality scoring: trigram cross-entropy, same fused
    // one-pass shape as q_entropy with a 39³-bounded model
    "q_entropy3" -> ((s, d) =>
      TextFeatures.charTrigramEntropy(documents(s, d), col("doc_id"), col("text"),
        cacheKey = Some(d))),
    // perplexity-stratified balanced sampling: fixed-width entropy
    // bins, exact per-bin quota — the kept subset spans the quality
    // spectrum instead of collapsing onto the most-typical mass
    "q_ebin" -> ((s, d) =>
      text.EntropyBin.sample(documents(s, d), col("doc_id"), col("text"),
        binWidth = 0.05, k = 20, cacheKey = Some(d))),
    // frequent tokens at >= 1% of the corpus: Misra-Gries sketch
    // (constant memory) proposes candidates, an exact pass verifies —
    // output is exactly the >= 1% set, so the oracle is plain SQL
    "q_hh_tokens" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(split(col("text"), "\\s+")).as("term"))
      operators.HeavyHitters.frequentItems(toks, col("term"),
        num = 1L, den = 100L, sketchK = 400)
    }),
    "q_lang_id" -> ((s, d) =>
      TextFeatures.langId(documents(s, d), col("doc_id"), col("text"))),
    "q_tfidf" -> ((s, d) =>
      TextFeatures.tfidf(documents(s, d), col("doc_id"), col("text"), 5)),
    "q_text_scrub" -> ((s, d) =>
      TextFeatures.urlScrub(documents(s, d), col("doc_id"), col("text"))),
    // cap the high-resource language, keep the rest: the standard
    // corpus-mixture rebalancing, deterministic across engines/runs
    // Domain-mixture sampling: water-filled keep-rates realize target
    // relative weights (src0-4 upweighted 3x) under a 35% token
    // budget, then the deterministic Lehmer filter samples. Rates stay
    // uncapped at every SF (uniform ~5% domain shares), so the oracle
    // reproduces the whole computation in SQL; the capping rounds are
    // spec-pinned (MixtureSpec).
    "q_mix" -> ((s, d) => {
      val w = (0 until 5).map(i => s"src$i" -> 3.0).toMap ++
        (5 until 20).map(i => s"src$i" -> 1.0).toMap
      text.Mixture.sample(documents(s, d), col("doc_id"), col("source"),
        col("n_chars"), w, 0.35).select("doc_id", "source")
    }),
    // BPE tokenizer trained on the corpus's own word histogram (200
    // merges, 20k-word cap), then per-doc subword stats under it —
    // rows-only (the merge loop is not SQL-expressible); BpeSpec pins
    // the algorithm
    "q_bpe" -> ((s, d) => {
      val docs = documents(s, d)
      val model = text.Bpe.train(docs, col("text"), numMerges = 200,
        maxWords = 20000)
      text.Bpe.encodeStats(docs, col("doc_id"), col("text"), model)
    }),
    // OOV-word rate against the corpus top-1000 vocabulary — the
    // oracled relational sibling of the BPE surface
    "q_oov" -> ((s, d) =>
      text.Bpe.oovRate(documents(s, d), col("doc_id"), col("text"), 1000)),
    // Unigram-LM (SentencePiece) tokenizer trained on the same word
    // histogram (1k pieces, 20k-word cap), then per-doc Viterbi piece
    // stats under it — rows-only (EM + pruning are iterative float
    // training no SQL replays); UnigramSpec pins the algorithm
    "q_ulm" -> ((s, d) => {
      val docs = documents(s, d)
      val model = text.Unigram.train(docs, col("text"), vocabSize = 1000,
        maxWords = 20000)
      text.Unigram.encodeStats(docs, col("doc_id"), col("text"), model)
    }),
    // WordPiece tokenizer (BERT's): likelihood-ratio merges on the
    // same histogram (200 merges, 20k-word cap), then per-doc greedy
    // longest-match stats — rows-only (the merge loop is iterative
    // like BPE's); WordPieceSpec pins the algorithm
    "q_wp" -> ((s, d) => {
      val docs = documents(s, d)
      val model = text.WordPiece.train(docs, col("text"), numMerges = 200,
        maxWords = 20000)
      text.WordPiece.encodeStats(docs, col("doc_id"), col("text"), model)
    }),
    // BM25 top-10 retrieval for three fixed keyword queries —
    // broadcast-filtered postings, decimal score sums, two-phase top-k
    "q_bm25" -> ((s, d) =>
      text.Bm25.topK(documents(s, d), col("doc_id"), col("text"),
        Seq(1 -> "hash join", 2 -> "window agg", 3 -> "customer table scan"))),
    // INCREMENTAL BM25 index: build over the 80% base, append the
    // 20% batch, serve from the artifact — bit-identical to the
    // direct q_bm25 over the full corpus, so the SAME SQL oracle
    // applies verbatim (the exactness argument in Bm25Index's doc)
    "q_bm25i" -> ((s, d) => {
      val docs = documents(s, d)
      // deterministic per-(dataset, process) dir: the overwrite build
      // reuses it across invocations (bench best-of-2, verify,
      // scaling) instead of leaking a fresh index copy per call
      val dir = s"/tmp/graft_bm25i_${new java.io.File(d).getName}_" +
        java.lang.ProcessHandle.current().pid()
      text.Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("doc_id"), col("text"), dir)
      text.Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        col("doc_id"), col("text"), dir)
      text.Bm25Index.topK(s, dir,
        Seq(1 -> "hash join", 2 -> "window agg", 3 -> "customer table scan"))
    }),
    // index MAINTENANCE: build + two appends fragment the postings
    // buckets, compaction folds each back to one file, and serving
    // stays bit-identical — so q_bm25's SQL oracle applies verbatim
    // THROUGH the compaction (the strongest form of the
    // rows-never-change argument)
    "q_bm25c" -> ((s, d) => {
      val docs = documents(s, d)
      val dir = s"/tmp/graft_bm25c_${new java.io.File(d).getName}_" +
        java.lang.ProcessHandle.current().pid()
      text.Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("doc_id"), col("text"), dir)
      inParallel(Seq(0, 5).map(r => () =>
        text.Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === r),
          col("doc_id"), col("text"), dir)))
      text.Bm25Index.compact(s, dir)
      text.Bm25Index.topK(s, dir,
        Seq(1 -> "hash join", 2 -> "window agg", 3 -> "customer table scan"))
    }),
    // the SNAPSHOT-manifest index (bucket-grain MVCC, r15): the same
    // build + two appends + compaction as q_bm25c, published through
    // versioned manifests so a live reader overlapping maintenance
    // resolves a complete generation — serving is bit-identical, so
    // q_bm25's oracle applies verbatim through the whole lifecycle
    // (reader-isolation faces are spec-pinned in Bm25SnapshotSpec)
    "q_bm25s" -> ((s, d) => {
      val docs = documents(s, d)
      val dir = s"/tmp/graft_bm25s_${new java.io.File(d).getName}_" +
        java.lang.ProcessHandle.current().pid()
      // buildSnapshot publishes a new generation rather than truncating,
      // so repeat invocations (bench best-of-2) reset the store first
      org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      text.Bm25Index.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("doc_id"), col("text"), dir)
      inParallel(Seq(0, 5).map(r => () =>
        text.Bm25Index.append(docs.filter(pmod(col("doc_id"), lit(10)) === r),
          col("doc_id"), col("text"), dir)))
      text.Bm25Index.compact(s, dir)
      text.Bm25Index.retire(s, dir)
      text.Bm25Index.topK(s, dir,
        Seq(1 -> "hash join", 2 -> "window agg", 3 -> "customer table scan"))
    }),
    // hybrid dense+sparse retrieval by RRF: query-by-example over the
    // docs∩embeddings overlap (doc_id == vec_id) — BM25 on the probe
    // doc's text fused with exact-cosine on its embedding. The probe
    // texts are a driver-sized query batch (3 rows, the BM25 query
    // contract); the dense side keeps bruteTopK's self-exclusion
    // while BM25 naturally ranks the probe doc itself — RRF fuses
    // over the union, needing no candidate-set alignment (its selling
    // point). Fully oracled: both rankers and the fusion replay in SQL
    "q_rrf" -> ((s, d) => {
      val docs = documents(s, d)
      val emb = embeddings(s, d)
      val corpus = docs.join(emb.select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val probes = corpus.filter(col("doc_id").isin(1, 2, 3))
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0).toInt, r.getString(1))).sortBy(_._1).toSeq
      val sparse = text.Bm25.topK(corpus, col("doc_id"), col("text"),
          probes, k = 20)
        .select(col("query_id").cast("long").as("query_id"),
          col("doc_id"), col("rank"))
      // dense queries drawn from the OVERLAP corpus (not raw
      // embeddings), so both rankers and the oracle agree on the
      // query set even if an embedding id ever lacks a document row
      val embOv = emb.join(docs.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      val dense = graft.vector.Similarity.bruteTopK(
          embOv, embOv.filter(col("vec_id").isin(1, 2, 3)), 20)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rank"))
      text.Hybrid.rrf(Seq(sparse, dense), k = 10)
    }),
    // leakage-safe grouped train/val/test split: each SOURCE hashes
    // to a split bucket, all its docs inherit it — map-only, no
    // shuffle; PolyFingerprint replays in DuckDB so the assignment is
    // fully oracled (SplitSpec pins map-only plan + group cohesion +
    // the cross-split near-dup leakage report)
    "q_gsplit" -> ((s, d) =>
      text.Split.byGroup(documents(s, d), col("doc_id"), col("source"))),
    // HTML boilerplate extraction over SYNTHETIC markup constructed
    // deterministically from the docs table IN-ENGINE (the q_roi_shape
    // synthetic-input pattern: both engines build the identical
    // string, so the kernel is exercised on nontrivial input — script
    // blocks holding '<', style blocks, an anchor — and the oracle
    // replays construction AND extraction end-to-end)
    "q_html" -> ((s, d) => {
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>.c { color: red }</style></head><body><h1>"),
        col("source"), lit("</h1><p>"), col("text"),
        lit("</p><a href=\"/u\">"), col("lang"), lit("</a></body></html>"))
      graft.text.Html.extract(
        documents(s, d).withColumn("_h", html), col("doc_id"), col("_h"))
    }),
    // URL canonicalization + registrable-domain rollup over SYNTHETIC
    // URLs constructed deterministically from the docs table IN-ENGINE
    // (the q_html pattern — both engines build the identical string,
    // chosen to exercise every rule: mixed-case scheme/host, www,
    // default and non-default ports on both schemes, tracking params
    // leading/middle/whole-query, trailing slashes, fragments,
    // multi-label public suffixes, a subdomain, and — r16 — a
    // wildcard-rule host (*.ck) and an exception-rule host (!www.ck));
    // doc-grain output enriched with the domain-grain rollup, all
    // map-only + one agg
    "q_url" -> ((s, d) => {
      val id = col("doc_id")
      val scheme = element_at(array(lit("http://"), lit("HTTP://"),
        lit("HTTPS://"), lit("https://")), (id % 4).cast("int") + 1)
      val suffix = element_at(array(lit(".Example.com"),
        lit(".example.co.uk"), lit(".GitHub.io"),
        lit(".blogspot.com.au"), lit(".edu.CK"), lit(".WWW.ck")),
        (id % 6).cast("int") + 1)
      // every 11th row's host IS its suffix (no Site label): the
      // bare-public-suffix edge — github.io / blogspot.com.au roll up
      // to NO registrable domain, edu.ck hits the wildcard twin,
      // www.ck stays registrable via the exception rule
      val url = concat(scheme,
        when(id % 2 === 0, "WWW.").otherwise(""),
        when(id % 11 === 0, substring(suffix, 2, 64)).otherwise(
          concat(lit("Site"), (id % 23).cast("string"), suffix)),
        when(id % 10 === 0, ":80").when(id % 10 === 5, ":443").otherwise(""),
        lit("/Dir"), (id % 7).cast("string"), lit("/Page"), id.cast("string"),
        when(id % 3 === 0, "/").otherwise(""),
        when(id % 6 === 0, concat(lit("?utm_source=feed&id="),
            (id % 13).cast("string")))
          .when(id % 6 === 1, concat(lit("?id="), (id % 13).cast("string"),
            lit("&utm_campaign=x")))
          .when(id % 6 === 2, lit("?gclid=abc123"))
          .when(id % 6 === 3, concat(lit("?id="), (id % 13).cast("string")))
          .otherwise(""),
        when(id % 2 === 1, concat(lit("#Sec"), (id % 3).cast("string")))
          .otherwise(""))
      val canon = text.Url.withCanonical(
          documents(s, d).withColumn("_url", url), col("_url"))
        .select(col("doc_id"), col("url_canon"), col("host"),
          col("domain"), col("n_chars"))
      canon.join(text.Url.domainRollup(canon, col("n_chars")), Seq("domain"))
        .select(col("doc_id"), col("url_canon"), col("host"), col("domain"),
          col("n_docs"), col("n_hosts"), col("n_urls"), col("total_chars"))
    }),
    // host-graph PageRank for crawl frontier prioritization, 3 fixed
    // iterations of integer fixed-point arithmetic (exact + SQL-
    // replayable). The SYNTHETIC host link graph derives from doc ids
    // IN-ENGINE (the q_url pattern): 101 hosts linking by three
    // residue rules plus 13 link-sink hosts exercising the dangling-
    // mass path; self-loops and multi-edges arise and are handled
    "q_rank" -> ((s, d) => {
      val docs = documents(s, d).filter(expr("doc_id % 7 != 0"))
      val edges = docs.selectExpr("doc_id % 101 AS src",
          "(doc_id * 37 + 11) % 101 AS dst")
        .union(docs.selectExpr("doc_id % 101", "(doc_id * 61 + 5) % 101"))
        .union(docs.selectExpr("doc_id % 101", "1000 + doc_id % 13"))
      graft.operators.HostRank.pageRank(edges, iters = 3)
    }),
    // REFRESH-CYCLE PageRank (r12): the declared incremental form of
    // a global recurrence — warm-start the new cycle's graph from the
    // previous cycle's ranks (new hosts seed at `scale`) and run two
    // recurrence steps. Exactly 2 steps from the warm seed is the
    // SEMANTICS (not an approximation of something else), so the
    // whole two-phase computation unrolls in BIGINT SQL and is
    // hash-oracled; convergence value of the warm seed is measured in
    // HostRankSpec
    "q_rank2" -> ((s, d) => {
      val docs = documents(s, d)
      def edgesOf(f: org.apache.spark.sql.DataFrame) =
        f.selectExpr("doc_id % 101 AS src", "(doc_id * 37 + 11) % 101 AS dst")
          .union(f.selectExpr("doc_id % 101", "(doc_id * 61 + 5) % 101"))
          .union(f.selectExpr("doc_id % 101", "1000 + doc_id % 13"))
      val prev = graft.operators.HostRank.pageRank(
        edgesOf(docs.filter(expr("doc_id % 7 != 0"))), iters = 3)
      graft.operators.HostRank.refresh(edgesOf(docs), prev, iters = 2)
    }),
    // CDC changelog -> latest-state snapshot: one max_by hash
    // aggregate (map-side partial, no window sort), deletes dropped
    // when they are the latest version. The changelog derives from
    // the events table: key = user_id%500, version = (ts, event_id)
    // (unique by event_id), every 11th event a delete
    "q_upsert" -> ((s, d) => {
      val log = events(s, d).selectExpr("user_id % 500 AS id",
        "ts", "event_id",
        "CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op",
        "event_type", "value")
      graft.operators.ChangeLog.snapshot(log, Seq("id"),
          Seq("ts", "event_id"), "op")
        .select(col("id"), unix_timestamp(col("ts")).as("last_ts"),
          col("event_id").as("last_event"),
          col("event_type").as("last_type"), col("value").as("last_value"))
    }),
    // the MATERIALIZED changelog store under the snapshot manifest
    // (30s4's r15 twin): three OUT-OF-ORDER batches of the q_upsert
    // CDC family merge into the bucketed store (max-version
    // semilattice, tombstones retained), then the committed snapshot's
    // LIVE rows are served — equal to a single latest-per-key pass
    // over the whole log, which is exactly what the oracle computes
    "q_cdcm" -> ((s, d) => {
      val log = events(s, d).selectExpr("user_id % 500 AS id",
        "CAST(unix_timestamp(ts) AS BIGINT) AS ver1", "event_id AS ver2",
        "CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op",
        "event_type AS payload")
      val dir = s"/tmp/graft_cdcm_${new java.io.File(d).getName}_" +
        java.lang.ProcessHandle.current().pid()
      org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      (0 until 3).foreach(i =>
        streaming.ChangeLogStream.materializeBatch(dir, 16)(
          log.filter(col("ver2") % 3 === i), i.toLong))
      streaming.ChangeLogStream.readSnapshot(s, dir)
        .filter(col("op") =!= "D")
        .select("id", "ver1", "ver2", "payload")
    }),
    // incremental connected components: persisted base labels extended
    // with a batch of new edges via the QUOTIENT graph (work scales
    // with the increment); synthetic edges from doc ids (the q_rank
    // pattern) — the batch both merges base components (shared sink
    // nodes 500..516) and introduces brand-new nodes. Exact: the
    // oracle re-solves base ∪ batch from scratch
    "q_inccc" -> ((s, d) => {
      val docs = documents(s, d)
      val baseE = docs.filter(expr("doc_id % 10 < 8"))
        .selectExpr("doc_id % 211 AS src", "(doc_id * 13 + 7) % 211 AS dst")
      val batchE = docs.filter(expr("doc_id % 10 >= 8"))
        .selectExpr("doc_id % 211 AS src", "500 + doc_id % 17 AS dst")
      val labels = graft.operators.ConnectedComponents.run(baseE)
      graft.operators.ConnectedComponents.increment(labels, batchE)
        .select(col("node"), col("component").as("comp"))
    }),
    // sign-random-projection (JL) embedding sketch to 16 dims: ±1
    // entries from the Mix64 finalizer (oracle replays the splitmix64
    // chain in HUGEINT), decimal-exact per-dim sums, 1/sqrt(16) scale
    "q_rp" -> ((s, d) => graft.vector.RandomProjection.project(
      embeddings(s, d), col("vec_id"), col("embedding"), outDim = 16)),
    // group mean-pooling: class centroids over the embeddings table
    // (the same operator is chunk->doc pooling and per-source mean
    // embeddings); (group, dim)-grain scalar output, decimal sums
    "q_pool" -> ((s, d) =>
      graft.vector.Pooling.meanByGroup(embeddings(s, d), col("label"),
        col("embedding"))),
    // symmetric int8 quantization export of the vector store —
    // map-only absmax scaling at (vec_id, dim) grain
    "q_quant" -> ((s, d) =>
      graft.vector.Quantize.int8(embeddings(s, d), col("vec_id"),
        col("embedding"))),
    // ExactSubstr span dedup: repeated >=8-token spans removed
    // everywhere but their first (doc_id, pos) occurrence, text
    // rebuilt from surviving tokens
    "q_span" -> ((s, d) =>
      text.SpanDedup.dedupSpans(documents(s, d), col("doc_id"), col("text"), 8)),
    // DSIR data selection against the doc_id%11 target slice (the
    // decontamination eval split doing double duty as the "domain"):
    // per-doc average log-ratio of the two corpus bigram LMs, then the
    // Gumbel-top-k resample of 100 docs on the perturbed logit.
    // the diff model is a train-once artifact shared by scores+sample
    // (cacheKey identifies corpus AND target-slice definition)
    "q_dsir" -> ((s, d) =>
      text.Dsir.scores(documents(s, d), col("doc_id"), col("text"),
        col("doc_id") % 11 === 0, cacheKey = Some(d + "#mod11"))),
    "q_dsirs" -> ((s, d) =>
      text.Dsir.sample(documents(s, d), col("doc_id"), col("text"),
        col("doc_id") % 11 === 0, 100, cacheKey = Some(d + "#mod11"))),
    // exact-17-per-source eval split: bucket-histogram rank-k, no
    // full per-group sort (oracle states the semantics as the naive
    // window — the implementations must agree exactly)
    "q_ksamp" -> ((s, d) =>
      text.SampleK.sampleExactK(documents(s, d), col("doc_id"),
        col("source"), 17)),
    // token-balanced output sharding: round-robin over the size-sorted
    // corpus via the two-level distributed rank (no single-task window)
    "q_shard" -> ((s, d) =>
      text.Sharding.assignShards(
        documents(s, d).withColumn("_tc", graft.functions.TokenCounts(col("text"))),
        col("doc_id"), col("_tc.n_ws_tokens"), 8)),
    "q_sample_stratified" -> ((s, d) =>
      TextFeatures.sampleStratified(documents(s, d), col("doc_id"), col("lang"),
          Map("en" -> 0.25, "zh" -> 0.8), 1.0)
        .select(col("doc_id"), col("lang"), col("source"))),
    "q_text_repetition" -> ((s, d) =>
      TextFeatures.repetition(documents(s, d), col("doc_id"), col("text"))),
    // the synthetic corpus has no newlines, so the structural
    // repetition query first lays the tokens out as 2-token lines
    // grouped into 4-line paragraphs — deterministically, mirrored in
    // the oracle — then measures duplicate-line/paragraph fractions.
    // corpus-wide boilerplate-line removal (C4-style): same 2-token
    // line layout as q_text_lines, lines in > 20 distinct docs removed
    // everywhere, text rebuilt in order
    "q_ldedup" -> ((s, d) => {
      val lined = regexp_replace(
        regexp_replace(col("text"), "\\s+", " "), "(\\S+ \\S+) ", "$1\n")
      graft.text.LineDedup.dedupLines(
        documents(s, d).withColumn("_lined", lined),
        col("doc_id"), col("_lined"), maxDocs = 20L)
    }),
    // fused attribute pass: every per-doc quality/repetition/lang-ID
    // signal in ONE map-only scan (the Dolma attributes-file shape);
    // columns match the standalone operators, oracle composed from
    // their oracles
    "q_attrs" -> ((s, d) => {
      val lined = regexp_replace(
        regexp_replace(col("text"), "\\s+", " "), "(\\S+ \\S+) ", "$1\n")
      TextFeatures.attributes(documents(s, d), col("doc_id"), col("text"),
        lined)
    }),
    "q_text_lines" -> ((s, d) => {
      // two codegen'd regex passes: pair tokens into lines (every
      // non-final 2nd token gains "\n"), then group lines into
      // paragraphs (every non-final 4th line's "\n" becomes "\n\n").
      // Left-to-right non-overlapping replacement chunks exactly like
      // the oracle's slice construction ON SINGLE-SPACE TEXT (this
      // corpus: zero docs match ^\s|\s$|\s\s at any SF, and the regex
      // and slice constructions compare string-equal at all three) —
      // the interpreted per-token transform() it replaces was 4.5 s of
      // this query's 4.7 s at sf0.1.
      val lined = regexp_replace(
        regexp_replace(regexp_replace(col("text"), "\\s+", " "),
          "(\\S+ \\S+) ", "$1\n"),
        "([^\n]*\n[^\n]*\n[^\n]*\n[^\n]*)\n", "$1\n\n")
      TextFeatures.lineRepetition(
        documents(s, d).withColumn("_lined", lined),
        col("doc_id"), col("_lined"))
    }),
  )

  // ---- DuckDB oracle SQL -----------------------------------------
  // Parity rules (SURVEY.md §3): decimal-cast sums for order
  // independence; floor(x*1eR+0.5)/1eR for rounding (engine round()
  // disagrees on boundary doubles); epoch_us(ts)//1000000 for seconds;
  // strings not DATE/TIMESTAMP outputs; per-entity ordering by the
  // unique event_id (never the ns-vs-µs-truncated timestamp).
  /** The fused-attributes oracle is COMPOSED from the standalone
    * operators' oracles (each wrapped as a CTE and joined on doc_id) —
    * drift between a component oracle and the fused one is impossible
    * by construction. Repetition joins LEFT (docs under two tokens
    * carry NULL attributes in both engines). */
  def oracleSql: Map[String, String] = oracleSqlBase + ("q_attrs" ->
    s"""WITH _tok AS (${oracleSqlBase("q_text_tokens")}),
       |_qual AS (${oracleSqlBase("q_text_quality")}),
       |_rep AS (${oracleSqlBase("q_text_repetition")}),
       |_lin AS (${oracleSqlBase("q_text_lines")}),
       |_lang AS (${oracleSqlBase("q_lang_id")})
       |SELECT _tok.doc_id, _tok.n_ws_tokens, _tok.n_bpe_tokens,
       |  _tok.n_alpha_tokens, _tok.avg_token_len,
       |  _qual.n_chars_m, _qual.punct_ratio, _qual.digit_ratio,
       |  _qual.stop_ratio, _qual.keep,
       |  _rep.max_run, _rep.dup_word_frac, _rep.top2gram_frac,
       |  _lin.n_lines, _lin.dup_line_frac, _lin.dup_line_char_frac,
       |  _lang.pred_lang
       |FROM _tok
       |JOIN _qual ON _tok.doc_id = _qual.doc_id
       |LEFT JOIN _rep ON _tok.doc_id = _rep.doc_id
       |JOIN _lin ON _tok.doc_id = _lin.doc_id
       |JOIN _lang ON _tok.doc_id = _lang.doc_id""".stripMargin
  ) + ("q_ebin" ->
    // composed: the q_entropy oracle scores, a fixed-width bin, and
    // the naive per-bin ROW_NUMBER semantics sampleExactK must equal
    s"""WITH _e AS (${oracleSqlBase("q_entropy")})
       |SELECT doc_id, bucket FROM (
       |  SELECT doc_id,
       |    CAST(FLOOR(cross_entropy / 0.05) AS BIGINT) AS bucket,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY CAST(FLOOR(cross_entropy / 0.05) AS BIGINT)
       |      ORDER BY (doc_id % 2147483647) * 48271 % 2147483647, doc_id
       |    ) AS rn
       |  FROM _e)
       |WHERE rn <= 20""".stripMargin
  ) + ("q_connected_components" -> ccOracleSql()
  ) + ("q_simhash_pairs" ->
    // the banded pair search is EXACT at its radius (pigeonhole bands
    // + full-width Hamming verify), so the oracle is the definition:
    // all fingerprint pairs within Hamming 3 — fingerprints from the
    // q_simhash oracle's own CTE chain (already hash-matched), pairs
    // by bit_count(xor()). The sort_array collection orders d1 < d2.
    s"""WITH _f AS (${oracleSqlBase("q_simhash")})
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM _f a JOIN _f b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
  ) + ("q_ann_ivf" ->
    // at nprobe = nlist the probed cells cover the corpus and the
    // final exact-cosine ranking is bruteTopK's — the oracle is the
    // brute-force one, and IVF must agree exactly by construction
    oracleSqlBase("q_ann_cosine")
  ) + ("q_pq" ->
    // at nprobe = nlist + covering rerank every candidate is exact-
    // rescored, so IVF-PQ's final ranking IS bruteTopK's (PqAnnSpec
    // proves the equality); the ADC approximation only ever selects
    // WHICH candidates survive, and here all do
    oracleSqlBase("q_ann_cosine")
  ) + ("q_semdedup" ->
    // at nprobe = nlist the within-cell pair scan covers all pairs at
    // the exact cosine, so the keep-list is brute pairs >= threshold
    // + transitive closure (the q_dedup_clusters closure shape) over
    // every embedding; the dot/norm doubles replay bit-exactly (the
    // q_ann_cosine kernel replay)
    """WITH RECURSIVE v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), dup AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (a.nrm * b.nrm) >= 0.4
      |), edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM dup UNION SELECT d2, d1 FROM dup
      |), reach AS (
      |  SELECT src AS id, src AS comp FROM edges
      |  UNION
      |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src
      |), lbl AS (
      |  SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
      |)
      |SELECT em.vec_id AS vec_id,
      |  COALESCE(l.comp, em.vec_id) AS canonical_id,
      |  CAST(CASE WHEN COALESCE(l.comp, em.vec_id) = em.vec_id
      |       THEN 1 ELSE 0 END AS INT) AS keep
      |FROM embeddings em LEFT JOIN lbl l ON em.vec_id = l.id""".stripMargin)

  /** Connected-components oracle: unrolled min-label propagation over
    * the same bipartite order/part graph the Spark query builds. Each
    * round lowers every node's label to the minimum over itself and
    * its neighbourhood, so the component's minimum id reaches every
    * member within eccentricity(min-node) <= diameter rounds; this
    * random bipartite graph converges in 6 rounds at sf0.01 (8 at
    * sf0.1, measured), so 24 is a 3-4x margin. A recursive-CTE
    * reachability closure (the q_dedup_clusters shape) would be
    * quadratic in the giant component here. CTEs are MATERIALIZED:
    * every round references the previous one twice, so inlining
    * would expand the plan exponentially. */
  private def ccOracleSql(rounds: Int = 24): String = {
    val sb = new StringBuilder(
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT CAST(l_orderkey * 2 AS BIGINT) AS src,
        |    CAST(l_partkey * 2 + 1 AS BIGINT) AS dst FROM lineitem
        |), ed AS MATERIALIZED (
        |  SELECT src AS u, dst AS v FROM e0 UNION ALL SELECT dst, src FROM e0
        |), l0 AS MATERIALIZED (
        |  SELECT u AS node, u AS lbl FROM ed GROUP BY u
        |)""".stripMargin)
    for (k <- 1 to rounds)
      sb.append(s""", l$k AS MATERIALIZED (
                   |  SELECT p.node, least(p.lbl, min(q.lbl)) AS lbl
                   |  FROM l${k - 1} p JOIN ed ON ed.u = p.node
                   |  JOIN l${k - 1} q ON q.node = ed.v
                   |  GROUP BY p.node, p.lbl
                   |)""".stripMargin)
    sb.append(s"\nSELECT node, lbl AS component FROM l$rounds").toString
  }

  private val oracleSqlBase: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |  floor(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
        |  floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q03_topk_revenue" ->
      """SELECT l.l_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l.l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, l.l_orderkey
        |LIMIT 10""".stripMargin,

    "q05_local_supplier" ->
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name""".stripMargin,

    "q06_filter_agg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rnk, running_spend FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |  FROM orders) WHERE rnk <= 3""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "q02_min_per_group" ->
      """WITH mins AS (
        |  SELECT l_partkey, MIN(l_extendedprice) AS min_price
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p.p_partkey, p.p_name, m.min_price, l.l_orderkey
        |FROM lineitem l
        |JOIN mins m ON l.l_partkey = m.l_partkey AND l.l_extendedprice = m.min_price
        |JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin,

    "q13_order_histogram" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q16_distinct_suppliers" ->
      """SELECT p.p_type, p.p_brand,
        |  COUNT(DISTINCT l.l_suppkey) AS supplier_cnt, COUNT(*) AS line_cnt
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_type, p.p_brand""".stripMargin,

    "q18_large_orders" ->
      """WITH totals AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150.0)
        |SELECT o.o_orderkey, o.o_custkey, t.total_qty, o.o_totalprice
        |FROM totals t JOIN orders o ON t.l_orderkey = o.o_orderkey""".stripMargin,

    "q22_idle_customers" ->
      """WITH a AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c.c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS totacctbal
        |FROM customer c, a
        |WHERE c.c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c.c_nationkey""".stripMargin,

    "q04_late_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q07_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS INT) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS volume
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3""".stripMargin,

    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin,

    "q11_important_parts" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS value
        |  FROM lineitem GROUP BY l_partkey
        |), t AS (
        |  SELECT CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 1.5 AS thr
        |  FROM pp)
        |SELECT pp.l_partkey, pp.value FROM pp, t WHERE pp.value > t.thr""".stripMargin,

    "q12_late_counts" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT floor(100.0
        |  * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
        |      THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END AS DECIMAL(28,4))) AS DOUBLE)
        |  / CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE)
        |  * 10000.0 + 0.5) / 10000.0 AS promo_revenue_pct
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l.l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, rev.total_revenue
        |FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        |WHERE rev.total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin,

    "q17_small_qty" ->
      """WITH aq AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT floor(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / 7.0
        |  * 10000.0 + 0.5) / 10000.0 AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#13'
        |JOIN aq ON l.l_partkey = aq.l_partkey
        |WHERE l.l_quantity < 0.2 * aq.avg_qty""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q21_last_shipper" ->
      """WITH os AS (
        |  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS nsupp, MAX(l_shipdate) AS max_ship
        |  FROM lineitem GROUP BY l_orderkey
        |), last_ship AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN os ON l.l_orderkey = os.l_orderkey
        |  WHERE l.l_shipdate = os.max_ship AND os.nsupp >= 2
        |), blamed AS (
        |  SELECT l_orderkey, MIN(l_suppkey) AS s_blamed
        |  FROM last_ship GROUP BY l_orderkey
        |  HAVING COUNT(DISTINCT l_suppkey) = 1)
        |SELECT s.s_name, COUNT(*) AS numwait
        |FROM blamed b JOIN supplier s ON b.s_blamed = s.s_suppkey
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 10""".stripMargin,

    // partsupp family: every oracle prepends olap.Partsupp.OracleCte so
    // DuckDB queries the byte-identical synthesized relation
    "q02_regional_cheapest" -> (graft.olap.Partsupp.OracleCte +
      """, dims AS (
        |  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE'
        |), elig AS (
        |  SELECT ps.ps_partkey, ps.ps_supplycost,
        |         d.s_name, d.s_acctbal, d.n_name
        |  FROM partsupp ps
        |  JOIN dims d ON ps.ps_suppkey = d.s_suppkey
        |  JOIN part p ON ps.ps_partkey = p.p_partkey
        |  WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
        |), mins AS (
        |  SELECT ps_partkey AS mk, MIN(ps_supplycost) AS min_cost
        |  FROM elig GROUP BY 1
        |)
        |SELECT e.s_acctbal, e.s_name, e.n_name,
        |  e.ps_partkey AS p_partkey, m.min_cost AS supplycost
        |FROM elig e JOIN mins m
        |  ON e.ps_partkey = m.mk AND e.ps_supplycost = m.min_cost
        |ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p_partkey
        |LIMIT 100""".stripMargin),

    "q08_market_share" ->
      """WITH vol AS (
        |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    l.l_extendedprice * (1.0 - l.l_discount) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |)
        |SELECT o_year,
        |  floor(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3'
        |      THEN volume ELSE 0.0 END AS DECIMAL(28,4))) AS DOUBLE)
        |    / CAST(SUM(CAST(volume AS DECIMAL(28,4))) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
        |FROM vol GROUP BY o_year""".stripMargin,

    "q09_product_profit" -> (graft.olap.Partsupp.OracleCte +
      """, profit AS (
        |  SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    l.l_extendedprice * (1.0 - l.l_discount)
        |      - ps.ps_supplycost * l.l_quantity AS amount
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
        |  JOIN partsupp ps ON l.l_partkey = ps.ps_partkey
        |    AND l.l_suppkey = ps.ps_suppkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |)
        |SELECT nation, o_year,
        |  CAST(SUM(CAST(amount AS DECIMAL(28,4))) AS DOUBLE) AS sum_profit
        |FROM profit GROUP BY nation, o_year""".stripMargin),

    "q20_excess_suppliers" -> (graft.olap.Partsupp.OracleCte +
      """, shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2
        |), excess AS (
        |  SELECT DISTINCT ps.ps_suppkey
        |  FROM partsupp ps
        |  JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_name LIKE 'small%'
        |  JOIN shipped sh ON ps.ps_partkey = sh.l_partkey
        |    AND ps.ps_suppkey = sh.l_suppkey
        |  WHERE ps.ps_availqty > 0.5 * sh.qty
        |)
        |SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s
        |JOIN excess e ON s.s_suppkey = e.ps_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey""".stripMargin),

    "q_filter_min_obs" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value >= 10
        |QUALIFY COUNT(*) OVER (PARTITION BY user_id) >= 50""".stripMargin,

    "q_sessionize" ->
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_us(ts)//1000000 AS ts_s FROM events
        |), g AS (
        |  SELECT event_id, user_id, ts_s,
        |    CASE WHEN ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
        |           OR ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY event_id) > 21600
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM base)
        |SELECT event_id, user_id,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g""".stripMargin,

    // positions: min-event per (track, day); candidates: the naive
    // same-frame distance join (the grid is exact by 3x3 coverage, so
    // the sets are equal); correlation sums decimal-quantized
    "q_interact" ->
      """WITH base AS (
        |  SELECT user_id AS t, epoch_us(ts)//1000000//86400 AS f, event_id,
        |    value AS x,
        |    CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS DOUBLE) AS y
        |  FROM events
        |), pos AS (
        |  SELECT t, f, x, y FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY t, f ORDER BY event_id) AS rn
        |    FROM base) WHERE rn = 1
        |), steps AS (
        |  SELECT t, f, x, y,
        |    x - LAG(x) OVER w AS dx, y - LAG(y) OVER w AS dy
        |  FROM pos WINDOW w AS (PARTITION BY t ORDER BY f)
        |), st AS (
        |  SELECT * FROM steps WHERE dx IS NOT NULL
        |), cand AS (
        |  SELECT DISTINCT a.t AS u1, b.t AS u2
        |  FROM pos a JOIN pos b ON a.f = b.f AND a.t < b.t
        |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 9.0
        |), sh AS (
        |  SELECT c.u1, c.u2, a.f, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb,
        |    a.dx AS dxa, a.dy AS dya, b.dx AS dxb, b.dy AS dyb
        |  FROM cand c JOIN st a ON a.t = c.u1 JOIN st b ON b.t = c.u2 AND b.f = a.f
        |), ag AS (
        |  SELECT u1, u2, COUNT(*) AS n_shared,
        |    min(sqrt((xa-xb)*(xa-xb) + (ya-yb)*(ya-yb))) AS md,
        |    CAST(SUM(CAST(dxa*dxb + dya*dyb AS DECIMAL(28,8))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(dxa*dxa + dya*dya AS DECIMAL(28,8))) AS DOUBLE) AS sa,
        |    CAST(SUM(CAST(dxb*dxb + dyb*dyb AS DECIMAL(28,8))) AS DOUBLE) AS sb
        |  FROM sh GROUP BY 1, 2)
        |SELECT u1, u2, n_shared,
        |  floor(md * 10000.0 + 0.5) / 10000.0 AS min_dist,
        |  floor((CASE WHEN sa > 0 AND sb > 0
        |      THEN s / (sqrt(sa) * sqrt(sb)) ELSE 0.0 END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS dir_corr
        |FROM ag WHERE n_shared >= 3""".stripMargin,

    "q_movement" ->
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_us(ts)//1000000 AS ts_s, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), stepped AS (
        |  SELECT event_id, user_id, x, y, ts_s,
        |    FIRST_VALUE(x) OVER w AS x0, FIRST_VALUE(y) OVER w AS y0,
        |    x - LAG(x) OVER w AS dx, CAST(y - LAG(y) OVER w AS DOUBLE) AS dy,
        |    ts_s - LAG(ts_s) OVER w AS dt
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), st2 AS (
        |  SELECT *, COALESCE(sqrt(dx*dx + dy*dy), 0.0) AS step,
        |    sqrt((x-x0)*(x-x0) + CAST((y-y0)*(y-y0) AS DOUBLE)) AS dis
        |  FROM stepped
        |), st3 AS (
        |  SELECT event_id, user_id, dis,
        |    SUM(step) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS trac,
        |    0.0028 * step / CAST(CASE WHEN dt IS NULL OR dt = 0 THEN 1 ELSE dt END AS DOUBLE) AS vel
        |  FROM st2)
        |SELECT event_id, user_id, floor(dis * 10000.0 + 0.5) / 10000.0 AS dis, floor(trac * 10000.0 + 0.5) / 10000.0 AS trac,
        |  floor((CASE WHEN trac = 0.0 THEN 0.0 ELSE dis / trac END) * 1000000.0 + 0.5) / 1000000.0 AS d2t,
        |  floor(vel * 1000000.0 + 0.5) / 1000000.0 AS vel
        |FROM st3""".stripMargin,

    "q_frame_stats" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS v_sum,
        |  floor(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS v_avg,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    floor(sqrt((CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) * 10000.0 + 0.5) / 10000.0
        |  END AS v_std,
        |  floor(MIN(value) * 10000.0 + 0.5) / 10000.0 AS v_min, floor(MAX(value) * 10000.0 + 0.5) / 10000.0 AS v_max
        |FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')""".stripMargin,

    "q_frame_stats_multi" ->
      """WITH base AS (
        |  SELECT event_type, value,
        |    CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS DOUBLE) AS y,
        |    CAST(length(props) AS DOUBLE) AS plen
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS value_sum,
        |  floor(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS value_avg,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    floor(sqrt((CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) * 10000.0 + 0.5) / 10000.0
        |  END AS value_std,
        |  floor(MIN(value) * 10000.0 + 0.5) / 10000.0 AS value_min,
        |  floor(MAX(value) * 10000.0 + 0.5) / 10000.0 AS value_max,
        |  CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE) AS y_sum,
        |  floor(CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS y_avg,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    floor(sqrt((CAST(SUM(CAST(y * y AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) * 10000.0 + 0.5) / 10000.0
        |  END AS y_std,
        |  floor(MIN(y) * 10000.0 + 0.5) / 10000.0 AS y_min,
        |  floor(MAX(y) * 10000.0 + 0.5) / 10000.0 AS y_max,
        |  CAST(SUM(CAST(plen AS DECIMAL(28,4))) AS DOUBLE) AS plen_sum,
        |  floor(CAST(SUM(CAST(plen AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS plen_avg,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    floor(sqrt((CAST(SUM(CAST(plen * plen AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(SUM(CAST(plen AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(SUM(CAST(plen AS DECIMAL(28,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) * 10000.0 + 0.5) / 10000.0
        |  END AS plen_std,
        |  floor(MIN(plen) * 10000.0 + 0.5) / 10000.0 AS plen_min,
        |  floor(MAX(plen) * 10000.0 + 0.5) / 10000.0 AS plen_max
        |FROM base GROUP BY event_type""".stripMargin,

    "q_qc_track_hist" ->
      """WITH f AS (
        |  SELECT user_id FROM events WHERE value >= 10
        |  QUALIFY COUNT(*) OVER (PARTITION BY user_id) >= 50
        |), lens AS (
        |  SELECT 'raw' AS filter_state, COUNT(*) AS len FROM events GROUP BY user_id
        |  UNION ALL
        |  SELECT 'filtered' AS filter_state, COUNT(*) AS len FROM f GROUP BY user_id
        |)
        |SELECT filter_state, COUNT(*) AS n_tracks, MIN(len) AS min_len,
        |  median(len) AS median_len, MAX(len) AS max_len
        |FROM lens GROUP BY filter_state""".stripMargin,

    "q_qc_frame_dist" ->
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts)//1000000 AS f, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), uniq AS (
        |  SELECT * FROM base QUALIFY COUNT(*) OVER (PARTITION BY user_id, f) = 1
        |), stepped AS (
        |  SELECT user_id,
        |    x - LAG(x) OVER w AS dx,
        |    CAST(y - LAG(y) OVER w AS DOUBLE) AS dy
        |  FROM uniq WINDOW w AS (PARTITION BY user_id ORDER BY f)
        |), d AS (
        |  SELECT sqrt(dx*dx + dy*dy) AS dist FROM stepped WHERE dx IS NOT NULL
        |)
        |SELECT COUNT(*) AS n_steps,
        |  floor(MIN(dist) * 10000.0 + 0.5) / 10000.0 AS min_dist,
        |  floor(median(dist) * 10000.0 + 0.5) / 10000.0 AS median_dist,
        |  floor(MAX(dist) * 10000.0 + 0.5) / 10000.0 AS max_dist
        |FROM d""".stripMargin,

    "q_ts_elevation" ->
      """WITH d AS (
        |  SELECT user_id, value AS v,
        |    value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS dv
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_obs,
        |  CAST(SUM(CAST(CASE WHEN dv > 0 THEN dv ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS ascent,
        |  CAST(SUM(CAST(CASE WHEN dv < 0 THEN -dv ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS descent,
        |  floor(MAX(v) * 10000.0 + 0.5) / 10000.0 AS max_v, floor(MIN(v) * 10000.0 + 0.5) / 10000.0 AS min_v,
        |  floor((MAX(v) - MIN(v)) * 10000.0 + 0.5) / 10000.0 AS range_v
        |FROM d GROUP BY user_id""".stripMargin,

    "q_ts_wavelet" ->
      """WITH base AS (
        |  SELECT user_id, value AS v, ROW_NUMBER() OVER w AS rn,
        |    LEAD(value, 1) OVER w AS v1, LEAD(value, 2) OVER w AS v2,
        |    LEAD(value, 3) OVER w AS v3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), f AS (
        |  SELECT user_id,
        |    CASE WHEN rn % 2 = 1 AND v1 IS NOT NULL THEN 1 ELSE 0 END AS p1,
        |    CASE WHEN rn % 4 = 1 AND v3 IS NOT NULL THEN 1 ELSE 0 END AS p2,
        |    (v - v1) / sqrt(2.0) AS d1,
        |    (v + v1 - v2 - v3) / 2.0 AS d2
        |  FROM base)
        |SELECT user_id,
        |  CAST(SUM(p1) AS BIGINT) AS n_pairs_l1,
        |  COALESCE(floor(CAST(SUM(CASE WHEN p1 = 1 THEN CAST(d1 * d1 AS DECIMAL(28,8)) END) AS DOUBLE)
        |    / CAST(SUM(p1) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0, 0.0) AS l1_energy,
        |  CAST(SUM(p2) AS BIGINT) AS n_pairs_l2,
        |  COALESCE(floor(CAST(SUM(CASE WHEN p2 = 1 THEN CAST(d2 * d2 AS DECIMAL(28,8)) END) AS DOUBLE)
        |    / CAST(SUM(p2) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0, 0.0) AS l2_energy
        |FROM f GROUP BY user_id""".stripMargin,

    "q_pipeline_e2e" ->
      """WITH f AS (
        |  SELECT event_id, user_id, value,
        |    value AS x, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events WHERE value >= 10
        |  QUALIFY COUNT(*) OVER (PARTITION BY user_id) >= 50
        |), stepped AS (
        |  SELECT event_id, user_id, value, x, y,
        |    FIRST_VALUE(x) OVER w AS x0, FIRST_VALUE(y) OVER w AS y0,
        |    x - LAG(x) OVER w AS dx, CAST(y - LAG(y) OVER w AS DOUBLE) AS dy
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), mv AS (
        |  SELECT user_id, event_id,
        |    sqrt((x-x0)*(x-x0) + CAST((y-y0)*(y-y0) AS DOUBLE)) AS dis,
        |    SUM(COALESCE(sqrt(dx*dx + dy*dy), 0.0)) OVER (PARTITION BY user_id
        |      ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS trac
        |  FROM stepped
        |), track AS (
        |  SELECT user_id, COUNT(*) AS n_obs,
        |    floor(MAX(trac) * 10000.0 + 0.5) / 10000.0 AS total_path,
        |    floor(MAX(dis) * 10000.0 + 0.5) / 10000.0 AS max_displacement
        |  FROM mv GROUP BY user_id
        |), ed AS (
        |  SELECT user_id, value AS v,
        |    value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS dv
        |  FROM f
        |), elev AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(CASE WHEN dv > 0 THEN dv ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS ascent,
        |    CAST(SUM(CAST(CASE WHEN dv < 0 THEN -dv ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS descent,
        |    floor((MAX(v) - MIN(v)) * 10000.0 + 0.5) / 10000.0 AS range_v
        |  FROM ed GROUP BY user_id
        |), wb AS (
        |  SELECT user_id, value AS v, ROW_NUMBER() OVER w AS rn,
        |    LEAD(value, 1) OVER w AS v1, LEAD(value, 2) OVER w AS v2,
        |    LEAD(value, 3) OVER w AS v3
        |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), wf AS (
        |  SELECT user_id,
        |    CASE WHEN rn % 2 = 1 AND v1 IS NOT NULL THEN 1 ELSE 0 END AS p1,
        |    CASE WHEN rn % 4 = 1 AND v3 IS NOT NULL THEN 1 ELSE 0 END AS p2,
        |    (v - v1) / sqrt(2.0) AS d1, (v + v1 - v2 - v3) / 2.0 AS d2
        |  FROM wb
        |), wave AS (
        |  SELECT user_id,
        |    COALESCE(floor(CAST(SUM(CASE WHEN p1 = 1 THEN CAST(d1 * d1 AS DECIMAL(28,8)) END) AS DOUBLE)
        |      / CAST(SUM(p1) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0, 0.0) AS l1_energy,
        |    COALESCE(floor(CAST(SUM(CASE WHEN p2 = 1 THEN CAST(d2 * d2 AS DECIMAL(28,8)) END) AS DOUBLE)
        |      / CAST(SUM(p2) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0, 0.0) AS l2_energy
        |  FROM wf GROUP BY user_id)
        |SELECT t.user_id, t.n_obs, t.total_path, t.max_displacement,
        |  e.ascent, e.descent, e.range_v, w.l1_energy, w.l2_energy
        |FROM track t
        |JOIN elev e ON t.user_id = e.user_id
        |JOIN wave w ON t.user_id = w.user_id""".stripMargin,

    "q_ts_elev_multi" ->
      """WITH base AS (
        |  SELECT user_id, event_id, value,
        |    CAST(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS DOUBLE) AS y,
        |    CAST(length(props) AS DOUBLE) AS plen
        |  FROM events
        |), d AS (
        |  SELECT user_id, value, y, plen,
        |    value - LAG(value) OVER w AS d_value,
        |    y - LAG(y) OVER w AS d_y,
        |    plen - LAG(plen) OVER w AS d_plen
        |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |SELECT user_id, COUNT(*) AS n_obs,
        |  CAST(SUM(CAST(CASE WHEN d_value > 0 THEN d_value ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS value_ascent,
        |  CAST(SUM(CAST(CASE WHEN d_value < 0 THEN -d_value ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS value_descent,
        |  floor(MAX(value) * 10000.0 + 0.5) / 10000.0 AS value_max,
        |  floor(MIN(value) * 10000.0 + 0.5) / 10000.0 AS value_min,
        |  floor((MAX(value) - MIN(value)) * 10000.0 + 0.5) / 10000.0 AS value_range,
        |  CAST(SUM(CAST(CASE WHEN d_y > 0 THEN d_y ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS y_ascent,
        |  CAST(SUM(CAST(CASE WHEN d_y < 0 THEN -d_y ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS y_descent,
        |  floor(MAX(y) * 10000.0 + 0.5) / 10000.0 AS y_max,
        |  floor(MIN(y) * 10000.0 + 0.5) / 10000.0 AS y_min,
        |  floor((MAX(y) - MIN(y)) * 10000.0 + 0.5) / 10000.0 AS y_range,
        |  CAST(SUM(CAST(CASE WHEN d_plen > 0 THEN d_plen ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS plen_ascent,
        |  CAST(SUM(CAST(CASE WHEN d_plen < 0 THEN -d_plen ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS plen_descent,
        |  floor(MAX(plen) * 10000.0 + 0.5) / 10000.0 AS plen_max,
        |  floor(MIN(plen) * 10000.0 + 0.5) / 10000.0 AS plen_min,
        |  floor((MAX(plen) - MIN(plen)) * 10000.0 + 0.5) / 10000.0 AS plen_range
        |FROM d GROUP BY user_id""".stripMargin,

    "q_ts_trend" ->
      """WITH ix AS (
        |  SELECT user_id, value AS y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS DOUBLE) AS i
        |  FROM events
        |), s AS (
        |  SELECT user_id, COUNT(*) AS n_obs,
        |    CAST(SUM(CAST(i AS DECIMAL(28,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(i * i AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(y * y AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(i * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy
        |  FROM ix GROUP BY user_id)
        |SELECT user_id, n_obs,
        |  floor((CASE WHEN n_obs > 1 THEN
        |    (sxy * n_obs - sx * sy) / (sxx * n_obs - sx * sx) END) * 1000000.0 + 0.5) / 1000000.0 AS slope,
        |  floor((CASE WHEN n_obs > 1 THEN
        |    (sy - (sxy * n_obs - sx * sy) / (sxx * n_obs - sx * sx) * sx) / n_obs END) * 1000000.0 + 0.5) / 1000000.0 AS intercept,
        |  floor((CASE WHEN n_obs > 1 AND (syy * n_obs - sy * sy) > 0 THEN
        |    (sxy * n_obs - sx * sy) * (sxy * n_obs - sx * sy) /
        |      ((sxx * n_obs - sx * sx) * (syy * n_obs - sy * sy)) END) * 1000000.0 + 0.5) / 1000000.0 AS r2
        |FROM s""".stripMargin,

    "q_ts_median" ->
      """SELECT user_id, COUNT(*) AS n_obs,
        |  floor(median(value) * 10000.0 + 0.5) / 10000.0 AS v_median
        |FROM events GROUP BY user_id""".stripMargin,

    "q_ts_moments" ->
      """WITH s AS (
        |  SELECT user_id, COUNT(*) AS n_obs,
        |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(value * value * value AS DECIMAL(38,8))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(value * value * value * value AS DECIMAL(38,8))) AS DOUBLE) AS s4
        |  FROM events GROUP BY user_id
        |), m AS (
        |  SELECT user_id, n_obs, s1, s2, s3, s4,
        |    s1 / n_obs AS mean,
        |    s2 / n_obs - (s1 / n_obs) * (s1 / n_obs) AS var
        |  FROM s
        |)
        |SELECT user_id, n_obs,
        |  floor(mean * 1000000.0 + 0.5) / 1000000.0 AS v_mean,
        |  CASE WHEN n_obs > 1 THEN floor(var * 1000000.0 + 0.5) / 1000000.0 END AS v_var,
        |  CASE WHEN n_obs > 1 AND var > 0 THEN
        |    floor((s3 / n_obs - 3.0 * mean * (s2 / n_obs) + 2.0 * mean * mean * mean)
        |      / (var * sqrt(var)) * 1000000.0 + 0.5) / 1000000.0 END AS v_skew,
        |  CASE WHEN n_obs > 1 AND var > 0 THEN
        |    floor(((s4 / n_obs - 4.0 * mean * (s3 / n_obs) + 6.0 * mean * mean * (s2 / n_obs)
        |      - 3.0 * mean * mean * mean * mean) / (var * var) - 3.0)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS v_kurt
        |FROM m""".stripMargin,

    "q_ts_autocorr" ->
      """WITH p AS (
        |  SELECT user_id, value AS x,
        |    LEAD(value) OVER (PARTITION BY user_id ORDER BY event_id) AS y
        |  FROM events QUALIFY y IS NOT NULL
        |), s AS (
        |  SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(28,8))) AS DOUBLE) AS sxy
        |  FROM p GROUP BY user_id)
        |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  CASE WHEN (sxx - sx * sx / n) * (syy - sy * sy / n) > 0 THEN
        |    floor((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS autocorr_lag1
        |FROM s""".stripMargin,

    "q_track_split" ->
      """WITH base AS (
        |  SELECT CAST(user_id AS BIGINT) AS uid,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT uid * 1000000 + rn AS id,
        |  uid * 1000000 + (rn // (rn & (-rn))) AS track_id
        |FROM base WHERE n >= 2""".stripMargin,

    // brute-force NN (no grid) over the same spot layout: candidates
    // from the previous 2 frames within 50, ranked by (gap, quantized
    // d2, src) — the engine's declared packed ordering (d2 at 1e-4)
    "q_link_nn" ->
      """WITH s AS (
        |  SELECT event_id AS id, epoch_us(ts)//1000000//3600 AS frame, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), cand AS (
        |  SELECT c.id AS dst, p.id AS src, c.frame - p.frame AS gap,
        |    floor(((c.x - p.x)*(c.x - p.x)
        |      + CAST((c.y - p.y)*(c.y - p.y) AS DOUBLE)) * 10000.0 + 0.5) AS q
        |  FROM s c JOIN s p ON p.frame BETWEEN c.frame - 2 AND c.frame - 1
        |  WHERE (c.x - p.x)*(c.x - p.x) + CAST((c.y - p.y)*(c.y - p.y) AS DOUBLE) <= 2500.0
        |), best AS (
        |  SELECT dst, src, gap, q,
        |    ROW_NUMBER() OVER (PARTITION BY dst ORDER BY gap, q, src) AS rk
        |  FROM cand)
        |SELECT src, dst, gap,
        |  floor(sqrt(q / 10000.0) * 10000.0 + 0.5) / 10000.0 AS dist
        |FROM best WHERE rk = 1""".stripMargin,

    // mutual NN: the pair survives iff it is rank-1 in BOTH directions
    // (same quantized-d2 ranking as q_link_nn)
    "q_link_mutual" ->
      """WITH s AS (
        |  SELECT event_id AS id, epoch_us(ts)//1000000//3600 AS frame, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), cand AS (
        |  SELECT c.id AS dst, p.id AS src, c.frame - p.frame AS gap,
        |    floor(((c.x - p.x)*(c.x - p.x)
        |      + CAST((c.y - p.y)*(c.y - p.y) AS DOUBLE)) * 10000.0 + 0.5) AS q
        |  FROM s c JOIN s p ON p.frame BETWEEN c.frame - 2 AND c.frame - 1
        |  WHERE (c.x - p.x)*(c.x - p.x) + CAST((c.y - p.y)*(c.y - p.y) AS DOUBLE) <= 2500.0
        |), fwd AS (
        |  SELECT dst, src, gap, q FROM (
        |    SELECT dst, src, gap, q,
        |      ROW_NUMBER() OVER (PARTITION BY dst ORDER BY gap, q, src) AS rk
        |    FROM cand) WHERE rk = 1
        |), bwd AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst,
        |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY gap, q, dst) AS rk
        |    FROM cand) WHERE rk = 1
        |)
        |SELECT f.src, f.dst, f.gap,
        |  floor(sqrt(f.q / 10000.0) * 10000.0 + 0.5) / 10000.0 AS dist
        |FROM fwd f JOIN bwd b ON f.src = b.src AND f.dst = b.dst""".stripMargin,

    // brute-force IoU linking over the same synthetic-ROI bboxes:
    // candidates from the previous 2 frames with positive bbox
    // intersection, ranked by (gap, iou desc, src)
    "q_link_iou" ->
      """WITH base AS (
        |  SELECT event_id, epoch_us(ts)//1000000//3600 AS frame, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), geo AS (
        |  SELECT event_id, frame, 4 + event_id % 5 AS k,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> x + [1.0,1.0,0.0,-1.0,-1.0,-1.0,0.0,1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS xs,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> CAST(y AS DOUBLE) + [0.0,1.0,1.0,1.0,0.0,-1.0,-1.0,-1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS ys
        |  FROM base
        |), s AS (
        |  SELECT event_id AS id, frame,
        |    list_min(xs) AS x0, list_max(xs) AS x1,
        |    list_min(ys) AS y0, list_max(ys) AS y1
        |  FROM geo
        |), cand AS (
        |  SELECT c.id AS dst, p.id AS src, c.frame - p.frame AS gap,
        |    least(c.x1, p.x1) - greatest(c.x0, p.x0) AS ix,
        |    least(c.y1, p.y1) - greatest(c.y0, p.y0) AS iy,
        |    c.x0 AS x0, c.x1 AS x1, c.y0 AS y0, c.y1 AS y1,
        |    p.x0 AS px0, p.x1 AS px1, p.y0 AS py0, p.y1 AS py1
        |  FROM s c JOIN s p ON p.frame BETWEEN c.frame - 2 AND c.frame - 1
        |), scored AS (
        |  SELECT dst, src, gap,
        |    CASE WHEN ix > 0 AND iy > 0 THEN ix * iy ELSE 0.0 END AS inter,
        |    (x1 - x0) * (y1 - y0) + (px1 - px0) * (py1 - py0) AS areas
        |  FROM cand
        |), iou AS (
        |  SELECT dst, src, gap, inter / (areas - inter) AS iou
        |  FROM scored WHERE inter > 0
        |), best AS (
        |  SELECT dst, src, gap, iou,
        |    ROW_NUMBER() OVER (PARTITION BY dst
        |      ORDER BY gap, floor(iou * 1000000.0 + 0.5) DESC, src) AS rk
        |  FROM iou WHERE iou >= 0.01)
        |SELECT src, dst, gap, floor(iou * 1000000.0 + 0.5) / 1000000.0 AS iou
        |FROM best WHERE rk = 1""".stripMargin,

    // linker edges -> divisionAware mirror over the PER-VIDEO spot
    // layout (ids uid*1e7+event_id, frames uid*1e6+day — frames of
    // different videos are never within gap reach): each child already
    // keeps one parent, so merge suppression is a no-op; the surviving
    // chain edge per parent is its (frame, id)-first child; chains
    // walked recursively from heads, labeled by min id; every spot
    // incident to any edge is in scope (cut-out spots = single-spot
    // tracks)
    "q_link_track" ->
      """WITH RECURSIVE s AS (
        |  SELECT CAST(user_id AS BIGINT) * 10000000 + event_id AS id,
        |    CAST(user_id AS BIGINT) * 1000000 + epoch_us(ts)//1000000//86400 AS frame,
        |    value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), cand AS (
        |  SELECT c.id AS dst, p.id AS src, c.frame - p.frame AS gap,
        |    floor(((c.x - p.x)*(c.x - p.x)
        |      + CAST((c.y - p.y)*(c.y - p.y) AS DOUBLE)) * 10000.0 + 0.5) AS q
        |  FROM s c JOIN s p ON p.frame BETWEEN c.frame - 2 AND c.frame - 1
        |  WHERE (c.x - p.x)*(c.x - p.x) + CAST((c.y - p.y)*(c.y - p.y) AS DOUBLE) <= 2500.0
        |), edges AS (
        |  SELECT src, dst FROM (
        |    SELECT dst, src, ROW_NUMBER() OVER (PARTITION BY dst ORDER BY gap, q, src) AS rk
        |    FROM cand) WHERE rk = 1
        |), cont AS (
        |  SELECT src, dst FROM (
        |    SELECT e.src, e.dst,
        |      ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY sd.frame, e.dst) AS rn
        |    FROM edges e JOIN s sd ON e.dst = sd.id) WHERE rn = 1
        |), walk AS (
        |  SELECT src AS id, src AS head FROM cont
        |  WHERE src NOT IN (SELECT dst FROM cont)
        |  UNION ALL
        |  SELECT c.dst, w.head FROM walk w JOIN cont c ON c.src = w.id
        |), lab AS (
        |  SELECT head, MIN(id) AS track FROM walk GROUP BY head
        |), node_lbl AS (
        |  SELECT w.id, l.track FROM walk w JOIN lab l USING (head)
        |), universe AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
        |)
        |SELECT u.id, COALESCE(n.track, u.id) AS track_id
        |FROM universe u LEFT JOIN node_lbl n USING (id)""".stripMargin,

    "q_qc_cells_per_frame" ->
      """WITH pf AS (
        |  SELECT event_type AS grp, strftime(ts, '%Y-%m-%d') AS frame, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT grp, COUNT(*) AS n_frames, MIN(n) AS min_n,
        |  median(n) AS median_n, MAX(n) AS max_n
        |FROM pf GROUP BY grp""".stripMargin,

    "q_density_grid" ->
      """SELECT event_type,
        |  CAST(floor(value / 20.0) AS BIGINT) AS gx,
        |  CAST(floor(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) / 10.0) AS BIGINT) AS gy,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_roi_shape" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), geo AS (
        |  SELECT event_id, event_type, 4 + event_id % 5 AS k,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> x + [1.0,1.0,0.0,-1.0,-1.0,-1.0,0.0,1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS xs,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> CAST(y AS DOUBLE) + [0.0,1.0,1.0,1.0,0.0,-1.0,-1.0,-1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS ys
        |  FROM base
        |), m AS (
        |  SELECT event_id, event_type, CAST(k AS INT) AS n_vertices,
        |    abs(list_sum(list_transform(range(0, k),
        |      i -> xs[CAST(i+1 AS INT)] * ys[CAST((i+1) % k + 1 AS INT)]
        |         - xs[CAST((i+1) % k + 1 AS INT)] * ys[CAST(i+1 AS INT)]))) / 2.0 AS area,
        |    list_sum(list_transform(range(0, k),
        |      i -> sqrt((xs[CAST((i+1) % k + 1 AS INT)] - xs[CAST(i+1 AS INT)])
        |              * (xs[CAST((i+1) % k + 1 AS INT)] - xs[CAST(i+1 AS INT)])
        |              + (ys[CAST((i+1) % k + 1 AS INT)] - ys[CAST(i+1 AS INT)])
        |              * (ys[CAST((i+1) % k + 1 AS INT)] - ys[CAST(i+1 AS INT)])))) AS perimeter,
        |    list_min(xs) AS min_x, list_max(xs) AS max_x,
        |    list_min(ys) AS min_y, list_max(ys) AS max_y
        |  FROM geo
        |)
        |SELECT event_id, n_vertices,
        |  floor(area * 10000.0 + 0.5) / 10000.0 AS area,
        |  floor(perimeter * 10000.0 + 0.5) / 10000.0 AS perimeter,
        |  floor((CASE WHEN perimeter > 0.0 THEN 4.0 * pi() * area / (perimeter * perimeter)
        |    ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS circularity,
        |  floor((max_x - min_x) * 10000.0 + 0.5) / 10000.0 AS bbox_w,
        |  floor((max_y - min_y) * 10000.0 + 0.5) / 10000.0 AS bbox_h,
        |  floor((CASE WHEN max_y - min_y > 0.0 THEN (max_x - min_x) / (max_y - min_y)
        |    ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS aspect
        |FROM m""".stripMargin,

    "q_roi_tm" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), geo AS (
        |  SELECT event_id, event_type, 4 + event_id % 5 AS k,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> x + [1.0,1.0,0.0,-1.0,-1.0,-1.0,0.0,1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS xs,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> CAST(y AS DOUBLE) + [0.0,1.0,1.0,1.0,0.0,-1.0,-1.0,-1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS ys
        |  FROM base
        |), m AS (
        |  SELECT event_id,
        |    abs(list_sum(list_transform(range(0, k),
        |      i -> xs[CAST(i+1 AS INT)] * ys[CAST((i+1) % k + 1 AS INT)]
        |         - xs[CAST((i+1) % k + 1 AS INT)] * ys[CAST(i+1 AS INT)]))) / 2.0 AS area,
        |    list_sum(list_transform(range(0, k),
        |      i -> sqrt((xs[CAST((i+1) % k + 1 AS INT)] - xs[CAST(i+1 AS INT)])
        |              * (xs[CAST((i+1) % k + 1 AS INT)] - xs[CAST(i+1 AS INT)])
        |              + (ys[CAST((i+1) % k + 1 AS INT)] - ys[CAST(i+1 AS INT)])
        |              * (ys[CAST((i+1) % k + 1 AS INT)] - ys[CAST(i+1 AS INT)])))) AS perimeter
        |  FROM geo
        |)
        |SELECT event_id,
        |  floor((CASE WHEN area > 0.0 THEN perimeter / sqrt(area)
        |    ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS shape_index,
        |  floor(sqrt(area / pi()) * 10000.0 + 0.5) / 10000.0 AS radius
        |FROM m""".stripMargin,

    "q_tlm" ->
      """WITH f AS (
        |  SELECT user_id AS timelapse, event_id,
        |    'img_' || CAST(event_id AS VARCHAR) ||
        |      CASE WHEN user_id % 2 = 0 THEN '.jpeg' ELSE '.tif' END AS base,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_files
        |  FROM events
        |), r AS (
        |  SELECT timelapse,
        |    CASE WHEN timelapse % 2 = 0 THEN 'jpeg'
        |         WHEN n_files = 1 THEN 'stack' ELSE 'tiffs' END AS kind,
        |    base AS src_file, CAST(0 AS BIGINT) AS src_index,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY timelapse ORDER BY event_id)
        |      AS BIGINT) AS frame_id
        |  FROM f
        |)
        |SELECT timelapse, kind, src_file, src_index, frame_id,
        |  'frame_' || lpad(CAST(frame_id AS VARCHAR), 5, '0') || '.tiff'
        |    AS canonical_name
        |FROM r""".stripMargin,

    "q_roi_stats" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value AS x,
        |    CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS y
        |  FROM events
        |), geo AS (
        |  SELECT event_id, event_type, 4 + event_id % 5 AS k,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> x + [1.0,1.0,0.0,-1.0,-1.0,-1.0,0.0,1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS xs,
        |    list_transform(range(0, 4 + event_id % 5),
        |      i -> CAST(y AS DOUBLE) + [0.0,1.0,1.0,1.0,0.0,-1.0,-1.0,-1.0][CAST(i+1 AS INT)]
        |        * CAST((event_id + i) % 3 + 1 AS DOUBLE)) AS ys
        |  FROM base
        |), m AS (
        |  SELECT event_type,
        |    abs(list_sum(list_transform(range(0, k),
        |      i -> xs[CAST(i+1 AS INT)] * ys[CAST((i+1) % k + 1 AS INT)]
        |         - xs[CAST((i+1) % k + 1 AS INT)] * ys[CAST(i+1 AS INT)]))) / 2.0 AS area,
        |    list_sum(list_transform(range(0, k),
        |      i -> sqrt((xs[CAST((i+1) % k + 1 AS INT)] - xs[CAST(i+1 AS INT)])
        |              * (xs[CAST((i+1) % k + 1 AS INT)] - xs[CAST(i+1 AS INT)])
        |              + (ys[CAST((i+1) % k + 1 AS INT)] - ys[CAST(i+1 AS INT)])
        |              * (ys[CAST((i+1) % k + 1 AS INT)] - ys[CAST(i+1 AS INT)])))) AS perimeter
        |  FROM geo
        |), f AS (
        |  SELECT event_type, area, perimeter AS perim,
        |    CASE WHEN perimeter > 0.0 THEN 4.0 * pi() * area / (perimeter * perimeter)
        |      ELSE 0.0 END AS circ
        |  FROM m
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(area AS DECIMAL(28,4))) AS DOUBLE) AS area_sum,
        |  floor(CAST(SUM(CAST(area AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS area_avg,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    floor(sqrt((CAST(SUM(CAST(area * area AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(SUM(CAST(area AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(SUM(CAST(area AS DECIMAL(28,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) * 10000.0 + 0.5) / 10000.0
        |  END AS area_std,
        |  floor(MIN(area) * 10000.0 + 0.5) / 10000.0 AS area_min,
        |  floor(MAX(area) * 10000.0 + 0.5) / 10000.0 AS area_max,
        |  CAST(SUM(CAST(perim AS DECIMAL(28,4))) AS DOUBLE) AS perim_sum,
        |  floor(CAST(SUM(CAST(perim AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS perim_avg,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    floor(sqrt((CAST(SUM(CAST(perim * perim AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(SUM(CAST(perim AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(SUM(CAST(perim AS DECIMAL(28,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) * 10000.0 + 0.5) / 10000.0
        |  END AS perim_std,
        |  floor(MIN(perim) * 10000.0 + 0.5) / 10000.0 AS perim_min,
        |  floor(MAX(perim) * 10000.0 + 0.5) / 10000.0 AS perim_max,
        |  CAST(SUM(CAST(circ AS DECIMAL(28,4))) AS DOUBLE) AS circ_sum,
        |  floor(CAST(SUM(CAST(circ AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS circ_avg,
        |  CASE WHEN COUNT(*) > 1 THEN
        |    floor(sqrt((CAST(SUM(CAST(circ * circ AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(SUM(CAST(circ AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(SUM(CAST(circ AS DECIMAL(28,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) * 10000.0 + 0.5) / 10000.0
        |  END AS circ_std,
        |  floor(MIN(circ) * 10000.0 + 0.5) / 10000.0 AS circ_min,
        |  floor(MAX(circ) * 10000.0 + 0.5) / 10000.0 AS circ_max
        |FROM f GROUP BY event_type""".stripMargin,

    "q_qc_track_summary" ->
      """SELECT user_id, COUNT(*) AS n_obs,
        |  MIN(epoch_us(ts)//1000000) AS first_s,
        |  MAX(epoch_us(ts)//1000000) AS last_s,
        |  MAX(epoch_us(ts)//1000000) - MIN(epoch_us(ts)//1000000) AS span_s,
        |  floor(MIN(value) * 10000.0 + 0.5) / 10000.0 AS v_min, floor(MAX(value) * 10000.0 + 0.5) / 10000.0 AS v_max,
        |  floor(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS v_avg
        |FROM events GROUP BY user_id""".stripMargin,

    "q_qc_duplicates" ->
      """SELECT user_id, epoch_us(date_trunc('day', ts))//1000000 AS frame, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 HAVING COUNT(*) > 1""".stripMargin,

    "q_stream_window" ->
      """SELECT epoch_us(date_trunc('hour', ts))//1000000 AS win_start_s, event_type,
        |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS v_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_rollup" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
        |FROM events GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m-%d'))""".stripMargin,

    "q_cube" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
        |FROM events GROUP BY CUBE(event_type, strftime(ts, '%Y-%m-%d'))""".stripMargin,

    "q_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY 1""".stripMargin,

    "q_set_except" ->
      """SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
        |FROM events WHERE event_type = 'purchase'""".stripMargin,

    "q_range_join" ->
      """SELECT e.event_id, t.tier
        |FROM events e
        |JOIN (VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'),
        |             (150.0, 1000.0, 'high')) AS t(lo, hi, tier)
        |  ON e.value >= t.lo AND e.value < t.hi""".stripMargin,

    "q_rjr" ->
      """SELECT e.event_id, t.tier
        |FROM events e
        |JOIN (VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'),
        |             (150.0, 1000.0, 'high')) AS t(lo, hi, tier)
        |  ON e.value >= t.lo AND e.value < t.hi""".stripMargin,

    // the ROI naming contract replayed verbatim: 1-indexing, per-video
    // window maxima for the pad widths, lpad-joined filename
    "q_roiname" ->
      """WITH sp AS (
        |  SELECT user_id AS video, event_id AS spot,
        |    (epoch_us(ts)//1000000) // 86400 AS frame,
        |    user_id * 100 + (epoch_us(ts)//1000000) // 604800 AS track
        |  FROM events),
        |t AS (
        |  SELECT video, spot, track + 1 AS cell_id, frame + 1 AS frame_id
        |  FROM sp),
        |w AS (
        |  SELECT video, spot, cell_id, frame_id,
        |    CAST(length(CAST(MAX(cell_id) OVER (PARTITION BY video) AS VARCHAR)) AS INTEGER) AS wc,
        |    CAST(length(CAST(MAX(frame_id) OVER (PARTITION BY video) AS VARCHAR)) AS INTEGER) AS wf,
        |    CAST(length(CAST(MAX(spot) OVER (PARTITION BY video) AS VARCHAR)) AS INTEGER) AS ws
        |  FROM t)
        |SELECT video, spot, CAST(cell_id AS BIGINT) AS cell_id,
        |  CAST(frame_id AS BIGINT) AS frame_id,
        |  lpad(CAST(frame_id AS VARCHAR), wf, '0') || '-' ||
        |  lpad(CAST(cell_id AS VARCHAR), wc, '0') || '-' ||
        |  lpad(CAST(spot AS VARCHAR), ws, '0') AS roi_filename
        |FROM w""".stripMargin,

    "q_gap_fill" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts)//1000000//3600 AS frame,
        |    MIN(value) AS v_obs
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, MIN(frame) AS f0, MAX(frame) AS f1 FROM obs GROUP BY 1
        |), dense AS (
        |  SELECT user_id, UNNEST(range(f0, f1 + 1)) AS frame FROM span
        |), j AS (
        |  SELECT d.user_id, d.frame, o.v_obs
        |  FROM dense d LEFT JOIN obs o ON d.user_id = o.user_id AND d.frame = o.frame
        |), w AS (
        |  SELECT user_id, frame, v_obs,
        |    last_value(v_obs IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v_obs IS NOT NULL THEN frame END IGNORE NULLS) OVER wp AS pf,
        |    first_value(v_obs IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v_obs IS NOT NULL THEN frame END IGNORE NULLS) OVER wn AS nf
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY frame ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY frame ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, frame,
        |  floor((CASE WHEN v_obs IS NOT NULL THEN v_obs
        |    ELSE pv + (nv - pv) * CAST(frame - pf AS DOUBLE) / CAST(nf - pf AS DOUBLE) END) * 10000.0 + 0.5) / 10000.0 AS v_fill,
        |  v_obs IS NOT NULL AS is_observed
        |FROM w""".stripMargin,

    "q_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
        |), h AS (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM tok
        |), bits AS (
        |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM h, range(30) r(b) GROUP BY doc_id, b)
        |SELECT doc_id, CAST(SUM(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin,

    // audio s16le PCM frames: payload bytes = UTF-8 text bytes (the
    // harness's withPayload contract), extracted in DuckDB via hex()
    // character pairs. All math is deterministic across engines: the
    // per-frame sum of squares is an exact integer, sqrt is a single
    // correctly-rounded IEEE op, zcr/peak are integer-derived.
    // frameLen 32, hop 16 mirror the Spark query.
    "q_audio" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, h, CAST(UNNEST(range((nb // 2 - 32) // 16 + 1)) AS INT) AS frame_idx
        |  FROM hx WHERE nb // 2 >= 32
        |), sm AS (
        |  SELECT doc_id, frame_idx,
        |    list_transform(
        |      list_transform(range(32), i ->
        |        (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+1 : 4*(frame_idx*16+i)+1]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+2 : 4*(frame_idx*16+i)+2]) - 1)
        |        + ((strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+3 : 4*(frame_idx*16+i)+3]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+4 : 4*(frame_idx*16+i)+4]) - 1)) * 256),
        |      v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS s
        |  FROM fr
        |)
        |SELECT doc_id, frame_idx, CAST(32 AS INT) AS n_samples,
        |  floor(sqrt(CAST(list_sum(list_transform(s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE) / 32) * 10000.0 + 0.5) / 10000.0 AS rms,
        |  floor(CAST(len(list_filter(range(2, 33), i -> s[i-1] * s[i] < 0)) AS DOUBLE) / 31 * 1000000.0 + 0.5) / 1000000.0 AS zcr,
        |  CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak
        |FROM sm""".stripMargin,

    // the q_audio decode CTEs (rms only) + the MSB-first delta-sign
    // fold and the (n_bits, fp)-grain canonical window
    "q_afp" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, h, CAST(UNNEST(range((nb // 2 - 32) // 16 + 1)) AS INT) AS frame_idx
        |  FROM hx WHERE nb // 2 >= 32
        |), sm AS (
        |  SELECT doc_id, frame_idx,
        |    list_transform(
        |      list_transform(range(32), i ->
        |        (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+1 : 4*(frame_idx*16+i)+1]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+2 : 4*(frame_idx*16+i)+2]) - 1)
        |        + ((strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+3 : 4*(frame_idx*16+i)+3]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+4 : 4*(frame_idx*16+i)+4]) - 1)) * 256),
        |      v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS s
        |  FROM fr
        |), af AS (
        |  SELECT doc_id, frame_idx,
        |    floor(sqrt(CAST(list_sum(list_transform(s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE) / 32) * 10000.0 + 0.5) / 10000.0 AS rms
        |  FROM sm
        |), fl AS (
        |  SELECT doc_id, list(rms ORDER BY frame_idx) AS r
        |  FROM af WHERE frame_idx <= 12 GROUP BY doc_id
        |), pk AS (
        |  SELECT doc_id, CAST(len(r) - 1 AS INT) AS n_bits,
        |    CASE WHEN len(r) < 2 THEN CAST(0 AS BIGINT) ELSE
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, len(r)), i ->
        |          CAST(CASE WHEN r[i+1] > r[i] THEN 1 ELSE 0 END AS BIGINT))),
        |        (a, b) -> a * 2 + b) END AS fp
        |  FROM fl
        |), g AS (
        |  SELECT doc_id, n_bits, fp,
        |    CASE WHEN n_bits >= 6
        |      THEN MIN(doc_id) OVER (PARTITION BY n_bits, fp)
        |      ELSE doc_id END AS dup_of
        |  FROM pk
        |)
        |SELECT doc_id, n_bits, fp, dup_of,
        |  CAST(CASE WHEN doc_id <> dup_of THEN 1 ELSE 0 END AS INT) AS is_dup
        |FROM g""".stripMargin,

    // the q_audio decode CTEs (rms only) + SQL gaps-and-islands at
    // the same inclusive gate on the rounded rms
    "q_vad" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, h, CAST(UNNEST(range((nb // 2 - 32) // 16 + 1)) AS INT) AS frame_idx
        |  FROM hx WHERE nb // 2 >= 32
        |), sm AS (
        |  SELECT doc_id, frame_idx,
        |    list_transform(
        |      list_transform(range(32), i ->
        |        (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+1 : 4*(frame_idx*16+i)+1]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+2 : 4*(frame_idx*16+i)+2]) - 1)
        |        + ((strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+3 : 4*(frame_idx*16+i)+3]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*(frame_idx*16+i)+4 : 4*(frame_idx*16+i)+4]) - 1)) * 256),
        |      v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS s
        |  FROM fr
        |), af AS (
        |  SELECT doc_id, frame_idx,
        |    floor(sqrt(CAST(list_sum(list_transform(s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE) / 32) * 10000.0 + 0.5) / 10000.0 AS rms
        |  FROM sm
        |), act AS (
        |  SELECT doc_id, frame_idx, rms FROM af WHERE rms >= 25500.0
        |), gl AS (
        |  SELECT doc_id, frame_idx, rms,
        |    CASE WHEN lag(frame_idx) OVER w IS NULL
        |      OR frame_idx <> lag(frame_idx) OVER w + 1
        |      THEN 1 ELSE 0 END AS n
        |  FROM act WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
        |), sg AS (
        |  SELECT doc_id, frame_idx, rms,
        |    SUM(n) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM gl
        |)
        |SELECT doc_id, CAST(seg AS BIGINT) AS seg,
        |  MIN(frame_idx) AS start_frame, MAX(frame_idx) AS end_frame,
        |  COUNT(*) AS n_frames,
        |  floor(CAST(SUM(CAST(rms AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*)
        |    * 10000.0 + 0.5) / 10000.0 AS mean_rms
        |FROM sg GROUP BY 1, 2""".stripMargin,

    // scene cuts over the stub decode's frame means: mean_px is an
    // exact integer-sum mean (bytes xor frame_idx), frames sampled
    // every 2 of 1 + n_bytes % 8; the window chain mirrors
    // SceneCut.cuts (threshold 30, delta rounded at 4)
    "q_scut" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, h, nb, CAST(UNNEST(range(0, 1 + nb % 8, 2)) AS INT) AS frame_idx
        |  FROM hx
        |), mp AS (
        |  SELECT doc_id, frame_idx,
        |    CASE WHEN nb = 0 THEN 0.0 ELSE
        |      CAST(list_sum(list_transform(range(nb), j ->
        |        xor((strpos('0123456789ABCDEF', h[2*j+1 : 2*j+1]) - 1) * 16
        |          + (strpos('0123456789ABCDEF', h[2*j+2 : 2*j+2]) - 1), frame_idx))) AS DOUBLE) / nb
        |    END AS mean_px
        |  FROM fr
        |), d AS (
        |  SELECT doc_id, frame_idx, mean_px - lag(mean_px) OVER w AS delta
        |  FROM mp
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
        |), c AS (
        |  SELECT doc_id, frame_idx, delta,
        |    COALESCE(abs(delta) > 30.0, FALSE) AS is_cut
        |  FROM d
        |)
        |SELECT doc_id, frame_idx,
        |  floor(delta * 10000.0 + 0.5) / 10000.0 AS delta,
        |  is_cut,
        |  CAST(SUM(CAST(is_cut AS INT)) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segment
        |FROM c""".stripMargin,

    // decode-stub metadata incl. the FNV-1a checksum replayed in
    // HUGEINT arithmetic: the xor of one byte only touches the low 8
    // bits (a - a%256 + xor(a%256, p)), the 64-bit wrap is % 2^64,
    // and the product stays under 2^104 < HUGEINT range; width/height
    // read the unsigned value where Scala floorMod reads the signed
    // one (equal because 2^64 = 0 mod 512 and mod-2^16-shift)
    "q_mm_decode" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), cs AS (
        |  SELECT doc_id, nb,
        |    list_reduce(list_prepend(CAST(1469598103934665603 AS HUGEINT),
        |      list_transform(range(nb), j ->
        |        CAST((strpos('0123456789ABCDEF', h[2*j+1 : 2*j+1]) - 1) * 16
        |           + (strpos('0123456789ABCDEF', h[2*j+2 : 2*j+2]) - 1) AS HUGEINT))),
        |      (a, p) -> ((a - a % 256 + xor(CAST(a % 256 AS BIGINT), CAST(p AS BIGINT)))
        |                 * 1099511628211) % 18446744073709551616) AS u
        |  FROM hx
        |)
        |SELECT doc_id, 'image/fake' AS kind, CAST(nb AS INT) AS n_bytes,
        |  CAST(16 + u % 512 AS INT) AS width,
        |  CAST(16 + (u // 65536) % 512 AS INT) AS height,
        |  CAST(1 + nb % 8 AS INT) AS n_frames,
        |  CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS checksum
        |FROM cs""".stripMargin,

    // cooccurrence texture per sampled frame: the 8x8 stub pixel block
    // rebuilt relationally (as in q_mm_frames), min-max quantization to
    // 8 levels, symmetric right+down cooccurrence pairs, features as
    // per-term DECIMAL(28,8) sums — mirroring Texture.DecSum exactly,
    // so sum order cannot move a rounding boundary
    "q_glcm" ->
      """WITH hx AS MATERIALIZED (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), fr AS MATERIALIZED (
        |  SELECT doc_id, CAST(UNNEST(range(0, 1 + nb % 8, 2)) AS INT) AS frame_idx FROM hx
        |), byt AS MATERIALIZED (
        |  SELECT doc_id, CAST(j AS INT) AS j,
        |    (strpos('0123456789ABCDEF', h[2*j+1 : 2*j+1]) - 1) * 16
        |    + (strpos('0123456789ABCDEF', h[2*j+2 : 2*j+2]) - 1) AS b
        |  FROM hx, UNNEST(range(nb)) t(j)
        |), cell AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx, y.j % 64 AS cj, SUM(xor(y.b, f.frame_idx)) AS v
        |  FROM fr f JOIN byt y USING (doc_id) GROUP BY 1, 2, 3
        |), px AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx, CAST(g.j AS INT) AS cj,
        |    CAST(COALESCE(c.v, 0) AS DOUBLE) AS v
        |  FROM fr f CROSS JOIN (SELECT UNNEST(range(64)) AS j) g
        |  LEFT JOIN cell c ON c.doc_id = f.doc_id AND c.frame_idx = f.frame_idx AND c.cj = g.j
        |), qv AS MATERIALIZED (
        |  SELECT doc_id, frame_idx, cj,
        |    CASE WHEN mx > mn THEN least(CAST(floor(((v - mn) / (mx - mn)) * 8) AS INT), 7)
        |         ELSE 0 END AS q
        |  FROM (SELECT doc_id, frame_idx, cj, v,
        |          min(v) OVER f AS mn, max(v) OVER f AS mx
        |        FROM px WINDOW f AS (PARTITION BY doc_id, frame_idx))
        |), pr AS MATERIALIZED (
        |  SELECT a.doc_id, a.frame_idx, a.q AS qa, b.q AS qb
        |  FROM qv a JOIN qv b ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx
        |    AND ((b.cj = a.cj + 1 AND a.cj % 8 < 7) OR b.cj = a.cj + 8)
        |), cp AS MATERIALIZED (
        |  SELECT doc_id, frame_idx, i, j, c / SUM(c) OVER (PARTITION BY doc_id, frame_idx) AS p
        |  FROM (
        |    SELECT doc_id, frame_idx, i, j, CAST(COUNT(*) AS DOUBLE) AS c
        |    FROM (SELECT doc_id, frame_idx, qa AS i, qb AS j FROM pr
        |          UNION ALL SELECT doc_id, frame_idx, qb, qa FROM pr)
        |    GROUP BY 1, 2, 3, 4)
        |), f1 AS MATERIALIZED (
        |  SELECT doc_id, frame_idx,
        |    CAST(SUM(CAST(p * (i - j) * (i - j) AS DECIMAL(28,8))) AS DOUBLE) AS contrast,
        |    CAST(SUM(CAST(p / (1.0 + (i - j) * (i - j)) AS DECIMAL(28,8))) AS DOUBLE) AS homog,
        |    CAST(SUM(CAST(p * p AS DECIMAL(28,8))) AS DOUBLE) AS energy,
        |    0.0 - CAST(SUM(CAST(p * ln(p) AS DECIMAL(28,8))) AS DOUBLE) AS entropy,
        |    CAST(SUM(CAST(i * p AS DECIMAL(28,8))) AS DOUBLE) AS mu
        |  FROM cp GROUP BY 1, 2
        |), f2 AS MATERIALIZED (
        |  SELECT c.doc_id, c.frame_idx,
        |    CAST(SUM(CAST((c.i - f.mu) * (c.i - f.mu) * c.p AS DECIMAL(28,8))) AS DOUBLE) AS varr,
        |    CAST(SUM(CAST((c.i - f.mu) * (c.j - f.mu) * c.p AS DECIMAL(28,8))) AS DOUBLE) AS cov
        |  FROM cp c JOIN f1 f USING (doc_id, frame_idx) GROUP BY 1, 2
        |), fo AS MATERIALIZED (
        |  SELECT doc_id, frame_idx, SUM(v) / 64.0 AS mean FROM px GROUP BY 1, 2
        |), fo2 AS MATERIALIZED (
        |  SELECT p.doc_id, p.frame_idx,
        |    CAST(SUM(CAST((p.v - o.mean) * (p.v - o.mean) AS DECIMAL(28,8))) AS DOUBLE) AS m2,
        |    CAST(SUM(CAST((p.v - o.mean) * (p.v - o.mean) * (p.v - o.mean) AS DECIMAL(28,8))) AS DOUBLE) AS m3
        |  FROM px p JOIN fo o USING (doc_id, frame_idx) GROUP BY 1, 2
        |), srt AS MATERIALIZED (
        |  SELECT doc_id, frame_idx, list_sort(list(v)) AS s FROM px GROUP BY 1, 2
        |)
        |SELECT f1.doc_id, f1.frame_idx,
        |  floor(f1.contrast * 10000.0 + 0.5) / 10000.0 AS glcm_contrast,
        |  floor(f1.homog * 10000.0 + 0.5) / 10000.0 AS glcm_homog,
        |  floor(f1.energy * 10000.0 + 0.5) / 10000.0 AS glcm_energy,
        |  floor(f1.entropy * 10000.0 + 0.5) / 10000.0 AS glcm_entropy,
        |  floor((CASE WHEN f2.varr > 0 THEN f2.cov / f2.varr ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS glcm_corr,
        |  floor(fo.mean * 10000.0 + 0.5) / 10000.0 AS px_mean,
        |  floor(sqrt(fo2.m2 / 64.0) * 10000.0 + 0.5) / 10000.0 AS px_sd,
        |  floor((CASE WHEN sqrt(fo2.m2 / 64.0) > 0
        |    THEN (fo2.m3 / 64.0) / (sqrt(fo2.m2 / 64.0) * sqrt(fo2.m2 / 64.0) * sqrt(fo2.m2 / 64.0))
        |    ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS px_skew,
        |  floor(((srt.s[48] + 0.25 * (srt.s[49] - srt.s[48]))
        |       - (srt.s[16] + 0.75 * (srt.s[17] - srt.s[16]))) * 10000.0 + 0.5) / 10000.0 AS px_iqr
        |FROM f1 JOIN f2 USING (doc_id, frame_idx) JOIN fo USING (doc_id, frame_idx)
        |  JOIN fo2 USING (doc_id, frame_idx) JOIN srt USING (doc_id, frame_idx)""".stripMargin,

    // blur gate: the q_glcm pixel-rebuild CTEs (byte xor frame_idx
    // accumulated by index mod 64), then the 4-neighbour Laplacian over
    // the 36 interior cells in PURE INTEGER arithmetic — r is integral
    // because the stub pixels are integer sums, so variance =
    // (36*SUM(r*r) - SUM(r)^2) / 1296 has an exact BIGINT numerator
    // (|r| < 2^21 at any plausible doc size) and ONE IEEE division +
    // the shared cround(4) contract, matching Texture.laplacianVar in
    // any aggregation order
    "q_blur" ->
      """WITH hx AS MATERIALIZED (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), fr AS MATERIALIZED (
        |  SELECT doc_id, CAST(UNNEST(range(0, 1 + nb % 8, 2)) AS INT) AS frame_idx FROM hx
        |), byt AS MATERIALIZED (
        |  SELECT doc_id, CAST(j AS INT) AS j,
        |    (strpos('0123456789ABCDEF', h[2*j+1 : 2*j+1]) - 1) * 16
        |    + (strpos('0123456789ABCDEF', h[2*j+2 : 2*j+2]) - 1) AS b
        |  FROM hx, UNNEST(range(nb)) t(j)
        |), cell AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx, y.j % 64 AS cj, SUM(xor(y.b, f.frame_idx)) AS v
        |  FROM fr f JOIN byt y USING (doc_id) GROUP BY 1, 2, 3
        |), px AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx, CAST(g.j AS INT) AS cj,
        |    CAST(COALESCE(c.v, 0) AS BIGINT) AS v
        |  FROM fr f CROSS JOIN (SELECT UNNEST(range(64)) AS j) g
        |  LEFT JOIN cell c ON c.doc_id = f.doc_id AND c.frame_idx = f.frame_idx AND c.cj = g.j
        |), lap AS (
        |  SELECT c.doc_id, c.frame_idx,
        |    4 * c.v - up.v - dn.v - lf.v - rt.v AS rv
        |  FROM px c
        |  JOIN px up ON up.doc_id = c.doc_id AND up.frame_idx = c.frame_idx AND up.cj = c.cj - 8
        |  JOIN px dn ON dn.doc_id = c.doc_id AND dn.frame_idx = c.frame_idx AND dn.cj = c.cj + 8
        |  JOIN px lf ON lf.doc_id = c.doc_id AND lf.frame_idx = c.frame_idx AND lf.cj = c.cj - 1
        |  JOIN px rt ON rt.doc_id = c.doc_id AND rt.frame_idx = c.frame_idx AND rt.cj = c.cj + 1
        |  WHERE c.cj % 8 BETWEEN 1 AND 6 AND c.cj // 8 BETWEEN 1 AND 6
        |)
        |SELECT doc_id, frame_idx,
        |  floor(CAST(36 * SUM(rv * rv) - SUM(rv) * SUM(rv) AS DOUBLE) / 1296.0
        |    * 10000.0 + 0.5) / 10000.0 AS lap_var
        |FROM lap GROUP BY doc_id, frame_idx""".stripMargin,

    // sampled-frame features: the 8x8 stub pixel block is rebuilt
    // relationally (byte xor frame_idx accumulated by index mod 64),
    // Haar band energies are sums of exact dyadic rationals (halves
    // squared, /16) so raw doubles match bit-for-bit in any sum
    // order; the checksum reuses the FNV HUGEINT replay with the
    // frame-salted seed
    "q_mm_frames" ->
      """WITH hx AS MATERIALIZED (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), fr AS MATERIALIZED (
        |  SELECT doc_id, CAST(UNNEST(range(0, 1 + nb % 8, 2)) AS INT) AS frame_idx FROM hx
        |), byt AS MATERIALIZED (
        |  SELECT doc_id, CAST(j AS INT) AS j,
        |    (strpos('0123456789ABCDEF', h[2*j+1 : 2*j+1]) - 1) * 16
        |    + (strpos('0123456789ABCDEF', h[2*j+2 : 2*j+2]) - 1) AS b
        |  FROM hx, UNNEST(range(nb)) t(j)
        |), cell AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx, y.j % 64 AS cj, SUM(xor(y.b, f.frame_idx)) AS v
        |  FROM fr f JOIN byt y USING (doc_id) GROUP BY 1, 2, 3
        |), px AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx, CAST(g.j AS INT) AS cj,
        |    CAST(COALESCE(c.v, 0) AS DOUBLE) AS v
        |  FROM fr f CROSS JOIN (SELECT UNNEST(range(64)) AS j) g
        |  LEFT JOIN cell c ON c.doc_id = f.doc_id AND c.frame_idx = f.frame_idx AND c.cj = g.j
        |), blocks AS MATERIALIZED (
        |  SELECT a.doc_id, a.frame_idx,
        |    (a.v + b.v - c.v - d.v) / 2.0 AS vlh,
        |    (a.v - b.v + c.v - d.v) / 2.0 AS vhl,
        |    (a.v - b.v - c.v + d.v) / 2.0 AS vhh
        |  FROM px a
        |  JOIN px b ON b.doc_id = a.doc_id AND b.frame_idx = a.frame_idx AND b.cj = a.cj + 1
        |  JOIN px c ON c.doc_id = a.doc_id AND c.frame_idx = a.frame_idx AND c.cj = a.cj + 8
        |  JOIN px d ON d.doc_id = a.doc_id AND d.frame_idx = a.frame_idx AND d.cj = a.cj + 9
        |  WHERE (a.cj % 8) % 2 = 0 AND (a.cj // 8) % 2 = 0
        |), tex AS MATERIALIZED (
        |  SELECT doc_id, frame_idx,
        |    SUM(vlh * vlh) / 16.0 AS tex_lh,
        |    SUM(vhl * vhl) / 16.0 AS tex_hl,
        |    SUM(vhh * vhh) / 16.0 AS tex_hh
        |  FROM blocks GROUP BY 1, 2
        |), mp AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx,
        |    CAST(SUM(xor(y.b, f.frame_idx)) AS DOUBLE) / x.nb AS mean_px
        |  FROM fr f JOIN byt y USING (doc_id) JOIN hx x USING (doc_id)
        |  GROUP BY f.doc_id, f.frame_idx, x.nb
        |), cks AS MATERIALIZED (
        |  SELECT f.doc_id, f.frame_idx,
        |    list_reduce(list_prepend(CAST(xor(1469598103934665603, f.frame_idx) AS HUGEINT),
        |      list_transform(list(y.b ORDER BY y.j), p -> CAST(xor(p, f.frame_idx) AS HUGEINT))),
        |      (a, p) -> ((a - a % 256 + xor(CAST(a % 256 AS BIGINT), CAST(p AS BIGINT)))
        |                 * 1099511628211) % 18446744073709551616) AS u
        |  FROM fr f JOIN byt y USING (doc_id) GROUP BY f.doc_id, f.frame_idx
        |)
        |SELECT t.doc_id, t.frame_idx,
        |  floor(m.mean_px * 10000.0 + 0.5) / 10000.0 AS mean_px,
        |  t.tex_lh, t.tex_hl, t.tex_hh,
        |  CAST(CASE WHEN c.u >= 9223372036854775808 THEN c.u - 18446744073709551616 ELSE c.u END AS BIGINT) AS checksum
        |FROM tex t JOIN mp m USING (doc_id, frame_idx) JOIN cks c USING (doc_id, frame_idx)""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents""".stripMargin,

    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, s.event_id AS last_signup_id,
        |  floor(s.value * 10000.0 + 0.5) / 10000.0 AS last_signup_value
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT user_id, event_id, value FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.event_id >= s.event_id""".stripMargin,

    "q_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, list_transform(range(1, length(text) - 8 + 2),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(substr(text, CAST(i AS INT), 8), ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007)) AS hs
        |  FROM documents WHERE length(text) >= 8 + 4 - 1)
        |SELECT DISTINCT doc_id, list_min(hs[CAST(j AS INT):CAST(j AS INT)+3]) AS fp
        |FROM g, UNNEST(range(1, len(hs) - 4 + 2)) AS t(j)""".stripMargin,

    "q_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,

    // the operator joins on xxhash64(text); text-equality join is the
    // same relation absent 64-bit collisions (none at driver SFs)
    "q_incdedup" ->
      """WITH idx AS (
        |  SELECT text, MIN(doc_id) AS dup_of FROM documents
        |  WHERE doc_id % 3 <> 0 GROUP BY text)
        |SELECT b.doc_id, i.dup_of,
        |  CASE WHEN i.dup_of IS NULL THEN 1 ELSE 0 END AS is_new
        |FROM documents b LEFT JOIN idx i USING (text)
        |WHERE b.doc_id % 3 = 0""".stripMargin,

    // the LSH pipeline's contract IS the exact-Jaccard pair set: false
    // positives are impossible (candidates are verified with TRUE
    // per-pair set intersection — no df cap anywhere since r5) and at
    // the driver corpus's duplicate strength (every sf0.01 pair has
    // j >= 0.9) the per-pair band-miss probability is (1 - 0.9^4)^16
    // ~ 4e-8 — and signatures are deterministic (fixed seeds), so
    // equality observed once holds for every run. Oracle = uncapped
    // exact Jaccard over all shingle-sharing pairs.
    "q_minhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        |  FROM tok, UNNEST(range(1, len(tk) - 1)) AS t(i)
        |  WHERE len(tk) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  floor(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM pairs JOIN sizes s1 ON pairs.d1 = s1.doc_id
        |JOIN sizes s2 ON pairs.d2 = s2.doc_id
        |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5""".stripMargin,

    // transitive closure of the jaccard near-dup pairs (recursive CTE:
    // comp reachable-from sets, min per node = component label), then
    // canonical keep selection over every document
    "q_dedup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        |  FROM tok, UNNEST(range(1, len(tk) - 1)) AS t(i)
        |  WHERE len(tk) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), kp AS (
        |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 1000
        |), post AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN kp USING (shingle)
        |), cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), dup AS (
        |  SELECT d1, d2 FROM cand
        |  JOIN sizes s1 ON cand.d1 = s1.doc_id
        |  JOIN sizes s2 ON cand.d2 = s2.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5
        |), edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM dup UNION SELECT d2, d1 FROM dup
        |), reach AS (
        |  SELECT src AS id, src AS comp FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src
        |), lbl AS (
        |  SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
        |)
        |SELECT d.doc_id AS doc_id,
        |  COALESCE(l.comp, d.doc_id) AS canonical_id,
        |  CAST(CASE WHEN COALESCE(l.comp, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS INT) AS keep
        |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id""".stripMargin,

    "q_winnow_containment" ->
      """WITH g AS (
        |  SELECT doc_id, list_transform(range(1, length(text) - 8 + 2),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(substr(text, CAST(i AS INT), 8), ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007)) AS hs
        |  FROM documents WHERE length(text) >= 8 + 4 - 1
        |), fps AS (
        |  SELECT DISTINCT doc_id, list_min(hs[CAST(j AS INT):CAST(j AS INT)+3]) AS fp
        |  FROM g, UNNEST(range(1, len(hs) - 4 + 2)) AS t(j)
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
        |), dfreq AS (
        |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 50
        |), post AS (
        |  SELECT fps.doc_id, fps.fp FROM fps JOIN dfreq USING (fp)
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
        |  FROM post a JOIN post b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 10)
        |SELECT d1, d2, shared,
        |  floor(CAST(shared AS DOUBLE) / least(s1.n_fp, s2.n_fp) * 1000000.0 + 0.5) / 1000000.0 AS containment
        |FROM pairs JOIN sizes s1 ON pairs.d1 = s1.doc_id
        |JOIN sizes s2 ON pairs.d2 = s2.doc_id""".stripMargin,

    "q_jaccard_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        |  FROM tok, UNNEST(range(1, len(tk) - 1)) AS t(i)
        |  WHERE len(tk) >= 3
        |), sizes AS (
        |  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), keep AS (
        |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 1000
        |), post AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter,
        |  floor(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM pairs JOIN sizes s1 ON pairs.d1 = s1.doc_id
        |JOIN sizes s2 ON pairs.d2 = s2.doc_id
        |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5""".stripMargin,

    "q_ann_cosine" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |), s AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    list_sum(list_transform(range(1, len(q.embedding) + 1),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |      / (q.nrm * c.nrm) AS sim
        |  FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |SELECT q_id, rank, n_id FROM (
        |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    // the ann_cosine dot-product replay (sequential double sums are
    // bit-equal), argmax via rank over (sim DESC, eval_id); the flag
    // compares the RAW sim, mirroring the operator
    "q_sdecon" ->
      """WITH e AS (
        |  SELECT vec_id AS eval_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS enrm
        |  FROM embeddings WHERE vec_id % 17 = 0
        |), c AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE vec_id % 17 <> 0
        |), s AS (
        |  SELECT c.vec_id, e.eval_id,
        |    CASE WHEN c.nrm * e.enrm > 0 THEN
        |      list_sum(list_transform(range(1, len(c.embedding) + 1),
        |        i -> CAST(c.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
        |        / (c.nrm * e.enrm)
        |    ELSE 0.0 END AS sim
        |  FROM c, e
        |), r AS (
        |  SELECT vec_id, eval_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn
        |  FROM s)
        |SELECT vec_id, eval_id, floor(sim * 1000000.0 + 0.5) / 1000000.0 AS sim,
        |  CAST(sim >= 0.4 AS INT) AS flagged
        |FROM r WHERE rn = 1""".stripMargin,

    "q_hardneg" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |), s AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS n_label,
        |    list_sum(list_transform(range(1, len(q.embedding) + 1),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |      / (q.nrm * c.nrm) AS sim
        |  FROM v q, v c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id AND c.label <> q.label)
        |SELECT q_id, rank, n_id, n_label FROM (
        |  SELECT q_id, n_id, n_label,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_tokens,
        |  floor(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |    / len(string_split_regex(text, '\s+')) * 10000.0 + 0.5) / 10000.0 AS avg_token_len
        |FROM documents""".stripMargin,

    // Mirrors Bpe.oovRate: UNCAPPED histogram, top-v by (cnt desc,
    // word), token-grain left join, cround'd rate
    "q_oov" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, word FROM tok WHERE length(word) > 0
        |), h AS (
        |  SELECT word, COUNT(*) AS cnt FROM t GROUP BY word
        |), vcb AS (
        |  SELECT word FROM (
        |    SELECT word, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rn
        |    FROM h) WHERE rn <= 1000
        |)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  floor(SUM(CASE WHEN v.word IS NULL THEN 1.0 ELSE 0.0 END) / COUNT(*)
        |    * 1000000.0 + 0.5) / 1000000.0 AS oov_rate
        |FROM t LEFT JOIN vcb v USING (word)
        |GROUP BY t.doc_id""".stripMargin,

    // Mirrors Bm25.topK: Lucene idf, exact-integer avgdl, per-term
    // IEEE scores summed as decimal(28,8), single global window (the
    // two-phase pruning is exact, so the naive top-k is the oracle)
    "q_bm25" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1,'hash'),(1,'join'),(2,'window'),(2,'agg'),
        |  (3,'customer'),(3,'table'),(3,'scan')
        |), d AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM d
        |), tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2
        |), f AS (
        |  SELECT term, COUNT(*) AS dfreq FROM t GROUP BY 1
        |), s AS (
        |  SELECT q.query_id, t.doc_id,
        |    CAST(SUM(CAST(
        |      ln(1.0 + (CAST(n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5))
        |      * CAST(tf AS DOUBLE) * 2.2
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
        |          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
        |      AS DECIMAL(28,8))) AS DOUBLE) AS score,
        |    COUNT(*) AS n_terms
        |  FROM t JOIN q USING (term) JOIN f USING (term)
        |    JOIN d USING (doc_id) CROSS JOIN st
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM s
        |)
        |SELECT query_id, doc_id, n_terms,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10""".stripMargin,

    // the incremental index serves bit-identically to the direct
    // query (see Bm25Index), so the oracle is q_bm25's verbatim
    "q_bm25i" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1,'hash'),(1,'join'),(2,'window'),(2,'agg'),
        |  (3,'customer'),(3,'table'),(3,'scan')
        |), d AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM d
        |), tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2
        |), f AS (
        |  SELECT term, COUNT(*) AS dfreq FROM t GROUP BY 1
        |), s AS (
        |  SELECT q.query_id, t.doc_id,
        |    CAST(SUM(CAST(
        |      ln(1.0 + (CAST(n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5))
        |      * CAST(tf AS DOUBLE) * 2.2
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
        |          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
        |      AS DECIMAL(28,8))) AS DOUBLE) AS score,
        |    COUNT(*) AS n_terms
        |  FROM t JOIN q USING (term) JOIN f USING (term)
        |    JOIN d USING (doc_id) CROSS JOIN st
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM s
        |)
        |SELECT query_id, doc_id, n_terms,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10""".stripMargin,

    // compaction re-files rows without changing them, so serving
    // stays bit-identical and q_bm25's oracle applies verbatim again
    "q_bm25c" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1,'hash'),(1,'join'),(2,'window'),(2,'agg'),
        |  (3,'customer'),(3,'table'),(3,'scan')
        |), d AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM d
        |), tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2
        |), f AS (
        |  SELECT term, COUNT(*) AS dfreq FROM t GROUP BY 1
        |), s AS (
        |  SELECT q.query_id, t.doc_id,
        |    CAST(SUM(CAST(
        |      ln(1.0 + (CAST(n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5))
        |      * CAST(tf AS DOUBLE) * 2.2
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
        |          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
        |      AS DECIMAL(28,8))) AS DOUBLE) AS score,
        |    COUNT(*) AS n_terms
        |  FROM t JOIN q USING (term) JOIN f USING (term)
        |    JOIN d USING (doc_id) CROSS JOIN st
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM s
        |)
        |SELECT query_id, doc_id, n_terms,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10""".stripMargin,

    // the snapshot-manifest index serves bit-identically through
    // build + appends + compaction + retirement, so q_bm25's oracle
    // applies verbatim a third time
    "q_bm25s" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1,'hash'),(1,'join'),(2,'window'),(2,'agg'),
        |  (3,'customer'),(3,'table'),(3,'scan')
        |), d AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS dl
        |  FROM documents
        |), st AS (
        |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM d
        |), tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2
        |), f AS (
        |  SELECT term, COUNT(*) AS dfreq FROM t GROUP BY 1
        |), s AS (
        |  SELECT q.query_id, t.doc_id,
        |    CAST(SUM(CAST(
        |      ln(1.0 + (CAST(n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5))
        |      * CAST(tf AS DOUBLE) * 2.2
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
        |          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
        |      AS DECIMAL(28,8))) AS DOUBLE) AS score,
        |    COUNT(*) AS n_terms
        |  FROM t JOIN q USING (term) JOIN f USING (term)
        |    JOIN d USING (doc_id) CROSS JOIN st
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM s
        |)
        |SELECT query_id, doc_id, n_terms,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10""".stripMargin,

    // the q_bm25 CTEs with query terms drawn from the probe docs'
    // text, the q_ann_cosine CTEs on the overlap corpus, then RRF:
    // per-system 1/(60+rank) contributions DECIMAL(28,8)-summed
    // (mirrors Numeric.dsum), re-ranked per query
    "q_rrf" ->
      """WITH ov AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IN (SELECT vec_id FROM embeddings)
        |), probes AS (
        |  SELECT doc_id AS query_id, text FROM ov WHERE doc_id IN (1, 2, 3)
        |), q AS (
        |  SELECT DISTINCT query_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> length(x) > 0)) AS term
        |  FROM probes
        |), d AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS dl
        |  FROM ov
        |), st AS (
        |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM d
        |), tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM ov
        |), t AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2
        |), f AS (
        |  SELECT term, COUNT(*) AS dfreq FROM t GROUP BY 1
        |), sbm AS (
        |  SELECT q.query_id, t.doc_id,
        |    CAST(SUM(CAST(
        |      ln(1.0 + (CAST(n AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5))
        |      * CAST(tf AS DOUBLE) * 2.2
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl
        |          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))
        |      AS DECIMAL(28,8))) AS DOUBLE) AS score
        |  FROM t JOIN q USING (term) JOIN f USING (term)
        |    JOIN d USING (doc_id) CROSS JOIN st
        |  GROUP BY 1, 2
        |), sr AS (
        |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sbm
        |), sparse AS (
        |  SELECT query_id, doc_id, rank FROM sr WHERE rank <= 20
        |), v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM documents)
        |), ds AS (
        |  SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
        |    list_sum(list_transform(range(1, len(qv.embedding) + 1),
        |      i -> CAST(qv.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |      / (qv.nrm * c.nrm) AS sim
        |  FROM v qv, v c
        |  WHERE qv.vec_id IN (1, 2, 3) AND c.vec_id <> qv.vec_id
        |), dr AS (
        |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
        |  FROM ds
        |), dense AS (
        |  SELECT query_id, doc_id, rank FROM dr WHERE rank <= 20
        |), u AS (
        |  SELECT query_id, doc_id,
        |    CAST(1 AS DOUBLE) / (60 + rank) AS c FROM sparse
        |  UNION ALL
        |  SELECT query_id, doc_id,
        |    CAST(1 AS DOUBLE) / (60 + rank) AS c FROM dense
        |), fs AS (
        |  SELECT query_id, doc_id,
        |    CAST(SUM(CAST(c AS DECIMAL(28,8))) AS DOUBLE) AS score
        |  FROM u GROUP BY 1, 2
        |), fr AS (
        |  SELECT query_id, doc_id, score, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM fs
        |)
        |SELECT query_id, doc_id,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS rrf_score,
        |  CAST(rank AS INT) AS rank
        |FROM fr WHERE rank <= 10""".stripMargin,

    // synthetic-markup construction (string concat, both engines
    // identical) + the three regex passes; RE2 and Java regex agree
    // on these deliberately-simple patterns
    "q_html" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><script type="text/javascript">var x = 1 < 2;'
        |    || '</script><style>.c { color: red }</style></head><body><h1>'
        |    || source || '</h1><p>' || text || '</p><a href="/u">'
        |    || lang || '</a></body></html>' AS html
        |  FROM documents
        |), nb AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(html,
        |    '(?s)(<script(\s[^>]*)?>.*?</script>|<style(\s[^>]*)?>.*?</style>)',
        |    '', 'g'),
        |    '(?s)(<script(\s[^>]*)?>|<style(\s[^>]*)?>).*$', '', 'g') AS x
        |  FROM h
        |), f AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'),
        |      '[ \t\n\r\f\x0B]+', ' ', 'g')) AS text,
        |    CAST(len(regexp_extract_all(x, '(?s)<a(?:\s[^>]*)?>(.*?)</a>', 1))
        |      AS INT) AS n_links,
        |    CAST(COALESCE(list_aggregate(list_transform(
        |      regexp_extract_all(x, '(?s)<a(?:\s[^>]*)?>(.*?)</a>', 1),
        |      a -> CAST(length(a) AS BIGINT)), 'sum'), 0)
        |      AS BIGINT) AS anchor_chars
        |  FROM nb
        |), g AS (
        |  SELECT doc_id, text, n_links, anchor_chars,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE floor(CAST(anchor_chars AS DOUBLE)
        |        / CAST(length(text) AS DOUBLE) * 1000000.0 + 0.5)
        |        / 1000000.0 END AS link_density
        |  FROM f
        |)
        |SELECT doc_id, text, n_links, anchor_chars, link_density,
        |  CAST(CASE WHEN link_density <= 0.3 AND length(text) >= 10
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM g""".stripMargin,

    // the identical synthetic-URL construction, then the six
    // canonicalization rules as RE2 regex passes ('g' everywhere —
    // DuckDB defaults to first-match where Spark replaces all) and
    // the domain-grain rollup joined back to doc grain
    "q_url" ->
      ("""WITH sx AS (
        |  SELECT doc_id, n_chars,
        |    (CASE doc_id % 6 WHEN 0 THEN '.Example.com'
        |      WHEN 1 THEN '.example.co.uk' WHEN 2 THEN '.GitHub.io'
        |      WHEN 3 THEN '.blogspot.com.au'
        |      WHEN 4 THEN '.edu.CK' ELSE '.WWW.ck' END) AS sfx
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, n_chars,
        |    (CASE doc_id % 4 WHEN 0 THEN 'http://' WHEN 1 THEN 'HTTP://'
        |      WHEN 2 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN substr(sfx, 2)
        |      ELSE 'Site' || CAST(doc_id % 23 AS VARCHAR) || sfx END)
        |    || (CASE WHEN doc_id % 10 = 0 THEN ':80'
        |      WHEN doc_id % 10 = 5 THEN ':443' ELSE '' END)
        |    || '/Dir' || CAST(doc_id % 7 AS VARCHAR)
        |    || '/Page' || CAST(doc_id AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0
        |        THEN '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR)
        |      WHEN doc_id % 6 = 1
        |        THEN '?id=' || CAST(doc_id % 13 AS VARCHAR) || '&utm_campaign=x'
        |      WHEN doc_id % 6 = 2 THEN '?gclid=abc123'
        |      WHEN doc_id % 6 = 3 THEN '?id=' || CAST(doc_id % 13 AS VARCHAR)
        |      ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 1
        |      THEN '#Sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END) AS url
        |  FROM sx
        |), c1 AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(url, '#.*$', '', 'g') AS v FROM u
        |), c2 AS (
        |  SELECT doc_id, n_chars,
        |    lower(regexp_extract(v, '^([^/?#]*//[^/?#]*)', 1))
        |      || regexp_replace(v, '^[^/?#]*//[^/?#]*', '', 'g') AS v
        |  FROM c1
        |), c3 AS (
        |  SELECT doc_id, n_chars, regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(v,
        |      '^(https?://)www\.', '\1', 'g'),
        |      '^(http://[^/?#:]*):80([/?#]|$)', '\1\2', 'g'),
        |      '^(https://[^/?#:]*):443([/?#]|$)', '\1\2', 'g'),
        |    '&(?:utm_[a-z0-9]+|gclid|fbclid)=[^&#]*', '', 'g') AS v
        |  FROM c2
        |), c4 AS (
        |  SELECT doc_id, n_chars, regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(v,
        |      '\?(?:utm_[a-z0-9]+|gclid|fbclid)=[^&#]*&', '?', 'g'),
        |      '\?(?:utm_[a-z0-9]+|gclid|fbclid)=[^&#]*$', '', 'g'),
        |      '\?$', '', 'g'),
        |    '/+(\?|$)', '\1', 'g') AS url_canon
        |  FROM c3
        |), hh AS (
        |  SELECT doc_id, n_chars, url_canon,
        |    regexp_extract(url_canon, '^https?://([^/?#:]*)', 1) AS host
        |  FROM c4
        |), dm AS (
        |  SELECT doc_id, n_chars, url_canon, host,
        |    CASE
        |      WHEN len(hp) >= 2
        |        AND array_to_string(hp[-2:], '.') IN (""" +
      graft.text.Psl.sqlExc + """)
        |        THEN array_to_string(hp[-2:], '.')
        |      WHEN len(hp) >= 4
        |        AND array_to_string(hp[-3:], '.') IN (""" +
      graft.text.Psl.sql3 + """)
        |        THEN array_to_string(hp[-4:], '.')
        |      WHEN len(hp) = 3
        |        AND array_to_string(hp[-3:], '.') IN (""" +
      graft.text.Psl.sql3 + """) THEN ''
        |      WHEN len(hp) >= 3
        |        AND (array_to_string(hp[-2:], '.') IN (""" +
      graft.text.Psl.sql2 + """)
        |          OR hp[-1] IN (""" + graft.text.Psl.sqlWild + """))
        |        THEN array_to_string(hp[-3:], '.')
        |      WHEN len(hp) = 2
        |        AND array_to_string(hp[-2:], '.') IN (""" +
      graft.text.Psl.sql2 + """) THEN ''
        |      WHEN len(hp) >= 2 AND hp[-1] IN (""" +
      graft.text.Psl.sqlWild + """) THEN ''
        |      WHEN len(hp) >= 2 THEN array_to_string(hp[-2:], '.')
        |      ELSE '' END AS domain
        |  FROM (SELECT *, string_split(host, '.') AS hp FROM hh)
        |), r AS (
        |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
        |    CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_urls,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM dm GROUP BY 1
        |)
        |SELECT dm.doc_id, dm.url_canon, dm.host, dm.domain,
        |  r.n_docs, r.n_hosts, r.n_urls, r.total_chars
        |FROM dm JOIN r USING (domain)""").stripMargin,

    // the integer fixed-point PageRank recurrence unrolled for the
    // registry's 3 iterations: every term BIGINT floor division
    // (DuckDB `//` == Spark `div` on non-negative values), SUMs cast
    // back to BIGINT (DuckDB widens to HUGEINT), so both engines run
    // the identical exact arithmetic
    "q_rank" ->
      """WITH docs7 AS (SELECT doc_id FROM documents WHERE doc_id % 7 != 0),
        |raw AS (
        |  SELECT doc_id % 101 AS src, (doc_id * 37 + 11) % 101 AS dst FROM docs7
        |  UNION ALL SELECT doc_id % 101, (doc_id * 61 + 5) % 101 FROM docs7
        |  UNION ALL SELECT doc_id % 101, 1000 + doc_id % 13 FROM docs7),
        |e AS (SELECT DISTINCT src, dst FROM raw WHERE src != dst),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |odeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM e GROUP BY src),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |dang AS (SELECT node FROM nodes LEFT JOIN odeg ON node = src
        |         WHERE src IS NULL),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
        |d1 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |       FROM r0 r JOIN dang USING (node)),
        |c1 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |       FROM e JOIN r0 r ON e.src = r.node JOIN odeg o ON e.src = o.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodes nd LEFT JOIN c1 c ON nd.node = c.node
        |       CROSS JOIN d1 d CROSS JOIN nn x),
        |d2 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |       FROM r1 r JOIN dang USING (node)),
        |c2 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |       FROM e JOIN r1 r ON e.src = r.node JOIN odeg o ON e.src = o.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodes nd LEFT JOIN c2 c ON nd.node = c.node
        |       CROSS JOIN d2 d CROSS JOIN nn x),
        |d3 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |       FROM r2 r JOIN dang USING (node)),
        |c3 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |       FROM e JOIN r2 r ON e.src = r.node JOIN odeg o ON e.src = o.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodes nd LEFT JOIN c3 c ON nd.node = c.node
        |       CROSS JOIN d3 d CROSS JOIN nn x)
        |SELECT node, rank FROM r3""".stripMargin,

    // q_rank's recurrence unrolled TWICE: 3 cold iterations on the
    // base (%7!=0) graph, then 2 warm iterations on the full graph
    // seeded from the base ranks (new nodes at scale)
    "q_rank2" ->
      """WITH docs7 AS (SELECT doc_id FROM documents WHERE doc_id % 7 != 0),
        |rawB AS (
        |  SELECT doc_id % 101 AS src, (doc_id * 37 + 11) % 101 AS dst FROM docs7
        |  UNION ALL SELECT doc_id % 101, (doc_id * 61 + 5) % 101 FROM docs7
        |  UNION ALL SELECT doc_id % 101, 1000 + doc_id % 13 FROM docs7),
        |eB AS (SELECT DISTINCT src, dst FROM rawB WHERE src != dst),
        |nodesB AS (SELECT src AS node FROM eB UNION SELECT dst AS node FROM eB),
        |odegB AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM eB GROUP BY src),
        |nnB AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodesB),
        |dangB AS (SELECT node FROM nodesB LEFT JOIN odegB ON node = src
        |          WHERE src IS NULL),
        |b0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodesB),
        |bd1 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |        FROM b0 r JOIN dangB USING (node)),
        |bc1 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |        FROM eB e JOIN b0 r ON e.src = r.node JOIN odegB o ON e.src = o.src
        |        GROUP BY e.dst),
        |b1 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodesB nd LEFT JOIN bc1 c ON nd.node = c.node
        |       CROSS JOIN bd1 d CROSS JOIN nnB x),
        |bd2 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |        FROM b1 r JOIN dangB USING (node)),
        |bc2 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |        FROM eB e JOIN b1 r ON e.src = r.node JOIN odegB o ON e.src = o.src
        |        GROUP BY e.dst),
        |b2 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodesB nd LEFT JOIN bc2 c ON nd.node = c.node
        |       CROSS JOIN bd2 d CROSS JOIN nnB x),
        |bd3 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |        FROM b2 r JOIN dangB USING (node)),
        |bc3 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |        FROM eB e JOIN b2 r ON e.src = r.node JOIN odegB o ON e.src = o.src
        |        GROUP BY e.dst),
        |b3 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodesB nd LEFT JOIN bc3 c ON nd.node = c.node
        |       CROSS JOIN bd3 d CROSS JOIN nnB x),
        |rawA AS (
        |  SELECT doc_id % 101 AS src, (doc_id * 37 + 11) % 101 AS dst FROM documents
        |  UNION ALL SELECT doc_id % 101, (doc_id * 61 + 5) % 101 FROM documents
        |  UNION ALL SELECT doc_id % 101, 1000 + doc_id % 13 FROM documents),
        |eA AS (SELECT DISTINCT src, dst FROM rawA WHERE src != dst),
        |nodesA AS (SELECT src AS node FROM eA UNION SELECT dst AS node FROM eA),
        |odegA AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM eA GROUP BY src),
        |nnA AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodesA),
        |dangA AS (SELECT node FROM nodesA LEFT JOIN odegA ON node = src
        |          WHERE src IS NULL),
        |w0 AS (SELECT nd.node,
        |         CAST(COALESCE(b.rank, 1000000000) AS BIGINT) AS rank
        |       FROM nodesA nd LEFT JOIN b3 b ON nd.node = b.node),
        |wd1 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |        FROM w0 r JOIN dangA USING (node)),
        |wc1 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |        FROM eA e JOIN w0 r ON e.src = r.node JOIN odegA o ON e.src = o.src
        |        GROUP BY e.dst),
        |w1 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodesA nd LEFT JOIN wc1 c ON nd.node = c.node
        |       CROSS JOIN wd1 d CROSS JOIN nnA x),
        |wd2 AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dmass
        |        FROM w1 r JOIN dangA USING (node)),
        |wc2 AS (SELECT e.dst AS node, CAST(SUM(r.rank // o.odeg) AS BIGINT) AS insum
        |        FROM eA e JOIN w1 r ON e.src = r.node JOIN odegA o ON e.src = o.src
        |        GROUP BY e.dst),
        |w2 AS (SELECT nd.node, 150000000 +
        |         (85 * (COALESCE(c.insum, 0) + (d.dmass // x.n))) // 100 AS rank
        |       FROM nodesA nd LEFT JOIN wc2 c ON nd.node = c.node
        |       CROSS JOIN wd2 d CROSS JOIN nnA x)
        |SELECT node, rank FROM w2""".stripMargin,

    // the textbook ROW_NUMBER latest-row-wins over the same derived
    // changelog; (ts DESC, event_id DESC) == the engine's
    // max_by(struct(ts, event_id)) because event_id is unique
    "q_upsert" ->
      """WITH log AS (
        |  SELECT user_id % 500 AS id, ts, event_id,
        |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op,
        |    event_type, value
        |  FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM log)
        |SELECT id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS last_ts,
        |  event_id AS last_event, event_type AS last_type, value AS last_value
        |FROM r WHERE rn = 1 AND op = 'U'""".stripMargin,

    // the snapshot changelog store's live rows equal latest-per-key
    // over the whole log regardless of batching (the semilattice)
    "q_cdcm" ->
      """WITH log AS (
        |  SELECT user_id % 500 AS id,
        |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ver1,
        |    event_id AS ver2,
        |    CASE WHEN event_id % 11 = 0 THEN 'D' ELSE 'U' END AS op,
        |    event_type AS payload
        |  FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        |        ORDER BY ver1 DESC, ver2 DESC) AS rn FROM log)
        |SELECT id, ver1, ver2, payload
        |FROM r WHERE rn = 1 AND op = 'U'""".stripMargin,

    // the full re-solve over base ∪ batch edges: min-reachable-id
    // labels via the q_dedup_clusters recursive-CTE pattern — exactly
    // what the quotient-graph increment must reproduce
    "q_inccc" ->
      """WITH RECURSIVE b1 AS (
        |  SELECT doc_id % 211 AS src, (doc_id * 13 + 7) % 211 AS dst
        |  FROM documents WHERE doc_id % 10 < 8),
        |b2 AS (
        |  SELECT doc_id % 211 AS src, 500 + doc_id % 17 AS dst
        |  FROM documents WHERE doc_id % 10 >= 8),
        |al AS (SELECT src, dst FROM b1 UNION ALL SELECT src, dst FROM b2),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM al WHERE src != dst
        |  UNION ALL SELECT dst, src FROM al WHERE src != dst)),
        |reach AS (
        |  SELECT src AS id, src AS comp FROM e
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN e ON r.id = e.src)
        |SELECT id AS node, MIN(comp) AS comp FROM reach GROUP BY id""".stripMargin,

    // the q_shuf splitmix64 HUGEINT replay keyed on i*16+j produces
    // the ±1 sign; decimal(28,8) sums + the shared floor rounding
    "q_rp" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
        |), g AS (
        |  SELECT vec_id, i, v, CAST(j AS BIGINT) AS j
        |  FROM e, UNNEST(range(0, 16)) AS t(j)
        |), s0 AS (
        |  SELECT vec_id, j, v, (CAST(i * 16 + j AS HUGEINT)
        |    + 11400714819323198485) % 18446744073709551616 AS z FROM g),
        |p1 AS (SELECT vec_id, j, v, xor(z, z >> 30) AS a FROM s0),
        |m1 AS (SELECT vec_id, j, v, ((a % 4294967296) * 484763065
        |  + (((a % 4294967296) * 3210233709 + (a // 4294967296) * 484763065)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p1),
        |p2 AS (SELECT vec_id, j, v, xor(z, z >> 27) AS a FROM m1),
        |m2 AS (SELECT vec_id, j, v, ((a % 4294967296) * 321982955
        |  + (((a % 4294967296) * 2496678331 + (a // 4294967296) * 321982955)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p2),
        |k AS (SELECT vec_id, j, v,
        |  CAST(xor(z, z >> 31) >> 1 AS BIGINT) AS h FROM m2),
        |sv AS (SELECT vec_id, j, CAST(1 - 2 * (h % 2) AS DOUBLE) * v AS x FROM k)
        |SELECT vec_id, CAST(j AS INT) AS j,
        |  floor(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE)
        |    / sqrt(16.0) * 1000000.0 + 0.5) / 1000000.0 AS proj
        |FROM sv GROUP BY 1, 2""".stripMargin,

    // the incremental quantile sketch replayed one-shot: splitmix64
    // priorities (the q_rp HUGEINT chain over event_id), bottom-64
    // distinct (priority, value) pairs per type, value at integer
    // rank (m-1)*p//100 — union==one-shot is the operator's
    // semilattice guarantee, so the one-shot replay IS the oracle
    "q_qsk" ->
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL
        |), s0 AS (
        |  SELECT event_type, v, (CAST(event_id AS HUGEINT)
        |    + 11400714819323198485) % 18446744073709551616 AS z FROM e),
        |p1 AS (SELECT event_type, v, xor(z, z >> 30) AS a FROM s0),
        |m1 AS (SELECT event_type, v, ((a % 4294967296) * 484763065
        |  + (((a % 4294967296) * 3210233709 + (a // 4294967296) * 484763065)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p1),
        |p2 AS (SELECT event_type, v, xor(z, z >> 27) AS a FROM m1),
        |m2 AS (SELECT event_type, v, ((a % 4294967296) * 321982955
        |  + (((a % 4294967296) * 2496678331 + (a // 4294967296) * 321982955)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p2),
        |k AS (SELECT event_type, v,
        |  CAST(xor(z, z >> 31) >> 1 AS BIGINT) AS h FROM m2),
        |dd AS (SELECT DISTINCT event_type, h, v FROM k),
        |r AS (SELECT event_type, v, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY h, v) AS rk FROM dd),
        |smp AS (SELECT event_type, v FROM r WHERE rk <= 64),
        |vs AS (SELECT event_type, v, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY v) AS rv,
        |  COUNT(*) OVER (PARTITION BY event_type) AS m FROM smp),
        |q AS (SELECT event_type, CAST(m AS INT) AS m,
        |    MAX(CASE WHEN rv = ((m - 1) * 50) // 100 + 1 THEN v END) AS p50,
        |    MAX(CASE WHEN rv = ((m - 1) * 95) // 100 + 1 THEN v END) AS p95
        |  FROM vs GROUP BY event_type, m),
        |a AS (SELECT event_type,
        |    CAST(COUNT(DISTINCT event_id % 3) AS BIGINT) AS n_parts,
        |    COUNT(*) AS n
        |  FROM e GROUP BY event_type)
        |SELECT a.event_type, a.n_parts, a.n, q.m, q.p50, q.p95
        |FROM a JOIN q USING (event_type)""".stripMargin,

    // (group, dim)-grain unnest + the decimal-sum mean
    "q_pool" ->
      """WITH e AS (
        |  SELECT label AS grp, CAST(i - 1 AS INT) AS i,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
        |)
        |SELECT grp, i, COUNT(*) AS n_vecs,
        |  floor(CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)
        |    / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS mean
        |FROM e GROUP BY 1, 2""".stripMargin,

    // in-row absmax + the same floor(x*127/scale + 0.5) IEEE formula
    "q_quant" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings
        |)
        |SELECT vec_id, CAST(i - 1 AS INT) AS i,
        |  CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0 / scale
        |      + 0.5) AS BIGINT) END AS q,
        |  scale
        |FROM b, UNNEST(range(1, len(embedding) + 1)) AS r(i)""".stripMargin,

    // the q_fingerprint polynomial hash over the GROUP key, mod 100,
    // thresholded into splits — pure map-only replay
    "q_gsplit" ->
      """WITH b AS (
        |  SELECT doc_id, source AS grp,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(source, ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, grp, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,

    // Mirrors SpanDedup: packed (doc_id*2^21+pos) canonical election,
    // island merge of overlapping/adjacent removed spans, rebuild
    "q_span" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(tk[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS gram
        |  FROM tok, UNNEST(range(0, len(tk) - 7)) AS r(i)
        |  WHERE len(tk) >= 8
        |), w AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY gram) AS c,
        |    MIN(doc_id * 2097152 + pos) OVER (PARTITION BY gram) AS first
        |  FROM g
        |), dup AS (
        |  SELECT doc_id, pos FROM w
        |  WHERE c > 1 AND doc_id * 2097152 + pos <> first
        |), isl0 AS (
        |  SELECT doc_id, pos AS s, pos + 7 AS e,
        |    CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
        |      THEN 1 ELSE 0 END AS flag
        |  FROM dup
        |), isl AS (
        |  SELECT doc_id, s, e,
        |    SUM(flag) OVER (PARTITION BY doc_id ORDER BY s) AS gid
        |  FROM isl0
        |), spans AS (
        |  SELECT doc_id, gid, MIN(s) AS s, MAX(e) AS e
        |  FROM isl GROUP BY doc_id, gid
        |), per AS (
        |  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS n_removed
        |  FROM spans GROUP BY doc_id
        |), toks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[CAST(i+1 AS INT)] AS tok
        |  FROM tok, UNNEST(range(0, len(tk))) AS r(i)
        |), clean AS (
        |  SELECT t.doc_id,
        |    COALESCE(string_agg(CASE WHEN sp.s IS NULL THEN t.tok END,
        |      ' ' ORDER BY t.pos), '') AS text_clean
        |  FROM toks t LEFT JOIN spans sp
        |    ON t.doc_id = sp.doc_id AND t.pos BETWEEN sp.s AND sp.e
        |  GROUP BY t.doc_id
        |)
        |SELECT tok.doc_id, CAST(len(tok.tk) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(per.n_removed, 0) AS BIGINT) AS n_removed,
        |  CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
        |  clean.text_clean AS text_clean
        |FROM tok
        |LEFT JOIN per ON tok.doc_id = per.doc_id
        |JOIN clean ON tok.doc_id = clean.doc_id""".stripMargin,

    // Mirrors Dsir.scored: shared-vocabulary add-one models, klp summed
    // as decimal(28,8) exactly like the fused BigramScore kernel
    "q_dsir" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 11 = 0 AS tgt,
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
        |  FROM documents
        |), dd AS (
        |  SELECT * FROM d WHERE length(t) >= 2
        |), g AS (
        |  SELECT doc_id, tgt, substr(t, CAST(i AS INT), 2) AS bg, COUNT(*) AS k
        |  FROM dd, UNNEST(range(1, length(t))) AS r(i)
        |  GROUP BY 1, 2, 3
        |), model AS (
        |  SELECT bg, SUM(k) AS c,
        |    SUM(CASE WHEN tgt THEN k ELSE 0 END) AS ct
        |  FROM g GROUP BY bg
        |), tot AS (
        |  SELECT SUM(c) AS tot, SUM(ct) AS tott, COUNT(*) AS v FROM model
        |), lp AS (
        |  SELECT g.doc_id, g.k,
        |    g.k * (ln((model.ct + 1.0) / (tot.tott + tot.v))
        |         - ln((model.c + 1.0) / (tot.tot + tot.v))) AS klp
        |  FROM g JOIN model USING (bg) CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |  floor(CAST(SUM(CAST(klp AS DECIMAL(28,8))) AS DOUBLE) / SUM(k)
        |    * 1000000.0 + 0.5) / 1000000.0 AS avg_log_ratio
        |FROM lp GROUP BY doc_id""".stripMargin,

    // q_dsir's score pass + the deterministic Lehmer Gumbel; ties on
    // the 1e-6-quantized key break by doc_id in both engines
    "q_dsirs" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 11 = 0 AS tgt,
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
        |  FROM documents
        |), dd AS (
        |  SELECT * FROM d WHERE length(t) >= 2
        |), g AS (
        |  SELECT doc_id, tgt, substr(t, CAST(i AS INT), 2) AS bg, COUNT(*) AS k
        |  FROM dd, UNNEST(range(1, length(t))) AS r(i)
        |  GROUP BY 1, 2, 3
        |), model AS (
        |  SELECT bg, SUM(k) AS c,
        |    SUM(CASE WHEN tgt THEN k ELSE 0 END) AS ct
        |  FROM g GROUP BY bg
        |), tot AS (
        |  SELECT SUM(c) AS tot, SUM(ct) AS tott, COUNT(*) AS v FROM model
        |), lp AS (
        |  SELECT g.doc_id, g.k,
        |    g.k * (ln((model.ct + 1.0) / (tot.tott + tot.v))
        |         - ln((model.c + 1.0) / (tot.tot + tot.v))) AS klp
        |  FROM g JOIN model USING (bg) CROSS JOIN tot
        |), s AS (
        |  SELECT doc_id,
        |    floor(CAST(SUM(CAST(klp AS DECIMAL(28,8))) AS DOUBLE) / SUM(k)
        |      * 1000000.0 + 0.5) / 1000000.0 AS avg_lr
        |  FROM lp GROUP BY doc_id
        |)
        |SELECT doc_id,
        |  floor((avg_lr - ln(-ln(
        |    ((doc_id % 2147483647) * 48271 % 2147483647 % 1000000 + 0.5)
        |      / 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS skey
        |FROM s ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,

    // the SEMANTICS of sampleExactK: k smallest (Lehmer key, doc_id)
    // per group — the bucket histogram is implementation only
    "q_ksamp" ->
      """SELECT doc_id, grp FROM (
        |  SELECT doc_id, source AS grp,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY (doc_id % 2147483647) * 48271 % 2147483647, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 17""".stripMargin,

    "q_shard" ->
      """SELECT doc_id, n_tokens,
        |  CAST((ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 8
        |    AS BIGINT) AS shard
        |FROM (SELECT doc_id,
        |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |      FROM documents)""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE (doc_id % 2147483647) * 48271 % 2147483647 % 10000 <
        |  CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 8000 ELSE 10000 END""".stripMargin,

    // Mirrors Mixture.rates' uncapped water-filling arithmetic exactly:
    // rate = ((budgetFraction * T) * w_d) / W / t_d, bps = floor(r*1e4+0.5)
    "q_mix" ->
      """WITH tot AS (
        |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS t
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, t,
        |    CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |         THEN 3.0 ELSE 1.0 END AS wt
        |  FROM tot
        |), r AS (
        |  SELECT source,
        |    CAST(FLOOR(((0.35 * (SELECT SUM(t) FROM tot)) * wt)
        |      / (SELECT SUM(wt) FROM w) / t * 10000 + 0.5) AS BIGINT) AS bps
        |  FROM w
        |)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE (d.doc_id % 2147483647) * 48271 % 2147483647 % 10000 < r.bps""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |  WHERE length(term) > 0 GROUP BY 1, 2
        |), d AS (
        |  SELECT term, COUNT(*) AS dfreq FROM t GROUP BY 1
        |), n AS (
        |  SELECT COUNT(DISTINCT doc_id) AS nd FROM t
        |), s AS (
        |  SELECT doc_id, term, tf, dfreq,
        |    CAST(tf AS DOUBLE) * (ln((nd + 1.0) / (dfreq + 1.0)) + 1.0) AS score
        |  FROM t JOIN d USING (term) CROSS JOIN n
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s
        |)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |  CAST(dfreq AS BIGINT) AS dfreq,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM r WHERE rk <= 5""".stripMargin,

    "q_text_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS n_emails,
        |  length(regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g')) AS scrubbed_len
        |FROM documents""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS tk,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS stop_cnt
        |  FROM documents)
        |SELECT doc_id, length(text) AS n_chars_m, len(tk) AS n_tokens,
        |  floor(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / length(text) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
        |  floor(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text) * 10000.0 + 0.5) / 10000.0 AS digit_ratio,
        |  floor(CAST(stop_cnt AS DOUBLE) / len(tk) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
        |  (len(tk) >= 5 AND len(tk) <= 2000 AND CAST(stop_cnt AS DOUBLE) / len(tk) >= 0.05) AS keep
        |FROM t""".stripMargin,

    // ground-truth brute force: the operator's pigeonhole blocking has
    // total recall by construction, so the relations must be EQUAL
    "q_editjoin" ->
      """WITH a AS (SELECT c_custkey AS a_id, c_name AS an FROM customer
        |  WHERE c_custkey % 100 = 0),
        |b AS (SELECT c_custkey AS b_id,
        |  substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) ||
        |  substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2) AS bn
        |  FROM customer)
        |SELECT a_id, b_id, levenshtein(an, bn) AS dist
        |FROM a JOIN b ON abs(length(an) - length(bn)) <= 1
        |WHERE length(an) >= 2 AND levenshtein(an, bn) <= 1""".stripMargin,

    "q_enc" ->
      """WITH t AS (
        |  SELECT event_id AS doc_id,
        |    'evt ' || event_type || chr(CAST(user_id % 40 + 1 AS INT)) || ' tail' ||
        |    CASE WHEN event_type = 'purchase' THEN chr(65533) ELSE '' END AS et
        |  FROM events)
        |SELECT doc_id,
        |  len(regexp_extract_all(et, '\x{FFFD}')) AS n_replacement,
        |  len(regexp_extract_all(et,
        |    '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]')) AS n_control,
        |  floor((len(regexp_extract_all(et, '\x{FFFD}'))
        |    + len(regexp_extract_all(et,
        |      '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]')))
        |    / CAST(length(et) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS junk_ratio
        |FROM t""".stripMargin,

    // the stacked (column, value) pairs rebuilt as a UNION ALL; string
    // min/max compare binary in both engines
    "q_profile" ->
      """WITH kv AS (
        |  SELECT 'doc_id' AS c, CAST(doc_id AS VARCHAR) AS v FROM documents
        |  UNION ALL SELECT 'text', text FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
        |cnt AS (SELECT c, v, COUNT(*) AS n FROM kv GROUP BY 1, 2),
        |st AS (SELECT c, CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN v IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_null,
        |  COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct,
        |  min(v) AS min_v, max(v) AS max_v
        |  FROM cnt GROUP BY 1),
        |rk AS (SELECT c, v,
        |  ROW_NUMBER() OVER (PARTITION BY c ORDER BY n DESC, v) AS rn
        |  FROM cnt WHERE v IS NOT NULL),
        |tp AS (SELECT c, string_agg(v, ',' ORDER BY rn) AS top_values
        |  FROM rk WHERE rn <= 3 GROUP BY c)
        |SELECT st.c AS column_name, n_rows, n_null, n_distinct, min_v, max_v,
        |  COALESCE(top_values, '') AS top_values
        |FROM st LEFT JOIN tp ON st.c = tp.c""".stripMargin,

    // the same constructed text; NFC via nfc_normalize, the ctl class
    // mirrors the kernel exactly (C0 minus \t \n, plus DEL)
    "q_norm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' x' || 'e' || chr(769)
        |      || chr(CAST(doc_id % 31 + 1 AS INT)) || '  tail ' AS et
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, et,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(et),
        |      '[\x{00}-\x{08}\x{0B}-\x{1F}\x{7F}]', '', 'g'),
        |      '[ \t]+', ' ', 'g'), ' ') AS text_norm
        |  FROM t)
        |SELECT doc_id, text_norm, CAST(text_norm <> et AS INT) AS changed
        |FROM n""".stripMargin,

    "q_card" ->
      """WITH t AS (
        |  SELECT doc_id, text, lang,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS tok,
        |    CASE WHEN len(string_split_regex(text, '\s+')) >= 5
        |      AND len(string_split_regex(text, '\s+')) <= 2000
        |      AND CAST(len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / len(string_split_regex(text, '\s+')) >= 0.05
        |      THEN 1 ELSE 0 END AS kp
        |  FROM documents)
        |SELECT COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  COUNT(DISTINCT text) AS n_distinct_texts,
        |  floor((1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*))
        |    * 1000000.0 + 0.5) / 1000000.0 AS dup_ratio,
        |  floor(AVG(kp) * 1000000.0 + 0.5) / 1000000.0 AS keep_rate,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN tok ELSE 0 END) AS BIGINT) AS en_tokens,
        |  CAST(SUM(CASE WHEN lang = 'zh' THEN tok ELSE 0 END) AS BIGINT) AS zh_tokens,
        |  CAST(SUM(CASE WHEN lang = 'de' THEN tok ELSE 0 END) AS BIGINT) AS de_tokens,
        |  CAST(SUM(CASE WHEN lang = 'es' THEN tok ELSE 0 END) AS BIGINT) AS es_tokens,
        |  CAST(SUM(CASE WHEN lang = 'fr' THEN tok ELSE 0 END) AS BIGINT) AS fr_tokens,
        |  CAST(SUM(tok) - SUM(CASE WHEN lang = 'en' THEN tok ELSE 0 END)
        |    - SUM(CASE WHEN lang = 'zh' THEN tok ELSE 0 END)
        |    - SUM(CASE WHEN lang = 'de' THEN tok ELSE 0 END)
        |    - SUM(CASE WHEN lang = 'es' THEN tok ELSE 0 END)
        |    - SUM(CASE WHEN lang = 'fr' THEN tok ELSE 0 END) AS BIGINT) AS other_tokens
        |FROM t""".stripMargin,

    // the incremental card replayed ONE-SHOT: the additive masses are
    // q_card's sums verbatim (sums of per-part sums == one sum), and
    // the token-length percentiles are the q_qsk splitmix64 HUGEINT
    // chain over (doc_id, token count) — union == one-shot is the 7i4
    // semilattice guarantee, so the one-shot replay IS the oracle; the
    // HLL estimate columns are excluded (spec-pinned instead)
    "q_icard" ->
      """WITH t AS (
        |  SELECT doc_id, text, lang,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS tok,
        |    CASE WHEN len(string_split_regex(text, '\s+')) >= 5
        |      AND len(string_split_regex(text, '\s+')) <= 2000
        |      AND CAST(len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / len(string_split_regex(text, '\s+')) >= 0.05
        |      THEN 1 ELSE 0 END AS kp
        |  FROM documents),
        |a AS (
        |  SELECT CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_parts,
        |    COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |    floor(AVG(kp) * 1000000.0 + 0.5) / 1000000.0 AS keep_rate,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN tok ELSE 0 END) AS BIGINT) AS en_tokens,
        |    CAST(SUM(CASE WHEN lang = 'zh' THEN tok ELSE 0 END) AS BIGINT) AS zh_tokens,
        |    CAST(SUM(CASE WHEN lang = 'de' THEN tok ELSE 0 END) AS BIGINT) AS de_tokens,
        |    CAST(SUM(CASE WHEN lang = 'es' THEN tok ELSE 0 END) AS BIGINT) AS es_tokens,
        |    CAST(SUM(CASE WHEN lang = 'fr' THEN tok ELSE 0 END) AS BIGINT) AS fr_tokens,
        |    CAST(SUM(tok) - SUM(CASE WHEN lang = 'en' THEN tok ELSE 0 END)
        |      - SUM(CASE WHEN lang = 'zh' THEN tok ELSE 0 END)
        |      - SUM(CASE WHEN lang = 'de' THEN tok ELSE 0 END)
        |      - SUM(CASE WHEN lang = 'es' THEN tok ELSE 0 END)
        |      - SUM(CASE WHEN lang = 'fr' THEN tok ELSE 0 END) AS BIGINT) AS other_tokens
        |  FROM t),
        |s0 AS (
        |  SELECT CAST(tok AS DOUBLE) AS v, (CAST(doc_id AS HUGEINT)
        |    + 11400714819323198485) % 18446744073709551616 AS z FROM t),
        |p1 AS (SELECT v, xor(z, z >> 30) AS a FROM s0),
        |m1 AS (SELECT v, ((a % 4294967296) * 484763065
        |  + (((a % 4294967296) * 3210233709 + (a // 4294967296) * 484763065)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p1),
        |p2 AS (SELECT v, xor(z, z >> 27) AS a FROM m1),
        |m2 AS (SELECT v, ((a % 4294967296) * 321982955
        |  + (((a % 4294967296) * 2496678331 + (a // 4294967296) * 321982955)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p2),
        |k AS (SELECT v, CAST(xor(z, z >> 31) >> 1 AS BIGINT) AS h FROM m2),
        |dd AS (SELECT DISTINCT h, v FROM k),
        |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY h, v) AS rk FROM dd),
        |smp AS (SELECT v FROM r WHERE rk <= 64),
        |vs AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rv,
        |  COUNT(*) OVER () AS m FROM smp),
        |q AS (SELECT CAST(m AS INT) AS m,
        |    MAX(CASE WHEN rv = ((m - 1) * 50) // 100 + 1 THEN v END) AS tok_p50,
        |    MAX(CASE WHEN rv = ((m - 1) * 95) // 100 + 1 THEN v END) AS tok_p95
        |  FROM vs GROUP BY m)
        |SELECT a.*, q.m, q.tok_p50, q.tok_p95 FROM a CROSS JOIN q""".stripMargin,

    // text-equality comparison mirrors the operator's xxhash64 compare
    // (same relation absent 64-bit collisions)
    "q_snapdiff" ->
      """WITH a AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |b AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0),
        |j AS (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    a.text AS ta, b.text AS tb
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ta IS NULL THEN 'added'
        |       WHEN tb IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM j WHERE ta IS NULL OR tb IS NULL OR ta <> tb""".stripMargin,

    "q_padbatch" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |         WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |         ELSE 1024 END AS bucket
        |  FROM t)
        |SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN n > bucket THEN n ELSE bucket END) AS BIGINT) AS padded_tokens,
        |  floor(CAST(SUM(n) AS DOUBLE) /
        |    SUM(CASE WHEN n > bucket THEN n ELSE bucket END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS efficiency
        |FROM k GROUP BY bucket""".stripMargin,

    // identical s16le decode to the q_audio oracle, unframed, counting
    // |s| >= 30000 over every full sample pair
    "q_clip" ->
      """WITH hx AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS nb
        |  FROM documents
        |), sm AS (
        |  SELECT doc_id, nb // 2 AS n,
        |    list_transform(
        |      list_transform(range(nb // 2), i ->
        |        (strpos('0123456789ABCDEF', h[4*i+1 : 4*i+1]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*i+2 : 4*i+2]) - 1)
        |        + ((strpos('0123456789ABCDEF', h[4*i+3 : 4*i+3]) - 1) * 16
        |        + (strpos('0123456789ABCDEF', h[4*i+4 : 4*i+4]) - 1)) * 256),
        |      v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS s
        |  FROM hx WHERE nb // 2 >= 1
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(len(list_filter(s, x -> abs(x) >= 30000)) AS BIGINT) AS n_clipped,
        |  floor(CAST(len(list_filter(s, x -> abs(x) >= 30000)) AS DOUBLE) / n
        |    * 1000000.0 + 0.5) / 1000000.0 AS clip_frac
        |FROM sm""".stripMargin,

    "q_drift" ->
      """WITH ta AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |ca AS (SELECT token, COUNT(*) AS cnt_a FROM ta
        |  WHERE length(token) > 0 GROUP BY token),
        |tb AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        |  FROM documents WHERE doc_id % 2 <> 0),
        |cb AS (SELECT token, COUNT(*) AS cnt_b FROM tb
        |  WHERE length(token) > 0 GROUP BY token),
        |j AS (SELECT COALESCE(ca.token, cb.token) AS token,
        |    COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |t AS (SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb, COUNT(*) AS v FROM j)
        |SELECT token, cnt_a, cnt_b,
        |  floor((cnt_a + 1.0) / (na + v) *
        |    ln(((cnt_a + 1.0) / (na + v)) / ((cnt_b + 1.0) / (nb + v)))
        |    * 100000000.0 + 0.5) / 100000000.0 AS contrib
        |FROM j CROSS JOIN t
        |ORDER BY contrib DESC, token LIMIT 100""".stripMargin,

    // splitmix64 replayed in HUGEINT (wrapping 64-bit multiplies split
    // into 32-bit halves so INT128 never overflows); key >> 1 keeps the
    // result in signed-BIGINT range on both engines
    "q_shuf" ->
      """WITH s0 AS (
        |  SELECT doc_id, (CAST(doc_id AS HUGEINT) + 11400714819323198485)
        |    % 18446744073709551616 AS z FROM documents),
        |p1 AS (SELECT doc_id, xor(z, z >> 30) AS a FROM s0),
        |m1 AS (SELECT doc_id, ((a % 4294967296) * 484763065
        |  + (((a % 4294967296) * 3210233709 + (a // 4294967296) * 484763065)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p1),
        |p2 AS (SELECT doc_id, xor(z, z >> 27) AS a FROM m1),
        |m2 AS (SELECT doc_id, ((a % 4294967296) * 321982955
        |  + (((a % 4294967296) * 2496678331 + (a // 4294967296) * 321982955)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p2),
        |k AS (SELECT doc_id, CAST(xor(z, z >> 31) >> 1 AS BIGINT) AS shuffle_key FROM m2),
        |r AS (SELECT doc_id, shuffle_key,
        |  ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS r0,
        |  (COUNT(*) OVER () + 7) // 8 AS ssize FROM k)
        |SELECT doc_id, shuffle_key, r0 // ssize AS shard, r0 % ssize AS pos
        |FROM r""".stripMargin,

    // the q_shuf layout CTEs + the q_fingerprint polynomial hash,
    // bit_xor'd per shard
    "q_manifest" ->
      """WITH s0 AS (
        |  SELECT doc_id, text, (CAST(doc_id AS HUGEINT) + 11400714819323198485)
        |    % 18446744073709551616 AS z FROM documents),
        |p1 AS (SELECT doc_id, text, xor(z, z >> 30) AS a FROM s0),
        |m1 AS (SELECT doc_id, text, ((a % 4294967296) * 484763065
        |  + (((a % 4294967296) * 3210233709 + (a // 4294967296) * 484763065)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p1),
        |p2 AS (SELECT doc_id, text, xor(z, z >> 27) AS a FROM m1),
        |m2 AS (SELECT doc_id, text, ((a % 4294967296) * 321982955
        |  + (((a % 4294967296) * 2496678331 + (a // 4294967296) * 321982955)
        |     % 4294967296) * 4294967296) % 18446744073709551616 AS z FROM p2),
        |k AS (SELECT doc_id, text, CAST(xor(z, z >> 31) >> 1 AS BIGINT) AS sk FROM m2),
        |r AS (SELECT doc_id, text,
        |  ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS r0,
        |  (COUNT(*) OVER () + 7) // 8 AS ssize FROM k),
        |f AS (SELECT r0 // ssize AS shard,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS tok,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |  FROM r)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  bit_xor(fp) AS checksum
        |FROM f GROUP BY shard""".stripMargin,

    // the q_entropy model/scoring CTEs verbatim, then the rank/shard
    // arithmetic over (score, id) — kept in lockstep with q_entropy
    "q_curr" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
        |  FROM documents
        |), dd AS (
        |  SELECT * FROM d WHERE length(t) >= 2
        |), g AS (
        |  SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg, COUNT(*) AS k
        |  FROM dd, UNNEST(range(1, length(t))) AS r(i)
        |  GROUP BY 1, 2
        |), model AS (
        |  SELECT bg, SUM(k) AS c FROM g GROUP BY bg
        |), tot AS (
        |  SELECT SUM(c) AS tot, COUNT(*) AS v FROM model
        |), lp AS (
        |  SELECT g.doc_id, g.k,
        |    g.k * ln((model.c + 1.0) / (tot.tot + tot.v)) AS klp
        |  FROM g JOIN model USING (bg) CROSS JOIN tot
        |), score AS (
        |  SELECT doc_id,
        |    floor(-CAST(SUM(CAST(klp AS DECIMAL(28,8))) AS DOUBLE) / SUM(k)
        |      * 1000000.0 + 0.5) / 1000000.0 AS sort_key
        |  FROM lp GROUP BY doc_id
        |), r AS (
        |  SELECT doc_id, sort_key,
        |    ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) - 1 AS r0,
        |    (COUNT(*) OVER () + 7) // 8 AS ssize
        |  FROM score)
        |SELECT doc_id, sort_key, r0 // ssize AS shard, r0 % ssize AS pos
        |FROM r""".stripMargin,

    // uncapped water-filling branch (verified: every rate < 1 at these
    // parameters); sqrt weights are bit-identical across engines
    "q_tmix" ->
      """WITH tot AS (
        |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS t
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, t, sqrt(t) AS wt FROM tot
        |), r AS (
        |  SELECT source,
        |    CAST(FLOOR(((0.35 * (SELECT SUM(t) FROM tot)) * wt)
        |      / (SELECT SUM(wt) FROM w) / t * 10000 + 0.5) AS BIGINT) AS bps
        |  FROM w
        |)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE (d.doc_id % 2147483647) * 48271 % 2147483647 % 10000 < r.bps""".stripMargin,

    "q_pii" ->
      """WITH t AS (
        |  SELECT event_id,
        |    'session ' || event_type || ' from user ' || CAST(user_id AS VARCHAR) ||
        |    CASE WHEN event_type = 'click' THEN ' at 10.' ||
        |      CAST(user_id % 256 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR) ||
        |      '.' || CAST((user_id + event_id) % 256 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN event_type = 'signup' THEN ' phone +' ||
        |      CAST(user_id % 90 + 10 AS VARCHAR) || '-' ||
        |      lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |      lpad(CAST((user_id * 7 + event_id) % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN event_type = 'purchase' THEN ' card ' ||
        |      lpad(CAST((event_id * 31 + user_id) % 100000000 AS VARCHAR), 8, '0') ||
        |      lpad(CAST((user_id * 17 + event_id) % 100000000 AS VARCHAR), 8, '0') ELSE '' END AS pt
        |  FROM events)
        |, seq AS (
        |  SELECT doc_id, pt,
        |    regexp_replace(pt, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS p1
        |  FROM (SELECT event_id AS doc_id, pt FROM t))
        |, seq2 AS (
        |  SELECT doc_id, pt, p1,
        |    regexp_replace(p1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS p2
        |  FROM seq)
        |SELECT doc_id,
        |  len(regexp_extract_all(pt, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        |  len(regexp_extract_all(p1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
        |  len(regexp_extract_all(p2, '[0-9]{12,19}')) AS n_idnums,
        |  length(regexp_replace(p2, '[0-9]{12,19}', '<ID>', 'g')) AS scrubbed_len
        |FROM seq2""".stripMargin,

    "q_srcgate" ->
      """WITH t AS (
        |  SELECT source, text, length(text) AS ln,
        |    len(string_split_regex(text, '\s+')) AS ntk,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is'))) AS stop_cnt
        |  FROM documents),
        |k AS (
        |  SELECT source, text, ln,
        |    CASE WHEN ntk >= 5 AND ntk <= 2000
        |      AND CAST(stop_cnt AS DOUBLE) / ntk >= 0.05 THEN 1 ELSE 0 END AS kp
        |  FROM t),
        |s AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    floor(AVG(kp) * 10000.0 + 0.5) / 10000.0 AS keep_rate,
        |    floor((1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS dup_ratio,
        |    floor(AVG(CAST(ln AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS mean_chars
        |  FROM k GROUP BY source)
        |SELECT source, n_docs, keep_rate, dup_ratio, mean_chars,
        |  CASE WHEN n_docs >= 10 AND keep_rate >= 0.6 AND dup_ratio <= 0.5
        |    THEN 1 ELSE 0 END AS gated_in
        |FROM s""".stripMargin,

    "q_decon" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
        |  FROM tok, UNNEST(range(1, len(tk) - 6)) AS t(i)
        |  WHERE len(tk) >= 8
        |)
        |SELECT c.doc_id AS doc_id, e.doc_id AS eval_id, COUNT(*) AS shared
        |FROM sh c JOIN sh e ON c.g = e.g
        |WHERE c.doc_id % 11 <> 0 AND e.doc_id % 11 = 0
        |GROUP BY 1, 2""".stripMargin,

    "q_fdecon" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
        |  FROM tok, UNNEST(range(1, len(tk) - 1)) AS t(i)
        |  WHERE len(tk) >= 3
        |), sz AS (
        |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), p AS (
        |  SELECT c.doc_id AS doc_id, e.doc_id AS eval_id, COUNT(*) AS shared
        |  FROM sh c JOIN sh e ON c.g = e.g
        |  WHERE c.doc_id % 11 <> 0 AND e.doc_id % 11 = 0
        |  GROUP BY 1, 2
        |)
        |SELECT p.doc_id, p.eval_id, p.shared,
        |  floor(CAST(p.shared AS DOUBLE) / (cs.n + es.n - p.shared)
        |    * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM p
        |JOIN sz cs ON cs.doc_id = p.doc_id
        |JOIN sz es ON es.doc_id = p.eval_id
        |WHERE floor(CAST(p.shared AS DOUBLE) / (cs.n + es.n - p.shared)
        |  * 1000000.0 + 0.5) / 1000000.0 >= 0.5
        |""".stripMargin,

    "q_corpus" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, lang, source, string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE doc_id % 11 <> 0
        |), q AS (
        |  SELECT doc_id, text, lang, source, tk,
        |    len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS stop_cnt
        |  FROM base
        |), qq AS (
        |  SELECT doc_id, text, lang, source, tk FROM q
        |  WHERE len(tk) >= 5 AND len(tk) <= 2000
        |    AND CAST(stop_cnt AS DOUBLE) / len(tk) >= 0.05
        |), ex AS (
        |  SELECT * FROM qq WHERE doc_id IN (SELECT MIN(doc_id) FROM qq GROUP BY text)
        |), sh AS (
        |  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        |  FROM ex, UNNEST(range(1, len(tk) - 1)) AS t(i)
        |  WHERE len(tk) >= 3
        |), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), kp AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 1000
        |), post AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kp USING (shingle)
        |), cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), dup AS (
        |  SELECT d1, d2 FROM cand
        |  JOIN sizes s1 ON cand.d1 = s1.doc_id
        |  JOIN sizes s2 ON cand.d2 = s2.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5
        |), edges AS (SELECT d1 AS src, d2 AS dst FROM dup UNION SELECT d2, d1 FROM dup
        |), reach AS (
        |  SELECT src AS id, src AS comp FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src
        |), lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
        |), nd AS (
        |  SELECT ex.* FROM ex LEFT JOIN lbl ON ex.doc_id = lbl.id
        |  WHERE COALESCE(lbl.comp, ex.doc_id) = ex.doc_id
        |), etok AS (
        |  SELECT string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE doc_id % 11 = 0
        |), esh AS (
        |  SELECT DISTINCT
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
        |  FROM etok, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8
        |), csh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
        |  FROM nd, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8
        |), flag AS (SELECT DISTINCT csh.doc_id FROM csh JOIN esh USING (g)
        |), dc AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM flag))
        |SELECT doc_id, lang, source FROM dc
        |WHERE (doc_id % 2147483647) * 48271 % 2147483647 % 10000 <
        |  CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 8000 ELSE 10000 END""".stripMargin,

    // the incremental build serves the full-rebuild answer exactly
    // (CorpusIncrement's parity argument), so q_corpus's oracle
    // applies verbatim
    "q_icorpus" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, lang, source, string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE doc_id % 11 <> 0
        |), q AS (
        |  SELECT doc_id, text, lang, source, tk,
        |    len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS stop_cnt
        |  FROM base
        |), qq AS (
        |  SELECT doc_id, text, lang, source, tk FROM q
        |  WHERE len(tk) >= 5 AND len(tk) <= 2000
        |    AND CAST(stop_cnt AS DOUBLE) / len(tk) >= 0.05
        |), ex AS (
        |  SELECT * FROM qq WHERE doc_id IN (SELECT MIN(doc_id) FROM qq GROUP BY text)
        |), sh AS (
        |  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        |  FROM ex, UNNEST(range(1, len(tk) - 1)) AS t(i)
        |  WHERE len(tk) >= 3
        |), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), kp AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 1000
        |), post AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kp USING (shingle)
        |), cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), dup AS (
        |  SELECT d1, d2 FROM cand
        |  JOIN sizes s1 ON cand.d1 = s1.doc_id
        |  JOIN sizes s2 ON cand.d2 = s2.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5
        |), edges AS (SELECT d1 AS src, d2 AS dst FROM dup UNION SELECT d2, d1 FROM dup
        |), reach AS (
        |  SELECT src AS id, src AS comp FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src
        |), lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
        |), nd AS (
        |  SELECT ex.* FROM ex LEFT JOIN lbl ON ex.doc_id = lbl.id
        |  WHERE COALESCE(lbl.comp, ex.doc_id) = ex.doc_id
        |), etok AS (
        |  SELECT string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE doc_id % 11 = 0
        |), esh AS (
        |  SELECT DISTINCT
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
        |  FROM etok, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8
        |), csh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
        |  FROM nd, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8
        |), flag AS (SELECT DISTINCT csh.doc_id FROM csh JOIN esh USING (g)
        |), dc AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM flag))
        |SELECT doc_id, lang, source FROM dc
        |WHERE (doc_id % 2147483647) * 48271 % 2147483647 % 10000 <
        |  CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 8000 ELSE 10000 END""".stripMargin,

    "q_corpus2" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, lang, source, string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE doc_id % 11 <> 0
        |), q AS (
        |  SELECT doc_id, text, lang, source, tk,
        |    len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS stop_cnt
        |  FROM base
        |), sstat AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    floor(AVG(CASE WHEN len(tk) >= 5 AND len(tk) <= 2000
        |      AND CAST(stop_cnt AS DOUBLE) / len(tk) >= 0.05 THEN 1 ELSE 0 END)
        |      * 10000.0 + 0.5) / 10000.0 AS keep_rate,
        |    floor((1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*))
        |      * 10000.0 + 0.5) / 10000.0 AS dup_ratio
        |  FROM q GROUP BY source
        |), sgate AS (
        |  SELECT source FROM sstat
        |  WHERE n_docs >= 10 AND keep_rate >= 0.6 AND dup_ratio <= 0.5
        |), qq AS (
        |  SELECT doc_id, text, lang, source, tk FROM q
        |  WHERE len(tk) >= 5 AND len(tk) <= 2000
        |    AND CAST(stop_cnt AS DOUBLE) / len(tk) >= 0.05
        |    AND source IN (SELECT source FROM sgate)
        |), ex AS (
        |  SELECT * FROM qq WHERE doc_id IN (SELECT MIN(doc_id) FROM qq GROUP BY text)
        |), sh AS (
        |  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        |  FROM ex, UNNEST(range(1, len(tk) - 1)) AS t(i)
        |  WHERE len(tk) >= 3
        |), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        |), kp AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 1000
        |), post AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kp USING (shingle)
        |), cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), dup AS (
        |  SELECT d1, d2 FROM cand
        |  JOIN sizes s1 ON cand.d1 = s1.doc_id
        |  JOIN sizes s2 ON cand.d2 = s2.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= 0.5
        |), edges AS (SELECT d1 AS src, d2 AS dst FROM dup UNION SELECT d2, d1 FROM dup
        |), reach AS (
        |  SELECT src AS id, src AS comp FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON r.id = e.src
        |), lbl AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id
        |), nd AS (
        |  SELECT ex.* FROM ex LEFT JOIN lbl ON ex.doc_id = lbl.id
        |  WHERE COALESCE(lbl.comp, ex.doc_id) = ex.doc_id
        |), etok AS (
        |  SELECT string_split_regex(text, '\s+') AS tk
        |  FROM documents WHERE doc_id % 11 = 0
        |), esh AS (
        |  SELECT DISTINCT
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
        |  FROM etok, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8
        |), csh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS g
        |  FROM nd, UNNEST(range(1, len(tk) - 6)) AS t(i) WHERE len(tk) >= 8
        |), flag AS (SELECT DISTINCT csh.doc_id FROM csh JOIN esh USING (g)
        |), dc AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM flag))
        |SELECT doc_id, lang, source FROM dc
        |WHERE (doc_id % 2147483647) * 48271 % 2147483647 % 10000 <
        |  CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 8000 ELSE 10000 END""".stripMargin,

    "q_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens AS BIGINT) AS tok_offset
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, tok_offset,
        |  CAST(floor(tok_offset / 512.0) AS BIGINT) AS chunk_first,
        |  CAST(floor((tok_offset + n_tokens - 1) / 512.0) AS BIGINT) AS chunk_last
        |FROM c""".stripMargin,

    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - n_tokens AS BIGINT) AS tok_offset
        |  FROM t
        |), e AS (
        |  SELECT tok_offset, n_tokens, g AS chunk_id
        |  FROM c, UNNEST(range(
        |    CAST(floor(tok_offset / 512.0) AS BIGINT),
        |    CAST(floor((tok_offset + n_tokens - 1) / 512.0) AS BIGINT) + 1)) AS u(g)
        |  WHERE n_tokens > 0
        |)
        |SELECT chunk_id, COUNT(*) AS n_docs,
        |  CAST(SUM(LEAST(tok_offset + n_tokens, (chunk_id + 1) * 512)
        |    - GREATEST(tok_offset, chunk_id * 512)) AS BIGINT) AS n_tokens
        |FROM e GROUP BY 1""".stripMargin,

    "q_ragc" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk,
        |    len(string_split_regex(text, '\s+')) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, tk, n, CAST(g AS INT) AS chunk_idx
        |  FROM t, UNNEST(range(0,
        |    1 + GREATEST(0, CAST(ceil((n - 64) / 32.0) AS BIGINT)))) AS u(g)
        |)
        |SELECT doc_id, chunk_idx,
        |  chunk_idx * 32 AS start_tok,
        |  LEAST(64, n - chunk_idx * 32) AS n_tok,
        |  array_to_string(list_slice(tk, chunk_idx * 32 + 1,
        |    chunk_idx * 32 + LEAST(64, n - chunk_idx * 32)), ' ') AS chunk_text
        |FROM c""".stripMargin,

    "q_hh_tokens" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS item FROM documents
        |), tot AS (
        |  SELECT COUNT(*) AS total FROM t
        |)
        |SELECT item, COUNT(*) AS cnt
        |FROM t, tot GROUP BY item, tot.total
        |HAVING COUNT(*) * 100 >= tot.total * 1""".stripMargin,

    // mirrors the (doc, bigram)-grained Spark plan exactly: the
    // decimal cast applies to k*lp per DISTINCT bigram (not per
    // occurrence), so quantization is identical on both engines
    "q_entropy" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
        |  FROM documents
        |), dd AS (
        |  SELECT * FROM d WHERE length(t) >= 2
        |), g AS (
        |  SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg, COUNT(*) AS k
        |  FROM dd, UNNEST(range(1, length(t))) AS r(i)
        |  GROUP BY 1, 2
        |), model AS (
        |  SELECT bg, SUM(k) AS c FROM g GROUP BY bg
        |), tot AS (
        |  SELECT SUM(c) AS tot, COUNT(*) AS v FROM model
        |), lp AS (
        |  SELECT g.doc_id, g.k,
        |    g.k * ln((model.c + 1.0) / (tot.tot + tot.v)) AS klp
        |  FROM g JOIN model USING (bg) CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |  floor(-CAST(SUM(CAST(klp AS DECIMAL(28,8))) AS DOUBLE) / SUM(k)
        |    * 1000000.0 + 0.5) / 1000000.0 AS cross_entropy
        |FROM lp GROUP BY doc_id""".stripMargin,

    // the artifact model is a bit-equal sum of batch count parts, so
    // the incremental store serves q_entropy's answer exactly and its
    // oracle applies verbatim
    "q_ilm" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
        |  FROM documents
        |), dd AS (
        |  SELECT * FROM d WHERE length(t) >= 2
        |), g AS (
        |  SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg, COUNT(*) AS k
        |  FROM dd, UNNEST(range(1, length(t))) AS r(i)
        |  GROUP BY 1, 2
        |), model AS (
        |  SELECT bg, SUM(k) AS c FROM g GROUP BY bg
        |), tot AS (
        |  SELECT SUM(c) AS tot, COUNT(*) AS v FROM model
        |), lp AS (
        |  SELECT g.doc_id, g.k,
        |    g.k * ln((model.c + 1.0) / (tot.tot + tot.v)) AS klp
        |  FROM g JOIN model USING (bg) CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |  floor(-CAST(SUM(CAST(klp AS DECIMAL(28,8))) AS DOUBLE) / SUM(k)
        |    * 1000000.0 + 0.5) / 1000000.0 AS cross_entropy
        |FROM lp GROUP BY doc_id""".stripMargin,

    // cross-corpus scoring: model CTEs over the reference slice, LEFT
    // join at gram grain with the smoothed floor for unseen grams
    // (ln(NULL) is NULL, so COALESCE lands exactly on the model's
    // unseen log-prob); per-gram terms decimal-quantized as in
    // q_entropy
    "q_xent" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
        |  FROM documents
        |), refd AS (
        |  SELECT t FROM d WHERE doc_id % 11 = 0 AND length(t) >= 2
        |), rg AS (
        |  SELECT substr(t, CAST(i AS INT), 2) AS bg, COUNT(*) AS c
        |  FROM refd, UNNEST(range(1, length(t))) AS r(i)
        |  GROUP BY 1
        |), tot AS (
        |  SELECT SUM(c) AS tot, COUNT(*) AS v FROM rg
        |), dd AS (
        |  SELECT doc_id, t FROM d WHERE doc_id % 11 <> 0 AND length(t) >= 2
        |), g AS (
        |  SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg, COUNT(*) AS k
        |  FROM dd, UNNEST(range(1, length(t))) AS r(i)
        |  GROUP BY 1, 2
        |), lp AS (
        |  SELECT g.doc_id, g.k,
        |    g.k * COALESCE(ln((rg.c + 1.0) / (tot.tot + tot.v)),
        |                   ln(1.0 / (tot.tot + tot.v))) AS klp
        |  FROM g LEFT JOIN rg USING (bg) CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |  floor(-CAST(SUM(CAST(klp AS DECIMAL(28,8))) AS DOUBLE) / SUM(k)
        |    * 1000000.0 + 0.5) / 1000000.0 AS cross_entropy
        |FROM lp GROUP BY doc_id""".stripMargin,

    "q_entropy3" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '#', 'g') AS t
        |  FROM documents
        |), dd AS (
        |  SELECT * FROM d WHERE length(t) >= 3
        |), g AS (
        |  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tg, COUNT(*) AS k
        |  FROM dd, UNNEST(range(1, length(t) - 1)) AS r(i)
        |  GROUP BY 1, 2
        |), model AS (
        |  SELECT tg, SUM(k) AS c FROM g GROUP BY tg
        |), tot AS (
        |  SELECT SUM(c) AS tot, COUNT(*) AS v FROM model
        |), lp AS (
        |  SELECT g.doc_id, g.k,
        |    g.k * ln((model.c + 1.0) / (tot.tot + tot.v)) AS klp
        |  FROM g JOIN model USING (tg) CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_trigrams,
        |  floor(-CAST(SUM(CAST(klp AS DECIMAL(28,8))) AS DOUBLE) / SUM(k)
        |    * 1000000.0 + 0.5) / 1000000.0 AS cross_entropy3
        |FROM lp GROUP BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), toks AS (
        |  SELECT doc_id, tk[CAST(i AS INT)] AS tok, CAST(i AS BIGINT) AS pos
        |  FROM tok, UNNEST(range(1, len(tk) + 1)) AS r(i)
        |), ws AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct
        |  FROM toks GROUP BY doc_id
        |), runs AS (
        |  SELECT doc_id, MAX(run) AS max_run FROM (
        |    SELECT doc_id, COUNT(*) AS run
        |    FROM (
        |      SELECT doc_id, tok, pos,
        |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
        |      FROM toks)
        |    GROUP BY doc_id, tok, grp)
        |  GROUP BY doc_id
        |), grams AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_2grams, MAX(n) AS top2gram_n FROM (
        |    SELECT doc_id, tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] AS gram,
        |      COUNT(*) AS n
        |    FROM tok, UNNEST(range(1, len(tk))) AS r(i)
        |    WHERE len(tk) >= 2
        |    GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT ws.doc_id, ws.n_tokens, runs.max_run, grams.top2gram_n,
        |  floor(CAST(ws.n_tokens - ws.n_distinct AS DOUBLE) / ws.n_tokens * 1000000.0 + 0.5) / 1000000.0 AS dup_word_frac,
        |  floor(CAST(grams.top2gram_n AS DOUBLE) / grams.n_2grams * 1000000.0 + 0.5) / 1000000.0 AS top2gram_frac
        |FROM ws JOIN runs ON ws.doc_id = runs.doc_id
        |JOIN grams ON ws.doc_id = grams.doc_id""".stripMargin,

    "q_ldedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), l AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(tk) / 2.0) AS BIGINT)),
        |      i -> array_to_string(tk[CAST(i*2+1 AS INT):CAST(i*2+2 AS INT)], ' ')) AS lines
        |  FROM t
        |), e AS (
        |  SELECT doc_id, i, lines[i] AS line
        |  FROM l, UNNEST(range(1, len(lines) + 1)) AS u(i)
        |), hot AS (
        |  SELECT line FROM e GROUP BY line HAVING COUNT(DISTINCT doc_id) > 20
        |), k AS (
        |  SELECT doc_id, i, line FROM e
        |  WHERE line NOT IN (SELECT line FROM hot)
        |), r AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM k GROUP BY doc_id
        |)
        |SELECT l.doc_id,
        |  COALESCE(r.clean_text, '') AS clean_text,
        |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(l.lines) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM l LEFT JOIN r ON l.doc_id = r.doc_id""".stripMargin,

    "q_text_lines" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
        |), l AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(tk) / 2.0) AS BIGINT)),
        |      i -> array_to_string(tk[CAST(i*2+1 AS INT):CAST(i*2+2 AS INT)], ' ')) AS lines
        |  FROM t
        |), p AS (
        |  SELECT doc_id, lines,
        |    list_transform(range(0, CAST(ceil(len(lines) / 4.0) AS BIGINT)),
        |      j -> array_to_string(lines[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)], chr(10))) AS paras
        |  FROM l
        |), f AS (
        |  SELECT doc_id,
        |    list_filter(lines, s -> regexp_matches(s, '\S')) AS la,
        |    list_filter(paras, s -> regexp_matches(s, '\S')) AS pa
        |  FROM p
        |)
        |SELECT doc_id,
        |  len(la) AS n_lines,
        |  CASE WHEN len(la) > 0 THEN floor(CAST(len(la) - len(list_distinct(la)) AS DOUBLE)
        |    / len(la) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN list_sum(list_transform(la, s -> length(s))) > 0 THEN
        |    floor(CAST(list_sum(list_transform(la, s -> length(s)))
        |        - list_sum(list_transform(list_distinct(la), s -> length(s))) AS DOUBLE)
        |      / list_sum(list_transform(la, s -> length(s))) * 1000000.0 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS dup_line_char_frac,
        |  len(pa) AS n_paras,
        |  CASE WHEN len(pa) > 0 THEN floor(CAST(len(pa) - len(list_distinct(pa)) AS DOUBLE)
        |    / len(pa) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS dup_para_frac,
        |  CASE WHEN list_sum(list_transform(pa, s -> length(s))) > 0 THEN
        |    floor(CAST(list_sum(list_transform(pa, s -> length(s)))
        |        - list_sum(list_transform(list_distinct(pa), s -> length(s))) AS DOUBLE)
        |      / list_sum(list_transform(pa, s -> length(s))) * 1000000.0 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS dup_para_char_frac
        |FROM f""".stripMargin,

    "q_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS tk FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    len(list_filter(tk, x -> x IN ('the','is','and','of'))) AS s_en,
        |    len(list_filter(tk, x -> x IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(tk, x -> x IN ('el','los','y','que'))) AS s_es,
        |    len(list_filter(tk, x -> x IN ('der','und','die','nicht'))) AS s_de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM t)
        |SELECT doc_id, s_en, s_fr, s_es, s_de, s_zh,
        |  CASE WHEN s_zh > 0 THEN 'zh'
        |       WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_fr, s_es, s_de) THEN 'en'
        |       WHEN s_fr = greatest(s_en, s_fr, s_es, s_de) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_fr, s_es, s_de) THEN 'es'
        |       ELSE 'de' END AS pred_lang
        |FROM sc""".stripMargin,
  )
}
