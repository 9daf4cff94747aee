package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for crawl frontier prioritization — the
  * step between URL canonicalization (30b3) and fetch scheduling in a
  * crawl-driven corpus pipeline: given the host/domain link graph,
  * rank hosts by PageRank (Brin & Page 1998) so the frontier fetches
  * high-centrality domains first and per-domain quality gates (29a)
  * can weight by authority. Production crawl corpora publish exactly
  * this artifact (Common Crawl's host-level ranks).
  *
  * INTEGER FIXED-POINT by design: ranks are maintained in units of
  * `scale` (average rank == `scale`), every step is BIGINT `div`
  * arithmetic, and sums of longs are exact and associative — so the
  * result is bit-identical regardless of partitioning/merge order
  * AND exactly replayable in ANSI SQL (floating-point PageRank is
  * neither: double summation order is nondeterministic under
  * shuffle). Per-iteration truncation loses < 1 unit per division —
  * at the default scale of 1e9, a relative error < 1e-9·outdeg,
  * far below any ranking-relevant difference.
  *
  * The recurrence (all integer, `div` = floor division on
  * non-negative values):
  * {{{
  *   r0(v)   = scale
  *   share_u = r(u) div outdeg(u)                 (per out-edge)
  *   D       = Σ r(u) over dangling u (no out-edges)
  *   r'(v)   = ((100-dp)·scale) div 100
  *           + (dp · (Σ_{u→v} share_u + D div N)) div 100
  * }}}
  *
  * Distributed shape: one static deduped edge list joined with the
  * per-iteration rank table on src (equi-join on the 8-byte node id),
  * one hash aggregate per iteration on dst — the canonical 2-shuffle
  * PageRank round. The dangling mass is a single-row aggregate ridden
  * in-plan via a broadcast cross join (never a driver collect inside
  * the loop); each iteration's plan is re-rooted on a persisted RDD
  * ([[Rounds.materialize]]) so Catalyst work stays constant per
  * round. Node count N is the one driver-side scalar (a count, not
  * data). Static structures (edges+outdeg, nodes, dangling ids) are
  * persisted for the loop and released after the final round; the
  * final rank RDD stays persisted for the caller's action (the
  * [[ChainLabel]] lifecycle).
  *
  * Bounds: total mass is N·scale and the damping step multiplies an
  * in-sum (≤ total mass, a hub can collect almost all of it) by
  * `dampingPct`, so exactness requires 100·N·scale < 2^63 — enforced
  * by a fail-fast require (silent BIGINT wrap would propagate garbage
  * ranks). N ≤ ~9·10⁷ hosts at the default scale; larger graphs pass
  * a smaller `scale` (scale 10⁶ admits N ≤ ~9·10¹⁰ while still
  * resolving rank differences of 10⁻⁶ of the average).
  *
  * Input `edges`: (src, dst) long columns; multi-edges collapse
  * (DISTINCT) and self-loops drop, per the standard formulation.
  * Output: (node, rank) — every node incident to a surviving edge,
  * rank in `scale` units after exactly `iters` iterations (fixed
  * iteration count, the deterministic production shape — crawl ranks
  * are refreshed per cycle, not run to numeric fixpoint). */
object HostRank {

  /** Runs on the driver, a narrowed clone or at caller width by
    * [[Rounds.profile]] over max(edges, warm-seed rows); the driver
    * twin executes the SAME integer fixed-point recurrence — long sums
    * are exact and order-independent, so every profile is
    * bit-identical (ProfileParitySpec). */
  def pageRank(edges: DataFrame, iters: Int, dampingPct: Int = 85,
               scale: Long = 1000000000L): DataFrame =
    solve(edges, iters, dampingPct, scale, warm = None)

  /** REFRESH-CYCLE warm start — the honest incremental form of a
    * GLOBAL recurrence. Exact increments do not compose here, and
    * that is a property of the math, not a missing optimization: the
    * dangling/damping term couples every node to a corpus-wide scalar
    * (D div N) each iteration, so any batch that changes N or total
    * dangling mass perturbs EVERY rank within two iterations — and in
    * integer fixed-point a one-unit scalar shift flips floor
    * boundaries corpus-wide. Reproducing the fixed-iteration
    * recurrence exactly therefore costs the same E-scale work as the
    * rebuild (this is why production crawl ranks — e.g. Common
    * Crawl's — are re-released per crawl cycle rather than patched).
    *
    * What a refresh CAN reuse is the previous cycle's fixpoint
    * estimate: power iteration converges from any start, so seeding
    * with yesterday's ranks (new hosts start at `scale`) buys the
    * accuracy of many cold iterations for a few warm ones when the
    * graph delta is small (HostRankSpec measures it: warm-j is closer
    * to the converged ranks than cold-j). Semantics are declared, not
    * hidden: `refresh(E', prev, j)` is exactly `j` recurrence steps
    * from the warm seed — deterministic, SQL-replayable (q_rank2
    * unrolls both phases), and NOT equal to a cold run at equal
    * iters. Same plan shape and overflow bound as [[pageRank]] (the
    * seed's total mass is bounded by the previous cycle's node count,
    * hence the max(n, nPrev) require). */
  def refresh(edges: DataFrame, prevRanks: DataFrame, iters: Int,
              dampingPct: Int = 85, scale: Long = 1000000000L): DataFrame =
    solve(edges, iters, dampingPct, scale, warm = Some(prevRanks))

  private def solve(edges: DataFrame, iters: Int, dampingPct: Int,
                    scale: Long, warm: Option[DataFrame]): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    require(scale >= 100, "scale too small to carry rank mass")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val outdeg0 = e0.groupBy("src").agg(count(lit(1)).as("_odeg"))
    // static for the loop: per-edge (src, dst, _odeg) so an iteration
    // is ONE join against ranks instead of two
    val eo0 = e0.join(outdeg0, "src").persist(lvl)
    // materializing eo here (it is the first round's join input either
    // way) yields the edge count m for the profile
    val m = eo0.count()
    // the warm seed's row count bounds its total mass (see nBound); it
    // also sizes the profile — a corpus-scale seed never collects
    val warmN = warm.map(_.count()).getOrElse(0L)
    val callerSpark = edges.sparkSession
    val p = Rounds.profile(math.max(m, warmN), hasLocal = true)
    if (p == Rounds.Local) {
      val eo = eo0.collect()
      eo0.unpersist(blocking = false)
      val seed = new java.util.HashMap[Long, Long]()
      warm.foreach(_.select(col("node").cast("long"), col("rank").cast("long"))
        .collect().foreach(r => seed.put(r.getLong(0), r.getLong(1))))
      return solveLocal(callerSpark, eo, seed, iters, dampingPct, scale,
        warmN)
    }
    val loop = Rounds.session(callerSpark, p)
    val e = loop.bind(e0)
    val outdeg = loop.bind(outdeg0)
    val eo = loop.bind(eo0)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist(lvl)
    val dangIds = nodes.join(outdeg, nodes("node") === outdeg("src"),
      "left_anti").select(col("node")).persist(lvl)
    val n = nodes.count()
    require(n >= 1, "empty graph after self-loop removal")
    // the mass bound covers the warm seed too: its total is at most
    // the previous cycle's node count times scale (mass conservation
    // of the run that produced it)
    val nBound = math.max(n, warmN)
    require(nBound <= Long.MaxValue / 100L / scale,
      s"100*N*scale must stay under 2^63 for exact integer arithmetic " +
        s"(n=$nBound, scale=$scale): pass a smaller scale")
    val base = ((100L - dampingPct) * scale) / 100L

    val init = warm match {
      case None => nodes.select(col("node"), lit(scale).as("rank"))
      case Some(p) => nodes
        .join(p.select(col("node"), col("rank").as("_pr")), Seq("node"), "left")
        .select(col("node"), coalesce(col("_pr"), lit(scale)).as("rank"))
    }
    var (ranks, ranksRdd) = Rounds.materialize(init, lvl)
    for (_ <- 1 to iters) {
      val dang = ranks.join(dangIds, Seq("node"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("_dmass"))
      val contrib = ranks.join(eo, ranks("node") === eo("src"))
        .select(col("dst"), expr("rank div _odeg").as("_share"))
        .groupBy(col("dst")).agg(sum(col("_share")).as("_insum"))
      val next = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), expr(
          s"$base + ($dampingPct * (coalesce(_insum, CAST(0 AS BIGINT))" +
            s" + (_dmass div $n))) div 100").as("rank"))
      val (nextDF, nextRdd) = Rounds.materialize(next, lvl)
      nextRdd.count() // materialize the round before dropping its input
      ranksRdd.unpersist(blocking = false)
      ranks = nextDF
      ranksRdd = nextRdd
    }
    eo.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    dangIds.unpersist(blocking = false)
    // re-root on the caller's session so downstream plans at its width
    org.apache.spark.sql.GraftBridge.internalDF(callerSpark, ranksRdd,
      ranks.schema)
  }

  /** The driver-local exact loop (r18): the identical recurrence on
    * the collected deduped edge list. Every operation mirrors the
    * distributed plan's BIGINT expression bit for bit — `div` on
    * non-negative longs is Java `/`, sums of longs are exact in any
    * order — so the emitted (node, rank) rows equal the distributed
    * loop's exactly (ProfileParitySpec). Taken only under the `Local`
    * profile, so memory is bounded by [[Rounds.LocalRows]] rows of
    * three longs. */
  private def solveLocal(spark: org.apache.spark.sql.SparkSession,
                         eo: Array[org.apache.spark.sql.Row],
                         seed: java.util.HashMap[Long, Long],
                         iters: Int, dampingPct: Int, scale: Long,
                         warmN: Long): DataFrame = {
    val odeg = new java.util.HashMap[Long, Long]()
    val nodes = scala.collection.mutable.TreeSet[Long]()
    eo.foreach { r =>
      nodes += r.getLong(0)
      nodes += r.getLong(1)
      odeg.put(r.getLong(0), r.getLong(2))
      ()
    }
    val n = nodes.size.toLong
    require(n >= 1, "empty graph after self-loop removal")
    val nBound = math.max(n, warmN)
    require(nBound <= Long.MaxValue / 100L / scale,
      s"100*N*scale must stay under 2^63 for exact integer arithmetic " +
        s"(n=$nBound, scale=$scale): pass a smaller scale")
    val base = ((100L - dampingPct) * scale) / 100L
    var ranks = new java.util.HashMap[Long, Long]()
    nodes.foreach(v => ranks.put(v, seed.getOrDefault(v, scale)))
    for (_ <- 1 to iters) {
      var dmass = 0L
      nodes.foreach(v => if (!odeg.containsKey(v)) dmass += ranks.get(v))
      val dShare = dmass / n
      val insum = new java.util.HashMap[Long, Long]()
      eo.foreach { r =>
        val share = ranks.get(r.getLong(0)) / r.getLong(2)
        insum.put(r.getLong(1), insum.getOrDefault(r.getLong(1), 0L) + share)
        ()
      }
      val next = new java.util.HashMap[Long, Long]()
      nodes.foreach(v => next.put(v,
        base + (dampingPct * (insum.getOrDefault(v, 0L) + dShare)) / 100L))
      ranks = next
    }
    import spark.implicits._
    nodes.toSeq.map(v => (v, ranks.get(v).longValue())).toDF("node", "rank")
  }
}
