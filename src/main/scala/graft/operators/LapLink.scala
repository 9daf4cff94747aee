package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The two-phase SparseLAP tracker of the reference (track_images.py:
  * 95-100, TrackMate's default; Jaqaman et al., Nature Methods 2008):
  * [[frameToFrame]] links spots between consecutive frames, then
  * [[gapClose]] / [[gapCloseFull]] (and the fused
  * `TrackAssignment.divisionAwareGapClosedByVideo`) join track
  * segments. Every one of them builds its cost matrices group by group
  * and hands each to ONE kernel, [[solve]], which gates, conditions
  * and assigns; an operator owns only which pairs are candidates and
  * in which block.
  *
  * Penalty maps (TrackMate's LINKING / GAP_CLOSING / SPLITTING /
  * MERGING_FEATURE_PENALTIES) are (feature column, weight) pairs; the
  * operators carry the feature values into the solve as plain arrays,
  * so no `Column` reaches a closure.
  */
object LapLink {

  /** TrackMate's percentile (TMUtils.getPercentile): rank position
    * p·(n+1) over the sorted values, LINEARLY INTERPOLATED between the
    * two neighbouring order statistics, clamped to [min, max]; a
    * single value is returned as-is. p ∈ (0, 1]. [[solve]] feeds this
    * TrackMate's CUTOFF_PERCENTILE, so the definition must be the
    * interpolated one, not nearest-rank — near rank boundaries the two
    * disagree and with them which outlier links the alternative cost
    * rejects. p = 1 gives the max (pos = n+1 clamps), which is exactly
    * JaqamanLinkingCostMatrixCreator.computeAlternativeCosts'
    * percentile == 1 → factor·max short-circuit. */
  private[graft] def percentileTM(xs: Array[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0.0 && p <= 1.0)
    if (xs.length == 1) return xs(0)
    val s = xs.sorted
    val n = s.length
    val pos = p * (n + 1)
    if (pos < 1.0) s(0)
    else if (pos >= n) s(n - 1)
    else {
      val ip = pos.toInt
      s(ip - 1) + (pos - ip) * (s(ip) - s(ip - 1))
    }
  }

  /** Penalized cost of a candidate pair:
    * d² · (1 + Σ 3·w·|fp − fc| / (fp + fc))², a term being 0 when both
    * values are 0 — so geometry proposes and features veto. */
  private def penalizedCost(d2: Double, fp: Array[Double], fc: Array[Double],
                            w: Array[Double]): Double = {
    var p = 0.0
    var i = 0
    while (i < w.length) {
      val s = fp(i) + fc(i)
      if (s != 0.0) p += 3.0 * w(i) * math.abs(fp(i) - fc(i)) / s
      i += 1
    }
    d2 * (1.0 + p) * (1.0 + p)
  }

  /** One candidate cell of a cost matrix: parent and child index in the
    * caller's space, the geometric d², its block's gate (a squared
    * distance) and penalty weights, and both ends' feature values
    * (read only when `w` is non-empty). */
  private[operators] final case class Cand(p: Int, c: Int, d2: Double, gate: Double,
                                           w: Array[Double], fp: Array[Double],
                                           fc: Array[Double])

  /** The Jaqaman cost-matrix rule for ONE matrix (a frame pair, or one
    * video's segment matrix), shared by all four LAP trackers:
    *
    *  1. Gate. A candidate is kept when its d² and its [[penalizedCost]]
    *     both pass its block's gate. TrackMate thresholds the PENALIZED
    *     cost, so a near pair with a very different feature value is no
    *     candidate at all; with no weights the cost is d² and this is
    *     the geometric gate.
    *  2. Condition. The no-link alternative A of the whole matrix is
    *     `altCostFactor` × [[percentileTM]](kept costs,
    *     `cutoffPercentile`) — ALTERNATIVE_LINKING_COST_FACTOR and
    *     CUTOFF_PERCENTILE, rejecting OUTLIER links even within their
    *     gate (2A < cost ⇒ leaving both ends unlinked is cheaper) — or
    *     the caller's `bound` when no factor is set.
    *  3. Assign. [[assignEdges]] solves the matrix exactly.
    *
    * Returns one (parent index, child index, dist) per link, `dist`
    * being the GEOMETRIC distance rounded to 4 places. */
  private[operators] def solve(np: Int, nc: Int, cands: Iterator[Cand],
                               altCostFactor: Option[Double], cutoffPercentile: Double,
                               bound: Double): Iterator[(Int, Int, Double)] = {
    val edges = Array.newBuilder[(Int, Int, Double)]
    val d2s = new java.util.HashMap[Long, Double]()
    cands.foreach { k =>
      if (k.d2 <= k.gate) {
        val cost = if (k.w.isEmpty) k.d2 else penalizedCost(k.d2, k.fp, k.fc, k.w)
        if (cost <= k.gate) {
          edges += ((k.p, k.c, cost))
          d2s.put(k.p.toLong << 32 | k.c.toLong, k.d2)
        }
      }
    }
    val es = edges.result()
    val alt = altCostFactor match {
      case Some(f) if es.nonEmpty => f * percentileTM(es.map(_._3), cutoffPercentile)
      case _ => bound
    }
    assignEdges(np, nc, es, alt).iterator.map { case (p, c) =>
      // getOrDefault(NaN) + require: a missing key must fail loudly,
      // not unbox null to distance 0.0
      val d2 = d2s.getOrDefault(p.toLong << 32 | c.toLong, Double.NaN)
      require(!d2.isNaN, s"assigned edge $p->$c has no gated distance")
      (p, c, graft.functions.Numeric.croundD(math.sqrt(d2), 4))
    }
  }

  /** Per-track endpoints held in memory: start = min (frame, id), end =
    * max (frame, −id) — the in-memory twin of [[gapClose]]'s
    * min_by/max_by aggregate. Returns the sorted track ids with each
    * track's start and end member, index-aligned. */
  private[operators] def endpoints[T: scala.reflect.ClassTag](xs: Iterable[T])(
      track: T => Long, frameId: T => (Long, Long)): (Array[Long], Array[T], Array[T]) = {
    val byTrack = xs.groupBy(track)
    val tracks = byTrack.keys.toArray.sorted
    (tracks, tracks.map(t => byTrack(t).minBy(frameId)),
      tracks.map(t => byTrack(t).maxBy { x => val (f, i) = frameId(x); (f, -i) }))
  }

  /** Exact per-frame-pair assignment linking — the SimpleSparseLAP end
    * of the reference's tracker menu: between consecutive frames,
    * choose the GLOBALLY optimal set of links, not each spot's greedy
    * favourite, by one [[solve]] per frame pair with the gate
    * maxDist² and `featurePenalties` (TrackerKeys'
    * LINKING_FEATURE_PENALTIES). TrackMate's gap-closing/split/merge
    * refinements are the second phase ([[gapClose]], [[gapCloseFull]]).
    *
    * `cutoffPercentile` DEFAULTS to 1.0 — factor·max — because
    * TrackMate's SparseLAPFrameToFrameTracker hardcodes percentile 1d
    * (KalmanTracker uses the same 1.05/1.0 pair as named constants);
    * CUTOFF_PERCENTILE binds only the SEGMENT matrix. With factor·max
    * every gated link survives the alternative (cost ≤ max < 2A), so
    * under the reference templates this phase differs from the
    * gate-bound default only through the penalized-cost gate; an
    * explicit sub-1 percentile gives genuine outlier rejection.
    *
    * Scale shape: ONE shuffle groups each frame pair's spots together
    * (every spot participates in two pairs: as child of f-1→f and parent
    * of f→f+1 — a 2x map-side duplication, not a join); pairs solve
    * independently, so at 100 TB parallelism comes from (video, frame)
    * granularity — millions of pairs — while each solve is bounded by
    * spots-per-frame (an imaging field holds hundreds of cells; n³ on
    * hundreds is sub-millisecond).
    *
    * Output: (src, dst, dist) — a 1-1 matching per frame pair. */
  def frameToFrame(spots: DataFrame, id: Column, frame: Column,
                   x: Column, y: Column, maxDist: Double,
                   featurePenalties: Seq[(Column, Double)] = Nil,
                   altCostFactor: Option[Double] = None,
                   cutoffPercentile: Double = 1.0): DataFrame = {
    require(maxDist > 0.0, "maxDist must be positive")
    require(altCostFactor.forall(_ > 0.0), "altCostFactor must be positive")
    require(cutoffPercentile > 0.0 && cutoffPercentile <= 1.0,
      "cutoffPercentile in (0, 1]")
    val spark = spots.sparkSession
    import spark.implicits._
    val weights = featurePenalties.map(_._2).toArray
    val featArr =
      if (featurePenalties.isEmpty) typedLit(Array.empty[Double])
      else array(featurePenalties.map(_._1.cast("double")): _*)
    val s = spots.select(id.cast("long").as("id"), frame.cast("long").as("frame"),
      x.cast("double").as("x"), y.cast("double").as("y"), featArr.as("fs"))
    val asParent = s.select(col("frame").as("pair"), lit(0).as("role"),
      col("id"), col("x"), col("y"), col("fs"))
    val asChild = s.select((col("frame") - 1).as("pair"), lit(1).as("role"),
      col("id"), col("x"), col("y"), col("fs"))
    val maxD2 = maxDist * maxDist
    // explicit-width repartition, NOT groupByKey: the shuffle is tiny
    // in bytes but each group is a CPU-dense assignment solve, and
    // AQE's coalescing (which optimizes for data size) would pack all
    // groups onto a couple of threads. An explicit partition count is
    // exempt from AQE coalescing, pinning the parallelism; pairs are
    // then grouped locally within their partition.
    val width = spark.sparkContext.defaultParallelism
    asParent.union(asChild)
      .repartition(width, col("pair"))
      .sortWithinPartitions(col("pair"))
      .as[(Long, Int, Long, Double, Double, Seq[Double])]
      .mapPartitions { it =>
        // rows arrive sorted by pair (Spark's sort spills, unlike a
        // per-partition HashMap of every group), so consecutive-key
        // grouping bounds task memory to ONE frame pair's spots
        val buf = it.buffered
        new Iterator[Iterator[(Long, Long, Double)]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[(Long, Long, Double)] = {
            val pair = buf.head._1
            val rows = scala.collection.mutable.ArrayBuffer
              .empty[(Int, Long, Double, Double, Array[Double])]
            while (buf.hasNext && buf.head._1 == pair) {
              val r = buf.next()
              rows.append((r._2, r._3, r._4, r._5, r._6.toArray))
            }
            val ps = rows.filter(_._1 == 0).map(r => (r._2, r._3, r._4, r._5))
              .sortBy(_._1).toArray
            val cs = rows.filter(_._1 == 1).map(r => (r._2, r._3, r._4, r._5))
              .sortBy(_._1).toArray
            val cands = for (pi <- ps.indices.iterator; ci <- cs.indices.iterator) yield {
              val dx = ps(pi)._2 - cs(ci)._2
              val dy = ps(pi)._3 - cs(ci)._3
              Cand(pi, ci, dx * dx + dy * dy, maxD2, weights, ps(pi)._4, cs(ci)._4)
            }
            solve(ps.length, cs.length, cands, altCostFactor, cutoffPercentile, maxD2)
              .map { case (pi, ci, dist) => (ps(pi)._1, cs(ci)._1, dist) }
          }
        }.flatten
      }.toDF("src", "dst", "dist")
  }

  /** Gated min-cost matching over an EXPLICIT edge list — the "sparse"
    * in SparseLAP: the gated bipartite graph decomposes into connected
    * components (no gated edge crosses them and dummy alternatives are
    * free, so the global optimum is exactly the union of per-component
    * optima), and each component gets its own Hungarian solve on its
    * dummy-padded square matrix — O(Σ mᵢ³) instead of O(m³). An edge
    * (p, c, cost) carries [[solve]]'s penalized cost; leaving a node
    * unlinked costs L per side, so the matching minimises
    * Σ cost + L·(#unlinked), i.e. it takes an edge of weight 2L − cost
    * only where that pays. Returns the matched (parentIdx, childIdx)
    * pairs in the CALLER's index space. */
  private def assignEdges(np: Int, nc: Int, edges: Array[(Int, Int, Double)],
                          l: Double): Seq[(Int, Int)] = {
    if (edges.isEmpty) return Seq.empty
    // union-find over parent nodes [0, np) and child nodes [np, np+nc)
    val parent = Array.tabulate(np + nc)(identity)
    def find(a: Int): Int = {
      var x = a
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (p, c, _) =>
      val (rp, rc) = (find(p), find(np + c))
      if (rp != rc) parent(rp) = rc
    }
    edges.groupBy { case (p, _, _) => find(p) }.iterator.flatMap { case (_, es) =>
      val cps = es.map(_._1).distinct.sorted
      val ccs = es.map(_._2).distinct.sorted
      val pIdx = cps.zipWithIndex.toMap
      val cIdx = ccs.zipWithIndex.toMap
      val npl = cps.length
      val ncl = ccs.length
      val m = npl + ncl
      // an ungated cell must never appear in an optimum: the all-dummy
      // matching costs 0 and real links are >= -2L each, so any
      // matching through one ungated cell costs >= big - 2L·m;
      // big = 2L(m+1) makes that strictly positive — dominated by the
      // 0-cost reroute. Dummy pairings cost 0.
      val big = 2.0 * l * (m + 1)
      val cost = Array.ofDim[Double](m, m)
      var i = 0
      while (i < m) {
        var j = 0
        while (j < m) {
          cost(i)(j) = if (i < npl && j < ncl) big else 0.0
          j += 1
        }
        i += 1
      }
      val gated = new java.util.HashSet[Long]()
      es.foreach { case (p, c, e) =>
        cost(pIdx(p))(cIdx(c)) = e - 2.0 * l
        gated.add(pIdx(p).toLong << 32 | cIdx(c).toLong)
      }
      val rowToCol = hungarian(cost)
      (0 until npl).flatMap { i =>
        val j = rowToCol(i)
        if (j < ncl && gated.contains(i.toLong << 32 | j.toLong)) Some((cps(i), ccs(j)))
        else None
      }
    }.toSeq
  }

  /** One track segment's endpoints for the gap-closing pass; `sfs`/
    * `efs` carry the start/end spot's penalty feature values (empty
    * when the caller declares none). */
  private[operators] case class Seg(track: Long,
                                    sid: Long, sframe: Long, sx: Double, sy: Double,
                                    eid: Long, eframe: Long, ex: Double, ey: Double,
                                    sfs: Seq[Double], efs: Seq[Double])

  /** Segment-level gap closing — the SECOND phase of the reference's
    * default trackers (track_images.py:95-97, the jaqaman SparseLAP
    * factories): after frame-to-frame linking fragments tracks at
    * occlusions longer than the linker's gap window, a GLOBAL
    * assignment between track-segment ENDS and track-segment STARTS
    * decides which fragments are the same cell. A candidate is an
    * (end, start) pair within `maxGap` frames; each video's matrix is
    * one [[solve]] with the gate maxDist² and `gapPenalties`
    * (GAP_CLOSING_FEATURE_PENALTIES).
    *
    * Scale shape: ONE aggregate collapses spots to per-track endpoints
    * (corpus-sized shuffle, the unavoidable read), then ONE cogroup by
    * video — tracking never crosses videos, so at 100 TB the solves
    * parallelise across millions of videos while each solve is bounded
    * by segments-per-timelapse (thousands), with the in-solve
    * component decomposition cutting the Hungarian further. No
    * all-pairs join, no driver-side state.
    *
    * A segment's own start is never a candidate (its start precedes
    * its end), and matched links always point forward in time, so the
    * matching composes segments into CHAINS. Output: one row per
    * closed gap — (src = end spot of the earlier segment, dst = start
    * spot of the later one, gap, dist, src_track, dst_track). */
  def gapClose(spots: DataFrame, labels: DataFrame,
               id: Column, frame: Column, x: Column, y: Column,
               maxDist: Double, maxGap: Int,
               videoOf: Long => Long,
               altCostFactor: Option[Double] = None,
               cutoffPercentile: Double = 0.9,
               gapPenalties: Seq[(Column, Double)] = Nil): DataFrame = {
    require(maxDist > 0.0, "maxDist must be positive")
    require(maxGap >= 1, "maxGap must be >= 1")
    require(altCostFactor.forall(_ > 0.0), "altCostFactor must be positive")
    require(cutoffPercentile > 0.0 && cutoffPercentile <= 1.0,
      "cutoffPercentile in (0, 1]")
    val spark = spots.sparkSession
    import spark.implicits._
    // the endpoint spot's feature values ride the same endpoint structs
    // the coordinates do
    val w = gapPenalties.map(_._2).toArray
    val featArr =
      if (gapPenalties.isEmpty) typedLit(Array.empty[Double])
      else array(gapPenalties.map(_._1.cast("double")): _*)
    val s = spots.select(id.cast("long").as("id"), frame.cast("long").as("frame"),
      x.cast("double").as("x"), y.cast("double").as("y"), featArr.as("fs"))
    val lb = labels.select(col("id").cast("long").as("id"),
      col("track_id").cast("long").as("track"))
    val seg = s.join(lb, Seq("id"))
      .groupBy(col("track"))
      .agg(
        min_by(struct(col("id"), col("frame"), col("x"), col("y"), col("fs")),
          struct(col("frame"), col("id"))).as("s0"),
        max_by(struct(col("id"), col("frame"), col("x"), col("y"), col("fs")),
          struct(col("frame"), negate(col("id")))).as("s1"))
      .select(col("track"),
        col("s0.id").as("sid"), col("s0.frame").as("sframe"),
        col("s0.x").as("sx"), col("s0.y").as("sy"),
        col("s1.id").as("eid"), col("s1.frame").as("eframe"),
        col("s1.x").as("ex"), col("s1.y").as("ey"),
        col("s0.fs").as("sfs"), col("s1.fs").as("efs"))
      .as[Seg]
    val maxD2 = maxDist * maxDist
    seg.groupByKey(r => videoOf(r.track))
      .flatMapGroups { (_, it) =>
        // track order, not shuffle arrival order: the Hungarian breaks
        // cost ties by index, and arrival order follows the upstream
        // partitioning
        val segs = it.toArray.sortBy(_.track)
        val eFs = segs.map(_.efs.toArray)
        val sFs = segs.map(_.sfs.toArray)
        val cands = for {
          pi <- segs.indices.iterator
          ci <- segs.indices.iterator
          if segs(ci).sframe - segs(pi).eframe >= 1
          if segs(ci).sframe - segs(pi).eframe <= maxGap
        } yield {
          val dx = segs(ci).sx - segs(pi).ex
          val dy = segs(ci).sy - segs(pi).ey
          Cand(pi, ci, dx * dx + dy * dy, maxD2, w, eFs(pi), sFs(ci))
        }
        solve(segs.length, segs.length, cands, altCostFactor, cutoffPercentile, maxD2)
          .map { case (pi, ci, dist) =>
            (segs(pi).eid, segs(ci).sid, segs(ci).sframe - segs(pi).eframe, dist,
              segs(pi).track, segs(ci).track)
          }
      }
      .toDF("src", "dst", "gap", "dist", "src_track", "dst_track")
  }

  /** One labeled spot row for the full (split/merge-aware) second
    * phase. `fs` carries the union of all blocks' penalty feature
    * values (empty when no block declares penalties). */
  private[operators] case class TSpot(track: Long, id: Long, frame: Long,
                                      x: Double, y: Double, fs: Seq[Double])

  /** The FULL Jaqaman second phase — gap closing PLUS track splitting
    * and merging in ONE global assignment (track_images.py:95-100
    * passes TrackMate tracker settings through, so
    * ALLOW_TRACK_SPLITTING / ALLOW_TRACK_MERGING are reference
    * surface): sources are segment ENDS and (when splitting) segment
    * MIDDLES; targets are segment STARTS and (when merging) MIDDLES.
    * Blocks, each with its own gate and penalty map:
    *  - gap: end→start within `maxGap` frames, gate `maxDist`,
    *    `gapPenalties`;
    *  - merge: end→middle at frame gap 1, gate `mergeDist`
    *    (MERGING_MAX_DISTANCE, default `maxDist`), `mergePenalties`;
    *  - split: middle→start at frame gap 1, gate `splitDist`
    *    (SPLITTING_MAX_DISTANCE, default `maxDist`), `splitPenalties`.
    * Middle→middle pairs belong to NO TrackMate block. Each video's
    * blocks form ONE matrix and ONE [[solve]], so a start goes to the
    * gap-close OR the split source that the global optimum prefers,
    * never both, and the no-link alternative is shared across blocks
    * as in TrackMate's segment matrix. Unconditioned, its bound is
    * maxDist²: a split/merge gate above √2·maxDist admits candidates
    * that alternative then dominates; the reference templates keep
    * both gates well below the gap gate, where that rule is inert.
    * Every one of the reference's ten templates enables merging with
    * `MERGING_FEATURE_PENALTIES: {"AREA": 0.5}` (templates/cyto3.json).
    *
    * Label semantics are deliberately unchanged by split/merge links:
    * the engine's (and reference pipeline's) track identity rules make
    * a split daughter a FRESH track and end a merging chain at the
    * merge (parse_xml.py:147-158) — so these links are LINEAGE EDGES
    * (kind = split/merge), while relabeling ([[closeGaps]]) consumes
    * only the gap-close links. Output: (src, dst, gap, dist, kind,
    * src_track, dst_track); kind in {gc, split, merge}.
    *
    * Same scale shape as [[gapClose]], except the per-video unit is
    * all SPOTS of the video (middles participate) — still bounded by
    * one timelapse, with the component decomposition keeping each
    * Hungarian small. */
  def gapCloseFull(spots: DataFrame, labels: DataFrame,
                   id: Column, frame: Column, x: Column, y: Column,
                   maxDist: Double, maxGap: Int,
                   videoOf: Long => Long,
                   allowSplit: Boolean = true,
                   allowMerge: Boolean = true,
                   splitDist: Option[Double] = None,
                   mergeDist: Option[Double] = None,
                   gapPenalties: Seq[(Column, Double)] = Nil,
                   splitPenalties: Seq[(Column, Double)] = Nil,
                   mergePenalties: Seq[(Column, Double)] = Nil,
                   altCostFactor: Option[Double] = None,
                   cutoffPercentile: Double = 0.9): DataFrame = {
    require(maxDist > 0.0, "maxDist must be positive")
    require(maxGap >= 1, "maxGap must be >= 1")
    require(splitDist.forall(_ > 0.0), "splitDist must be positive")
    require(mergeDist.forall(_ > 0.0), "mergeDist must be positive")
    require(altCostFactor.forall(_ > 0.0), "altCostFactor must be positive")
    require(cutoffPercentile > 0.0 && cutoffPercentile <= 1.0,
      "cutoffPercentile in (0, 1]")
    val spark = spots.sparkSession
    import spark.implicits._
    val maxD2 = maxDist * maxDist
    val splitD2 = splitDist.map(d => d * d).getOrElse(maxD2)
    val mergeD2 = mergeDist.map(d => d * d).getOrElse(maxD2)
    // one shared feature array = the concatenation of the three maps'
    // columns; each block's weight vector is zero outside its own
    // slice, so a feature another block penalizes contributes exactly
    // nothing here (penalty terms are weight-linear)
    val allPens = gapPenalties ++ splitPenalties ++ mergePenalties
    val nG = gapPenalties.length
    val nS = splitPenalties.length
    def blockW(lo: Int, ws: Seq[(Column, Double)]): Array[Double] = {
      val w = new Array[Double](allPens.length)
      var i = 0
      while (i < ws.length) { w(lo + i) = ws(i)._2; i += 1 }
      w
    }
    val wGap = blockW(0, gapPenalties)
    val wSplit = blockW(nG, splitPenalties)
    val wMerge = blockW(nG + nS, mergePenalties)
    val featArr =
      if (allPens.isEmpty) typedLit(Array.empty[Double])
      else array(allPens.map(_._1.cast("double")): _*)
    val rows = spots.select(id.cast("long").as("id"), frame.cast("long").as("frame"),
        x.cast("double").as("x"), y.cast("double").as("y"), featArr.as("fs"))
      .join(labels.select(col("id").cast("long").as("id"),
        col("track_id").cast("long").as("track")), Seq("id"))
      .select(col("track"), col("id"), col("frame"), col("x"), col("y"), col("fs"))
      .as[TSpot]
    rows.groupByKey(r => videoOf(r.track))
      .flatMapGroups { (_, it) =>
        val all = it.toArray
        val (_, starts, ends) = endpoints(all)(_.track, s => (s.frame, s.id))
        val endpointKeys = (starts ++ ends).map(s => (s.track, s.id)).toSet
        val middles = all.filterNot(s => endpointKeys((s.track, s.id))).sortBy(_.id)
        // parents = ends ++ middles (split sources); children =
        // starts ++ middles (merge targets)
        val parents = ends ++ (if (allowSplit) middles else Array.empty[TSpot])
        val children = starts ++ (if (allowMerge) middles else Array.empty[TSpot])
        val pFs = parents.map(_.fs.toArray)
        val cFs = children.map(_.fs.toArray)
        val nEnds = ends.length
        val nStarts = starts.length
        // the (gate, weights) of a pair's block; None outside every block
        def block(pi: Int, ci: Int): Option[(Double, Array[Double])] = {
          val df = children(ci).frame - parents(pi).frame
          if (parents(pi).track == children(ci).track) None
          else if (pi < nEnds && ci < nStarts)
            if (df >= 1 && df <= maxGap) Some((maxD2, wGap)) else None
          else if (df != 1) None
          else if (pi < nEnds) Some((mergeD2, wMerge))
          else if (ci < nStarts) Some((splitD2, wSplit))
          else None // middle -> middle
        }
        val cands = for {
          pi <- parents.indices.iterator
          ci <- children.indices.iterator
          (gate, w) <- block(pi, ci)
        } yield {
          val dx = children(ci).x - parents(pi).x
          val dy = children(ci).y - parents(pi).y
          Cand(pi, ci, dx * dx + dy * dy, gate, w, pFs(pi), cFs(ci))
        }
        solve(parents.length, children.length, cands, altCostFactor,
            cutoffPercentile, maxD2)
          .map { case (pi, ci, dist) =>
            val kind =
              if (pi < nEnds && ci < nStarts) "gc"
              else if (pi < nEnds) "merge"
              else "split"
            (parents(pi).id, children(ci).id, children(ci).frame - parents(pi).frame,
              dist, kind, parents(pi).track, children(ci).track)
          }
      }
      .toDF("src", "dst", "gap", "dist", "kind", "src_track", "dst_track")
  }

  /** Gap closing applied to the labels: run [[gapClose]], then relabel
    * every merged chain of segments to its minimum track id — the same
    * min-id-per-segment convention as `TrackAssignment`. The matched
    * segment pairs have in/out-degree <= 1 and point forward in time,
    * so the merge map comes from the chain-specialised pointer-doubling
    * labeler ([[ChainLabel]]), not generic CC. Output: (id, track_id)
    * for every input label row. */
  def closeGaps(spots: DataFrame, labels: DataFrame,
                id: Column, frame: Column, x: Column, y: Column,
                maxDist: Double, maxGap: Int,
                videoOf: Long => Long,
                altCostFactor: Option[Double] = None,
                cutoffPercentile: Double = 0.9,
                gapPenalties: Seq[(Column, Double)] = Nil): DataFrame = {
    val lb = labels.select(col("id").cast("long").as("id"),
      col("track_id").cast("long").as("track_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val links = gapClose(spots, lb, id, frame, x, y, maxDist, maxGap, videoOf,
      altCostFactor, cutoffPercentile, gapPenalties)
    val chain = links.select(col("src_track").as("src"), col("dst_track").as("dst"))
    val lbl = ChainLabel.heads(chain)
    val minT = lbl.groupBy(col("head")).agg(min(col("id")).as("_new"))
    val remap = lbl.join(minT, Seq("head"))
      .select(col("id").as("track_id"), col("_new"))
    // the returned relabel join is lb's last reader (gap-close and the
    // chain labeling above already materialized the cache)
    graft.functions.CacheRelease.afterNextExecution(lb)
    lb.join(remap, Seq("track_id"), "left")
      .select(col("id"), coalesce(col("_new"), col("track_id")).as("track_id"))
  }

  /** O(n³) Hungarian algorithm with row/column potentials (the
    * Jonker-Volgenant shortest-augmenting-path scheme): minimum-cost
    * perfect matching on a square matrix. Returns row -> column. */
  private[operators] def hungarian(cost: Array[Array[Double]]): Array[Int] = {
    val n = cost.length
    val u = new Array[Double](n + 1)
    val v = new Array[Double](n + 1)
    val p = new Array[Int](n + 1)
    val way = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      p(0) = i
      var j0 = 0
      val minv = Array.fill(n + 1)(Double.PositiveInfinity)
      val used = new Array[Boolean](n + 1)
      var free = -1
      while (free == -1) {
        used(j0) = true
        val i0 = p(j0)
        var delta = Double.PositiveInfinity
        var j1 = -1
        var j = 1
        while (j <= n) {
          if (!used(j)) {
            val cur = cost(i0 - 1)(j - 1) - u(i0) - v(j)
            if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
            if (minv(j) < delta) { delta = minv(j); j1 = j }
          }
          j += 1
        }
        j = 0
        while (j <= n) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta }
          else minv(j) -= delta
          j += 1
        }
        j0 = j1
        if (p(j0) == 0) free = j0
      }
      while (j0 != 0) { val j1 = way(j0); p(j0) = p(j1); j0 = j1 }
      i += 1
    }
    val ans = new Array[Int](n)
    var j = 1
    while (j <= n) { ans(p(j) - 1) = j - 1; j += 1 }
    ans
  }
}
