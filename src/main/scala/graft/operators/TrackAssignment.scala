package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Division-aware track assignment — the reference's actual track
  * semantics (bin/parse_xml.py:124-163): walk the spot lineage graph
  * from frame-ordered roots; the FIRST child of a split continues the
  * parent's track, every EXTRA child starts a fresh TRACK_ID, and
  * merges are suppressed (a node already claimed by one chain is not
  * re-entered, so the merging chain simply ends there). This is the
  * opposite of plain connected components, which would fuse a whole
  * lineage tree (mother + all daughters) into one component.
  *
  * Distributed re-expression: the reference's recursion is a global
  * sequential DFS, which does not exist on a cluster. But the PARTITION
  * of spots into track segments it produces is fully determined by two
  * local choices per node — which incoming edge continues through a
  * merge, and which outgoing edge continues through a split. Making
  * both deterministic ((frame, id)-minimal, where the reference uses
  * XML edge order / DFS arrival order — arbitrary in the same way):
  *
  *  1. merge suppression: each child keeps ONE incoming edge — from
  *     its (max frame, min id) parent; other incoming edges are cut
  *     (those chains end at the merge).
  *  2. division split: a parent's track continues only via its
  *     (frame, id)-first child, and only if that child kept the edge
  *     in step 1; edges to extra children are cut (each extra child
  *     heads a fresh track).
  *
  * Surviving edges have in-degree <= 1 and out-degree <= 1 per node:
  * they are disjoint CHAINS, and each chain is exactly one track
  * segment. Component labels come from the same O(log n) alternating
  * large/small-star machinery as ConnectedComponents (label = min spot
  * id in the segment; the reference's sequential counter values are an
  * artifact of its single-machine traversal order — the partition is
  * the semantics).
  *
  * Both window steps shuffle by a single key (dst, then src) and the
  * CC rounds operate on chain edges only — no lineage tree is ever
  * collected to the driver, so a 100 TB spot table partitions across
  * the cluster exactly like any other keyed operator.
  *
  * Input: `spots` (id, frame), `edges` (src, dst) spot-graph edges.
  * Output: (id, track_id) for every spot incident to an edge —
  * matching the reference, which drops parentless+childless spots
  * (parse_xml.py:115-118).
  */
object TrackAssignment {

  def divisionAware(spots: DataFrame, edges: DataFrame): DataFrame = {
    // the edge list feeds both local-choice windows plus the node
    // universe (and may itself be an expensive subtree — e.g. the
    // SpotLink candidate join); persist it so downstream references
    // re-read a materialized table instead of re-running the producer.
    // Released after the caller's action by the one-shot CacheRelease
    // listener registered below (r9 — previously ContextCleaner/GC)
    val ed = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fr = spots.select(col("id").cast("long").as("id"), col("frame").cast("long").as("frame"))
    val e = ed
      .join(fr.select(col("id").as("src"), col("frame").as("src_frame")), Seq("src"))
      .join(fr.select(col("id").as("dst"), col("frame").as("dst_frame")), Seq("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 1. merge suppression: one continuing parent per child — the
    // (max frame, min id) parent. For the generic TrackMate merge
    // artifact (a shortcut edge rejoining its own chain two frames
    // later) the latest parent IS the DFS first-arriver, so this local
    // rule reproduces the reference's claim order there; for merges of
    // genuinely independent chains no local rule can see global DFS
    // order, and any single deterministic choice realises the
    // reference's "suppress merges" intent (parse_xml.py:147-149).
    val chosenParent = e.withColumn("_rn", row_number().over(
        Window.partitionBy(col("dst")).orderBy(col("src_frame").desc, col("src"))))
      .filter(col("_rn") === 1).drop("_rn")

    // 2. division split: a parent's track continues only via its FIRST
    // child (ordered over ALL its children, not just surviving edges):
    // when the first child was claimed by another chain (merge), the
    // parent's track ENDS there — it does not fall through to the next
    // child, which starts a fresh track regardless (parse_xml.py:157-158
    // sets accum=True for every child j>0 unconditionally).
    val firstChild = e.withColumn("_rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst_frame"), col("dst"))))
      .filter(col("_rn") === 1)
      .select(col("src"), col("dst"))
    val chain = chosenParent.select(col("src"), col("dst"))
      .join(firstChild, Seq("src", "dst"), "left_semi")

    // every spot touching any edge is in scope; spots whose every edge
    // was cut (e.g. an extra child with no children of its own) form
    // their own single-spot track.
    // Surviving edges have in/out-degree <= 1, so labeling uses the
    // chain-specialised pointer-doubling operator (one join per round)
    // rather than generic CC (two window shuffles + dedup per round);
    // min-id-per-head relabeling reproduces CC's canonical component
    // labels exactly.
    val universe = ed.select(col("src").as("id"))
      .union(ed.select(col("dst").as("id"))).distinct()
    val lbl = ChainLabel.heads(chain)
    val minId = lbl.groupBy(col("head")).agg(min(col("id")).as("track_id"))
    val cc = lbl.join(minId, Seq("head")).select(col("id"), col("track_id"))
    // the returned plan is the last reader of both caches (the chain
    // labeling above already materialized them); best-effort cleanup
    graft.functions.CacheRelease.afterNextExecution(ed)
    graft.functions.CacheRelease.afterNextExecution(e)
    universe.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("track_id"), col("id")).as("track_id"))
  }

  /** Labels every node on the chains of `next` (in/out-degree <= 1)
    * with its chain's min id, walking from each chain head. */
  private def chainMinLabels(next: java.util.HashMap[Long, Long])
      : java.util.HashMap[Long, Long] = {
    val hasPrev = new java.util.HashSet[Long](next.values())
    val label = new java.util.HashMap[Long, Long]()
    next.forEach { (s, _) =>
      if (!hasPrev.contains(s)) {
        var m = s
        var x = s
        while (next.containsKey(x)) { x = next.get(x); if (x < m) m = x }
        var y = s
        label.put(y, m)
        while (next.containsKey(y)) { y = next.get(y); label.put(y, m) }
      }
    }
    label
  }

  /** The per-video local labeler shared by [[divisionAwareByVideo]]
    * and [[divisionAwareGapClosedByVideo]]: the two deterministic
    * local choices, chain walk, min-id labels. Returns id -> track for
    * every edge-incident id (insertion-ordered). */
  private def localLabels(frame: java.util.HashMap[Long, Long],
                          es: java.util.LinkedHashSet[(Long, Long)])
      : java.util.LinkedHashMap[Long, Long] = {
    // the two deterministic local choices, sequential per video
    val chosen = new java.util.HashMap[Long, Long]()   // dst -> continuing src
    val first = new java.util.HashMap[Long, Long]()    // src -> first child dst
    val it0 = es.iterator()
    while (it0.hasNext) {
      val (s, d) = it0.next()
      if (frame.containsKey(s) && frame.containsKey(d)) {
        val c = chosen.get(d)
        if (!chosen.containsKey(d) ||
            frame.get(s) > frame.get(c) ||
            (frame.get(s) == frame.get(c) && s < c)) chosen.put(d, s)
        val f = first.get(s)
        if (!first.containsKey(s) ||
            frame.get(d) < frame.get(f) ||
            (frame.get(d) == frame.get(f) && d < f)) first.put(s, d)
      }
    }
    // surviving chain edges: next(src) = dst
    val next = new java.util.HashMap[Long, Long]()
    first.forEach { (s, d) => if (chosen.get(d) == s) { next.put(s, d); () } }
    val label = chainMinLabels(next)
    // every id incident to an edge is in scope; ids outside every
    // surviving chain are their own single-spot track
    val out = new java.util.LinkedHashMap[Long, Long]()
    val it1 = es.iterator()
    while (it1.hasNext) {
      val (s, d) = it1.next()
      out.put(s, label.getOrDefault(s, s))
      out.put(d, label.getOrDefault(d, d))
    }
    out
  }

  /** Division-aware track assignment when a VIDEO key is available —
    * the dominant real case: tracking runs per timelapse, spot ids are
    * assigned per video, and no lineage edge ever crosses videos. That
    * confinement makes the iterative machinery above unnecessary:
    * cogroup spots and edges by video (ONE shuffle of each input) and
    * run the deterministic local-choice algorithm sequentially per
    * video — at 100 TB the corpus is millions of independent videos,
    * so parallelism comes from the video key, and per-video work is
    * bounded by one timelapse (thousands of spots), not the corpus.
    * Semantics are identical to `divisionAware` (same two local
    * choices, same min-id-per-segment labels — parity-pinned by spec);
    * edges must be video-local (`videoOf(src) == videoOf(dst)`), which
    * tracking data satisfies by construction.
    */
  def divisionAwareByVideo(spots: DataFrame, edges: DataFrame,
                           videoOf: Long => Long): DataFrame = {
    val spark = spots.sparkSession
    import spark.implicits._
    val sp = spots.select(col("id").cast("long"), col("frame").cast("long"))
      .as[(Long, Long)].groupByKey(s => videoOf(s._1))
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .as[(Long, Long)].groupByKey(e => videoOf(e._2))
    sp.cogroup(ed) { (_, spIt, edIt) =>
      val frame = new java.util.HashMap[Long, Long]()
      spIt.foreach { case (id, f) => frame.put(id, f) }
      val es = new java.util.LinkedHashSet[(Long, Long)]()
      edIt.foreach(es.add)
      if (es.isEmpty) Iterator.empty
      else {
        import scala.jdk.CollectionConverters._
        localLabels(frame, es).entrySet().iterator().asScala
          .map(e => (e.getKey.longValue(), e.getValue.longValue()))
      }
    }.toDF("id", "track_id")
  }

  /** The WHOLE per-video tracker as ONE keyed pass: NN spot linking
    * ([[SpotLink.nearest]] semantics, incl. the packed quantized-d²
    * candidate ordering) fused with the division-aware labeler — the
    * batch twin of `streaming.LinkTrackStream`, and the production
    * shape when a video key exists: the corpus shuffles ONCE (groupBy
    * video), and within a video linking is a gap-window scan over the
    * frame-sorted spots (bounded by one timelapse; no grid needed at
    * per-video cardinalities). Output-identical to
    * `SpotLink.nearest` -> [[divisionAwareByVideo]] on video-local
    * data — parity spec-pinned. `spots` must carry (id, frame, x, y);
    * frames must not collide across videos within `gapFrames` (true
    * of any per-video frame encoding). */
  def nearestTracksByVideo(spots: DataFrame, maxDist: Double, gapFrames: Int,
                           videoOf: Long => Long): DataFrame = {
    require(maxDist > 0.0 && gapFrames >= 1)
    val spark = spots.sparkSession
    import spark.implicits._
    val maxD2 = maxDist * maxDist
    val d2Scale = SpotLink.D2Scale
    spots.select(col("id").cast("long"), col("frame").cast("long"),
        col("x").cast("double"), col("y").cast("double"))
      .as[(Long, Long, Double, Double)]
      .groupByKey(s => videoOf(s._1))
      .flatMapGroups { (_, it) =>
        val all = it.toArray
        val byFrame = all.groupBy(_._2)
        val frame = new java.util.HashMap[Long, Long]()
        all.foreach(s => frame.put(s._1, s._2))
        val es = new java.util.LinkedHashSet[(Long, Long)]()
        // deterministic edge order: children by (frame, id)
        all.sortBy(s => (s._2, s._1)).foreach { case (cid, cf, cx, cy) =>
          var best: (Long, Long, Long) = null // (gap, d2q, src)
          var g = 1
          while (g <= gapFrames) {
            byFrame.get(cf - g).foreach(_.foreach { case (pid, _, px, py) =>
              val dx = cx - px
              val dy = cy - py
              val d2 = dx * dx + dy * dy
              if (d2 <= maxD2) {
                val cand = (g.toLong, math.floor(d2 * d2Scale + 0.5).toLong, pid)
                if (best == null || Ordering[(Long, Long, Long)].lt(cand, best))
                  best = cand
              }
            })
            g += 1
          }
          if (best != null) es.add((best._3, cid))
        }
        if (es.isEmpty) Iterator.empty
        else {
          import scala.jdk.CollectionConverters._
          localLabels(frame, es).entrySet().iterator().asScala
            .map(e => (e.getKey.longValue(), e.getValue.longValue()))
        }
      }
      .toDF("id", "track_id")
  }

  /** Labels WITH segment-level gap closing fused into the SAME
    * per-video cogroup — the production composition of
    * [[divisionAwareByVideo]] + [[LapLink.closeGaps]]: the local
    * labeler's output, the per-track endpoints, the gap-close solve
    * ([[LapLink.solve]], the same candidates as [[LapLink.gapClose]])
    * and the chain-merge relabel all happen inside one task per video,
    * so the corpus is shuffled ONCE per input (spots, edges) instead of
    * once per stage (labels cogroup, endpoint aggregate, segment cogroup,
    * relabel join). Output-identical to the composed chain — the
    * parity spec pins it on random fragmented walks. `spots` must
    * carry (id, frame, x, y). */
  def divisionAwareGapClosedByVideo(spots: DataFrame, edges: DataFrame,
                                    maxDist: Double, maxGap: Int,
                                    videoOf: Long => Long,
                                    altCostFactor: Option[Double] = None,
                                    cutoffPercentile: Double = 0.9,
                                    gapPenalties: Seq[(org.apache.spark.sql.Column, Double)] = Nil)
      : DataFrame = {
    require(maxDist > 0.0 && maxGap >= 1)
    require(altCostFactor.forall(_ > 0.0), "altCostFactor must be positive")
    require(cutoffPercentile > 0.0 && cutoffPercentile <= 1.0,
      "cutoffPercentile in (0, 1]")
    val spark = spots.sparkSession
    import spark.implicits._
    val maxD2 = maxDist * maxDist
    val w = gapPenalties.map(_._2).toArray
    val hasPens = gapPenalties.nonEmpty // Columns must not reach the closure
    val featArr =
      if (gapPenalties.isEmpty) typedLit(Array.empty[Double])
      else array(gapPenalties.map(_._1.cast("double")): _*)
    val sp = spots.select(col("id").cast("long"), col("frame").cast("long"),
        col("x").cast("double"), col("y").cast("double"), featArr)
      .as[(Long, Long, Double, Double, Seq[Double])]
      .groupByKey(s => videoOf(s._1))
    val ed = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .as[(Long, Long)].groupByKey(e => videoOf(e._2))
    sp.cogroup(ed) { (_, spIt, edIt) =>
      val frame = new java.util.HashMap[Long, Long]()
      val xs = new java.util.HashMap[Long, Double]()
      val ys = new java.util.HashMap[Long, Double]()
      val fss = new java.util.HashMap[Long, Array[Double]]()
      spIt.foreach { case (id, f, x, y, fs) =>
        frame.put(id, f); xs.put(id, x); ys.put(id, y)
        if (hasPens) { fss.put(id, fs.toArray); () }
      }
      val es = new java.util.LinkedHashSet[(Long, Long)]()
      edIt.foreach(es.add)
      if (es.isEmpty) Iterator.empty
      else {
        import scala.jdk.CollectionConverters._
        val labels = localLabels(frame, es)
        val (tracks, starts, ends) = LapLink.endpoints(labels.keySet.asScala)(
          labels.get(_), id => (frame.get(id), id))
        val cands = for {
          pi <- tracks.indices.iterator
          ci <- tracks.indices.iterator
          if frame.get(starts(ci)) - frame.get(ends(pi)) >= 1
          if frame.get(starts(ci)) - frame.get(ends(pi)) <= maxGap
        } yield {
          val dx = xs.get(starts(ci)) - xs.get(ends(pi))
          val dy = ys.get(starts(ci)) - ys.get(ends(pi))
          LapLink.Cand(pi, ci, dx * dx + dy * dy, maxD2, w,
            fss.get(ends(pi)), fss.get(starts(ci)))
        }
        // matched segment pairs form chains; relabel to min track id
        val next = new java.util.HashMap[Long, Long]()
        LapLink.solve(tracks.length, tracks.length, cands, altCostFactor,
            cutoffPercentile, maxD2)
          .foreach { case (pi, ci, _) => next.put(tracks(pi), tracks(ci)) }
        val remap = chainMinLabels(next)
        labels.entrySet().iterator().asScala.map { e =>
          val t = e.getValue.longValue()
          (e.getKey.longValue(), remap.getOrDefault(t, t).longValue())
        }
      }
    }.toDF("id", "track_id")
  }
}
