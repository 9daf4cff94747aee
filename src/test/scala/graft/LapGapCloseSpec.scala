package graft

import org.apache.spark.sql.functions._
import graft.operators.{LapLink, SpotLink, TrackAssignment}

/** Segment-level gap closing (TrackMate SparseLAP's second phase):
  * optimality vs brute force, the planted-occlusion rejoin NN linking
  * misses, the frame-window and distance gates, per-video isolation,
  * and the composed frameToFrame -> labels -> closeGaps chain. */
class LapGapCloseSpec extends SparkSpec {
  import spark.implicits._

  private def toDf(spots: Seq[(Long, Long, Double, Double)]) =
    spots.toDF("id", "frame", "x", "y")

  /** NN gap-1 linking + per-video labels, the usual fragmenting
    * front end for the gap-close pass. */
  private def labelsOf(spots: Seq[(Long, Long, Double, Double)],
                       maxDist: Double = 10.0) = {
    val df = toDf(spots)
    val edges = SpotLink.nearest(df, col("id"), col("frame"), col("x"), col("y"),
      maxDist, gapFrames = 1)
    TrackAssignment.divisionAwareByVideo(df.select("id", "frame"),
      edges.select("src", "dst"), _ / 1000000L)
  }

  test("planted occlusion: a gap NN-with-gap-1 splits is rejoined") {
    // one walker, frames 0-9, frames 4 and 5 missing (occlusion of 2):
    // gap-1 linking leaves two segments; gapClose(maxGap=3) rejoins
    val spots = (0 to 9).filterNot(f => f == 4 || f == 5)
      .map(f => (100L + f, f.toLong, f * 2.0, 5.0))
    val labels = labelsOf(spots)
    assert(labels.select("track_id").distinct().count() === 2L)
    val links = LapLink.gapClose(toDf(spots), labels,
        col("id"), col("frame"), col("x"), col("y"),
        maxDist = 10.0, maxGap = 3, _ / 1000000L)
      .select("src", "dst", "gap").as[(Long, Long, Long)].collect()
    assert(links.toSeq === Seq((103L, 106L, 3L)))
    val closed = LapLink.closeGaps(toDf(spots), labels,
        col("id"), col("frame"), col("x"), col("y"),
        maxDist = 10.0, maxGap = 3, _ / 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(closed.values.toSet === Set(100L), s"not one track: $closed")
  }

  test("frame-window and distance gates hold") {
    // two fragments 5 frames apart: maxGap 3 must NOT join them;
    // two fragments 2 frames apart but 50 px away: distance gate cuts
    val farTime = Seq((1L, 0L, 0.0, 0.0), (2L, 1L, 2.0, 0.0),
      (3L, 6L, 4.0, 0.0), (4L, 7L, 6.0, 0.0))
    val lt = labelsOf(farTime)
    val g1 = LapLink.gapClose(toDf(farTime), lt,
      col("id"), col("frame"), col("x"), col("y"), 10.0, 3, _ / 1000000L)
    assert(g1.count() === 0L)
    val farSpace = Seq((1L, 0L, 0.0, 0.0), (2L, 1L, 2.0, 0.0),
      (3L, 3L, 60.0, 0.0), (4L, 4L, 62.0, 0.0))
    val ls = labelsOf(farSpace)
    val g2 = LapLink.gapClose(toDf(farSpace), ls,
      col("id"), col("frame"), col("x"), col("y"), 10.0, 3, _ / 1000000L)
    assert(g2.count() === 0L)
  }

  test("per-video isolation: identical geometry never links across videos") {
    // same coordinates in videos 0 and 1 (ids encode video as id/1e6);
    // video 0 holds the first fragment, video 1 the second — nothing
    // within a video is joinable, so no links at all
    val spots = Seq(
      (1L, 0L, 0.0, 0.0), (2L, 1L, 2.0, 0.0),
      (1000003L, 3L, 4.0, 0.0), (1000004L, 4L, 6.0, 0.0))
    val labels = labelsOf(spots)
    val links = LapLink.gapClose(toDf(spots), labels,
      col("id"), col("frame"), col("x"), col("y"), 10.0, 3, _ / 1000000L)
    assert(links.count() === 0L)
  }

  /** Brute-force optimum over all matchings of gated (end, start)
    * pairs: maximise Σ (2L - d2) — the operator's declared objective. */
  private def bruteBest(segs: Seq[(Long, Long, Double, Double, Long, Double, Double)],
                        maxD2: Double, maxGap: Int): Double = {
    // seg: (track, endFrame, ex, ey, startFrame(of NEXT candidacy)...)
    // simpler: recompute gated edges here from (track, sframe,sx,sy,eframe,ex,ey)
    val edges = for {
      (pt, pef, pex, pey, _, _, _) <- segs
      (ct, _, _, _, csf, csx, csy) <- segs
      df = csf - pef
      if df >= 1 && df <= maxGap
      d2 = (csx - pex) * (csx - pex) + (csy - pey) * (csy - pey)
      if d2 <= maxD2
    } yield (pt, ct, d2)
    val es = edges.toArray
    def rec(i: Int, usedP: Set[Long], usedC: Set[Long]): Double =
      if (i >= es.length) 0.0
      else {
        val (p, c, d2) = es(i)
        val skip = rec(i + 1, usedP, usedC)
        if (usedP(p) || usedC(c)) skip
        else math.max(skip, 2.0 * maxD2 - d2 + rec(i + 1, usedP + p, usedC + c))
      }
    rec(0, Set.empty, Set.empty)
  }

  test("matching is optimal vs brute force on random small instances") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 20) {
      // up to 7 short fragments in one video, random geometry
      val segs = (0 until (3 + rnd.nextInt(5))).map { k =>
        val f0 = rnd.nextInt(12).toLong
        val x0 = rnd.nextDouble() * 20.0
        val y0 = rnd.nextDouble() * 20.0
        (k, f0, x0, y0)
      }
      val spots = segs.flatMap { case (k, f0, x0, y0) =>
        Seq((k * 10L + 1L, f0, x0, y0), (k * 10L + 2L, f0 + 1L, x0 + 0.5, y0))
      }
      val df = toDf(spots)
      // segments as labeled fragments: each pair (k*10+1, k*10+2) is
      // its own track via gap-1 NN (0.5 apart, others >= random)
      val labels = spots.map(s => (s._1, (s._1 / 10L) * 10L + 1L))
        .toDF("id", "track_id")
      val maxD2 = 36.0
      val got = LapLink.gapClose(df, labels,
          col("id"), col("frame"), col("x"), col("y"),
          maxDist = 6.0, maxGap = 3, _ / 1000000L)
        .select("src", "dst").as[(Long, Long)].collect()
      // weight from EXACT coordinates (the emitted dist is rounded to
      // 4 decimals for display; optimality is about the true d²)
      val pos = spots.map(s => s._1 -> (s._3, s._4)).toMap
      val gotWeight = got.map { case (a, b) =>
        val d2 = (pos(b)._1 - pos(a)._1) * (pos(b)._1 - pos(a)._1) +
          (pos(b)._2 - pos(a)._2) * (pos(b)._2 - pos(a)._2)
        2.0 * maxD2 - d2
      }.sum
      val segTuples = segs.map { case (k, f0, x0, y0) =>
        (k * 10L + 1L, f0 + 1L, x0 + 0.5, y0, f0, x0, y0)
      }
      val best = bruteBest(segTuples, maxD2, 3)
      assert(math.abs(gotWeight - best) < 1e-6,
        s"trial $trial: got $gotWeight, brute $best")
    }
  }

  test("closeGaps merges chains of >2 fragments to the min track id") {
    // three fragments of one walker, two occlusions
    val spots = (0 to 14).filterNot(f => Seq(4, 5, 9, 10).contains(f))
      .map(f => (200L + f, f.toLong, f * 1.5, 0.0))
    val labels = labelsOf(spots)
    assert(labels.select("track_id").distinct().count() === 3L)
    val closed = LapLink.closeGaps(toDf(spots), labels,
        col("id"), col("frame"), col("x"), col("y"),
        maxDist = 10.0, maxGap = 3, _ / 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(closed.values.toSet === Set(200L), s"not one track: $closed")
  }

  test("fused divisionAwareGapClosedByVideo equals the staged chain") {
    // random fragmented walks across two videos: the one-cogroup fused
    // operator must reproduce the staged labels -> gapClose -> relabel
    // composition exactly
    val rnd = new scala.util.Random(17)
    val spots = for {
      v <- 0 until 2
      w <- 0 until 5
      f <- 0 until 20
      if rnd.nextDouble() >= 0.2 // dropouts create gaps to close
    } yield (v * 1000000L + w * 1000L + f, f.toLong,
      (w % 5) * 30.0 + f * 1.1 + rnd.nextDouble() * 0.5,
      // videos far apart in y: per-video operators REQUIRE video-local
      // edges (true of tracking data by construction), so the NN front
      // end must never link across videos
      v * 50.0 + rnd.nextDouble() * 0.5)
    // a hand-built third video where the p90 conditioning decides a
    // link: 22 walkers each leave one cheap end->start candidate (frame
    // 5 missing, d² = 2.2² = 4.84), and one far pair (d² = 7² = 49)
    // sits inside the gate (8² = 64). Unconditioned, the alternative is
    // the gate and the far pair links (49 < 2·64); at 1.05 × p90 of the
    // kept costs the alternative is ~5.1 and leaving both ends unlinked
    // is cheaper (2·5.1 < 49). It needs >= 19 cheap candidates for the
    // p90 to land below the outlier.
    val planted = 2000000L
    val walkers = for {
      w <- 0 until 22
      f <- 0 until 10
      if f != 5
    } yield (planted + w * 1000L + f, f.toLong, w * 30.0 + f * 1.1, 100.0)
    val farEnd = planted + 22004L
    val farStart = planted + 23006L
    val far = (0 to 4).map(f => (planted + 22000L + f, f.toLong, 660.0 + f * 1.1, 100.0)) ++
      (6 to 9).map(f => (planted + 23000L + f, f.toLong, 671.4 + (f - 6) * 1.1, 100.0))
    val conditioned = 1.05 * LapLink.percentileTM(Array.fill(22)(4.84) :+ 49.0, 0.9)
    assert(2 * conditioned < 49.0, s"the far pair survives conditioning: alternative $conditioned")
    // a deterministic stand-in feature for the penalty map
    val df = toDf(spots ++ walkers ++ far)
      .withColumn("area", pmod(col("id"), lit(13L)).cast("double") + 5.0)
    val edges = SpotLink.nearest(df, col("id"), col("frame"), col("x"), col("y"),
      maxDist = 8.0, gapFrames = 1)
    val before = TrackAssignment.divisionAwareByVideo(df.select("id", "frame"),
      edges.select("src", "dst"), _ / 1000000L)
      .select("track_id").distinct().count()
    // the engine defaults, then the keys every reference template runs:
    // ALTERNATIVE_LINKING_COST_FACTOR 1.05, CUTOFF_PERCENTILE 0.9 and a
    // GAP_CLOSING_FEATURE_PENALTIES map
    val keySets = Seq(
      (None, 0.9, Nil),
      (Some(1.05), 0.9, Seq(col("area") -> 1.0)),
      (Some(1.05), 0.9, Nil))
    val results = for ((alt, pct, pens) <- keySets) yield {
      val staged = {
        val labels = TrackAssignment.divisionAwareByVideo(df.select("id", "frame"),
          edges.select("src", "dst"), _ / 1000000L)
        LapLink.closeGaps(df, labels, col("id"), col("frame"), col("x"), col("y"),
            maxDist = 8.0, maxGap = 4, _ / 1000000L, alt, pct, pens)
          .as[(Long, Long)].collect().toMap
      }
      val fused = TrackAssignment.divisionAwareGapClosedByVideo(df,
          edges.select("src", "dst"), maxDist = 8.0, maxGap = 4, _ / 1000000L,
          alt, pct, pens)
        .as[(Long, Long)].collect().toMap
      assert(fused === staged, s"keys ($alt, $pct, $pens)")
      // the fixture is non-trivial: some gaps actually closed
      val after = fused.values.toSet.size
      assert(after < before, s"no gaps closed under ($alt, $pct, $pens): $after vs $before")
      fused
    }
    // the keys bite on this fixture: they change which gaps close
    assert(results.distinct.size === keySets.size)
    // the conditioning alone rejects the planted far pair, and only it
    val (unconditioned, p90) = (results(0), results(2))
    assert(unconditioned(farEnd) === unconditioned(farStart))
    assert(p90(farEnd) !== p90(farStart))
    (0 until 22).foreach { w =>
      assert(p90(planted + w * 1000L + 4) === p90(planted + w * 1000L + 6), s"walker $w")
    }
  }

  test("fused nearestTracksByVideo equals SpotLink.nearest -> divisionAwareByVideo") {
    val rnd = new scala.util.Random(29)
    val spots = for {
      v <- 0 until 2
      w <- 0 until 5
      f <- 0 until 20
      if rnd.nextDouble() >= 0.2
    } yield (v * 1000000L + w * 1000L + f, v * 100000L + f.toLong,
      (w % 5) * 30.0 + f * 1.1 + rnd.nextDouble() * 0.5,
      rnd.nextDouble() * 0.5)
    val df = toDf(spots)
    val staged = {
      val edges = SpotLink.nearest(df, col("id"), col("frame"),
        col("x"), col("y"), maxDist = 8.0, gapFrames = 2)
      TrackAssignment.divisionAwareByVideo(df.select("id", "frame"),
          edges.select("src", "dst"), _ / 1000000L)
        .as[(Long, Long)].collect().toMap
    }
    val fused = TrackAssignment.nearestTracksByVideo(df,
        maxDist = 8.0, gapFrames = 2, _ / 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(fused === staged)
    assert(fused.nonEmpty)
  }

  test("composed frameToFrame -> labels -> closeGaps chain stays green") {
    // two walkers with one occlusion each; LAP front end (1-1 edges)
    val rnd = new scala.util.Random(5)
    val spots = for {
      w <- 0 until 2
      f <- 0 until 12
      if !(w == 0 && (f == 5 || f == 6)) && !(w == 1 && f == 8)
    } yield ((w * 100 + f).toLong, f.toLong,
      w * 50.0 + f * 1.2 + rnd.nextDouble() * 0.1, 3.0)
    val df = toDf(spots)
    val edges = LapLink.frameToFrame(df, col("id"), col("frame"),
      col("x"), col("y"), maxDist = 5.0)
    val labels = TrackAssignment.divisionAwareByVideo(df.select("id", "frame"),
      edges.select("src", "dst"), _ / 1000000L)
    val nTracksBefore = labels.select("track_id").distinct().count()
    assert(nTracksBefore === 4L) // each walker fragmented once
    val closed = LapLink.closeGaps(df, labels,
        col("id"), col("frame"), col("x"), col("y"),
        maxDist = 5.0, maxGap = 3, _ / 1000000L)
      .as[(Long, Long)].collect()
    val byTrack = closed.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byTrack.size === 2, s"expected 2 tracks: $byTrack")
    // each final track is exactly one walker's spots
    assert(byTrack.values.toSet ===
      Set(spots.filter(_._1 < 100).map(_._1).toSet,
          spots.filter(_._1 >= 100).map(_._1).toSet))
  }
}
