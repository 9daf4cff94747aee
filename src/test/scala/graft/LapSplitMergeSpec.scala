package graft

import org.apache.spark.sql.functions._
import graft.operators.{LapLink, SpotLink, TrackAssignment}

/** Split/merge-aware second-phase LAP (gapCloseFull): planted split
  * and merge detection, parity with the gap-only pass when the extra
  * blocks are disabled, and brute-force optimality over the mixed
  * candidate graph. */
class LapSplitMergeSpec extends SparkSpec {
  import spark.implicits._

  private def toDf(spots: Seq[(Long, Long, Double, Double)]) =
    spots.toDF("id", "frame", "x", "y")

  private def labelsOf(spots: Seq[(Long, Long, Double, Double)],
                       maxDist: Double = 10.0) = {
    val df = toDf(spots)
    val edges = SpotLink.nearest(df, col("id"), col("frame"), col("x"), col("y"),
      maxDist, gapFrames = 1)
    TrackAssignment.divisionAwareByVideo(df.select("id", "frame"),
      edges.select("src", "dst"), _ / 1000000L)
  }

  test("planted split: a daughter's start links to the mother's middle") {
    // mother A walks x=2f at y=0 (frames 0-8); daughter B starts at
    // frame 4 right next to A's frame-3 spot, then veers off in y.
    // B's start is nowhere near any segment END, so the gap-only pass
    // finds nothing; the split block finds middle(A,f=3) -> start(B).
    val a = (0 to 8).map(f => (100L + f, f.toLong, f * 2.0, 0.0))
    val b = (4 to 8).map(f => (200L + f, f.toLong, 6.0 + (f - 4) * 0.3,
      1.5 + (f - 4) * 3.0))
    val spots = a ++ b
    val labels = labelsOf(spots, maxDist = 4.0)
    assert(labels.select("track_id").distinct().count() === 2L)
    val plain = LapLink.gapClose(toDf(spots), labels,
      col("id"), col("frame"), col("x"), col("y"), 4.0, 3, _ / 1000000L)
    assert(plain.count() === 0L)
    val full = LapLink.gapCloseFull(toDf(spots), labels,
        col("id"), col("frame"), col("x"), col("y"), 4.0, 3, _ / 1000000L)
      .select("src", "dst", "kind").as[(Long, Long, String)].collect()
    assert(full.toSet === Set((103L, 204L, "split")), s"got ${full.toSeq}")
  }

  test("planted merge: a dying segment's end links to another track's middle") {
    // B walks x=2f at y=0 (frames 0-10); A walks toward B and ends at
    // frame 4 a distance 3 from B's frame-5 spot — close enough to
    // merge, but farther from B5 than B4 is (d=2), so the NN front end
    // does NOT steal B's tail. A's end can reach no segment START
    // (B started at frame 0), so gap-only finds nothing; the merge
    // block finds end(A,f=4) -> middle(B,f=5).
    val b = (0 to 10).map(f => (100L + f, f.toLong, f * 2.0, 0.0))
    val a = (0 to 4).map(f => (200L + f, f.toLong, 10.0, 8.0 - f * 1.25))
    val spots = a ++ b
    val labels = labelsOf(spots, maxDist = 4.0)
    assert(labels.select("track_id").distinct().count() === 2L)
    val plain = LapLink.gapClose(toDf(spots), labels,
      col("id"), col("frame"), col("x"), col("y"), 4.0, 3, _ / 1000000L)
    assert(plain.count() === 0L)
    val full = LapLink.gapCloseFull(toDf(spots), labels,
        col("id"), col("frame"), col("x"), col("y"), 4.0, 3, _ / 1000000L)
      .select("src", "dst", "kind").as[(Long, Long, String)].collect()
    assert(full.toSet === Set((204L, 105L, "merge")), s"got ${full.toSeq}")
  }

  test("per-block gates: SPLITTING/MERGING_MAX_DISTANCE tighter than the gap gate") {
    // the planted split from above sits at distance ~1.58 from the
    // mother's middle; a splitDist below that drops it while the
    // gap-close gate (4.0) is untouched
    val a = (0 to 8).map(f => (100L + f, f.toLong, f * 2.0, 0.0))
    val b = (4 to 8).map(f => (200L + f, f.toLong, 6.0 + (f - 4) * 0.3,
      1.5 + (f - 4) * 3.0))
    val spots = a ++ b
    val labels = labelsOf(spots, maxDist = 4.0)
    val tight = LapLink.gapCloseFull(toDf(spots), labels,
        col("id"), col("frame"), col("x"), col("y"), 4.0, 3, _ / 1000000L,
        splitDist = Some(1.0))
      .select("kind").as[String].collect()
    assert(!tight.contains("split"), "split candidate must fail its own gate")
    val loose = LapLink.gapCloseFull(toDf(spots), labels,
        col("id"), col("frame"), col("x"), col("y"), 4.0, 3, _ / 1000000L,
        splitDist = Some(2.0))
      .select("src", "dst", "kind").as[(Long, Long, String)].collect()
    assert(loose.toSet === Set((103L, 204L, "split")))
    // merge twin: the planted merge sits at distance 3 from B's middle
    val b2 = (0 to 10).map(f => (100L + f, f.toLong, f * 2.0, 0.0))
    val a2 = (0 to 4).map(f => (200L + f, f.toLong, 10.0, 8.0 - f * 1.25))
    val spots2 = a2 ++ b2
    val labels2 = labelsOf(spots2, maxDist = 4.0)
    val tight2 = LapLink.gapCloseFull(toDf(spots2), labels2,
        col("id"), col("frame"), col("x"), col("y"), 4.0, 3, _ / 1000000L,
        mergeDist = Some(2.5))
      .select("kind").as[String].collect()
    assert(!tight2.contains("merge"), "merge candidate must fail its own gate")
  }

  test("blocks disabled: gapCloseFull equals gapClose on random instances") {
    val rnd = new scala.util.Random(23)
    for (_ <- 0 until 10) {
      val spots = (0 until 6).flatMap { k =>
        val f0 = rnd.nextInt(10).toLong
        val x0 = rnd.nextDouble() * 25.0
        val y0 = rnd.nextDouble() * 25.0
        (0 to 1 + rnd.nextInt(3)).map(i =>
          (k * 100L + i, f0 + i, x0 + i * 0.4, y0))
      }
      val labels = spots.map(s => (s._1, (s._1 / 100L) * 100L)).toDF("id", "track_id")
      val df = toDf(spots)
      val plain = LapLink.gapClose(df, labels,
          col("id"), col("frame"), col("x"), col("y"), 6.0, 3, _ / 1000000L)
        .select("src", "dst", "gap", "dist").as[(Long, Long, Long, Double)]
        .collect().toSet
      val full = LapLink.gapCloseFull(df, labels,
          col("id"), col("frame"), col("x"), col("y"), 6.0, 3, _ / 1000000L,
          allowSplit = false, allowMerge = false)
        .select("src", "dst", "gap", "dist").as[(Long, Long, Long, Double)]
        .collect().toSet
      assert(full === plain)
    }
    // a tied-cost instance: two one-spot ends at (0,0) and (2,2), two
    // one-spot starts a frame later at (2,0) and (0,2) — every
    // end->start pair sits at d² = 4, so both matchings cost the same
    // and the solver's index order decides. gapClose must decide it as
    // gapCloseFull does (track order), however its input is partitioned.
    val tied = Seq((907L, 1L, 0.0, 0.0), (303L, 1L, 2.0, 2.0),
      (505L, 2L, 2.0, 0.0), (101L, 2L, 0.0, 2.0))
    val tiedLabels = tied.map(s => (s._1, s._1)).toDF("id", "track_id")
    def links(df: org.apache.spark.sql.DataFrame, full: Boolean) =
      (if (full) LapLink.gapCloseFull(df, tiedLabels,
          col("id"), col("frame"), col("x"), col("y"), 6.0, 3, _ / 1000000L,
          allowSplit = false, allowMerge = false)
        else LapLink.gapClose(df, tiedLabels,
          col("id"), col("frame"), col("x"), col("y"), 6.0, 3, _ / 1000000L))
        .select("src", "dst", "gap", "dist").as[(Long, Long, Long, Double)]
        .collect().toSet
    val ref = links(toDf(tied), full = true)
    assert(ref.size === 2)
    assert(links(toDf(tied).repartition(1), full = false) === ref)
    // the second partitioning also narrows the shuffle, as another core
    // count would; solving in shuffle arrival order breaks the tie the
    // other way here
    val confs = Seq("spark.sql.shuffle.partitions" -> "2",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(links(toDf(tied.reverse).repartition(3, col("id")), full = false) === ref)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("global optimality over the mixed candidate graph vs brute force") {
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 10) {
      val spots = (0 until 5).flatMap { k =>
        val f0 = rnd.nextInt(8).toLong
        val x0 = rnd.nextDouble() * 15.0
        val y0 = rnd.nextDouble() * 15.0
        (0 to 2).map(i => (k * 100L + i, f0 + i, x0 + i * 0.4, y0))
      }
      val labels = spots.map(s => (s._1, (s._1 / 100L) * 100L)).toDF("id", "track_id")
      val df = toDf(spots)
      val maxD2 = 25.0
      val got = LapLink.gapCloseFull(df, labels,
          col("id"), col("frame"), col("x"), col("y"), 5.0, 3, _ / 1000000L)
        .select("src", "dst").as[(Long, Long)].collect()
      val pos = spots.map(s => s._1 -> (s._3, s._4)).toMap
      val gotWeight = got.map { case (p, c) =>
        val d2 = (pos(c)._1 - pos(p)._1) * (pos(c)._1 - pos(p)._1) +
          (pos(c)._2 - pos(p)._2) * (pos(c)._2 - pos(p)._2)
        2.0 * maxD2 - d2
      }.sum
      // brute force: all gated (sourceOccurrence, targetOccurrence)
      // edges with the same block gates, max-weight matching
      val byTrack = spots.groupBy(_._1 / 100L)
      val startOf = byTrack.view.mapValues(_.minBy(s => (s._2, s._1))).toMap
      val endOf = byTrack.view.mapValues(_.maxBy(s => (s._2, -s._1))).toMap
      val parents = byTrack.keys.toSeq.sorted.map(t => ("e", endOf(t))) ++
        spots.filter(s => startOf(s._1 / 100L)._1 != s._1 &&
          endOf(s._1 / 100L)._1 != s._1).sortBy(_._1).map(("m", _))
      val children = byTrack.keys.toSeq.sorted.map(t => ("s", startOf(t))) ++
        spots.filter(s => startOf(s._1 / 100L)._1 != s._1 &&
          endOf(s._1 / 100L)._1 != s._1).sortBy(_._1).map(("m", _))
      val es = (for {
        (pk, p) <- parents
        (ck, c) <- children
        if p._1 / 100L != c._1 / 100L
        if !(pk == "m" && ck == "m") // middle->middle: no TrackMate block
        df2 = c._2 - p._2
        if (if (pk == "e" && ck == "s") df2 >= 1 && df2 <= 3 else df2 == 1)
        d2 = (c._3 - p._3) * (c._3 - p._3) + (c._4 - p._4) * (c._4 - p._4)
        if d2 <= maxD2
      } yield ((pk, p._1), (ck, c._1), d2)).toArray
      def rec(i: Int, uP: Set[(String, Long)], uC: Set[(String, Long)]): Double =
        if (i >= es.length) 0.0
        else {
          val (p, c, d2) = es(i)
          val skip = rec(i + 1, uP, uC)
          if (uP(p) || uC(c)) skip
          else math.max(skip, 2.0 * maxD2 - d2 + rec(i + 1, uP + p, uC + c))
        }
      val best = rec(0, Set.empty, Set.empty)
      assert(math.abs(gotWeight - best) < 1e-6,
        s"trial $trial: got $gotWeight, brute $best")
    }
  }

  test("global optimality with per-block feature penalties vs brute force") {
    // TrackMate's second-phase penalty formula, reimplemented
    // independently here: cost = d²·(1 + Σ 3·w·|Δf|/Σf)², each block
    // gated on the PENALIZED cost vs its own gate²
    def pen(d2: Double, fa: Double, fb: Double, w: Double): Double = {
      val s = fa + fb
      val p = if (s == 0.0) 0.0 else 3.0 * w * math.abs(fa - fb) / s
      d2 * (1.0 + p) * (1.0 + p)
    }
    val (wG, wS, wM) = (0.3, 0.7, 0.5)
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 10) {
      val spots = (0 until 5).flatMap { k =>
        val f0 = rnd.nextInt(8).toLong
        val x0 = rnd.nextDouble() * 15.0
        val y0 = rnd.nextDouble() * 15.0
        (0 to 2).map(i => (k * 100L + i, f0 + i, x0 + i * 0.4, y0,
          5.0 + rnd.nextDouble() * 10.0))
      }
      val labels = spots.map(s => (s._1, (s._1 / 100L) * 100L)).toDF("id", "track_id")
      val df = spots.toDF("id", "frame", "x", "y", "area")
      val maxD2 = 25.0
      val got = LapLink.gapCloseFull(df, labels,
          col("id"), col("frame"), col("x"), col("y"), 5.0, 3, _ / 1000000L,
          gapPenalties = Seq((col("area"), wG)),
          splitPenalties = Seq((col("area"), wS)),
          mergePenalties = Seq((col("area"), wM)))
        .select("src", "dst", "kind").as[(Long, Long, String)].collect()
      val info = spots.map(s => s._1 -> (s._3, s._4, s._5)).toMap
      def costOf(p: Long, c: Long, w: Double): Double = {
        val d2 = (info(c)._1 - info(p)._1) * (info(c)._1 - info(p)._1) +
          (info(c)._2 - info(p)._2) * (info(c)._2 - info(p)._2)
        pen(d2, info(p)._3, info(c)._3, w)
      }
      val gotWeight = got.map { case (p, c, k) =>
        val w = k match { case "gc" => wG; case "split" => wS; case _ => wM }
        2.0 * maxD2 - costOf(p, c, w)
      }.sum
      val byTrack = spots.groupBy(_._1 / 100L)
      val startOf = byTrack.view.mapValues(_.minBy(s => (s._2, s._1))).toMap
      val endOf = byTrack.view.mapValues(_.maxBy(s => (s._2, -s._1))).toMap
      val parents = byTrack.keys.toSeq.sorted.map(t => ("e", endOf(t))) ++
        spots.filter(s => startOf(s._1 / 100L)._1 != s._1 &&
          endOf(s._1 / 100L)._1 != s._1).sortBy(_._1).map(("m", _))
      val children = byTrack.keys.toSeq.sorted.map(t => ("s", startOf(t))) ++
        spots.filter(s => startOf(s._1 / 100L)._1 != s._1 &&
          endOf(s._1 / 100L)._1 != s._1).sortBy(_._1).map(("m", _))
      val es = (for {
        (pk, p) <- parents
        (ck, c) <- children
        if p._1 / 100L != c._1 / 100L
        if !(pk == "m" && ck == "m")
        df2 = c._2 - p._2
        if (if (pk == "e" && ck == "s") df2 >= 1 && df2 <= 3 else df2 == 1)
        w = if (pk == "e" && ck == "s") wG else if (pk == "e") wM else wS
        cost = costOf(p._1, c._1, w)
        if cost <= maxD2 // every block's gate is maxDist here
      } yield ((pk, p._1), (ck, c._1), cost)).toArray
      def rec(i: Int, uP: Set[(String, Long)], uC: Set[(String, Long)]): Double =
        if (i >= es.length) 0.0
        else {
          val (p, c, cost) = es(i)
          val skip = rec(i + 1, uP, uC)
          if (uP(p) || uC(c)) skip
          else math.max(skip, 2.0 * maxD2 - cost + rec(i + 1, uP + p, uC + c))
        }
      val best = rec(0, Set.empty, Set.empty)
      assert(math.abs(gotWeight - best) < 1e-6,
        s"trial $trial: got $gotWeight, brute $best")
    }
  }
}
