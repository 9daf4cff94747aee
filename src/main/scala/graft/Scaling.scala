package graft

/** Scaling sweep: run the FULL registry at two scale factors in one
  * clean session and record per-query `t(big)/t(small)` ratios, so a
  * superlinear operator — a candidate-volume blowup whose cost grows
  * faster than its input — is caught by MEASUREMENT, not by reading
  * plans. The two runs of each query are timed back-to-back (small
  * then big, best-of-2 each, same protocol as [[Bench]]) so a
  * time-varying load on the shared box distorts both endpoints of a
  * ratio equally instead of one side.
  *
  * Interpreting ratios: at these scale factors most queries are
  * dominated by constant per-query costs (planning, stage launch,
  * codegen), so healthy ratios sit well BELOW the data ratio; the
  * signal is a ratio far ABOVE it. The artifact records the actual
  * per-table row ratios (the tables do not all scale alike —
  * documents 10x, embeddings 4x between sf0.01 and sf0.1) so each
  * query is judged against the growth of the tables it reads.
  *
  * Output: one JSON artifact at the required path argument with
  * per-query {small, big, ratio}, per-table row counts, and the same
  * first/last calibration pair as [[Bench]]. Run:
  *   sbt "runMain graft.Scaling <out.json>"
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Scaling <out.json>")
      sys.exit(2)
    }
    val outPath = args(0)
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Harness.session(cpus)
    val tables = Seq("lineitem", "orders", "customer", "part",
      "supplier", "events", "documents", "embeddings")
    val counts = Seq(smallDir, bigDir).map { d =>
      d -> tables.map(t => t -> Tables.load(spark, d, t).count()).toMap
    }.toMap
    Seq(smallDir, bigDir).foreach(Harness.warmUp(spark, _))

    // the ONE shared probe kernel (graft.Calibration) — Bench and
    // Scaling cal series must stay cross-comparable
    def cal(): Double = Calibration.timed(spark, cpus)
    Calibration.probe(spark, cpus) // warm the calibration plan
    val calFirst = cal()

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val ts = Harness.bestOf2(spark, s"$name $smallDir")(fn(spark, smallDir))
        val tb = Harness.bestOf2(spark, s"$name $bigDir")(fn(spark, bigDir))
        val ratio = if (ts > 0 && tb > 0) tb / ts else -1.0
        System.err.println(f"SCALING $name%-24s small=$ts%6.2f big=$tb%6.2f ratio=$ratio%6.2f")
        (name, ts, tb, ratio)
      }
    val calLast = cal()

    def j(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val sb = new StringBuilder
    sb.append("{\n")
    sb.append(s"""  "small": "$smallDir", "big": "$bigDir", "cpus": $cpus,\n""")
    sb.append(s"""  "protocol": "best-of-2 per query per sf, small/big back-to-back, noop sink",\n""")
    sb.append(s"""  "cal_first": ${j(calFirst)}, "cal_last": ${j(calLast)},\n""")
    sb.append("  \"table_rows\": {\n")
    sb.append(tables.map { t =>
      val s = counts(smallDir)(t); val b = counts(bigDir)(t)
      s"""    "$t": {"small": $s, "big": $b, "ratio": ${j(b.toDouble / s)}}"""
    }.mkString(",\n"))
    sb.append("\n  },\n")
    sb.append("  \"queries\": {\n")
    sb.append(rows.map { case (n, ts, tb, r) =>
      s"""    "$n": {"small": ${j(ts)}, "big": ${j(tb)}, "ratio": ${j(r)}}"""
    }.mkString(",\n"))
    sb.append("\n  }\n}\n")
    val w = new java.io.PrintWriter(outPath)
    try w.write(sb.toString) finally w.close()
    println(s"wrote $outPath (${rows.length} queries)")
    spark.stop()
  }
}
