package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named registry queries into
  * per-query files — the plan evidence for optimization rounds
  * (plans/rNN/<query>_{before,after}.txt). Bench-matching session
  * shape (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus, AQE
  * on) so the captured plan is the one the bench times.
  * Run: sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.write.mode("overwrite").format("noop").save()
      val executed = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        s"== explain(formatted) ==\n$formatted\n" +
          s"== executed plan (AQE final) ==\n$executed")
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
