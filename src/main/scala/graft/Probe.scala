package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftBridge

/** Per-query measurement probe for optimization work: times each
  * named registry query through the bench's noop sink and reports
  * job count, stage count and shuffle bytes (read+written) per run —
  * the attribution evidence OPTIMIZATION_r17.md cites. Bench-matching
  * session shape. Run:
  *   sbt "runMain graft.Probe <q1,q2,...> [reps]"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Harness.warmUp(spark, sfDir)

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var shufRead = 0L
    @volatile var shufWrite = 0L
    val stageDump = sys.env.contains("SPARK_GRAFT_STAGES")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          shufRead += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          shufWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          if (stageDump) {
            val i = s.stageInfo
            val dur = (for {a <- i.completionTime; b <- i.submissionTime}
              yield a - b).getOrElse(-1L)
            val cpu = i.taskMetrics.executorRunTime
            println(f"  STAGE ${i.stageId}%4d dur=${dur}%6dms " +
              f"taskTime=${cpu}%7dms tasks=${i.numTasks}%3d " +
              i.name.takeWhile(_ != '(').take(40) + " " +
              i.details.linesIterator.find(l =>
                l.contains("graft") && !l.contains("Probe"))
                .getOrElse("").trim.take(80))
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        // drain before the reset and before the read, so every count
        // belongs to this run and no late event lands in the next
        GraftBridge.drainListeners(spark)
        jobs = 0; stages = 0; shufRead = 0L; shufWrite = 0L
        val dt = Harness.noopTime(spark, name)(fn(spark, sfDir))
        GraftBridge.drainListeners(spark)
        println(f"PROBE $name%-24s rep=$r dt=$dt%7.2fs jobs=$jobs%4d " +
          f"stages=$stages%4d shufR=${shufRead / 1024}%8dKiB " +
          f"shufW=${shufWrite / 1024}%8dKiB")
      }
    }
    spark.stop()
  }
}
