package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Jobs launched while a block runs. The listener bus is drained before
  * the listener joins (no earlier job leaks in) and again before the
  * count is read (every job of the block is in). */
object JobCount {
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftBridge.drainListeners(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
