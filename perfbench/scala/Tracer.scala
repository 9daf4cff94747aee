package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** In-memory spans plus a `SparkListener` that attributes every job,
  * task, executor run time and shuffle byte to the span that launched
  * it. A span sets the job group of the calling thread to its own id;
  * a job launched on a thread without that group (a library-internal
  * pool thread) is attributed to the innermost span whose interval
  * holds the job's submission time — the benchmark is a single closed
  * loop, so at most one layer span is open at any instant. */
final class Tracer(sc: SparkContext, runId: Int) extends SparkListener {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  // listener-thread state, read only after BusDrain
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageJob = mutable.Map[Int, Int]()
  var totalTaskMs = 0L

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s.id :: open
    sc.setJobGroup(s"span-${s.id}", name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-"))
    jobs(e.jobId) = new JobStats(g, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val run = m.map(_.executorRunTime).getOrElse(0L)
    totalTaskMs += run
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.runMs += run
      if (e.reason != org.apache.spark.Success) j.failed += 1
      m.foreach { tm =>
        j.shuffleBytes += tm.shuffleReadMetrics.totalBytesRead +
          tm.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private def spanOf(j: JobStats): Option[Span] =
    j.group.map(g => spans(g.stripPrefix("span-").toInt)).orElse(
      spans.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
        .sortBy(s => -s.startNs).headOption)

  /** Per layer name: (wall_s, jobs, tasks, task_s, shuffle_mb), plus
    * the count of failed tasks over the whole run. */
  def layers(): (Map[String, Array[Double]], Long) = synchronized {
    val out = mutable.Map[String, Array[Double]]()
    spans.foreach { s =>
      out.getOrElseUpdate(s.name, new Array[Double](5))(0) += s.seconds
    }
    var failed = 0L
    jobs.valuesIterator.foreach { j =>
      failed += j.failed
      spanOf(j).foreach { s =>
        val a = out(s.name)
        a(1) += 1
        a(2) += j.tasks
        a(3) += j.runMs / 1e3
        a(4) += j.shuffleBytes / 1e6
      }
    }
    (out.toMap, failed)
  }

  /** Self time of each span: its duration minus the union of the
    * intervals its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def spansJson(): String = spans.map { s =>
    f"""{"name": "${s.name}", "id": ${s.id}, "parent": ${s.parent}, "run": $runId, """ +
      f""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int,
                        startNs: Long, startMs: Long,
                        var endNs: Long = 0L, var endMs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final class JobStats(val group: Option[String], val submitMs: Long) {
    var tasks = 0L
    var failed = 0L
    var runMs = 0L
    var shuffleBytes = 0L
  }
}
