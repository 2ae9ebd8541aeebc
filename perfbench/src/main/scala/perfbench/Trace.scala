package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans and Spark job accounting for the traced run.
  *
  * Every operation gets a root span; the harness opens one child span
  * around each call it makes into a layer (`lakesql`, `planner`, `exec`,
  * `sources`, `operators`). Spark jobs attach to the operation through
  * the job group the harness sets to the operation id; jobs in no known
  * group are counted as unattributed. Everything stays in memory until
  * the run ends.
  */
final case class Span(layer: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Per-job record, filled from the listener bus (its own thread). */
final class JobRec(val group: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var busyMs = 0.0
  var waitMs = 0.0
  var inputBytes = 0L
  var shuffleBytes = 0L
}

final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  @volatile var lastEventNs: Long = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = new JobRec(group, e.time.toDouble)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      touch()
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      val dur = e.taskInfo.duration.toDouble
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.waitMs += math.max(0.0, dur - m.executorRunTime)
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      } else j.waitMs += dur
    }
  }

  /** Block until every started job has ended and the bus has been quiet
    * for a moment, so the end-of-run figures see every event.
    */
  def drain(maxWaitMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    def settled = synchronized(jobs.values.forall(!_.endMs.isNaN)) &&
      System.nanoTime() - lastEventNs > 300000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def jobsOf(group: String): Seq[JobRec] =
    synchronized(jobs.values.filter(_.group == group).toSeq)

  /** Jobs started inside `window` (epoch ms) outside every known group. */
  def unattributed(known: String => Boolean, window: (Double, Double)): Int =
    synchronized(jobs.values.count(j =>
      !known(j.group) && j.startMs >= window._1 && j.startMs <= window._2))
}

object Trace {

  /** Length of the union of `[s, e)` intervals, clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
