package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** One completed stage, as the traced run sees it. */
final case class StageRec(id: Int, job: Int, execDesc: String,
                          runS: Double, gcS: Double,
                          shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                          shuffleReadBytes: Long, spillBytes: Long,
                          taskRunMs: IndexedSeq[Long]) {
  def nTasks: Int = taskRunMs.length
  /** Longest task over the median task (1 when the stage has one task). */
  def skew: Double =
    if (taskRunMs.isEmpty) 1.0
    else taskRunMs.max.toDouble / math.max(1.0, Stats.median(taskRunMs.map(_.toDouble)))
}

final case class JobRec(id: Int, exec: Long, startMs: Long, var endMs: Long)

/** The spans of one timed call: the jobs started inside its wall-clock
  * window and the stages those jobs ran.
  */
final case class Window(wallS: Double, jobs: Seq[JobRec], stages: Seq[StageRec]) {
  def taskS: Double = stages.map(_.runS).sum
  def gcS: Double = stages.map(_.gcS).sum
  def nTasks: Int = stages.map(_.nTasks).sum
  def shuffleBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def shuffleRecords: Long = stages.map(_.shuffleWriteRecords).sum
  def spillBytes: Long = stages.map(_.spillBytes).sum

  /** Wall time that no job covers: planning, listing, collects, commits. */
  def driverS: Double = {
    val iv = jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallS - covered / 1e3)
  }
  def busyShare(cores: Int): Double = taskS / (wallS * cores)

  /** Skew of the reduce stage (one that reads a shuffle) with the most task time. */
  def reduceSkew: Double = {
    val r = stages.filter(_.shuffleReadBytes > 0)
    if (r.isEmpty) 1.0 else r.maxBy(_.runS).skew
  }
}

/** SparkListener registered by the traced run only. It keeps jobs,
  * stages and per-task run times in memory; [[window]] reads them back
  * for one timed call. Each job is tied to the SQL execution it belongs
  * to, so a stage can be named by that execution's call site.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private val execDesc = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskMs = new ConcurrentHashMap[Int, java.util.Vector[Long]]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()

  spark.sparkContext.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execDesc.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(j.jobId, JobRec(j.jobId, exec, j.time, j.time))
    j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null)
      taskMs.computeIfAbsent(t.stageId, _ => new java.util.Vector[Long]())
        .add(t.taskMetrics.executorRunTime)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      val job = stageJob.getOrDefault(i.stageId, -1)
      val exec = Option(jobs.get(job)).map(_.exec).getOrElse(-1L)
      val tasks = Option(taskMs.get(i.stageId)).map(_.asScala.toIndexedSeq).getOrElse(IndexedSeq.empty)
      stages.put(i.stageId, StageRec(i.stageId, job, execDesc.getOrDefault(exec, ""),
        m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, tasks))
    }
  }

  /** Everything started in [t0Ms, t1Ms], once the bus has delivered it. */
  def window(t0Ms: Long, t1Ms: Long): Window = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val js = jobs.values.asScala.filter(j => j.startMs >= t0Ms && j.startMs <= t1Ms).toSeq
    val ids = js.map(_.id).toSet
    val ss = stages.values.asScala.filter(s => ids.contains(s.job)).toSeq.sortBy(_.id)
    Window((t1Ms - t0Ms) / 1e3, js.sortBy(_.id), ss)
  }
}

object Trace {
  /** A timed call: its value, its window in epoch milliseconds (the
    * listener's clock) and its duration in seconds (monotonic clock).
    */
  final case class Timed[A](value: A, t0Ms: Long, t1Ms: Long, s: Double)

  def timed[A](f: => A): Timed[A] = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val a = f
    Timed(a, t0, System.currentTimeMillis(), Stats.secondsSince(n0))
  }
}
